package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, the Spark plan it builds from a
  * SparkSession and a source dir, and the DuckDB SQL that recomputes the
  * same rows from the source parquet tables. */
final case class QuerySpec(name: String,
    run: (SparkSession, String) => DataFrame, oracleSql: String)
