package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._
import graft.ops.FilterOps

/** Driver contract — one catalog query per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline extensions), each with its
  * DuckDB oracle.
  *
  * Conventions shared by query and oracle (the driver hash-compares values
  * after sorting columns by name):
  *  - every computed column aliased identically on both sides;
  *  - deterministic ORDER BY on both sides;
  *  - multi-row double aggregates rounded (2–4 dp) on both sides — the
  *    underlying float error is ~1e-12 relative, far below the rounding
  *    grain, so both engines land on the same rounded value;
  *  - timestamps exported as formatted strings (engine-native binary
  *    encodings differ);
  *  - DuckDB integer SUMs cast back to BIGINT (DuckDB widens to HUGEINT).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    FilterOps.filter(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
      Some("l_quantity > 30 and l_discount <= 0.05"),
      Some(Seq("l_orderkey", "l_quantity", "l_discount")))

  /** Every catalog query with its DuckDB oracle, one family per operator
    * module (`graft.catalog`). */
  lazy val specs: Seq[QuerySpec] = Seq(
    CoreQueries.specs,
    ProfileQueries.specs,
    TextQueries.specs,
    SamplingQueries.specs,
    DedupQueries.specs,
    VectorQueries.specs,
    GraphQueries.specs,
    StreamingQueries.specs,
    MultimodalQueries.specs,
    EventQueries.specs,
    StatTestQueries.specs,
    ExperimentQueries.specs,
    ModelQueries.specs).flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** DuckDB oracle SQL per query, over the same parquet tables the query
    * reads. */
  lazy val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
