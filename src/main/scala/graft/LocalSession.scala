package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the entry points (Bench, BenchScale, Verify,
  * Explain) and the test base: `local[cpus]` with as many shuffle
  * partitions, UTC session time, nanosecond parquet timestamps read as
  * longs, AQE on, no UI, WARN logging. */
object LocalSession {

  /** Core count: `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release everything a query left cached: CacheManager entries (the
    * materialize=false LSH bases) and the persistent RDDs, which hold the
    * checkpoint blocks of materialize=true results and graph-op labels
    * outside the CacheManager. Bench, BenchScale and Verify call it
    * between queries so nothing stays cached. */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
