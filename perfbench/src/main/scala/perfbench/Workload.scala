package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation. `run` is the timed region; it returns the files the
  * operation wrote (their bytes are counted) and a check that runs after the
  * clock stops and returns an error message when the output is wrong.
  * Cached and checkpointed blocks are dropped after the operation unless a
  * later operation still reads them (`release = false`). */
final case class Op(name: String, run: () => Done, release: Boolean = true)
final case class Done(written: Seq[String], check: () => Option[String])

/** A workload makes its inputs from the seed once per set-up, then yields
  * the same list of operations for every pass. `outDir` is a fresh
  * directory per pass for the files the operations write. Expected values
  * for the checks are computed inside the checks, so their cost stays out
  * of every timed region. */
trait Workload {
  def name: String
  /** Session starts per run; the median is part of `setup_s`. */
  def setups: Int = 3
  def prepare(spark: SparkSession, seed: Long, inDir: String): Unit
  def ops(spark: SparkSession, trace: Tracer, outDir: String): Seq[Op]
}

object Workload {
  /** The seed's random source. java.util.Random's first draws barely differ
    * between neighbouring seeds (seeds 401-410 all shuffled two queries the
    * same way), so the seed is spread over the word first. */
  def random(seed: Long): scala.util.Random = new scala.util.Random(seed * 0x9E3779B97F4A7C15L)

  /** Layers of the traced run, named after the modules they wrap. */
  val Layers: Seq[String] =
    Seq("catalog_build", "catalog_run", "ops", "profile", "frame", "io", "expr")

  def apply(name: String, seed: Long, dataDir: String): Workload = name match {
    case "parq_pipeline" => new ParqPipeline(seed, dataDir)
    case "catalog" => new Catalog(name, Catalog.Driver ++ Catalog.Compute, seed, dataDir)
    // all thirteen queries, for the classification table in README.md; one
    // set-up keeps the run under run.py's time limit
    case "catalog_all" => new Catalog(name, Catalog.All, seed, dataDir, setups = 1)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}
