package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Catalog queries through `SparkEntry.queries(name)(spark, dir)` on the
  * fixed tables under `dataDir`. The seed fixes the order of the queries
  * within a pass. `catalog_build` is the call that returns the DataFrame
  * (eager jobs inside the query's construction run here); `catalog_run`
  * materializes the result on the driver. The check compares the result's
  * fingerprint with the DuckDB reference in `reference/`. */
final class Catalog(val name: String, queries: Seq[String], seed: Long, dataDir: String,
    override val setups: Int = 3) extends Workload {

  private lazy val refs: Map[String, Fingerprint] = Catalog.references(dataDir)

  private var in: String = _

  /** The tables are fixed; each set-up copies them to a fresh directory,
    * which is where the queries read them. */
  def prepare(spark: SparkSession, seed: Long, inDir: String): Unit = {
    in = inDir
    java.nio.file.Files.createDirectories(new java.io.File(in).toPath)
    new java.io.File(dataDir).listFiles().foreach(f => java.nio.file.Files.copy(f.toPath,
      new java.io.File(in, f.getName).toPath))
  }

  /** Two operations per query, in the seed's query order: `.build` calls
    * the catalog entry point and `.run` collects the DataFrame it returned;
    * the check follows the run. */
  def ops(spark: SparkSession, trace: Tracer, outDir: String): Seq[Op] =
    Workload.random(seed).shuffle(queries).flatMap { q =>
      var df: DataFrame = null
      Seq(
        Op(s"$q.build", () => {
          df = trace.span(Kind.Layer, "catalog_build")(SparkEntry.queries(q)(spark, in))
          Done(Nil, () => None)
        }, release = false),
        Op(s"$q.run", () => {
          val rows = trace.span(Kind.Layer, "catalog_run")(df.collect())
          Done(Nil, () => {
            val got = Fingerprint.of(df.columns.toSeq, rows.toSeq)
            refs.get(q) match {
              case None => Some(s"no reference fingerprint for $q")
              case Some(want) if want != got => Some(s"fingerprint $got, reference $want")
              case _ => None
            }
          })
        }))
    }
}

object Catalog {
  /** Many small jobs: the query's time goes to driver round trips while the
    * DataFrame is built (ROADMAP direction 4). */
  val Driver: Seq[String] = Seq("q235_km_survival")
  /** Task-heavy joins and candidate generation (ROADMAP direction 5). */
  val Compute: Seq[String] = Seq("q313_adamic_adar")
  /** The thirteen queries the classification table covers. */
  val All: Seq[String] = Seq("q401_weibull_aft", "q353_rmst", "q235_km_survival",
    "q375_negative_binomial", "q369_cox_d3_contract", "q65_sessionize_stream",
    "q66_dedup_stream", "q67_attribution_stream", "q313_adamic_adar", "q60_char_ngram",
    "q31_embedding_neardup", "q395_kcore", "q232_spearman")

  def references(dataDir: String): Map[String, Fingerprint] = {
    val file = new java.io.File(dataDir).getParentFile.getParentFile /
      "reference" / s"catalog_${new java.io.File(dataDir).getName}.json"
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Fingerprint(v.get("rows").asLong, v.get("columns").elements().asScala
        .map(_.asText).toSeq, v.get("sha256").asText)
    }.toMap
  }

  private implicit class FileOps(private val f: java.io.File) extends AnyVal {
    def /(child: String): java.io.File = new java.io.File(f, child)
  }
}
