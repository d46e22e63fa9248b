package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.ParqTools
import graft.expr.SparkCompiler
import graft.io.FileHash

/** The parq-tools surface, file to file, on `lineitem`: expression filter
  * with projection, sort, first-wins dedup, profile, memory report, a lazy
  * frame with a calculated column written back, and a verified file copy.
  * The seed picks the filter thresholds and flags, the projected columns,
  * the sort key and which rows get a duplicate key; it leaves the amount of
  * work the same. The program reads only the files `prepare` writes. */
final class ParqPipeline(seed: Long, dataDir: String) extends Workload {
  val name = "parq_pipeline"

  private val Index = Seq("l_orderkey", "l_linenumber")
  private val rnd = Workload.random(seed)
  private val payload = rnd.shuffle(Seq("l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
  private val quantity = 10 + rnd.nextInt(31)
  private val discount = 0.02 + rnd.nextInt(7) / 100.0
  private val flags = rnd.shuffle(Seq("A", "N", "R")).take(2)
  private val filterExpr =
    s"l_quantity > $quantity and l_discount <= $discount and " +
      s"l_returnflag in [${flags.map(f => s"'$f'").mkString(", ")}]"
  private val filterSql =
    s"l_quantity > $quantity AND l_discount <= $discount AND " +
      s"l_returnflag IN (${flags.map(f => s"'$f'").mkString(", ")})"
  private val projection = Index ++ payload.take(3)
  private val sortKey = Seq(if (rnd.nextBoolean()) "l_partkey" else "l_suppkey") ++ Index
  private val dupFraction = 0.05
  // a fixed set, so that every seed profiles the same amount of data
  private val profiled = Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag")

  private var in: String = _

  def prepare(spark: SparkSession, seed: Long, inDir: String): Unit = {
    in = inDir
    Files.createDirectories(new File(s"$in/lineitem").toPath)
    Files.copy(new File(s"$dataDir/lineitem.parquet").toPath,
      new File(s"$in/lineitem/part-00000.parquet").toPath)
    val li = spark.read.parquet(s"$in/lineitem")
    // originals first, then copies of some rows with another quantity
    li.union(li.sample(withReplacement = false, dupFraction, seed)
        .withColumn("l_quantity", col("l_quantity") + 100))
      .coalesce(1).write.parquet(s"$in/lineitem_dups")
  }

  /** Expected values from plain Spark over the inputs; the same for every
    * set-up, since the inputs depend only on the seed. */
  private final case class Expected(n: Long, columns: Seq[String], filterRows: Long,
      dupDistinct: Long, means: Map[String, Double], netSum: Double)

  private var expected: Expected = _

  private def expectedFor(spark: SparkSession): Expected = {
    if (expected == null) {
      val li = spark.read.parquet(s"$in/lineitem")
      val numeric = profiled.filter(c => li.schema(c).dataType.isInstanceOf[NumericType])
      val stats = li.agg(count(when(expr(filterSql), 1)),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) +:
          numeric.map(c => avg(col(c))): _*).head
      expected = Expected(Parquet.rows(s"$in/lineitem"), li.columns.toSeq, stats.getLong(0),
        spark.read.parquet(s"$in/lineitem_dups").select(Index.map(col): _*).distinct().count(),
        numeric.zipWithIndex.map { case (c, i) => c -> stats.getDouble(i + 2) }.toMap,
        stats.getDouble(1))
    }
    expected
  }

  def ops(spark: SparkSession, trace: Tracer, outDir: String): Seq[Op] = {
    val pt = ParqTools(spark)
    val li = s"$in/lineitem"
    val schemaDf = spark.read.parquet(li)
    def out(op: String) = s"$outDir/$op"
    def ops[T](body: => T): T = trace.span(Kind.Layer, "ops")(body)
    def expect(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)
    lazy val want = expectedFor(spark)
    def rowsAndCols(path: String, rows: => Long, cols: => Seq[String]): Option[String] = {
      val (r, c) = (Parquet.rows(path), Parquet.columns(path))
      expect(r == rows && c.sorted == cols.sorted, s"$r rows ${c.mkString(",")}, " +
        s"want $rows rows ${cols.mkString(",")}")
    }

    Seq(
      Op("filter", () => {
        trace.span(Kind.Layer, "expr")(SparkCompiler.compileValidated(filterExpr, schemaDf))
        ops(pt.filterParquetFile(li, out("filter"), Some(filterExpr), Some(projection)))
        Done(Seq(out("filter")), () => rowsAndCols(out("filter"), want.filterRows, projection))
      }),
      Op("sort", () => {
        ops(pt.sortParquetFile(li, out("sort"), sortKey))
        Done(Seq(out("sort")), () => rowsAndCols(out("sort"), want.n, want.columns)
          .orElse(Parquet.sortedError(spark, out("sort"), sortKey)))
      }),
      Op("dedup", () => {
        ops(pt.deduplicateParquet(s"$in/lineitem_dups", out("dedup"), Index))
        Done(Seq(out("dedup")), () => {
          val r = spark.read.parquet(out("dedup"))
            .agg(count(lit(1)), countDistinct(col(Index.head), Index.tail.map(col): _*)).head
          expect(r.getLong(0) == want.dupDistinct && r.getLong(1) == want.dupDistinct,
            s"${r.getLong(0)} rows, ${r.getLong(1)} distinct keys, want ${want.dupDistinct}")
        })
      }),
      Op("profile", () => {
        val p = trace.span(Kind.Layer, "profile")(pt.profileReport(li, Some(profiled)))
        Done(Nil, () => expect(p.n == want.n && want.means.forall { case (c, m) =>
          p.variables(c).mean.exists(v => math.abs(v - m) <= 1e-9 * math.max(1.0, math.abs(m)))
        }, s"profile n=${p.n} means ${p.variables.map { case (c, v) => c -> v.mean }}"))
      }),
      Op("memory", () => {
        val m = ops(pt.memoryUsage(li))
        Done(Nil, () => expect(m.numRows == want.n && m.columns.size == want.columns.size,
          s"memory report ${m.numRows} rows ${m.columns.size} columns"))
      }),
      Op("frame", () => {
        trace.span(Kind.Layer, "frame") {
          val f = pt.lazyParquet(li, Index)
          f.addColumn("l_net", col("l_extendedprice") * (lit(1) - col("l_discount")))
          f.toParquet(out("frame"))
        }
        Done(Seq(out("frame")), () => rowsAndCols(out("frame"), want.n, want.columns :+ "l_net")
          .orElse {
            val got = spark.read.parquet(out("frame")).agg(sum("l_net")).head.getDouble(0)
            expect(math.abs(got - want.netSum) <= 1e-9 * math.abs(want.netSum),
              s"sum(l_net) $got, want ${want.netSum}")
          })
      }),
      Op("file_copy", () => {
        val src = Parquet.parts(li).head.getPath
        val dst = out("copy.parquet")
        Files.createDirectories(new File(outDir).toPath)
        val same = trace.span(Kind.Layer, "io") {
          graft.io.AtomicFiles.atomicFileCopy(src, dst)
          FileHash.filesMatch(src, dst, "sha256")
        }
        Done(Seq(dst), () => expect(same && Parquet.sha256(src) == Parquet.sha256(dst),
          s"copy of $src differs"))
      })
    )
  }
}

/** Footer and file helpers for the checks; they read with parquet-hadoop
  * directly, not through the program. */
object Parquet {
  private val conf = new Configuration()

  def parts(path: String): Seq[File] = {
    val f = new File(path)
    if (!f.isDirectory) Seq(f)
    else f.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  }

  private def footer(f: File): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
    try r.getFooter finally r.close()
  }

  def rows(path: String): Long =
    parts(path).map(footer(_).getBlocks.asScala.map(_.getRowCount).sum).sum

  def columns(path: String): Seq[String] =
    parts(path).headOption.toSeq.flatMap(f => footer(f).getFileMetaData.getSchema.getFields
      .asScala.map(_.getName))

  def bytes(path: String): Long = parts(path).map(_.length).sum

  def sha256(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(Files.readAllBytes(new File(path).toPath))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Rows must be ordered by `key` within each part file and across part
    * files in name order. One Spark job: each partition reports, per file,
    * its first and last key and whether its rows were ordered. */
  def sortedError(spark: SparkSession, path: String, key: Seq[String]): Option[String] = {
    val ord = Ordering.Implicits.seqOrdering[Seq, Long]
    // (file, first key, last key, ordered) per run of rows from one file
    val runs = spark.read.parquet(path)
      .select(input_file_name() +: key.map(c => col(c).cast("long")): _*)
      .rdd.mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Long], Seq[Long], Boolean)]
        it.foreach { r =>
          val k = (1 to key.size).map(r.getLong)
          if (out.isEmpty || out.last._1 != r.getString(0)) out += ((r.getString(0), k, k, true))
          else {
            val (f, first, last, ok) = out.last
            out(out.size - 1) = (f, first, k, ok && ord.lteq(last, k))
          }
        }
        out.iterator
      }.collect().sortBy(_._1)
    if (runs.exists(!_._4)) Some("rows out of order within a part file")
    else if (runs.sliding(2).exists(p =>
        p.size == 2 && p(0)._1 != p(1)._1 && ord.gt(p(0)._3, p(1)._2)))
      Some("part files out of order")
    else None
  }
}
