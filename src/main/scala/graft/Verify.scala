package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [onlyQueryName …] — the filter is a local
    // iteration aid; the driver always passes exactly two args
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = LocalSession(LocalSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // oracle_sql.json is static (derived from the catalog, not the data) —
    // written BEFORE the query loop so a timeout/kill mid-dump leaves the
    // already-written query dirs comparable instead of zeroing the whole
    // round (CORRECTNESS_r14 came back {} with entry_ok=true: the one
    // artifact the compare cannot proceed without used to be written last).
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    var written = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        written += 1
        System.err.println(
          f"[verify] $name%-32s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally LocalSession.dropAllBlocks(spark)
    }
    // fail LOUDLY on an empty dump: rc 0 with nothing to compare reads as
    // "entry ok, zero queries" downstream, which silently voids the gate
    println(s"[verify] wrote $written query dirs to $outDir")
    spark.stop()
    if (written == 0) sys.exit(2)
  }
}
