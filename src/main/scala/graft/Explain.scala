package graft

/** Plan-audit helper: prints the formatted physical plan of named
  * SparkEntry queries without executing them.
  *
  * Usage: `runMain graft.Explain <sfDir> <query-or-prefix> [...]`
  * (prefixes match like Bench: "q142" hits "q142_fuzzy_join").
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query...]")
    val sfDir = args.head
    val spark = LocalSession(LocalSession.cpus(32))
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = all.filter(n => args.tail.exists(a => n == a || n.startsWith(a + "_")))
    names.foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
