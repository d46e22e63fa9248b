package perfbench

/** Writes `SparkEntry.oracleSql` for every catalog query the benchmark runs
  * to the JSON file named by the first argument; `tools/catalog_refs.py`
  * replays it in DuckDB. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val names = Catalog.All
    val sql = new java.util.TreeMap[String, String]()
    names.foreach(n => sql.put(n, graft.SparkEntry.oracleSql(n)))
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(args(0)), sql)
  }
}
