package graft

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's shape: one uniquely named record per query, each with its
  * oracle. `SparkEntry.queries` and `oracleSql` are built with `toMap`,
  * which would silently keep only one of two specs sharing a name. */
class CatalogSpec extends AnyFunSuite {

  test("catalog specs: 403 unique q<N>_<name> names, every oracle non-blank") {
    val specs = SparkEntry.specs
    val names = specs.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted}")
    assert(specs.size == 403)
    val badNames = names.filterNot(_.matches("""q\d+_\w+"""))
    assert(badNames.isEmpty, s"names outside q<N>_<name>: $badNames")
    val blank = specs.collect { case q if q.oracleSql.trim.isEmpty => q.name }
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }
}
