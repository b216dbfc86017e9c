package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries`/`oracleSql` are built with `toMap`, which keeps
  * the last of two entries with one name and hides a module entry that
  * is still null (a `val` read before its initializer ran). */
class SparkEntrySpec extends AnyFunSuite {

  test("module entries are non-null, uniquely named, and every oracle names a query") {
    val entries = SparkEntry.modules.flatMap(m => m.entries.map(m -> _))
    val nulls = entries.collect { case (m, null) => m.getClass.getSimpleName }
    assert(nulls.isEmpty, s"null entries in ${nulls.distinct.mkString(", ")}")
    val dups = entries.map(_._2.name).groupBy(identity).collect {
      case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.mkString(", ")}")
  }
}
