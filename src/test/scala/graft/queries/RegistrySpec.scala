package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Invariants of the query registry: well-formed names declared once,
  * stream-named queries in the streaming family, and derived maps that
  * agree with the records. EntrySpec checks the streaming rule by running
  * the queries.
  */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("every name is q<id>_<shape> and declared once") {
    val bad = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, s"malformed names: $bad")
    assert(names.distinct.size == names.size)
  }

  test("the permanent numbering gaps are never declared") {
    val reused = names.filter(n => Set("q18", "q19", "q246", "q288")(n.takeWhile(_ != '_')))
    assert(reused.isEmpty, s"reused gap ids: $reused")
  }

  test("every query named for a stream is in the streaming family") {
    val streaming = Streaming.queries.map(_.name).toSet
    val stray = names.filter(n => n.contains("stream") && !streaming(n))
    assert(stray.isEmpty, s"stream-named queries outside Streaming: $stray")
  }

  test("the derived maps carry exactly the declared names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}
