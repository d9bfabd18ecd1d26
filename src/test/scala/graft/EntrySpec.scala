package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** Pins the declared query surface [[SparkEntry]] derives its maps and sets
  * from, and the one JSON escaper the driver-contract artefacts go through. */
class EntrySpec extends AnyFunSuite {

  test("322 uniquely named queries; queries and oracleSql share one key set") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.size == 322)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.declared.forall(_.oracleSql.trim.nonEmpty))
  }

  test("28 Streaming and 40 non-Batch declarations drive the Bench sets") {
    val byKind = SparkEntry.declared.groupBy(_.kind).map { case (k, qs) => k -> qs.size }
    assert(byKind(Query.Streaming) == 28)
    assert(byKind(Query.Streaming) + byKind(Query.Staged) == 40)
    assert(SparkEntry.streamingQueries.size == 28)
    assert(SparkEntry.stagedQueries.size == 40)
    assert(SparkEntry.streamingQueries.subsetOf(SparkEntry.stagedQueries))
  }

  test("Json.quote round-trips quote, backslash, newline, CR, tab and U+0001") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    val quoted = Json.quote(s)
    assert(!quoted.exists(_ < ' '), "raw control char left in the JSON text")
    assert(new ObjectMapper().readValue(quoted, classOf[String]) == s)
    assert(Json.quote("") == "\"\"")
  }
}
