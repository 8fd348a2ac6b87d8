package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure parts of the board protocol Bench and Measure share: the
  * per-query min rule and the exact bytes of their JSON lines. No session.
  */
class BenchProtocolSpec extends AnyFunSuite {

  test("best: min over successful passes, whatever pass failed; -1 only when all failed") {
    assert(Bench.best(Seq(-1.0, 2.0, 3.0)) == 2.0) // failed first pass no longer sticks
    assert(Bench.best(Seq(3.0, -1.0, 2.0)) == 2.0)
    assert(Bench.best(Seq(3.0, 2.5, -1.0)) == 2.5)
    assert(Bench.best(Seq(-1.0, -1.0, -1.0)) == -1.0)
    assert(Bench.best(Seq(0.0, 1.0)) == 0.0)
    assert(Bench.best(Nil) == -1.0)
  }

  test("Bench's total line: exact bytes, failed queries out of the total") {
    val results = Seq("a7_moments" -> 1.5, "b_failed" -> -1.0, "q1_pricing_summary" -> 0.25)
    assert(Bench.totalLine(results, "/data/sf0.001") ==
      """{"metric":"total","value":1.75,"unit":"sec",""" +
      """"queries":{"a7_moments":1.5,"b_failed":-1.0,"q1_pricing_summary":0.25},""" +
      """"sf":"/data/sf0.001"}""")
    assert(Bench.totalLine(Nil, "d") ==
      """{"metric":"total","value":0.0,"unit":"sec","queries":{},"sf":"d"}""")
  }

  test("Measure's min line: exact bytes, in the given query order") {
    assert(Measure.minLine(Seq("q1_pricing_summary" -> 0.5, "a7_moments" -> -1.0), 2, "d") ==
      """{"metric":"min","unit":"sec","reps":2,""" +
      """"queries":{"q1_pricing_summary":0.5,"a7_moments":-1.0},"sf":"d"}""")
  }

  test("jsonString escapes quote, backslash and every control char") {
    assert(Bench.jsonString("save at X.scala:3") == "\"save at X.scala:3\"")
    assert(Bench.jsonString("a\"b\\c\nd\re\tf\u0001") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001\"")
  }
}
