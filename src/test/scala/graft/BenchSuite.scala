package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench's final stdout line, built without running a benchmark. */
class BenchSuite extends AnyFunSuite {

  private val host = JObject("cores" -> JInt(4))

  test("value is the sum of the per-query medians") {
    val line = Bench.resultLine(
      Seq("a" -> Seq(3.0, 1.0, 2.0), "b" -> Seq(0.5, 0.7, 0.6)), Nil, host)
    val j = parse(line)
    assert(j \ "value" == JDouble(2.6), line)
    assert(j \ "reps" == JInt(Bench.Reps))
    assert(j \ "queries" \ "a" ==
      JObject("median" -> JDouble(2.0), "min" -> JDouble(1.0), "max" -> JDouble(3.0)))
    assert(j \ "failed" == JObject())
    assert(j \ "host" == host)
  }

  test("value is null when any query failed, and the failure is named") {
    val line = Bench.resultLine(Seq("a" -> Seq(1.0, 1.0, 1.0)),
      Seq("b" -> "java.lang.RuntimeException: boom"), host)
    val j = parse(line)
    assert(j \ "value" == JNull, line)
    assert(j \ "failed" \ "b" == JString("java.lang.RuntimeException: boom"))
    assert(j \ "queries" \ "b" == JNothing)
  }
}
