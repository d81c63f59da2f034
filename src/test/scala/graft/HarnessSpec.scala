package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Json

/** What the harness mains print: JSON strings and bench rows. */
class HarnessSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper

  test("Json.str round-trips quote, backslash, tab, newline and \\u0001") {
    val s = "say \"hi\" C:\\tmp\tcol\nline\u0001end"
    assert(mapper.readValue(Json.str(s), classOf[String]) == s)
    assert(mapper.readTree(s"""{"err":${Json.str(s)}}""")
      .get("err").asText == s)
  }

  test("Json.str escapes every control character below 0x20") {
    val ctl = (0 until 0x20).map(_.toChar).mkString
    assert(mapper.readValue(Json.str(ctl), classOf[String]) == ctl)
  }

  test("Bench.guarded passes a block's rows through") {
    val rows = Seq(("q1", 0.5, None), ("q2", -1.0, Some("boom")))
    assert(Bench.guarded("block")(rows) == rows)
  }

  test("Bench.guarded turns a throwing block into one error row") {
    val rows = Bench.guarded("berlinmod_10x") {
      throw new IllegalStateException("no\tfleet\nloaded")
    }
    assert(rows == Seq(("berlinmod_10x", -1.0,
      Some("IllegalStateException: no fleet loaded"))))
  }
}
