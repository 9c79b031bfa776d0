package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper Verify's dumps and Bench's line share. */
class VerifySpec extends AnyFunSuite {
  test("jsonString escapes quote, backslash and every control character, " +
    "and leaves the rest verbatim") {
    val short = Map('\n' -> "\\n", '\r' -> "\\r", '\t' -> "\\t")
    for (c <- (0 until 0x20).map(_.toChar)) {
      val want = short.getOrElse(c, f"\\u${c.toInt}%04x")
      assert(Verify.jsonString(s"a${c}b") == "\"a" + want + "b\"", c.toInt)
    }
    assert(Verify.jsonString("q\"b\\") == "\"q\\\"b\\\\\"")
    assert(Verify.jsonString("SELECT 1 — é ~") == "\"SELECT 1 — é ~\"")
  }
}
