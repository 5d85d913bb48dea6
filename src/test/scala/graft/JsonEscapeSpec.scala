package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The JSON string escape that Bench's artifact and Verify's
  * oracle_sql.json share — no Spark needed. */
class JsonEscapeSpec extends AnyFunSuite with Matchers {

  test("Bench.jstr escapes quote, backslash and every control character") {
    Bench.jstr("plain") shouldBe "\"plain\""
    Bench.jstr("a\"b\\c") shouldBe "\"a\\\"b\\\\c\""
    Bench.jstr("x\ny\rz\t") shouldBe "\"x\\ny\\rz\\t\""
    Bench.jstr("\u0001\u001f ") shouldBe "\"\\u0001\\u001f \""
    Bench.jstr("é→") shouldBe "\"é→\"" // non-ASCII stays literal
  }
}
