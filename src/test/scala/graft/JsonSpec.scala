package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escape Bench and Verify share: every character a
  * JSON parser must see escaped survives a real parser unchanged.
  */
class JsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("Json.quote round-trips quote, backslash and control chars") {
    val raw = "q\" b\\ n\n r\r t\t u\u0001 é"
    val lit = Json.quote(raw)
    assert(!lit.exists(_ < ' '), s"raw control char left in $lit")
    val parsed = mapper.readTree(lit)
    assert(parsed.isTextual)
    assert(parsed.asText === raw)
  }
}
