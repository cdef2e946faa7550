package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper behind oracle_sql.json, Bench's records,
  * FuzzGate's generated oracle and ConcurrentVerify's failure lines: an
  * exception message must survive the round trip through a real JSON
  * parser unchanged.
  */
class JsonStringSpec extends AnyFunSuite {
  test("an ANSI error message round-trips through Jackson unchanged") {
    val msg = "[CAST_INVALID_INPUT] The value 'x' cannot be cast.\n" +
      "Use `try_cast` or set \"spark.sql.ansi.enabled\" to \"false\".\tC:\\tmp\u0001"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.jsonString(msg), classOf[String])
    assert(parsed == msg)
  }
}
