package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness JSON writer: every string it emits must parse back to the
  * original, control characters included.
  */
class JsonSpec extends AnyFunSuite {

  test("str escapes tab, CR, quote, backslash and U+0001, and round-trips") {
    val raw = "a\tb\rc\"d\\e\u0001f\ng"
    val quoted = Json.str(raw)
    assert(quoted === "\"a\\tb\\rc\\\"d\\\\e\\u0001f\\ng\"")
    assert(quoted.forall(_ >= ' '), "a raw control character survived")
    val line = Json.obj(Seq("sql" -> quoted, "n" -> "1",
      "xs" -> Json.arr(Seq("2.5", Json.str("k")))))
    // Jackson ships with Spark.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(line)
    assert(node.get("sql").asText() === raw)
    assert(node.get("n").asInt() === 1)
    assert(node.get("xs").get(0).asDouble() === 2.5 && node.get("xs").get(1).asText() === "k")
    assert(line.indexOf("\"sql\"") < line.indexOf("\"n\"") &&
      line.indexOf("\"n\"") < line.indexOf("\"xs\""), "field order not kept")
    // Every control character below 0x20, not just the named ones.
    val controls = (0 until 0x20).map(_.toChar).mkString
    assert(mapper.readTree(Json.str(controls)).asText() === controls)
  }
}
