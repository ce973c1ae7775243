package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper behind oracle_sql.json, bench_full.json and
  * the service shell's response bodies: what it writes, a JSON parser
  * reads back unchanged.
  */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("quote, backslash, newline, tab and U+0001 round-trip through a JSON parser") {
    val raw = "say \"hi\" C:\\tmp\\x\nnext\tcol\u0001end"
    val doc = s"""{"msg":${Json.quote(raw)},"list":[${Json.quote(raw)}]}"""
    val tree = mapper.readTree(doc)
    assert(tree.get("msg").asText() === raw)
    assert(tree.get("list").get(0).asText() === raw)
  }
}
