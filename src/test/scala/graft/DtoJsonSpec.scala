package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Dto
import graft.engine.{QueryOutcome, ResultRow}

/** Pins the exact bytes of the outcome DTO on both transports: the
  * compact form HTTP answers with and the pretty form the WS REPL sends
  * (api/server.rs:70-127,213 shapes). Field order, sorted metadata keys,
  * the info row's empty id and the `[]`/`{}` rendering of empty
  * containers are part of the client contract. */
class DtoJsonSpec extends AnyFunSuite {

  private val rows = Seq(
    ResultRow.node("7", "Person", Map("name" -> "Ada", "age" -> "36", "city" -> "London")),
    ResultRow.rel("r1", "7", "8", "KNOWS", Map("since" -> "2020")),
    ResultRow.info("2 nodes deleted"),
    ResultRow.node("9", "Empty", Map.empty))
  private val outcome = QueryOutcome(rows, 1, 2, mutated = true)

  test("compact outcome bytes") {
    assert(Dto.outcomeJson(outcome) ==
      """{"rows":[""" +
      """{"kind":"node","id":"7","label":"Person","metadata":{"age":"36","city":"London","name":"Ada"}},""" +
      """{"kind":"relationship","id":"r1","label":"KNOWS","from":"7","to":"8","metadata":{"since":"2020"}},""" +
      """{"kind":"info","id":"","info":"2 nodes deleted"},""" +
      """{"kind":"node","id":"9","label":"Empty","metadata":{}}""" +
      """],"affected_nodes":1,"affected_relationships":2,"mutated":true}""")
  }

  test("pretty outcome bytes") {
    assert(Dto.outcomeJsonPretty(outcome) ==
      """{
        |  "rows": [
        |    {
        |      "kind": "node",
        |      "id": "7",
        |      "label": "Person",
        |      "metadata": {
        |        "age": "36",
        |        "city": "London",
        |        "name": "Ada"
        |      }
        |    },
        |    {
        |      "kind": "relationship",
        |      "id": "r1",
        |      "label": "KNOWS",
        |      "from": "7",
        |      "to": "8",
        |      "metadata": {
        |        "since": "2020"
        |      }
        |    },
        |    {
        |      "kind": "info",
        |      "id": "",
        |      "info": "2 nodes deleted"
        |    },
        |    {
        |      "kind": "node",
        |      "id": "9",
        |      "label": "Empty",
        |      "metadata": {}
        |    }
        |  ],
        |  "affected_nodes": 1,
        |  "affected_relationships": 2,
        |  "mutated": true
        |}""".stripMargin)
  }

  test("empty rows in both forms") {
    val empty = QueryOutcome(Nil, 0, 0, mutated = false)
    assert(Dto.outcomeJson(empty) ==
      """{"rows":[],"affected_nodes":0,"affected_relationships":0,"mutated":false}""")
    assert(Dto.outcomeJsonPretty(empty) ==
      """{
        |  "rows": [],
        |  "affected_nodes": 0,
        |  "affected_relationships": 0,
        |  "mutated": false
        |}""".stripMargin)
  }

  test("quotes, backslashes, newlines and non-ASCII are escaped the same way") {
    val o = QueryOutcome(Seq(ResultRow.node("q\"1", "back\\slash",
      Map("note" -> "line1\nline2\ttab\r", "k\"ey" -> "v\\", "path" -> "a/b é ✓"))), 0, 0, mutated = false)
    assert(Dto.outcomeJson(o) ==
      """{"rows":[{"kind":"node","id":"q\"1","label":"back\\slash",""" +
      """"metadata":{"k\"ey":"v\\","note":"line1\nline2\ttab\r","path":"a/b é ✓"}}],""" +
      """"affected_nodes":0,"affected_relationships":0,"mutated":false}""")
    assert(Dto.outcomeJsonPretty(o) ==
      """{
        |  "rows": [
        |    {
        |      "kind": "node",
        |      "id": "q\"1",
        |      "label": "back\\slash",
        |      "metadata": {
        |        "k\"ey": "v\\",
        |        "note": "line1\nline2\ttab\r",
        |        "path": "a/b é ✓"
        |      }
        |    }
        |  ],
        |  "affected_nodes": 0,
        |  "affected_relationships": 0,
        |  "mutated": false
        |}""".stripMargin)
  }

  // the escape spelling of other control characters is not pinned
  // (\b vs \u0008 are the same JSON string); only the round trip is
  test("control characters decode back to the same string") {
    val v = "\u0000\u0001\b\f\u001f\u007f end"
    val o = QueryOutcome(Seq(ResultRow.node("1", "L", Map("c" -> v)), ResultRow.info(v)), 0, 0, mutated = false)
    val mapper = new ObjectMapper()
    for (json <- Seq(Dto.outcomeJson(o), Dto.outcomeJsonPretty(o))) {
      val rs = mapper.readTree(json).get("rows")
      assert(rs.get(0).get("metadata").get("c").textValue == v)
      assert(rs.get(1).get("info").textValue == v)
    }
  }
}
