package graft.api

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.Json
import graft.engine.{QueryOutcome, ResultRow}

/** JSON rendering of the reference's outcome DTO
  * (api/server.rs:70-127 `OutcomeDto`: rows with
  * `kind/id/label/from/to/metadata/info`, counters, mutated flag),
  * written through [[graft.Json]]. Compact form serves HTTP; the pretty
  * form mirrors the WS REPL's `serde_json::to_string_pretty` output
  * (api/server.rs:213). Metadata keys are sorted.
  */
object Dto {

  private def rowNode(r: ResultRow): ObjectNode = {
    val n = Json.mapper.createObjectNode()
    r.kind match {
      case "node" | "relationship" =>
        n.put("kind", r.kind).put("id", r.id).put("label", r.label)
        if (r.kind == "relationship") n.put("from", r.src).put("to", r.dst)
        val meta = n.putObject("metadata")
        r.properties.toSeq.sortBy(_._1).foreach { case (k, v) => meta.put(k, v) }
      case _ =>
        n.put("kind", "info").put("id", "").put("info", r.info)
    }
    n
  }

  private def outcomeNode(o: QueryOutcome): ObjectNode = {
    val n = Json.mapper.createObjectNode()
    val rows = n.putArray("rows")
    o.rows.foreach(r => rows.add(rowNode(r)))
    n.put("affected_nodes", o.affectedNodes)
      .put("affected_relationships", o.affectedRels)
      .put("mutated", o.mutated)
  }

  def outcomeJson(o: QueryOutcome): String = Json.mapper.writeValueAsString(outcomeNode(o))

  /** 2-space-indented rendering for the WS REPL; same fields and order
    * as [[outcomeJson]]. */
  def outcomeJsonPretty(o: QueryOutcome): String = Json.pretty.writeValueAsString(outcomeNode(o))
}
