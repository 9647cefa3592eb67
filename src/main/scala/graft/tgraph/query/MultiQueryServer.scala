package graft.tgraph.query

import graft.serving.LineServer

/** MULTI-NAMESPACE queryable state — one live endpoint fronting the
  * state stores of SEVERAL running streaming queries, the analog of
  * the reference's `tgraph/query/MultiStateQuery.java` applied to the
  * serving tier (one [[QueryServer]] fronts one store; a
  * multi-namespace pipeline like the purchases graph runs one
  * streaming query PER namespace, so its live surface is several
  * stores behind one address).
  *
  * Protocol: every request is namespace-tagged —
  * {{{
  *   NS <namespace> <request>   → the inner QueryServer's answer for
  *                                <request> (POINT/PRED/COUNT, with
  *                                all cursor clauses), with
  *                                "ns":"<namespace>" prepended
  *   anything else              → {"error":"..."}
  * }}}
  *
  * Connections follow [[graft.serving.LineServer]]: up to 64
  * clients, one thread each; request lines up to 1 MiB; every failed
  * request answers one JSON `{"error":"..."}` line, and the
  * connection keeps serving.
  *
  * Consistency contract: each namespace runs as its OWN streaming
  * query with its own committed-batch sequence, so one answer pins ONE
  * epoch of ONE namespace (the response's `"batch"` field); answers
  * never mix epochs within a namespace (the inner server's snapshot
  * discipline), and a cross-namespace reader correlates epochs through
  * the per-answer `(ns, batch)` pair — exactly the per-namespace
  * watermark the reference's multi-state query reports per result
  * partition. `AT <batch>` pins follow-up pages per namespace as in
  * the single-store protocol.
  *
  * The inner servers are OWNED: closing this endpoint closes them.
  */
final class MultiQueryServer(
    namespaces: Map[String, QueryServer],
    port: Int = 0) extends AutoCloseable {
  require(namespaces.nonEmpty, "at least one namespace required")

  def boundPort: Int = lines.boundPort

  /** The committed epoch namespace `ns`'s next answer will reflect. */
  def servedBatchId(ns: String): Long = namespaces(ns).servedBatchId

  private def respond(req: String): String = {
    val parts = req.trim.split("\\s+", 3)
    if (!parts(0).equalsIgnoreCase("NS") || parts.length < 3)
      LineServer.error("requests must be NS <namespace> <request>")
    else namespaces.get(parts(1)) match {
      case None => LineServer.error(s"unknown namespace ${parts(1).take(40)}")
      case Some(inner) =>
        val r = inner.respond(parts(2))
        if (r.startsWith("{")) s"""{"ns":"${parts(1)}",${r.drop(1)}"""
        else r
    }
  }

  private val lines = new LineServer("multi-query-server", port, respond)

  override def close(): Unit = {
    lines.close()
    namespaces.values.foreach { s =>
      try s.close() catch { case _: Throwable => () }
    }
  }
}
