package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonProcessingException

import graft.Json

/** HTTP query API — the reference's `POST /api/query` contract
  * (api/server.rs:60-177): JSON `{query, params?, log?}` in, DTO rows +
  * counters out (`kind/id/label/from/to/metadata/info` row shape,
  * api/server.rs:70-127); optional `X-API-Key`; 400 with the raw error
  * string on failure; 504 on timeout (30 s); per-request RID + latency
  * log lines. Bodies are read and answers written through
  * [[graft.Json]].
  *
  * Transport only: execution goes through the shared [[EngineBroker]]
  * (the reference's single-engine-thread architecture, SURVEY §3/API4),
  * so HTTP requests serialize with the WebSocket REPL and the headless
  * daemon against one engine thread. The caller owns the broker.
  */
class HttpApi(broker: EngineBroker, port: Int = 0,
    apiKey: Option[String] = None, bindAddr: String = "127.0.0.1") {

  // bind the configured address only (settings.rs api_bind_addr
  // default loopback; server.rs:233-259) — not the wildcard
  private val server = HttpServer.create(new InetSocketAddress(bindAddr, port), 0)
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  /** Reject request bodies past this size instead of buffering them:
    * readAllBytes with no cap lets one oversized POST OOM the driver
    * JVM that also hosts the graph (the WS path caps frames at 64 MB;
    * this is the HTTP equivalent). */
  private val maxBodyBytes = 8 * 1024 * 1024

  server.createContext("/api/query", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      try {
        if (ex.getRequestMethod != "POST") { respond(ex, 405, "method not allowed"); return }
        if (apiKey.exists(k => ex.getRequestHeaders.getFirst("X-API-Key") != k)) {
          respond(ex, 401, "unauthorized"); return
        }
        val body = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
        if (body.length > maxBodyBytes) { respond(ex, 413, "request body too large"); return }
        val (query, params) = parseBody(new String(body, StandardCharsets.UTF_8)) match {
          case Some(qp) => qp
          case None => respond(ex, 400, "malformed request body"); return
        }
        val rid = broker.nextRid()
        val t0 = System.nanoTime()
        broker.execute(query, params, timeoutSec = 30) match {
          case Some(Right(out)) =>
            broker.apiLog.foreach(_.logApi(rid, (System.nanoTime() - t0) / 1000000, 200))
            respond(ex, 200, Dto.outcomeJson(out), "application/json")
          case Some(Left(err)) =>
            broker.apiLog.foreach(_.logApi(rid, (System.nanoTime() - t0) / 1000000, 400))
            respond(ex, 400, err)
          case None =>
            broker.apiLog.foreach(_.logApi(rid, (System.nanoTime() - t0) / 1000000, 504))
            respond(ex, 504, "query timeout")
        }
      } catch {
        case NonFatal(e) => respond(ex, 500, Option(e.getMessage).getOrElse("error"))
      }
    }
  })

  def start(): Int = {
    broker.start()
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown() // non-daemon workers would otherwise pin the JVM open
  }

  /** `{"query": "...", "params": {...}, "log": bool}`: the top level
    * must be an object whose `query` is a string. `params` is optional
    * (None keeps the reference's no-params router split,
    * server.rs:64,149); its non-string values are dropped. */
  private def parseBody(body: String): Option[(String, Option[Map[String, String]])] = {
    val root =
      try Json.mapper.readTree(body)
      catch { case _: JsonProcessingException => return None }
    val query = root.path("query")
    val params = root.path("params")
    if (!root.isObject || !query.isTextual) None
    else if (params.isMissingNode || params.isNull) Some((query.textValue, None))
    else if (params.isObject) Some((query.textValue, Some(params.properties.asScala
      .collect { case e if e.getValue.isTextual => e.getKey -> e.getValue.textValue }.toMap)))
    else None
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "text/plain; charset=utf-8"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}
