package graft.api

import java.util.concurrent.{CompletableFuture, ExecutorService, Executors, RejectedExecutionException, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import graft.engine.{GraphSession, QueryOutcome}
import graft.io.QueryLog

/** How a request ended, and the status its api-log line records. */
sealed abstract class Reply(val status: Int)

object Reply {
  final case class Answered(out: QueryOutcome) extends Reply(200)
  /** The engine's error text, answered in-band by every transport. */
  final case class EngineError(message: String) extends Reply(400)
  case object TimedOut extends Reply(504)
  /** Anything else, such as a stopped broker. */
  final case class Failed(cause: Throwable) extends Reply(500)
}

/** The single-engine-thread request broker (reference api/mod.rs:8-32 +
  * the drain loops at frontend.rs:1226-1250 / main.rs:268-288): every
  * API transport (HTTP, WebSocket REPL, gRPC, headless daemon) submits
  * requests here; ONE engine thread, a single-thread executor named
  * `graft-engine`, runs them in submission order against the
  * GraphSession, so mutations are linearized exactly like the
  * reference's engine thread while Spark parallelizes each query
  * internally.
  *
  * It owns each request's lifecycle: [[submit]] mints the request id,
  * writes both api-log lines (`rid=<id> <transport> query qlen=<n>` on
  * submit, `rid=<id> dt_ms=<ms> status=<s>` at the end) and applies
  * the transport's timeout. The engine thread writes the query log. A
  * transport only maps the [[Reply]] to its wire; the api log's other
  * lines are the REPL's `WS connected` / `WS closed`.
  */
class EngineBroker(session: GraphSession, logDir: Option[String] = None) {

  private val ridCounter = new AtomicLong(0)
  val apiLog: Option[QueryLog] = logDir.map(d => new QueryLog(d, "api"))
  private val queryLog = logDir.map(d => new QueryLog(d, "queries"))

  /** Mutation hook — the daemon's dirty flag (main.rs:250-265). Fired on
    * the engine thread after a statement reports `mutated`. */
  @volatile var onMutation: () => Unit = () => ()

  // null while stopped; a stop()/start() cycle gets a fresh executor
  private var engine: ExecutorService = _

  /** Queue `query` for the engine thread. `params` None = the request
    * carried no params field — routed through the no-params engine
    * path, like the reference's `execute_and_log`; Some (even empty) =
    * with-params path (frontend.rs:1208-1209, main.rs:270-273).
    * `transport` (`HTTP`, `WS`, `gRPC`) names the request in the api
    * log. The future never fails: it completes with the [[Reply]] once
    * the engine answers, or `TimedOut` after `timeoutSec` (the request
    * still runs later on the engine thread, like the reference's
    * recv_timeout), or at once `Failed` on a stopped broker. It may
    * complete on the engine thread, so callers finish their reply on
    * their own executor. */
  def submit(query: String, params: Option[Map[String, String]], timeoutSec: Long,
      transport: String): CompletableFuture[Reply] = {
    val rid = s"${System.nanoTime()}-${ridCounter.getAndIncrement()}"
    apiLog.foreach(_.append(s"rid=$rid $transport query qlen=${query.length}"))
    val t0 = System.nanoTime()
    enqueue(query, params).orTimeout(timeoutSec, TimeUnit.SECONDS).handle[Reply](
      (result: Either[String, QueryOutcome], err: Throwable) => {
        val reply = (result, err) match {
          case (Right(out), _) => Reply.Answered(out)
          case (Left(msg), _) => Reply.EngineError(msg)
          case (_, _: TimeoutException) => Reply.TimedOut
          case (_, e) => Reply.Failed(e)
        }
        apiLog.foreach(_.logApi(rid, (System.nanoTime() - t0) / 1000000, reply.status))
        reply
      })
  }

  private def enqueue(query: String, params: Option[Map[String, String]])
      : CompletableFuture[Either[String, QueryOutcome]] = synchronized {
    if (engine == null) CompletableFuture.failedFuture(
      new RejectedExecutionException("the engine broker is stopped"))
    else CompletableFuture.supplyAsync(() => run(query, params), engine)
  }

  private def run(query: String, params: Option[Map[String, String]])
      : Either[String, QueryOutcome] =
    try {
      val out = params match {
        case Some(p) => session.executeWithParams(query, p)
        case None => session.execute(query)
      }
      // only the no-params route logs: main.rs:270-273 sends
      // Some(params) to execute_query_with_params, which never calls
      // log_query (_execute_and_log_with_params is dead code) —
      // with-params queries stay out of the query log
      if (params.isEmpty)
        queryLog.foreach(_.logQuery(query, ok = true,
          out.affectedNodes, out.affectedRels, out.mutated))
      if (out.mutated) onMutation()
      Right(out)
    } catch {
      // deliberately WIDER than NonFatal: a StackOverflowError or
      // OutOfMemoryError raised by one pathological query must answer
      // the client, not fail its future with no reply text. Once the
      // failing frame unwinds, the query's references are dropped and
      // the engine thread keeps draining.
      case e: Throwable =>
        if (params.isEmpty)
          queryLog.foreach(_.logQuery(query, ok = false, 0, 0,
            mutated = false, error = Some(e.getMessage)))
        Left(Option(e.getMessage).getOrElse(e.toString))
    }

  def start(): Unit = synchronized {
    if (engine == null)
      engine = Executors.newSingleThreadExecutor(EngineBroker.daemonThreads("graft-engine"))
  }

  /** Interrupts the running request and drops the queued ones (their
    * callers time out); the next start() gets a fresh engine thread. */
  def stop(): Unit = synchronized {
    if (engine != null) {
      engine.shutdownNow()
      engine.awaitTermination(2, TimeUnit.SECONDS)
      engine = null
    }
  }
}

object EngineBroker {

  /** Daemon threads that all carry `name`, for single-thread executors. */
  def daemonThreads(name: String): ThreadFactory = r => {
    val t = Executors.defaultThreadFactory().newThread(r)
    t.setName(name); t.setDaemon(true); t
  }
}
