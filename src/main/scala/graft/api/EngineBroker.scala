package graft.api

import java.util.concurrent.{CompletableFuture, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import graft.engine.{GraphSession, QueryOutcome}
import graft.io.QueryLog

/** The single-engine-thread request broker (reference api/mod.rs:8-32 +
  * the drain loops at frontend.rs:1226-1250 / main.rs:268-288): every
  * API transport (HTTP, WebSocket REPL, headless daemon) enqueues
  * requests here; ONE engine thread executes them against the
  * GraphSession, so mutations are linearized exactly like the
  * reference's engine thread while Spark parallelizes each query
  * internally.
  */
class EngineBroker(session: GraphSession, logDir: Option[String] = None) {

  /** `params` None = request carried no params field — routed through
    * the no-params engine path, like the reference's
    * `execute_and_log`; Some (even empty) = with-params path
    * (frontend.rs:1208-1209, main.rs:270-273). */
  private case class Req(query: String, params: Option[Map[String, String]],
      reply: CompletableFuture[Either[String, QueryOutcome]])

  private val queue = new LinkedBlockingQueue[Req]()
  private val ridCounter = new AtomicLong(0)
  val apiLog: Option[QueryLog] = logDir.map(d => new QueryLog(d, "api"))
  private val queryLog = logDir.map(d => new QueryLog(d, "queries"))

  /** Mutation hook — the daemon's dirty flag (main.rs:250-265). Fired on
    * the engine thread after a statement reports `mutated`. */
  @volatile var onMutation: () => Unit = () => ()

  // built by a factory, not held as a val: a terminated Thread can
  // never be start()ed again (IllegalThreadStateException), so a
  // stop()/start() cycle — daemon restart, test teardown/setup — must
  // get a FRESH thread draining the same queue. Each thread carries
  // its own stop flag: interrupt alone is not enough (a long Spark
  // job can outlive stop()'s bounded join, and some libraries swallow
  // the interrupt status), and start() must be able to spawn a
  // replacement while the old thread is still finishing its query
  // without ever having two threads TAKE from the queue.
  private var engineThread: Thread = _
  private var stopFlag: java.util.concurrent.atomic.AtomicBoolean = _

  private def newEngineThread(
      stop: java.util.concurrent.atomic.AtomicBoolean): Thread = {
    val t = new Thread(() => {
      while (!stop.get() && !Thread.currentThread().isInterrupted) {
        try {
          val req = queue.take()
          val result =
            try {
              val out = req.params match {
                case Some(p) => session.executeWithParams(req.query, p)
                case None => session.execute(req.query)
              }
              // only the no-params route logs: main.rs:270-273 sends
              // Some(params) to execute_query_with_params, which never
              // calls log_query (_execute_and_log_with_params is dead
              // code) — with-params queries stay out of the query log
              if (req.params.isEmpty)
                queryLog.foreach(_.logQuery(req.query, ok = true,
                  out.affectedNodes, out.affectedRels, out.mutated))
              if (out.mutated) onMutation()
              Right(out)
            } catch {
              // deliberately WIDER than NonFatal: a StackOverflowError
              // or OutOfMemoryError raised by one pathological query
              // would escape NonFatal and kill the single engine thread
              // — from then on EVERY request times out and the queue
              // grows unboundedly (a silently bricked daemon). Once the
              // failing frame unwinds, the query's references are
              // dropped and the thread is healthy again, so the durable
              // behavior is: answer the client with the error and keep
              // draining. Only the interrupt (= stop()) exits the loop.
              case e: InterruptedException => throw e
              case e: Throwable =>
                if (req.params.isEmpty)
                  queryLog.foreach(_.logQuery(req.query, ok = false, 0, 0,
                    mutated = false, error = Some(e.getMessage)))
                Left(Option(e.getMessage).getOrElse(e.toString))
            }
          // never throws: a dependent stage's failure stays in its own
          // future, so a broken transport cannot take the drainer down
          req.reply.complete(result)
        } catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }
    }, "graft-engine")
    t.setDaemon(true)
    t
  }

  /** The request id a transport mints for its api-log lines. */
  def nextRid(): String = s"${System.nanoTime()}-${ridCounter.getAndIncrement()}"

  /** Enqueue; the future completes on the engine thread with the
    * outcome or the error text. It is the one way in, for transports and
    * in-process callers alike. Callers bound the wait themselves (the
    * request still completes on the engine thread, matching the
    * reference's recv_timeout semantics) and finish their reply on
    * their own executor, not on the engine thread. */
  def submit(query: String, params: Option[Map[String, String]])
      : CompletableFuture[Either[String, QueryOutcome]] = {
    ensureAlive()
    val reply = new CompletableFuture[Either[String, QueryOutcome]]()
    queue.put(Req(query, params, reply))
    reply
  }

  /** Self-heal an UNEXPECTEDLY dead drainer (a Throwable the loop
    * guards can't contain, e.g. a LinkageError inside the logging
    * path). `stop()` nulls `engineThread`, so `!= null && !isAlive`
    * can only mean "died without being asked" — a deliberate stop is
    * never overridden. */
  private def ensureAlive(): Unit = synchronized {
    if (engineThread != null && !engineThread.isAlive && !stopFlag.get()) {
      engineThread = newEngineThread(stopFlag)
      engineThread.start()
    }
  }

  def start(): Unit = synchronized {
    if (engineThread == null || !engineThread.isAlive) {
      stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
      engineThread = newEngineThread(stopFlag)
      engineThread.start()
    }
  }

  def stop(): Unit = synchronized {
    if (engineThread != null) {
      stopFlag.set(true) // survives a swallowed interrupt: the thread
      engineThread.interrupt() // exits after its current query
      engineThread.join(2000)
      engineThread = null // next start() always gets a fresh drainer
    }
  }
}
