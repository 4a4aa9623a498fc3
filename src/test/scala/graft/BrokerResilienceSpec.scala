package graft

import java.util.concurrent.{RejectedExecutionException, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{EngineBroker, Reply}
import graft.engine.{GraphSession, QueryOutcome}

/** The broker's single engine thread is the daemon's heart — if one
  * request kills it, every later API call times out while the queue
  * grows without bound: a silently bricked server. `NonFatal` does NOT
  * match StackOverflowError / OutOfMemoryError, and a pathological
  * query (deep lineage, a huge literal list, an executor-side error
  * rethrown as an Error) can raise exactly those on the engine thread.
  * This spec pins the survivability contract: a fatal per-query error
  * is answered as Left and the SAME thread keeps draining; requests run
  * in submission order; a deliberate stop() still stops. */
class BrokerResilienceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The engine's answer or error; None = timeout. */
  private def result(reply: Reply): Option[Either[String, QueryOutcome]] = reply match {
    case Reply.Answered(out) => Some(Right(out))
    case Reply.EngineError(msg) => Some(Left(msg))
    case Reply.TimedOut => None
    case Reply.Failed(e) => throw e
  }

  /** Submits with a `timeoutSec` timeout and waits for the reply. */
  private def submit(broker: EngineBroker, query: String,
      timeoutSec: Long): Option[Either[String, QueryOutcome]] =
    result(broker.submit(query, None, timeoutSec, "test").join())

  /** Stub session: magic query strings raise synthetic fatal errors
    * (nothing is actually exhausted); anything else answers canned. */
  private def stubSession() = new GraphSession(spark) {
    override def execute(query: String): QueryOutcome =
      executeWithParams(query, Map.empty)
    override def executeWithParams(query: String,
        params: Map[String, String]): QueryOutcome = query match {
      case "boom_soe" => throw new StackOverflowError("synthetic overflow")
      case "boom_oom" => throw new OutOfMemoryError("synthetic oom")
      case "boom_npe" => throw new NullPointerException("plain nonfatal")
      case _          => QueryOutcome(Nil, 0L, 0L, mutated = false)
    }
  }

  test("engine thread survives fatal per-query errors and keeps serving") {
    val broker = new EngineBroker(stubSession())
    broker.start()
    try {
      assert(submit(broker, "ok", 10).contains(Right(
        QueryOutcome(Nil, 0L, 0L, mutated = false))))
      // each fatal flavor answers the CLIENT (no timeout) with Left...
      assert(submit(broker, "boom_soe", 10)
        .exists(_.swap.exists(_.contains("synthetic overflow"))))
      assert(submit(broker, "boom_oom", 10)
        .exists(_.swap.exists(_.contains("synthetic oom"))))
      assert(submit(broker, "boom_npe", 10)
        .exists(_.swap.exists(_.contains("plain nonfatal"))))
      // ...and the SAME drainer still answers healthy traffic after
      assert(submit(broker, "ok", 10).exists(_.isRight))
    } finally broker.stop()
  }

  test("unwritable query log never flips a query's answer") {
    // log dir "under" a regular file = every mkdir and append fails;
    // reference parity (`let _ = write_all`, query_interface.rs:50):
    // logging is observability, so the query must still answer Right
    val f = java.nio.file.Files.createTempFile("graft-notadir", ".tmp")
    val badDir = f.resolve("logs").toString
    new graft.io.QueryLog(badDir, "queries").append("must not throw")
    val broker = new EngineBroker(stubSession(), logDir = Some(badDir))
    broker.start()
    try assert(submit(broker, "ok", 10).exists(_.isRight))
    finally broker.stop()
  }

  test("concurrent clients all get answers and mutations linearize") {
    // 8 client threads x 25 requests against the ONE engine thread:
    // every request must get SOME answer (no lost respond callbacks,
    // no cross-talk), and the serialized CREATEs must all land —
    // the linearization contract the single-engine-thread design
    // exists to provide (every API transport funnels through here)
    val session = new GraphSession(spark)
    val broker = new EngineBroker(session)
    broker.start()
    try {
      val nThreads = 8; val perThread = 25
      val missed = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until nThreads).map { t =>
        new Thread(() => {
          for (i <- 0 until perThread) {
            val q =
              if (i % 5 == 4) s"MATCH (n:Stress) RETURN n LIMIT 1"
              else s"CREATE (:Stress {tag: 't${t}_$i'})"
            submit(broker, q, 120) match {
              case None          => missed.incrementAndGet()
              case Some(Left(_)) => errs.incrementAndGet()
              case Some(Right(_)) => ()
            }
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      assert(missed.get() == 0, s"${missed.get()} requests timed out")
      assert(errs.get() == 0, s"${errs.get()} requests errored")
      val nCreated = nThreads * perThread - nThreads * (perThread / 5)
      assert(session.graph.nodeCount == nCreated,
        s"expected $nCreated Stress nodes, got ${session.graph.nodeCount}")
    } finally broker.stop()
  }

  test("requests run in submission order, across a stop()/start() cycle") {
    // perfbench's Outstanding ties an engine-side span to the OLDEST
    // outstanding request with the same text: that needs FIFO draining
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val session = new GraphSession(spark) {
      override def execute(query: String): QueryOutcome = {
        ran.add(query); QueryOutcome(Nil, 0L, 0L, mutated = false)
      }
    }
    val broker = new EngineBroker(session)
    def roundTrip(tag: String): Unit = {
      ran.clear()
      val qs = (0 until 50).map(i => s"$tag-$i")
      val futures = qs.map(broker.submit(_, None, 10, "test"))
      futures.foreach(f => assert(result(f.join()).exists(_.isRight)))
      assert(ran.asScala.toSeq == qs)
    }
    broker.start()
    try {
      roundTrip("first")
      broker.stop()
      broker.start()
      roundTrip("restarted")
    } finally broker.stop()
  }

  /** Live engine threads; other suites' unstopped brokers own some. */
  private def engineThreads(): Set[Thread] = Thread.getAllStackTraces.keySet
    .asScala.filter(t => t.isAlive && t.getName == "graft-engine").toSet

  test("deliberate stop() is final — no self-heal past it") {
    val others = engineThreads()
    val broker = new EngineBroker(stubSession())
    broker.start()
    assert(submit(broker, "ok", 10).exists(_.isRight))
    broker.stop()
    // post-stop a request is rejected at once, and no engine thread is
    // left alive to drain it
    val err = broker.submit("ok", None, 10, "test").get(1, TimeUnit.SECONDS)
    assert(err match {
      case Reply.Failed(e) => e.isInstanceOf[RejectedExecutionException]
      case _ => false
    })
    assert((engineThreads() -- others).isEmpty)
  }
}
