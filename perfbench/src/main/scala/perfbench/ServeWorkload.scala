package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.Serve
import graft.core.GraphBuilder
import graft.engine.GraphSession
import graft.io.GraphStore

/** One request of the generated stream with its expected answer, as
  * canonical JSON computed outside the engine (see gen.py). */
final case class Req(job: Int, kind: String, query: String,
    params: Option[Map[String, String]], arg: String, expected: String) {
  def isWrite: Boolean = ServeWorkload.WriteKinds(kind)
  def body: String =
    BenchMain.mapper.writeValueAsString(Map("query" -> query) ++ params.map("params" -> _))
}

/** One completed request as the client saw it. */
final case class Sample(rid: String, client: Int, req: Req, sendNs: Long,
    recvNs: Long, status: Int, body: String, phase: String)

/** Outcome of checking one answer: the error (None = correct) and the
  * number of rows the answer carried. */
final case class Checked(error: Option[String], rows: Int)

/** Closed-loop HTTP serving workload against `graft.Serve.Daemon`.
  *
  * Set-up: build the FK graph from the tables and save it as a snapshot
  * in the run's fresh directory; then, `setupReps` times, start a daemon
  * that loads the snapshot and wait for its first answer (the last daemon
  * is the one measured); then the clients send the stream's first
  * `warmupJobs` jobs, so JIT and Spark's codegen are warm. Measurement:
  * `clients` threads, each sending its next request only after the
  * previous reply, for `seconds` seconds; a free client takes the next
  * job of the stream (one read, or a write cycle it sends in order).
  * Answers are checked after the clock stops. */
final class ServeWorkload(spark: SparkSession, dataDir: String, workDir: String,
    requests: Seq[Req], warmupJobs: Int, clients: Int, seconds: Double,
    setupReps: Int, tracer: Tracer, autosaveSecs: Long) {

  private val outstanding = new Outstanding
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val mapper = BenchMain.mapper

  private def newSession(): GraphSession =
    if (tracer.enabled) new TracedSession(spark, tracer, outstanding)
    else new GraphSession(spark)

  def run(): Seq[(String, Any)] = {
    val jobs = requests.groupBy(_.job).toSeq.sortBy(_._1).map(_._2).toIndexedSeq

    // import: build the graph from the tables and save it as a snapshot
    val i0 = System.nanoTime()
    val g = tracer.span("core.graph_build", 0, "setup") {
      GraphBuilder.fromTables(spark, dataDir).materialized
    }
    val snap = s"$workDir/snapshot"
    tracer.span("io.snapshot_save", 0, "setup") { GraphStore.save(g, snap) }
    val importS = (System.nanoTime() - i0) / 1e9

    // daemon start on the snapshot until its first answer, repeated; the
    // last daemon is the one measured
    val probe = requests.find(_.kind == "point").get
    var daemon: Serve.Daemon = null
    var session: GraphSession = null
    var port = 0
    val setupSamples = Vector.newBuilder[Sample]
    val startTimes = (0 until setupReps).map { rep =>
      if (daemon != null) daemon.stop()
      val t0 = System.nanoTime()
      session = newSession()
      daemon = tracer.span("io.snapshot_load", 0, s"setup$rep") {
        new Serve.Daemon(session, snap, autosaveSecs = autosaveSecs)
      }
      port = daemon.start()._1
      setupSamples += send(port, 0, probe, "setup")
      (System.nanoTime() - t0) / 1e9
    }
    // the first jobs, sent by the clients as in the measurement before the
    // clock starts; their time is part of the set-up
    val w0 = System.nanoTime()
    val warm = drive(port, jobs.take(warmupJobs), Long.MaxValue, "warmup", repeat = false)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val startCounts = Seq(session.nodeCount, session.relationshipCount)

    val t0 = System.nanoTime()
    val measured =
      drive(port, jobs.drop(warmupJobs), t0 + (seconds * 1e9).toLong, "measure", repeat = true)
    val wallS = (measured.filter(_.phase == "measure").map(_.recvNs).max - t0) / 1e9

    daemon.stop()
    // the stopped daemon's session still holds the served graph
    val heapMb = ServeWorkload.retainedHeapMb()
    val endCounts = Seq(session.nodeCount, session.relationshipCount)
    val snapshots = listSnapshots(snap)

    val all = setupSamples.result() ++ warm ++ measured
    val checked = all.map(s => s -> check(s))
    Seq(
      "import_s" -> importS,
      "start_s" -> startTimes,
      "warmup_s" -> warmupS,
      "measure_wall_s" -> wallS,
      "retained_heap_mb" -> heapMb,
      "start_counts" -> startCounts,
      "end_counts" -> endCounts,
      "snapshots" -> snapshots,
      "samples" -> checked.map { case (s, c) =>
        Map("rid" -> s.rid, "client" -> s.client, "kind" -> s.req.kind,
          "phase" -> s.phase, "send_ns" -> s.sendNs, "recv_ns" -> s.recvNs,
          "status" -> s.status, "bytes" -> s.body.length.toLong,
          "rows" -> c.rows, "error" -> c.error.orNull)
      })
  }

  /** Closed-loop clients over `jobs`: each free client takes the next job
    * and sends its requests in order, until the jobs run out (or, with
    * `repeat`, from the first job again) or, for a job not yet begun, the
    * deadline passes. Cycles of the write script are net-zero, so a
    * repeated one leaves the graph as it was. A write cycle the deadline
    * cut is closed by its own DETACH DELETE, sent in phase "cleanup", so
    * the graph returns to its size. */
  private def drive(port: Int, jobs: IndexedSeq[Seq[Req]], deadline: Long,
      phase: String, repeat: Boolean): Seq[Sample] = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var j = next.getAndIncrement()
        while ((repeat || j < jobs.size) && System.nanoTime() < deadline) {
          val job = jobs(j % jobs.size)
          var sent = 0
          while (sent < job.size && (sent == 0 || System.nanoTime() < deadline)) {
            samples.add(send(port, c, job(sent), phase))
            sent += 1
          }
          if (sent < job.size)
            samples.add(send(port, c, job.last, "cleanup"))
          j = next.getAndIncrement()
        }
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    samples.asScala.toSeq
  }

  /** Snapshot versions the daemon's autosave wrote (the set-up snapshot
    * is the first one): (count, total bytes). */
  private def listSnapshots(root: String): Map[String, Long] = {
    val dirs = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
    Map("count" -> dirs.size.toLong, "bytes" -> dirs.map(size).sum)
  }

  private def send(port: Int, client: Int, r: Req, phase: String): Sample = {
    val rid = s"r${ServeWorkload.ridCounter.incrementAndGet()}"
    val clientSpan = tracer.nextId()
    if (tracer.enabled)
      outstanding.add(Outstanding.key(r.query, r.params),
        outstanding.Entry(rid, r.kind, clientSpan))
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/query"))
      .timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
    val t0 = System.nanoTime()
    val (status, body) =
      try {
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
    val t1 = System.nanoTime()
    tracer.record(clientSpan, "api.request", t0, t1, 0, rid,
      Map("kind" -> r.kind, "status" -> status.toString, "bytes" -> body.length.toString))
    Sample(rid, client, r, t0, t1, status, body, phase)
  }

  /** Checks one answer. The response is
    * reduced to the same JSON shape gen.py gives the expected answer;
    * account balances become numbers, since the engine renders them as
    * strings with Java's double formatting. */
  private def check(s: Sample): Checked = {
    if (s.status != 200) return Checked(Some(s"HTTP ${s.status}: ${s.body.take(200)}"), 0)
    val f = JsonNodeFactory.instance
    try {
      val root = mapper.readTree(s.body)
      val rows = root.get("rows").elements().asScala.toSeq
      val infos = rows.filter(_.path("kind").asText() == "info").map(_.path("info").asText())
      def strings(xs: Seq[String]): JsonNode = { val a = f.arrayNode(); xs.foreach(a.add); a }
      val got: JsonNode = s.req.kind match {
        case "point" => val a = f.arrayNode(); infos.foreach(x => a.add(x.toDouble)); a
        case "hop1" | "varlen" | "scan" | "set" => strings(infos)
        case "hop2" => strings(infos.sorted)
        case "legacy" =>
          val a = f.arrayNode()
          rows.foreach { r =>
            val o = r.path("metadata").deepCopy[JsonNode]().asInstanceOf[ObjectNode]
            o.put("acctbal", o.path("acctbal").asText().toDouble)
            a.add(o)
          }
          a
        case "create" =>
          val a = f.arrayNode()
          rows.foreach(r => a.add(strings(Seq(r.path("label").asText(),
            r.path("metadata").path("n").asText()))))
          a
        case "merge" => f.numberNode(root.path("affected_relationships").asInt(-1))
        case "delete" => f.numberNode(rows.size)
        case other => return Checked(Some(s"unknown kind $other"), rows.size)
      }
      val want = mapper.readTree(s.req.expected)
      Checked(if (got == want) None else Some(s"${s.req.kind}: got $got want $want"), rows.size)
    } catch {
      case e: Exception => Checked(Some(s"${s.req.kind}: unreadable answer: ${e.getMessage}"), 0)
    }
  }
}

object ServeWorkload {
  val WriteKinds: Set[String] = Set("create", "set", "merge", "delete")
  private val ridCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Driver heap after full collections, in MiB. The pauses let Spark's
    * ContextCleaner drop blocks whose owners the first collection freed. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Request file: one request per line, tab-separated
    * `job kind query params arg expected`, params as `k=v` pairs
    * joined by U+001F or `-` when the request carries no params field. */
  def readRequests(path: String): Seq[Req] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      val params =
        if (f(3) == "-") None
        else Some(f(3).split('\u001f').filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap)
      Req(f(0).toInt, f(1), f(2), params, f(4), f(5))
    }
}
