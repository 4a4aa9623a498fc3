package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.cypher.{LegacyParser, Parser}
import graft.engine.{GraphSession, QueryOutcome}

/** One timed interval. `parent` is the id of the enclosing span (0 = none);
  * `rid` ties every span of one request or batch query together. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, rid: String, attrs: Map[String, String])

/** In-memory span store. Spans are kept until the run ends and then
  * written out with the run's raw results; nothing is printed while the
  * run measures. When disabled every call is a plain pass-through. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, name: String, startNs: Long, endNs: Long, parent: Long,
      rid: String, attrs: Map[String, String] = Map.empty): Unit =
    if (enabled) spans.add(Span(id, name, startNs, endNs, parent, rid, attrs))

  def span[T](name: String, parent: Long, rid: String,
      attrs: Map[String, String] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId()
      val t0 = System.nanoTime()
      try f finally record(id, name, t0, System.nanoTime(), parent, rid, attrs)
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-Spark-job record kept by [[JobListener]]. */
final case class JobRecord(jobId: Int, group: String, callSite: String,
    startNs: Long, var endNs: Long = 0L, var tasks: Long = 0L,
    var cpuNs: Long = 0L, var runMs: Long = 0L, var gcMs: Long = 0L,
    var shuffleWriteBytes: Long = 0L, var shuffleReadBytes: Long = 0L,
    var spillBytes: Long = 0L, var taskWaitMs: Long = 0L)

/** Attributes Spark jobs, tasks and shuffle bytes to the request or query
  * that caused them, through the job group the benchmark sets on the
  * calling thread. Jobs started without a group (the daemon's autosave
  * thread) keep their call site, which names the program file. */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    // the last stage's call site: its short form, then the program's own
    // frames of the long form (Spark sets no call-site job property)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map { s =>
      (s.name +: s.details.split("\n").toSeq.filter(_.contains("graft."))).mkString("\n")
    }.getOrElse("")
    jobs.put(e.jobId, JobRecord(e.jobId, group, site, System.nanoTime()))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.endNs = System.nanoTime() })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    job.foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        val submitted = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
        j.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      }
    }
  }

  def all: Seq[JobRecord] = jobs.values().asScala.toSeq.sortBy(_.jobId)
}

/** Outstanding client requests, so the engine-side span can be tied to
  * the client request that caused it. The broker drains its queue in
  * FIFO order, so the oldest outstanding request with the same text is
  * the one being executed. */
final class Outstanding {
  final case class Entry(rid: String, kind: String, clientSpan: Long)
  private val byKey = new ConcurrentHashMap[String, ConcurrentLinkedDeque[Entry]]()

  def add(key: String, e: Entry): Unit =
    byKey.computeIfAbsent(key, _ => new ConcurrentLinkedDeque[Entry]()).add(e)

  def claim(key: String): Option[Entry] =
    Option(byKey.get(key)).flatMap(d => Option(d.pollFirst()))
}

object Outstanding {
  def key(query: String, params: Option[Map[String, String]]): String =
    query + "\u0000" + params.map(_.toSeq.sorted.mkString(",")).getOrElse("-")
}

/** A [[GraphSession]] that times each execute call as an `engine.execute`
  * span, times a re-parse of the statement as `cypher.parse`, and sets the
  * Spark job group to the request id so jobs land on the right request.
  * Used only in traced runs. */
final class TracedSession(spark: SparkSession, tracer: Tracer, outstanding: Outstanding)
    extends GraphSession(spark) {

  override def execute(query: String): QueryOutcome =
    traced(query, None)(super.execute(query))

  override def executeWithParams(query: String, params: Map[String, String]): QueryOutcome =
    traced(query, Some(params))(super.executeWithParams(query, params))

  private def traced(query: String, params: Option[Map[String, String]])(
      run: => QueryOutcome): QueryOutcome = {
    val entry = outstanding.claim(Outstanding.key(query, params))
    val rid = entry.map(_.rid).getOrElse("untracked")
    val kind = entry.map(_.kind).getOrElse("other")
    val id = tracer.nextId()
    val t0 = System.nanoTime()
    tracer.span("cypher.parse", id, rid) {
      try {
        val up = query.trim.toUpperCase
        if (up.startsWith("MATCH (") && up.contains(" MERGE "))
          LegacyParser.parsePairwiseMerge(query.trim)
        else if (up.matches("(?s)(MATCH|CREATE|DELETE) (NODE|REL) .*"))
          LegacyParser.parse(query.trim)
        else Parser.parse(query.trim)
      } catch { case _: Exception => () }
    }
    val sc = spark.sparkContext
    sc.setJobGroup(rid, kind, interruptOnCancel = false)
    try run
    finally {
      sc.clearJobGroup()
      tracer.record(id, "engine.execute", t0, System.nanoTime(),
        entry.map(_.clientSpan).getOrElse(0L), rid, Map("kind" -> kind))
    }
  }
}
