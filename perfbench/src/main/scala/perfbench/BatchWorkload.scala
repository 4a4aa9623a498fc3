package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.SparkEntry
import graft.core.BoundedCache

/** One run of a batch query: from the cache flush before it (`flushNs`)
  * through its start and end, its error if it threw, and its result's
  * size and checksum. */
final case class QueryRun(pass: Int, query: String, flushNs: Long, startNs: Long,
    endNs: Long, error: String, rows: Long, checksum: String)

/** Cold passes over a fixed list of `SparkEntry.queries`.
  *
  * Set-up (repeated `setupReps` times): read every table and count the
  * rows of all of them in one job, which also warms Spark SQL's parquet
  * scan. Then `warmupPasses` passes over every query, so the JIT and
  * Spark's code generation are warm before the clock starts; their time
  * is part of the set-up. Measurement: passes back to back for `seconds`
  * seconds (at least one), each in the next of the `orders` the seed
  * chose. Every query starts with
  * `BoundedCache.invalidateAll()`, so it reads no artifact an earlier
  * query cached and its time does not depend on the order. Each query is
  * timed to a full `collect()` of its result; the measured time is that of
  * the queries with their cache flushes. */
final class BatchWorkload(spark: SparkSession, dataDir: String,
    orders: Seq[Seq[String]], warmupPasses: Int, seconds: Double, setupReps: Int,
    tracer: Tracer) {

  def run(): Seq[(String, Any)] = {
    val setupTimes = (0 until setupReps).map { rep =>
      val t0 = System.nanoTime()
      tracer.span("io.table_load", 0, s"setup$rep") {
        BatchWorkload.Tables.map(t => graft.Tables(spark, dataDir, t).select(lit(1)))
          .reduce(_ union _).count()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    // a result is reduced to its checksum at once, so the retained heap
    // does not grow with the number of passes
    def runQuery(pass: Int, q: String, rid: String, parent: Long): QueryRun = {
      val f0 = System.nanoTime()
      tracer.span("core.invalidate_all", parent, rid) { BoundedCache.invalidateAll() }
      sc.setJobGroup(rid, q, interruptOnCancel = false)
      val q0 = System.nanoTime()
      val (rows, err) =
        try (SparkEntry.queries(q)(spark, dataDir).collect(), null)
        catch { case e: Throwable => (Array.empty[Row], String.valueOf(e.getMessage)) }
      val q1 = System.nanoTime()
      sc.clearJobGroup()
      tracer.record(tracer.nextId(), "batch.query", q0, q1, parent, rid, Map("query" -> q))
      QueryRun(pass, q, f0, q0, q1, err, rows.length.toLong, BatchWorkload.checksum(rows))
    }

    val w0 = System.nanoTime()
    val warmup = (0 until warmupPasses).flatMap(w => orders(w).map(q => runQuery(w, q, s"w$w.$q", 0)))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val results = Vector.newBuilder[QueryRun]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val order = orders((warmupPasses + pass) % orders.size)
      val passSpan = tracer.nextId()
      val p0 = System.nanoTime()
      order.foreach { q => results += runQuery(pass, q, s"p$pass.$q", passSpan) }
      val p1 = System.nanoTime()
      tracer.record(passSpan, "batch.pass", p0, p1, 0, s"p$pass")
      pass += 1
    }
    // read while the last query's artifacts are still cached
    val heapMb = ServeWorkload.retainedHeapMb()
    BoundedCache.invalidateAll()
    val queries = results.result()
    Seq("setup_s" -> setupTimes, "warmup_s" -> warmupS, "warmup" -> warmup,
      "measure_wall_s" -> queries.map(q => q.endNs - q.flushNs).sum / 1e9,
      "retained_heap_mb" -> heapMb, "queries" -> queries)
  }
}

object BatchWorkload {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** For `record.py`: run each query once, cold, and write its result as
    * parquet under `<work>/results/<query>`, the DuckDB rendering of the
    * queries to `<work>/oracle_sql.json`, and return the checksums. */
  def dump(spark: SparkSession, dataDir: String, queries: Seq[String],
      work: String): Seq[(String, Any)] = {
    val sums = queries.map { q =>
      BoundedCache.invalidateAll()
      val df = SparkEntry.queries(q)(spark, dataDir)
      val sum = checksum(df.collect())
      df.coalesce(1).write.mode("overwrite").parquet(s"$work/results/$q")
      q -> sum
    }
    val oracle = (SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, dataDir))
      .filter { case (q, _) => queries.contains(q) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
      BenchMain.mapper.writeValueAsString(oracle))
    Seq("measure_wall_s" -> 0.0, "checksums" -> sums.toMap)
  }

  /** Order-insensitive digest of a result: every row rendered as text
    * (floating-point values to 9 significant digits, so the last bits of
    * a parallel float sum cannot flip it), rows sorted, then SHA-256. */
  def checksum(rows: Array[Row]): String = {
    def fmt(pattern: String, d: Double): String =
      String.format(java.util.Locale.ROOT, pattern, Double.box(d))
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else fmt("%.9g", d)
      case f: Float => if (f.isNaN) "NaN" else fmt("%.6g", f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case a: Array[Byte] => a.map(b => f"$b%02x").mkString
      case other => other.toString
    }
    val lines = rows.map(r => r.toSeq.map(render).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString.take(16) + s"/${rows.length}"
  }
}
