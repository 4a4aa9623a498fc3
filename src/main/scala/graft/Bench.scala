package graft
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Driver benchmark: one JSON line with per-query seconds.
  *
  * Methodology (fixed in r3, warm-min added in r7): queries run in
  * FIXED sorted order; `cold` is the 1st pass so one-time costs
  * (graph build, LPA chain, IVF training — shared via per-dataset
  * caches) stay visible instead of landing on whichever query a
  * hash-ordered Map happened to put first, and `queries` reports the
  * per-query MIN of two steady-state passes. Why min-of-two: the
  * steady-state time of a fixed cached plan is a constant plus
  * ambient noise, so the min estimates the constant; single-pass warm
  * numbers on this shared host have shown one-off 5-27× spikes on
  * map-only cached plans (r6 q50/q51, r7 q83 — each adjudicated as
  * load, not plan) that a second sample removes. A real regression
  * slows EVERY pass, so the min cannot hide one. No Kryo: every
  * RDD-shuffle stage moves flat primitive tuples since the LPA rewrite,
  * so the serializer choice is immaterial (and Kryo was measured +70%
  * on the old map-shaped loop, contradicting its original rationale).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER: same cluster-smoke override as Verify
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val cold = names.map(n => n -> timeOne(n))
    val warm1 = names.map(n => n -> timeOne(n))
    val warm2 = names.map(n => n -> timeOne(n))
    // min-of-two steady-state; a thrown query (-1) stays -1 on any pass
    val warm = warm1.zip(warm2).map { case ((n, a), (_, b)) =>
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    println(renderLine(warm, cold, sfDir))
    spark.stop()
  }

  /** The one JSON line the driver captures. The capture keeps only the
    * LAST ~2000 chars, and each full 101-query dict is ~3500 chars — so
    * any full dict placed after a number pushes that number out of the
    * capture (r7 lost the warm numbers to head-truncation; a fix that
    * repeated the warm dict after cold_total would have lost cold_total
    * the same way). The line therefore ENDS with a compact
    * self-contained block — top-10 warm, top-10 cold, failure count,
    * both totals — that fits entirely inside the tail; the full dicts
    * come first for untruncated readers. BenchLineSpec pins the
    * tail-survivability property.
    */
  def renderLine(warm: Seq[(String, Double)], cold: Seq[(String, Double)], sfDir: String): String = {
    def obj(fields: Seq[(String, Any)]) = ListMap(fields: _*).asJava
    def top10(rs: Seq[(String, Double)]) = obj(rs.filter(_._2 >= 0).sortBy(-_._2).take(10))
    val total = warm.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    val failed = warm.count(_._2 < 0)
    Json.mapper.writeValueAsString(obj(Seq("metric" -> "total", "value" -> total,
      "unit" -> "sec", "queries" -> obj(warm), "cold" -> obj(cold),
      "warm_top" -> top10(warm), "cold_top" -> top10(cold), "failed" -> failed,
      "cold_total" -> coldTotal, "warm_total" -> total, "sf" -> sfDir)))
  }
}
