package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** Dev tool: wall-clock the streaming surface over a full events
  * file-stream drain (AvailableNow trigger), for throughput records —
  * the streaming twin of QBench. Rows/sec here is events ingested
  * divided by end-to-end drain time including state management, so it
  * understates a long-lived micro-batch pipeline (which amortizes the
  * source listing + sink setup this pays once).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sfx10 tools/run.sh graft.StreamBench
  *        sessionize hourly latest
  */
object StreamBench {

  /** Drain to the NOOP sink, not the memory sink: MemorySink collects
    * every output row into DRIVER memory, so ops whose output is
    * corpus-sized (dedup emits all 10 M uniques at the 100x dataset)
    * die on spark.driver.maxResultSize — a harness artifact, since a
    * real pipeline writes to a distributed sink. Noop measures the
    * pipeline (source + state + shuffle) and discards rows executor-
    * side. Returns rows-out from the sink's progress metrics. */
  private def drainToNoop(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode): Long = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"sbck_$name")
    val q = df.writeStream.format("noop").outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER: same cluster-smoke override as Verify/Bench
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_STATE_STORE=rocksdb → measure the disk-backed scale
    // path (RocksDbStateSpec pins result parity; this measures cost)
    if (sys.env.get("SPARK_GRAFT_STATE_STORE").exists(_.equalsIgnoreCase("rocksdb")))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // count through the width-agnostic reader: a plain read crashes on
    // TIMESTAMP(NANOS) events data before the stream path ever runs
    val nEvents = Tables.events(spark, sfDir).count()
    val names = if (args.nonEmpty) args.toSeq else Seq("sessionize", "hourly", "latest")
    for (name <- names) {
      val t0 = System.nanoTime()
      val stream = StreamingOps.eventsStream(spark, sfDir)
      val (df, mode) = name match {
        case "sessionize" =>
          (StreamingOps.sessionize(stream).toDF, OutputMode.Update())
        case "hourly" =>
          (StreamingOps.hourlyCounts(stream), OutputMode.Complete())
        case "latest" =>
          (StreamingOps.latestStateStream(stream), OutputMode.Complete())
        case "dedup" =>
          (StreamingOps.dedupStream(stream, Seq("event_id")), OutputMode.Append())
        case "nearpairs" =>
          (StreamingOps.nearPairsStream(stream), OutputMode.Append())
        case "attribution" =>
          (StreamingOps.attributionStream(stream).toDF, OutputMode.Append())
        case other => sys.error(s"unknown stream op: $other")
      }
      val rows = drainToNoop(spark, df, name, mode)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name: $sec%.2f s, $rows rows out, $nEvents events in, " +
        f"${nEvents / sec}%.0f events/s")
    }
    spark.stop()
  }
}
