package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalOps
import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("streaming_hourly_counts_match_batch") {
    val stream = StreamingOps.eventsStream(spark, sf)
    // Complete mode: append would hold back windows newer than the
    // final watermark (max event time - 2h) at end-of-stream
    val result = StreamingOps.runToMemory(spark,
      StreamingOps.hourlyCounts(stream), "hourly_test", OutputMode.Complete)
    val streamed = result.select("hour", "event_type", "cnt", "sum_value")
      .orderBy("hour", "event_type").collect().toSeq
    val batch = RelationalOps.eventsHourly(spark, sf)
      .select("hour", "event_type", "cnt", "sum_value")
      .orderBy("hour", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming_near_pairs_match_batch_range_join") {
    val stream = StreamingOps.eventsStream(spark, sf)
    val result = StreamingOps.runToMemory(spark,
      StreamingOps.nearPairsStream(stream), "near_pairs_test")
    val cols = Seq("user_id", "a_id", "b_id", "a_type", "b_type", "gap_us")
    val streamed = result.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("a_id", "b_id").collect().toSeq
    val batch = graft.operators.TemporalOps.eventNearPairs(spark, sf)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming_attribution_matches_batch_interval_join") {
    val stream = StreamingOps.eventsStream(spark, sf)
    val result = StreamingOps.runToMemory(spark,
      StreamingOps.attributionStream(stream), "attribution_test")
    val cols = Seq("user_id", "purchase_id", "click_id", "gap_us")
    val streamed = result.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("purchase_id", "click_id").collect().toSeq
    val batch = graft.operators.TemporalOps.clickAttribution(spark, sf)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("purchase_id", "click_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming_latest_state_matches_batch_compaction") {
    val stream = StreamingOps.eventsStream(spark, sf)
    val result = StreamingOps.runToMemory(spark,
      StreamingOps.latestStateStream(stream), "latest_state_test",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val cols = Seq("user_id", "event_type", "ts_us", "event_id", "value")
    val streamed = result.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("user_id", "event_type").collect().toSeq
    val batch = graft.operators.TemporalOps.latestState(spark, sf)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("user_id", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming_dedup_matches_batch_distinct") {
    // self-union doubles every event; watermarked dedup must restore
    // exactly the batch-distinct key set
    val stream = StreamingOps.eventsStream(spark, sf)
    val doubled = stream.union(StreamingOps.eventsStream(spark, sf))
    val deduped = StreamingOps.dedupStream(doubled, Seq("event_id"))
      .select("event_id")
    val out = StreamingOps.runToMemory(spark, deduped, "dedup_test")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchDistinct = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id").distinct().count()
    assert(out.count() == batchDistinct)
    assert(out.select("event_id").distinct().count() == batchDistinct)
  }

  // cluster-scale tables are DIRECTORIES of part files, often with
  // partition-column subdirectories; both layouts must stream the same
  // rows as the single-file testdata layout. The partitioned layout in
  // particular would break under any flat file-staging scheme, because
  // the partition-column values live in the directory names.
  test("streaming_source_handles_directory_and_partitioned_layouts") {
    val expected = RelationalOps.eventsHourly(spark, sf)
      .select("hour", "event_type", "cnt", "sum_value")
      .orderBy("hour", "event_type").collect().toSeq
    def streamedHourly(dir: String) = StreamingOps.runToMemory(spark,
        StreamingOps.hourlyCounts(StreamingOps.eventsStream(spark, dir)),
        s"layout_${dir.hashCode.abs}", OutputMode.Complete)
      .select("hour", "event_type", "cnt", "sum_value")
      .orderBy("hour", "event_type").collect().toSeq
    // canonical LongType raw-nanos ts, written by Spark itself
    val ev = Tables.events(spark, sf).withColumnRenamed("ts_ns", "ts")
    val flat = java.nio.file.Files.createTempDirectory("ev_dir").toString
    ev.repartition(4).write.mode("overwrite").parquet(s"$flat/events.parquet")
    assert(streamedHourly(flat) == expected)
    val parted = java.nio.file.Files.createTempDirectory("ev_part").toString
    ev.write.partitionBy("event_type").mode("overwrite")
      .parquet(s"$parted/events.parquet")
    assert(streamedHourly(parted) == expected)
  }

  test("streaming_doc_gate_matches_batch") {
    // the stateless ingest gate must emit exactly the batch filter's
    // rows: same quality floor, same md5-stratified keep set
    import graft.operators.TextOps
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.docGateStream(StreamingOps.documentsStream(spark, sf)),
      "doc_gate_test")
    val streamed = out.orderBy("doc_id").collect().toSeq
    val batch = Tables.documents(spark, sf)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("bigint"))
      .filter(col("n_tokens") > 10L)
      .filter(TextOps.stratifiedKeep())
      .select("doc_id", "lang", "source", "n_tokens")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming_outlier_gate_matches_batch_outliers") {
    // train on the batch side (exact decimal moments), gate the stream:
    // output must equal q72's batch outlier set exactly
    val stats = RelationalOps.valueStats(spark, sf)
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.outlierGateStream(
        StreamingOps.eventsStream(spark, sf), stats),
      "outlier_gate_test")
    val streamed = out.orderBy("event_id")
      .select("event_id", "event_type", "value", "z").collect().toSeq
    val batch = RelationalOps.valueOutliers(spark, sf)
      .select("event_id", "event_type", "value", "z").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming_hll_sketch_state_matches_batch_estimate") {
    import graft.operators.SketchOps
    // maintain the 256-cell sketch over the token stream (update mode
    // emits each bucket's running max; fold the LAST state per bucket)
    val sink = StreamingOps.runToMemory(spark,
      StreamingOps.hllTokenStream(StreamingOps.documentsStream(spark, sf)),
      "hll_stream_test", OutputMode.Update)
    val streamedState = sink.groupBy("bucket").agg(max("mx").as("mx"))
    val streamedEst = SketchOps.hllEstimateOf(spark, streamedState)
      .head().getDouble(0)
    // batch: same tokens, same extraction, same formula
    val batchTokens = Tables.documents(spark, sf)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("v"))
    val batchEst = SketchOps.hllEstimateOf(spark,
      SketchOps.hllRanks(batchTokens).groupBy("bucket").agg(max("rank").as("mx")))
      .head().getDouble(0)
    assert(streamedEst == batchEst,
      s"stream-maintained sketch must equal batch: $streamedEst vs $batchEst")
    assert(batchEst > 0.0)
  }

  test("streaming_countmin_cells_match_batch") {
    import graft.operators.{SketchOps, TextOps}
    val sink = StreamingOps.runToMemory(spark,
      StreamingOps.cmCellStream(StreamingOps.documentsStream(spark, sf)),
      "cm_stream_test", OutputMode.Update)
    // update mode emits running counts; the final state per cell is max
    val streamed = sink.groupBy("row", "bucket")
      .agg(max("cell").as("cell"))
      .orderBy("row", "bucket").collect().toSeq
    val batch = SketchOps.cmRowBuckets(
      Tables.documents(spark, sf)
        .select(explode(TextOps.tokens(col("text"))).as("tok")))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cell"))
      .orderBy("row", "bucket").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming_incremental_dedup_survivor_set_matches_batch") {
    import graft.operators.TextOps
    // history: the batch op's historical slice (doc_id % 5 != 4)
    val hist = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 =!= 4)
      .select(TextOps.normFp(col("text")).as("fp"))
      .distinct()
    // stream the batch slice only (same filter applied on the stream)
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.incrementalDedupStream(
        StreamingOps.documentsStream(spark, sf)
          .filter(col("doc_id") % 5 === 4),
        hist),
      "inc_dedup_stream_test")
    val streamedFps = out.select("fp").collect().map(_.getString(0)).toSet
    // batch q86: surviving fingerprints are the 'kept' rows' fps
    val batchFps = TextOps.incrementalDedup(spark, sf)
      .filter(col("status") === "kept")
      .select("fp").collect().map(_.getString(0)).toSet
    assert(streamedFps == batchFps)
    assert(streamedFps.nonEmpty)
    // one survivor per fingerprint
    assert(out.count() == streamedFps.size)
  }

  test("streaming_funnel_matches_batch") {
    import graft.operators.TemporalOps
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.funnelStream(
        StreamingOps.eventsStream(spark, sf).drop("event_time")).toDF(),
      "funnel_test", OutputMode.Update)
    val streamed = out.orderBy("user_id")
      .select("user_id", "v_us", "c_us", "p_us", "stage").collect().toSeq
    val batch = TemporalOps.funnelStages(spark, sf)
      .orderBy("user_id").collect().toSeq
    assert(streamed.map(_.toString) == batch.map(_.toString))
    assert(streamed.nonEmpty)
  }

  // A batch that closes SEVERAL sessions for one user must emit every
  // one of them (a map-shaped emit dropped all but the last, losing
  // sessions forever since state no longer held them), and a late
  // cross-batch straggler must never move the open session's `last`
  // backward (that would fake an inactivity gap for events after it).
  test("streaming_sessionize_emits_all_closes_and_absorbs_stragglers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val h = 3600L * 1000
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = StreamingOps.sessionize(
      ms.toDF().toDF("user_id", "event_time")).toDF()
    val q = sessions.writeStream.format("memory").queryName("sess_multi")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_sess_multi").toString)
      .start()
    try {
      // one batch, two 30-min-gap closes: sessions at 0h, 1h, open at 3h
      ms.addData((1L, ts(0)), (1L, ts(h)), (1L, ts(3 * h)))
      q.processAllAvailable()
      val closed1 = spark.table("sess_multi").filter(col("closed"))
        .select("session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(closed1 == Set((0L, 0L, 1), (h, h, 1)),
        "every session closed in the batch must be emitted")
      // straggler 25 min BEFORE the open session's last event, then a
      // follow-up 10 min after it: both merge; no false close
      ms.addData((1L, ts(3 * h - 25 * 60 * 1000)), (1L, ts(3 * h + 10 * 60 * 1000)))
      q.processAllAvailable()
      val t = spark.table("sess_multi")
      assert(t.filter(col("closed")).count() == 2,
        "a straggler must not fake an inactivity gap")
      val open = t.filter(!col("closed")).orderBy(col("n_events").desc).head()
      assert(open.getLong(1) == 3 * h && open.getLong(2) == 3 * h + 10 * 60 * 1000
        && open.getInt(3) == 3,
        "open session absorbs the straggler without moving last backward")
    } finally q.stop()
  }

  test("streaming_sessionize_produces_sessions") {
    val stream = StreamingOps.eventsStream(spark, sf)
    val sessions = StreamingOps.runToMemory(spark,
      StreamingOps.sessionize(stream).toDF(), "sessions_test", OutputMode.Update)
    assert(sessions.count() > 0)
    // session invariants: start <= end, n_events >= 1 for open sessions
    assert(sessions.filter(col("session_start") > col("session_end")).count() == 0)
  }
}
