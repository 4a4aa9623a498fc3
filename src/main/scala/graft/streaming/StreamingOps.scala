package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming ingest path for the `events` table — the
  * beyond-parity streaming surface (the reference has none, SURVEY
  * §2.9): event-time tumbling windows with watermarks, and custom
  * per-key session state via mapGroupsWithState.
  *
  * Batch/stream parity: [[hourlyCounts]] over a stream with an
  * availableNow trigger produces exactly the batch rollup of
  * RelationalOps.eventsHourly — same plan shape, incremental execution.
  */
object StreamingOps {

  /** The file-stream source requires a DIRECTORY; the testdata tables
    * are single parquet files, so stage a symlink dir (testdata is
    * read-only). Both the dir and the link are registered for JVM-exit
    * cleanup so long-lived sessions don't accumulate /tmp entries.
    *
    * A source that already IS a directory streams in place: the file
    * source natively handles part files AND partitioned (nested-dir)
    * layouts — which any flat symlink staging would silently break,
    * because partition-column values live in the directory names. (The
    * earlier listFiles-based staging also dropped nested dirs and NPE'd
    * on IO errors instead of raising.) The schema is the batch read's
    * ([[graft.Tables.schemaOf]]), so partition columns appear in the
    * stream schema exactly as they do in batch. */
  private def stagedFileStream(spark: SparkSession, parquetFile: String,
      prefix: String): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, parquetFile)
    val src = new java.io.File(parquetFile)
    if (src.isDirectory)
      spark.readStream.schema(schema).parquet(parquetFile)
    else {
      val dir = java.nio.file.Files.createTempDirectory(prefix)
      // deleteOnExit runs in REVERSE registration order: register the
      // dir first so the link is deleted before the (then-empty) dir.
      // The file-stream source does not follow a symlinked DIRECTORY
      // (it would silently stream zero files), so the FILE is linked
      // into a real temp dir instead.
      dir.toFile.deleteOnExit()
      val link = java.nio.file.Files.createSymbolicLink(
        dir.resolve(src.getName), src.toPath)
      link.toFile.deleteOnExit()
      spark.readStream.schema(schema).parquet(dir.toString)
    }
  }

  /** File-stream source over the events parquet. Timestamp-width-
    * agnostic: `ts` normalizes to LongType epoch-nanos `ts_ns` through
    * the SAME derivation as the batch reader (`Tables.deriveTsNs` —
    * NANOS-as-long, TIMESTAMP_NTZ, or TIMESTAMP all accepted), so
    * batch/stream parity is by construction. The `nanosAsLong` conf is
    * set before the schema lookup so a NANOS file both infers and
    * streams as LongType; the file-source `.schema(...)` is the raw
    * batch-read schema and the derivation runs on top of the stream. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.deriveTsNs(
        stagedFileStream(spark, s"$sfDir/events.parquet", "events_stream"))
      .withColumn("event_time", timestamp_micros(expr("ts_ns div 1000")))
  }

  /** Watermarked tumbling-window counts per event type. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Streaming exact dedup — the incremental counterpart of the batch
    * md5-groupBy dedup (TextOps.dedupExact / q20): keep the first
    * arrival of each key, drop later duplicates.
    * `dropDuplicatesWithinWatermark` bounds the dedup state to the
    * watermark horizon — at pipeline scale the state store holds only
    * the horizon's keys, not the full corpus history, which is what
    * makes continuous dedup of an unbounded ingest feasible. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      horizon: String = "2 hours"): DataFrame =
    events
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  case class SessionInput(user_id: Long, event_time: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
      n_events: Int, closed: Boolean)

  /** Custom per-user sessionization (30-min inactivity gap) with
    * flatMapGroupsWithState — the KeyValueGroupedDataset stateful path
    * a training pipeline uses for anything windowless. EVERY session
    * closed within a batch is emitted (a batch can close several for
    * one user — a map-shaped emit would silently drop all but one),
    * plus one Update-mode progress row for the still-open session. A
    * late cross-batch event can extend the open session backward in
    * start-time terms but never moves `last` backward — otherwise one
    * straggler would fake an inactivity gap for the events after it.
    * State is 3 numbers per user; an idle-session ProcessingTimeTimeout
    * is the production add-on for emitting final closes without
    * waiting for the user's next event. */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_time"))
      .as[SessionInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          val times = rows.map(_.event_time.getTime).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(times.head, times.head, 0))
          val closedOut = Seq.newBuilder[SessionOut]
          times.foreach { t =>
            if (t - st.last > gapMs) {
              closedOut += SessionOut(user, st.start, st.last, st.n, closed = true)
              st = SessionState(t, t, 1)
            } else st = SessionState(st.start, math.max(st.last, t), st.n + 1)
          }
          state.update(st)
          (closedOut.result() :+
            SessionOut(user, st.start, st.last, st.n, closed = false)).iterator
      }
  }

  case class FunnelInput(user_id: Long, event_type: String, ts_us: Long)
  case class FunnelState(v_us: Long, c_us: Long, p_us: Long)
  case class FunnelOut(user_id: Long, v_us: Option[Long], c_us: Option[Long],
      p_us: Option[Long], stage: Long)

  /** Streaming ORDERED-FUNNEL tracker — the incremental counterpart of
    * the batch q52 (TemporalOps.funnelStages): per user, the earliest
    * view, earliest click at-or-after it, earliest purchase at-or-after
    * that, held in one tiny fixed-size state record per user. Within a
    * batch, events are sorted by time and swept twice (the second pass
    * resolves equal-timestamp view/click ordering), so the final state
    * equals the batch answer when each user's events arrive within one
    * micro-batch or in nondecreasing event-time order across batches —
    * StreamingSpec pins exact parity against q52. A view arriving LATE
    * across batches cannot retroactively qualify an already-discarded
    * click (the state keeps no event history, by design); watermarked
    * buffering is the standard mitigation when that matters.
    *
    * Scale: state is 3 longs per user (no event history), the
    * mapGroupsWithState shape that holds at an unbounded event count. */
  def funnelStream(events: DataFrame): Dataset[FunnelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val NONE = Long.MaxValue
    events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .as[FunnelInput]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelOut](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelInput], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(NONE, NONE, NONE))
          // sort within the batch; re-sweep twice so a batch delivering
          // events out of stage order (purchase before its click) still
          // reaches the monotone fixpoint
          val evs = rows.toSeq.sortBy(e => (e.ts_us, e.event_type))
          for (_ <- 1 to 2; e <- evs) {
            if (e.event_type == "view" && e.ts_us < st.v_us)
              st = FunnelState(e.ts_us, st.c_us, st.p_us)
            if (e.event_type == "click" && st.v_us != NONE &&
                e.ts_us >= st.v_us && e.ts_us < st.c_us)
              st = FunnelState(st.v_us, e.ts_us, st.p_us)
            if (e.event_type == "purchase" && st.c_us != NONE &&
                e.ts_us >= st.c_us && e.ts_us < st.p_us)
              st = FunnelState(st.v_us, st.c_us, e.ts_us)
          }
          state.update(st)
          def opt(x: Long): Option[Long] = if (x == NONE) None else Some(x)
          val stage = if (st.p_us != NONE) 3L else if (st.c_us != NONE) 2L
            else if (st.v_us != NONE) 1L else 0L
          FunnelOut(user, opt(st.v_us), opt(st.c_us), opt(st.p_us), stage)
      }
  }

  /** STREAM-STREAM RANGE SELF-JOIN — the incremental counterpart of the
    * batch q60 (TemporalOps.eventNearPairs): pairs of events by the
    * same user within `gapUs` of each other, emitted continuously. The
    * event-time BETWEEN bounds + watermarks are what make this feasible
    * unbounded: Spark's stream-stream join keeps only the watermark
    * horizon (± gap) of each side in the state store and GCs rows whose
    * match window has passed — the exact `|gap| ≤ Δ` predicate then
    * rides the bounded candidate set, mirroring the batch operator's
    * bucket trick. StreamingSpec pins exact row parity vs the batch
    * plan at sf0.001. */
  def nearPairsStream(events: DataFrame,
      gapUs: Long = 4L * 3600 * 1000000): DataFrame = {
    val a = events.select(col("user_id"), col("event_id").as("a_id"),
      col("event_type").as("a_type"), col("event_time").as("a_time"),
      expr("ts_ns div 1000").as("a_us"))
      .withWatermark("a_time", "1 hour")
    val b = events.select(col("user_id").as("b_user"),
      col("event_id").as("b_id"), col("event_type").as("b_type"),
      col("event_time").as("b_time"), expr("ts_ns div 1000").as("b_us"))
      .withWatermark("b_time", "1 hour")
    a.join(b, expr(
      s"""user_id = b_user AND a_id < b_id
         |AND b_time BETWEEN a_time - INTERVAL $gapUs MICROSECOND
         |               AND a_time + INTERVAL $gapUs MICROSECOND
         |AND abs(b_us - a_us) <= ${gapUs}L""".stripMargin))
      .select(col("user_id"), col("a_id"), col("b_id"),
        col("a_type"), col("b_type"),
        (col("b_us") - col("a_us")).as("gap_us"))
  }

  /** STREAM-STREAM INTERVAL JOIN, two genuinely distinct streams:
    * multi-touch click attribution — every purchase joined to ALL of
    * the same user's clicks in the `windUs` before it (inclusive), the
    * streaming twin of the batch q99
    * (TemporalOps.clickAttribution; StreamingSpec pins exact parity).
    * The one-sided time bound [p−Δ, p] lets Spark GC click state as
    * soon as the purchase watermark passes click_time + Δ and purchase
    * state at its own watermark — bounded state for unbounded ingest,
    * the production attribution-join shape. */
  def attributionStream(events: DataFrame,
      windUs: Long = 3600L * 1000000): DataFrame = {
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("click_time"), expr("ts_ns div 1000").as("c_us"))
      .withWatermark("click_time", "1 hour")
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"),
        expr("ts_ns div 1000").as("p_us"))
      .withWatermark("purchase_time", "1 hour")
    p.join(c, expr(
      s"""user_id = c_user
         |AND click_time BETWEEN purchase_time - INTERVAL $windUs MICROSECOND
         |                   AND purchase_time
         |AND c_us <= p_us AND c_us >= p_us - ${windUs}L""".stripMargin))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (col("p_us") - col("c_us")).as("gap_us"))
  }

  /** STREAMING CHANGELOG COMPACTION — the Update-mode twin of the batch
    * q105 (TemporalOps.latestState): latest-wins state per (user,
    * event_type) maintained as a plain `max(struct(ts, id, payload))`
    * aggregation. No watermark and no custom state handler: the state
    * store holds exactly one struct per live key (bounded by key space,
    * not stream length), each micro-batch merges by the same struct
    * max, and the sink sees upserts — the materialized-view shape.
    * Exact batch parity pinned in StreamingSpec. */
  def latestStateStream(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"), col("event_id"),
        col("value").cast("decimal(18,4)").as("v"))
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("ts_us"), col("event_id"), col("v"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.ts_us").as("ts_us"), col("m.event_id").as("event_id"),
        col("m.v").cast("double").as("value"))

  /** Streaming z-score outlier gate — the scoring half of the batch
    * outlier operator (RelationalOps.valueOutliers / q72), run against
    * PRE-TRAINED per-type moments: the batch job computes mean/sd once
    * (exact decimal sums), the stream scores each arriving event
    * row-purely against the broadcast stats and passes only |z| >
    * `zCut`. This is the production split — train on the warehouse,
    * gate the firehose — and the streaming side is STATELESS: no
    * watermark, no state store, throughput scales with input rate, not
    * history. Batch/stream parity vs q72 is exact by construction
    * (same decimal-cast value, same broadcast stats, same rounded z —
    * pinned by StreamingSpec).
    *
    * `stats` must carry (event_type, mean, sd) — the aggregate half of
    * `valueOutliers`. */
  def outlierGateStream(events: DataFrame, stats: DataFrame,
      zCut: Double = 2.0): DataFrame =
    events
      .join(broadcast(stats), "event_type")
      // same zero-variance guard as the batch op, plus an explicit NaN
      // screen: valueStats clamps sd by contract, but this op accepts
      // ANY stats frame, and a NaN sd (e.g. from stddev_samp over a
      // singleton group) passes `sd > 0` because Spark orders NaN above
      // every number — safe by construction beats safe by contract
      .filter(col("sd") > 0 && !isnan(col("sd")))
      .withColumn("z", graft.operators.OracleSql.roundTo(
        (col("value").cast("decimal(18,4)").cast("double") - col("mean"))
          / col("sd"), 6))
      .filter(abs(col("z")) > zCut)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,4)").cast("double").as("value"),
        col("z"))

  /** Streaming HyperLogLog maintenance over the document token stream:
    * the row-pure (bucket, rank) extraction (shared with the batch
    * sketch, SketchOps.hllRanks) followed by an Update-mode
    * groupBy(bucket).max(rank). The streaming STATE is the sketch
    * itself — 256 small integers regardless of stream length, the
    * canonical unbounded-cardinality-tracking shape (no watermark
    * needed; the state never grows). Batch parity is exact: folding the
    * maintained bucket maxima through the shared estimate formula
    * yields bit-identically the batch estimate over the same tokens
    * (pinned in StreamingSpec). */
  def hllTokenStream(docs: DataFrame): DataFrame =
    graft.operators.SketchOps.hllRanks(
      docs.select(explode(graft.operators.TextOps.tokens(col("text"))).as("v")))
      .groupBy("bucket").agg(max("rank").as("mx"))

  /** Streaming Count-Min maintenance over the document token stream:
    * row-pure (row, bucket) extraction per token occurrence (shared
    * with the batch sketch, SketchOps.cmRowBuckets) + an Update-mode
    * count — the state is the 4×256 cell table, constant size, no
    * watermark, same shape as [[hllTokenStream]]. Folded cell counts
    * equal the batch cells over the same tokens exactly (integer
    * counts; pinned in StreamingSpec). */
  def cmCellStream(docs: DataFrame): DataFrame =
    graft.operators.SketchOps.cmRowBuckets(
      docs.select(explode(graft.operators.TextOps.tokens(col("text"))).as("tok")))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cell"))

  /** Streaming incremental dedup — the streaming twin of the batch
    * q86: arriving documents are fingerprinted (same md5-normalized
    * expression), dropped if the fingerprint exists in the STATIC
    * historical fingerprint table (stream-static anti-join — Spark
    * broadcasts or re-reads the static side per micro-batch; at scale
    * this is the bloom-filter-then-join slot), then deduped WITHIN the
    * stream by fingerprint (`dropDuplicates` state keyed by fp; bound
    * it with a watermark column in production via
    * dropDuplicatesWithinWatermark, as [[dedupStream]] does).
    *
    * Which duplicate of a fingerprint survives depends on arrival
    * order, so exact-parity with the batch op is on the SURVIVING
    * FINGERPRINT SET (identical by construction), not row ids —
    * pinned that way in StreamingSpec. */
  def incrementalDedupStream(docs: DataFrame, histFps: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.operators.TextOps.normFp(col("text")))
      .filter(col("fp").isNotNull) // match the batch op's NULL policy
      .join(histFps, Seq("fp"), "left_anti")
      .dropDuplicates("fp")
      .select("doc_id", "fp")

  /** File-stream source over the documents parquet — continuous corpus
    * ingest for the training-data pipeline ops. */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame =
    stagedFileStream(spark, s"$sfDir/documents.parquet", "documents_stream")

  /** Streaming ingest gate: token-count quality floor + deterministic
    * hash-stratified sampling, applied to a document stream. Both
    * predicates are row-pure (the EXACT column expressions the batch
    * ops q47/q50 use — TextOps.stratifiedKeep is shared code), so the
    * stream is stateless map-only: no watermark, no state store,
    * unbounded ingest at any scale, and batch/stream parity is exact
    * by construction (pinned by StreamingSpec).
    *
    * The quality floor is a STATIC threshold (computed offline by the
    * batch rank-based q50; a percentile can't be incrementalized
    * without state), which is how production pipelines run it. */
  def docGateStream(docs: DataFrame, minTokens: Long = 10L,
      rates: Map[String, Int] = Map("en" -> 25),
      defaultRate: Int = 75): DataFrame =
    docs
      .withColumn("n_tokens",
        size(graft.operators.TextOps.tokens(col("text"))).cast("bigint"))
      .filter(col("n_tokens") > minTokens)
      .filter(graft.operators.TextOps.stratifiedKeep(rates, defaultRate))
      .select("doc_id", "lang", "source", "n_tokens")

  /** Run a streaming DataFrame to completion (availableNow) into a
    * memory sink; returns the result table. The per-run checkpoint dir
    * (offsets, commits, state-store files — deleteOnExit can't remove
    * a non-empty tree) is registered for recursive JVM-exit cleanup so
    * a long-lived session running repeated queries doesn't accumulate
    * /tmp state, matching the stagedFileStream hygiene above. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_$name")
    ckptCleanupHook // ONE global hook; per-call hooks would accumulate
    ckptDirs.add(ckpt)
    runToMemoryResumable(spark, df, name, ckpt, outputMode)._1
  }

  /** [[runToMemory]] with a CALLER-OWNED checkpoint dir — the
    * restart/recovery path: a later call on the same (rebuilt) plan
    * with the same checkpoint RESUMES from the committed offsets and
    * the recovered state store instead of reprocessing, which is the
    * fault-tolerance contract every stateful op here leans on at
    * cluster scale. Returns the sink table and the run's input-row
    * count — the recovery proof: a resumed run reads only data that
    * arrived after the previous run's commit. The caller owns ckpt
    * cleanup (it must OUTLIVE single runs to be a restart). */
  def runToMemoryResumable(spark: SparkSession, df: DataFrame, name: String,
      ckpt: java.nio.file.Path,
      outputMode: OutputMode = OutputMode.Append): (DataFrame, Long) = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (spark.table(name), q.recentProgress.map(_.numInputRows).sum)
  }

  // one JVM-exit hook draining a queue of checkpoint dirs: registering
  // a hook per runToMemory call would grow the global shutdown-hook
  // set (and its lock contention) without bound in a long-lived
  // session running repeated streaming queries
  private val ckptDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val ckptCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm))
        p.delete(): Unit
      }
      var d = ckptDirs.poll()
      while (d != null) { rm(d.toFile); d = ckptDirs.poll() }
    }))
}
