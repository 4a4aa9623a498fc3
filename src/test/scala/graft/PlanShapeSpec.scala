package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraphSession

/** Physical-plan shape pins for the scale-critical properties the
  * operators were designed around. These are the checks a plan review
  * does by hand with `.explain("formatted")` — pinned here so a
  * refactor that silently drops a pushdown, un-broadcasts a dimension,
  * or adds a shuffle to a map-only operator fails the suite instead of
  * shipping. String matching is kept loose (operator names, not plan
  * ids) to stay stable within the pinned Spark version. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q01 pushes the filter and prunes columns at the parquet scan") {
    val p = plan("q01_scan_filter")
    assert(p.contains("PushedFilters: ["), "filter must reach the scan")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "the literal predicate must be pushed, not evaluated post-scan")
    // projection is 4 columns + 2 filter columns; a full-width read is wrong
    assert(!p.contains("l_comment"), "unused columns must be pruned")
  }

  test("q03 broadcasts the filtered dimension and uses top-k, not global sort") {
    val p = plan("q03_join_topk")
    assert(p.contains("BroadcastHashJoin"),
      "customer (filtered, small) must broadcast against the fact side")
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT 10 over ORDER BY must be a TakeOrdered, not a full sort")
  }

  test("q47 stratified sample is map-only (no exchange before the sort)") {
    val p = plan("q47_stratified_sample")
    // the only exchange allowed is the final presentation orderBy:
    // Scan → Filter → Exchange(rangepartitioning) → Sort
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"row-pure sampling must not shuffle the corpus (found $exchanges exchanges)")
    assert(p.contains("rangepartitioning"),
      "the single exchange must be the presentation sort, not a data shuffle")
  }

  test("q20 exact dedup aggregates partially map-side") {
    val p = plan("q20_dedup_exact")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "hash groupBy must have a map-side partial aggregate")
    assert(
      p.indexOf("HashAggregate") != p.lastIndexOf("HashAggregate"),
      "expect two HashAggregate levels (partial + final)")
  }

  test("q28 brute-force cosine broadcasts the query side only") {
    val p = plan("q28_cosine_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the tiny query side must broadcast; the corpus must never shuffle for the join")
  }

  test("q06 rank filter plans the builtin partial+final WindowGroupLimit") {
    val p = plan("q06_window_topk")
    // Spark 4 pushes rank()<=k into map-side + reduce-side
    // WindowGroupLimit operators — the partial top-k a custom operator
    // would otherwise have to provide. This pin documents WHY the
    // library ships no bespoke top-k-per-key plan node: the builtin
    // already does the scale-critical work, and losing it (conf change,
    // window rewrite that breaks the pushdown pattern) should fail
    // loudly here.
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must plan as WindowGroupLimit, not a full per-key sort")
    assert(p.indexOf("WindowGroupLimit") != p.lastIndexOf("WindowGroupLimit"),
      "expect both Partial and Final WindowGroupLimit (map-side top-k)")
  }

  test("q60 range self-join is a bucketed equi-join, not a nested loop") {
    val p = plan("q60_event_near_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the |gap|<=d predicate must ride the bucket equi-join, not a nested loop")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "expected a hash/merge equi-join on (user_id, bucket)")
  }

  test("q57 copurchase aggregates with map-side partial combine") {
    val p = plan("q57_copurchase")
    assert(p.contains("partial_count"),
      "pair counting must combine map-side before the shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort")
  }

  test("q62 mixture resample broadcasts the rate table over a map-only corpus pass") {
    val p = plan("q62_mixture_resample")
    assert(p.contains("BroadcastHashJoin"),
      "the tiny per-source rate table must broadcast; the corpus side must not shuffle for the join")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join anywhere in the resample path")
  }

  test("q61 bpe pairs aggregate twice with map-side combine") {
    val p = plan("q61_bpe_merge_pairs")
    // corpus -> word-frequency (partial+final), then vocabulary-sized
    // bigram counting (partial+final): both aggregations must combine
    // map-side so only distinct keys cross each shuffle
    assert("partial_count|partial_sum".r.findAllIn(p).size >= 2,
      "both aggregation levels need map-side partial aggregates")
  }

  test("q49 pack chunks windows within buckets, never over the corpus") {
    val p = plan("q49_pack_chunks")
    // the per-row cumulative window must be hash-partitioned by bucket;
    // a global (single-partition) running-sum window over every doc
    // would be the bottleneck the two-level design avoids. The tiny
    // bucket-offset window is the only SinglePartition exchange allowed.
    assert(p.contains("hashpartitioning(bucket"),
      "big-table window must be bucket-partitioned")
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must join back as a broadcast")
  }

  test("q73 bucketed orders⋈lineitem joins with ZERO exchange below the join") {
    // disable broadcast so the plan is the one a 100 TB fact-fact join
    // gets: at toy scale Spark would broadcast the orders side (also
    // exchange-free, but not the shape under test)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("q73_bucketed_join")
      // both scans are bucketed by the join key with equal bucket
      // counts, so the SortMergeJoin must consume them directly: the
      // only exchanges allowed are ABOVE the join (agg + final sort).
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "co-located equi-join expected")
      assert(p.contains("Bucketed: true"),
        "both sides must report a bucketed scan")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        "neither join input may shuffle — bucketing must co-locate the join")
    } finally spark.conf.set(key, old)
  }

  test("q67 segment derivation is map-only; drop+rebuild is one window + one agg") {
    val p = plan("q67_segment_dedup")
    // segments come from array slices of the token array (Generate over
    // a projected expression), never an explode→regroup shuffle; the
    // corpus-wide frequency is a seg-keyed window and the boilerplate
    // drop rides the doc-keyed aggregation as a conditional aggregate —
    // exactly two exchanges (seg window, doc agg), no join, no anti-join
    // re-scan of the segment stream (r13 rewrite, guide §2.4)
    assert(p.contains("hashpartitioning(seg"),
      "segment frequency must be a seg-partitioned window")
    assert(!p.contains("LeftAnti") && !p.contains("Join"),
      "no join may touch the segment stream — the drop is a conditional aggregate")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4, // tree + details sections each list operators once
      s"expected exactly two hash exchanges (seg window, doc agg), saw $exchanges mentions:\n$p")
  }

  test("q69 redact is map-only up to the presentation sort") {
    val p = plan("q69_redact")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"row-pure redaction must not shuffle the corpus (found $exchanges exchanges)")
    assert(p.contains("rangepartitioning"),
      "the single exchange must be the presentation sort")
  }

  test("q72 outlier stats broadcast back onto an unshuffled event stream") {
    val p = plan("q72_value_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "the type-cardinality stats table must broadcast; the event side must not shuffle for the join")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join in the outlier path")
  }

  test("q76 per-type query prunes partitions at the scan") {
    val p = plan("q76_partition_pruned")
    // the event_type predicate must be a PartitionFilter (directory
    // pruning — other types' files are never opened), not a post-scan
    // Filter over the full dataset
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      "type predicate must prune partitions, not filter rows")
    assert(p.contains("(event_type#") && p.contains("= purchase"),
      "the literal type must appear in the partition filter")
  }

  test("q74 range-frame window shuffles once on user_id") {
    val p = plan("q74_running_hour_sum")
    assert(p.contains("hashpartitioning(user_id"),
      "window must partition by user, never a single global partition")
    assert(p.contains("RangeFrame"),
      "frame must be a RANGE frame on the time column")
  }

  test("q77 salted join shuffles on (orderkey, salt), right side replicated") {
    // broadcast off: at toy scale the replicated orders side would
    // broadcast, hiding the salted shuffle shape under test
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("q77_salted_join")
      assert(p.contains("__salt"),
        "join keys must include the salt column")
      assert(p.contains("Generate explode") || p.contains("explode"),
        "right side must replicate via explode over the salt range")
    } finally spark.conf.set(key, old)
  }

  test("q86 incremental dedup classifies in one fp-keyed window pass") {
    val p = plan("q86_incremental_dedup")
    // r13 rewrite (guide §2.4): history probe + in-batch keeper pick are
    // per-fp window aggregates over ONE fingerprint exchange — no semi
    // join, no anti join, no checkpoint, and both Window nodes must
    // share the single fp sort (exactly one hash exchange in the plan)
    assert(p.contains("hashpartitioning(fp"),
      "classification must run on a fingerprint-partitioned window")
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti") &&
      !p.contains("Join"),
      "no join may remain — history/batch classification is window-only")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, // tree + details sections each list it once
      s"expected ONE fp hash exchange, saw $exchanges mentions:\n$p")
  }

  test("q70 rollup computes all grouping sets in one Expand+aggregate pass") {
    val p = plan("q70_rollup_revenue")
    assert(p.contains("Expand"),
      "rollup must expand grouping sets inside one aggregation, not union three GROUP BYs")
    // one scan of the orders fact side only
    val ordersScans = "orders\\.parquet".r.findAllIn(p).size
    assert(ordersScans <= 1, s"fact table must be scanned once (found $ordersScans)")
  }

  test("q92 tfidf top-k pushes the rank limit into the window") {
    val p = plan("q92_tfidf_topterms")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must prune inside the window (WindowGroupLimit), not post-filter")
    // r13 rewrite (guide §2.4): df is a term-keyed window count over the
    // distinct (doc, term) tf table — no df groupBy, no tf⋈df join, no
    // checkpoint; the stream explodes once and is never re-expanded
    assert(!p.contains("Join"),
      "df must come from the term window, not a join back onto tf")
    val exploded = "Generate explode".r.findAllIn(p).size
    assert(exploded <= 2, // tree + details sections each list it once
      s"the token stream must explode exactly once (found $exploded mentions)")
    assert(p.contains("partial_count"),
      "the tf aggregation must combine map-side before the (doc, term) shuffle")
  }

  test("q98 session overlap joins on the bucket key, not nested-loop") {
    val p = plan("q98_session_overlap")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "interval overlap must run as the bucketed equi-join")
    // the only nested-loop allowed is the 1-row W-scalar cross join
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 2, s"no interval nested-loop beyond the scalar W attach (found $bnl)")
  }

  test("q99 attribution joins purchases to clicks on (user, bucket)") {
    val p = plan("q99_click_attribution")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "window join must be the directional bucketed equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "no nested-loop fallback for the time-range predicate")
  }

  test("q100 bloom filter broadcasts the bit set against the probe stream") {
    val p = plan("q100_bloom_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "the <=m-entry bit set must broadcast; the probe side must not shuffle for it")
  }

  test("q95 MAD medians shuffle the events once per selection pass") {
    val p = plan("q95_mad_outliers")
    // both medians come off (event_type)-partitioned windows; the final
    // gate joins tiny per-type scalars by broadcast
    assert(p.contains("BroadcastHashJoin"),
      "median/MAD scalars must broadcast back, not shuffle the stream")
  }

  test("q27 band join and candidate dedup never key on the signature arrays") {
    val p = plan("q27_simhash_pairs")
    // the banded candidate path moves (id, band) pairs and dedups on the
    // two id columns alone; the 64-element bit arrays join back only for
    // the hamming verify. Partitioning or grouping on the arrays is the
    // pre-slim shape whose shuffled bytes grow with corpus size.
    val hashParts = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashParts.nonEmpty, "expected shuffle exchanges in the plan")
    assert(!hashParts.exists(_.contains("bits")),
      "no exchange may partition on a signature array")
    val aggKeys = "HashAggregate\\(keys=\\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(!aggKeys.exists(_.contains("bits")),
      "candidate dedup must group on (a_id, b_id), not the arrays")
    assert(aggKeys.exists(k => k.contains("a_id") && k.contains("b_id")),
      "expected the id-only candidate dedup aggregate")
  }

  test("q45 as-of click attaches via one user shuffle + window, never a join") {
    val p = plan("q45_asof_click")
    // the as-of is a union of both event kinds + last-value carry over a
    // (user, time) window: ONE data shuffle on user_id, plus the
    // presentation sort — no join operator of any kind, so there is no
    // per-pair candidate blowup to control at scale
    assert(p.contains("Window"), "as-of carry must be a window, not a join")
    assert(!p.contains("Join"), "no join — the union+window shape is the pin")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"one user_id shuffle + one presentation sort expected (found $exchanges)")
    assert("hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p)
        .forall(_.group(1).contains("user_id")),
      "the only hash shuffle must key on user_id")
  }

  test("q66 sessionize runs both windows and the session agg on ONE user shuffle") {
    val p = plan("q66_sessions")
    // gap-split window, session-id window, and the per-session aggregate
    // all ride the same user_id hashpartitioning — re-shuffling between
    // them is the shape whose cost doubles with every added stage
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"one user_id shuffle + one presentation sort expected (found $exchanges)")
    assert("hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p)
        .forall(_.group(1).contains("user_id")),
      "windows and session agg must reuse the user_id partitioning")
  }

  test("q90 state intervals derive from a single user partitioning") {
    val p = plan("q90_state_intervals")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"one user_id shuffle + one presentation sort expected (found $exchanges)")
    assert("hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p)
        .forall(_.group(1).contains("user_id")),
      "interval windows and the dwell aggregate must share the user_id shuffle")
  }

  test("q105 latest-state compaction is a partial+final agg, no window sort") {
    val p = plan("q105_latest_state")
    // latest-wins = max_by struct aggregation with map-side combine; a
    // row_number-over-window formulation would sort every partition and
    // move every version of every key instead of one partial per mapper
    assert(!p.contains("Window"),
      "compaction must be an aggregate, not a ranked window")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"one key shuffle + one presentation sort expected (found $exchanges)")
  }

  test("q82 fuzzy match candidates come from the deletion-variant join") {
    val p = plan("q82_fuzzy_match")
    // the exact-superset candidate key is the exploded <=k-deletion
    // variant; a refactor back to the nation-only block self-join is
    // the measured super-linear shape (block width grows with the
    // table when the block-key cardinality is fixed)
    assert(p.contains("sig#"),
      "candidates must join on the deletion-variant signature column")
    assert(p.contains("Generate explode"),
      "variants must be exploded from the per-name array")
    assert(p.contains("levenshtein"),
      "the exact verify must remain in the plan")
    // the naive fallback shapes must never reappear: every join in the
    // plan is an equi-join on (nk, sig) / the key-expansion columns
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "no all-pairs operator anywhere below or above the candidate join")
    // the variant generator is codegen substring arithmetic, not a UDF
    // (a UDF would break whole-stage codegen in the widest map stage)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "deletion variants must stay native expressions")
  }

  test("q58 supplier overlap broadcasts the per-supplier size table") {
    val p = plan("q58_supplier_overlap")
    assert(p.contains("BroadcastHashJoin"),
      "catalog sizes must broadcast onto the shared-count pairs")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the per-part equi-join, never all-pairs")
  }

  // ---- Cypher read path: the plan of each read's result job, captured
  // through a QueryExecutionListener

  /** The QueryExecutions of the collects `body` runs whose plans name
    * `marker`, in run order. Listener events arrive asynchronously, so
    * a trailing marker query shows when every earlier one is in. */
  private def collects(marker: String)(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("__plan_marker_end").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def done = seen.toArray(Array.empty[QueryExecution])
        .exists(_.analyzed.output.exists(_.name == "__plan_marker_end"))
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, "listener events never arrived")
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[QueryExecution]).toSeq
      .filter(_.optimizedPlan.toString.contains(marker))
  }

  private def graph(label: String): GraphSession = {
    val s = new GraphSession(spark)
    s.execute(s"CREATE (:${label}C {name: 'c1', bal: '10'}), (:${label}C {name: 'c2', bal: '20'})")
    s.execute(s"CREATE (:${label}N {name: 'n1'}), (:${label}N {name: 'n2'})")
    s.execute(s"MATCH (c:${label}C {name: 'c1'}), (n:${label}N {name: 'n1'}) CREATE (c)-[:IN]->(n)")
    s.execute(s"MATCH (c:${label}C {name: 'c2'}), (n:${label}N {name: 'n2'}) CREATE (c)-[:IN]->(n)")
    s
  }

  test("cypher point read scans the node table once, with no join") {
    val s = graph("PsPt")
    val qes = collects("PsPtC") {
      val out = s.executeWithParams("MATCH (c:PsPtC {name: $name}) RETURN c.bal",
        Map("name" -> "c2"))
      assert(out.rows.map(_.info) == Seq("20"))
    }
    assert(qes.size == 1, s"one result job expected, saw ${qes.size}")
    val p = qes.head.executedPlan.toString
    // RETURN reads the properties the MATCH scan carried: no lookup
    // join back onto the node table, no seed cross join
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size == 1,
      s"the node table must be scanned exactly once:\n$p")
  }

  test("cypher 1-hop read joins the bound frontier before the right-endpoint filter") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val s = graph("PsHop")
    val qes = collects("PsHopC") {
      val out = s.execute("MATCH (c:PsHopC {name: 'c1'})-[:IN]->(n:PsHopN) RETURN n.name")
      assert(out.rows.map(_.info) == Seq("n1"))
    }
    assert(qes.size == 1, s"one result job expected, saw ${qes.size}")
    val plan = qes.head.optimizedPlan
    // pre-order: the outer join first
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 2,
      s"frontier join + right-endpoint join expected, and no RETURN lookup join:\n$plan")
    val (outer, inner) = (joins.head, joins(1))
    assert(outer.left.find(_ eq inner).nonEmpty, s"joins must nest:\n$plan")
    assert(inner.left.toString.contains("PsHopC") && inner.left.toString.contains("c1"),
      s"the bound frontier must drive the edge join:\n$plan")
    assert(inner.right.toString.contains("= IN") && !inner.toString.contains("PsHopN"),
      s"the inner join must see the edges only, before any right-endpoint filter:\n$plan")
    assert(outer.right.toString.contains("PsHopN"),
      s"the right-endpoint filter must join above the frontier join:\n$plan")
  }

  // ---- iterative graph algorithms: one Spark job per superstep

  /** The Spark jobs `body` starts, counted by a listener between two
    * marker jobs: listener events arrive asynchronously but in order,
    * so the end marker shows when every job of `body` is in. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"__jobs_marker_${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val state = new java.util.concurrent.atomic.AtomicInteger(0) // 0 before, 1 counting, 2 done
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case d if d == s"$tag-start" => state.set(1)
          case d if d == s"$tag-end"   => state.set(2)
          case _ => if (state.get == 1) jobs.incrementAndGet()
        }
    }
    def marker(which: String): Unit = {
      sc.setJobDescription(s"$tag-$which")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      body
      marker("end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (state.get != 2 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(state.get == 2, "listener events never arrived")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Jobs a program runs at sweeps = 3 minus those at sweeps = 2. */
  private def perSweep(run: Int => Unit): Int = jobsOf(run(3)) - jobsOf(run(2))

  test("PageRank, BFS, SSSP and LPA run exactly one Spark job per sweep") {
    import graft.algo.GraphAlgos
    // each of the four still changes some vertex in sweep 2 on this
    // graph, so sweeps = 3 runs exactly one sweep more than sweeps = 2
    val g = graft.core.GraphBuilder.fromTables(spark, sf).materialized
    assert(perSweep(n => GraphAlgos.pageRankInt(g, sweeps = n)) == 1, "pageRankInt")
    assert(perSweep(n => GraphAlgos.hopDistanceFrom(g, "Region", sweeps = n)) == 1,
      "hopDistanceFrom")
    assert(perSweep(n => GraphAlgos.ssspFrom(g, "Region",
      graft.operators.GraphOps.ssspTypeWeights, sweeps = n)) == 1, "ssspFrom")
    assert(perSweep(n => GraphAlgos.weightedLabelPropagation(g, maxSweeps = n)) == 1,
      "weightedLabelPropagation")
  }

  test("k-core and min-label components run exactly one Spark job per sweep") {
    import graft.algo.GraphAlgos
    import spark.implicits._
    // each still changes some vertex in sweep 2 on its graph: a
    // 30-node path at k = 2 peels one node from each end per sweep
    val path = graft.core.PropertyGraph(
      graft.core.PropertyGraph.nodesDf(spark,
        (0 until 30).map(i => (s"n$i", "N", Map.empty[String, String]))),
      graft.core.PropertyGraph.edgesDf(spark, (0 until 29).map(i =>
        (s"e$i", s"n$i", s"n${i + 1}", "E", Map.empty[String, String]))))
    assert(perSweep(n => GraphAlgos.kCore(path, 2, sweeps = n)) == 1, "kCore")
    // the far end of a 20-id chain takes 19 sweeps to reach label 1
    val chainIds = (1L to 20L).toDF("id")
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    assert(perSweep(n => GraphAlgos.minLabelClusters(chainIds, chain, n)) == 1,
      "minLabelClusters")
  }

  test("triangle enumeration over a materialized edge list checkpoints only its own frames") {
    import spark.implicits._
    import graft.core.Materialize.GraftMaterializeOps
    // K4 plus a pendant edge, materialized as copurchaseEdges hands it
    // over (q68, q96). Enumeration checkpoints the oriented edges and
    // the triangles: 7 jobs with their adaptive query stages. A second
    // checkpoint of the input would store the edge set twice and run
    // an 8th.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2").graftCheckpoint()
    assert(jobsOf(graft.operators.CooccurrenceOps.trianglesOfEdges(und)) == 7)
  }

  // ---- table reads

  test("a table's schema is inferred once a session: later reads and a graph build run no job") {
    Tables(spark, sf, "lineitem")
    graft.core.GraphBuilder.fromTables(spark, sf)
    assert(jobsOf(Tables(spark, sf, "lineitem")) == 0, "second lineitem read")
    assert(jobsOf {
      val g = graft.core.GraphBuilder.fromTables(spark, sf)
      g.nodes.queryExecution.executedPlan
      g.edges.queryExecution.executedPlan
    } == 0, "planned graph build")
  }
}
