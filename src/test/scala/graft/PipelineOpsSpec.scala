package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TemporalOps, TextOps}

/** Specs for the r3 training-pipeline additions: backward as-of join
  * (q45), train/test contamination (q46), hash-stratified sampling
  * (q47). Bit-exactness vs DuckDB is pinned by the Verify oracle; these
  * pin the operator semantics on hand-built inputs and the invariants
  * the oracle can't express. */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("asof_join_backward_semantics") {
    import spark.implicits._
    val left = Seq( // (user_id, ts_us, event_id)
      (1L, 10L, 100L), (1L, 20L, 101L), (1L, 5L, 102L),
      (2L, 10L, 103L), (3L, 10L, 104L))
      .toDF("user_id", "ts_us", "event_id")
    val right = Seq( // (user_id, ts_us, click_id)
      (1L, 10L, 7L), (1L, 10L, 8L), (1L, 15L, 9L), (2L, 1L, 10L))
      .toDF("user_id", "ts_us", "click_id")
    val out = TemporalOps.asOfJoinBackward(left, right, "user_id", "ts_us")
      .select("event_id", "click_id", "ts_us_r")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map { case (k, v, t) => k -> ((v, t)) }.toMap
    // equal time matches (<=); among equal-time clicks the max id wins
    assert(out(100L) == ((Some(8L), Some(10L))))
    // strictly-later click excluded; latest at-or-before wins
    assert(out(101L) == ((Some(9L), Some(15L))))
    // nothing at-or-before -> nulls
    assert(out(102L) == ((None, None)))
    // per-key isolation
    assert(out(103L) == ((Some(10L), Some(1L))))
    assert(out(104L) == ((None, None)))
  }

  test("event_near_pairs_bucket_edges_exact") {
    import spark.implicits._
    val gap = 100L
    val ev = Seq( // (event_id, user_id, event_type, ts_us)
      (1L, 1L, "a", 1000L),
      (2L, 1L, "b", 1100L),  // exactly gap from #1: included (<=)
      (3L, 1L, "c", 1101L),  // gap+1 from #1: excluded; 1 from #2: included
      (4L, 1L, "d", 1199L),  // adjacent-bucket pair with #2 (buckets 11/11? 1199 div 100 = 11, 1100 div 100 = 11) and #3
      (5L, 2L, "a", 1100L),  // other user: never pairs
      (6L, 1L, "e", 5000L))  // far away: no pairs
      .toDF("event_id", "user_id", "event_type", "ts_us")
    val out = TemporalOps.eventNearPairsOf(ev, gap)
      .select("a_id", "b_id", "gap_us")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 2L, 100L),          // boundary inclusion, crosses buckets 10->11
      (2L, 3L, 1L), (2L, 4L, 99L),
      (3L, 4L, 98L)))
    // exactly-once: no duplicates even for adjacent-bucket candidates
    val all = TemporalOps.eventNearPairsOf(ev, gap).collect()
    assert(all.length == all.distinct.length && all.length == 4)
  }

  test("curated_training_shards_compose_gate_dedup_resample_pack") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("curated").toString
    val (n, shards) = graft.io.Exporters.curatedTrainingShards(
      spark, sf, s"$dir/run1", minTokens = 10L, budget = 512L)
    assert(n > 0 && shards > 0)
    val out = spark.read.json(s"$dir/run1")
    assert(out.count() == n)
    // stage 1+2: every surviving doc passes the gate AND is its
    // cluster's canonical keeper
    val keepers = TextOps.dedupClusters(spark, sf)
      .filter(col("keep")).select("doc_id")
    assert(out.join(keepers, "doc_id").count() == n, "non-keeper leaked through")
    assert(out.filter(col("n_tokens") <= 10).count() == 0, "gated doc leaked through")
    // stage 3: per-source survivors match an independent recompute of
    // the thresholds over the post-dedup gated corpus
    val gated = graft.Tables.documents(spark, sf)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("bigint"))
      .filter(col("n_tokens") > 10)
      .join(keepers, "doc_id")
    val expected = gated
      .join(broadcast(TextOps.mixtureThresholds(gated).select("source", "threshold")), "source")
      .filter(TextOps.md5Bucket(col("doc_id")) < col("threshold"))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // stage 4: packing contract — a doc joins the chunk where its
    // running offset STARTS, so a chunk overflows only by its final
    // doc: the sum excluding the last doc must stay under budget
    val over = out.groupBy("chunk_id")
      .agg(sum("n_tokens").as("toks"),
        max(struct(col("doc_id"), col("n_tokens"))).as("last"))
      .filter(col("toks") - col("last.n_tokens") >= 512)
    assert(over.count() == 0, "chunk filled past the budget before its last doc")
    // determinism: a second run reproduces the identical assignment
    graft.io.Exporters.curatedTrainingShards(
      spark, sf, s"$dir/run2", minTokens = 10L, budget = 512L)
    val a = out.select("doc_id", "chunk_id", "shard")
      .collect().map(_.toSeq).toSet
    val b = spark.read.json(s"$dir/run2").select("doc_id", "chunk_id", "shard")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("min_label_early_exit_identical_to_fixed_sweeps") {
    import spark.implicits._
    import graft.algo.GraphAlgos.minLabelClusters
    // reference: the pre-r13 fixed-sweep unroll, inline
    def fixedSweeps(ids: org.apache.spark.sql.DataFrame,
        pairs: org.apache.spark.sql.DataFrame, sweeps: Int) = {
      val und = pairs.select(col("a").as("u"), col("b").as("v"))
        .unionByName(pairs.select(col("b").as("u"), col("a").as("v")))
      var lbl = ids.select(col("id"), col("id").as("lbl"))
      for (_ <- 1 to sweeps) {
        val nbr = und.join(lbl.withColumnRenamed("id", "v"), "v")
          .select(col("u").as("id"), col("lbl"))
        lbl = lbl.unionByName(nbr).groupBy("id").agg(min("lbl").as("lbl"))
          .localCheckpoint(true)
      }
      lbl.select(col("id"), col("lbl").as("cluster"),
        (col("lbl") === col("id")).as("keep"))
    }
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean)].collect().toSet
    // (a) fast-converging clusters: the early exit FIRES (diameter 2,
    // sweeps 8) and must not change the assignment; with a self-pair
    // (7, 7), a duplicated and a reversed pair (9, 10) twice plus
    // (10, 9), and ids with no pairs at all (4, 8, 12)
    val ids = (1L to 12L).toDF("id")
    val smallPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 10L), (9L, 11L),
      (7L, 7L), (9L, 10L), (10L, 9L), (3L, 2L))
      .toDF("a", "b")
    assert(asSet(minLabelClusters(ids, smallPairs, 8)) ==
      asSet(fixedSweeps(ids, smallPairs, 8)))
    // (b) a chain LONGER than the sweep budget: labels are still moving
    // at sweep 8 (no fixpoint), so the early exit must NOT fire and the
    // truncated assignment must equal the fixed-sweep unroll's exactly
    val chainIds = (1L to 20L).toDF("id")
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    val got = asSet(minLabelClusters(chainIds, chain, 8))
    assert(got == asSet(fixedSweeps(chainIds, chain, 8)))
    // sanity: the far end of the chain has NOT reached label 1 in 8 hops
    assert(got.exists { case (id, cluster, _) => id == 20L && cluster != 1L })
  }

  test("copurchase_basket_cap_drops_hot_orders") {
    import spark.implicits._
    val memb = (Seq.tabulate(5)(i => (1L, i.toLong)) ++   // order 1: 5 parts (hot)
      Seq((2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L), (3L, 2L)) // dup membership collapses
      ).toDF("okey", "pkey")
    val out = graft.operators.CooccurrenceOps
      .copurchasePairsOf(memb, k = 10, maxBasket = 4)
      .as[(Long, Long, Long)].collect().toSet
    // order 1 exceeds the cap -> contributes nothing; orders 2+3 both
    // contain {1,2} -> one pair with n_orders=2
    assert(out == Set((1L, 2L, 2L)))
  }

  test("triangles_degree_oriented_enumeration_on_known_graphs") {
    import spark.implicits._
    // K4 on {1,2,3,4}: 4 triangles, each node in exactly 3
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)).toDF("p1","p2")
    val outK4 = graft.operators.CooccurrenceOps.trianglesOfEdges(k4)
      .as[(Long, Long)].collect().toMap
    assert(outK4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle + pendant edge: {1,2,3} in 1 triangle; 4 in none (absent)
    val tp = Seq((1L,2L),(1L,3L),(2L,3L),(3L,4L)).toDF("p1","p2")
    val outTp = graft.operators.CooccurrenceOps.trianglesOfEdges(tp)
      .as[(Long, Long)].collect().toMap
    assert(outTp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // square (4-cycle): no triangles at all
    val sq = Seq((1L,2L),(2L,3L),(3L,4L),(1L,4L)).toDF("p1","p2")
    assert(graft.operators.CooccurrenceOps.trianglesOfEdges(sq).count() == 0L)
  }

  test("segment_dedup_keeps_everything_below_threshold_and_rebuilds_exactly") {
    import spark.implicits._
    // with an unreachable threshold nothing is boilerplate: every doc
    // keeps all segments and the fingerprint equals md5 of the
    // token-joined text (single-space normalization is the tokenizer's)
    val out = TextOps.segmentDedup(spark, sf, segLen = 2, maxFreq = Int.MaxValue)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        md5(concat_ws(" ", TextOps.tokens(col("text"))).cast("binary")).as("want"))
    val joined = out.join(docs, "doc_id")
    assert(joined.filter(col("n_kept") =!= col("n_segs")).count() == 0L)
    assert(joined.filter(col("fp") =!= col("want")).count() == 0L)
    // with threshold 0 everything is boilerplate: all docs empty
    val gone = TextOps.segmentDedup(spark, sf, segLen = 2, maxFreq = 0)
    assert(gone.filter(col("n_kept") =!= 0L).count() == 0L)
  }

  test("redact_rewrites_only_matched_words") {
    import spark.implicits._
    val out = TextOps.redact(spark, sf).limit(0) // plan sanity on real data
    assert(out.columns.toSeq == Seq("doc_id", "n_hits", "n_chars_red", "fp"))
    // semantics on a hand-built row: word-boundary, replace-all
    val df = Seq((1L, "customer parts supplier customerx part")).toDF("doc_id", "text")
    val red = df.withColumn("red",
      regexp_replace(col("text"), "\\b(customer|supplier|part)\\b", "<ENT>"))
      .select("red").as[String].head()
    assert(red == "<ENT> parts <ENT> customerx <ENT>")
  }

  test("salted_join_equals_plain_join_on_skewed_input") {
    import spark.implicits._
    // hot key 1 carries 90% of the left side; dup right rows too
    val left = (Seq.tabulate(90)(i => (1L, i.toLong)) ++
      Seq((2L, 100L), (3L, 101L), (3L, 102L))).toDF("k", "id")
    val right = Seq((1L, "a"), (1L, "b"), (2L, "c"), (4L, "d")).toDF("rk", "v")
    val salted = graft.operators.RelationalOps
      .saltedJoin(left, "k", right, "rk", salt = 4, saltSource = col("id"))
      .select("k", "id", "v").as[(Long, Long, String)].collect().sorted.toSeq
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "id", "v").as[(Long, Long, String)].collect().sorted.toSeq
    assert(salted == plain)
    assert(plain.size == 181) // 90*2 + 1
  }

  test("hll_estimate_within_standard_error_of_exact") {
    // m=256 buckets → ~6.5% standard error; allow 3σ
    val row = graft.operators.SketchOps.hllDistinctShingles(spark, sf)
      .select("n_exact", "hll_estimate", "rel_err").head()
    val (exact, est, relErr) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2))
    assert(exact > 0)
    assert(relErr < 0.20, s"HLL estimate $est vs exact $exact (err $relErr)")
  }

  test("histogram_quantiles_within_one_bucket_width_of_order_statistic") {
    // the sound bound: the estimate shares a bucket with the ceil(q*n)-th
    // order statistic, so they differ by at most one bucket width (the
    // INTERPOLATED percentile carries no such bound on sparse data —
    // see the q87 scaladoc)
    import graft.operators.SketchOps
    val mx = Tables.documents(spark, sf).agg(max("n_chars")).head().getLong(0)
    val width = (mx + 1).toDouble / 64
    val est = SketchOps.histogramQuantiles(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val bySource = Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted.toIndexedSeq).toMap
    def orderStat(vs: IndexedSeq[Long], q: Double): Double =
      vs(math.ceil(q * vs.size).toInt - 1).toDouble
    assert(est.keySet == bySource.keySet && est.nonEmpty)
    est.foreach { case (src, (e25, e50, e75)) =>
      val vs = bySource(src)
      Seq((e25, 0.25), (e50, 0.5), (e75, 0.75)).foreach { case (e, q) =>
        val x = orderStat(vs, q)
        assert(math.abs(e - x) <= width + 1e-9, s"$src q=$q: $e vs $x")
      }
    }
  }

  test("curated_embedding_index_composes_dedup_and_cell_layout") {
    import graft.operators.SimilarityOps
    val dir = java.nio.file.Files.createTempDirectory("emb_index").toString
    val (n, cells) = graft.io.Exporters
      .curatedEmbeddingIndex(spark, sf, dir)
    // every keeper from the oracle-checked q44 clustering, nothing else
    val wantKeepers = SimilarityOps.cosineDedupClusters(spark, sf)
      .filter(col("keep")).count()
    assert(n == wantKeepers && n > 0)
    assert(cells >= 1 && cells <= 16)
    // reading back through the partitioned layout: a one-cell read must
    // prune (PartitionFilters) and return exactly that cell's vectors
    val back = spark.read.parquet(dir)
    assert(back.count() == n)
    val oneCell = back.filter(col("cell") === back.select("cell").head().getInt(0))
    val plan = oneCell.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"),
      "cell predicate must prune index partitions")
    // determinism: a second export writes the identical keeper set
    val dir2 = java.nio.file.Files.createTempDirectory("emb_index2").toString
    val (n2, cells2) = graft.io.Exporters.curatedEmbeddingIndex(spark, sf, dir2)
    assert((n2, cells2) == (n, cells))
    val ids1 = spark.read.parquet(dir).select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = spark.read.parquet(dir2).select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
  }

  test("retention_cohorts_partition_users_and_anchor_at_offset_zero") {
    val cells = TemporalOps.retentionCohorts(spark, sf)
    // every cohort has an offset-0 cell (the first-active day itself)
    val cohorts = cells.select("cohort_day").distinct().count()
    val zeroCells = cells.filter(col("day_offset") === 0).count()
    assert(cohorts == zeroCells && cohorts > 0)
    // offsets are never negative (cohort day is the user's minimum)
    assert(cells.filter(col("day_offset") < 0).count() == 0)
    // offset-0 cells count each user exactly once: summing them gives
    // the distinct-user universe
    val usersViaCells = cells.filter(col("day_offset") === 0)
      .agg(sum("n_users")).head().getLong(0)
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(usersViaCells == users)
  }

  test("state_intervals_tile_each_user_timeline") {
    val iv = TemporalOps.stateIntervals(spark, sf).localCheckpoint(true)
    // intervals chain: valid_to of run k equals valid_from of run k+1
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("run_idx")
    val broken = iv
      .withColumn("next_from", lead("valid_from_us", 1).over(w))
      .filter(col("next_from").isNotNull &&
        col("valid_to_us") =!= col("next_from")).count()
    assert(broken == 0)
    // exactly one open interval (null valid_to) per user
    val users = iv.select("user_id").distinct().count()
    assert(iv.filter(col("valid_to_us").isNull).count() == users)
    // run event counts sum to the event stream
    val nEvents = iv.agg(sum("n_events")).head().getLong(0)
    assert(nEvents == graft.Tables.events(spark, sf).count())
    // adjacent runs never share a state (else they'd be one island)
    val merged = iv.withColumn("prev_state", lag("state", 1).over(w))
      .filter(col("prev_state") === col("state")).count()
    assert(merged == 0)
  }

  test("weighted_sample_keeps_all_heavy_docs_and_is_row_pure") {
    val kept = TextOps.weightedSample(spark, sf).localCheckpoint(true)
    // p saturates at 500 tokens: every long doc must be kept
    val docs = graft.Tables.documents(spark, sf)
      .withColumn("n_tokens",
        size(TextOps.tokens(col("text"))).cast("bigint"))
    val heavy = docs.filter(col("n_tokens") >= 500).count()
    val heavyKept = kept.filter(col("n_tokens") >= 500).count()
    assert(heavyKept == heavy)
    // kept set is a subset of the corpus with u < p everywhere
    assert(kept.filter(col("u_ppm") >= col("p_ppm")).count() == 0)
    // deterministic: a second evaluation selects the identical id set
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = TextOps.weightedSample(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2 && ids1.nonEmpty)
  }

  test("tfidf_topterms_ranks_by_score_within_doc") {
    val top = TextOps.tfidfTopTerms(spark, sf, k = 3).localCheckpoint(true)
    // at most k rows per doc, ranks 1..k dense from 1
    val byDoc = top.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
    assert(byDoc.filter(col("n") > 3).count() == 0)
    assert(byDoc.filter(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
    // scores are non-increasing in rank within a doc
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("rank")
    val inversions = top
      .withColumn("prev", lag("score_ppm", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("score_ppm"))
      .count()
    assert(inversions == 0)
    // a doc holding a corpus-unique term (score tf·1e6 ≥ 1e6) must have
    // a rank-1 score at least that high
    val uniqDocs = top.filter(col("df") === 1).select("doc_id").distinct()
    val weakTop = top.filter(col("rank") === 1)
      .join(uniqDocs, "doc_id")
      .filter(col("score_ppm") < 1000000L).count()
    assert(weakTop == 0)
  }

  test("user_features_agree_with_pivot_counts_and_time_bounds") {
    val f = graft.operators.RelationalOps.userFeatures(spark, sf)
      .localCheckpoint(true)
    val p = graft.operators.RelationalOps.pivotEvents(spark, sf)
    // per-type counts must agree with the independently-derived pivot
    val joined = f.select(col("user_id"), col("n_purchase"), col("n_click"))
      .join(p.select(col("user_id"), col("n_purchase").as("pp"),
        col("n_click").as("pc")), "user_id")
    assert(joined.filter(col("n_purchase") =!= col("pp") ||
      col("n_click") =!= col("pc")).count() == 0)
    // time bounds ordered; active days within the first/last span
    assert(f.filter(col("first_us") > col("last_us")).count() == 0)
    val badDays = f.filter(col("n_active_days") >
      (col("last_us") - col("first_us")) / 86400000000L + 1).count()
    assert(badDays == 0)
    // every user appears exactly once
    assert(f.count() == f.select("user_id").distinct().count())
  }

  test("hll_by_lang_estimates_within_sketch_error") {
    val r = graft.operators.SketchOps.hllDistinctByLang(spark, sf)
      .localCheckpoint(true)
    // m=256 -> ~6.5% standard error; allow 4 sigma — but only where the
    // bias-corrected estimator is in its regime (n >= 2.5m). Small
    // strata are DOCUMENTED to carry unbounded positive bias (the
    // linear-counting branch is deliberately omitted for portability),
    // so they get only a sanity bound
    assert(r.count() > 0)
    assert(r.filter(col("n_exact") >= 640 && col("rel_err") > 0.26)
      .count() == 0)
    assert(r.filter(col("hll_estimate") <= 0).count() == 0)
    // language universe matches the corpus
    val langs = graft.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select("lang").distinct().count()
    assert(r.count() <= langs)
  }

  test("mad_outliers_match_independent_median_computation") {
    val out = graft.operators.RelationalOps.madOutliers(spark, sf, cut = 5.0)
      .localCheckpoint(true)
    // recompute median/MAD per type in plain Scala and compare the
    // flagged id set (lower median = ceil(n/2)-th order statistic)
    def lowerMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted; s((s.size + 1) / 2 - 1)
    }
    val ev = graft.Tables.events(spark, sf)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = ev.groupBy(_._2).flatMap { case (_, rows) =>
      val med = lowerMedian(rows.map(_._3).toSeq)
      val mad = lowerMedian(rows.map(r => math.abs(r._3 - med)).toSeq)
      if (mad > 0) rows.toSeq.filter(r => math.abs(r._3 - med) > mad * 5.0)
      else Seq.empty[(Long, String, Double)]
    }.map(_._1).toSet
    val got = out.select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("clustering_coefficient_consistent_with_triangle_counts") {
    import graft.operators.CooccurrenceOps
    val cc = CooccurrenceOps.clusteringCoefficient(spark, sf)
      .localCheckpoint(true)
    // coefficient is a proper ratio in ppm
    assert(cc.filter(col("coeff_ppm") < 0 || col("coeff_ppm") > 1000000L)
      .count() == 0)
    // triangle-carrying nodes need at least two neighbors, and the
    // formula reproduces from the row's own deg/n_tri columns
    assert(cc.filter(col("n_tri") > 0 && col("deg") < 2).count() == 0)
    val bad = cc.filter(col("deg") >= 2 &&
      col("coeff_ppm") =!=
        expr("2 * n_tri * 1000000 div (deg * (deg - 1))")).count()
    assert(bad == 0)
    // every q68 node appears with the same n_tri
    val tri = CooccurrenceOps.triangles(spark, sf)
    val joined = tri.select(col("node"), col("n_tri").as("t68"))
      .join(cc.select("node", "n_tri"), "node")
    assert(joined.filter(col("t68") =!= col("n_tri")).count() == 0)
    assert(tri.count() == cc.filter(col("n_tri") > 0).count())
  }

  test("group_percentiles_are_ordered_and_match_selection") {
    val p = graft.operators.RelationalOps.groupPercentiles(spark, sf)
      .localCheckpoint(true)
    assert(p.count() > 0)
    assert(p.filter(col("p50") > col("p90") || col("p90") > col("p99"))
      .count() == 0)
    // independent recomputation of the p90 order statistic per nation
    val rows = graft.Tables(spark, sf, "orders")
      .join(graft.Tables(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Tables(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val expected = rows.groupBy(_._1).map { case (k, vs) =>
      val s = vs.map(_._2).toSeq.sorted
      k -> s((s.size * 90 + 99) / 100 - 1)
    }
    val got = p.select("n_name", "p90").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == expected)
  }

  test("session_overlap_matches_brute_force_interval_join") {
    val got = TemporalOps.sessionOverlap(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // brute-force quadratic overlap over the collected session table
    val sess = TemporalOps.sessions(spark, sf)
      .select("user_id", "session_idx", "start_us", "end_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = (for {
      a <- sess; b <- sess
      if a._1 < b._1 && a._3 <= b._4 && b._3 <= a._4
    } yield (a._1, a._2, b._1, b._2,
      math.min(a._4, b._4) - math.max(a._3, b._3))).toSet
    assert(got == expected && got.nonEmpty)
    // overlap lengths are non-negative by the predicate
    assert(got.forall(_._5 >= 0))
  }

  test("bloom_contamination_has_no_false_negatives") {
    val r = graft.operators.SketchOps.bloomContamination(spark, sf)
      .localCheckpoint(true)
    assert(r.count() > 0)
    // one-sided error: every exact hit is also a Bloom hit
    assert(r.filter(col("n_bloom_hit") < col("n_exact_hit")).count() == 0)
    // hits never exceed the probe count
    assert(r.filter(col("n_bloom_hit") > col("n_sh")).count() == 0)
    // agrees with the exact operator on the exact column
    val exact = graft.operators.TextOps.contamination(spark, sf)
    val j = r.select(col("doc_id"), col("n_exact_hit"))
      .join(exact.select(col("doc_id"), col("n_hit")), "doc_id")
    assert(j.filter(col("n_exact_hit") =!= col("n_hit")).count() == 0)
  }

  test("personalized_pagerank_mass_stays_near_seed_set") {
    val ppr = graft.operators.GraphOps.personalizedPageRank(spark, sf)
      .localCheckpoint(true)
    val base = 10000000000L * 15 / 100
    // every seed keeps at least the restart term
    assert(ppr.filter(col("id").startsWith("supplier:") &&
      col("pr") < base).count() == 0)
    // mass reaches supplier successors (nation nodes)...
    assert(ppr.filter(col("id").startsWith("nation:") && col("pr") > 0)
      .count() > 0)
    // ...but never customers (no supplier→customer path in the FK graph)
    assert(ppr.filter(col("id").startsWith("customer:") && col("pr") > 0)
      .count() == 0)
    // and the total personalized mass is below the uniform run's
    val total = ppr.agg(sum("pr")).head().getLong(0)
    val uniformTotal = graft.operators.GraphOps.pageRank(spark, sf)
      .agg(sum("pr")).head().getLong(0)
    assert(total > 0 && total < uniformTotal)
  }

  test("daily_activity_resamples_to_a_dense_spine") {
    val a = TemporalOps.dailyActivity(spark, sf).localCheckpoint(true)
    // every type covers the identical full day span (dense resample)
    val spans = a.groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("day").as("lo"), max("day").as("hi"))
    assert(spans.filter(col("n") =!= col("hi") - col("lo") + 1).count() == 0)
    assert(spans.select("n").distinct().count() == 1)
    // counts conserve the event stream
    val total = a.agg(sum("cnt")).head().getLong(0)
    assert(total == graft.Tables.events(spark, sf).count())
    // trailing 7-day sum dominates the day count; delta is null only on
    // each type's first day
    assert(a.filter(col("sum7") < col("cnt")).count() == 0)
    assert(a.filter(col("delta").isNull).count() ==
      a.select("event_type").distinct().count())
  }

  test("integrity_audit_reports_every_fk_edge_clean") {
    val r = graft.operators.RelationalOps.integrityAudit(spark, sf)
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    assert(r.size == 7)
    // the generated star schema is referentially consistent
    assert(r.values.forall(_ == 0L), s"unexpected orphans: $r")
  }

  test("embedding_stats_match_independent_quantized_sums") {
    val r = graft.operators.SimilarityOps.embeddingStats(spark, sf)
      .localCheckpoint(true)
    // independent recomputation in plain Scala
    val raw = graft.Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(x => (x.getInt(0).toLong, x.getSeq[Float](1)))
    val expected = raw.flatMap { case (l, e) =>
      e.zipWithIndex.map { case (v, i) =>
        ((l, i.toLong), math.floor(v.toDouble * 1e7).toLong)
      }
    }.groupBy(_._1).map { case (k, xs) =>
      k -> ((xs.length.toLong, xs.map(_._2).sum))
    }
    val got = r.collect().map(x =>
      ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3)))).toMap
    assert(got == expected)
    // floor-division mean: mean_q <= sum_q/n < mean_q + 1
    val bad = r.filter(col("mean_q") * col("n") > col("sum_q") ||
      (col("mean_q") + 1) * col("n") <= col("sum_q")).count()
    assert(bad == 0)
  }

  test("length_percentile_is_monotone_and_bounded") {
    val p = TextOps.lengthPercentile(spark, sf).localCheckpoint(true)
    assert(p.filter(col("pct_ppm") < 0 || col("pct_ppm") > 1000000L)
      .count() == 0)
    // shortest docs sit at percentile 0
    val minLen = p.agg(min("n_tokens")).head().getLong(0)
    assert(p.filter(col("n_tokens") === minLen && col("pct_ppm") =!= 0L)
      .count() == 0)
    // strictly longer docs never rank lower (monotone in n_tokens)
    val pairs = p.select(col("n_tokens").as("a_n"), col("pct_ppm").as("a_p"))
      .distinct()
    val inversions = pairs.as("x").join(pairs.as("y"),
        col("x.a_n") < col("y.a_n") && col("x.a_p") > col("y.a_p"))
      .count()
    assert(inversions == 0)
    // equal lengths share one percentile (the feature is a pure
    // function of n_tokens)
    assert(pairs.count() == p.select("n_tokens").distinct().count())
  }

  test("countmin_estimate_is_an_upper_bound_on_exact") {
    // cell collisions only add counts, so estimate >= exact always
    val rows = graft.operators.SketchOps.countMinTokens(spark, sf, k = 10)
      .select("n_exact", "cm_estimate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(0),
        s"count-min must upper-bound: ${r.getLong(1)} < ${r.getLong(0)}")
    }
  }

  test("triangles_match_brute_force_on_random_graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // random graphs on ≤10 nodes vs an O(n³) in-test brute force
    val gen = for {
      n <- Gen.choose(4, 10)
      edges <- Gen.someOf(
        (1 to n).flatMap(a => (a + 1 to n).map(b => (a.toLong, b.toLong))))
    } yield edges.toSeq
    (0 until 4).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(7L + i)).foreach { edges =>
        val adj = edges.toSet
        def linked(a: Long, b: Long) = adj((a min b, a max b))
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val expected = scala.collection.mutable.Map.empty[Long, Long]
        for {
          a <- nodes; b <- nodes if a < b && linked(a, b)
          c <- nodes if b < c && linked(b, c) && linked(a, c)
        } Seq(a, b, c).foreach(v =>
          expected(v) = expected.getOrElse(v, 0L) + 1)
        if (edges.nonEmpty) {
          val got = graft.operators.CooccurrenceOps
            .trianglesOfEdges(edges.toDF("p1", "p2"))
            .as[(Long, Long)].collect().toMap
          assert(got == expected.toMap, s"edges=$edges")
        }
      }
    }
  }

  test("salted_join_matches_plain_join_on_random_inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val gen = for {
      nl <- Gen.choose(1, 30)
      nr <- Gen.choose(0, 10)
      lks <- Gen.listOfN(nl, Gen.choose(1L, 5L))
      rks <- Gen.listOfN(nr, Gen.choose(1L, 6L))
      salt <- Gen.choose(1, 5)
    } yield (lks.zipWithIndex.map { case (k, i) => (k, i.toLong) },
      rks.zipWithIndex.map { case (k, i) => (k, s"v$i") }, salt)
    (0 until 3).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(11L + i)).foreach {
        case (lrows, rrows, salt) =>
          val left = lrows.toDF("k", "id")
          val right = rrows.toDF("rk", "v")
          val got = graft.operators.RelationalOps
            .saltedJoin(left, "k", right, "rk", salt, col("id"))
            .select("k", "id", "v").as[(Long, Long, String)]
            .collect().sorted.toSeq
          val want = left.join(right, col("k") === col("rk"))
            .select("k", "id", "v").as[(Long, Long, String)]
            .collect().sorted.toSeq
          assert(got == want, s"salt=$salt")
      }
    }
  }

  test("asof_join_rejects_colliding_payload") {
    import spark.implicits._
    val l = Seq((1L, 1L, 2L)).toDF("k", "t", "x")
    val r = Seq((1L, 1L, 3L)).toDF("k", "t", "x")
    intercept[IllegalArgumentException] {
      TemporalOps.asOfJoinBackward(l, r, "k", "t")
    }
  }

  test("contamination_invariants") {
    val c = TextOps.contamination(spark, sf).cache()
    val rows = c.collect()
    assert(rows.nonEmpty)
    // hits never exceed the document's shingle count; counts positive
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1)))
    assert(rows.forall(_.getLong(1) > 0))
    // exactly the held-out docs that have >=3 tokens appear
    val expected = Tables.documents(spark, sf)
      .filter(col("source").isin("src1", "src2", "src3", "src4"))
      .filter(size(split(trim(col("text")), "\\s+")) >= 3)
      .count()
    assert(rows.length == expected)
    c.unpersist()
  }

  test("contamination_matches_independent_recompute") {
    // recompute n_sh/n_hit in plain Scala from the raw text (tiny
    // corpus at sf0.001) and require exact agreement
    import spark.implicits._
    def shingleSet(text: String): Set[String] = {
      val t = text.trim.split("\\s+")
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect()
    val testSrc = Set("src1", "src2", "src3", "src4")
    val trainSh = docs.filterNot(d => testSrc(d._3))
      .iterator.flatMap(d => shingleSet(d._2)).toSet
    val expected = docs.filter(d => testSrc(d._3))
      .map { case (id, text, _) =>
        val sh = shingleSet(text)
        id -> ((sh.size.toLong, sh.count(trainSh).toLong))
      }.filter(_._2._1 > 0L).toMap
    val got = TextOps.contamination(spark, sf)
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, h) => id -> ((n, h)) }.toMap
    assert(got == expected)
  }

  test("repetition_metrics_independent_recompute") {
    // recompute all five counters in plain Scala and require exact
    // agreement on the tiny sf0.001 corpus
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.map { case (id, text) =>
      val t = text.trim.split("\\s+").toSeq
      val tc = t.groupBy(identity).view.mapValues(_.size).toMap
      val bg = if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq
               else Seq.empty
      val bgc = bg.groupBy(identity).view.mapValues(_.size).toMap
      id -> ((t.size.toLong, tc.size.toLong, tc.values.max.toLong,
        tc.values.filter(_ >= 2).sum.toLong,
        if (bgc.isEmpty) 0L else bgc.values.max.toLong))
    }.toMap
    val got = TextOps.repetitionMetrics(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map { case (id, a, b, c, d, e) => id -> ((a, b, c, d, e)) }.toMap
    assert(got == expected)
  }

  test("pack_chunks_matches_global_prefix_sum") {
    // the bucketed two-level prefix sum must equal the straightforward
    // global running sum; chunks are contiguous and budget-bounded
    import spark.implicits._
    val budget = 256L
    val got = TextOps.packChunks(spark, sf, budget = budget, bucketSize = 7L)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    got.foreach { case (_, n, chunk) =>
      assert(chunk == cum / budget)
      cum += n
    }
    // chunk ids are non-decreasing in doc order and start at 0
    assert(got.head._3 == 0L)
    assert(got.sliding(2).forall(p => p.length < 2 || p(0)._3 <= p(1)._3))
  }

  test("quality_filter_drops_bottom_decile_by_value") {
    import spark.implicits._
    val counts = TextOps.tokenCount(spark, sf)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect()
    val sorted = counts.map(_._2).sorted
    val total = sorted.length
    // threshold: smallest value whose cumulative count reaches 10%
    val thr = sorted(math.max(0, math.ceil(total / 10.0).toInt - 1))
    val expected = counts.filter(_._2 > thr).map(_._1).toSet
    val got = TextOps.qualityFilter(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected)
    assert(got.size < total)
  }

  test("vocab_df_topk_deterministic_and_correct") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val df = scala.collection.mutable.Map.empty[String, Long]
    val tf = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, text) =>
      val t = text.trim.split("\\s+").toSeq
      t.distinct.foreach(w => df(w) = df.getOrElse(w, 0L) + 1)
      t.foreach(w => tf(w) = tf.getOrElse(w, 0L) + 1)
    }
    val expected = df.toSeq.map { case (w, d) => (w, d, tf(w)) }
      .sortBy { case (w, d, _) => (-d, w) }.take(10)
    val got = TextOps.vocabDf(spark, sf, k = 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("funnel_stages_ordering_constraint") {
    import spark.implicits._
    // hand-built: user 1 completes in order; user 2's purchase precedes
    // its click (stage 2); user 3 views only; user 4 clicks before
    // viewing but again after (stage 2, second click qualifies)
    val rows = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 10L, "view"), (2L, 30L, "click"), (2L, 20L, "purchase"),
      (3L, 10L, "view"),
      (4L, 5L, "click"), (4L, 10L, "view"), (4L, 15L, "click"))
      .toDF("user_id", "ts", "event_type")
    // run the same plan shape as funnelStages over the fixture
    val ev = rows.select(col("user_id"), col("event_type"),
      col("ts").as("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.min("ts_us").as("v_us"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts_us") >= col("v_us"))
      .groupBy("user_id").agg(org.apache.spark.sql.functions.min("ts_us").as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts_us") >= col("c_us"))
      .groupBy("user_id").agg(org.apache.spark.sql.functions.min("ts_us").as("p_us"))
    val out = ev.select("user_id").distinct()
      .join(v, Seq("user_id"), "left").join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((Some(10L), Some(20L), Some(30L))))
    assert(out(2L) == ((Some(10L), Some(30L), None))) // purchase too early
    assert(out(3L) == ((Some(10L), None, None)))
    assert(out(4L) == ((Some(10L), Some(15L), None))) // pre-view click skipped
    // and the real operator runs end-to-end on the test data
    val real = TemporalOps.funnelStages(spark, sf).collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getLong(4) >= 0 && r.getLong(4) <= 3))
  }

  test("bpe_token_count_independent_recompute") {
    import spark.implicits._
    val re = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.map { case (id, text) =>
      id -> ((re.findAllIn(text).size.toLong,
        text.trim.split("\\s+").length.toLong))
    }.toMap
    val got = TextOps.bpeTokenCount(spark, sf)
      .as[(Long, Long, Long)].collect()
      .map { case (id, b, w) => id -> ((b, w)) }.toMap
    assert(got == expected)
    // subword count never below whitespace count on non-empty text
    assert(got.values.forall { case (b, w) => b >= w || b == 0 })
  }

  test("mixture_summary_totals_consistent") {
    import spark.implicits._
    val rows = TextOps.mixtureSummary(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // strata partition the corpus: doc counts and char mass must add up
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum == total)
    val totalChars = Tables.documents(spark, sf)
      .agg(sum("n_chars")).head().getLong(0)
    assert(rows.map(_._5).sum == totalChars)
  }

  test("training_shard_export_roundtrip") {
    import graft.io.Exporters
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val n = Exporters.documentsToTrainingShards(spark, sf, dir,
      budget = 256L, shardChunks = 2L)
    assert(n > 0)
    // read back: row count matches, every row passes the gate, shard
    // derivation holds, and shard partition dirs exist on disk
    val back = spark.read.json(dir)
    assert(back.count() == n)
    assert(back.filter(col("n_tokens") <= 10L).count() == 0)
    assert(back.filter(col("shard") =!= expr("chunk_id div 2")).count() == 0)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    // deterministic: re-export produces the identical doc set
    val dir2 = java.nio.file.Files.createTempDirectory("shards2").toString
    Exporters.documentsToTrainingShards(spark, sf, dir2,
      budget = 256L, shardChunks = 2L)
    val a = back.select("doc_id", "chunk_id").collect().map(_.toString).sorted
    val b = spark.read.json(dir2).select("doc_id", "chunk_id")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("stratified_sample_deterministic_and_stratified") {
    val a = TextOps.stratifiedSample(spark, sf).collect()
    val b = TextOps.stratifiedSample(spark, sf).collect()
    // pure function of the row: identical across runs
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // a genuine subset
    val total = Tables.documents(spark, sf).count()
    assert(a.length > 0 && a.length < total)
    // per-stratum rates: the en stratum is sampled ~4x thinner than the
    // rest; verify the realized ratio honors the configured direction
    val byLang = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = byLang.getOrElse("en", 0).toDouble / totals("en")
    val restRate = (a.length - byLang.getOrElse("en", 0)).toDouble /
      (total - totals("en"))
    assert(enRate < restRate)
  }

  // a singleton group's variance denominator is n-1 = 0; without the
  // explicit n > 1 branch Spark yields sd = NaN (and NaN > 0 is TRUE in
  // Spark's ordering, so it would leak through valueOutliers' sd > 0
  // gate) while the DuckDB oracle's GREATEST(NaN, 0) clamps to 0
  test("value_stats_singleton_group_sd_is_zero_not_nan") {
    import spark.implicits._
    val ev = Seq(
      ("lonely", BigDecimal("42.5000")),
      ("pair", BigDecimal("1.0000")), ("pair", BigDecimal("3.0000")),
      ("const", BigDecimal("7.0000")), ("const", BigDecimal("7.0000")))
      .toDF("event_type", "v")
      .select(col("event_type"),
        col("v").cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("v"))
    val stats = graft.operators.RelationalOps.valueStatsOf(ev)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(stats("lonely") == 0.0 && !stats("lonely").isNaN)
    assert(stats("const") == 0.0)   // constant group: clamped, not NaN
    assert(math.abs(stats("pair") - math.sqrt(2.0)) < 1e-12)
  }

  // the deletion-neighborhood candidate join must reproduce the naive
  // quadratic semantics EXACTLY on every edge the corpus doesn't have:
  // exact-duplicate cliques (incl. cross-nation same-name rows that
  // must NOT pair), distance-1/2/3 neighbors, length differences,
  // empty strings, null names, and null nation keys (both nulls the
  // naive form silently drops — the levenshtein filter and the nk
  // equi-join respectively)
  test("fuzzy_pairs_match_naive_quadratic_on_crafted_edges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fuzzy_edges").toString
    val rows = Seq(
      (1L, "alpha", Some(1)), (2L, "alphx", Some(1)), (3L, "alpxx", Some(1)),
      (4L, "omega", Some(1)), (5L, "alpha", Some(1)),
      (6L, null.asInstanceOf[String], Some(1)),
      (7L, null.asInstanceOf[String], Some(1)),
      (8L, "alpha", Some(2)), (9L, "alpha", Some(2)), (10L, "alphabet", Some(2)),
      (11L, "", Some(1)), (12L, "", Some(1)), (13L, "a", Some(1)),
      (14L, "dupnull", None), (15L, "dupnull", None))
    rows.toDF("s_suppkey", "s_name", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val got = graft.operators.RelationalOps.fuzzySupplierPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sp = Tables.supplier(spark, dir)
      .select(col("s_nationkey").as("nk"), col("s_suppkey"), col("s_name"))
    val naive = sp.select(col("nk"), col("s_suppkey").as("k1"), col("s_name").as("n1"))
      .join(sp.select(col("nk"), col("s_suppkey").as("k2"), col("s_name").as("n2")), "nk")
      .filter(col("k1") < col("k2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")))
      .filter(col("dist") <= 2)
      .collect().map(r => (r.getAs[Long]("k1"), r.getAs[Long]("k2"),
        r.getAs[Int]("dist").toLong)).toSet
    assert(got == naive, s"deletion-join diverged: extra=${got -- naive} missing=${naive -- got}")
    // spot invariants: the twin pair, no null-name pair, no
    // cross-nation pair, no null-nationkey pair
    assert(got.contains((1L, 5L, 0L)) && got.contains((11L, 12L, 0L)))
    assert(!got.exists(p => Set(p._1, p._2).contains(6L) || Set(p._1, p._2).contains(7L)))
    assert(!got.exists(p => Set(p._1, p._2) == Set(5L, 8L)))
    assert(!got.exists(p => Set(p._1, p._2).contains(14L) || Set(p._1, p._2).contains(15L)))
  }
}
