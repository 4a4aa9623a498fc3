package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraphBuilder, PropertyGraph}
import graft.engine.GraphSession
import graft.io.{Exporters, GraphStore}
import graft.operators.{MultimodalOps, SimilarityOps, TextOps}

/** Specs for persistence (S5/S6), exporters (S7-S10), multimodal
  * plumbing, and the no-oracle similarity ops. */
class IoAndOpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("graphstore_save_load_versions_roundtrip") {
    val s = new GraphSession(spark)
    s.execute("CREATE (:Person {name: 'Ada'});")
    s.execute("CREATE (:Company {name: 'Acme'});")
    s.execute("MATCH (p:Person), (c:Company) CREATE (p)-[:WORKS_AT]->(c);")
    val root = tmpDir("graft_store")
    val v1 = GraphStore.save(s.graph, root)
    s.execute("CREATE (:Person {name: 'Bob'});")
    val v2 = GraphStore.save(s.graph, root)
    assert(GraphStore.listVersions(root) == Seq(v1, v2).sorted)
    val active = GraphStore.load(spark, root)
    assert(active.nodeCount == 3 && active.relationshipCount == 1)
    val old = GraphStore.load(spark, root, Some(v1))
    assert(old.nodeCount == 2 && old.relationshipCount == 1)
  }

  test("graphstore_crash_mid_save_leaves_previous_version_loadable") {
    // VERDICT r9 #4: the atomic-commit claim (S6, persist.rs:100-131
    // parity) pinned for every crash point of save(), not just the
    // happy path. Each torn state below is exactly what a kill at that
    // point in save() leaves on disk; reopen must serve the previous
    // version intact.
    import java.nio.file.{Files => NF, Path, Paths, StandardCopyOption}
    def copyTree(from: Path, to: Path): Unit = {
      NF.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (NF.isDirectory(p)) NF.createDirectories(t)
        else NF.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val s = new GraphSession(spark)
    s.execute("CREATE (:Person {name: 'Ada'});")
    val root = tmpDir("graft_crash")
    val v1 = GraphStore.save(s.graph, root)

    // crash BETWEEN the parquet writes and the version-dir rename:
    // an orphaned .tmp_* dir must be invisible to listVersions and load
    val orphan = Paths.get(root, ".tmp_v_99999999_000000_000")
    NF.createDirectories(orphan.resolve("nodes"))
    NF.writeString(orphan.resolve("nodes").resolve("part-00000"), "torn")
    assert(GraphStore.listVersions(root) == Seq(v1))
    assert(GraphStore.load(spark, root).nodeCount == 1)

    // crash BETWEEN the version-dir rename and the pointer rename: v2's
    // data dir is committed but `active` still names v1 — the pointer
    // IS the commit, so load serves v1; v2 stays explicitly loadable
    s.execute("CREATE (:Person {name: 'Bob'});")
    val v2 = GraphStore.save(s.graph, root)
    NF.writeString(Paths.get(root, "active"), v1)
    // the real crash leaves v1's pointer (and its checksum sidecar)
    // untouched; this simulation rewrote the pointer bytes, so drop the
    // now-stale LocalFileSystem .crc rather than fake one
    NF.deleteIfExists(Paths.get(root, ".active.crc"))
    assert(GraphStore.load(spark, root).nodeCount == 1)
    assert(GraphStore.load(spark, root, Some(v2)).nodeCount == 2)
    assert(GraphStore.listVersions(root) == Seq(v1, v2).sorted)

    // crash BETWEEN the .active_tmp write and its OVERWRITE rename:
    // a torn pointer tmp must not shadow the committed pointer
    NF.writeString(Paths.get(root, ".active_tmp"), v2)
    assert(GraphStore.load(spark, root).nodeCount == 1)

    // daemon died before the FIRST pointer ever landed (autosave killed
    // mid-save), plus an S3A-style partial version dir (nodes complete,
    // edges missing its _SUCCESS): fallback must take the newest
    // COMPLETE version and skip the partial one
    NF.delete(Paths.get(root, "active"))
    NF.delete(Paths.get(root, ".active_tmp"))
    val partial = Paths.get(root, "v_99999999_000002_000")
    copyTree(Paths.get(root, v2).resolve("nodes"), partial.resolve("nodes"))
    NF.createDirectories(partial.resolve("edges")) // no _SUCCESS
    assert(GraphStore.load(spark, root).nodeCount == 2)

    // and the next save repairs the store: fresh version + fresh pointer
    val v3 = GraphStore.save(s.graph, root)
    assert(GraphStore.load(spark, root).nodeCount == 2)
    assert(GraphStore.load(spark, root, Some(v3)).nodeCount == 2)
  }

  test("graphstore_diff_reports_added_removed_changed") {
    import graft.core.PropertyGraph
    val root = tmpDir("graft_diff")
    val v1 = GraphStore.save(PropertyGraph(
      PropertyGraph.nodesDf(spark, Seq(
        ("n1", "Person", Map("name" -> "Ada")),
        ("n2", "Person", Map("name" -> "Bob")),
        ("n3", "Company", Map("name" -> "Acme")))),
      PropertyGraph.edgesDf(spark, Seq(
        ("e1", "n1", "n3", "WORKS_AT", Map.empty[String, String]),
        ("e2", "n2", "n3", "WORKS_AT", Map.empty[String, String])))), root)
    val v2 = GraphStore.save(PropertyGraph(
      PropertyGraph.nodesDf(spark, Seq(
        ("n1", "Person", Map("name" -> "Ada", "title" -> "Dr")), // changed
        ("n3", "Company", Map("name" -> "Acme")), // unchanged
        ("n4", "Person", Map("name" -> "Eve")))), // added; n2 removed
      PropertyGraph.edgesDf(spark, Seq(
        ("e1", "n1", "n3", "WORKS_AT", Map.empty[String, String])))), root)
    val d = GraphStore.diff(spark, root, v1, v2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(d == Set(
      ("node", "changed", "n1"),
      ("node", "removed", "n2"),
      ("node", "added", "n4"),
      ("edge", "removed", "e2")))
    // a version diffed against itself is empty
    assert(GraphStore.diff(spark, root, v2, v2).count() == 0)
  }

  test("multi_format_sources_roundtrip_identically") {
    // the same table landed as csv / json / orc reads back row-identical
    // to the parquet source (csv via string casts: it is typeless)
    val src = Tables.supplier(spark, sf)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val want = src.orderBy("s_suppkey").collect().toSeq
    val dir = tmpDir("fmt_roundtrip")
    Seq("csv", "json", "orc").foreach { fmt =>
      src.write.format(fmt).option("header", "true").save(s"$dir/$fmt")
      val got = Tables.fromFormat(spark, s"$dir/$fmt", fmt, src.schema)
        .orderBy("s_suppkey").collect().toSeq
      assert(got == want, s"format $fmt must round-trip row-identically")
    }
    // orc keeps pushdown: the filter must reach the scan
    val orcPlan = Tables.fromFormat(spark, s"$dir/orc", "orc", src.schema)
      .filter(col("s_nationkey") === 3)
      .queryExecution.executedPlan.toString
    assert(orcPlan.contains("PushedFilters: [") &&
      orcPlan.contains("EqualTo(s_nationkey,3)"),
      "orc scan must receive the pushed filter")
  }

  test("tables_schema_memo_follows_rewrites_and_sees_appended_files") {
    import spark.implicits._
    val dir = tmpDir("graft_tables")
    val path = s"$dir/t.parquet"
    Seq((1L, "a", 1)).toDF("k", "v", "p").write.partitionBy("p").parquet(path)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("k", "v", "p"))
    // rewritten in place with one more column: the schema is inferred again
    Seq((2L, "b", 2.5, 1)).toDF("k", "v", "w", "p")
      .write.mode("overwrite").partitionBy("p").parquet(path)
    val rewritten = Tables(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("k", "v", "w", "p"))
    assert(rewritten.select("w").as[Double].collect().toSeq == Seq(2.5))
    // a part file appended inside a partition leaves the table's own
    // status as it was, so the memo answers; its rows are still read
    val schema = Tables.schemaOf(spark, path)
    Seq((3L, "c", 3.5)).toDF("k", "v", "w").write.mode("append").parquet(s"$path/p=1")
    assert(Tables.schemaOf(spark, path) eq schema)
    assert(Tables(spark, dir, "t").select("k").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("exporters_shapes") {
    val s = new GraphSession(spark)
    s.execute("CREATE (:Person {name: 'Ada'});")
    s.execute("CREATE (:Company {name: 'Acme'});")
    s.execute("MATCH (p:Person), (c:Company) CREATE (p)-[:WORKS_AT {since: 2021}]->(c);")
    val d1 = tmpDir("graft_json")
    Exporters.nodesToJson(s.graph, None, s"$d1/nodes_json")
    val back = spark.read.json(s"$d1/nodes_json")
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("id", "label", "metadata"))

    Exporters.nodesToCsv(s.graph, None, s"$d1/nodes_csv")
    val csv = spark.read.option("header", "true").csv(s"$d1/nodes_csv")
    assert(csv.columns.toSeq == Seq("id", "label", "metadata_json"))
    assert(csv.count() == 2)

    Exporters.graphToJson(s.graph, s"$d1/graph_json")
    val gn = spark.read.json(s"$d1/graph_json/nodes")
    assert(gn.count() == 2)
    assert(gn.columns.contains("out_rels") && gn.columns.contains("in_rels"))
    val gr = spark.read.json(s"$d1/graph_json/relationships")
    assert(gr.count() == 1)
    assert(gr.columns.sorted.toSeq == Seq("from", "id", "label", "metadata", "to"))

    Exporters.graphToCsv(s.graph, s"$d1/graph_csv")
    val cn = spark.read.option("header", "true").csv(s"$d1/graph_csv/nodes")
    assert(cn.columns.toSeq ==
      Seq("id", "label", "metadata_json", "out_rels_json", "in_rels_json"))
  }

  test("multimodal_pipeline_stub_shapes") {
    val media = MultimodalOps.mediaTable(spark, sf)
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "kind", "bytes", "meta"))
    val kinds = media.select("kind").distinct().collect().map(_.getString(0)).sorted
    assert(kinds.toSeq == Seq("audio", "image", "video"))

    val decoded = MultimodalOps.decodeImageStub(media)
    val r = decoded.select(min("width"), max("width"), min("height")).head()
    assert(r.getInt(0) >= 32 && r.getInt(1) < 1952 && r.getInt(2) >= 32)

    val resized = MultimodalOps.resizeStub(decoded, 512, 512)
    val bad = resized.filter(col("out_width") > 512 || col("out_height") > 512).count()
    assert(bad == 0)

    val frames = MultimodalOps.frameSampleStub(media)
    assert(frames.filter(size(col("frame_offsets_ms")) =!= 8).count() == 0)

    val feats = MultimodalOps.featureExtractStub(media)
    assert(feats.filter(size(col("embedding")) =!= 64).count() == 0)
    // deterministic across runs
    val a = MultimodalOps.pipelineSummary(spark, sf).collect().toSeq
    val b = MultimodalOps.pipelineSummary(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("minhash_lsh_finds_known_near_dups") {
    // exact jaccard pairs are the ground truth for the LSH candidates
    val exact = TextOps.ngramJaccardPairs(spark, "/root/testdata/sf0.01")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.minHashLsh(spark, "/root/testdata/sf0.01")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // high recall on true near-dups (estimation noise allows few misses)
    val recall = if (exact.isEmpty) 1.0
      else exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("simhash_pairs_deterministic_and_bounded") {
    val p1 = SimilarityOps.simHashPairs(spark, sf).collect().toSeq
    val p2 = SimilarityOps.simHashPairs(spark, sf).collect().toSeq
    assert(p1 == p2)
    assert(p1.forall(_.getLong(2) <= 3L))
  }

  test("cosine_neardup_recall_vs_all_pairs") {
    // true threshold pairs by brute force (small sf), vs the multi-table
    // LSH candidate path — 16 tables x 4 bits should recover nearly all
    val emb = graft.Tables.embeddings(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val thr = 0.4
    val truth = (for {
      (ia, va) <- emb; (ib, vb) <- emb if ia < ib
      dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x.toDouble).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x.toDouble).sum)
      if BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= thr
    } yield (ia, ib)).toSet
    val got = SimilarityOps.cosineNearDupPairs(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "LSH candidates passing the exact filter must be true pairs")
    if (truth.nonEmpty) {
      val recall = truth.count(got.contains).toDouble / truth.size
      assert(recall >= 0.8, s"near-dup recall $recall over ${truth.size} true pairs")
    }
  }

  test("ivf_topk_recall_vs_brute_force") {
    val brute = SimilarityOps.cosineTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall (nprobe=4/nlist=16)")
  }

  test("graph_builder_fk_integrity") {
    val g = GraphBuilder.fromTables(spark, sf)
    assert(g.danglingEdges.limit(1).count() == 0)
  }

  // frontend.rs:546 requires `la == lb && !la.is_empty()` — two nodes
  // with EMPTY labels must not get the 0.75 same-label bonus
  test("lpa_weight_no_bonus_for_empty_labels") {
    val nodes = PropertyGraph.nodesDf(spark, Seq(
      ("u", "", Map.empty[String, String]),
      ("v", "", Map.empty[String, String]),
      ("x", "L", Map.empty[String, String]),
      ("y", "L", Map.empty[String, String])))
    val edges = PropertyGraph.edgesDf(spark, Seq(
      ("e1", "u", "v", "E", Map.empty[String, String]),
      ("e2", "x", "y", "E", Map.empty[String, String])))
    val w = graft.algo.GraphAlgos.weightedNeighborPairs(PropertyGraph(nodes, edges))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(w(("u", "v")) == 1.0, "empty-label pair must not get the same-label bonus")
    assert(w(("x", "y")) == 1.75, "non-empty same-label pair gets the bonus")
  }

  // density is reference-faithful multigraph math (frontend.rs:602-616:
  // both directions of every rel are pushed into the neighbor lists,
  // within-community entries counted, then halved — over max(n(n-1)/2,
  // 1)): reciprocal directed edges BOTH count, so density can exceed
  // 1.0, and a self-loop singleton divides by the clamped denominator
  test("community_density_matches_reference_multigraph_math") {
    val nodes = PropertyGraph.nodesDf(spark, Seq(
      ("a", "L", Map.empty[String, String]),
      ("b", "L", Map.empty[String, String]),
      ("s", "L", Map.empty[String, String])))
    val edges = PropertyGraph.edgesDf(spark, Seq(
      ("e1", "a", "b", "E", Map.empty[String, String]),
      ("e2", "b", "a", "E", Map.empty[String, String]),
      ("e3", "s", "s", "E", Map.empty[String, String])))
    val assignment = spark.createDataFrame(Seq(("a", "A"), ("b", "A"), ("s", "S")))
      .toDF("id", "community")
    val got = graft.algo.GraphAlgos
      .communityDensity(PropertyGraph(nodes, edges), assignment)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got("A") == ((2L, 2L, 2.0)), "reciprocal pair: 2 internal / 1 pair")
    assert(got("S") == ((1L, 1L, 1.0)), "self-loop singleton: 1 / max(0, 1)")
  }

  // Fixed-sweep min-label propagation must equal TRUE connected
  // components on real near-dup data (tiny cluster diameters), with
  // every document labeled and exactly one keeper per cluster.
  test("dedup_clusters_match_union_find") {
    val pairs = TextOps.ngramJaccardPairs(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = graft.Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    val parent = collection.mutable.Map(docs.toIndexedSeq.map(d => d -> d): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val expected = docs.map(d0 => d0 -> find(d0)).toMap
    val got = TextOps.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == docs.length, "every document gets a cluster")
    got.foreach { case (d0, c, keep) =>
      assert(c == expected(d0), s"doc $d0 cluster")
      assert(keep == (c == d0))
    }
    val keepers = got.filter(_._3).map(_._2).toSet
    assert(keepers == expected.values.toSet, "one keeper per cluster")
  }

  test("cosine_dedup_clusters_match_union_find") {
    val pairs = SimilarityOps.cosineNearDupPairs(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = graft.Tables.embeddings(spark, sf).select("vec_id")
      .collect().map(_.getLong(0))
    val parent = collection.mutable.Map(ids.toIndexedSeq.map(d => d -> d): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val got = SimilarityOps.cosineDedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == ids.length)
    got.foreach { case (v, c, keep) =>
      assert(c == find(v), s"vec $v cluster")
      assert(keep == (c == v))
    }
  }

  // Semantic pin for the distributed LPA: a 50-node fixture whose full
  // Jacobi + smallest-community-id-tie-break fixpoint is computed by an
  // INDEPENDENT in-memory reference implementation right here, and the
  // complete assignment asserted. Weights use the label bonus only (no
  // properties), so every per-community sum is an exact multiple of
  // 0.25 — no float-summation-order ambiguity between the two sides.
  // (The reference GUI sweeps sequentially over id-sorted nodes — a
  // Gauss-Seidel order whose fixpoints can differ; the engine's
  // documented stand-in is synchronous Jacobi sweeps, which on cyclic
  // ties can oscillate rather than converge — bounded by maxSweeps.)
  test("lpa_assignment_matches_inmemory_reference") {
    // two 20-node labeled blocks (ring + chords), two bridges, a
    // 6-node unlabeled path, 4 isolated nodes
    val n = 50
    val ids = (0 until n).map(i => f"n$i%02d")
    def labelOf(i: Int): String = if (i < 20) "A" else if (i < 40) "B" else ""
    val nodes = PropertyGraph.nodesDf(spark,
      ids.zipWithIndex.map { case (id, i) => (id, labelOf(i), Map.empty[String, String]) })
    val edgePairs =
      (0 until 20).map(i => (i, (i + 1) % 20)) ++
      (0 until 20).filter(_ % 3 == 0).map(i => (i, (i + 5) % 20)) ++
      (20 until 40).map(i => (i, 20 + (i + 1) % 20)) ++
      (20 until 40).filter(_ % 4 == 0).map(i => (i, 20 + (i + 7) % 20)) ++
      Seq((5, 25), (10, 30)) ++
      (40 until 45).map(i => (i, i + 1))
    val edges = PropertyGraph.edgesDf(spark,
      edgePairs.zipWithIndex.map { case ((a, b), k) =>
        (s"e$k", ids(a), ids(b), "E", Map.empty[String, String])
      })
    val g = PropertyGraph(nodes, edges)

    // community identity in the engine is GraphAlgos.vidExpr (md5-slice
    // long) — fetch the same hash for the reference simulation,
    // everything else is plain Scala
    val vidOf = nodes.select(col("id"), graft.algo.GraphAlgos.vidExpr(col("id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idOfVid = vidOf.map(_.swap)
    val w = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)] // (dst, src, w)
    for ((a, b) <- edgePairs; (u, v) <- Seq((a, b), (b, a))) {
      val weight = 1.0 + (if (labelOf(u) == labelOf(v) && labelOf(u).nonEmpty) 0.75 else 0.0)
      w += ((vidOf(ids(u)), vidOf(ids(v)), weight)) // v -> u message
    }
    var comm = ids.map(id => vidOf(id) -> vidOf(id)).toMap
    var sweep = 0
    var changed = true
    while (sweep < 8 && changed) {
      sweep += 1
      val scores = collection.mutable.Map.empty[(Long, Long), Double]
      for ((dst, src, weight) <- w) {
        val c = comm(src)
        scores((dst, c)) = scores.getOrElse((dst, c), 0.0) + weight
      }
      val best = scores.toSeq.groupBy(_._1._1).map { case (dst, entries) =>
        dst -> entries.map { case ((_, c), s) => (c, s) }
          .minBy { case (c, s) => (-s, c) }._1
      }
      val next = comm.map { case (u, old) => u -> best.getOrElse(u, old) }
      changed = next != comm
      comm = next
    }
    val expected = comm.map { case (u, c) => idOfVid(u) -> idOfVid(c) }
    val got = graft.algo.GraphAlgos.weightedLabelPropagation(g)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == expected, "full LPA assignment must match the in-memory reference")
    assert(got.size == n)
    // isolated nodes never receive a message: they stay their own seed
    (46 until 50).foreach(i => assert(got(ids(i)) == ids(i)))
  }

  test("pagerank_matches_inmemory_reference") {
    // recompute the 8-sweep integer PageRank in plain Scala over the
    // full sf0.001 FK graph and require exact agreement — integer
    // arithmetic makes this deterministic regardless of sum order.
    // Uniform, and personalized to the Supplier seeds: there the
    // restart term and the initial mass go to seeds only.
    val g = graft.core.GraphBuilder.fromTables(spark, sf)
    val edges = g.edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nodes = g.nodes.select("id", "label").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val scale = 10000000000L
    val base = scale * 15 / 100
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    def reference(seed: String => Boolean): Map[String, Long] = {
      val b = nodes.map { case (id, label) => id -> (if (seed(label)) base else 0L) }.toMap
      var pr = nodes.map { case (id, label) => id -> (if (seed(label)) scale else 0L) }.toMap
      for (_ <- 1 to 8) {
        val in = collection.mutable.Map.empty[String, Long]
        for ((s0, d0) <- edges)
          in(d0) = in.getOrElse(d0, 0L) + pr(s0) / outdeg(s0)
        pr = nodes.map { case (id, _) => id -> (b(id) + 17 * in.getOrElse(id, 0L) / 20) }.toMap
      }
      pr
    }
    def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = ranks(graft.operators.GraphOps.pageRank(spark, sf))
    assert(got == reference(_ => true), "full PageRank vector must match the in-memory reference")
    assert(got.size == nodes.length)
    // ranks are at least the base teleport mass
    assert(got.values.forall(_ >= base))
    val ppr = ranks(graft.operators.GraphOps.personalizedPageRank(spark, sf))
    assert(nodes.exists(_._2 == "Supplier") && nodes.exists(_._2 != "Supplier"))
    assert(ppr == reference(_ == "Supplier"),
      "full personalized PageRank vector must match the in-memory reference")
  }

  test("pagerank_guards_fail_before_anything_is_persisted") {
    val g = graft.core.GraphBuilder.fromTables(spark, sf)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 17·n·1e16 passes 2^63 once n > 54; sf0.001 has thousands of nodes
    val overflow = intercept[IllegalArgumentException](
      graft.algo.GraphAlgos.pageRankInt(g, scale = 10000000000000000L))
    assert(overflow.getMessage.contains("overflow guard"))
    // scale < 7 leaves no restart term
    val noRestart = intercept[IllegalArgumentException](
      graft.algo.GraphAlgos.pageRankInt(g, scale = 6L))
    assert(noRestart.getMessage.contains("restart term"))
    // no NEW persisted RDD (the context cleaner may still drop older
    // ones from earlier tests meanwhile)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "a failed guard must leave no persisted blocks behind")
  }

  test("lpa_leaves_only_its_result_persisted") {
    import spark.implicits._
    import graft.algo.GraphAlgos
    val g = graft.core.GraphBuilder.fromTables(spark, sf)
    // the result's own checkpoint at most; the context cleaner may still
    // drop older ones from earlier tests meanwhile
    def leavesOnlyItsResult(name: String)(run: => org.apache.spark.sql.DataFrame) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val result = run
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.size <= 1, s"$name: persisted RDDs left behind: $left")
      result
    }
    val communities = leavesOnlyItsResult("weightedLabelPropagation")(
      GraphAlgos.weightedLabelPropagation(g))
    assert(communities.count() == g.nodes.count())
    assert(leavesOnlyItsResult("kCore")(GraphAlgos.kCore(g)).count() > 0)
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    assert(leavesOnlyItsResult("minLabelClusters")(
      GraphAlgos.minLabelClusters((1L to 20L).toDF("id"), chain, 8)).count() == 20)
  }

  test("hop_distance_matches_inmemory_bfs") {
    // plain-Scala BFS from the Region nodes over the undirected
    // sf0.001 FK graph; 8 sweeps must equal true shortest hops
    // (diameter is 4: region-nation-customer/supplier-order-part)
    val g = graft.core.GraphBuilder.fromTables(spark, sf)
    val edges = g.edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val adj = collection.mutable.Map.empty[String, List[String]]
    for ((a, b) <- edges) {
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val sources = g.nodes.filter(col("label") === "Region")
      .select("id").collect().map(_.getString(0))
    val dist = collection.mutable.Map[String, Long](sources.toIndexedSeq.map(_ -> 0L): _*)
    var frontier = sources.toList
    var dLevel = 0L
    while (frontier.nonEmpty) {
      dLevel += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .filterNot(dist.contains).distinct
      frontier.foreach(v => dist(v) = dLevel)
    }
    val got = graft.operators.GraphOps.hopDistance(spark, sf).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val expected = g.nodes.select("id").collect().map(_.getString(0))
      .map(id => id -> dist.get(id)).toMap
    assert(got == expected, "hop distances must match the in-memory BFS")
    assert(got.size == expected.size)
  }

  test("shortest_path_matches_inmemory_bellman_ford") {
    // plain-Scala Bellman–Ford from the Region nodes over the
    // undirected weighted sf0.001 FK graph, capped at the SAME 8
    // relaxation rounds as the engine and oracle (after k rounds all
    // three equal min weight over ≤ k-edge walks — the defined
    // semantics, converged or not)
    val g = graft.core.GraphBuilder.fromTables(spark, sf)
    val w = graft.operators.GraphOps.ssspTypeWeights
    val edges = g.edges.select("src", "dst", "label").collect()
      .map(r => (r.getString(0), r.getString(1), w(r.getString(2))))
    val adj = collection.mutable.Map.empty[String, List[(String, Long)]]
    for ((a, b, c) <- edges) {
      adj(a) = (b, c) :: adj.getOrElse(a, Nil)
      adj(b) = (a, c) :: adj.getOrElse(b, Nil)
    }
    val nodes = g.nodes.select("id", "label").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val dist = collection.mutable.Map[String, Long](
      nodes.collect { case (id, "Region") => id -> 0L }.toIndexedSeq: _*)
    for (_ <- 1 to 8) {
      val relaxed = dist.toList.flatMap { case (u, du) =>
        adj.getOrElse(u, Nil).map { case (v, wc) => v -> (du + wc) }
      }
      for ((v, nd) <- relaxed if nd < dist.getOrElse(v, Long.MaxValue))
        dist(v) = nd
    }
    val got = graft.operators.GraphOps.shortestPath(spark, sf).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val expected = nodes.map { case (id, _) => id -> dist.get(id) }.toMap
    assert(got == expected,
      "weighted distances must match the in-memory Bellman-Ford")
    assert(got.size == expected.size)
    // weighted distance dominates hop count: every edge costs >= 1
    val hops = graft.operators.GraphOps.hopDistance(spark, sf).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got.forall { case (id, d) =>
      (d, hops(id)) match {
        case (Some(wd), Some(h)) => wd >= h
        case (a, b) => a.isEmpty == b.isEmpty
      }
    }, "weighted distance must be >= hop distance; reachability identical")
  }

  // spark.graft.durableCheckpoint swaps every graftCheckpoint call site
  // from executor-local localCheckpoint to reliable checkpoint files
  // under the configured dir (survives executor loss on a cluster)
  test("durable_checkpoint_escape_hatch") {
    import graft.core.Materialize
    val dir = tmpDir("graft_ckpt")
    def filesUnder(p: String): Long = {
      val s = Files.walk(java.nio.file.Paths.get(p))
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    spark.conf.set("spark.graft.durableCheckpoint", dir)
    try {
      // a direct frame materialization lands checkpoint files
      val df = Materialize.frame(spark.range(100).toDF("id"))
      assert(df.count() == 100)
      assert(filesUnder(dir) > 0, "reliable checkpoint files must land")
      // an iterative chain (mutating engine session -> PropertyGraph
      // .materialized -> graftCheckpoint) rides the same conf
      val before = filesUnder(dir)
      val s = new GraphSession(spark)
      s.execute("CREATE (:Ck {name:'a'}); CREATE (:Ck {name:'b'});")
      assert(s.execute("MATCH (n:Ck) RETURN n").rows.length == 2)
      assert(filesUnder(dir) > before, "engine chains must checkpoint durably")
    } finally spark.conf.unset("spark.graft.durableCheckpoint")
    // conf off: back to localCheckpoint, no new files appear
    val after = filesUnder(dir)
    val df2 = Materialize.frame(spark.range(50).toDF("id"))
    assert(df2.count() == 50)
    assert(filesUnder(dir) == after, "conf off must not write checkpoint files")
  }

  // q63's extraction must NULL anything that isn't a plain JSON
  // integer — unguarded, Spark truncates-or-throws on '2.5' where
  // DuckDB rounds, and DuckDB errors on malformed JSON where Spark
  // returns NULL. The DuckDB twin was probed on these same inputs:
  // it keeps exactly {12, 7, -3} too (huge ints surface as '1e21'
  // there and fail the same digit-cap regex).
  test("json_int_field_gates_non_integer_shapes") {
    import graft.operators.RelationalOps
    import spark.implicits._
    val rows = Seq(
      """{"k": 2.5}""", """{"k": 12}""", "not json", """{"k": true}""",
      """{"k": "7"}""", """{"k": -3}""", """{"x": 1}""",
      """{"k": 999999999999999999999}""").toDF("props")
    val got = rows.select(RelationalOps.jsonIntField(col("props"), "k").as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(None, Some(12L), None, None, Some(7L),
      Some(-3L), None, None))
  }

  // rounding twin: Spark's round() re-renders the double as its
  // shortest decimal string and HALF_UPs it; DuckDB rounds the binary
  // value — they disagree on tie-adjacent doubles (641.0/640 rounds
  // 1.001563 vs 1.001562 at 6 digits). OracleSql.roundTo/roundSql use
  // only IEEE mul/add/floor/div, so both engines agree by construction.
  test("round_twin_uses_binary_value_not_decimal_rendering") {
    import graft.operators.OracleSql
    import spark.implicits._
    val x = 641.0 / 640 // 1.00156249999999991…, shortest repr '1.0015625'
    val got = Seq(x).toDF("x")
      .select(OracleSql.roundTo(col("x"), 6).as("r"),
        round(col("x"), 6).as("legacy"))
      .head()
    assert(got.getDouble(0) == math.floor(x * 1e6 + 0.5) / 1e6, // 1.001562
      "twin must round the binary value like DuckDB")
    assert(got.getDouble(1) == 1.001563, // documents WHY round() is banned
      "if Spark's round() ever changes semantics, revisit the twin comment")
    val edge = Seq((Double.NaN, Option.empty[Double]))
      .toDF("nan", "nul")
      .select(OracleSql.roundTo(col("nan"), 6).as("nan"),
        OracleSql.roundTo(col("nul"), 6).as("nul"))
      .head()
    assert(edge.getDouble(0).isNaN, "NaN must pass through, not collapse to 0")
    assert(edge.isNullAt(1), "NULL must stay NULL")
  }

  // the builders that front long-lived use (Serve, Shell) must build
  // their contexts with the cleaner flag, or durable mode leaks one
  // rdd-N dir per materialization forever; the shared constant is what
  // both fold into their builders, so pinning it pins the wiring
  test("long_lived_session_conf_enables_checkpoint_cleanup") {
    assert(graft.core.Materialize.longLivedSessionConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints")
      .contains("true"))
  }

  // the cluster-survivability path end-to-end: a full iterative chain
  // (k-core — up to 8 peel sweeps on the superstep driver, its result
  // checkpoint, plus the graph-build materialization) must produce EXACTLY the
  // local-checkpoint results when every materialization goes to
  // reliable checkpoint files, and the files must be a plain removable
  // directory tree once the results are collected (the ContextCleaner
  // owns live-session cleanup only when the context was built with
  // cleanCheckpoints=true — Serve/Shell do; tests sweep by hand)
  // the delta-peel rewrite (deg_i = deg_{i-1} − edges into the
  // just-removed set) must equal the naive re-count-every-sweep
  // unrolled reference — including carried degrees — on graphs that
  // exercise multi-sweep cascades, a peel DEEPER than the sweep budget
  // (the fixed-sweep cap semantics), multi-edges, and isolated nodes
  test("kcore_delta_peel_matches_naive_unrolled_reference") {
    import graft.algo.GraphAlgos
    def naive(g: PropertyGraph, k: Int, sweeps: Int): Map[String, Long] = {
      val und = g.edges.select(col("src"), col("dst")).collect()
        .flatMap(r => Seq((r.getString(0), r.getString(1)),
          (r.getString(1), r.getString(0))))
      var alive = g.nodes.select("id").collect().map(_.getString(0)).toSet
      var deg = Map.empty[String, Long]
      for (_ <- 1 to sweeps) {
        val d = und.filter { case (u, v) => alive(u) && alive(v) }
          .groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
        deg = d.filter(_._2 >= k)
        alive = deg.keySet
      }
      deg
    }
    def engine(g: PropertyGraph, k: Int, sweeps: Int): Map[String, Long] =
      GraphAlgos.kCore(g, k, sweeps).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def mkGraph(n: Int, pairs: Seq[(Int, Int)]): PropertyGraph = {
      val nodes = PropertyGraph.nodesDf(spark,
        (0 until n).map(i => (s"n$i", "N", Map.empty[String, String])))
      val edges = PropertyGraph.edgesDf(spark,
        pairs.zipWithIndex.map { case ((a, b), i) =>
          (s"e$i", s"n$a", s"n$b", "E", Map.empty[String, String]) })
      PropertyGraph(nodes, edges)
    }
    // (a) long path at k=2: both ends peel one node per sweep, so a
    // 30-node path needs 14 sweeps — deeper than the 8-sweep budget;
    // the capped result must carry sweep-8 degrees exactly
    val path = mkGraph(30, (0 until 29).map(i => (i, i + 1)))
    assert(engine(path, 2, 8) == naive(path, 2, 8), "capped deep peel")
    // same graph run to its true fixpoint (everything peels away)
    assert(engine(path, 2, 16) == naive(path, 2, 16), "fixpoint peel")
    assert(engine(path, 2, 16).isEmpty)
    // (b) clique core + pendant chains + multi-edges + isolated nodes:
    // cascaded removals, duplicate-edge degree counting, nodes absent
    // from the edge list entirely, a self-loop on a pendant that gets
    // peeled (n8 counts it twice) and an edge to n13, which is no node
    val clique = for (i <- 0 until 6; j <- i + 1 until 6) yield (i, j)
    val chains = Seq((0, 6), (6, 7), (7, 8), (1, 9), (9, 10)) // pendants
    val multi = Seq((2, 3), (2, 3)) // duplicate edges count twice
    val loose = Seq((8, 8), (10, 13)) // self-loop; dangling endpoint
    val g2 = mkGraph(13, clique ++ chains ++ multi ++ loose) // n11, n12 isolated
    for (k <- 1 to 4)
      assert(engine(g2, k, 8) == naive(g2, k, 8), s"clique+pendants k=$k")
  }

  test("durable_checkpoint_iterative_chain_matches_local_mode") {
    import graft.algo.GraphAlgos
    def run(): Seq[(String, Long)] =
      GraphAlgos.kCore(GraphBuilder.fromTables(spark, sf).materialized)
        .orderBy("id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val baseline = run()
    assert(baseline.nonEmpty)
    val dir = tmpDir("graft_ckpt_chain")
    spark.conf.set("spark.graft.durableCheckpoint", dir)
    val durable = try run()
      finally spark.conf.unset("spark.graft.durableCheckpoint")
    assert(durable == baseline,
      "durable-mode iterative chain must match local-checkpoint results")
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    val entries = try walk.sorted(java.util.Comparator.reverseOrder())
      .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally walk.close()
    assert(entries.count(Files.isRegularFile(_)) > 0,
      "every sweep's materialization must land reliable checkpoint files")
    // results are collected; the store must be reclaimable with a
    // plain recursive delete (no open handles, no hidden state)
    entries.foreach(Files.delete)
    assert(!Files.exists(root), "checkpoint dir must be fully removable")
  }

  // the reliable-checkpoint write job must read cached blocks, not
  // re-execute the plan — otherwise every iterative sweep in durable
  // mode computes twice (the documented RDD.checkpoint caveat)
  test("durable_checkpoint_computes_plan_once") {
    import graft.core.Materialize
    import spark.implicits._
    val dir = tmpDir("graft_ckpt_once")
    val acc = spark.sparkContext.longAccumulator("graftComputeCount")
    spark.conf.set("spark.graft.durableCheckpoint", dir)
    try {
      val ds = spark.range(1000).as[Long].map { x => acc.add(1L); x }
      val cp = Materialize.frame(ds)
      assert(cp.count() == 1000)
      assert(acc.value == 1000L,
        s"durable checkpoint must compute the plan exactly once, saw ${acc.value} row evaluations")
    } finally spark.conf.unset("spark.graft.durableCheckpoint")
  }
}
