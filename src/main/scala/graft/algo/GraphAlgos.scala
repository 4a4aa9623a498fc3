package graft.algo

import scala.reflect.ClassTag

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.PropertyGraph

/** Graph analytics matching the reference GUI's compute layer
  * (SURVEY §2.8): undirected degree (GA3, frontend.rs:597-600),
  * weighted label-propagation community detection (GA2,
  * frontend.rs:509-588), community density (GA4, frontend.rs:602-616);
  * and beyond it PageRank, personalized PageRank, BFS hop distance,
  * weighted shortest path, k-core and min-label connected components.
  *
  * LPA, both PageRanks, BFS/SSSP, k-core and connected components are
  * one vertex program each, run by the one superstep driver
  * [[superstep]].
  */
object GraphAlgos {

  /** 60-bit integer encoding of a node-id string: first 15 hex chars of
    * its md5, as a positive long. Used as the LPA community identity
    * (and tie-break order), chosen over xxhash64 because the identical
    * value is computable in DuckDB — `('0x' || substring(md5(id), 1,
    * 15))::BIGINT` — which makes the whole LPA chain oracle-checkable
    * (see GraphOps.lpaOracleSql). Deterministic and shuffle-free; swap
    * for zipWithIndex at billions-of-nodes scale, where ~60-bit hash
    * collisions become material. */
  private[graft] def vidExpr(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Hashes tuple keys by their FIRST element and scalar keys as-is, so
    * a `((dst, comm), w)` reduceByKey lands every row for `dst` in the
    * partition a plain `(dst, …)` RDD would use. Inherits
    * HashPartitioner.equals (numPartitions only), so RDDs keyed by dst
    * and RDDs keyed by (dst, comm) co-partition and join narrowly. */
  private class FirstElemHashPartitioner(n: Int) extends HashPartitioner(n) {
    override def getPartition(key: Any): Int = key match {
      case (a, _) => super.getPartition(a)
      case _      => super.getPartition(key)
    }
  }

  /** The superstep driver: Pregel's vertex program run as Pregelix's
    * dataflow (PAPERS.md, VLDB 2014), one join plus one group-by per
    * sweep. An algorithm brings
    * - `edges`: its edge payload keyed by SENDER vid (it may use the
    *   driver's partitioner to pre-partition);
    * - `init`: its initial state keyed by vid, one row per vertex;
    * - `gather`: sender-joined edges → messages keyed by receiver,
    *   partitioned by the partitioner it is given;
    * - `update(old, Option[msg])`, which must be deterministic;
    * - `sendUnchanged`: whether a vertex the previous sweep left
    *   unchanged still sends. False means only the vertices the last
    *   sweep changed send (every vertex in sweep 1). That is valid for
    *   an idempotent min-combiner (BFS/SSSP, components), where an
    *   unchanged vertex would resend a bound its receivers already
    *   folded in, and for a program that sends the delta of a change
    *   exactly once (k-core); either way update(old, None) = old;
    * - `value` and `finish`: the result's one long per vertex, and the
    *   frame built from (vid, value).
    *
    * The driver owns the rest. One partitioner keys edges, state and
    * messages, so the sender join and the state update are narrow and
    * a sweep's only shuffle is the gather's map-side-combined
    * reduceByKey. The edge RDD is partitioned and persisted once.
    * Messages to a vid outside the state are dropped. Each
    * sweep is exactly ONE job — the count that materializes the new
    * state — and a LongAccumulator in that job counts the vertices it
    * changed. It halts after `sweeps` sweeps, or after a sweep that
    * changes nothing: the update is deterministic, so that state is a
    * fixpoint and every later sweep an identity — the result equals the
    * fixed-sweep oracles either way. Every block it persisted is
    * dropped before it returns (blocking, so the cleanup lands inside
    * the analytic's own wall-clock, not in the next query's), and also
    * when a sweep fails.
    *
    * Why RDDs, measured at sf0.1:
    * - a DataFrame loop re-shuffles the full edge list every sweep
    *   (localCheckpoint erases the partitioning, so Catalyst plans 3
    *   exchanges per sweep): PageRank took 13.3 s;
    * - GraphX paid uncopartitioned vertex joins plus a full triplets
    *   shuffle and a convergence join per sweep: LPA took 1113 s;
    * - an `aggregateByKey` gather with a per-destination HashMap
    *   round-tripped a boxed map per node through the serializer every
    *   sweep: LPA took 90 s (Java) / 153 s (Kryo) for 8 sweeps, and
    *   511 s under bench memory pressure. The gathers here reduce flat
    *   primitive tuples, so their cost does not depend on the
    *   configured serializer.
    *
    * Why rebuild the edge RDD per call: r13 cached it per (session,
    * graph) so q53 could reuse q101's (~5 s saved in an isolated
    * probe), but the full-bench A/B at r14 measured the pinned
    * deserialized blocks as a large net loss — q31 LPA cold read
    * 99-135 s (3 JVMs, two hosts) vs ≤17 s before, q42 cold 29 s vs
    * 6 s, q53 itself 71 s vs 18 s rebuilding fresh, cold_total 449 s →
    * 233 s with the cache removed. */
  private def superstep[E: ClassTag, S: ClassTag, M: ClassTag](
      spark: SparkSession, sweeps: Int,
      edges: Partitioner => RDD[(Long, E)],
      init: RDD[(Long, S)],
      gather: (RDD[(Long, (E, S))], Partitioner) => RDD[(Long, M)],
      update: (S, Option[M]) => S,
      sendUnchanged: Boolean,
      value: S => Long,
      finish: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val part = new FirstElemHashPartitioner(math.max(sc.defaultParallelism, 16))
    val e = edges(part).partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // (state, changed by the last sweep); every vertex starts as a sender
    var state: RDD[(Long, (S, Boolean))] = init.partitionBy(part)
      .mapValues(s => (s, true)).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val changed = sc.longAccumulator("superstepChanged")
      var sweep = 0
      var live = true
      while (sweep < sweeps && live) {
        sweep += 1
        changed.reset()
        val senders = if (sendUnchanged) state else state.filter(_._2._2)
        val msgs = gather(e.join(senders.mapValues(_._1), part), part) // narrow join
        val next = state.leftOuterJoin(msgs, part) // narrow
          .mapValues { case ((old, _), m) =>
            val s = update(old, m)
            val moved = s != old
            if (moved) changed.add(1L)
            (s, moved)
          }
          .persist(StorageLevel.MEMORY_AND_DISK)
        try next.count() // the sweep's one job
        finally { state.unpersist(blocking = false); state = next }
        live = changed.value > 0L
      }
      finish(state.map { case (v, (s, _)) => (v, value(s)) }.toDF("vid", "value"))
        .graftCheckpoint()
    } finally {
      e.unpersist(blocking = true)
      state.unpersist(blocking = true)
    }
  }

  /** (id, vid) of every node: a lazy projection of the nodes, joined
    * only into a program's result, so it holds no blocks. */
  private def idMap(g: PropertyGraph): DataFrame =
    g.nodes.select(col("id"), vidExpr(col("id")).as("vid"))

  /** Integer fixed-point PageRank over the DIRECTED multigraph, run for
    * a fixed `sweeps` count: pr₀ = scale; pr_{k+1}(v) = (scale·15) div
    * 100 + (17 · Σ_{u→v} (pr_k(u) div outdeg(u))) div 20 (damping
    * 0.85 = 17/20 as exact integer arithmetic). Every operation is
    * integer add/div, so sums are ORDER-INDEPENDENT and the paired
    * DuckDB oracle matches bit-for-bit — the same trick that makes the
    * LPA chain checkable. Dangling-node mass is dropped (no out-edges →
    * no contribution), a documented divergence from the classic
    * redistribute-everywhere formulation that keeps every term local.
    *
    * Overflow: total mass is bounded by n·scale (the damped fixpoint of
    * M ← 0.15·n·scale + 0.85·M), and on a hub-heavy graph a single
    * node's in_sum can approach that whole mass, so the worst-case
    * guard is 17·n·scale < 2⁶³ — with scale=10¹⁰ that holds to
    * ~5·10⁷ nodes (asserted below); larger graphs lower `scale`. */
  def pageRankInt(g: PropertyGraph, sweeps: Int = 8,
      scale: Long = 10000000000L): DataFrame =
    pageRankLoop(g, lit(true), sweeps, scale)

  /** PERSONALIZED integer PageRank: identical exact-integer loop, but
    * both the initial mass and the per-sweep restart term go ONLY to
    * nodes labeled `seedLabel` — rank measures proximity to the seed
    * set (random walk with restart), the graph-similarity primitive
    * behind recommendation / related-entity queries. Same overflow
    * bound (seed mass ≤ full mass), same oracle-checkable arithmetic. */
  def personalizedPageRankInt(g: PropertyGraph, seedLabel: String,
      sweeps: Int = 8, scale: Long = 10000000000L): DataFrame =
    pageRankLoop(g, col("label") === seedLabel, sweeps, scale)

  /** State (base, pr): `base` is the restart term, nonzero exactly at
    * the seeds, which also hold the initial mass. Edge payload (dst,
    * outdeg of the sender). */
  private def pageRankLoop(g: PropertyGraph, seed: Column,
      sweeps: Int, scale: Long): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val base = scale * 15 / 100
    // both guards run before anything is persisted, so a failed one
    // leaves no blocks behind
    require(base > 0, s"pageRankInt needs scale ≥ 7 so the restart term is nonzero (scale=$scale)")
    // hub-heavy worst case: one node can receive ~all the total mass
    // n·scale, and the update multiplies by 17 before dividing
    require(BigInt(17) * g.nodes.count() * scale < BigInt(Long.MaxValue),
      s"pageRankInt overflow guard: 17*n*scale must stay < 2^63; lower scale=$scale")
    superstep[(Long, Long), (Long, Long), Long](spark, sweeps,
      edges = part => {
        val bySrc = g.edges
          .select(vidExpr(col("src")).as("s"), vidExpr(col("dst")).as("d"))
          .as[(Long, Long)].rdd.partitionBy(part)
        bySrc.join(bySrc.mapValues(_ => 1L).reduceByKey(part, _ + _), part) // narrow
      },
      init = g.nodes
        .select(vidExpr(col("id")), when(seed, base).otherwise(0L))
        .as[(Long, Long)].rdd
        .mapValues(b => (b, if (b > 0L) scale else 0L)),
      gather = (sent, part) => sent
        .map { case (_, ((dst, deg), (_, p))) => (dst, p / deg) }
        .reduceByKey(part, _ + _),
      update = { case ((b, _), in) => (b, b + 17 * in.getOrElse(0L) / 20) },
      sendUnchanged = true,
      value = _._2,
      finish = _.join(idMap(g), "vid").select(col("id"), col("value").as("pr")))
  }

  /** Multi-source BFS hop distance over the UNDIRECTED graph: nodes
    * whose label matches `sourceLabel` start at 0, everything else at
    * null; up to `sweeps` relaxations take the min of the current
    * distance and (neighbor distance + 1). With sweeps ≥ the graph
    * diameter this is the exact shortest hop count; all-integer
    * min/plus arithmetic keeps the unrolled DuckDB oracle bit-exact
    * (nulls for unreachable nodes on both sides).
    *
    * FRONTIER form of the Jacobi sweep: with unit weights, sweep k of
    * the full relaxation assigns new distances ONLY to neighbors of
    * nodes settled in sweep k−1 (an already-settled neighbor at
    * distance d proposes d+1 ≥ any existing assignment), so messaging
    * from just the newly-settled frontier yields the identical
    * assignment after every sweep while total message volume drops
    * from sweeps·|E| to |E| — and when the frontier empties (the
    * fixpoint the fixed-sweep oracle also reaches) the loop exits
    * early.
    *
    * Implemented as [[ssspFrom]] with unit weights — BFS is the
    * weighted relaxation's special case. */
  def hopDistanceFrom(g: PropertyGraph, sourceLabel: String,
      sweeps: Int = 8): DataFrame =
    ssspFrom(g, sourceLabel, Map.empty, sweeps)

  /** Weighted single-source shortest path from every `sourceLabel`
    * node over the undirected FK graph: Bellman–Ford with per-edge-TYPE
    * integer weights, capped at `sweeps` relaxation rounds. After k
    * rounds the assignment is EXACTLY min total weight over walks of
    * ≤ k edges — the same quantity the paired oracle's k unrolled
    * min-relax sweeps compute — whether or not the fixpoint is reached.
    *
    * FRONTIER form of the relaxation: a message dist(u)+w only needs
    * re-sending when dist(u) improved last round (distances are
    * monotone non-increasing and every sweep keeps
    * LEAST(previous, candidate), so messages from non-improved nodes
    * are redundant re-sends of an already-incorporated bound). Unlike
    * BFS, a node can improve — and hence re-enter the frontier —
    * multiple times; the loop still exits early only when the frontier
    * empties, which is the true Bellman–Ford fixpoint. */
  def ssspFrom(g: PropertyGraph, sourceLabel: String,
      typeWeights: Map[String, Long], sweeps: Int = 8): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val INF = Long.MaxValue
    // empty map = unit weights: hopDistanceFrom's BFS is this loop's
    // special case (a settled node then never re-improves)
    // unknown edge labels default to unit weight: a bare element_at
    // returns NULL for labels missing from the map and the tuple decode
    // below would NPE at runtime — unit weight keeps a new edge type
    // traversable instead of breaking SSSP opaquely (callers that want
    // the engine/oracle edge sets in lockstep pass a complete map)
    val wExpr =
      if (typeWeights.isEmpty) lit(1L)
      else coalesce(element_at(typedLit(typeWeights), col("label")), lit(1L))
    superstep[(Long, Long), Long, Long](spark, sweeps,
      edges = _ => g.edges
        .select(vidExpr(col("src")), vidExpr(col("dst")), wExpr.cast("long"))
        .as[(Long, Long, Long)].rdd
        .flatMap { case (s, d, w) => Seq((s, (d, w)), (d, (s, w))) },
      init = g.nodes
        .select(vidExpr(col("id")),
          when(col("label") === sourceLabel, lit(0L)).otherwise(lit(INF)))
        .as[(Long, Long)].rdd,
      // sweep 1 sends from every vertex; the unreached ones stay silent
      gather = (sent, part) => sent
        .collect { case (_, ((u, w), d)) if d != INF => (u, d + w) }
        .reduceByKey(part, math.min(_, _)),
      update = (d, m) => m.fold(d)(math.min(d, _)),
      sendUnchanged = false,
      value = identity,
      finish = _.join(idMap(g), "vid").select(col("id"),
        when(col("value") === INF, lit(null).cast("bigint"))
          .otherwise(col("value")).as("dist")))
  }

  /** Undirected adjacency (GA1): both edge directions. */
  def undirectedEdges(g: PropertyGraph): DataFrame =
    g.edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(g.edges.select(col("dst").as("u"), col("src").as("v")))

  /** Undirected degree per node (GA3). Nodes with no edges get 0. */
  def degrees(g: PropertyGraph): DataFrame =
    g.nodes.select(col("id"))
      .join(undirectedEdges(g).groupBy(col("u").as("id"))
        .agg(count(lit(1)).as("degree")), Seq("id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))

  /** Edge weight of the reference's weighted LPA
    * (frontend.rs:536-562): 1.0 + 0.75·[same label]
    * + 0.5·(shared k=v metadata pairs / max(|meta_a|, 1)).
    * Note the asymmetry: the denominator is the *source* node's
    * metadata size, reproduced faithfully. */
  private[graft] def weightedNeighborPairs(g: PropertyGraph): DataFrame = {
    // metadata overlap via per-NODE "k=v" arrays + native array_intersect
    // per edge. The per-edge map_filter lambda formulation evaluates the
    // captured-map lambda interpreted on every PAIR — measured 264 s for
    // 2.7M pairs vs ~10 s this way; per-node prep is O(|V|), per-edge
    // work is a native intersect of ≤|props| strings.
    val prepped = g.nodes.select(col("id"), col("label"),
      vidExpr(col("id")).as("vid"), // hashed ONCE per node, not per pair
      transform(map_entries(col("properties")),
        e => concat(e.getField("key"), lit("="), e.getField("value"))).as("kv"),
      greatest(size(col("properties")).cast("double"), lit(1.0)).as("nprops"))
    val n1 = prepped.select(col("id").as("u"), col("label").as("u_label"),
      col("vid").as("u_vid"), col("kv").as("u_kv"), col("nprops").as("u_nprops"))
    val n2 = prepped.select(col("id").as("v"), col("label").as("v_label"),
      col("vid").as("v_vid"), col("kv").as("v_kv"))
    undirectedEdges(g)
      .join(n1, "u").join(n2, "v")
      .withColumn("overlap",
        size(array_intersect(col("u_kv"), col("v_kv"))).cast("double"))
      .withColumn("weight",
        lit(1.0) +
          // same-label bonus requires a NON-EMPTY label (frontend.rs:546
          // `la == lb && !la.is_empty()`): two unlabeled nodes get no bonus
          when(col("u_label") === col("v_label") && col("u_label") =!= lit(""), 0.75)
            .otherwise(0.0) +
          lit(0.5) * col("overlap") / col("u_nprops"))
      .select("u", "v", "weight", "u_vid", "v_vid")
  }

  /** Weighted label propagation (GA2): every node starts as its own
    * community; up to `maxSweeps` synchronous sweeps (the reference
    * sweeps sequentially over id-sorted nodes — a Gauss-Seidel order
    * that a distributed engine replaces with Jacobi sweeps + a
    * deterministic tie-break on the smallest community id); early-stops
    * when no assignment changes. Returns (id, community) with community
    * named by its seed node's id.
    *
    * Gather: messages flow v → u (u adopts from neighbors v), summed per
    * flat `((u, comm), weight)` tuple. The driver's partitioner hashes
    * that key by `u` alone, so the per-destination argmax runs
    * partition-locally and its result stays co-partitioned with the
    * state. */
  def weightedLabelPropagation(g: PropertyGraph, maxSweeps: Int = 8): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    // Weights ride as FIXED-POINT longs (the pageRankInt trick): the
    // per-sweep reduceByKey gives no accumulation-order guarantee, and
    // IEEE double addition is non-associative — with any non-unit
    // weight (0.5·overlap/nprops is non-representable for most nprops)
    // two runs could sum to values an ulp apart and argmax different
    // communities. Each PER-EDGE weight is quantized once by a
    // deterministic double expression (same long every run), then sums
    // are exact integers. 2^20 scale × max weight 2.25 ≈ 2.4e6 per
    // edge; overflow would need a destination degree above ~3.9e12.
    val wScale = 1L << 20
    val ids = idMap(g)
    superstep[(Long, Long), Long, Long](spark, maxSweeps,
      edges = _ => weightedNeighborPairs(g)
        .select(col("v_vid"), col("u_vid"),
          floor(col("weight") * wScale + lit(0.5)))
        .as[(Long, Long, Long)].rdd
        .map { case (v, u, w) => (v, (u, w)) },
      init = g.nodes.select(vidExpr(col("id"))).as[Long].rdd.map(v => (v, v)),
      // argmax per destination, ties to the smallest community id (the
      // deterministic Jacobi stand-in for the reference's sequential
      // id-sorted sweep)
      gather = (sent, part) => sent
        .map { case (_, ((u, w), c)) => ((u, c), w) }
        .reduceByKey(part, _ + _) // exact BIGINT sums
        .mapPartitions({ it =>
          val bestOf = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
          it.foreach { case ((u, c), w) =>
            bestOf.get(u) match {
              case Some((bc, bw)) if w > bw || (w == bw && c < bc) =>
                bestOf(u) = (c, w)
              case None => bestOf(u) = (c, w)
              case _    => ()
            }
          }
          bestOf.iterator.map { case (u, (c, _)) => (u, c) }
        }, preservesPartitioning = true),
      update = (old, best) => best.getOrElse(old),
      sendUnchanged = true,
      value = identity,
      finish = _.join(ids, "vid")
        .join(ids.select(col("vid").as("value"), col("id").as("community")), "value")
        .select("id", "community"))
  }

  /** k-CORE PEELING: repeatedly remove nodes with undirected degree
    * < k (degree counted within the surviving subgraph), `sweeps`
    * fixed rounds with early exit only at the fixpoint — so the result
    * equals the unrolled fixed-sweep DuckDB oracle exactly, the same
    * contract as hopDistanceFrom. Returns surviving (id, deg) with the
    * degree inside the final subgraph. With sweeps ≥ the peeling depth
    * this is the exact k-core.
    *
    * DELTA form of the peel as a vertex program. Peel sweep 1 is the
    * full degree count over edges with both endpoints among the nodes
    * (`init`); a vertex whose degree is then < k is removed. With
    * alive_i = alive_{i-1} \ removed_{i-1}, the later sweeps satisfy
    * deg_i(u) = deg_{i-1}(u) − |{u→v : v ∈ removed_{i-1}}| for every
    * surviving u, so each removed vertex sends 1 along each of its
    * edges exactly once — in the sweep after its degree first fell
    * below k, the only sweep in which it is both changed and below k —
    * and a removed vertex is frozen (it ignores what it receives, so it
    * never changes or sends again). Peel sweeps 2..`sweeps` are the
    * driver's sweeps. Measured at sf0.1, the peel removes 13,787 nodes
    * in sweep 1 and then 11 + 3 + 0, so the later sweeps send only a
    * few messages each. Removal monotonicity makes the recurrence exact
    * (a removed node never returns); a sweep that removes nothing
    * leaves the next one nothing to send, which is the driver's
    * fixpoint. Nodes with no edge among the nodes are absent from the
    * degree count, as from the oracle's inner joins. */
  def kCore(g: PropertyGraph, k: Int = 3, sweeps: Int = 8): DataFrame = {
    require(sweeps >= 1, "kCore needs at least one peel sweep")
    val spark = g.nodes.sparkSession
    import spark.implicits._
    superstep[Long, Long, Long](spark, sweeps - 1,
      edges = _ => g.edges.select(vidExpr(col("src")), vidExpr(col("dst")))
        .as[(Long, Long)].rdd
        .flatMap { case (s, d) => Seq((s, d), (d, s)) },
      init = undirectedEdges(g)
        .join(g.nodes.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(g.nodes.select(col("id").as("v")), Seq("v"), "left_semi")
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .select(vidExpr(col("u")), col("deg"))
        .as[(Long, Long)].rdd,
      gather = (sent, part) => sent
        .collect { case (_, (v, deg)) if deg < k => (v, 1L) }
        .reduceByKey(part, _ + _),
      update = (deg, m) => if (deg < k) deg else deg - m.getOrElse(0L),
      sendUnchanged = false,
      value = identity,
      finish = _.filter(col("value") >= k).join(idMap(g), "vid")
        .select(col("id"), col("value").as("deg")))
  }

  /** Connected components by min-label propagation over an undirected
    * pair set, shared by the dedup-clustering operators (text q43,
    * embeddings q44). `ids`: one long column `id`, unique; `pairs`: long
    * columns `a`, `b` (undirected edges), both drawn from `ids` — a pair
    * naming an id outside `ids` is dropped, not added as a new element.
    * Returns (id, cluster, keep) with cluster = smallest id reached
    * within `sweeps` hops and keep marking the canonical member.
    *
    * SSSP with weight 0, each id its own vid: state is the label, the
    * gather a min, and only the vertices the last sweep changed send. Up to `sweeps` sweeps,
    * halting at the fixpoint, so the result equals the fixed-sweep
    * unroll the paired DuckDB oracles run (OracleSql.minLabelSweeps),
    * whether or not the labels converge. */
  def minLabelClusters(ids: DataFrame, pairs: DataFrame, sweeps: Int): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    superstep[Long, Long, Long](spark, sweeps,
      edges = _ => pairs.select(col("a"), col("b")).as[(Long, Long)].rdd
        .flatMap { case (a, b) => Seq((a, b), (b, a)) },
      init = ids.select(col("id")).as[Long].rdd.map(v => (v, v)),
      gather = (sent, part) => sent.values.reduceByKey(part, math.min(_, _)),
      update = (lbl, m) => m.fold(lbl)(math.min(lbl, _)),
      sendUnchanged = false,
      value = identity,
      finish = _.select(col("vid").as("id"), col("value").as("cluster"),
        (col("value") === col("vid")).as("keep")))
  }

  /** Community density (GA4): internal undirected edge count over
    * possible pairs max(n(n−1)/2, 1). Returns (community, n_nodes,
    * internal_edges, density).
    *
    * The formula mirrors frontend.rs:602-616 exactly: the reference
    * pushes BOTH directions of every relationship into its neighbor
    * lists, counts within-community entries, and halves — which equals
    * counting each DIRECTED relationship whose endpoints share the
    * community once (a reciprocal pair contributes 2, a self-loop 1),
    * so density CAN exceed 1.0 on multigraph communities, faithfully.
    * The denominator clamps to 1 (`if possible_edges == 0`), so a
    * singleton community with a self-loop reports density 1.0, not 0. */
  def communityDensity(g: PropertyGraph, assignment: DataFrame): DataFrame = {
    val sizes = assignment.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val internal = g.edges
      .join(assignment.select(col("id").as("src"), col("community").as("c1")), "src")
      .join(assignment.select(col("id").as("dst"), col("community").as("c2")), "dst")
      .filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    sizes.join(internal, Seq("community"), "left")
      .withColumn("internal_edges", coalesce(col("internal_edges"), lit(0L)))
      .withColumn("density",
        col("internal_edges").cast("double") /
          greatest(col("n_nodes") * (col("n_nodes") - 1) / lit(2.0), lit(1.0)))
  }

  /** Distinct label / rel-type / property-key universe (A5,
    * frontend.rs:2160-2175 — the autocomplete scan). */
  def schemaSummary(g: PropertyGraph): (DataFrame, DataFrame, DataFrame) = (
    g.nodes.select("label").distinct(),
    g.edges.select("label").distinct(),
    g.nodes.select(explode(map_keys(col("properties"))).as("key")).distinct())
}
