package graft.operators

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Fixed-sweep connected components shared by the dedup-clustering
  * operators (text q43, embeddings q44): min-label propagation over an
  * undirected pair set, run for UP TO `sweeps` sweeps with an early
  * exit at the fixpoint — provably identical to running all `sweeps`
  * (see below), which is what the paired DuckDB oracles unroll, so
  * engine and oracle agree bit-for-bit regardless of convergence;
  * union-find tests pin agreement with true components on real
  * near-dup data (tiny cluster diameters). Each sweep is one shuffle
  * (neighbor join + min groupBy, map-side combined) — the standard
  * iteration shape for 100 TB-scale component finding over a
  * near-linear pair set. */
object Components {

  /** `ids`: one long column `id` (every element gets a label);
    * `pairs`: long columns `a`, `b` (undirected edges). Returns
    * (id, cluster, keep) with cluster = smallest id reached within
    * `sweeps` hops and keep marking the canonical member.
    *
    * EARLY EXIT (r13, guide §1.2 — don't compute things you throw
    * away): each sweep maps the label vector through the same pure
    * function f(lbl) = min(own, neighbors), and labels are MONOTONE
    * non-increasing, so the exact Σlbl checksum (DECIMAL(38,0) — no
    * overflow, no wraparound collision) is strictly decreasing until
    * the fixpoint and constant after it. Equal consecutive checksums ⇔
    * no label changed ⇔ every remaining sweep is an identity map —
    * exiting then returns the bit-identical result of the fixed-sweep
    * unroll (pinned in PipelineOpsSpec). Near-dup clusters converge in
    * 2-3 sweeps, so this saves most of the 8 per-sweep
    * join+agg+materialize rounds.
    *
    * r14: the checksum rides the materializing checkpoint job as an
    * OBSERVED metric (CollectMetrics computes in the same pass the
    * eager checkpoint runs) — one job per sweep with zero extra
    * aggregation stages. The r13 shape (lazy checkpoint + a checksum
    * aggregation as the materializing action) paid an extra final-agg
    * stage per sweep, a measured −12% on the non-converging q44; the
    * observed form runs the q44 loop ~15% faster than even the r12
    * checksum-free eager sweeps (same-JVM A/B, identical sums;
    * recorded in OPTIMIZATION_r14.md §2). A NULL checksum over a
    * NONEMPTY frame can only be a decimal overflow (non-ANSI mode
    * returns NULL), so it is never accepted as a fixpoint — the
    * observed row's count disambiguates the legitimate empty-input
    * NULL. */
  def minLabelClusters(ids: DataFrame, pairs: DataFrame, sweeps: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val und = pairs.select(col("a").as("u"), col("b").as("v"))
      .unionByName(pairs.select(col("b").as("u"), col("a").as("v")))
      .graftCheckpoint()
    var lbl = ids.select(col("id"), col("id").as("lbl"))
    var prev: DataFrame = null
    var prevSum: Option[Option[BigDecimal]] = None
    var sweep = 0
    var converged = false
    while (sweep < sweeps && !converged) {
      sweep += 1
      val nbr = und.join(lbl.withColumnRenamed("id", "v"), "v")
        .select(col("u").as("id"), col("lbl"))
      val obs = Observation()
      val next = lbl.unionByName(nbr).groupBy("id").agg(min("lbl").as("lbl"))
        .observe(obs,
          sum(col("lbl").cast(DecimalType(38, 0))).as("s"),
          count(lit(1)).as("n"))
        .graftCheckpoint() // the one job per sweep; delivers obs too
      // bounded wait + fallback: the listener that publishes observed
      // metrics fires right after the checkpoint's job (verified in
      // OPTIMIZATION_r14.md §2); if it ever failed to, recompute
      // directly rather than hang or mis-converge
      val row = awaitObserved(obs, 60000L).getOrElse {
        val r = next.agg(
          sum(col("lbl").cast(DecimalType(38, 0))).as("s"),
          count(lit(1)).as("n")).head()
        Map[String, Any]("s" -> r.get(0), "n" -> r.getLong(1))
      }
      val curSum = Option(row("s").asInstanceOf[java.math.BigDecimal])
        .map(BigDecimal(_))
      val nonEmpty = row("n").asInstanceOf[Long] > 0L
      // null sum + nonempty frame = overflow, NOT a fixpoint (it would
      // take ~1e38 total label mass; guarded anyway per ADVICE r13)
      converged = prevSum.contains(curSum) && (curSum.isDefined || !nonEmpty)
      prevSum = Some(curSum)
      // drop the superseded sweep's blocks so repeated invocations don't
      // pin block-manager storage for the whole session
      if (prev != null) prev.unpersist(false)
      prev = lbl
      lbl = next
    }
    if (prev != null) prev.unpersist(false)
    und.unpersist(false)
    lbl.select(col("id"), col("lbl").as("cluster"),
      (col("lbl") === col("id")).as("keep"))
  }

  /** `Observation.get` with a deadline: get blocks on a latch the
    * query-execution listener releases; a daemon thread bounds the
    * wait so a missed delivery degrades to the caller's fallback
    * instead of hanging the sweep loop. */
  private def awaitObserved(obs: Observation,
      ms: Long): Option[Map[String, Any]] = {
    @volatile var r: Option[Map[String, Any]] = None
    val t = new Thread(() => { r = Some(obs.get) }, "graft-observe-wait")
    t.setDaemon(true)
    t.start()
    t.join(ms)
    r
  }
}
