package graft.operators

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Co-occurrence / node-similarity analytics over the order–part and
  * supplier–part bipartite structures — the "node similarity" family a
  * graph-analytics engine grows next to LPA/PageRank (the reference has
  * no equivalent; these are beyond-parity training-pipeline ops, same
  * category as the dedup/similarity families).
  *
  * Scale pattern (both ops): NEVER all-pairs. Candidates are generated
  * within the shared entity's collected membership list (order / part),
  * so pair volume is Σ_e deg(e)² over that entity — bounded by capping
  * the per-entity degree (`maxBasket` / `maxDf`), the same hot-key
  * guard as [[TextOps.ngramJaccardPairs]]. One entity-keyed shuffle to
  * build the lists, map-side pair explode, map-side-combined count
  * aggregation on top (r13: replaced the membership self-join — see
  * cappedPairCounts).
  *
  * Each query derives its membership table and co-purchase edges within
  * its own call, so an answer follows `lineitem` on disk: nothing is
  * kept between queries.
  */
object CooccurrenceOps {

  /** Distinct membership table (a, b) over two lineitem columns,
    * materialized for the call: both candidate-join SIDES and the
    * degree filter reference the same frame, and without
    * materialization each physical branch re-scans the fact table
    * (measured: 6 lineitem scans in the q58 plan) — at warehouse scale
    * the membership derivation must run once. */
  private def memb(s: SparkSession, d: String,
      cols: (String, String)): DataFrame =
    Tables(s, d, "lineitem")
      .select(col(cols._1).as("a"), col(cols._2).as("b"))
      .distinct().graftCheckpoint()

  /** q57: part pairs that co-occur in the same order (market-basket
    * co-purchase), top `k` by distinct order count. Orders with more
    * than `maxBasket` distinct parts are dropped before pairing — the
    * per-key quadratic guard; TPC-H-ish orders carry ≤7 lineitems, so
    * at test scale nothing is trimmed (the oracle applies the same
    * cap, so the gate would catch a divergence loudly if data changed).
    */
  def copurchasePairs(s: SparkSession, d: String, k: Int = 25,
      maxBasket: Int = 64): DataFrame =
    // memb is already distinct — straight into the capped pair count,
    // no second distinct pass
    cappedPairCounts(
      memb(s, d, ("l_orderkey", "l_partkey"))
        .select(col("a").as("okey"), col("b").as("pkey")),
      maxBasket)
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(k)

  /** [[copurchasePairs]] over an explicit (okey, pkey) membership frame
    * — the unit-testable core. Collapses duplicate memberships first;
    * the production path ([[memb]]) is already distinct and calls
    * [[cappedPairCounts]] directly. */
  def copurchasePairsOf(memb: DataFrame, k: Int, maxBasket: Int): DataFrame =
    cappedPairCounts(memb.select("okey", "pkey").distinct(), maxBasket)
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(k)

  /** The df-capped pair-count core shared by q57 and the co-purchase
    * edge builder (q68/q96): drop baskets above `maxBasket`, pair every
    * two parts within a basket, count baskets per (p1, p2) pair. The
    * cap logic is part of the operator definition mirrored in the
    * oracle CTEs — ONE Scala copy so an edit can't silently diverge
    * q57 from q68/q96. `lp` must be distinct (okey, pkey).
    *
    * r13 rewrite (guide §2.4 — remove shuffles outright, share one
    * exchange): the basket-size cap rides a window count over ONE
    * okey-partitioned exchange, and the pair self-join consumes that
    * same exchange on both sides (ReuseExchange; the window's sort
    * already satisfies the merge join's ordering) — so the membership
    * stream is shuffled ONCE, with no eager checkpoint and no
    * size-filter join. Probed three ways at 1×/10× (recorded in
    * OPTIMIZATION_r13.md §1): the previous shape (degree groupBy + cap
    * join + checkpoint + self-join) ran 1.1 s / 6.8 s warm; a
    * collect_list basket build + pair explode ran 0.8 s / 14.9 s (ObjectHashAggregate leaves
    * whole-stage codegen and collapses at scale); this window shape
    * runs 1.5 s / 2.3 s — the only variant that stays flat at 10×.
    * The per-basket quadratic stays capped by `maxBasket` over
    * distinct parts, exactly as before. */
  private def cappedPairCounts(lp: DataFrame, maxBasket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = lp
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("okey")))
      .filter(col("bsize") <= maxBasket)
    kept.select(col("okey"), col("pkey").as("p1"))
      .join(kept.select(col("okey"), col("pkey").as("p2")), "okey")
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_orders"))
  }

  /** DuckDB rendering of [[copurchasePairs]]. */
  def copurchaseOracleSql(k: Int = 25, maxBasket: Int = 64): String =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
       |            FROM lineitem),
       |kept AS (SELECT lp.okey, lp.pkey FROM lp
       |  JOIN (SELECT okey FROM lp GROUP BY okey
       |        HAVING COUNT(*) <= $maxBasket) sz USING (okey))
       |SELECT a.pkey AS p1, b.pkey AS p2, COUNT(*) AS n_orders
       |FROM kept a JOIN kept b ON a.okey = b.okey AND a.pkey < b.pkey
       |GROUP BY 1, 2
       |ORDER BY n_orders DESC, p1, p2 LIMIT $k""".stripMargin

  /** q58: supplier pairs ranked by Jaccard similarity of their part
    * catalogs (shared parts / union of parts), top `k`. Candidates are
    * generated per part; parts supplied by more than `maxDf` suppliers
    * are skipped in candidate generation only (their pairs can still
    * surface via other shared parts) — but the SHARED count is then
    * computed over the capped candidate set, so the cap is part of the
    * operator's definition and the oracle applies it identically.
    * Test-scale parts stay well under the default cap (max 52 suppliers
    * per part at sf0.1), so nothing is trimmed.
    *
    * Jaccard uses exact integer counts; only the final ratio is a
    * rounded double.
    */
  def supplierOverlap(s: SparkSession, d: String, k: Int = 50,
      maxDf: Int = 1000): DataFrame = {
    val sp = memb(s, d, ("l_suppkey", "l_partkey"))
      .select(col("a").as("sk"), col("b").as("pk"))
    val sizes = sp.groupBy("sk").agg(count(lit(1)).as("nparts"))
    // r13 rewrite, same shape as [[cappedPairCounts]]: the df cap rides
    // a window count over ONE pk-partitioned exchange and the candidate
    // self-join consumes that same exchange on both sides — the
    // membership stream shuffles once, with no degree groupBy, no cap
    // join, and no eager checkpoint (was 4 exchanges + a persisted pass
    // per call, 3.2-5.0 s warm at sf0.1; now ~1.7 s, and flat at 10×
    // where a collect_list basket build collapses — see the
    // OPTIMIZATION_r13.md §1 numbers in cappedPairCounts). Per-part
    // pair volume stays capped by maxDf exactly as before.
    import org.apache.spark.sql.expressions.Window
    val kept = sp
      .withColumn("pdeg", count(lit(1)).over(Window.partitionBy("pk")))
      .filter(col("pdeg") <= maxDf)
    val shared = kept.select(col("pk"), col("sk").as("s1"))
      .join(kept.select(col("pk"), col("sk").as("s2")), "pk")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
    // r14: attach n1/n2 from ONE un-aliased sizes subtree (identical on
    // both joins, so exchange reuse computes the per-supplier agg once)
    // and let AQE pick the join strategy from the runtime size — the
    // previous explicit broadcast(sizes) hints built the agg twice and
    // forced a full supplier-cardinality broadcast unconditionally, a
    // local-mode assumption at the 100 TB design point (at toy scale
    // AQE still broadcasts; at supplier cardinalities past the
    // threshold it degrades to a shuffle join of two aggregates).
    // Probed at 1x/10x: within noise of the hinted shape both ways.
    shared
      .join(sizes, col("s1") === col("sk"))
      .withColumnRenamed("nparts", "n1").drop("sk")
      .join(sizes, col("s2") === col("sk"))
      .withColumnRenamed("nparts", "n2").drop("sk")
      .withColumn("jaccard",
        OracleSql.roundTo(col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared")), 6))
      .select("s1", "s2", "shared", "jaccard")
      .orderBy(col("jaccard").desc, col("s1"), col("s2"))
      .limit(k)
  }

  /** q68: per-node triangle participation counts over the co-purchase
    * graph (parts linked when they co-occur in at least `minSupport`
    * distinct orders). Triangle counting is the classic clustering-
    * coefficient / spam-detection primitive; the co-purchase projection
    * is where the FK schema actually has triangles (the raw FK graph is
    * multipartite and triangle-free).
    *
    * Scale shape: the textbook degree-oriented (rank-ordered)
    * node-iterator. Every undirected edge is oriented from its
    * lower-(degree, id) endpoint to the higher one, which turns the
    * enumeration join e(a,b)⋈e(b,c)⋈e(a,c) into a DAG join whose work
    * is Σ_v outdeg(v)² with outdeg ≤ O(√m) — the skew-proof bound that
    * makes triangle counting feasible on power-law graphs (a hub's
    * edges mostly point INTO it, so the hub never fans out). Three
    * edge-keyed shuffles, no broadcast assumption, map-side-combined
    * final count. Edge derivation reuses the df-capped co-purchase
    * join ([[copurchasePairsOf]] shape). */
  def triangles(s: SparkSession, d: String, minSupport: Int = 2,
      maxBasket: Int = 64): DataFrame =
    trianglesOfEdges(copurchaseEdges(s, d, minSupport, maxBasket))

  /** The co-purchase edge set (p1 < p2, distinct): part pairs that
    * share at least `minSupport` capped baskets. Materialized, since
    * q96 reads it twice: for the degrees and for the triangles. */
  private def copurchaseEdges(s: SparkSession, d: String,
      minSupport: Int, maxBasket: Int): DataFrame =
    cappedPairCounts(
      memb(s, d, ("l_orderkey", "l_partkey"))
        .select(col("a").as("okey"), col("b").as("pkey")),
      maxBasket)
      .filter(col("n_orders") >= minSupport)
      .select("p1", "p2")
      .graftCheckpoint()

  /** q96: LOCAL CLUSTERING COEFFICIENT over the co-purchase graph —
    * per node, 2·triangles / (deg·(deg−1)) as an exact ppm integer
    * (deg < 2 ⇒ 0), the classic neighborhood-cohesion feature next to
    * the raw triangle counts of q68. The edge set is derived once and
    * feeds both the degree count and the triangle enumeration. */
  def clusteringCoefficient(s: SparkSession, d: String): DataFrame = {
    val und = copurchaseEdges(s, d, 2, 64)
    val deg = und.select(col("p1").as("node"))
      .union(und.select(col("p2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(trianglesOfEdges(und), Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coeff_ppm",
        when(col("deg") >= 2,
          expr("2 * n_tri * 1000000 div (deg * (deg - 1))"))
          .otherwise(0L))
      .select("node", "deg", "n_tri", "coeff_ppm")
      .orderBy(col("coeff_ppm").desc, col("node"))
  }

  /** [[triangles]] over an explicit undirected edge list (`p1 < p2`,
    * distinct) — the unit-testable degree-oriented enumeration core.
    *
    * The edge list must already be MATERIALIZED (checkpointed, as
    * [[copurchaseEdges]] hands it over, or a local relation): it is
    * read twice here and is not checkpointed again. The oriented edge
    * list and the triangle list are materialized here because each is
    * referenced 2-3 times downstream: left as views, Catalyst re-expands
    * every reference multiplicatively (measured: 318 joins / 360 scans
    * in the q68 physical plan; materialized: 6 joins). At cluster scale
    * the same three frames are the ones a production job would persist
    * or write between stages. */
  def trianglesOfEdges(und: DataFrame): DataFrame = {
    val deg = und.select(col("p1").as("v"))
      .union(und.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id): a total order, so each
    // triangle materializes exactly once as a→b, b→c, a→c
    val oriented = und
      .join(deg.select(col("v").as("p1"), col("deg").as("d1")), "p1")
      .join(deg.select(col("v").as("p2"), col("deg").as("d2")), "p2")
      .select(
        when(col("d1") < col("d2") ||
          (col("d1") === col("d2") && col("p1") < col("p2")),
          col("p1")).otherwise(col("p2")).as("u"),
        when(col("d1") < col("d2") ||
          (col("d1") === col("d2") && col("p1") < col("p2")),
          col("p2")).otherwise(col("p1")).as("w"))
      .graftCheckpoint()
    val tri = oriented.select(col("u").as("a"), col("w").as("b"))
      .join(oriented.select(col("u").as("b"), col("w").as("c")), "b")
      .join(oriented.select(col("u").as("a"), col("w").as("c")),
        Seq("a", "c"))
      .graftCheckpoint()
    // und/oriented checkpoint blocks are released by ContextCleaner once
    // unreferenced (tri is itself materialized, so nothing re-reads them)
    tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("bigint").as("n_tri"))
      .orderBy(col("n_tri").desc, col("node"))
  }

  /** Shared CTE ladder (edge derivation → orientation → triangle
    * enumeration) behind [[trianglesOracleSql]] and
    * [[clusteringCoeffOracleSql]] — one copy, loud failure if the
    * engine-side derivation ever drifts. */
  private def triCtes(minSupport: Int, maxBasket: Int): String =
    s"""lp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
       |            FROM lineitem),
       |kept AS (SELECT lp.okey, lp.pkey FROM lp
       |  JOIN (SELECT okey FROM lp GROUP BY okey
       |        HAVING COUNT(*) <= $maxBasket) sz USING (okey)),
       |und AS (SELECT a.pkey AS p1, b.pkey AS p2
       |  FROM kept a JOIN kept b ON a.okey = b.okey AND a.pkey < b.pkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |deg AS (SELECT v, COUNT(*) AS deg FROM (
       |    SELECT p1 AS v FROM und UNION ALL SELECT p2 FROM und)
       |  GROUP BY v),
       |ori AS (SELECT
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p1 < p2)
       |      THEN p1 ELSE p2 END AS u,
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p1 < p2)
       |      THEN p2 ELSE p1 END AS w
       |  FROM und JOIN deg d1 ON d1.v = p1 JOIN deg d2 ON d2.v = p2),
       |tri AS (SELECT e1.u AS a, e1.w AS b, e2.w AS c
       |  FROM ori e1 JOIN ori e2 ON e2.u = e1.w
       |    JOIN ori e3 ON e3.u = e1.u AND e3.w = e2.w)""".stripMargin

  /** DuckDB rendering of [[triangles]]. */
  def trianglesOracleSql(minSupport: Int = 2, maxBasket: Int = 64): String =
    s"""WITH ${triCtes(minSupport, maxBasket)}
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |GROUP BY node ORDER BY n_tri DESC, node""".stripMargin

  /** DuckDB rendering of [[clusteringCoefficient]]. */
  def clusteringCoeffOracleSql(minSupport: Int = 2,
      maxBasket: Int = 64): String =
    s"""WITH ${triCtes(minSupport, maxBasket)},
       |tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node)
       |SELECT deg.v AS node, CAST(deg.deg AS BIGINT) AS deg,
       |  COALESCE(tc.n_tri, 0) AS n_tri,
       |  CAST(CASE WHEN deg.deg >= 2
       |    THEN 2 * COALESCE(tc.n_tri, 0) * 1000000 // (deg.deg * (deg.deg - 1))
       |    ELSE 0 END AS BIGINT) AS coeff_ppm
       |FROM deg LEFT JOIN tc ON tc.node = deg.v
       |ORDER BY coeff_ppm DESC, node""".stripMargin

  /** DuckDB rendering of [[supplierOverlap]]. */
  def supplierOverlapOracleSql(k: Int = 50, maxDf: Int = 1000): String =
    s"""WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
       |            FROM lineitem),
       |sizes AS (SELECT sk, COUNT(*) AS nparts FROM sp GROUP BY sk),
       |kept AS (SELECT sp.pk, sp.sk FROM sp
       |  JOIN (SELECT pk FROM sp GROUP BY pk
       |        HAVING COUNT(*) <= $maxDf) deg USING (pk)),
       |shared AS (SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS shared
       |  FROM kept a JOIN kept b ON a.pk = b.pk AND a.sk < b.sk
       |  GROUP BY 1, 2)
       |SELECT s1, s2, shared,
       |  ${OracleSql.roundSql(
         "CAST(shared AS DOUBLE) / (n1.nparts + n2.nparts - shared)", 6)}
       |    AS jaccard
       |FROM shared
       |  JOIN sizes n1 ON n1.sk = s1
       |  JOIN sizes n2 ON n2.sk = s2
       |ORDER BY jaccard DESC, s1, s2 LIMIT $k""".stripMargin
}
