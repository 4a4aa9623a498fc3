package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.GraphAlgos
import graft.core.GraphBuilder

/** Graph-analytics queries over the FK-derived property graph
  * (FIXTURES.md §3): the reference GUI's analytics (SURVEY §2.8)
  * rendered as driver-checkable queries.
  */
object GraphOps {

  /** One FK-derived graph per dataset per process: every graph query
    * (q30-q34) consumes the same materialized snapshot instead of
    * re-deriving the 6-table union — the shared-scan shape a warehouse
    * deployment gets from a materialized graph table. */
  // keyed by (session applicationId, dataset path): a cached DataFrame
  // is bound to the session that built it — a second session in the
  // same JVM must not receive one bound to a stopped/stale session.
  // Bounded LRU (see BoundedCache): eviction releases the graph's
  // checkpointed blocks so long-lived daemons don't pin storage.
  private val graphCache =
    new graft.core.BoundedCache[(String, String), graft.core.PropertyGraph](
      release = g => { g.nodes.unpersist(false); g.edges.unpersist(false); () })

  private def builtGraph(s: SparkSession, d: String): graft.core.PropertyGraph = {
    import org.apache.spark.sql.functions.col
    graphCache.getOrElseUpdate((s.sparkContext.applicationId, d))({
      // r13 (guide §2.3 — shuffle/materialize fewer bytes): the
      // analytics family reads edges only as (src, dst, label) — the
      // synthetic edge-id strings and per-edge property maps that the
      // full Relationship model carries are never consumed by q30-q34 /
      // q53/q54/q65/q101/q107, so the materialized snapshot drops them
      // (~40% of the edge bytes at sf0.1). GraphBuilder.fromTables
      // itself is unchanged — engine-side consumers still get the full
      // model.
      val g = GraphBuilder.fromTables(s, d)
      graft.core.PropertyGraph(
        g.nodes, g.edges.select(col("src"), col("dst"), col("label")))
        .materialized
    })
  }

  /** GA3/A3: undirected degree of every node. Oracle-checked. */
  def graphDegree(s: SparkSession, d: String): DataFrame =
    GraphAlgos.degrees(builtGraph(s, d)).orderBy("id")

  /** One LPA assignment per dataset per process: q31 and q32 share it
    * (the assignment is the expensive iterative piece; density on top
    * of it is one join + two aggregations). The cached value is
    * localCheckpointed inside [[GraphAlgos.weightedLabelPropagation]],
    * so reuse costs no recomputation. */
  private val lpaCache =
    new graft.core.BoundedCache[(String, String), DataFrame](
      release = graft.core.BoundedCache.releaseDf)

  private def lpaAssignment(s: SparkSession, d: String): DataFrame =
    lpaCache.getOrElseUpdate((s.sparkContext.applicationId, d))(
      GraphAlgos.weightedLabelPropagation(builtGraph(s, d)))

  /** GA2: weighted label-propagation communities (iterative — pinned by
    * determinism of the tie-break, rows-only driver check). The derived
    * graph is materialized once up front: the iterative consumer would
    * otherwise re-derive the 6-table union per sweep. */
  def lpaCommunities(s: SparkSession, d: String): DataFrame =
    lpaAssignment(s, d).orderBy("id")

  /** GA4: community density over the (shared) full LPA assignment. */
  def communityDensity(s: SparkSession, d: String): DataFrame =
    GraphAlgos.communityDensity(builtGraph(s, d), lpaAssignment(s, d))
      .withColumn("density", OracleSql.roundTo(col("density"), 6))
      .orderBy("community")

  /** GA5/GA6: grouping sizes — per-label node groups (the label-centric
    * layout grouping) with per-group mean degree. Oracle-checked. */
  def labelGroups(s: SparkSession, d: String): DataFrame = {
    val g = builtGraph(s, d)
    val deg = GraphAlgos.degrees(g)
    g.nodes.select(col("id"), col("label"))
      .join(deg, "id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("total_degree"))
      .orderBy("label")
  }

  /** DuckDB rendering of the FK-derived graph + the full 8-sweep LPA
    * (GraphBuilder.fromTables + GraphAlgos.weightedLabelPropagation),
    * as unrolled CTE sweeps ending in `c<sweeps>` (vid, c).
    *
    * Two dataset facts make this exactly expressible:
    * - every edge connects nodes of DIFFERENT types, whose labels never
    *   match and whose property k=v sets never intersect, so every LPA
    *   weight is exactly 1.0 (verified: 0 non-unit weights among 2.7M
    *   pairs at sf0.1) — per-(dst,comm) weight sums become COUNT(*);
    * - the engine's early-stop fires only at a true fixpoint, so
    *   unconditionally running all `maxSweeps` sweeps produces the
    *   identical assignment.
    * Community identity/tie-break is GraphAlgos.vidExpr — the same
    * md5-slice long on both sides. */
  private[graft] def lpaSqlPrefix(sweeps: Int = 8): String = {
    val base = s"""WITH ${OracleSql.fkEdgesCte},
      |${OracleSql.fkNodesCte(withLabel = false)},
      |v AS MATERIALIZED (SELECT id, ('0x' || substring(md5(id), 1, 15))::BIGINT AS vid FROM n),
      |msg AS MATERIALIZED (
      |  SELECT vu.vid AS u, vv.vid AS s
      |  FROM (SELECT src AS a, dst AS b FROM e
      |        UNION ALL SELECT dst, src FROM e) und
      |    JOIN v vu ON vu.id = und.a
      |    JOIN v vv ON vv.id = und.b),
      |c0 AS MATERIALIZED (SELECT vid, vid AS c FROM v)""".stripMargin
    val sweepCtes = (1 to sweeps).map { k =>
      s"""s$k AS MATERIALIZED (SELECT m.u AS vid, p.c AS c, COUNT(*) AS w
         |  FROM msg m JOIN c${k - 1} p ON p.vid = m.s GROUP BY m.u, p.c),
         |b$k AS MATERIALIZED (SELECT vid, c FROM (
         |    SELECT vid, c, ROW_NUMBER() OVER (
         |      PARTITION BY vid ORDER BY w DESC, c ASC) AS rn FROM s$k)
         |  WHERE rn = 1),
         |c$k AS MATERIALIZED (SELECT p.vid, COALESCE(b.c, p.c) AS c
         |  FROM c${k - 1} p LEFT JOIN b$k b ON b.vid = p.vid)""".stripMargin
    }
    (base +: sweepCtes).mkString(",\n")
  }

  /** Oracle for [[lpaCommunities]] (q31). */
  def lpaOracleSql(sweeps: Int = 8): String =
    s"""${lpaSqlPrefix(sweeps)}
       |SELECT vu.id AS id, vc.id AS community
       |FROM c$sweeps JOIN v vu ON vu.vid = c$sweeps.vid
       |  JOIN v vc ON vc.vid = c$sweeps.c
       |ORDER BY id""".stripMargin

  /** Oracle for [[communityDensity]] (q32). */
  def communityDensityOracleSql(sweeps: Int = 8): String =
    s"""${lpaSqlPrefix(sweeps)},
       |asg AS MATERIALIZED (SELECT vu.id AS id, vc.id AS community
       |  FROM c$sweeps JOIN v vu ON vu.vid = c$sweeps.vid
       |    JOIN v vc ON vc.vid = c$sweeps.c),
       |sizes AS MATERIALIZED (SELECT community, COUNT(*) AS n_nodes FROM asg GROUP BY community),
       |internal AS MATERIALIZED (SELECT a1.community AS community, COUNT(*) AS internal_edges
       |  FROM e JOIN asg a1 ON a1.id = e.src JOIN asg a2 ON a2.id = e.dst
       |  WHERE a1.community = a2.community GROUP BY a1.community)
       |SELECT s.community, s.n_nodes,
       |  COALESCE(i.internal_edges, 0) AS internal_edges,
       |  ${OracleSql.roundSql(
         "COALESCE(i.internal_edges, 0) / GREATEST(s.n_nodes * (s.n_nodes - 1) / 2.0, 1.0)", 6)} AS density
       |FROM sizes s LEFT JOIN internal i USING (community)
       |ORDER BY community""".stripMargin

  /** Beyond-parity graph analytic: integer fixed-point PageRank (q53),
    * 8 sweeps over the FK-derived directed multigraph. See
    * GraphAlgos.pageRankInt for the exact-arithmetic formulation that
    * makes an iterative float-free rank oracle-checkable. Cached per
    * (session, dataset) like the LPA assignment — the materialized-
    * analytics-table shape; the result is localCheckpointed inside the
    * algorithm, so reuse costs no recomputation. */
  private val prCache =
    new graft.core.BoundedCache[(String, String), DataFrame](
      release = graft.core.BoundedCache.releaseDf)

  def pageRank(s: SparkSession, d: String): DataFrame =
    prCache.getOrElseUpdate((s.sparkContext.applicationId, d))(
      GraphAlgos.pageRankInt(builtGraph(s, d))).orderBy("id")

  /** DuckDB rendering of [[pageRank]] — the FK edge list + out-degrees
    * + all 8 sweeps as unrolled materialized CTEs, in the same exact
    * integer arithmetic (`//` == Spark's `div` for non-negatives). */
  def pageRankOracleSql(sweeps: Int = 8, scale: Long = 10000000000L): String = {
    val base = scale * 15 / 100
    val prefix = s"""WITH ${OracleSql.fkEdgesCte},
      |${OracleSql.fkNodesCte(withLabel = false)},
      |od AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |p0 AS MATERIALIZED (SELECT id, CAST($scale AS BIGINT) AS pr FROM n)""".stripMargin
    val sweepCtes = (1 to sweeps).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT e.dst AS id, SUM(p.pr // od.deg) AS in_sum
         |  FROM e JOIN p${k - 1} p ON p.id = e.src
         |    JOIN od ON od.src = e.src
         |  GROUP BY e.dst),
         |p$k AS MATERIALIZED (
         |  SELECT n.id,
         |    CAST($base + (17 * COALESCE(g.in_sum, 0)) // 20 AS BIGINT) AS pr
         |  FROM n LEFT JOIN g$k g ON g.id = n.id)""".stripMargin
    }
    ((prefix +: sweepCtes).mkString(",\n")) +
      s"\nSELECT id, pr FROM p$sweeps ORDER BY id"
  }

  /** q101: PERSONALIZED PageRank — random walk with restart to the
    * Supplier nodes (GraphAlgos.personalizedPageRankInt): rank measures
    * proximity to the seed set, the related-entity / recommendation
    * primitive. Cached per (session, dataset) like q53. */
  private val pprCache =
    new graft.core.BoundedCache[(String, String), DataFrame](
      release = graft.core.BoundedCache.releaseDf)

  def personalizedPageRank(s: SparkSession, d: String,
      seedLabel: String = "Supplier"): DataFrame =
    pprCache.getOrElseUpdate((s.sparkContext.applicationId, d + "#" + seedLabel))(
      GraphAlgos.personalizedPageRankInt(builtGraph(s, d), seedLabel))
      .orderBy("id")

  /** DuckDB rendering of [[personalizedPageRank]] — q53's unrolled
    * ladder with the initial mass and restart term gated on the seed
    * label. */
  def personalizedPageRankOracleSql(seedLabel: String = "Supplier",
      sweeps: Int = 8, scale: Long = 10000000000L): String = {
    val base = scale * 15 / 100
    val prefix = s"""WITH ${OracleSql.fkEdgesCte},
      |${OracleSql.fkNodesCte(withLabel = true)},
      |od AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |p0 AS MATERIALIZED (SELECT id,
      |  CAST(CASE WHEN lbl = '$seedLabel' THEN $scale ELSE 0 END AS BIGINT) AS pr
      |  FROM n)""".stripMargin
    val sweepCtes = (1 to sweeps).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT e.dst AS id, SUM(p.pr // od.deg) AS in_sum
         |  FROM e JOIN p${k - 1} p ON p.id = e.src
         |    JOIN od ON od.src = e.src
         |  GROUP BY e.dst),
         |p$k AS MATERIALIZED (
         |  SELECT n.id,
         |    CAST(CASE WHEN n.lbl = '$seedLabel' THEN $base ELSE 0 END
         |      + (17 * COALESCE(g.in_sum, 0)) // 20 AS BIGINT) AS pr
         |  FROM n LEFT JOIN g$k g ON g.id = n.id)""".stripMargin
    }
    ((prefix +: sweepCtes).mkString(",\n")) +
      s"\nSELECT id, pr FROM p$sweeps ORDER BY id"
  }

  /** Beyond-parity graph analytic: exact hop distance from the Region
    * nodes over the undirected FK graph (q54) — frontier BFS capped at
    * 8 sweeps, which covers the graph's diameter
    * (region–nation–customer–order–part is 4 hops); the frontier
    * empties at the fixpoint and the loop exits early, producing the
    * same assignment as the oracle's fixed 8 unrolled sweeps. */
  private val hopCache =
    new graft.core.BoundedCache[(String, String), DataFrame](
      release = graft.core.BoundedCache.releaseDf)

  def hopDistance(s: SparkSession, d: String): DataFrame =
    hopCache.getOrElseUpdate((s.sparkContext.applicationId, d))(
      GraphAlgos.hopDistanceFrom(builtGraph(s, d), "Region")).orderBy("id")

  /** DuckDB rendering of [[hopDistance]]: seeds + 8 unrolled min-relax
    * sweeps; the null CASE mirrors the engine exactly. */
  def hopDistanceOracleSql(sweeps: Int = 8): String = {
    val prefix = s"""WITH ${OracleSql.fkEdgesCte},
      |und(u, v) AS MATERIALIZED (
      |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |${OracleSql.fkNodesCte(withLabel = true)},
      |d0 AS MATERIALIZED (
      |  SELECT id, CASE WHEN lbl = 'Region' THEN CAST(0 AS BIGINT) END AS dist
      |  FROM n)""".stripMargin
    val sweepCtes = (1 to sweeps).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT und.u AS id, MIN(p.dist + 1) AS nd
         |  FROM und JOIN d${k - 1} p ON p.id = und.v
         |  WHERE p.dist IS NOT NULL GROUP BY und.u),
         |d$k AS MATERIALIZED (
         |  SELECT p.id,
         |    CASE WHEN p.dist IS NULL THEN m.nd
         |      WHEN m.nd IS NULL THEN p.dist
         |      ELSE LEAST(p.dist, m.nd) END AS dist
         |  FROM d${k - 1} p LEFT JOIN m$k m ON m.id = p.id)""".stripMargin
    }
    ((prefix +: sweepCtes).mkString(",\n")) +
      s"\nSELECT id, dist FROM d$sweeps ORDER BY id"
  }

  /** Per-relationship-type integer weights of the q107 weighted
    * shortest path — ONE definition shared by the engine run and the
    * oracle rendering so the two can't drift. Keyed by edge label;
    * the oracle maps each FK branch to its label's weight. */
  val ssspTypeWeights: Map[String, Long] = Map(
    "IN_REGION" -> 1L, "FROM_NATION" -> 2L, "PLACED" -> 1L,
    "CONTAINS" -> 3L, "SUPPLIES" -> 4L)

  /** Beyond-parity graph analytic: weighted single-source shortest
    * path from the Region nodes over the undirected FK graph (q107) —
    * frontier Bellman–Ford with per-edge-TYPE integer costs
    * ([[ssspTypeWeights]]), capped at 8 relaxation rounds exactly like
    * the oracle's 8 unrolled min-relax sweeps (after k rounds both
    * equal min weight over ≤ k-edge walks, converged or not). Cached
    * per (session, dataset) like q54. */
  private val ssspCache =
    new graft.core.BoundedCache[(String, String), DataFrame](
      release = graft.core.BoundedCache.releaseDf)

  def shortestPath(s: SparkSession, d: String): DataFrame =
    ssspCache.getOrElseUpdate((s.sparkContext.applicationId, d))(
      GraphAlgos.ssspFrom(builtGraph(s, d), "Region", ssspTypeWeights))
      .orderBy("id")

  /** DuckDB rendering of [[shortestPath]]: the weighted FK edge list
    * (each branch carrying its label's [[ssspTypeWeights]] cost — the
    * SQL twin of `GraphBuilder.fromTables`' edge derivation) + 8
    * unrolled min-relax sweeps with `dist + w`; the null CASE mirrors
    * the engine exactly. */
  def shortestPathOracleSql(sweeps: Int = 8): String = {
    val w = ssspTypeWeights
    val prefix = s"""WITH ew(src, dst, w) AS MATERIALIZED (
      |  SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey,
      |    CAST(${w("IN_REGION")} AS BIGINT) FROM nation
      |  UNION ALL SELECT 'customer:' || c_custkey, 'nation:' || c_nationkey,
      |    CAST(${w("FROM_NATION")} AS BIGINT) FROM customer
      |  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey,
      |    CAST(${w("FROM_NATION")} AS BIGINT) FROM supplier
      |  UNION ALL SELECT 'customer:' || o_custkey, 'order:' || o_orderkey,
      |    CAST(${w("PLACED")} AS BIGINT) FROM orders
      |  UNION ALL SELECT 'order:' || l_orderkey, 'part:' || l_partkey,
      |    CAST(${w("CONTAINS")} AS BIGINT) FROM lineitem
      |  UNION ALL SELECT DISTINCT 'supplier:' || l_suppkey, 'part:' || l_partkey,
      |    CAST(${w("SUPPLIES")} AS BIGINT) FROM lineitem),
      |und(u, v, w) AS MATERIALIZED (
      |  SELECT src, dst, w FROM ew UNION ALL SELECT dst, src, w FROM ew),
      |${OracleSql.fkNodesCte(withLabel = true)},
      |d0 AS MATERIALIZED (
      |  SELECT id, CASE WHEN lbl = 'Region' THEN CAST(0 AS BIGINT) END AS dist
      |  FROM n)""".stripMargin
    val sweepCtes = (1 to sweeps).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT und.u AS id, MIN(p.dist + und.w) AS nd
         |  FROM und JOIN d${k - 1} p ON p.id = und.v
         |  WHERE p.dist IS NOT NULL GROUP BY und.u),
         |d$k AS MATERIALIZED (
         |  SELECT p.id,
         |    CASE WHEN p.dist IS NULL THEN m.nd
         |      WHEN m.nd IS NULL THEN p.dist
         |      ELSE LEAST(p.dist, m.nd) END AS dist
         |  FROM d${k - 1} p LEFT JOIN m$k m ON m.id = p.id)""".stripMargin
    }
    ((prefix +: sweepCtes).mkString(",\n")) +
      s"\nSELECT id, dist FROM d$sweeps ORDER BY id"
  }

  /** Beyond-parity graph analytic: k-core peeling (q65) — 8 fixed
    * remove-degree-<k sweeps over the undirected FK graph, early exit
    * only at the peeling fixpoint (identical to the oracle's unrolled
    * sweeps). Survivors with their last-peel degree. */
  private val kcoreCache =
    new graft.core.BoundedCache[(String, String), DataFrame](
      release = graft.core.BoundedCache.releaseDf)

  def kCore(s: SparkSession, d: String): DataFrame =
    kcoreCache.getOrElseUpdate((s.sparkContext.applicationId, d))(
      GraphAlgos.kCore(builtGraph(s, d))).orderBy("id")

  /** DuckDB rendering of [[kCore]]: the FK edge list + 8 unrolled
    * peel sweeps (degree within the previous survivor set, HAVING >= k). */
  def kCoreOracleSql(k: Int = 3, sweeps: Int = 8): String = {
    val prefix = s"""WITH ${OracleSql.fkEdgesCte},
      |und(u, v) AS MATERIALIZED (
      |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |${OracleSql.fkNodesCte(withLabel = false)},
      |l0 AS MATERIALIZED (SELECT id FROM n)""".stripMargin
    val sweepCtes = (1 to sweeps).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT und.u AS id, COUNT(*) AS deg
         |  FROM und
         |    JOIN l${i - 1} a ON a.id = und.u
         |    JOIN l${i - 1} b ON b.id = und.v
         |  GROUP BY und.u HAVING COUNT(*) >= $k)""".stripMargin
    }
    ((prefix +: sweepCtes).mkString(",\n")) +
      s"\nSELECT id, deg FROM l$sweeps ORDER BY id"
  }

  /** A5: label / rel-type / property-key universe. Oracle-checked. */
  def schemaSummary(s: SparkSession, d: String): DataFrame = {
    val g = builtGraph(s, d)
    val (nl, el, pk) = GraphAlgos.schemaSummary(g)
    nl.select(lit("node_label").as("kind"), col("label").as("value"))
      .unionByName(el.select(lit("rel_type").as("kind"), col("label").as("value")))
      .unionByName(pk.select(lit("prop_key").as("kind"), col("key").as("value")))
      .distinct()
      .orderBy("kind", "value")
  }
}
