package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{abs, floor, isnan, lit, when}

/** Shared DuckDB-oracle SQL fragments. Every fragment here has an
  * engine-side twin whose arithmetic it must mirror EXACTLY for the
  * bit-for-bit hash gate to hold — deduplicating them removes the
  * drift risk of editing one rendering and not its copies.
  */
object OracleSql {

  /** Engine/oracle TWIN PAIR for fixed-decimal rounding of a double —
    * [[roundTo]] (Column) and [[roundSql]] (DuckDB text) must stay in
    * lockstep.
    *
    * `round()` is NOT the same function on the two engines: Spark
    * re-renders the double as its shortest decimal string and applies
    * HALF_UP on that rendering (`BigDecimal.valueOf`), while DuckDB
    * rounds the binary value — they disagree on tie-adjacent doubles
    * (641.0/640 = 1.00156249999999991…, shortest rendering
    * '1.0015625', rounds to 1.001563 on Spark but 1.001562 on DuckDB
    * at 6 digits). The twins below use only IEEE multiply/add/floor/
    * divide, which both engines evaluate identically per operation, so
    * the results are bit-equal BY CONSTRUCTION — no reliance on either
    * engine's round() internals. Half-way values round toward +∞;
    * 10^digits must be ≤ 1e15 so the scaled value stays exact in
    * double/BIGINT range for the magnitudes these queries round
    * (ratios, z-scores, similarities, estimates).
    *
    * NaN and ±Infinity pass through on both sides: DuckDB's floor
    * keeps them naturally; Spark's floor-to-bigint would swallow NaN
    * into a mis-cast and saturate Infinity to Long.MaxValue, so the
    * Column twin guards both explicitly. */
  def roundTo(c: Column, digits: Int): Column = {
    require(digits >= 1 && digits <= 15, "digits out of exact range")
    val s = math.pow(10, digits) // 10^d ≤ 1e15: exactly representable
    when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), c)
      .otherwise(floor(c * lit(s) + lit(0.5)) / lit(s))
  }

  /** DuckDB twin of [[roundTo]] — splice around a scalar expression. */
  def roundSql(inner: String, digits: Int): String = {
    require(digits >= 1 && digits <= 15, "digits out of exact range")
    s"FLOOR(($inner) * 1e$digits + 0.5) / 1e$digits"
  }

  /** BIGINT value of `digits` hex chars of hex-string expr `h` starting
    * at 1-based `off` (strpos polynomial). digits ≤ 15 keeps the value
    * within 60 bits — BIGINT-safe on both engines. Engine twin:
    * `conv(substring(h, off, digits), 16, 10)`. */
  def hexPoly(h: String, off: Int, digits: Int): String = {
    require(digits <= 15, "more than 15 hex digits overflows BIGINT")
    (0 until digits).map { j =>
      val scale = 1L << (4 * (digits - 1 - j))
      s"CAST(strpos('0123456789abcdef', substring($h, ${off + j}, 1)) - 1 AS BIGINT)*$scale"
    }.mkString(" + ")
  }

  /** FK-derived graph edge list — the CTE twin of
    * `GraphBuilder.fromTables` (any change to the edge derivation must
    * land here AND there, or every graph oracle breaks at once, which
    * is the point: one copy, loud failure). */
  val fkEdgesCte: String =
    """e(src, dst) AS MATERIALIZED (
      |  SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
      |  UNION ALL SELECT 'customer:' || c_custkey, 'nation:' || c_nationkey FROM customer
      |  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
      |  UNION ALL SELECT 'customer:' || o_custkey, 'order:' || o_orderkey FROM orders
      |  UNION ALL SELECT 'order:' || l_orderkey, 'part:' || l_partkey FROM lineitem
      |  UNION ALL SELECT DISTINCT 'supplier:' || l_suppkey, 'part:' || l_partkey FROM lineitem)""".stripMargin

  /** FK-derived node universe, with or without the label column. */
  def fkNodesCte(withLabel: Boolean): String =
    if (withLabel)
      """n(id, lbl) AS MATERIALIZED (
        |  SELECT 'region:' || r_regionkey, 'Region' FROM region
        |  UNION ALL SELECT 'nation:' || n_nationkey, 'Nation' FROM nation
        |  UNION ALL SELECT 'customer:' || c_custkey, 'Customer' FROM customer
        |  UNION ALL SELECT 'supplier:' || s_suppkey, 'Supplier' FROM supplier
        |  UNION ALL SELECT 'part:' || p_partkey, 'Part' FROM part
        |  UNION ALL SELECT 'order:' || o_orderkey, 'Order' FROM orders)""".stripMargin
    else
      """n(id) AS MATERIALIZED (
        |  SELECT 'region:' || r_regionkey FROM region
        |  UNION ALL SELECT 'nation:' || n_nationkey FROM nation
        |  UNION ALL SELECT 'customer:' || c_custkey FROM customer
        |  UNION ALL SELECT 'supplier:' || s_suppkey FROM supplier
        |  UNION ALL SELECT 'part:' || p_partkey FROM part
        |  UNION ALL SELECT 'order:' || o_orderkey FROM orders)""".stripMargin

  /** Unrolled fixed-sweep min-label propagation ladder `l1..l<sweeps>`
    * over CTEs `und(u, v)` and seed `l0(<idCol>, lbl)` — the SQL twin
    * of `GraphAlgos.minLabelClusters`. */
  def minLabelSweeps(idCol: String, sweeps: Int): Seq[String] =
    (1 to sweeps).map { k =>
      s"""l$k AS MATERIALIZED (SELECT $idCol, MIN(lbl) AS lbl FROM (
         |    SELECT $idCol, lbl FROM l${k - 1}
         |    UNION ALL
         |    SELECT und.u AS $idCol, p.lbl FROM und JOIN l${k - 1} p ON p.$idCol = und.v)
         |  GROUP BY $idCol)""".stripMargin
    }
}
