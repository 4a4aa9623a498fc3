package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.CypherExecutor

/** Property-pins the two ORDER BY sort paths against each other
  * (VERDICT r9 next-round #1; widened r11 per VERDICT r10 #3). The
  * reference's comparator (cypher_spec.rs:1478-1497) is a pairwise dual
  * compare — numeric when both sides Rust-f64-parse, else UTF-8-byte
  * string order — which `Executor.applyOrder` runs either as a
  * distributed three-bucket sort (when a probe proves no key is
  * cycle-capable) or as a capped driver-side exact sort. Two properties:
  *
  *  (a) ROUTING — the SQL probe predicate [[CypherExecutor.cycleCapable]]
  *      agrees with the scalar model `(isNum && !digitLead) || (!isNum
  *      && digitLead)` (isNum = rustF64-parses; the model MutFuzz's
  *      window adjudicator uses) on every generated string, so exactly
  *      the cycle-capable shapes reach the exact path;
  *  (b) EQUIVALENCE — on probe-clean multisets the bucketed distributed
  *      sort emits an order the pairwise comparator accepts (every
  *      adjacent pair compares <= 0 asc / >= 0 desc), and is pointwise
  *      comparator-EQUAL to the exact path's stable merge sort (ties —
  *      e.g. "01" vs "1" — may host either string at a position; the
  *      reference's own tie order tracks per-process HashMap iteration
  *      and is irreproducible, so comparator-equality is the full
  *      contract).
  *
  * Single-key only: the reference rejects multi-item ORDER BY
  * (cypher_spec.rs:1512 single-item contract), so the multi-key
  * extension's tie semantics are not reference-constrained. Lone
  * surrogates are deliberately absent: Rust `String` cannot hold them,
  * so they are outside the fidelity domain (and Spark's UTF8String
  * would replace them in transit). All non-ASCII content is written as
  * \u escapes so this file stays a TEXT file for git (ADVICE r10).
  *
  * scalatestplus is not in the offline cache; Gens are sampled directly
  * with fixed seeds (EnginePropertySpec pattern) — deterministic.
  */
class OrderPathEquivalenceSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  // ---------------------------------------------------------- generators

  /** Near-numeric adversaria: strings one mutation away from a Rust
    * f64 — Java-parseable-but-not-Rust suffix forms ("5d" parses via
    * Double.parseDouble, never via from_str), hex/underscore/comma
    * digit groupings, Unicode digits (Arabic-Indic \u0663, fullwidth
    * \uFF15, superscript \u00B2 — is_ascii_digit rejects all), bare or
    * dangling exponents, double signs, inf/nan near-misses, and
    * dotted-exponent forms probed ACCEPTED by the real Rust parser this
    * round ("10.e0"/"10." sort numerically — refharness r11 probe). */
  private val nearNumGen: Gen[String] = Gen.oneOf(
    "0x10", "0X10", "0x1p3", "1_000", "1,000", "0b101", "5d", "5D", "5f",
    "5F", "1e", "1e+", "1e-", "e5", ".e3", "+.e2", ".", "+", "-", "--5",
    "+-5", "-+5", "1.2.3", "1..2", "01e1", "5.e3", "10.e0", "10.", "5.",
    "\u0663", "\u06633", "3\u0663", "\uFF15", "\u00B2", "\u00BD",
    "NaN5", "inf5", "infx", "Infin", "infinit", "infinityy", "-nan",
    "+nan", "nAn", "INF", "-INFINITY", "+Infinity",
    "1e99999", "-1e-99999", "1.7976931348623157e308", "2.5e-324",
    "4.9e-324", "-1.8e308", "9".repeat(400), "0." + "0".repeat(350) + "1")

  /** Whitespace/control-adjacent forms that separate regex-find from
    * full-match semantics and Java from Rust whitespace classes:
    * \u00A0/\u202F (Zs, not Java-trim), \u2028/\u2029 (Zl/Zp),
    * \u1680/\u3000 (Zs), \u0085 (Rust-ws), \u001C-\u001F
    * (Java-but-not-Rust ws), and embedded NULs. */
  private val wsAdjGen: Gen[String] = Gen.oneOf(
    " 5", "5 ", "5\t", "\n5", "5\n", "5\r\n", "5\u000B", "5\u000C",
    "5\u00A0", "\u00A05", "5\u202F", "5\u2028", "\u20295", "5\u1680",
    "\u30005", "5\u0085", "\u00855", "5\u001C", "\u001D5", "5\u001F",
    "0\u0000", "\u00005", "5\u0000", "\u0000")

  /** Compositional digit-core +/- adversarial affix: a large space of
    * distinct boundary shapes (digit-leading junk, signed/dotted/
    * exponent numerics, embedded controls) so the routing property
    * checks thousands of DISTINCT strings, not a fixed pool. */
  private val comboGen: Gen[String] = for {
    core <- Gen.choose(0L, 999999L).map(_.toString)
    fix <- Gen.oneOf("", "+", "-", ".", "e", "E", "e-", "e3", "E-2", ".5",
      "\u0000", "x", "d", "f", "_", "?", " ", "\n", "\t", "\u00A0",
      "\u0085", "\u001C", "inf", "nan")
    pre <- Gen.oneOf(true, false)
  } yield if (pre) fix + core else core + fix

  /** Every shape class the r9 verdict called out plus the r10-requested
    * adversaria: plain digits, "", non-digit strings, digit-leading
    * junk, sign/dot-leading numerics, inf/nan, >U+FFFF code points
    * (escaped surrogate PAIRS), near-numerics, whitespace-adjacent,
    * compositional digit+affix. */
  private val keyGen: Gen[String] = Gen.frequency(
    6 -> comboGen,
    4 -> Gen.choose(0L, 99999L).map(_.toString),                 // plain digits
    2 -> Gen.const(""),                                          // missing-prop default
    3 -> Gen.oneOf("apple", "Zz", "p-q", "~", "!x", "idx_9", "a b", "-x", "+", "."),
    2 -> Gen.oneOf("1001?", "9 lives", "3x", "0 ", "5\n", "12_"), // digit-lead junk
    2 -> Gen.oneOf("-5", "+3", ".5", "-.5", "+.25", "-0", "+0.0", "-12e2"),
    1 -> Gen.oneOf("inf", "Inf", "-inf", "+infinity", "NaN", "nan", "-NAN"),
    1 -> Gen.oneOf("\uD83D\uDE00", "\uD83D\uDE00abc", "a\uD800\uDC00b", "\uFFFF"),
    2 -> Gen.oneOf("5.", "5.5", "007", "2e3", "5E-1", "1e309", "0.0", "00"),
    3 -> nearNumGen,
    2 -> wsAdjGen)

  private def sample[A](gen: Gen[A], n: Int, seed0: Long): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed0 + i)))

  /** The scalar routing model (MutFuzz.cycleCapable, verbatim). */
  private def cycleCapableModel(v: String): Boolean = {
    val digitLead = v.nonEmpty && v.charAt(0) >= '0' && v.charAt(0) <= '9'
    val isNum = CypherExecutor.rustF64(v).isDefined
    (isNum && !digitLead) || (!isNum && digitLead)
  }

  // ---------------------------------------------------------- (a) routing

  test("probe predicate routes exactly the cycle-capable shapes") {
    import spark.implicits._
    val keys = (sample(keyGen, 2400, 7100L) ++ Seq(
      // pinned boundary cases, never left to generator luck
      "", "0", "9", "00", "007", "-5", "+5", ".5", "5.", "-.5", "5\n", "\n5",
      " 5", "5 ", "inf", "Infinity", "-infinity", "nan", "NaN", "1001?",
      "1e309", "-1E-300", "2e3", "abc", "-abc", "0x10", "\uD83D\uDE00",
      "5d", "1e", "10.e0", "\u0663", "\uFF15", "0\u0000", "\u0000",
      "9".repeat(400)))
    assert(keys.size >= 2000, s"routing sample too small: ${keys.size}")
    val distinctKeys = keys.distinct
    val got = distinctKeys.toDF("k")
      .select(col("k"), CypherExecutor.cycleCapable(col("k")).as("cc"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    distinctKeys.foreach { k =>
      assert(got(k) == cycleCapableModel(k),
        s"routing disagrees on ${k.map(c => f"\\u${c.toInt}%04x").mkString} " +
          s"(sql=${got(k)}, model=${cycleCapableModel(k)})")
    }
  }

  // ------------------------------------------------------ (b) equivalence

  /** Multiset of probe-CLEAN keys: generated freely, then the
    * cycle-capable ones dropped (property (a) guarantees the SQL probe
    * agrees with this filter, asserted again per-list below). */
  private val cleanListGen: Gen[List[String]] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, keyGen))
      .map(_.filterNot(cycleCapableModel))

  private def checkList(keys: List[String], asc: Boolean): Unit = {
    import spark.implicits._
    val df = keys.toDF("k")
    // the probe must take the bucketed path on this input
    assert(df.filter(CypherExecutor.cycleCapable(col("k"))).count() == 0,
      s"probe flagged a model-clean key in $keys")
    val bucketed = df.orderBy(CypherExecutor.bucketSortExprs(col("k"), asc): _*)
      .collect().map(_.getString(0)).toList
    assert(bucketed.sorted == keys.sorted, "bucketed sort lost/invented rows")
    val sign = if (asc) 1 else -1
    bucketed.sliding(2).foreach {
      case List(x, y) =>
        assert(sign * CypherExecutor.dualCompare(x, y) <= 0,
          s"bucketed order violates pairwise comparator: [$x] before [$y] (asc=$asc)")
      case _ => ()
    }
    // pointwise comparator-equality with the exact path's stable sort
    val rows = keys.map(org.apache.spark.sql.Row(_)).toArray
    val exact = CypherExecutor.stableMergeSort(rows,
      (x, y) => sign * CypherExecutor.dualCompare(x.getString(0), y.getString(0)))
      .map(_.getString(0)).toList
    bucketed.zip(exact).foreach { case (x, y) =>
      assert(CypherExecutor.dualCompare(x, y) == 0,
        s"paths disagree beyond ties: bucketed=[$x] exact=[$y] in $keys (asc=$asc)")
    }
  }

  test("bucketed sort == pairwise comparator on probe-clean keys (asc)") {
    sample(cleanListGen, 55, 9300L).foreach(checkList(_, asc = true))
  }

  test("bucketed sort == pairwise comparator on probe-clean keys (desc)") {
    sample(cleanListGen, 55, 9700L).foreach(checkList(_, asc = false))
  }

  test("pinned clean multiset crosses all three buckets") {
    // strings-below-"0" (incl. ""), numerics of every clean form,
    // strings-above: the exact set the applyOrder comment promises
    checkList(List("", "apple", "!x", "10", "9", "007", "2e3", "5.", "0.0",
      "zz", "idx_9", "~", "10", "9"), asc = true)
    checkList(List("", "apple", "!x", "10", "9", "007", "2e3", "5.", "0.0",
      "zz", "idx_9", "~", "10", "9"), asc = false)
    // near-numeric CLEAN keys only: digit-leading numerics ("10.",
    // "10.e0", "5.e3" — dotted-exponent forms probed accepted by real
    // Rust r11) and non-digit-leading non-numerics; sign-leading
    // numerics like "-5" are cycle-capable and belong to the exact path
    checkList(List("10.", "10.e0", "5.e3", "-x", ".", "+", "a b", "007",
      "1e309", "", "~", "zz", "2e3"),
      asc = true)
  }

  // RETURN ... ORDER BY observes the cycle flag inside its result job
  // instead of probing first. The flag must still see every row below
  // the sort: here the only cycle-capable key ("1001?", digit-led but
  // not numeric) sorts LAST on the bucketed path, past the LIMIT, yet
  // the pairwise comparator puts it second.
  test("a cycle-capable key past the LIMIT still routes RETURN to the exact path") {
    val s = new graft.engine.GraphSession(spark)
    s.execute("CREATE (:OkCut {k: '1'}), (:OkCut {k: '2'}), (:OkCut {k: '3'}), (:OkCut {k: '1001?'})")
    def ret(q: String) = s.execute(q).rows.map(_.info)
    assert(ret("MATCH (n:OkCut) RETURN n.k ORDER BY n.k LIMIT 2") == Seq("1", "1001?"))
    assert(ret("MATCH (n:OkCut) RETURN n.k ORDER BY n.k SKIP 1 LIMIT 1") == Seq("1001?"))
    assert(ret("MATCH (n:OkCut) RETURN n.k ORDER BY n.k DESC LIMIT 2") == Seq("3", "2"))
    // without it the bucketed path answers
    assert(ret("MATCH (n:OkCut) WHERE n.k < 10 RETURN n.k ORDER BY n.k DESC LIMIT 2") ==
      Seq("3", "2"))
  }
}
