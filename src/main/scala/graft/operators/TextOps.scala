package graft.operators

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.algo.GraphAlgos

/** Training-data text pipeline operators over the `documents` table:
  * exact dedup, token counting, quality scoring, language ID,
  * fingerprinting, n-gram Jaccard near-dup.
  *
  * Oracle-portability rules (DuckDB must reproduce bit-for-bit):
  *  - only md5 is used as a content hash (identical hex in both engines);
  *    xxhash64/murmur live in the no-oracle ops (MinHash/SimHash);
  *  - similarity scores are kept as exact integer counts (common/union)
  *    instead of floating ratios;
  *  - all array lengths are cast to BIGINT (Spark `size` is int32,
  *    DuckDB `len` is int64).
  *
  * PERFORMANCE INVARIANT: tokenization is always materialized as its
  * own projected attribute (`toks`) before any expression references
  * it. Referencing `tokens(col("text"))` repeatedly builds duplicate
  * expression trees, and inside a lambda the split is re-evaluated
  * PER ARRAY ELEMENT — measured 10-50× slowdown on the shingle path.
  *
  * Scale notes: everything here is embarrassingly parallel per document
  * except the near-dup self-join, which joins on the shingle value — at
  * 100 TB that join's key space is bounded by the shingle vocabulary, so
  * AQE skew-join handles hot shingles; a stop-shingle filter (drop
  * shingles with document frequency above a cap) is the standard
  * mitigation and is applied here.
  *
  * Each query derives its shingles and pairs within its own call, so an
  * answer follows `documents` on disk: nothing is kept between queries.
  */
object TextOps {

  /** Whitespace tokenizer shared by every operator (and by the oracle:
    * `regexp_split_to_array(trim(text), '\s+')`). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** documents + a materialized `toks` attribute (see invariant above). */
  private def withToks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))

  /** Exact dedup: md5 content hash → cluster size + canonical keep id.
    * Single shuffle on the hash; at scale the hash groupBy is the
    * textbook exact-dedup plan (partial agg map-side). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))
      .orderBy("h")

  /** Token count per document. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    withToks(s, d)
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Quality scoring: token/unique-token/stopword counts, all exact
    * integers so the oracle matches bit-for-bit. */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    withToks(s, d)
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("bigint").as("n_uniq"),
        size(filter(col("toks"), x => x.isin("the", "a", "of", "and", "is")))
          .cast("bigint").as("stop_cnt"))
      .orderBy("doc_id")

  /** Language ID: stopword-list scores + non-ASCII ratio heuristic with
    * a deterministic tie-break order (zh > de > es > fr > en). */
  def langId(s: SparkSession, d: String): DataFrame = {
    def score(words: String*): Column =
      size(filter(col("toks"), x => x.isin(words: _*))).cast("bigint")
    withToks(s, d)
      .select(col("doc_id"), col("text"),
        score("the", "a", "of", "and", "is").as("en_s"),
        score("der", "die", "das", "und", "ist").as("de_s"),
        score("el", "los", "las", "que", "una").as("es_s"),
        score("le", "les", "des", "et", "une").as("fr_s"))
      .select(col("doc_id"), col("en_s"), col("de_s"), col("es_s"), col("fr_s"),
        length(regexp_replace(col("text"), "[\\x00-\\x7F]", "")).cast("bigint")
          .as("non_ascii"),
        length(col("text")).cast("bigint").as("n_len"))
      .withColumn("pred_lang",
        when(col("non_ascii") * 5 > col("n_len"), "zh")
          .when(col("de_s") > col("en_s") && col("de_s") >= col("es_s") &&
            col("de_s") >= col("fr_s"), "de")
          .when(col("es_s") > col("en_s") && col("es_s") >= col("fr_s"), "es")
          .when(col("fr_s") > col("en_s"), "fr")
          .otherwise("en"))
      .select("doc_id", "pred_lang")
      .orderBy("doc_id")
  }

  /** md5 over the case/whitespace-normalized text — THE normalized
    * fingerprint, shared by q24, q86, the streaming incremental dedup,
    * and their specs (one definition, or batch/stream/oracle parity
    * silently drifts). Oracle twin:
    * `md5(regexp_replace(lower(text), '\s+', '', 'g'))`. */
  def normFp(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", "").cast("binary"))

  /** Document fingerprint: md5 over the case/whitespace-normalized text —
    * catches formatting-only duplicates that exact dedup misses. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), normFp(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Distinct word-3-gram shingle rows (doc_id, sh), built from the
    * exploded token stream with window `lead` — NOT from the array
    * lambda in [[shingles]]: Catalyst's CollapseProject re-inlines
    * array-lambda shingling so `split` re-runs per element (O(n²) per
    * doc, measured 10-50× slower). Here the tokenizer runs once per
    * document and everything downstream is codegen'd. Materialized:
    * q25 references it 4× in one plan, and the checkpoint turns those
    * window+dedup recomputations (or fragile exchange-reuse) into
    * scans. At cluster scale the same shape is "write the shingle table
    * once". */
  def shingleRows(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    withToks(s, d)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("sh"))
      .dropDuplicates("doc_id", "sh")
      .graftCheckpoint()
  }

  /** N-gram Jaccard near-duplicate pairs: explode distinct 3-gram
    * shingles, self-join on the shingle, keep pairs with
    * jaccard ≥ 0.5 (exact integer test: 2·common ≥ union).
    *
    * Scale: per-shingle document lists are the join key; a document
    * frequency cap (maxDf) drops degenerate stop-shingles that would
    * create quadratic hot keys at 100 TB. */
  def ngramJaccardPairs(s: SparkSession, d: String, maxDf: Int = 1000): DataFrame = {
    val sh = shingleRows(s, d)
    val dfOk = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    val shF = sh.join(broadcast(dfOk), "sh")
    val cnts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = shF.select(col("doc_id").as("a_id"), col("sh"))
      .join(shF.select(col("doc_id").as("b_id"), col("sh")), "sh")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
    pairs
      .join(cnts.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(cnts.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("union_sz", col("na") + col("nb") - col("common"))
      .filter(col("common") * 2 >= col("union_sz"))
      .select("a_id", "b_id", "common", "union_sz")
      .orderBy("a_id", "b_id")
  }

  /** Near-dup DEDUP CLUSTERING — the training-pipeline step after pair
    * finding: connected components over the exact n-gram-Jaccard
    * near-dup pairs ([[ngramJaccardPairs]]), every document labeled
    * with the smallest doc_id in its component, `keep` marking the one
    * canonical representative per cluster ("drop near-duplicates, keep
    * one").
    *
    * Components by [[GraphAlgos.minLabelClusters]], min-label
    * propagation run for a FIXED `sweeps` count on BOTH the engine and
    * the oracle: near-dup clusters have tiny diameters (the semantics
    * test checks agreement with true connected components), and fixing
    * the sweep count makes the two sides agree bit-for-bit even on an
    * adversarial chain longer than `sweeps` hops. Each sweep is one
    * Spark job with one map-side-combined min shuffle over the
    * df-capped pair set. The pairs come from the documents' own
    * shingles, so every pair names two doc_ids (its precondition). */
  def dedupClusters(s: SparkSession, d: String, sweeps: Int = 8): DataFrame =
    GraphAlgos.minLabelClusters(
        Tables.documents(s, d).select(col("doc_id").as("id")),
        ngramJaccardPairs(s, d)
          .select(col("a_id").as("a"), col("b_id").as("b")),
        sweeps)
      .select(col("id").as("doc_id"), col("cluster"), col("keep"))
      .orderBy("doc_id")

  /** DuckDB CTEs deriving the distinct (doc_id, sh) shingle rows — the
    * oracle-side twin of [[shingleRows]], shared by every
    * shingle-consuming oracle below. */
  private[operators] val shingleCtesSql: String =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |sh0 AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      |  FROM toks WHERE len(t) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |  FROM sh0)""".stripMargin

  /** DuckDB rendering of [[dedupClusters]] — the q25 pair derivation +
    * the same fixed-sweep min-label propagation as unrolled CTEs. */
  def dedupClustersOracleSql(sweeps: Int = 8): String = {
    val prefix = s"""WITH $shingleCtesSql,
      |ok AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 1000),
      |shf AS (SELECT sh.doc_id, sh.sh FROM sh JOIN ok USING (sh)),
      |cnts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |gp AS MATERIALIZED (
      |  SELECT a_id, b_id FROM pairs
      |    JOIN cnts ca ON ca.doc_id = a_id JOIN cnts cb ON cb.doc_id = b_id
      |  WHERE common * 2 >= ca.n + cb.n - common),
      |und AS MATERIALIZED (
      |  SELECT a_id AS u, b_id AS v FROM gp
      |  UNION ALL SELECT b_id, a_id FROM gp),
      |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS lbl FROM documents)""".stripMargin
    val sweepCtes = OracleSql.minLabelSweeps("doc_id", sweeps)
    ((prefix +: sweepCtes).mkString(",\n")) +
      s"""
         |SELECT doc_id, lbl AS cluster, lbl = doc_id AS keep
         |FROM l$sweeps ORDER BY doc_id""".stripMargin
  }

  /** Train/test CONTAMINATION detection: for every document from the
    * held-out sources, how many of its distinct 3-gram shingles also
    * occur anywhere in the remaining ("training") corpus. Exact integer
    * counts (n_sh, n_hit) so the oracle matches bit-for-bit; the
    * decontamination policy (e.g. drop when n_hit/n_sh > τ) is the
    * caller's single filter on top.
    *
    * Scale: the training side collapses to DISTINCT shingles before the
    * join (set-semi semantics — multiplicity never matters), and the
    * probe is a left-semi-shaped join on the shingle value. Both sides
    * shuffle once on `sh`; no document ever meets another document, so
    * there is no quadratic pair step anywhere — this is the shape that
    * survives a 100 TB train corpus (the distinct-shingle set is
    * vocabulary-bounded). */
  def contamination(s: SparkSession, d: String,
      testSources: Seq[String] = Seq("src1", "src2", "src3", "src4")): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val tagged = shingleRows(s, d).join(src, "doc_id")
    val isTest = col("source").isin(testSources: _*)
    val testSh = tagged.filter(isTest).select("doc_id", "sh")
    val trainSh = tagged.filter(!isTest).select("sh").distinct()
    val hits = testSh.join(trainSh, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    testSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[contamination]]. */
  def contaminationOracleSql(
      testSources: Seq[String] = Seq("src1", "src2", "src3", "src4")): String = {
    val srcList = testSources.map(x => s"'$x'").mkString(", ")
    s"""WITH $shingleCtesSql,
       |srcs AS (SELECT doc_id, source FROM documents),
       |test AS (SELECT sh.doc_id, sh.sh FROM sh JOIN srcs USING (doc_id)
       |         WHERE source IN ($srcList)),
       |train AS (SELECT DISTINCT sh.sh FROM sh JOIN srcs USING (doc_id)
       |          WHERE source NOT IN ($srcList))
       |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
       |  CAST(COUNT(tr.sh) AS BIGINT) AS n_hit
       |FROM test t LEFT JOIN train tr ON t.sh = tr.sh
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  /** Deterministic hash-STRATIFIED SAMPLE for assembling training-data
    * mixtures: per-language keep rates (percent) applied through an
    * md5(doc_id) bucket, NOT rand()/DataFrame.sample — the selection is
    * a pure function of the row, so it is reproducible across engines,
    * runs, partitionings and cluster sizes, and any stratum can be
    * re-materialized independently later. Map-only (no shuffle):
    * embarrassingly parallel at any scale. */
  /** The row-pure keep condition behind [[stratifiedSample]] — shared
    * with the streaming ingest path (map-only, so it applies to a
    * stream unchanged). */
  def stratifiedKeep(rates: Map[String, Int] = Map("en" -> 25),
      defaultRate: Int = 75): Column = {
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    bucket < rate
  }

  def stratifiedSample(s: SparkSession, d: String,
      rates: Map[String, Int] = Map("en" -> 25),
      defaultRate: Int = 75): DataFrame =
    Tables.documents(s, d)
      .filter(stratifiedKeep(rates, defaultRate))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** q91: WEIGHT-PROPORTIONAL deterministic sampling — the importance-
    * sampling companion to the stratified rates of [[stratifiedSample]]:
    * each document keeps with probability min(1, n_tokens/500), i.e.
    * proportional to its token mass, so the sample preserves token
    * share rather than document share (the standard correction when
    * short boilerplate dominates a crawl by count). The coin is an
    * md5 of the doc_id with a dedicated salt (decorrelated from the
    * stratified buckets), compared in exact parts-per-million integers:
    * keep ⇔ u_ppm < p_ppm with p_ppm = min(1e6, n_tokens·2000).
    * Row-pure and map-only — reproducible across engines, runs, and
    * partitionings, and applies to a stream unchanged. */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    withToks(s, d)
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        (conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":wsamp"))), 1, 15), 16, 10)
          .cast("bigint") % 1000000L).as("u_ppm"))
      .withColumn("p_ppm", least(lit(1000000L), col("n_tokens") * 2000L))
      .filter(col("u_ppm") < col("p_ppm"))
      .select("doc_id", "lang", "n_tokens", "p_ppm", "u_ppm")
      .orderBy("doc_id")

  /** DuckDB rendering of [[weightedSample]] (hex polynomial =
    * `conv(hex, 16, 10)`, see [[OracleSql.hexPoly]]). */
  def weightedSampleOracleSql(): String = {
    val u = s"(${OracleSql.hexPoly("md5(CAST(doc_id AS VARCHAR) || ':wsamp')", 1, 15)}) % 1000000"
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    CAST($u AS BIGINT) AS u_ppm
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens,
       |  LEAST(1000000, n_tokens * 2000) AS p_ppm, u_ppm
       |FROM t WHERE u_ppm < LEAST(1000000, n_tokens * 2000)
       |ORDER BY doc_id""".stripMargin
  }

  /** q92: TF-IDF TOP TERMS — the per-document salient-term extraction
    * a corpus index / topic audit runs: term frequency × inverse
    * document frequency, top 5 terms per document. The score is the
    * exact integer `tf·1e6 div df` — monotone in tf/df (the corpus-size
    * factor N of textbook idf is constant per corpus and cannot change
    * the per-document ranking), so no logarithm or float enters the
    * oracle-gated path; ties break lexicographically.
    *
    * Scale shape (r13, guide §2.4): the (doc, term) tf table is ONE
    * map-side-combined shuffle over the exploded token stream; df is a
    * term-keyed window count over that same tf table (tf rows are
    * distinct (doc, term), so the window count IS the document
    * frequency) — which removes the df groupBy, the tf⋈df join, and
    * the tf materialization the join forced; the top-k window then
    * repartitions by doc_id once. Three exchanges end to end. */
  def tfidfTopTerms(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTok = Window.partitionBy("tok")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_ppm").desc, col("tok"))
    withToks(s, d)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(wTok))
      .withColumn("score_ppm", expr("tf * 1000000L div df"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "tok", "tf", "df", "score_ppm")
      .orderBy("doc_id", "rank")
  }

  /** DuckDB rendering of [[tfidfTopTerms]]. */
  def tfidfTopTermsOracleSql(k: Int = 5): String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |d AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |sc AS (SELECT doc_id, tok, tf, df, tf * 1000000 // df AS score_ppm
       |       FROM tf JOIN d USING (tok)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |         ORDER BY score_ppm DESC, tok) AS rank
       |      FROM sc)
       |SELECT doc_id, rank, tok, tf, df, CAST(score_ppm AS BIGINT) AS score_ppm
       |FROM r WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  /** q106: LENGTH PERCENTILE FEATURE — each document's token-count
    * percentile rank in exact ppm: `(#docs strictly shorter)·1e6 div
    * (N−1)` — the calibration feature quality models consume instead
    * of raw lengths (scale-free across corpora). Equivalent to the
    * window formulation `(rank()−1)·1e6 div (N−1)` the oracle states,
    * but computed WITHOUT a global sort of the corpus: the histogram
    * of distinct token counts (≪ corpus size) gets a running-sum
    * window on the driver-tiny table, then broadcasts back onto a
    * map-only join — the same shape as the q50 quantile gate, and the
    * only scalable way to percentile-rank 100 TB. */
  def lengthPercentile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = withToks(s, d)
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
    val hist = t.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val wH = Window.orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("smaller", coalesce(sum("cnt").over(wH), lit(0L)))
      .select("n_tokens", "smaller")
    val total = hist.agg(sum("cnt").as("n_total"))
    t.join(broadcast(ranked), "n_tokens")
      .crossJoin(broadcast(total))
      // greatest(..., 1) guards the degenerate 1-document corpus, where
      // Spark's div-by-zero NULLs while DuckDB's // errors — with the
      // same guard on both sides the single doc ranks at percentile 0
      .withColumn("pct_ppm",
        expr("smaller * 1000000 div greatest(n_total - 1, 1)"))
      .select("doc_id", "n_tokens", "pct_ppm")
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[lengthPercentile]] (the window formulation —
    * rank()−1 counts strictly-shorter docs; identical integer
    * arithmetic). */
  def lengthPercentileOracleSql(): String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |r AS (SELECT doc_id, n_tokens,
      |    CAST(rank() OVER (ORDER BY n_tokens) - 1 AS BIGINT) AS smaller,
      |    COUNT(*) OVER () AS n_total
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |  CAST(smaller * 1000000 // GREATEST(n_total - 1, 1) AS BIGINT) AS pct_ppm
      |FROM r ORDER BY doc_id""".stripMargin

  /** BPE-ish TOKEN COUNT: alongside the whitespace count (q21), the
    * subword-style segmentation a tokenizer-budget estimate needs —
    * letter runs / digit runs / single punctuation marks, the core of
    * the GPT-2 pre-tokenizer pattern (minus its lookaheads, which RE2
    * — hence DuckDB — can't express). Map-only; the pattern is dialect-
    * portable between Java regex and RE2 (verified: the corpus is pure
    * ASCII, where both count identically). */
  def bpeTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("bigint").as("n_bpe"),
        size(tokens(col("text"))).cast("bigint").as("n_ws"))
      .orderBy("doc_id")

  /** DuckDB rendering of [[bpeTokenCount]]. */
  def bpeTokenCountOracleSql(): String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
      |    AS BIGINT) AS n_bpe,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws
      |FROM documents ORDER BY doc_id""".stripMargin

  /** CORPUS MIXTURE report: per (lang, source) stratum — document
    * count, token mass, char mass — the table a data-mixture plan is
    * written against before sampling rates (q47) are chosen. One
    * map-side-combined groupBy; output is strata-bounded. */
  def mixtureSummary(s: SparkSession, d: String): DataFrame =
    withToks(s, d)
      .select(col("lang"), col("source"),
        size(col("toks")).cast("bigint").as("n_tokens"), col("n_chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("n_chars").as("total_chars"))
      .orderBy("lang", "source")

  /** DuckDB rendering of [[mixtureSummary]]. */
  def mixtureSummaryOracleSql(): String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |    AS total_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** REPETITION / boilerplate metrics (Gopher-style quality signals):
    * per document, the frequency of its most repeated token and bigram
    * plus the token mass sitting in repeated tokens — the standard
    * filters for looped / boilerplate text in a training corpus. All
    * exact integer counts so the oracle matches bit-for-bit.
    *
    * Scale: the token stream explodes once; both aggregations hash-
    * shuffle on (doc_id, gram) with map-side partial counts, then
    * reduce per doc — no global structure, embarrassingly parallel in
    * the corpus. The bigram stream reuses the positional explode (one
    * `lead` window per doc partition, codegen'd). */
  def repetitionMetrics(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokStream = withToks(s, d)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val tokAgg = tokStream.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("bigint").as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_uniq"),
        max("c").cast("bigint").as("top_tok_cnt"),
        coalesce(sum(when(col("c") >= 2, col("c"))), lit(0))
          .cast("bigint").as("dup_tok_cnt"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bgAgg = tokStream
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .filter(col("t1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").cast("bigint").as("top_bigram_cnt"))
    tokAgg.join(bgAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"),
        col("top_tok_cnt"), col("dup_tok_cnt"),
        coalesce(col("top_bigram_cnt"), lit(0L)).as("top_bigram_cnt"))
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[repetitionMetrics]]. */
  def repetitionOracleSql(): String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |ta AS (SELECT doc_id,
      |         CAST(SUM(c) AS BIGINT) AS n_tokens,
      |         CAST(COUNT(*) AS BIGINT) AS n_uniq,
      |         CAST(MAX(c) AS BIGINT) AS top_tok_cnt,
      |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
      |           AS dup_tok_cnt
      |       FROM tc GROUP BY doc_id),
      |bg0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |        FROM toks WHERE len(t) >= 2),
      |bgc AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, COUNT(*) AS c
      |        FROM bg0 GROUP BY 1, 2),
      |bga AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_cnt
      |        FROM bgc GROUP BY doc_id)
      |SELECT ta.doc_id, n_tokens, n_uniq, top_tok_cnt, dup_tok_cnt,
      |  COALESCE(top_bigram_cnt, 0) AS top_bigram_cnt
      |FROM ta LEFT JOIN bga USING (doc_id) ORDER BY doc_id""".stripMargin

  /** SEQUENCE PACKING: assign every document to a token-budget chunk by
    * greedy contiguous fill in doc_id order — the step that turns a
    * filtered corpus into fixed-budget training shards. chunk_id is the
    * chunk containing the document's FIRST token (a document longer
    * than the budget spills into later chunks but is assigned where it
    * starts). Pure integer arithmetic, so the oracle is bit-exact.
    *
    * Scale: the global running token total is computed WITHOUT a global
    * sort or single-partition window. Documents bucket by
    * `doc_id div bucketSize`; per-bucket totals (a table ~n/bucketSize
    * rows) get prefix-summed on the driver-side-tiny bucket table, and
    * the broadcast bucket offsets turn the within-bucket window
    * (partitioned by bucket, codegen'd) into the exact global prefix
    * sum. At 100 TB, pick bucketSize so the bucket table stays ~1e6
    * rows; every big-table operation is partition-parallel. */
  def packChunks(s: SparkSession, d: String,
      budget: Long = 2048L, bucketSize: Long = 100L): DataFrame =
    packChunksOf(withToks(s, d)
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens")),
      budget, bucketSize)

  /** The packing itself over any (doc_id, n_tokens) set — q49 runs it
    * on the full corpus (paired with its oracle); the training-shard
    * export runs it on the gated subset. */
  def packChunksOf(docs: DataFrame,
      budget: Long = 2048L, bucketSize: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .select(col("doc_id"), col("n_tokens"),
        expr(s"doc_id div $bucketSize").as("bucket"))
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("bucket").agg(sum("n_tokens").as("btot"))
      .withColumn("boff", coalesce(sum("btot").over(wB), lit(0L)))
      .select("bucket", "boff")
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(broadcast(offsets), "bucket")
      .withColumn("cum", sum("n_tokens").over(wIn) + col("boff"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("chunk_id"))
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[packChunks]] — the oracle states the
    * SEMANTICS (one global running sum); the engine side is the
    * scalable two-level rendering of the same integer arithmetic. */
  def packChunksOracleSql(budget: Long = 2048L): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |        SUM(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST((cum - n_tokens) // $budget AS BIGINT) AS chunk_id
       |FROM c ORDER BY doc_id""".stripMargin

  /** QUANTILE-style quality filter: drop the shortest ~10% of the
    * corpus. The threshold is rank-based over exact integers — the
    * smallest token count `v` whose cumulative doc count reaches 10% —
    * so engine and oracle agree bit-for-bit (no floating interpolation
    * like percentile_cont). Kept: documents STRICTLY above the
    * threshold value.
    *
    * Scale: the histogram groupBy is bounded by the number of distinct
    * token counts (≪ corpus size); its cumulative window runs on that
    * tiny table; the threshold joins back as a broadcast scalar. The
    * corpus itself is touched by one map-side filter — no sort, no
    * global window over the big table. */
  def qualityFilter(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = withToks(s, d)
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"),
        col("lang"))
    val hist = t.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val total = hist.agg(sum("cnt").as("n_total"))
    val wH = Window.orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("cum", sum("cnt").over(wH))
      .crossJoin(broadcast(total))
      .filter(col("cum") * 10 >= col("n_total"))
      .agg(min("n_tokens").as("thr"))
    t.crossJoin(broadcast(thr))
      .filter(col("n_tokens") > col("thr"))
      .select("doc_id", "n_tokens", "lang")
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[qualityFilter]]. */
  def qualityFilterOracleSql(): String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS n_tokens,
      |    lang
      |  FROM documents),
      |hist AS (SELECT n_tokens, COUNT(*) AS cnt FROM t GROUP BY n_tokens),
      |cum AS (SELECT n_tokens,
      |          SUM(cnt) OVER (ORDER BY n_tokens
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |        FROM hist),
      |tot AS (SELECT COUNT(*) AS n_total FROM t),
      |thr AS (SELECT MIN(n_tokens) AS thr FROM cum, tot
      |        WHERE cum * 10 >= n_total)
      |SELECT doc_id, n_tokens, lang FROM t, thr
      |WHERE n_tokens > thr.thr ORDER BY doc_id""".stripMargin

  /** VOCABULARY statistics: per-token document frequency + total term
    * frequency, top-k by df — the corpus-level table behind IDF
    * weighting, stop-shingle caps, and tokenizer audits. Exact integer
    * counts; deterministic (df DESC, token ASC) top-k.
    *
    * Scale: ONE shuffle on the token value. df and tf come out of the
    * same two-level aggregation — distinct (doc_id, tok) partial
    * counts map-side, then per-token merge; output is vocabulary-
    * bounded and the top-k is a TakeOrdered, never a global sort. */
  def vocabDf(s: SparkSession, d: String, k: Int = 50): DataFrame =
    withToks(s, d)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("tok")
      .agg(countDistinct("doc_id").cast("bigint").as("df"),
        count(lit(1)).cast("bigint").as("tf"))
      .orderBy(col("df").desc, col("tok"))
      .limit(k)

  /** DuckDB rendering of [[vocabDf]]. */
  def vocabDfOracleSql(k: Int = 50): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents)
       |SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       |  CAST(COUNT(*) AS BIGINT) AS tf
       |FROM tok GROUP BY tok ORDER BY df DESC, tok LIMIT $k""".stripMargin

  /** DuckDB rendering of [[stratifiedSample]]: the md5-hex bucket is
    * recovered with the strpos polynomial (15 hex chars = 60 bits,
    * BIGINT-safe), the same trick [[SimilarityOps.minHashOracleSql]]
    * uses. */
  def stratifiedSampleOracleSql(
      rates: Map[String, Int] = Map("en" -> 25),
      defaultRate: Int = 75): String = {
    val hexPoly = OracleSql.hexPoly("h", 1, 15)
    val rateExpr = rates.toSeq.sortBy(_._1).foldLeft(s"$defaultRate") {
      case (acc, (l, r)) => s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }
    s"""WITH h AS (SELECT doc_id, lang, source,
       |             substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS h
       |           FROM documents)
       |SELECT doc_id, lang, source FROM h
       |WHERE ($hexPoly) % 100 < ($rateExpr)
       |ORDER BY doc_id""".stripMargin
  }

  /** q59: token-rarity scoring — per document, the number of distinct
    * tokens, the sum of each distinct token's corpus document frequency
    * (an integer-exact rarity/commonness signal: low sums mean the
    * document is made of rare vocabulary — the cheap end of the
    * perplexity-filter family), and their rounded ratio.
    *
    * Scale shape (r13, guide §2.4): distinct (doc, token) pairs →
    * token-keyed WINDOW count (the rows are distinct, so the window
    * count IS the document frequency — no separate df groupBy and no
    * join back; vocabulary can be arbitrarily large, so no broadcast
    * either way) → doc-keyed sum. Every stage is keyed by token or
    * doc_id; no collect, no skew hazard beyond stopword tokens, which
    * bound a window partition's width exactly as they bounded the old
    * join key's value list. */
  def rarityScore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    withToks(s, d)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_distinct"),
        sum("df").cast("bigint").as("df_sum"))
      .withColumn("avg_df",
        OracleSql.roundTo(col("df_sum").cast("double") / col("n_distinct"), 6))
      .orderBy("doc_id")
  }

  /** q61: BPE MERGE-PAIR COUNTING — the inner statistic of
    * byte-pair-encoding tokenizer training: for every adjacent symbol
    * pair (here: character bigram, i.e. the first merge iteration),
    * the total corpus occurrence count weighted by word frequency.
    * The highest-count pair is the merge a BPE trainer would perform
    * next; the top-`k` table is the trainer's working set.
    *
    * Scale shape: one groupBy(word) over the exploded token stream
    * (map-side combined — the word-frequency table is tiny relative to
    * the corpus), then a map-only bigram explode over the DISTINCT
    * word set (corpus size drops out entirely after the first
    * aggregation — the property that makes BPE training feasible on
    * 100 TB: every later iteration works on the vocabulary, not the
    * corpus), then a second map-side-combined sum. All integer. */
  def bpeMergePairs(s: SparkSession, d: String, k: Int = 50): DataFrame = {
    val words = withToks(s, d)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
    words
      .select(col("freq"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2))))
        .as("pair"))
      .groupBy("pair").agg(sum("freq").cast("bigint").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** DuckDB rendering of [[bpeMergePairs]]. */
  def bpeMergePairsOracleSql(k: Int = 50): String =
    s"""WITH w AS (
       |  SELECT tok AS word, COUNT(*) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |    FROM documents)
       |  GROUP BY tok HAVING length(tok) >= 2),
       |pairs AS (
       |  SELECT substring(word, unnest(range(1, length(word))), 2) AS pair, freq
       |  FROM w)
       |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
       |FROM pairs GROUP BY pair
       |ORDER BY cnt DESC, pair LIMIT $k""".stripMargin

  /** q62: MIXTURE TEMPERATURE RESAMPLING — deterministic per-source
    * downsampling with rate ∝ (n_source)^(α−1), α = 1/2 (the
    * multilingual-pretraining trick that flattens a skewed source
    * mixture: the smallest source keeps everything, a source 4× larger
    * keeps half). The keep decision reuses the md5-bucket trick of the
    * stratified sampler (q47): deterministic, replayable, map-only
    * once the per-source counts are known.
    *
    * Exactness: rate_s = √(n_min/n_s) is one IEEE double sqrt + one
    * divide, both correctly rounded and bit-identical in DuckDB; the
    * keep threshold is floor(rate·10⁶) compared against an integer
    * hash bucket, so the gate itself is integer-exact.
    *
    * Scale shape: count-per-source (tiny) broadcast back over the
    * corpus; the corpus itself is touched map-only. Returns the
    * per-source summary (n_docs, threshold, n_kept). */
  /** md5-bucket of a doc id in [0, 10⁶) — the deterministic coin the
    * samplers (q47, q62, curated shard export) share. */
  private[graft] def md5Bucket(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L

  /** Per-source keep thresholds of the α=1/2 temperature flattening:
    * (source, n_docs, threshold) with threshold = ⌊√(n_min/n_s)·10⁶⌋,
    * computed over whatever corpus `docs` is (the full table for q62;
    * the post-dedup gated set in the curated export). */
  def mixtureThresholds(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min("n_docs").as("min_n"))
    counts.crossJoin(broadcast(minN))
      .withColumn("threshold",
        floor(sqrt(col("min_n").cast("double") / col("n_docs")) * 1000000L)
          .cast("bigint"))
      .select("source", "n_docs", "threshold")
  }

  def mixtureResample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(mixtureThresholds(docs)), "source")
      .withColumn("kept", (md5Bucket(col("doc_id")) < col("threshold")).cast("int"))
      .groupBy("source", "n_docs", "threshold")
      .agg(sum("kept").cast("bigint").as("n_kept"))
      .select("source", "n_docs", "threshold", "n_kept")
      .orderBy("source")
  }

  /** DuckDB rendering of [[mixtureResample]]. */
  def mixtureResampleOracleSql(): String = {
    val hexPoly = OracleSql.hexPoly("substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)", 1, 15)
    s"""WITH counts AS (SELECT source, COUNT(*) AS n_docs
       |  FROM documents GROUP BY source),
       |rates AS (SELECT source, n_docs,
       |    CAST(FLOOR(SQRT(CAST((SELECT MIN(n_docs) FROM counts) AS DOUBLE)
       |      / n_docs) * 1000000) AS BIGINT) AS threshold
       |  FROM counts)
       |SELECT d.source, r.n_docs, r.threshold,
       |  CAST(SUM(CASE WHEN ($hexPoly) % 1000000 < r.threshold
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM documents d JOIN rates r USING (source)
       |GROUP BY d.source, r.n_docs, r.threshold
       |ORDER BY source""".stripMargin
  }

  /** DuckDB rendering of [[rarityScore]]. */
  def rarityScoreOracleSql(): String =
    """WITH tok0 AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |tok AS (SELECT DISTINCT doc_id, tok FROM tok0),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(SUM(df) AS BIGINT) AS df_sum,
      |  """.stripMargin +
      OracleSql.roundSql("CAST(SUM(df) AS DOUBLE) / COUNT(*)", 6) +
      """ AS avg_df
      |FROM tok JOIN dfreq USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q67: C4-style boilerplate removal — split each document into
    * consecutive `segLen`-token segments, count exact segment
    * occurrences CORPUS-WIDE, drop every segment occurring more than
    * `maxFreq` times (corpus boilerplate: headers, license banners,
    * nav text), and re-assemble each document from its surviving
    * segments in original order. Emits per-doc segment/keep counts and
    * the md5 fingerprint of the rebuilt text so the whole rewrite is
    * hash-gated.
    *
    * Scale shape (r13 rewrite, guide §2.4 — remove shuffles outright):
    * segment derivation is MAP-ONLY (slices of the token array — no
    * explode-then-regroup shuffle); corpus-wide segment frequency is
    * ONE segment-keyed window count over the segment stream; the drop,
    * the totals, and the re-assembly all collapse into ONE doc-keyed
    * aggregation with conditional aggregates (collect_list skips the
    * nulls the `freq > maxFreq` condition mints, so only surviving
    * segments enter the rebuild). Two exchanges end to end, no
    * materialization, no anti-join pass — the previous shape (eager
    * checkpoint + frequency groupBy + anti-join + two doc groupBys +
    * left join) measured 2.0-2.1 s warm at sf0.1 vs ~0.9 s now,
    * identical output. The frequent-segment set stays unbounded (no
    * broadcast assumption), and the rebuilt text never becomes a
    * join/group key — only doc_id and the fixed-width segment strings
    * do. */
  def segmentDedup(s: SparkSession, d: String, segLen: Int = 2,
      maxFreq: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nSeg = ceil(size(col("toks")).cast("double") / segLen).cast("int")
    val segs = withToks(s, d)
      .withColumn("segs", transform(sequence(lit(0), nSeg - 1),
        j => array_join(slice(col("toks"), j * segLen + 1, lit(segLen)), " ")))
      .select(col("doc_id"), posexplode(col("segs")).as(Seq("seg_id", "seg")))
    val wSeg = Window.partitionBy("seg")
    segs
      .withColumn("freq", count(lit(1)).over(wSeg))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_segs"),
        coalesce(sum(when(col("freq") <= maxFreq, 1L)), lit(0L))
          .cast("bigint").as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(
            when(col("freq") <= maxFreq, struct(col("seg_id"), col("seg"))))),
          p => p("seg")), " ").cast("binary")).as("fp"))
      .select("doc_id", "n_segs", "n_kept", "fp")
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[segmentDedup]] (1-based array positions;
    * `string_agg ... ORDER BY` reproduces the in-order re-assembly). */
  def segmentDedupOracleSql(segLen: Int = 2, maxFreq: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
       |segs AS (
       |  SELECT doc_id, (i - 1) // $segLen AS seg_id,
       |    string_agg(t[i], ' ' ORDER BY i) AS seg
       |  FROM pos GROUP BY doc_id, (i - 1) // $segLen),
       |freq AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(*) > $maxFreq),
       |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM freq)),
       |reb AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    string_agg(seg, ' ' ORDER BY seg_id) AS txt
       |  FROM kept GROUP BY doc_id),
       |ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs
       |       FROM segs GROUP BY doc_id)
       |SELECT ns.doc_id, ns.n_segs,
       |  COALESCE(reb.n_kept, 0) AS n_kept,
       |  md5(COALESCE(reb.txt, '')) AS fp
       |FROM ns LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q69: pattern redaction — the PII-scrub stage of a training
    * pipeline (emails, phone numbers, keys), expressed as a
    * configurable regex → placeholder rewrite. The synthetic corpus
    * carries no PII, so the default pattern redacts a set of entity
    * words actually present in the data; the operator itself is the
    * production shape (swap the pattern for the email/phone/ssn
    * alternation in a real run — same plan).
    *
    * Scale shape: MAP-ONLY — regexp_replace + regexp count per row,
    * fully codegen'd, no shuffle at all beyond the output sort. Both
    * engines run the same RE2-compatible pattern (word-boundary
    * alternation, no backtracking semantics involved), and the rewrite
    * is hash-gated via the md5 of the redacted text. */
  def redact(s: SparkSession, d: String,
      pattern: String = "\\b(customer|supplier|part)\\b",
      replacement: String = "<ENT>"): DataFrame =
    Tables.documents(s, d)
      .withColumn("red", regexp_replace(col("text"), pattern, replacement))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0)))
          .cast("bigint").as("n_hits"),
        length(col("red")).cast("bigint").as("n_chars_red"),
        md5(col("red").cast("binary")).as("fp"))
      .orderBy("doc_id")

  /** q83: OVERLAPPING WINDOW CHUNKING — the RAG/pretraining prep step
    * that splits each document into `chunkLen`-token windows starting
    * every `stride` tokens (50% overlap at the defaults), so no span of
    * meaning is cut at a hard boundary. Emits (doc_id, chunk_id,
    * n_tokens, md5(chunk)); the trailing chunks are naturally shorter
    * (slice clamps on both engines identically).
    *
    * Scale shape: MAP-ONLY — chunk starts come from a per-row sequence
    * over the token array (no explode-then-window shuffle), each chunk
    * a bounded array slice; output is ~n/stride rows per doc. The only
    * exchange is the presentation sort. */
  def chunkOverlap(s: SparkSession, d: String, chunkLen: Int = 8,
      stride: Int = 4): DataFrame = {
    val nChunk = ceil(size(col("toks")).cast("double") / stride).cast("int")
    withToks(s, d)
      .withColumn("chunks", transform(sequence(lit(0), nChunk - 1),
        j => slice(col("toks"), j * stride + 1, lit(chunkLen))))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk_id", "ck")))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        size(col("ck")).cast("bigint").as("n_tokens"),
        md5(array_join(col("ck"), " ").cast("binary")).as("fp"))
      .orderBy("doc_id", "chunk_id")
  }

  /** DuckDB rendering of [[chunkOverlap]] (1-based inclusive list
    * slices clamp at the array end, same as Spark's `slice`). */
  def chunkOverlapOracleSql(chunkLen: Int = 8, stride: Int = 4): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |st AS (SELECT doc_id, t,
       |    unnest(range(0, CAST(ceil(len(t) / CAST($stride AS DOUBLE))
       |      AS BIGINT))) AS j
       |  FROM toks)
       |SELECT doc_id, j AS chunk_id,
       |  CAST(len(t[j*$stride+1 : j*$stride+$chunkLen]) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(t[j*$stride+1 : j*$stride+$chunkLen], ' ')) AS fp
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  /** q84: EXACT-K DETERMINISTIC SAMPLE — exactly `k` documents per
    * source (fewer only if the stratum is smaller), chosen by md5
    * priority: rank doc ids by their hash and keep the top k. Unlike
    * the rate-based gate (q47, keeps a deterministic ~p% of any
    * stream), this is the fixed-budget variant — "give me exactly 100
    * eval docs per source, reproducibly, regardless of corpus growth
    * upstream of the snapshot".
    *
    * Scale shape: one hash-partition shuffle on source + in-partition
    * top-k (rank window with a pushed-down limit predicate); no global
    * sort, no driver collect. Skew bound: a partition holds one
    * stratum's rows. */
  def exactKSample(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("pri"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string").cast("binary")).as("pri"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select("source", "rk", "doc_id", "pri")
      .orderBy("source", "rk")
  }

  /** DuckDB rendering of [[exactKSample]]. */
  def exactKSampleOracleSql(k: Int = 20): String =
    s"""SELECT source, rk, doc_id, pri FROM (
       |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS pri,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $k ORDER BY source, rk""".stripMargin

  /** q86: INCREMENTAL DEDUP — dedup an arriving batch against the
    * historical corpus, the shape an ongoing ingestion pipeline runs
    * nightly: new documents (here: `doc_id % 5 == 4`, a deterministic
    * 20% slice standing in for "today's crawl") are fingerprinted,
    * dropped if the fingerprint already exists in history
    * (`dup_historical`), deduped within the batch keeping the lowest id
    * (`dup_in_batch`), and kept otherwise. History is NEVER re-deduped
    * — that's the point of incremental: cost scales with the batch,
    * not the corpus.
    *
    * Scale shape: fingerprints on both sides are md5 (map-only); the
    * history probe is a fingerprint-keyed LEFT SEMI/ANTI shuffle join
    * (history side can be arbitrarily large — no broadcast assumption;
    * in production it's the bloom-filter-then-join pattern); in-batch
    * dedup is one batch-sized groupBy. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    // NULL-fp rows (null text) are excluded up front: a NULL join key
    // matches nothing anywhere downstream and the engines disagree on
    // the leftovers (see oracle's NOT EXISTS note)
    // r13 (guide §2.4 — remove shuffles outright): history probe,
    // in-batch dedup, and classification collapse into ONE fp-keyed
    // window pass — per fp group, "any history row exists" answers the
    // semi/anti joins and "min batch doc_id" answers the keep pick, so
    // the two eager checkpoints, the semi-join, the anti-join, and the
    // keeper groupBy+join all disappear (warm 0.9 s → ~0.4 s at sf0.1,
    // identical output). History stays unbounded — the window shuffles
    // the fingerprint stream once, the same single fp-keyed exchange
    // the old probe join paid anyway.
    import org.apache.spark.sql.expressions.Window
    val wFp = Window.partitionBy("fp")
    Tables.documents(s, d)
      .select(col("doc_id"), normFp(col("text")).as("fp"))
      .filter(col("fp").isNotNull)
      .withColumn("has_hist",
        max(when(col("doc_id") % 5 =!= 4, 1).otherwise(0)).over(wFp))
      .withColumn("min_batch",
        min(when(col("doc_id") % 5 === 4, col("doc_id"))).over(wFp))
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("fp"),
        when(col("has_hist") === 1, "dup_historical")
          .when(col("doc_id") === col("min_batch"), "kept")
          .otherwise("dup_in_batch").as("status"))
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[incrementalDedup]]. */
  def incrementalDedupOracleSql(): String =
    """WITH fps AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(text), '\s+', '', 'g')) AS fp
      |  FROM documents
      |  WHERE md5(regexp_replace(lower(text), '\s+', '', 'g')) IS NOT NULL),
      |hist AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 5 <> 4),
      |batch AS (SELECT doc_id, fp FROM fps WHERE doc_id % 5 = 4),
      |-- NOT EXISTS, not NOT IN: a NULL in hist would make NOT IN
      |-- return NULL for every row, diverging from Spark's anti-join
      |fresh AS (SELECT * FROM batch b
      |          WHERE NOT EXISTS (
      |            SELECT 1 FROM hist h WHERE h.fp = b.fp)),
      |first AS (SELECT fp, MIN(doc_id) AS keep_id FROM fresh GROUP BY fp)
      |SELECT doc_id, fp, status FROM (
      |  SELECT doc_id, fp, 'dup_historical' AS status FROM batch
      |  WHERE fp IN (SELECT fp FROM hist)
      |  UNION ALL
      |  SELECT f.doc_id, f.fp,
      |    CASE WHEN f.doc_id = fi.keep_id THEN 'kept'
      |      ELSE 'dup_in_batch' END
      |  FROM fresh f JOIN first fi USING (fp))
      |ORDER BY doc_id""".stripMargin

  /** DuckDB rendering of [[redact]] ('g' flag = Spark's replace-all). */
  def redactOracleSql(pattern: String = "\\b(customer|supplier|part)\\b",
      replacement: String = "<ENT>"): String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$pattern')) AS BIGINT) AS n_hits,
       |  CAST(length(regexp_replace(text, '$pattern', '$replacement', 'g'))
       |    AS BIGINT) AS n_chars_red,
       |  md5(regexp_replace(text, '$pattern', '$replacement', 'g')) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin
}
