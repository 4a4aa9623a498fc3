package graft.operators

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.algo.GraphAlgos

/** Embedding similarity search + hash-based near-dup families
  * (MinHash+LSH, SimHash) over `embeddings` / `documents`.
  *
  * Scale notes:
  *  - brute-force top-k broadcasts the (small) query set against the
  *    full corpus — one pass, no corpus shuffle, map-side top-k via
  *    window per query id; at 100 TB the corpus side stays partitioned
  *    and only candidates move;
  *  - the LSH variants (bucketed cosine, MinHash bands, SimHash bands)
  *    replace the quadratic candidate generation with an equi-join on
  *    bucket keys — the 100 TB path;
  *  - all hash families use md5 (bit-identical hex across engines, as
  *    q20/q24 prove), so every op here is DuckDB-oracle-checkable.
  *    MinHash minimizes md5 hex STRINGS — fixed-width lowercase hex
  *    compares lexicographically exactly as the underlying 128-bit
  *    value, so no integer conversion is needed in either engine.
  */
object SimilarityOps {

  /** Elementwise-exact dot: each element widened to double, sequential
    * fold — deterministic and reproducible in the DuckDB oracle.
    * Compiled ([[graft.functions.DotProduct]], whole-stage codegen);
    * the `aggregate(zip_with(...))` HOF formulation computes the same
    * fold interpreted per element — measured 122.6 s vs ~2 s verifying
    * q42's candidates at sf0.1. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: query vectors (vec_id < nQueries)
    * against the whole corpus. Cosine is rounded to 6 decimals before
    * ranking so Spark and the oracle rank identically; ties break on
    * neighbor id. */
  def cosineTopK(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    // norms computed once per vector BELOW the join (per corpus row /
    // per query row), not per (query, corpus) pair
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
    val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val sim = broadcast(q).join(c, col("qid") =!= col("nid"))
      .withColumn("sim",
        OracleSql.roundTo(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    sim.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select("qid", "nid", "sim", "rk")
      .orderBy("qid", "rk")
  }

  /** LSH-bucketed ANN (the scale path): random-hyperplane signatures
    * (`nPlanes` sign bits from deterministic pseudo-random planes) form
    * the bucket key; candidates = bucket collisions only. Planes are
    * derived from xxhash64(planeIdx, dimIdx) so the signature is
    * deterministic with zero driver-side state. */
  /** Deterministic pseudo-random hyperplanes computed driver-side with
    * a fixed-seed LCG (no runtime entropy, reproducible across runs)
    * and shipped as array literals — the per-row work is one
    * zip_with/aggregate fold per plane over the broadcast constant. */
  private def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    var state = 0x5DEECE66DL
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(nPlanes, dim)(next())
  }

  def cosineLshBuckets(s: SparkSession, d: String, nPlanes: Int = 8,
      dim: Int = 64): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val pl = planes(nPlanes, dim)
    val bitCols = (0 until nPlanes).map { p =>
      when(dot(col("embedding"), typedLit(pl(p).toSeq)) >= 0, lit(1))
        .otherwise(lit(0)).cast("string")
    }
    // members as a JSON string, not a raw array: scalar output columns
    // only (the driver's result hasher can't sort array cells)
    emb.select(col("vec_id"), concat(bitCols: _*).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("bucket_size"),
        to_json(sort_array(collect_list(col("vec_id")))).as("members"))
      .orderBy("bucket")
  }

  /** DuckDB rendering of [[cosineLshBuckets]]: the hyperplanes are
    * driver-side literal doubles, so the sign-bit bucketing is fully
    * expressible in SQL (plane coefficients shipped as a VALUES list in
    * round-tripping scientific notation). */
  def cosineLshOracleSql(nPlanes: Int = 8, dim: Int = 64): String = {
    val pl = planes(nPlanes, dim)
    val values = (for (p <- 0 until nPlanes; j <- 0 until dim)
      yield s"($p,$j,${"%.17e".formatLocal(java.util.Locale.ROOT, pl(p)(j))})")
      .mkString(",")
    s"""WITH planes(p, d, coef) AS (VALUES $values),
       |pl AS (SELECT p, list(coef ORDER BY d) AS coefs FROM planes GROUP BY p),
       |dots AS (SELECT e.vec_id, pl.p,
       |           list_sum(list_transform(generate_series(1, len(e.embedding)),
       |             i -> CAST(e.embedding[i] AS DOUBLE) * pl.coefs[i])) AS dot
       |         FROM embeddings e CROSS JOIN pl),
       |buckets AS (SELECT vec_id,
       |    string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM dots GROUP BY vec_id)
       |SELECT bucket, COUNT(*) AS bucket_size,
       |  '[' || string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) || ']' AS members
       |FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-family member
    * over vectors: multi-table random-hyperplane LSH candidates + exact
    * cosine threshold. One table of b sign bits has collision
    * probability (1−θ/π)^b, useless at moderate similarity; nTables
    * independent small tables (banding, like MinHash) push recall to
    * 1−(1−(1−θ/π)^b)^T while candidates stay bucket-bounded — the
    * 100 TB path (no all-pairs step; candidate ids only in the band
    * join, embeddings fetched after dedup). The hyperplanes are
    * deterministic literals, so the whole op — bucketing included — is
    * DuckDB-reproducible ([[cosineNearDupOracleSql]]); recall vs true
    * all-pairs is pinned in IoAndOpsSpec.
    *
    * Scaling knob: per-bucket candidate count is ~n²/2^b per table, so
    * bits-per-table GROWS with the corpus: b = clamp(4, bMax,
    * bits(⌈n/targetBucket⌉)) keeps buckets ~targetBucket-sized and
    * candidate volume ~n·targetBucket·T/2 — linear in n. The same b is
    * derived (exact integer arithmetic on count(*), no float log) inside
    * the oracle SQL. Planes are laid out with stride bMax per table so
    * any b ≤ bMax selects the same plane for (table, bit) on both
    * sides. The synthetic random embeddings max out near sim 0.5; real
    * near-dup corpora operate at sim ≥ 0.9 where the per-plane collision
    * probability 1−θ/π ≈ 0.9 keeps banding recall high even at 8+ bits
    * per table (at billions of rows, raise bMax ~log2(n) and ship the
    * planes as a table, not literals). */
  val neardupBandMax = 8

  /** Smallest b in [4, bMax] with 2^b ≥ ⌈n/target⌉ — exact integer
    * thresholds, mirrored verbatim as a CASE in the oracle SQL. */
  private[graft] def autoBand(n: Long, target: Int = 32,
      bMax: Int = neardupBandMax): Int = {
    val bn = (math.max(n, 1L) + target - 1) / target
    if (bn <= 16) 4 else if (bn <= 32) 5 else if (bn <= 64) 6
    else if (bn <= 128) 7 else bMax
  }

  // one materialized embedding near-dup pair table per (session,
  // dataset, params): q42 returns it and q44's clustering consumes it
  private val neardupCache = new graft.core.BoundedCache[
    (String, String, Int, Int, Double), DataFrame](
    release = graft.core.BoundedCache.releaseDf)

  def cosineNearDupPairs(s: SparkSession, d: String, nTables: Int = 16,
      dim: Int = 64, threshold: Double = 0.4): DataFrame =
    neardupCache.getOrElseUpdate(
      (s.sparkContext.applicationId, d, nTables, dim, threshold))(
      cosineNearDupPairsUncached(s, d, nTables, dim, threshold)
        .graftCheckpoint())

  private def cosineNearDupPairsUncached(s: SparkSession, d: String,
      nTables: Int, dim: Int, threshold: Double): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bMax = neardupBandMax
    val b = autoBand(emb.count())
    val pl = planes(nTables * bMax, dim)
    val keyCols = (0 until nTables).map { t =>
      concat((0 until b).map { j =>
        when(dot(col("embedding"), typedLit(pl(t * bMax + j).toSeq)) >= 0,
          lit("1")).otherwise(lit("0"))
      }: _*)
    }
    val banded = emb.select(col("vec_id"),
      posexplode(array(keyCols: _*)).as(Seq("table_idx", "band_key")))
    val cand = banded.select(col("vec_id").as("a_id"), col("table_idx"), col("band_key"))
      .join(banded.select(col("vec_id").as("b_id"), col("table_idx"), col("band_key")),
        Seq("table_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val ea = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_e"),
      norm(col("embedding")).as("a_n"))
    val eb = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
      norm(col("embedding")).as("b_n"))
    cand.join(ea, "a_id").join(eb, "b_id")
      .withColumn("sim",
        OracleSql.roundTo(dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")), 6))
      .filter(col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
      .orderBy("a_id", "b_id")
  }

  /** DuckDB rendering of [[cosineNearDupPairs]] (same literal planes
    * with stride bMax per table, same self-sized b via the identical
    * integer CASE thresholds, same exact-cosine filter). */
  def cosineNearDupOracleSql(nTables: Int = 16,
      dim: Int = 64, threshold: Double = 0.4): String = {
    val bMax = neardupBandMax
    val pl = planes(nTables * bMax, dim)
    val values = (for (p <- 0 until nTables * bMax; j <- 0 until dim)
      yield s"($p,$j,${"%.17e".formatLocal(java.util.Locale.ROOT, pl(p)(j))})")
      .mkString(",")
    s"""WITH params AS (
       |  SELECT CASE WHEN bn <= 16 THEN 4 WHEN bn <= 32 THEN 5
       |              WHEN bn <= 64 THEN 6 WHEN bn <= 128 THEN 7
       |              ELSE $bMax END AS b
       |  FROM (SELECT (GREATEST(COUNT(*), 1) + 31) // 32 AS bn FROM embeddings)),
       |planes(p, d, coef) AS (VALUES $values),
       |pl AS (SELECT p, list(coef ORDER BY d) AS coefs FROM planes GROUP BY p),
       |dots AS (SELECT e.vec_id, pl.p,
       |           list_sum(list_transform(generate_series(1, len(e.embedding)),
       |             i -> CAST(e.embedding[i] AS DOUBLE) * pl.coefs[i])) AS dot
       |         FROM embeddings e CROSS JOIN pl
       |         WHERE pl.p % $bMax < (SELECT b FROM params)),
       |keys AS (SELECT vec_id, p // $bMax AS table_idx,
       |           string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS band_key
       |         FROM dots GROUP BY vec_id, p // $bMax),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |         FROM keys a JOIN keys b USING (table_idx, band_key)
       |         WHERE a.vec_id < b.vec_id),
       |pz AS (SELECT a_id, b_id, ea.embedding AS a_e, eb.embedding AS b_e
       |       FROM cand JOIN embeddings ea ON ea.vec_id = a_id
       |         JOIN embeddings eb ON eb.vec_id = b_id),
       |ps AS (SELECT a_id, b_id,
       |         list_sum(list_transform(generate_series(1, len(a_e)),
       |           i -> CAST(a_e[i] AS DOUBLE) * CAST(b_e[i] AS DOUBLE))) AS dot,
       |         list_sum(list_transform(generate_series(1, len(a_e)),
       |           i -> CAST(a_e[i] AS DOUBLE) * CAST(a_e[i] AS DOUBLE))) AS na,
       |         list_sum(list_transform(generate_series(1, len(b_e)),
       |           i -> CAST(b_e[i] AS DOUBLE) * CAST(b_e[i] AS DOUBLE))) AS nb
       |       FROM pz),
       |sims AS (SELECT a_id, b_id, ${OracleSql.roundSql("dot / (sqrt(na) * sqrt(nb))", 6)} AS sim
       |         FROM ps)
       |SELECT a_id, b_id, sim FROM sims WHERE sim >= $threshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** IVF coarse-quantizer index, trained ONCE per (dataset, nlist) per
    * process and cached: KMeans fits on a deterministic bounded sample
    * (`vec_id < 4096`), never the full corpus — the quantizer's quality
    * plateaus at thousands of training points while a full-corpus fit
    * is a multi-pass O(corpus) job (measured 105 s of the sf0.1 bench;
    * the sample fit is ~2 s). At 100 TB the same shape holds: train on
    * a sample offline, persist the centroids, assign the corpus in one
    * map-only pass. Returns (centroid table rows, cell-assigned corpus). */
  // keyed by (session applicationId, dataset, nlist): cached DataFrames
  // are session-bound (see GraphOps.graphCache)
  private val ivfCache = new graft.core.BoundedCache[
    (String, String, Int), (Seq[(Int, Seq[Double])], DataFrame)](
    release = v => graft.core.BoundedCache.releaseDf(v._2))

  private def ivfIndex(s: SparkSession, d: String, nlist: Int,
      sampleCap: Int = 4096): (Seq[(Int, Seq[Double])], DataFrame) =
    ivfCache.getOrElseUpdate((s.sparkContext.applicationId, d, nlist))({
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = Tables.embeddings(s, d)
        .withColumn("vec", array_to_vector(col("embedding")))
        .graftCheckpoint()
      val sampled = emb.filter(col("vec_id") < sampleCap)
      // An EMPTY training sample (empty corpus, or upstream pruning
      // excluded the sample id range) degrades to one zero centroid:
      // every vector lands in cell 0 and IVF becomes brute force —
      // a total operator instead of a KMeans crash. The oracle embeds
      // whatever centroids exist as literals, so it follows suit.
      val centroids: Seq[(Int, Seq[Double])] =
        if (sampled.isEmpty) {
          val dim = emb.select(size(col("embedding"))).head(1)
            .headOption.map(_.getInt(0)).getOrElse(0)
          Seq((0, Seq.fill(dim)(0.0)))
        } else {
          val model = new KMeans().setK(nlist).setSeed(42L)
            .setFeaturesCol("vec").setPredictionCol("cell")
            .fit(sampled)
          model.clusterCenters.zipWithIndex.map { case (c, i) =>
            (i, c.toArray.toSeq)
          }.toSeq
        }
      // Cell assignment by compiled sequential-fold squaredL2 argmin
      // over the centroid LITERALS (ties → smallest cell), NOT
      // model.transform: the ML transform's BLAS norm-shortcut distance
      // can flip near-equidistant cells, and this exact map-only
      // formulation is what [[ivfOracleSql]] reproduces in DuckDB.
      val d2Cols = centroids.map { case (i, cvec) =>
        struct(
          graft.functions.VectorFunctions.squaredL2(
            col("embedding"), typedLit(cvec)).as("d2"),
          lit(i).as("cell"))
      }
      // least() requires ≥2 args; the degraded single-centroid index
      // has exactly one cell column
      val nearest =
        if (d2Cols.sizeIs == 1) d2Cols.head else least(d2Cols: _*)
      val assigned = emb
        .select(col("vec_id"), col("embedding"),
          nearest.getField("cell").as("cell"))
        .graftCheckpoint()
      (centroids, assigned)
    })

  /** The corpus with its IVF cell assignment (vec_id, embedding, cell)
    * — the index side of [[ivfIndex]], exposed for the curated
    * embedding-index export (Exporters.curatedEmbeddingIndex). */
  def cellAssignments(s: SparkSession, d: String, nlist: Int = 16): DataFrame =
    ivfIndex(s, d, nlist)._2

  /** IVF (inverted-file) ANN: sample-trained KMeans coarse quantizer
    * ([[ivfIndex]] — fixed seed, deterministic), queries probe their
    * nprobe nearest cells, exact cosine only within probed cells.
    * The 100 TB path: the corpus is partitioned by cell id, a query
    * touches nprobe/nlist of the data; recall vs brute force is pinned
    * by `IoAndOpsSpec`. */
  def ivfTopK(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (centroids, assigned) = ivfIndex(s, d, nlist)

    // centroid table is tiny — compute each query's nprobe nearest cells
    val centDf = s.createDataFrame(centroids).toDF("cell", "centroid")
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wProbe = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
    val probed = broadcast(q).crossJoin(broadcast(centDf))
      .withColumn("cdist",
        graft.functions.VectorFunctions.squaredL2(col("qe"), col("centroid")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("qe"), col("cell"))

    // exact cosine only within probed cells; norms once per side,
    // below the join
    val corp = assigned.withColumn("cn", norm(col("embedding")))
    val cand = probed.withColumn("qn", norm(col("qe")))
      .join(corp, "cell")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("sim",
        OracleSql.roundTo(dot(col("qe"), col("embedding")) / (col("qn") * col("cn")), 6))
    val wTop = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    cand.withColumn("rk", row_number().over(wTop).cast("bigint"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("sim"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** Deterministic per-function coefficients for the one-md5 MinHash
    * family: 29-bit odd values from a fixed-seed LCG (cf. [[planes]]),
    * emitted as literals on both the Spark and oracle sides. 29 bits
    * keeps aᵢ·x₁ + bᵢ·x₂ < 2^63 for 32-bit x — no overflow in DuckDB's
    * checked BIGINT arithmetic. */
  private def minHashCoefs(n: Int): IndexedSeq[(Long, Long)] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 35) | 1L
    }
    IndexedSeq.fill(n)((next(), next()))
  }
  private val minHashPrime = 4294967311L // smallest prime > 2^32

  /** Embedding-side dedup clustering — q43's step over vectors:
    * connected components (fixed-sweep min-label propagation, see
    * [[GraphAlgos.minLabelClusters]]) over the [[cosineNearDupPairs]]
    * near-dup graph, one canonical keeper per cluster. The pairs come
    * from the embeddings table itself, so every pair names two vec_ids
    * (its precondition). */
  def cosineDedupClusters(s: SparkSession, d: String, sweeps: Int = 8): DataFrame =
    GraphAlgos.minLabelClusters(
        Tables.embeddings(s, d).select(col("vec_id").as("id")),
        cosineNearDupPairs(s, d)
          .select(col("a_id").as("a"), col("b_id").as("b")),
        sweeps)
      .select(col("id").as("vec_id"), col("cluster"), col("keep"))
      .orderBy("vec_id")

  /** DuckDB rendering of [[cosineDedupClusters]]: the q42 pair query
    * nested as a CTE + the same unrolled min-label sweeps. */
  def cosineDedupClustersOracleSql(sweeps: Int = 8): String = {
    val inner = cosineNearDupOracleSql().stripSuffix("\nORDER BY a_id, b_id")
    val sweepCtes = OracleSql.minLabelSweeps("id", sweeps)
    (Seq(
      s"""WITH np AS MATERIALIZED (
         |$inner
         |),
         |und AS MATERIALIZED (
         |  SELECT a_id AS u, b_id AS v FROM np
         |  UNION ALL SELECT b_id, a_id FROM np),
         |l0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS lbl FROM embeddings)""".stripMargin
      ) ++ sweepCtes).mkString(",\n") +
      s"""
         |SELECT id AS vec_id, lbl AS cluster, lbl = id AS keep
         |FROM l$sweeps ORDER BY vec_id""".stripMargin
  }

  /** DuckDB rendering of [[ivfTopK]], generated AGAINST A DATASET: the
    * sample-trained centroids are run-time artifacts, so they are
    * fetched from [[ivfIndex]] (training if missing) and embedded as
    * literals — the oracle then reproduces cell assignment (squaredL2
    * argmin, ties → smallest cell), the nprobe probe, and the exact
    * in-cell cosine top-k. Emitted by Verify via
    * `SparkEntry.dynamicOracleSql(spark, sfDir)`. */
  def ivfOracleSql(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4): String = {
    val (centroids, _) = ivfIndex(s, d, nlist)
    val values = (for ((cell, cvec) <- centroids; j <- cvec.indices)
      yield s"($cell,$j,${"%.17e".formatLocal(java.util.Locale.ROOT, cvec(j))})")
      .mkString(",")
    s"""WITH cent(cell, d, coef) AS MATERIALIZED (VALUES $values),
       |ct AS MATERIALIZED (SELECT cell, list(coef ORDER BY d) AS coefs
       |     FROM cent GROUP BY cell),
       |d2 AS MATERIALIZED (SELECT e.vec_id, ct.cell,
       |       list_sum(list_transform(generate_series(1, len(e.embedding)),
       |         i -> (CAST(e.embedding[i] AS DOUBLE) - ct.coefs[i]) *
       |              (CAST(e.embedding[i] AS DOUBLE) - ct.coefs[i]))) AS d2
       |     FROM embeddings e CROSS JOIN ct),
       |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM d2) WHERE rn = 1),
       |probed AS MATERIALIZED (SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM d2 WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
       |cand AS MATERIALIZED (SELECT p.qid, a.vec_id AS nid
       |  FROM probed p JOIN assign a USING (cell) WHERE a.vec_id <> p.qid),
       |pz AS MATERIALIZED (SELECT c.qid, c.nid,
       |    eq.embedding AS qe, en.embedding AS ce
       |  FROM cand c JOIN embeddings eq ON eq.vec_id = c.qid
       |    JOIN embeddings en ON en.vec_id = c.nid),
       |ps AS MATERIALIZED (SELECT qid, nid,
       |    list_sum(list_transform(generate_series(1, len(qe)),
       |      i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS dot,
       |    list_sum(list_transform(generate_series(1, len(qe)),
       |      i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) AS nq,
       |    list_sum(list_transform(generate_series(1, len(ce)),
       |      i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS nn
       |  FROM pz),
       |sims AS MATERIALIZED (SELECT qid, nid,
       |    ${OracleSql.roundSql("dot / (sqrt(nq) * sqrt(nn))", 6)} AS sim FROM ps)
       |SELECT qid, nid, sim, rk FROM (
       |  SELECT qid, nid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
       |  FROM sims) WHERE rk <= $k ORDER BY qid, rk""".stripMargin
  }

  /** MinHash + LSH banding near-dup detection on documents:
    * word-3-gram shingles → k=32 minhash signature → 8 bands × 4 rows →
    * band-bucket equi-join for candidates → signature-estimated Jaccard
    * filter. No quadratic pair enumeration at any point.
    *
    * Hash family: ONE md5 per shingle; the k functions are affine
    * derivations hᵢ = (aᵢ·x₁ + bᵢ·x₂ + i) mod p over the digest's two
    * 32-bit hex slices (x₁, x₂) with literal coefficients — 30 of the
    * 32 digests the previous family computed per shingle were pure
    * waste (measured 104.8 s for 5,000 docs). Distinct shingles only
    * produce identical hᵢ-vectors on a 64-bit (x₁, x₂) collision.
    * Every step is DuckDB-expressible, so the op stays oracle-checkable
    * (see [[minHashOracleSql]]). */
  def minHashLsh(s: SparkSession, d: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    val shingleRows0 = TextOps.shingleRows(s, d)
    val coefs = minHashCoefs(numHashes)
    // Signature via explode + numHashes flat hash columns + partial-agg
    // min: every expression stays inside whole-stage codegen. (The
    // nested-HOF formulation runs interpreted per element: measured 80×
    // slower. The groupBy gives map-side combine, so at scale only one
    // signature row per doc crosses the wire.)
    val hashCols = (0 until numHashes).map { i =>
      val (a, b) = coefs(i)
      ((lit(a) * col("x1") + lit(b) * col("x2") + lit(i.toLong)) % lit(minHashPrime))
        .as(s"h$i")
    }
    val minCols = (0 until numHashes).map(i => min(col(s"h$i")).as(s"m$i"))
    val withSig = shingleRows0
      .withColumn("mh", md5(col("sh").cast("binary")))
      .withColumn("x1", conv(substring(col("mh"), 1, 8), 16, 10).cast("long"))
      .withColumn("x2", conv(substring(col("mh"), 9, 8), 16, 10).cast("long"))
      .select(col("doc_id") +: hashCols: _*)
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
      // one signature row per doc, referenced FOUR times below (both
      // band-join sides + both signature fetches) — materialize once or
      // the whole shingle+hash pipeline re-executes per reference
      .graftCheckpoint()
    // band key = md5 of the band's signature slice (bounds the join-key
    // width at scale vs carrying the raw 4×32-hex concatenation)
    val bandKeyCols = (0 until bands).map { b =>
      md5(concat_ws(",",
        slice(col("sig"), b * rows + 1, rows).cast("array<string>")).cast("binary"))
    }
    val banded = withSig.select(col("doc_id"),
      posexplode(array(bandKeyCols: _*)).as(Seq("band_idx", "band_key")))
    // dedup candidate pairs on bare ids first; fetch signatures after
    val cand = banded.select(col("doc_id").as("a_id"), col("band_idx"), col("band_key"))
      .join(banded.select(col("doc_id").as("b_id"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(withSig.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(withSig.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("a_sig"), col("b_sig"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("a_id", "b_id", "est_jaccard")
      .orderBy("a_id", "b_id")
  }

  /** DuckDB rendering of [[minHashLsh]] (same shingles as the q25
    * oracle; same one-md5 affine hash family with the same literal
    * coefficients; x₁/x₂ recovered from the hex digest via a strpos
    * polynomial — DuckDB's conv-equivalent). */
  def minHashOracleSql(numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): String = {
    val rows = numHashes / bands
    val coefValues = minHashCoefs(numHashes).zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")
    def hexSlice(start: Int): String = OracleSql.hexPoly("mh", start, 8)
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |sh0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
       |        FROM toks WHERE len(t) >= 3),
       |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
       |       FROM sh0),
       |shx AS (SELECT doc_id, ${hexSlice(1)} AS x1, ${hexSlice(9)} AS x2
       |        FROM (SELECT doc_id, md5(sh) AS mh FROM sh)),
       |coefs(i, a, b) AS (VALUES $coefValues),
       |hs AS (SELECT doc_id, coefs.i AS i,
       |         MIN((coefs.a * x1 + coefs.b * x2 + coefs.i) % $minHashPrime) AS mh
       |       FROM shx CROSS JOIN coefs GROUP BY doc_id, coefs.i),
       |sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, bb.b AS band_idx,
       |    md5(array_to_string(list_slice(sig, bb.b*$rows+1, bb.b*$rows+$rows), ',')) AS band_key
       |  FROM sig CROSS JOIN range($bands) AS bb(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM banded a JOIN banded b USING (band_idx, band_key)
       |         WHERE a.doc_id < b.doc_id),
       |j AS (SELECT a_id, b_id,
       |        CAST(len(list_filter(range(1, $numHashes + 1),
       |          i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes AS est_jaccard
       |      FROM cand JOIN sig sa ON sa.doc_id = a_id
       |        JOIN sig sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, est_jaccard FROM j WHERE est_jaccard >= $threshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** SimHash near-dup: 64-bit signature from the top 64 bits of each
    * token's md5 (per-bit majority vote), candidates from 4×16-bit band
    * collisions, kept when hamming distance ≤ maxHamming. Pure
    * expression pipeline — no UDFs; md5 makes it oracle-checkable
    * ([[simHashOracleSql]]). The signature is kept as a 64-element bit
    * ARRAY (not a packed i64): band keys become 16-char bit strings and
    * the oracle never has to build a value that overflows DuckDB's
    * checked BIGINT arithmetic at bit 63.
    *
    * ADJUDICATED (round 5): the ~3.5-4 s warm time at sf0.1 is the
    * md5-per-token stream plus fixed multi-stage overhead on a 5k-doc
    * corpus, not plan shape — probed alternatives (per-doc token
    * pre-dedup, long-format votes, broadcast verify, 8-vs-32 shuffle
    * partitions) all measured within host noise or strictly worse. The
    * md5 cost is the accepted price of a bit-exact DuckDB oracle; the
    * wide 64-column vote agg itself measures ~0.4 s warm. */
  def simHashPairs(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    // Per-bit majority vote as 64 flat codegen'd agg columns over the
    // exploded token stream (the nested-HOF formulation runs
    // interpreted — see minHashLsh). Map-side combine means one
    // 64-counter row per doc reaches the shuffle. Bit b of the 64-bit
    // value of md5's first 16 hex chars: hex digit 16-b/4, bit b%4.
    // deliberately NO per-doc token pre-dedup: a groupBy(doc_id, tok)
    // would shuffle the whole token stream, while the single
    // groupBy(doc_id) below reduces map-side to one 64-counter row per
    // doc per partition — far fewer shuffled bytes at corpus scale (the
    // md5-per-occurrence CPU cost it saves measured within noise)
    val tokenRows = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok").cast("binary")).as("h"))
    // hex digit via ascii arithmetic, NOT conv(): conv radix-parses a
    // fresh string per call, and with 64 bit extractions over every
    // token row it dominated the query (measured 3.7 s warm at sf0.1;
    // ascii+substring stays in codegen at a fraction of the cost)
    def hexDigit(pos: Int): Column = {
      val a = ascii(substring(col("h"), pos, 1))
      when(a >= 97, a - 87).otherwise(a - 48)
    }
    val bitCols = (0 until 64).map { b =>
      shiftright(hexDigit(16 - b / 4), b % 4)
        .bitwiseAND(lit(1)).as(s"bit$b")
    }
    val voteCols = (0 until 64).map { b =>
      sum(when(col(s"bit$b") === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val sigs = tokenRows
      .select(col("doc_id") +: bitCols: _*)
      .groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        array((0 until 64).map(b =>
          when(col(s"v$b") > 0, lit(1)).otherwise(lit(0))): _*).as("bits"))
      // one bit-vector row per doc, referenced from both self-join
      // sides — materialize once (same rationale as minHashLsh)
      .graftCheckpoint()
    val bandKeyCols = (0 until 4).map { bb =>
      concat_ws("", slice(col("bits"), bb * 16 + 1, 16).cast("array<string>"))
    }
    // the 64-element bit arrays stay OUT of the band join and its
    // dedup: the banded shuffle moves only (id, band) pairs and
    // candidates dedup on the two id columns alone (cheap hash keys,
    // fewer shuffled bytes than carrying both arrays through), then the
    // signature table joins back for the hamming verify. The sig table
    // is corpus-doc-sized, so it is deliberately NOT hinted broadcast —
    // AQE picks broadcast when the corpus is small and shuffle when it
    // isn't
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandKeyCols: _*)).as(Seq("band_idx", "band_key")))
    val cand = banded.select(col("doc_id").as("a_id"), col("band_idx"), col("band_key"))
      .join(banded.select(col("doc_id").as("b_id"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(sigs.select(col("doc_id").as("a_id"), col("bits").as("a_bits")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("bits").as("b_bits")), "b_id")
      .withColumn("hamming",
        aggregate(zip_with(col("a_bits"), col("b_bits"),
          (x, y) => when(x =!= y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  /** DuckDB rendering of [[simHashPairs]]. */
  def simHashOracleSql(maxHamming: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, rb.b AS b,
       |    ((strpos('0123456789abcdef', substring(h, CAST(16 - rb.b // 4 AS INT), 1)) - 1)
       |      >> (rb.b % 4)) & 1 AS bitv
       |  FROM th CROSS JOIN range(64) AS rb(b)),
       |votes AS (
       |  SELECT doc_id, b, SUM(CASE WHEN bitv = 1 THEN 1 ELSE -1 END) AS v
       |  FROM bits GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bs
       |  FROM votes GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, bb.b AS band_idx,
       |    substring(bs, CAST(bb.b * 16 + 1 AS INT), 16) AS band_key, bs
       |  FROM sig CROSS JOIN range(4) AS bb(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.bs AS a_bs, b.bs AS b_bs
       |  FROM banded a JOIN banded b USING (band_idx, band_key)
       |  WHERE a.doc_id < b.doc_id),
       |ham AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_filter(range(1, 65),
       |      i -> substring(a_bs, CAST(i AS INT), 1) <> substring(b_bs, CAST(i AS INT), 1)))
       |      AS BIGINT) AS hamming
       |  FROM cand)
       |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= $maxHamming
       |ORDER BY a_id, b_id""".stripMargin

  /** q104: EMBEDDING AGGREGATE STATS — per (label, dimension): vector
    * count and the exact sum/mean of the dimension, carried as
    * FIXED-POINT integers (⌊v·10⁷⌋ per element). The float→integer
    * quantization happens per element BEFORE any aggregation, so the
    * sums are order-independent BIGINTs and the oracle matches
    * bit-for-bit — the same exactness discipline as the integer
    * PageRank (a raw float mean is accumulation-order-dependent and
    * can't be hash-gated). This is the per-class centroid/drift report
    * an embedding pipeline runs after (re)ingest: mean shift per class,
    * dimension health, class balance.
    *
    * Scale shape: posexplode is map-side; ONE (label, dim) shuffle with
    * map-side partial sums; output is classes × dims regardless of
    * corpus size. Quantization bias is a deterministic ≤ 1e-7 per
    * element — negligible for drift reporting and the price of an
    * auditable exact answer. */
  def embeddingStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label").cast("bigint").as("label"),
        posexplode(col("embedding")))
      .toDF("label", "dim", "v")
      .select(col("label"), col("dim").cast("bigint").as("dim"),
        floor(col("v").cast("double") * 1e7).cast("long").as("q"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sum_q"))
      // FLOOR division via exact doubles (|sum_q| < 2^53), NOT `div`:
      // Spark div truncates toward zero where DuckDB // floors — they
      // disagree on the negative sums half the dimensions produce
      .withColumn("mean_q",
        floor(col("sum_q").cast("double") / col("n")).cast("long"))
      .orderBy("label", "dim")

  /** DuckDB rendering of [[embeddingStats]]. */
  def embeddingStatsOracleSql(): String =
    """WITH ex AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e7) AS BIGINT) AS q
      |  FROM embeddings)
      |SELECT label, dim, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS sum_q,
      |  CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_q
      |FROM ex GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin
}
