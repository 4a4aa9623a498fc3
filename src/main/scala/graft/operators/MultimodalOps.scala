package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing for a training-data pipeline: media as
  * opaque `binary` columns with typed metadata, and the
  * decode / feature-extract / resize / frame-sample stages.
  *
  * Two decode tiers: formats the JDK's ImageIO reads natively
  * (PNG/BMP/GIF/JPEG) get REAL decode / perceptual-hash / resize
  * stages (bottom of this file, `Dataset.mapPartitions` imperative
  * per-row codec calls — MultimodalJvmSpec exercises them on generated
  * PNGs); codecs the JVM lacks (video, audio) keep DETERMINISTIC
  * STUBS (clearly marked below) whose md5-slice arithmetic makes the
  * whole plumbing DuckDB-oracle-checkable. On a cluster the stub body
  * is replaced by the actual codec call; the plan is unchanged.
  *
  * Scale notes: media rows are kilobytes-to-megabytes; the pipeline
  * keeps bytes in a single column, never in the shuffle key, and all
  * derived features are computed map-side (zero shuffle until an
  * explicit aggregation).
  */
object MultimodalOps {

  /** Synthesizes a deterministic media table from `documents` (the
    * text bytes stand in for encoded media payloads). */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("bytes"),
      map(lit("source"), col("source"), lit("n_bytes"),
        col("n_chars").cast("string")).as("meta"))

  /** 32-bit integer from 8 hex chars of the payload md5 (offset is
    * 1-based). One md5 per row feeds every derived fake — and because
    * the slices are plain hex arithmetic, DuckDB reproduces them
    * bit-for-bit (same trick as TextOps.stratifiedSample), which is
    * what lets the whole stubbed pipeline carry a full oracle. */
  private def mdSlice(bytes: Column, off: Int): Column =
    conv(substring(md5(bytes), off, 8), 16, 10).cast("bigint")

  /** STUB — decode(image bytes) → (width, height, channels).
    * A real deployment decodes via an image codec in a per-partition
    * batch; here dimensions are derived deterministically from the
    * payload md5 so the plumbing (schema, nullability, batch shape)
    * is exercised end-to-end AND the values are engine-portable. */
  def decodeImageStub(media: DataFrame): DataFrame =
    media.withColumn("width", (mdSlice(col("bytes"), 1) % 1920 + 32).cast("int"))
      .withColumn("height", (mdSlice(col("bytes"), 9) % 1080 + 32).cast("int"))
      .withColumn("channels", lit(3))

  /** STUB — resize to fit (maxW, maxH) preserving aspect ratio; the
    * arithmetic is real, only the pixel transform is absent. */
  def resizeStub(decoded: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(lit(maxW.toDouble) / col("width"),
      lit(maxH.toDouble) / col("height"), lit(1.0))
    decoded
      .withColumn("out_width", floor(col("width") * scale).cast("int"))
      .withColumn("out_height", floor(col("height") * scale).cast("int"))
  }

  /** STUB — sample up to `n` frame offsets, uniformly spaced over a
    * fake duration derived from the payload size. */
  def frameSampleStub(media: DataFrame, n: Int = 8): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("duration_ms", (length(col("bytes")) * 40).cast("long"))
      .withColumn("frame_offsets_ms",
        transform(sequence(lit(0), lit(n - 1)),
          i => (i * col("duration_ms") / n).cast("long")))

  /** Per-element integer level of the fake embedding: one 32-bit md5
    * slice affinely spread per dimension (the q26 one-digest trick),
    * k_i ∈ [0, 2000). The float embedding is k_i/1000 − 1. */
  private def featLevel(h: Column, i: Column): Column =
    (h * (i * 2 + 1) + i * 7919) % 2000

  /** STUB — feature extraction: bytes → dense Array[Float] embedding.
    * Deterministic md5-projection stands in for a model forward pass;
    * the output schema/partitioning is what a real encoder returns. */
  def featureExtractStub(media: DataFrame, dim: Int = 64): DataFrame =
    media.withColumn("__h", mdSlice(col("bytes"), 17))
      .withColumn("embedding",
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => (featLevel(col("__h"), i).cast("double") / 1000.0 - 1.0)
            .cast("float")))
      .drop("__h")

  /** Full pipeline query: media → decode → resize → features, grouped
    * stats per kind. Every aggregate is an exact integer (dimensions
    * from md5 slices, norms over scaled integer levels), so the paired
    * DuckDB oracle matches bit-for-bit — the decode/encode bodies stay
    * stubs, but the entire Spark plumbing around them is oracle-gated. */
  def pipelineSummary(s: SparkSession, d: String): DataFrame = {
    val media = mediaTable(s, d)
    // one pass: dims, resize, and norm are all per-row functions of the
    // payload md5, so the whole query is map-only until the final
    // groupBy — no self-join, one md5 per row
    resizeStub(decodeImageStub(media), 512, 512)
      .withColumn("__h", mdSlice(col("bytes"), 17))
      .select(col("kind"), col("out_width"), col("out_height"),
        aggregate(sequence(lit(0L), lit(63L)), lit(0L),
          (acc, i) => acc +
            (featLevel(col("__h"), i) - 1000L) * (featLevel(col("__h"), i) - 1000L))
          .as("norm_sq_scaled"))
      .groupBy("kind")
      .agg(count(lit(1)).as("cnt"),
        sum(col("out_width")).as("sum_w"),
        sum(col("out_height")).as("sum_h"),
        sum(col("norm_sq_scaled")).as("sum_norm_sq"))
      .orderBy("kind")
  }

  /** DuckDB rendering of [[pipelineSummary]] — the md5-hex slices are
    * recovered with the strpos polynomial; resize runs the identical
    * IEEE-double least/floor arithmetic. */
  def pipelineOracleSql(dim: Int = 64): String = {
    def hexPoly(off: Int): String = OracleSql.hexPoly("h", off, 8)
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
       |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    md5(text) AS h
       |  FROM documents),
       |dims AS (
       |  SELECT media_id, kind,
       |    (${hexPoly(1)}) % 1920 + 32 AS width,
       |    (${hexPoly(9)}) % 1080 + 32 AS height,
       |    (${hexPoly(17)}) AS h3
       |  FROM m),
       |resized AS (
       |  SELECT media_id, kind, h3,
       |    CAST(floor(width * least(512.0 / width, 512.0 / height, 1.0)) AS INT)
       |      AS out_width,
       |    CAST(floor(height * least(512.0 / width, 512.0 / height, 1.0)) AS INT)
       |      AS out_height
       |  FROM dims),
       |lv AS (
       |  SELECT media_id, h3, unnest(range(0, $dim)) AS i FROM dims),
       |norms AS (
       |  SELECT media_id,
       |    SUM(((h3 * (i * 2 + 1) + i * 7919) % 2000 - 1000)
       |      * ((h3 * (i * 2 + 1) + i * 7919) % 2000 - 1000)) AS norm_sq_scaled
       |  FROM lv GROUP BY media_id)
       |SELECT kind, COUNT(*) AS cnt,
       |  CAST(SUM(out_width) AS BIGINT) AS sum_w,
       |  CAST(SUM(out_height) AS BIGINT) AS sum_h,
       |  CAST(SUM(norm_sq_scaled) AS BIGINT) AS sum_norm_sq
       |FROM resized JOIN norms USING (media_id)
       |GROUP BY kind ORDER BY kind""".stripMargin
  }

  // ------------------------------------------------------------------
  // REAL JVM codec stages. The JDK ships ImageIO (PNG/BMP/GIF/JPEG
  // readers) with zero extra dependencies, so for those formats the
  // decode stage does not need to be a stub. Exotic codecs (video,
  // audio, JPEG2000, ...) remain stubbed above. All three stages are
  // per-partition imperative logic over the bytes column — the one
  // place `Dataset.mapPartitions` is the right tool (a codec call per
  // row, no expression-tree equivalent) — and keep the bytes out of
  // every shuffle key.

  case class DecodedImage(media_id: Long, ok: Boolean, width: Int,
      height: Int, channels: Int, mean_luma: Double)

  /** Real decode: bytes → dimensions / channel count / mean luma
    * (ITU-R BT.601 integer weights, order-independent sum). Rows
    * ImageIO cannot decode come back with ok=false and zeroed fields
    * instead of killing the job — the per-row error containment a
    * 100 TB media crawl needs. */
  def decodeImage(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: Exception => null }
        if (img == null) DecodedImage(id, ok = false, 0, 0, 0, 0.0)
        else {
          val w = img.getWidth
          val h = img.getHeight
          var lumaMilli = 0L // integer milli-luma: summation order drops out
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              lumaMilli += ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
                (rgb & 0xff) * 114)
              x += 1
            }
            y += 1
          }
          DecodedImage(id, ok = true, w, h, img.getColorModel.getNumComponents,
            lumaMilli / 1000.0 / (w.toLong * h))
        }
      }).toDF()
  }

  /** Real perceptual fingerprint: 8×8 average-pool aHash — resample to
    * an 8×8 grayscale grid, then one bit per cell (above/below the
    * grid mean), packed into a BIGINT. Identical pixels → identical
    * hash; small edits flip few bits, so the existing hamming-band
    * join (SimilarityOps.simHashPairs' shape) turns this into image
    * near-dup dedup with no new shuffle machinery. Undecodable rows
    * are dropped (they carry no visual content to fingerprint). */
  def imageAHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: Exception => null }
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          // average-pool into 8x8 integer milli-luma cells (box filter
          // over each cell's pixel block; deterministic integer sums)
          val cells = new Array[Long](64)
          val counts = new Array[Long](64)
          var y = 0
          while (y < h) {
            val cy = math.min(y * 8 / h, 7)
            var x = 0
            while (x < w) {
              val cx = math.min(x * 8 / w, 7)
              val rgb = img.getRGB(x, y)
              cells(cy * 8 + cx) += ((rgb >> 16 & 0xff) * 299 +
                (rgb >> 8 & 0xff) * 587 + (rgb & 0xff) * 114)
              counts(cy * 8 + cx) += 1
              x += 1
            }
            y += 1
          }
          var i = 0
          while (i < 64) { cells(i) = cells(i) / math.max(counts(i), 1L); i += 1 }
          val mean = cells.sum / 64
          var hash = 0L
          i = 0
          while (i < 64) { if (cells(i) > mean) hash |= (1L << i); i += 1 }
          Some((id, hash))
        }
      }).toDF("media_id", "ahash")
  }

  /** Real resize: scale to fit (maxW, maxH) preserving aspect ratio
    * (never upscale), re-encode as PNG. Output schema matches the
    * input media table so stages compose. Undecodable rows pass
    * through unchanged (resize is best-effort enrichment). */
  def resizeImages(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: Exception => null }
        if (img == null) (id, bytes, false)
        else {
          val scale = math.min(1.0,
            math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
          if (scale >= 1.0) (id, bytes, true)
          else {
            val ow = math.max(1, math.floor(img.getWidth * scale).toInt)
            val oh = math.max(1, math.floor(img.getHeight * scale).toInt)
            val out = new java.awt.image.BufferedImage(ow, oh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, ow, oh, null)
            } finally g.dispose()
            val buf = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", buf)
            (id, buf.toByteArray, true)
          }
        }
      }).toDF("media_id", "bytes", "decoded")
  }
}
