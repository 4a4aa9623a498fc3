package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). One parquet file per table under the sf dir.
  *
  * All readers go through `spark.read.parquet` so Catalyst gets
  * predicate pushdown + column pruning into the scan for free; at
  * cluster scale the same call reads a partitioned directory tree and
  * prunes partitions.
  *
  * A table's schema is inferred once per session: without one, every
  * `spark.read.parquet` runs a Spark job that reads parquet footers.
  * The memo is keyed by the session (inference reads its conf, e.g.
  * `nanosAsLong`) and the table's qualified path. It holds only the
  * `StructType` and the path's `FileStatus` modification time and
  * length; a table rewritten in place changes those and is inferred
  * again. Spark still lists and scans the files on every read, so
  * appended files and new rows are seen. So it is not a
  * [[graft.core.BoundedCache]], and `invalidateAll` leaves it: those
  * caches hold computed artifacts, which go stale; a schema that
  * follows the files' status does not.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private final case class Inferred(mtime: Long, length: Long, schema: StructType)

  /** session -> qualified path -> schema; weak on the session so a
    * stopped session's entries go with it. */
  private val inferred =
    new java.util.WeakHashMap[SparkSession, java.util.Map[String, Inferred]]()

  /** The schema `spark.read.parquet(path)` infers, inferred at most
    * once per session while the path's status is unchanged. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p)
    val key = fs.makeQualified(p).toString
    val bySession = inferred.synchronized {
      inferred.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
    }
    Option(bySession.get(key))
      .filter(e => e.mtime == status.getModificationTime && e.length == status.getLen)
      .getOrElse {
        // inferred outside any lock: a racing duplicate is harmless
        val e = Inferred(status.getModificationTime, status.getLen,
          spark.read.parquet(path).schema)
        bySession.put(key, e)
        e
      }.schema
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped at BOTH parquet timestamp widths across
    * testdata generations — TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects unless `nanosAsLong` maps it to raw LongType) and
    * TIMESTAMP(MICROS) (which reads as a native timestamp column). The
    * engine-wide convention is width-agnostic: expose `ts_ns` = epoch
    * NANOS as LongType regardless of what's on disk, so every consumer
    * (`ts_ns div 1000` → exact µs floor) is unchanged. Nanos are
    * monotonic, so ordering and window semantics are identical; render
    * wall-clock strings with `timestamp_micros(ts_ns div 1000)`.
    *
    * DELIBERATE session-wide side effect: `nanosAsLong` has no
    * per-read option and is consulted again at scan planning time, so
    * scoping-and-restoring it around this call would break the very
    * read it enables (the DataFrame is lazy). Consequence: any LATER
    * nanos-timestamp parquet read in the session also comes back as
    * LongType instead of erroring — acceptable here because ts_ns is
    * the engine-wide convention for nanos columns. It is set before the
    * read, so the schema memo's entry is always inferred under it. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    deriveTsNs(apply(s, d, "events"))
  }

  /** Normalize a `ts` column of ANY supported width to LongType epoch
    * nanos named `ts_ns`, in place (same column position). Row-pure,
    * codegen'd, timezone-independent:
    *  - LongType            → already raw nanos (NANOS data read under
    *    `nanosAsLong`): rename only.
    *  - TIMESTAMP_NTZ       → wall-clock µs since the epoch via
    *    `timestampdiff` against the NTZ epoch literal — pure datetime
    *    arithmetic, no session-timezone cast (a non-UTC session would
    *    shift a cast-based derivation).
    *  - TIMESTAMP           → `unix_micros` (an instant; tz-free).
    * Shared by the batch reader above and the streaming file source
    * ([[graft.streaming.StreamingOps.eventsStream]]) so batch/stream
    * parity holds by construction. */
  private[graft] def deriveTsNs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumnRenamed("ts", "ts_ns")
      case Some(TimestampNTZType) =>
        df.withColumn("ts", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000L"))
          .withColumnRenamed("ts", "ts_ns")
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
          .withColumnRenamed("ts", "ts_ns")
      case Some(other) =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported type $other (expected long nanos or a timestamp)")
      case None =>
        throw new IllegalArgumentException(
          s"events table has no `ts` column: ${df.schema.treeString}")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Format-agnostic reader: the same table from csv / json / orc /
    * parquet landings. CSV and JSON are schema-applied (never inferred
    * — inference is a full extra pass over the data and type-drifts on
    * partial reads at scale); ORC and parquet carry their own schema.
    * All four go through the DataSource scan node, so column pruning
    * and (orc/parquet) predicate pushdown apply unchanged. */
  def fromFormat(s: SparkSession, path: String, format: String,
      schema: org.apache.spark.sql.types.StructType = null): DataFrame = {
    val r = s.read.format(format)
    val withSchema = if (schema != null) r.schema(schema) else r
    format match {
      case "csv" =>
        require(schema != null, "csv requires an explicit schema")
        withSchema.option("header", "true").load(path)
      case "json" =>
        require(schema != null, "json requires an explicit schema")
        withSchema.load(path)
      case _ => withSchema.load(path)
    }
  }
}
