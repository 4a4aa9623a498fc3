package graft.core

import org.apache.spark.internal.Logging
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lineage-cutting materialization for iterative chains and shared
  * frames, with a durability escape hatch.
  *
  * Default behavior is `localCheckpoint(eager = true)`: blocks are
  * stored on executors — fast, no distributed filesystem needed, the
  * right call for local mode and short-lived jobs. Its known weakness
  * at cluster scale is that the blocks die with their executor, and
  * because the lineage was truncated there is nothing to replay from:
  * the job FAILS outright with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
  * (measured r13: kill -9 one executor of local-cluster[2] mid-sweep
  * → q53 fails in this mode; identical kill with durable mode on →
  * bit-identical result, see BASELINE.md).
  *
  * Setting `spark.graft.durableCheckpoint=<dir>` swaps every call site
  * to a RELIABLE `checkpoint(eager = true)` under `<dir>` (any
  * Hadoop-visible path: HDFS, S3A, local). State then survives executor
  * loss at the cost of one write to durable storage per
  * materialization — the compute-side analog of the reference's
  * persist-to-disk durability story (persist.rs). Long-lived services
  * (`graft.Serve`) on real clusters should set it; batch runs on
  * local[n] should not.
  *
  * File lifecycle: Spark deletes reliable-checkpoint files only when
  * the context was BUILT with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the
  * ContextCleaner then removes a checkpoint's files when its RDD is
  * GC'd). Without it every iterative sweep leaves an rdd-N directory
  * behind forever and the durable store grows monotonically — the
  * session builders that front long-lived use (`graft.Serve`,
  * `graft.Shell`) set it at build time, and [[frame]] warns once per
  * context if it finds the flag off while durable mode is on.
  */
object Materialize extends Logging {

  /** Context-BUILD-time conf every long-lived graft session applies
    * (`graft.Serve`, `graft.Shell`): without the cleaner flag, durable
    * mode leaks one rdd-N checkpoint directory per materialization
    * forever (see the file-lifecycle note above). One shared constant
    * so the two builders cannot drift apart — pinned by a spec. */
  val longLivedSessionConf: Map[String, String] =
    Map("spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  /** The (applicationId, dir) last applied to the SparkContext, so a
    * conf change mid-session re-points the context exactly once (Spark
    * appends a UUID subdir, so the raw conf value can't be compared
    * against `sc.getCheckpointDir`). Keyed by applicationId: a new
    * context in the same JVM must get its own setCheckpointDir call,
    * or checkpoint(eager) would throw "checkpoint directory has not
    * been set". */
  @volatile private var appliedDir: Option[(String, String)] = None

  /** Materialize `ds` eagerly and cut its lineage; durable iff
    * `spark.graft.durableCheckpoint` is set to a non-empty dir. */
  def frame[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.getOption("spark.graft.durableCheckpoint")
      .filter(_.nonEmpty) match {
      case Some(dir) =>
        val key = (spark.sparkContext.applicationId, dir)
        if (!appliedDir.contains(key)) synchronized {
          if (!appliedDir.contains(key)) {
            spark.sparkContext.setCheckpointDir(dir)
            if (!spark.sparkContext.getConf.getBoolean(
                "spark.cleaner.referenceTracking.cleanCheckpoints", false))
              logWarning("spark.graft.durableCheckpoint is on but the " +
                "context was built without spark.cleaner.referenceTracking" +
                ".cleanCheckpoints=true — checkpoint files under " + dir +
                " will never be deleted and the store will grow without " +
                "bound; set the cleaner flag when building the session")
            appliedDir = Some(key)
          }
        }
        // RDD.checkpoint's documented caveat: the reliable write job
        // re-executes the plan from scratch unless its blocks are
        // cached, which would compute every iterative sweep twice.
        // Persist first so the eager count populates the cache and the
        // write job reads blocks; the cache is dropped right after —
        // the durable files carry the state from here on.
        val persisted = ds.persist(StorageLevel.MEMORY_AND_DISK)
        try persisted.checkpoint(eager = true)
        finally persisted.unpersist(blocking = false)
      case None => ds.localCheckpoint(eager = true)
    }
  }

  /** `.graftCheckpoint()` — call-site sugar for [[Materialize.frame]]. */
  implicit final class GraftMaterializeOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def graftCheckpoint(): Dataset[T] = Materialize.frame(ds)
  }
}
