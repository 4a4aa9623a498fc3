package graft.core

/** Bounded LRU cache for what a session keeps across queries: the
  * bucketed and partitioned table copies [[graft.operators.BucketedOps]]
  * writes at ingest, and the IVF centroids
  * [[graft.operators.SimilarityOps]] trains on a sample. Query results
  * and the frames a query derives (graphs, pair tables) are not kept:
  * each query builds them within its call, so they follow the tables on
  * disk.
  *
  * Why bounded: a long-lived daemon (graft.Serve) touching many
  * datasets/param combos would otherwise keep every entry for the life
  * of the JVM. (Table schemas are not cached here: [[graft.Tables]]
  * keeps them keyed by each file's status, so they follow the files by
  * themselves.) Eviction (LRU, past `maxEntries`) and explicit
  * invalidation run the cache's `release` hook, which for the table
  * copies drops their catalog entries and deletes their directories.
  *
  * Every instance self-registers so [[BoundedCache.invalidateAll]] can
  * flush the whole family in one call — the dataset-refresh hook for
  * long-running serving processes.
  */
final class BoundedCache[K, V](maxEntries: Int = BoundedCache.DefaultMaxEntries,
    release: V => Unit = (_: V) => ()) {

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (this.size() > maxEntries) { BoundedCache.quiet(release(e.getValue)); true }
      else false
  }
  BoundedCache.register(this)

  /** Get-or-build under the cache lock: the build runs at most once per
    * key (a concurrent duplicate table copy or KMeans fit is costlier
    * than brief lock convoying on the handful of callers). */
  def getOrElseUpdate(k: K)(mk: => V): V = synchronized {
    val got = m.get(k)
    if (got != null) got
    else { val v = mk; m.put(k, v); v }
  }

  /** Drop (and release) every entry whose key matches. */
  def invalidateWhere(p: K => Boolean): Unit = synchronized {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { BoundedCache.quiet(release(e.getValue)); it.remove() }
    }
  }

  def clear(): Unit = invalidateWhere(_ => true)

  def size: Int = synchronized(m.size())
}

object BoundedCache {
  /** A handful of datasets/param combos — enough for every test and the
    * bench's single dataset, small enough that a daemon cycling through
    * datasets releases old entries instead of accumulating them. */
  val DefaultMaxEntries = 8

  private val all = scala.collection.mutable.ArrayBuffer.empty[BoundedCache[_, _]]
  private def register(c: BoundedCache[_, _]): Unit =
    all.synchronized { all += c }

  /** Flush every registered cache (dataset-refresh / shutdown hook). */
  def invalidateAll(): Unit =
    all.synchronized(all.toList).foreach(_.clear())

  private[core] def quiet(f: => Unit): Unit =
    try f catch { case _: Throwable => () }
}
