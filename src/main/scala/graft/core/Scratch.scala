package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Per-query scratch-persist registry (round-15 bench honesty fix).
  *
  * Queries persist multi-consumer intermediates (postings grids,
  * signature frames, shortlists) that are built INSIDE the timed query
  * and are meaningless outside it. Before this round they were never
  * unpersisted, which had two bad effects:
  *
  *   1. a long-lived session serving every declared query retained all
  *      of those caches forever (memory held hostage at 100 TB scale);
  *   2. the bench's min-of-N fold partially timed CACHE READS on the
  *      second pass — the CacheManager substitutes a cached relation
  *      into any later plan with a canonically-equal subtree, so
  *      pass 2 of q_ssjoin read pass 1's postings instead of computing
  *      them.
  *
  * The fix: query code registers every per-query persist here
  * ([[persist]]), and whoever runs the queries (`graft.Verify`,
  * `perfbench`, the test harnesses) calls [[release]] after
  * consuming each query's result, so every timed pass computes
  * its scratch from the parquet inputs and nothing leaks. Tracking is
  * thread-local: concurrent sessions (ConcurrencyHarness) release only
  * their own thread's scratch.
  *
  * The SHARED stores (shingle store, label stores, edge store, IVF
  * artifacts) deliberately do NOT go through here: they outlive a
  * query and live in the store cache, [[Memo]].
  */
object Scratch {
  private val tracked = new ThreadLocal[scala.collection.mutable.ArrayBuffer[Dataset[_]]] {
    override def initialValue(): scala.collection.mutable.ArrayBuffer[Dataset[_]] =
      scala.collection.mutable.ArrayBuffer.empty
  }

  /** Persist `ds` and register it for release at query exit. A plan
    * that is cached already belongs to whoever cached it (a [[Memo]]
    * store): it is read, not registered, since releasing it would drop
    * that store's cache. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) tracked.get += ds
    ds.persist()
  }

  /** Unpersist every scratch frame registered on this thread since the
    * last release. Safe to call with in-flight consumers on other
    * threads (worst case: recompute); never throws. */
  def release(): Unit = {
    val buf = tracked.get
    buf.foreach { d =>
      try d.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
    buf.clear()
  }
}
