package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Cache lifecycle for plan-builder persists.
  *
  * Operators like `Dedup.jaccardPairs` return LAZY DataFrames whose plans
  * reference an intermediate evaluated more than once downstream (a bucket
  * table, a normalized corpus). Those intermediates are persisted
  * MEMORY_AND_DISK (see `memo`), but a plain `persist()` has two lifecycle
  * problems in a long-lived session:
  *
  *  1. building the same operator twice over the same input re-registers the
  *     identical plan with the CacheManager ("Asked to cache already cached
  *     data" warnings, e.g. a benchmark running a query for two reps);
  *  2. the entries accrete forever — the caller got a lazy plan back, so the
  *     builder itself can never safely unpersist.
  *
  * `memo` fixes (1): persist only if the (normalized) plan has no existing
  * CacheManager entry, so repeat builds silently share the first entry.
  * `release`/`releaseAll` fix (2): every memoized frame is tracked per
  * session, and a caller done with graft operators (or a test harness
  * between suites) drops them all in one call. Releasing is always safe —
  * a still-running plan recomputes a released entry.
  */
object PlanCache {

  private[graft] val tracked =
    mutable.Map.empty[SparkSession, mutable.ArrayBuffer[DataFrame]]

  /** Persist MEMORY_AND_DISK unless this exact (canonicalized) plan is
    * already cached; track the frame for `releaseAll`. Memory-and-disk,
    * not memory-only: the memoized frames are shuffle-heavy builds
    * (postings, index tables, codebooks) whose recompute costs a full
    * shuffle, and under storage pressure — a long query sweep, or a
    * 100 TB executor where the storage pool is a fraction of the working
    * set — MEMORY_ONLY eviction silently discards them (r9's bench showed
    * exactly that: the two shingle-postings consumers re-paid their build
    * on every sweep once 180 queries of cache churn evicted the blocks;
    * a local disk read is the cheap path back). Entries whose
    * SparkContext has stopped are swept on every call (bounding this
    * process-wide map across application restarts in one JVM); sessions
    * sharing a LIVE context have no public closed-flag, so per-session
    * churn should call `releaseAll(session)` on close. */
  def memo(df: DataFrame): DataFrame = synchronized {
    tracked.filterInPlace((s, _) => !s.sparkContext.isStopped)
    if (!GraftSqlBridge.isCached(df)) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked.getOrElseUpdate(df.sparkSession, mutable.ArrayBuffer.empty) += df
    }
    df
  }

  /** Unpersist every plan-builder cache entry this session accreted.
    * Non-blocking; a released entry recomputes if still referenced. */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    tracked.remove(spark).foreach(_.foreach(_.unpersist(blocking = false)))
  }
}
