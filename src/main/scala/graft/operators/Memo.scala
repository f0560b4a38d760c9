package graft.operators

import java.io.FileNotFoundException
import java.util.concurrent.{CompletableFuture, ExecutionException}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side memo of immutable values built from a session: index-load
  * artifacts (a lazy DataFrame over a pinned snapshot, a collected
  * codebook) and fits (a trained index, a converged clustering, a BPE
  * merge trajectory). The key must pin the content: a load key embeds its
  * manifest text or [[Memo.dirStamp]], a fit key comes from [[fit]].
  * Memoized DataFrames are lazy plans; their data is re-read on every
  * execution.
  *
  * Keys are `(session, key)` and every key starts with a kind prefix
  * (`"cellstore|"`, `"ivf|"`, ...). Past `cap` entries the oldest entry
  * is evicted first; entries whose SparkContext has stopped are swept on
  * every call. Each key has its own latch: a build runs outside the map
  * lock, concurrent callers of one key wait for its single build, and
  * different keys build in parallel. A build that throws caches nothing
  * and rethrows to every caller waiting on it. */
final class Memo(cap: Int) {
  require(cap >= 1, s"cap must be >= 1: $cap")

  private val entries =
    mutable.LinkedHashMap.empty[(SparkSession, String), CompletableFuture[Any]]

  def apply[T](spark: SparkSession, key: String)(build: => T): T = {
    val k = (spark, key)
    val (slot, owner) = synchronized {
      entries.filterInPlace((e, _) => !e._1.sparkContext.isStopped)
      entries.get(k) match {
        case Some(s) => (s, false)
        case None =>
          if (entries.size >= cap) entries.remove(entries.head._1)
          val s = new CompletableFuture[Any]
          entries.update(k, s)
          (s, true)
      }
    }
    if (owner) {
      try slot.complete(build)
      catch {
        case t: Throwable =>
          synchronized { if (entries.get(k).contains(slot)) entries.remove(k) }
          slot.completeExceptionally(t)
          throw t
      }
    }
    try slot.get().asInstanceOf[T]
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** Memoize a fit over `df`. What identifies the input is the sorted
    * `inputFiles` plus the canonicalized analyzed plan: the plan alone
    * elides scan locations (two parquet paths canonicalize identically),
    * and new data at one path lands as new part files. A frame with no
    * input files (an in-memory relation) bypasses the memo and always
    * builds, since its canonicalized plan does not carry its rows. The key
    * is `params` (which starts with the fit's kind) plus the SHA-256 of
    * that input identity. */
  def fit[T](df: DataFrame, params: String)(build: => T): T = {
    val files = df.inputFiles.sorted
    if (files.isEmpty) build
    else {
      val material = files.mkString(",") + "\u0000" +
        df.queryExecution.analyzed.canonicalized.toString
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(material.getBytes("UTF-8")).map("%02x".format(_)).mkString
      apply(df.sparkSession, s"$params|$sha")(build)
    }
  }

  private[graft] def size: Int = synchronized(entries.size)
}

object Memo {

  /** Index-load artifacts and base-table reads: cell-store snapshots,
    * generation centroid/codebook tables, flat SQ/BQ tables, epoch
    * states, fixture tables. Spark caches file listings only for catalog
    * tables, so without this every probe batch re-lists, re-infers the
    * schema of and re-collects content that cannot have changed; freshness
    * still costs the one manifest read or listing that builds the key. A
    * cold Verify run at sf0.01 sends it 125 distinct keys; an evicted load
    * is read again. */
  val loads = new Memo(cap = 256)

  /** Cap of each fit memo. A cold Verify run at sf0.01 sends the busiest
    * one (`detKMeans`) 6 distinct keys; an evicted fit is refit. */
  val FitCap = 16

  /** Content stamp of a plain table dir — file names, lengths and mtimes,
    * one listing RPC; `"absent"` when the dir does not exist. For
    * artifacts with no manifest of their own (a generation's
    * centroid/codebook tables, a flat SQ/BQ code table) this is the memo
    * key's freshness bit: any rewrite of the dir changes it, so a stale
    * frame can never serve. */
  def dirStamp(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
    catch { case _: FileNotFoundException => "absent" }
  }
}
