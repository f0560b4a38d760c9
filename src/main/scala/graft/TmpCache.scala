package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one build-once protocol for the tmp-dir stores (JSONL fixtures,
  * streamed states, persisted ANN indexes) that the declared queries build
  * once per source stamp and then only read: [[ensure]].
  *
  * Three hazards it closes:
  *
  *  1. STALE SOURCE — a store is keyed by the (length, mtime) stamp of
  *     every source file it is built from, so a regenerated testdata dir
  *     gets a fresh store. A stat failure is LOUD ([[stamp]]): a silent
  *     fallback stamp would let the ready marker keep serving a store
  *     built from since-regenerated bytes.
  *
  *  2. KEY COLLISION — [[dirKey]] keys by the first 16 hex chars of
  *     SHA-256 (64 bits), not a 32-bit `String.hashCode`, whose
  *     birthday-rate collisions would let a marker serve the WRONG store
  *     with no error anywhere.
  *
  *  3. CONCURRENT BUILD — two JVMs that both miss the marker (Smoke and
  *     Verify share several stores) would build into the same dir at once.
  *     [[withBuildLock]] serializes builders per store with an OS-level
  *     `FileLock` on a SIBLING lock file; a file lock is released by the
  *     OS when its holder dies, so a crashed builder never wedges the next
  *     one, and the next build starts from a wiped dir, so nothing a
  *     crashed attempt left can leak into it.
  *
  * All these stores live under `java.io.tmpdir` (local filesystem) by
  * construction — `FileLock` semantics are only assumed there.
  */
object TmpCache {

  /** The marker a completed build leaves in its store's base dir. */
  val ReadyMarker = "_READY"

  /** Bump whenever a store's layout or a builder's semantics change (an
    * epoch-partials maintainer's partial schema, an index codec's files):
    * every dir key carries it, so a bump invalidates every cached store
    * instead of a ready marker serving what the OLD code wrote. */
  private val FormatVersion = "v5"

  /** 64-bit collision-resistant directory-name key for a cache-key string. */
  private def dirKey(key: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** (length, mtime) of a source file; a failed stat throws. The read path
    * needs the file anyway, so failing here loses nothing and can never
    * serve a stale store. */
  private def stamp(spark: SparkSession, source: String): String = {
    val sp = new Path(source)
    val st = try {
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(sp)
    } catch {
      case e: Exception => throw new IllegalStateException(
        s"cannot stat $sp to stamp a cached store — " +
          "refusing to risk serving a stale cache", e)
    }
    s"${st.getLen}-${st.getModificationTime}"
  }

  /** The base dir of store `name`: `name` keeps it readable, uniqueness
    * comes from the digest of the sources, their stamps, `key` (every
    * parameter that changes the store's content) and the format version. */
  def dir(spark: SparkSession, name: String, key: String,
          sources: Seq[String]): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$name-" + dirKey(
      (sources.map(p => s"$p|${stamp(spark, p)}") :+ key :+ FormatVersion)
        .mkString("|"))

  /** Build store `name` once and return its base dir. `build` gets the base
    * dir, wiped first, and lays the store out inside it; the marker is
    * written beside what it built only once `build` returns. Double-checked
    * under [[withBuildLock]]: the winner builds, waiters see the marker. */
  def ensure(spark: SparkSession, name: String, key: String,
             sources: Seq[String])(build: String => Unit): String = {
    val base = dir(spark, name, key, sources)
    val basePath = new Path(base)
    val fs: FileSystem =
      basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(basePath, ReadyMarker)
    if (!fs.exists(marker)) withBuildLock(base) {
      if (!fs.exists(marker)) {
        fs.delete(basePath, true)
        build(base)
        fs.create(marker, true).close()
      }
    }
    base
  }

  // FileLock is per-JVM-per-file: a second lock attempt from the SAME JVM
  // throws OverlappingFileLockException instead of blocking, so in-process
  // callers (parallel spec suites) serialize on a per-path monitor first.
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding an exclusive cross-process lock for `baseDir`, on
    * a lock file beside it (the build wipes the dir itself). */
  private def withBuildLock[A](baseDir: String)(body: => A): A = {
    val monitor = jvmLocks.computeIfAbsent(baseDir, _ => new Object)
    monitor.synchronized {
      val lockPath = java.nio.file.Paths.get(baseDir + ".lock")
      Option(lockPath.getParent)
        .foreach(p => java.nio.file.Files.createDirectories(p))
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }
}
