package graft.operators

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Generation-pointer serving shared by every on-disk versioned store:
  * the persisted ANN index family ([[Similarity]]), the streamed epoch
  * states ([[graft.streaming.Streams]]) and Engine's versioned index
  * table. A store ROOT holds numbered generation dirs plus a tiny pointer
  * file naming the serving one. Two name pairs exist on disk: `_GEN` +
  * `gen=N` (the [[GenDir]] object, used by the ANN and state stores) and
  * `_LATEST` + `v=N` (Engine's instance). Readers resolve the pointer once
  * per query and read only that generation; [[rewrite]] builds the NEXT
  * generation completely beside the serving one and then flips the
  * pointer — so a concurrent reader never sees a missing or
  * half-rewritten table, and a crashed build never touches the serving
  * copy (the partial next dir is cleared before the retry writes it, and
  * dropped by a later [[pruneGens]]).
  *
  * Pointer-flip protocol: the new value is staged to `<pointer>.tmp` and
  * renamed over the pointer with `FileContext` + `Options.Rename.OVERWRITE`
  * — atomic on HDFS-like stores. On stores whose overwrite-rename
  * degrades to delete-then-rename (RawLocalFileSystem, S3A), a reader can
  * land in the brief pointerless window — [[resolve]] closes it by
  * COMPLETING the flip from the staged `.tmp` (written fully before the
  * rename starts), and only then falling back to the highest existing
  * generation, never to a partially-built one masked by a missing
  * pointer in any of our protocols (every builder commits before
  * returning, so an uncommitted highest-gen can only be reached when the
  * pointer file was lost with no tmp — strictly better than failing on a
  * missing root table).
  *
  * Reader window: [[pruneGens]] keeps the serving generation plus the
  * predecessor stamped at commit time (`<pointer>_PREV`), so an in-flight
  * reader survives ONE concurrent rewrite; two back-to-back rewrites can
  * drop the generation a very old reader resolved (the keep=2 rule). */
private[graft] class GenDir(pointer: String, prefix: String) {
  import GenDir.{fsOf, readAtomicFile, readAtomicFileHealed, writeAtomicFile}

  private def readPointer(spark: SparkSession, path: String): Option[Int] =
    readAtomicFile(spark, path).flatMap(_.trim.toIntOption)

  private def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fsOf(spark, p).delete(p, true)
  }

  /** The committed serving generation, if a pointer file exists. */
  def currentGen(spark: SparkSession, root: String): Option[Int] =
    readPointer(spark, s"$root/$pointer")

  private def listing(spark: SparkSession, root: String): Seq[FileStatus] = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    if (!fs.exists(rootP)) Nil else fs.listStatus(rootP).toSeq
  }

  private def gensIn(statuses: Seq[FileStatus]): Seq[Int] =
    statuses.filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(_.getPath.getName.stripPrefix(prefix).toIntOption).sorted

  /** All existing generation dirs under `root`, ascending. */
  private def genDirs(spark: SparkSession, root: String): Seq[Int] =
    gensIn(listing(spark, root))

  /** The generation `root` currently serves: the pointed-to one; else a
    * flip completed from a stranded `<pointer>.tmp` (the
    * non-atomic-rename window); else the highest existing generation;
    * else None (a store never committed, or a legacy root whose own
    * content serves). */
  def servingGen(spark: SparkSession, root: String): Option[Int] =
    // the healed read covers the mid-flip window: pointer absent but its
    // fully-written .tmp stage present — complete the rename and serve
    // the staged generation
    readAtomicFileHealed(spark, s"$root/$pointer")
      .flatMap(_.trim.toIntOption).orElse {
        // no pointer, no staged flip: a LEGACY root (non-generation
        // content present) still serves itself — a generation dir beside
        // it can only be a crashed, never-committed first rewrite, and
        // must be ignored. Only a PURE-generation root (nothing but
        // generation dirs + pointer debris, i.e. the pointer file was
        // lost outright) falls back to the highest generation rather
        // than failing on a content-less root.
        val all = listing(spark, root)
        val legacyContent = all.exists { st =>
          val nm = st.getPath.getName
          !nm.startsWith(prefix) && !nm.startsWith(pointer) && !nm.startsWith(".")
        }
        if (legacyContent) None else gensIn(all).lastOption
      }

  /** The directory `root` currently serves from: the [[servingGen]] dir,
    * else the root itself (legacy pre-generation layout — and the shape
    * of a store that has never been rewritten). */
  def resolve(spark: SparkSession, root: String): String =
    servingGen(spark, root).fold(root)(n => s"$root/$prefix$n")

  /** Start building the NEXT generation: returns (number, dir) with any
    * partial dir from a crashed earlier build cleared. The serving
    * generation is never touched. */
  def beginGen(spark: SparkSession, root: String): (Int, String) = {
    val n = math.max(currentGen(spark, root).getOrElse(0),
      genDirs(spark, root).lastOption.getOrElse(0)) + 1
    val dir = s"$root/$prefix$n"
    delete(spark, dir)
    (n, dir)
  }

  /** The generation the pointer served BEFORE the latest commit — stamped
    * beside the pointer at commit time so [[pruneGens]] can tell the
    * genuine predecessor (possibly still under an in-flight reader) from a
    * crashed, never-committed build dir that happens to carry a higher
    * number. Readers never consult this file. */
  private def prevGen(spark: SparkSession, root: String): Option[Int] =
    readPointer(spark, s"$root/${pointer}_PREV")

  /** Flip the pointer to a COMPLETELY built generation — staged tmp write
    * + atomic-replace rename, with the outgoing generation stamped to
    * `<pointer>_PREV` first (a crash between the two writes leaves the old
    * pointer serving and the stamp merely redundant). If a concurrent
    * [[resolve]] heal raced the rename away, the flip is verified by
    * re-reading the pointer instead of failing. */
  def commitGen(spark: SparkSession, root: String, n: Int): Unit = {
    currentGen(spark, root).foreach { prev =>
      writeAtomicFile(spark, s"$root/${pointer}_PREV", prev.toString)
    }
    writeAtomicFile(spark, s"$root/$pointer", n.toString)
  }

  /** The one way a versioned store commits a generation: [[beginGen]],
    * `write(dir)`, [[commitGen]]; returns (number, dir). A `write` that
    * throws leaves the pointer and the serving generation untouched; its
    * partial dir is deleted and the failure rethrown. Does not prune —
    * callers that reclaim space call [[pruneGens]] after it. */
  def rewrite(spark: SparkSession, root: String)
             (write: String => Unit): (Int, String) = {
    val (n, dir) = beginGen(spark, root)
    try write(dir)
    catch {
      case NonFatal(e) =>
        delete(spark, dir)
        throw e
    }
    commitGen(spark, root, n)
    (n, dir)
  }

  /** Drop all but the newest `keep` generations (the serving one plus one
    * predecessor for in-flight readers, by default).
    *
    * "Newest by number" alone is WRONG under crashed builds: a
    * [[beginGen]] that died mid-build leaves an uncommitted generation
    * N+1 dir above the serving generation, and after the next successful
    * commit (numbered N+2 — beginGen skips past the corpse) a by-number
    * prune would keep the corpse and delete the GENUINE predecessor the
    * keep=2 contract protects for in-flight readers. The serving pointer
    * and the `<pointer>_PREV` stamp name the two generations that
    * contract is about; everything else — crashed partials above OR below the
    * pointer — is droppable (prune runs in the single structural writer
    * right after its own commit, so no live build exists). Stores with
    * no pointer, or `keep` beyond the stamped pair, fall back to
    * newest-by-number for the remainder. */
  def pruneGens(spark: SparkSession, root: String, keep: Int = 2): Seq[Int] = {
    require(keep >= 1, "must keep at least the serving generation")
    val gens = genDirs(spark, root)
    val protectedGens = (currentGen(spark, root).toSeq ++
      (if (keep >= 2) prevGen(spark, root).toSeq else Nil)).toSet
    val rest = gens.filterNot(protectedGens)
    val keepSet = protectedGens ++
      rest.takeRight(math.max(0, keep - protectedGens.size))
    val drop = gens.filterNot(keepSet)
    drop.foreach(n => delete(spark, s"$root/$prefix$n"))
    drop
  }
}

/** The `_GEN` / `gen=N` instance, plus the tiny-metadata-file primitives
  * every pointer and manifest ([[CellStore]]'s `_CELLS`) is written and
  * read through. */
private[graft] object GenDir extends GenDir("_GEN", "gen=") {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a tiny metadata file, None when absent/unreadable. */
  private[graft] def readAtomicFile(spark: SparkSession,
                                    path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Write a tiny metadata file atomically: content is first written to a
    * `.stage` file that no reader ever touches, then renamed to the
    * healable `.tmp` stage, then overwrite-renamed onto the destination
    * (atomic on HDFS-like stores; the `.tmp`-heal in
    * [[readAtomicFileHealed]] closes the delete-then-rename window of
    * stores where it is not). The extra `.stage` hop matters under a
    * CONCURRENT heal: `.tmp` must only ever exist FULLY WRITTEN, or a
    * reader in the heal window can promote a half-written pointer (the
    * zero-downtime race spec caught exactly that — the heal renamed the
    * tmp between the writer's create and close). A racing heal that
    * renames the completed tmp away is tolerated by verifying the
    * destination content. All three renames go through [[FileContext]]
    * (raw local fs): mixing in the checksummed `FileSystem.rename` would
    * move crc sidecars that the FileContext renames then strand stale. */
  private[graft] def writeAtomicFile(spark: SparkSession, path: String,
                                     content: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stage = new Path(s"$path.stage")
    val fs = fsOf(spark, stage)
    val out = fs.create(stage, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val tmp = new Path(s"$path.tmp")
    val dst = new Path(path)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
    fc.rename(stage, tmp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    try fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case e: Exception =>
        if (!readAtomicFile(spark, path).contains(content))
          throw new IllegalStateException(
            s"atomic metadata flip failed at $path", e)
    }
  }

  /** [[readAtomicFile]] plus the mid-flip heal: when the file is absent
    * but its fully-written `.tmp` stage exists (the delete-then-rename
    * window on local/object stores), complete the rename and serve the
    * staged content. */
  private[graft] def readAtomicFileHealed(spark: SparkSession,
                                          path: String): Option[String] = {
    readAtomicFile(spark, path) match {
      case some @ Some(_) => return some
      case None =>
    }
    val staged = readAtomicFile(spark, s"$path.tmp")
    staged.foreach { _ =>
      // FileContext (raw), NOT the checksummed FileSystem.rename: the
      // writer's own renames are raw and move no crc sidecars, so a
      // checksummed heal rename would strand a `.crc` for content the
      // next raw flip replaces — poisoning every later checksummed read
      val dst = new Path(path)
      try org.apache.hadoop.fs.FileContext
        .getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(new Path(s"$path.tmp"), dst)
      catch { case _: Exception => () }
      // whether our rename or a racing one won, re-read the live file
      return readAtomicFile(spark, path).orElse(staged)
    }
    None
  }
}
