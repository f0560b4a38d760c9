package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-cell storage for the cell-partitioned persisted tables (IVF
  * coarse assignments, IVF-PQ codes) — reader isolation for IN-PLACE cell
  * mutations, the piece the generation pointer deliberately does not
  * cover: a partition-pruned upsert/delete rewrites only its touched
  * cells, and rewriting them THROUGH a whole new generation would copy
  * every untouched cell (at 100 TB, almost the entire index) per
  * mutation.
  *
  * Layout:
  * {{{
  *   table/_CELLS            # manifest: one "cell=version" line per cell
  *   table/cell=0/v=3/part-*.parquet
  *   table/cell=1/v=1/part-*.parquet
  * }}}
  *
  * Readers resolve the manifest ONCE and read exactly the pinned version
  * dir of every cell (`basePath`-anchored, so `cell` stays a partition
  * column and probe-side `cell IN (...)` cuts remain static
  * PartitionFilters — the PlanShapeSpec pins hold unchanged). Mutators
  * never touch a pinned dir: touched cells' merged rows land as NEW
  * `v=k+1` dirs (plain appends — nothing a concurrent reader's file list
  * references is deleted or overwritten), then the manifest flips
  * atomically (`_CELLS.tmp` + overwrite-rename, the `_GEN` protocol), and
  * old versions are pruned keep-2 per cell — so a reader survives one
  * concurrent mutation per cell, the same window every generation store
  * documents. A crash before the flip leaves orphan version dirs that the
  * retry rebuilds past and the next successful mutation's pruning
  * removes; the serving manifest never references a partial write.
  *
  * An EMPTIED cell (every row deleted) is dropped from the manifest —
  * the reader-visible equivalent of the old explicit `cell=c` dir
  * removal, without yanking files from under in-flight readers.
  *
  * Cost accounting at scale: per mutation, I/O = touched cells' bytes
  * (exactly the old dynamic-overwrite cost) + one tiny manifest write;
  * per read, one manifest read + an nLists-bounded path list (the same
  * driver-side listing partition discovery already did). */
private[graft] object CellStore {

  private def manifestPath(dir: String) = s"$dir/_CELLS"

  private def parse(s: String): Map[Int, Int] =
    s.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val Array(c, v) = line.split("=", 2)
      c.toInt -> v.toInt
    }.toMap

  private def render(m: Map[Int, Int]): String =
    m.toSeq.sorted.map { case (c, v) => s"$c=$v" }.mkString("\n")

  /** The serving manifest, mid-flip-healed; None for a flat table (the
    * codes a plain `PqIndex.save` writes) or a dir that is not a cell
    * store at all. */
  def manifest(spark: SparkSession, dir: String): Option[Map[Int, Int]] =
    GenDir.readAtomicFileHealed(spark, manifestPath(dir)).map(parse)

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read the serving snapshot: the manifest's pinned version dir per
    * cell (`v` never escapes). A manifest-less dir reads as a flat
    * table — plain partition discovery, the layout a plain
    * `PqIndex.save` writes its codes in.
    *
    * A dir that HAS the versioned layout but no readable manifest is a
    * reader caught inside the `_CELLS` flip (delete-then-rename on
    * local/object stores can blank both the file and its healed `.tmp`
    * for an instant): falling through to flat discovery there would
    * union EVERY version dir — a mixed snapshot, exactly what the
    * versioning exists to prevent (the zero-downtime race spec catches
    * it). Retry the manifest read through the window instead; fail
    * loudly if it never reappears. */
  def read(spark: SparkSession, dir: String): DataFrame =
    manifestRetryingMidFlip(spark, dir) match {
      case Some(m) =>
        require(m.nonEmpty, s"cell store at $dir has an empty manifest")
        // the manifest text plus the dir's listing stamp pin the snapshot
        // (the manifest alone survives a wipe-and-rebuild byte-identical
        // while the part files underneath change — the cell dirs' mtimes
        // catch that), so the listing/schema-inference work of building
        // this frame memoizes per snapshot — freshness still costs the one
        // manifest read above plus one listing RPC, and the parquet files
        // are re-read on every execution (the frame is a lazy plan, never
        // data)
        Memo.loads(spark,
            s"cellstore|$dir|${render(m)}|${Memo.dirStamp(spark, dir)}") {
          val paths = m.toSeq.sorted.map { case (c, v) => s"$dir/cell=$c/v=$v" }
          graft.io.ParquetSchema.read(spark, paths, Some(dir)).drop("v")
        }
      case None => spark.read.parquet(dir)
    }

  /** Full (re)write: the whole table lands as `v=1` of every cell plus a
    * fresh manifest — the builder-side entry (index save, compaction and
    * retrain generations). The target dir is owned by the caller (a new
    * generation dir, or a reset root), so this write is not concurrent
    * with readers of ITSELF; isolation for live stores comes from the
    * generation pointer above this layer. */
  def write(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    df.withColumn("v", lit(1))
      .write.mode("overwrite").partitionBy("cell", "v").parquet(dir)
    val cells = listCellDirs(spark, dir)
    GenDir.writeAtomicFile(spark, manifestPath(dir),
      render(cells.map(_ -> 1).toMap))
  }

  /** The serving manifest of a store [[write]] created, read through the
    * mid-flip retry; fails loudly on a dir with no versioned layout. */
  private def servingManifest(spark: SparkSession,
                              dir: String): Map[Int, Int] =
    manifestRetryingMidFlip(spark, dir).getOrElse(
      throw new IllegalStateException(s"$dir is not a versioned cell " +
        "store (no _CELLS manifest) — only CellStore.write creates one"))

  private def manifestRetryingMidFlip(spark: SparkSession,
                                      dir: String): Option[Map[Int, Int]] =
    manifest(spark, dir) match {
      case some @ Some(_) => some
      case None if !hasVersionedLayout(spark, dir) => None // flat table
      case None =>
        var m: Option[Map[Int, Int]] = None
        var attempt = 0
        while (m.isEmpty && attempt < 100) {
          Thread.sleep(2)
          m = manifest(spark, dir)
          attempt += 1
        }
        Some(m.getOrElse(throw new IllegalStateException(
          s"versioned cell store at $dir has no readable _CELLS manifest " +
            "(not a mid-flip window — the manifest never reappeared)")))
    }

  /** Whether `dir` carries the versioned `cell=c/v=k` layout — the bit
    * that distinguishes a mid-flip manifest blackout from a genuine
    * flat table. Only consulted on the manifest-missing path. */
  private def hasVersionedLayout(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      s.isDirectory && s.getPath.getName.startsWith("cell=") &&
        fs.listStatus(s.getPath).exists(v =>
          v.isDirectory && v.getPath.getName.startsWith("v="))
    }
  }

  private def listCellDirs(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap(_.getPath.getName.stripPrefix("cell=").toIntOption)
  }

  private def listVersions(spark: SparkSession, dir: String,
                           cell: Int): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/cell=$cell")
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(_.getPath.getName.stripPrefix("v=").toIntOption).sorted
  }

  /** The mutation primitive: replace the CONTENT of `touched` cells with
    * `stagedRows` (which must contain rows of touched cells only — a cell
    * whose rows all vanished is dropped from the manifest). Appends new
    * version dirs, flips the manifest, prunes old versions keep-2. */
  def rewriteCells(spark: SparkSession, dir: String, touched: Seq[Int],
                   stagedRows: DataFrame): Unit = {
    val man = servingManifest(spark, dir)
    // next version per touched cell: past the serving one AND any orphan
    // dirs a crashed attempt left (the retry must never append into a
    // partially-written dir)
    val newv: Map[Int, Int] = touched.map { c =>
      c -> (math.max(man.getOrElse(c, 0),
        listVersions(spark, dir, c).lastOption.getOrElse(0)) + 1)
    }.toMap
    // the version map rides in the plan as one nLists-bounded literal, so
    // the write is the rewrite's only job
    stagedRows.filter(col("cell").isin(touched: _*))
      .withColumn("v", element_at(typedLit(newv), col("cell")))
      .write.mode("append").partitionBy("cell", "v").parquet(dir)
    // a touched cell whose every row vanished wrote no new version dir —
    // read emptiness off the layout instead of recomputing the staged
    // lineage (nLists-bounded existence probes)
    val fs = fsOf(spark, dir)
    val nonEmpty = touched.filter(c => fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/cell=$c/v=${newv(c)}"))).toSet
    val next = (man -- touched.filterNot(nonEmpty)) ++
      newv.view.filterKeys(nonEmpty).toMap
    require(next.nonEmpty,
      s"cell-store rewrite would empty the entire table at $dir — refusing")
    GenDir.writeAtomicFile(spark, manifestPath(dir), render(next))
    // keep-2 GC: per touched cell, the new serving version plus the one
    // it replaced stay for in-flight readers; everything older (and any
    // orphan) goes
    touched.foreach { c =>
      val keep = Set(newv(c)) ++ man.get(c)
      listVersions(spark, dir, c).filterNot(keep).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/cell=$c/v=$v"), true)
      }
    }
  }

  /** Per-cell physical layout of the SERVING snapshot — (cell, n_files,
    * bytes) from the manifest's pinned version dirs; the `ivfCellStats`
    * listing. The manifest is read through the same mid-flip retry as
    * [[read]], so a stats reader racing a flip still sees a snapshot. */
  def cellFileStats(spark: SparkSession,
                    dir: String): Seq[(Int, Int, Long)] = {
    val fs = fsOf(spark, dir)
    servingManifest(spark, dir).toSeq.sorted.map { case (c, v) =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/cell=$c/v=$v"))
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      (c, files.length, files.map(_.getLen).sum)
    }
  }
}
