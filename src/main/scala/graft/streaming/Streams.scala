package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming extension (SURVEY §2.11): the maintained states behind the
  * streamed board queries. Each maintainer is a Structured Streaming
  * query whose micro-batches reduce to bounded mergeable partials under
  * idempotent `epoch=<n>` partitions ([[epochPartials]]); the matching
  * `...At` reader folds them without touching raw history, and the
  * `ensure*` builders land the fixture waves the declared queries read.
  */
object Streams {

  /** Streaming JSONL ingest — the batch source's error-tolerant contract
    * (`JsonlCorpusSource`: keep every parseable row, surface — never
    * drop — every malformed line) lifted to the stream, the shape a crawl
    * pipeline actually runs (dumps land incrementally as *.jsonl files).
    * Each micro-batch parses PERMISSIVE through the SAME
    * `JsonlCorpusSource.parseLines` the batch reader uses; VALID rows and
    * CORRUPT lines both land under `outDir` in idempotent `epoch=<n>`
    * partitions (the [[epochPartials]] overwrite contract — a retried
    * epoch replaces itself), split by the `is_corrupt` flag so the
    * readers below fold counts, sample, and clean rows without re-parsing.
    * Line-splittable text scan, explicit schema (no inference pass over
    * the landing dir), AvailableNow trigger. */
  def streamingJsonlIngest(spark: SparkSession, landingDir: String,
                           outDir: String, checkpointDir: String,
                           schema: String =
                             graft.sources.JsonlCorpusSource.documentsSchema)
      : StreamingQuery = {
    val lines = spark.readStream
      .option("pathGlobFilter", "*.jsonl").text(landingDir)
    epochPartials(lines, outDir, checkpointDir)(b =>
      graft.sources.JsonlCorpusSource.parseLines(b, schema)
        .withColumn("is_corrupt", col("__corrupt_record").isNotNull))
  }

  /** The clean rows of the maintained JSONL ingest (schema columns only,
    * corrupt capture dropped) — the frame downstream ingest consumes. */
  def jsonlValidAt(spark: SparkSession, outDir: String): DataFrame =
    epochsAt(spark, outDir).filter(!col("is_corrupt"))
      .drop("is_corrupt", "__corrupt_record", "epoch")

  /** The batch `ingestReport` shape from the maintained state: counts are
    * additive across epochs, the corrupt sample is content-ordered (the
    * deterministic order — file-line order does not survive a parallel
    * scan), and both coalesce to 0/empty when nothing has landed. */
  def jsonlIngestReportAt(spark: SparkSession, outDir: String,
                          sampleK: Int = 5): DataFrame = {
    val st = epochsAt(spark, outDir)
    st.agg(
        coalesce(sum(when(!col("is_corrupt"), 1L).otherwise(0L)), lit(0L))
          .as("n_valid"),
        coalesce(sum(when(col("is_corrupt"), 1L).otherwise(0L)), lit(0L))
          .as("n_corrupt"))
      .crossJoin(st.filter(col("is_corrupt"))
        .select(col("__corrupt_record").as("line"))
        .orderBy("line").limit(sampleK)
        .agg(array_join(sort_array(collect_list("line")), "\n")
          .as("corrupt_sample")))
  }

  /** Compaction for the JSONL ingest epochs — rows are immutable parse
    * facts, so the fold is identity; partition count resets. */
  def compactJsonlIngestAt(spark: SparkSession, outDir: String): Unit =
    compactEpochs(spark, outDir)(st => st.drop("epoch"))

  /** Materialize the TWO-WAVE streamed-JSONL state that backs the declared
    * query q257: the planted-corrupt fixture split by doc_id parity into
    * two deterministic waves, landed and streamed ONE WAVE AT A TIME
    * through [[streamingJsonlIngest]] against one checkpoint — so the
    * maintained state genuinely accumulates across separate stream runs
    * (distinct epochs), which is the thing the batch twin q256 cannot
    * exercise. Returns the state dir; [[jsonlIngestReportAt]] /
    * [[jsonlValidAt]] over it must answer exactly the full-fixture report
    * (waves partition the corpus), which the DuckDB oracle rebuilds from
    * `documents` alone. Built once per source stamp by
    * [[graft.TmpCache.ensure]], so bench reps measure the READ, not the
    * stream. */
  def ensureStreamedJsonlState(spark: SparkSession, documents: DataFrame,
                               sfDir: String): String = {
    import graft.sources.JsonlCorpusSource
    val schema = "doc_id BIGINT, lang STRING, source STRING"
    val w0 = JsonlCorpusSource.ensureFixture(
      spark, documents.filter(pmod(col("doc_id"), lit(2)) === 0), sfDir, "w0")
    val w1 = JsonlCorpusSource.ensureFixture(
      spark, documents.filter(pmod(col("doc_id"), lit(2)) === 1), sfDir, "w1")
    val base = graft.TmpCache.ensure(spark, "jsonl-stream", "w0|w1",
        Seq(s"$sfDir/documents.parquet")) { base =>
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
      val landing = new org.apache.hadoop.fs.Path(base, "landing")
      fs.mkdirs(landing)
      def landWave(waveDir: String, prefix: String): Unit =
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(waveDir, "*.jsonl")))
          .toSeq.flatten.foreach { st =>
            org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
              new org.apache.hadoop.fs.Path(landing, s"$prefix-${st.getPath.getName}"),
              false, true, hconf)
          }
      landWave(w0, "w0")
      awaitBounded(streamingJsonlIngest(
        spark, landing.toString, s"$base/state", s"$base/ckpt", schema))
      // mid-lifecycle compaction between the waves (the
      // ensureStreamedTableState convention): the q256/q257 readers then
      // answer from a state whose dir holds the compacted epoch=-1
      // partition next to wave 1's epoch — the JSONL family's
      // compactor driver-checked, not just spec-asserted
      compactJsonlIngestAt(spark, s"$base/state")
      landWave(w1, "w1")
      awaitBounded(streamingJsonlIngest(
        spark, landing.toString, s"$base/state", s"$base/ckpt", schema))
    }
    s"$base/state"
  }

  /** Await an AvailableNow stream with a hard deadline: a hung stream
    * inside the correctness dump would otherwise stall the WHOLE run
    * (Verify executes queries sequentially) — fail the one query
    * instead. AvailableNow terminates deterministically, so the deadline
    * only fires on genuine wedges. */
  private def awaitBounded(q: StreamingQuery,
                           timeoutMs: Long = 600000L): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query ${q.name} did not finish within ${timeoutMs}ms")
    }

  /** The canonical lex-index state build shared by the declared queries
    * (q258/q268/q269/q270), Smoke, and StreamingSpec — ONE definition so
    * every caller lands on the same cache dir: four doc_id-mod-4 waves
    * with [[compactLexIndexAt]] between waves 2 and 3 (the hardest
    * driver-checked lifecycle: a compacted epoch=-1 partition next to two
    * post-compaction epochs). */
  def ensureLexState(spark: SparkSession, documents: DataFrame,
                     sfDir: String): String =
    ensureStreamedDocState(spark, documents, sfDir, "lex",
      waves = 4, compactAfterWave = 2, compactor = compactLexIndexAt)(
      (sd, out, ckpt) => streamingLexIndex(sd, out, ckpt))

  /** The lex state's ERASURE lifecycle (q298/q299): its own three-wave +
    * mid-lifecycle-compaction build (a separate cache dir ON PURPOSE —
    * deleting from the shared q258 state would corrupt its six readers),
    * then [[deleteLexDocsAt]] purges every `doc_id % delMod == delRes`
    * document's rows AFTER all waves landed — the takedown arriving on a
    * long-lived maintained index, not folded into its build. */
  def ensureLexDeletedState(spark: SparkSession, documents: DataFrame,
                            sfDir: String, delMod: Int = 5,
                            delRes: Int = 3): String =
    ensureDeletedDocState(spark, documents, sfDir, s"lexdel-m${delMod}r$delRes",
      delMod, delRes, waves = 3, compactAfterWave = 2,
      compactor = compactLexIndexAt, deleter = deleteLexDocsAt)(
      (sd, o, ckpt) => streamingLexIndex(sd, o, ckpt))

  /** The generic takedown wrapper behind [[ensureLexDeletedState]] and the
    * band-state erasure (q305): build ANY doc-keyed streamed state under
    * its own cache tag (a separate dir ON PURPOSE — deleting from a shared
    * state would corrupt its other readers), then `deleter` purges every
    * `doc_id % delMod == delRes` document's rows AFTER all waves landed,
    * inside the same build: a crash anywhere rebuilds from a wiped dir. */
  def ensureDeletedDocState(spark: SparkSession, documents: DataFrame,
                            sfDir: String, tag: String, delMod: Int,
                            delRes: Int, waves: Int = 2,
                            compactAfterWave: Int = 0,
                            compactor: (SparkSession, String) => Unit =
                              (_, _) => (),
                            deleter: (SparkSession, String,
                              org.apache.spark.sql.Column) => Unit =
                              deleteDocsAt)(
      start: (DataFrame, String, String) => StreamingQuery): String =
    streamedState(spark, documents, sfDir, tag, "doc_id", "documents.parquet",
      waves, compactAfterWave, compactor, s"del=mod${delMod}eq$delRes")(
      start)((sp, out) =>
      deleter(sp, out, pmod(col("doc_id"), lit(delMod)) === delRes))

  /** [[ensureStreamedTableState]] over the documents table, split by
    * doc_id. */
  def ensureStreamedDocState(spark: SparkSession, documents: DataFrame,
                             sfDir: String, tag: String, waves: Int = 2,
                             compactAfterWave: Int = 0,
                             compactor: (SparkSession, String) => Unit =
                               (_, _) => ())(
      start: (DataFrame, String, String) => StreamingQuery): String =
    ensureStreamedTableState(spark, documents, sfDir, tag,
      idCol = "doc_id", srcFile = "documents.parquet", waves = waves,
      compactAfterWave = compactAfterWave, compactor = compactor)(start)

  /** The multi-wave streamed state behind any epoch-partials maintainer:
    * split `table` by `pmod(idCol, waves)` into that many landing waves
    * and stream each in its OWN run against one checkpoint via
    * `start(streamingTable, statePath, ckptPath)` — so the maintainer is
    * driven into a genuinely multi-epoch state and declared as a
    * driver-checked query (its `...At` reader must answer the batch
    * operator over the FULL table, which the DuckDB oracle rebuilds
    * directly). Built once per (source stamp of `srcFile`, tag, waves,
    * compaction) by [[graft.TmpCache.ensure]].
    *
    * `compactAfterWave = n` (1-based, 0 = never) runs `compactor` on the
    * state BETWEEN waves n and n+1 — the production maintenance shape: a
    * long-lived state is compacted mid-lifecycle while ingestion is
    * paused, and later waves land next to the compacted epoch=-1
    * partition. Readers fold over both, so a reader over such a state
    * proves the compactor preserves its fold — driver-checked, not just
    * spec-asserted. */
  def ensureStreamedTableState(spark: SparkSession, table: DataFrame,
                               sfDir: String, tag: String, idCol: String,
                               srcFile: String, waves: Int = 2,
                               compactAfterWave: Int = 0,
                               compactor: (SparkSession, String) => Unit =
                                 (_, _) => ())(
      start: (DataFrame, String, String) => StreamingQuery): String =
    streamedState(spark, table, sfDir, tag, idCol, srcFile, waves,
      compactAfterWave, compactor, "")(start)((_, _) => ())

  /** The one streamed-state build: the waves, the mid-lifecycle
    * compaction, then `finish` (a takedown or readmit leg) on the
    * complete state. `finishKey` names `finish` in the cache key. */
  private def streamedState(spark: SparkSession, table: DataFrame,
                            sfDir: String, tag: String, idCol: String,
                            srcFile: String, waves: Int,
                            compactAfterWave: Int,
                            compactor: (SparkSession, String) => Unit,
                            finishKey: String)(
      start: (DataFrame, String, String) => StreamingQuery)(
      finish: (SparkSession, String) => Unit): String = {
    require(waves >= 2, s"need >= 2 waves for a multi-epoch state; got $waves")
    require(compactAfterWave >= 0 && compactAfterWave < waves,
      s"compactAfterWave must be 0 (never) or in [1, waves-1]; got $compactAfterWave/$waves")
    val key = s"$tag-w$waves-c$compactAfterWave" +
      (if (finishKey.nonEmpty) s"|$finishKey" else "")
    val base = graft.TmpCache.ensure(spark, s"docstream-$tag", key,
        Seq(s"$sfDir/$srcFile")) { base =>
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = s"$base/state"
      val landing = new org.apache.hadoop.fs.Path(base, "landing")
      fs.mkdirs(landing)
      val schema = table.schema
      // every wave staged by ONE job: one task (coalesce(1)) writes one file
      // per wave dir, each wave's rows in scan order (the writer's sort by
      // wave is stable). The wave number is a column, not a literal per
      // wave, so there is one landing plan to compile.
      val staging = new org.apache.hadoop.fs.Path(base, "__waves")
      table.withColumn("__w", pmod(col(idCol), lit(waves))).coalesce(1)
        .write.mode("overwrite").partitionBy("__w").parquet(staging.toString)
      (0 until waves).foreach { w =>
        // each wave's file renamed to a deterministic landing name right
        // before its run: the file source's checkpoint tracks committed
        // paths, so one path per wave means a committed path == a complete
        // wave (partials are order-insensitive per-row
        // projections/aggregates). A wave with no rows lands no file, and
        // its run writes no epoch.
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(staging, s"__w=$w/part-*")))
          .toSeq.flatten.zipWithIndex.foreach { case (st, i) =>
            val dst = new org.apache.hadoop.fs.Path(landing, s"w$w-$i.parquet")
            require(fs.rename(st.getPath, dst), s"wave rename failed: $dst")
          }
        awaitBounded(start(
          spark.readStream.schema(schema).parquet(landing.toString),
          out, s"$base/ckpt"))
        // mid-lifecycle compaction: the maintaining stream is STOPPED
        // between waves (each wave is its own terminated AvailableNow
        // run), which is exactly compactEpochs' contract
        if (w + 1 == compactAfterWave) compactor(spark, out)
      }
      fs.delete(staging, true)
      finish(spark, out)
    }
    s"$base/state"
  }

  /** Streaming MinHash band-index maintenance — the incremental form of
    * the q26 near-dup pair join's banding step. The (doc_id, sh,
    * band_idx, band_key) bucket table is a pure per-doc map-only
    * projection (`Dedup.minhashBucketsWithSets`), so it is exactly
    * maintainable from per-batch partials with an identity fold — and
    * persisting it IS the production dedup shape at 100 TB: the corpus is
    * banded ONCE as it lands, and every subsequent dedup run starts from
    * the index instead of re-shingling and re-hashing the whole corpus. */
  def streamingMinhashBands(docs: DataFrame, bandsPath: String,
                            checkpointDir: String): StreamingQuery =
    epochPartials(docs, bandsPath, checkpointDir)(
      graft.operators.Dedup.minhashBucketsWithSets)

  /** Near-dup pairs from the maintained band index — batch
    * `Dedup.minhashPairs` rows over the union corpus, no raw-text access:
    * the same verify-inside-band-join step, reading the persisted
    * buckets. */
  def minhashPairsStreamedAt(spark: SparkSession, bandsPath: String,
                             threshold: Double): DataFrame =
    graft.operators.Dedup.pairsFromBandBuckets(
      epochsAt(spark, bandsPath)
        .select("doc_id", "sh", "band_idx", "band_key"), threshold)

  // ------------------------------------------------------------------
  // Epoch-partition maintenance scaffold
  //
  // Every maintainer below (CMS grid, DDSketch buckets, KMV sketch, the lex
  // index, ... and the compaction path they share) rides the same
  // mergeable-partials contract: each micro-batch reduces to a BOUNDED
  // partial (additive counts or a k-bounded sketch) written as its own
  // `epoch=<n>` dir by path ([[writeEpoch]]) — a RETRIED epoch rewrites
  // exactly its own dir, so per-batch delivery is idempotent
  // (replace-by-partition, the `Engine.writeIndex` contract), unlike a
  // read-merge-rewrite of a running total, which double-counts on retry.
  // The matching `...At` reader folds the partials (sum / one more
  // GroupedTopK) without ever touching raw history. The scaffold lives in
  // exactly one place so a new maintainer cannot diverge from the contract
  // (the retry test in StreamingSpec pins it).
  // ------------------------------------------------------------------

  /** The scaffold: per-batch `partial` → idempotent `epoch=<n>` partition
    * under the state's SERVING directory. `partial` must reduce a batch
    * to its bounded mergeable state; the fold side is the corresponding
    * `...At` reader. `partCols` is the state's partition layout — always
    * led by `epoch` (the replace-by-partition idempotence key); the lex
    * index adds its `pbk` token bucket so term reads prune at the FILE
    * level.
    *
    * `partial` runs in the session that started the stream, over the
    * batch's analyzed plan: a stream runs each micro-batch in a cloned
    * session whose tasks get a class loader of their own, and Spark keys
    * its codegen cache by class loader, so every wave would compile every
    * class of the same plan again. The epoch travels in the write path,
    * not as a literal column, so every wave's plan is the same code.
    *
    * A state that has never been rewritten lives directly under `path`
    * (epoch dirs at the root); the first [[swapEpochState]] converts it
    * to `gen=N/` + `_GEN` pointer serving ([[graft.operators.GenDir]]),
    * after which appends land inside the serving generation — so a
    * retried epoch still overwrites exactly its own partition wherever
    * the state currently lives. */
  private def epochPartials(input: DataFrame, path: String,
                            checkpointDir: String,
                            partCols: Seq[String] = Seq("epoch"))
                           (partial: DataFrame => DataFrame): StreamingQuery = {
    val spark = input.sparkSession
    input.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        val b = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
          org.apache.spark.sql.GraftSqlBridge.logicalPlan(batch))
        if (!b.isEmpty)
          writeEpoch(partial(b), resolveStateDir(spark, path), epoch, partCols)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The one epoch write: `df` replaces the dir `<dir>/epoch=<epoch>`
    * (partitioned below it by the rest of `partCols`), so a retried epoch
    * rewrites exactly its own dir and the `epoch` values on disk are the
    * dir names. */
  private def writeEpoch(df: DataFrame, dir: String, epoch: Long,
                         partCols: Seq[String] = Seq("epoch")): Unit =
    df.write.mode("overwrite").partitionBy(partCols.filterNot(_ == "epoch"): _*)
      .parquet(s"$dir/epoch=$epoch")

  /** The epochs directly under `dir`, from its `epoch=<n>` dir names
    * (none when `dir` is absent). */
  private def epochsIn(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong).sorted
  }

  /** The directory the maintained state at `path` currently serves from:
    * the `_GEN` generation when the state has been rewritten at least
    * once, the path itself before that (see [[graft.operators.GenDir
    * .resolve]] for the crash/race protocol). */
  private[graft] def resolveStateDir(spark: SparkSession,
                                     path: String): String =
    graft.operators.GenDir.resolve(spark, path)

  /** Epoch partials under `path`, resolved through the generation
    * pointer. A PRE-GENERATION root (no pointer yet) is read through its
    * `epoch=*` dirs EXPLICITLY, never by whole-tree partition discovery:
    * a concurrent first rewrite materializes its `gen=1` dir beside the
    * epoch dirs before the pointer flips, and bare discovery over that
    * momentarily-mixed tree fails on conflicting partition columns —
    * explicit paths never look at siblings, so the reader stays pinned
    * to the committed epoch dirs through the whole build-then-flip
    * window (the race the zero-downtime takedown spec drives). */
  private[graft] def epochsAt(spark: SparkSession, path: String): DataFrame =
    readStateDir(spark, path, resolveStateDir(spark, path))

  /** [[readStateDir]] under the dir's current listing stamp. */
  private def readStateDir(spark: SparkSession, path: String,
                           dir: String): DataFrame =
    readStateDir(spark, path, dir, graft.operators.Memo.dirStamp(spark, dir))

  /** The read half of [[epochsAt]] against an ALREADY-RESOLVED dir — so a
    * reader that needs several frames of one state (postings + stats)
    * resolves ONCE and can never mix two generations across its own
    * subreads. */
  private def readStateDir(spark: SparkSession, path: String, dir: String,
                           stamp: String): DataFrame =
    // the driver listing and footer read (graft.io.ParquetSchema: no
    // listing job however many bucket dirs an epoch holds, no inference
    // job) memoized per state snapshot (Memo.loads): the stamp covers the
    // epoch dirs and their mtimes, so a new wave, a compaction or a
    // generation rewrite reads fresh, while the 50+ maintained-state
    // readers stop re-listing an unchanged state on every invocation. The
    // frame stays a lazy plan — every execution re-reads the parquet files.
    graft.operators.Memo.loads(spark, s"state|$path|$dir|$stamp") {
      val ps = graft.io.ParquetSchema
      if (dir != path) ps.read(spark, Seq(dir))
      else epochsIn(spark, path) match {
        case Nil => ps.read(spark, Seq(path))
        case es => ps.read(spark, es.map(e => s"$path/epoch=$e"), Some(path))
      }
    }

  /** Collapse all epoch partitions of `path` into one `epoch=-1`
    * partition holding `fold` of the current state — totals identical,
    * partition count reset. Only while the maintaining stream is STOPPED
    * (a live retry of a pre-compaction epoch would resurrect its partition
    * next to the compacted one).
    *
    * Durability and reader isolation come from the generation-pointer
    * swap ([[swapEpochState]]): the compacted copy lands as the next
    * `gen=N` beside the serving one and the pointer flips once complete —
    * a concurrent reader never sees a missing or half-compacted state,
    * and a crash before the flip leaves the serving copy untouched. */
  private def compactEpochs(spark: SparkSession, path: String,
                            partCols: Seq[String] = Seq("epoch"))
                           (fold: DataFrame => DataFrame): Unit =
    swapEpochState(spark, path, partCols)(st =>
      fold(st).withColumn("epoch", lit(-1L)))

  /** The zero-downtime rewrite shared by [[compactEpochs]],
    * [[deleteDocsAt]] and the lex upsert purge: write `make(currentState)`
    * as the NEXT generation beside the serving one and flip the `_GEN`
    * pointer once it is complete (the persisted-ANN-index protocol,
    * [[graft.operators.GenDir]]). A concurrent reader resolves either the
    * old pointer or the new one — never a missing or half-rewritten
    * state — and a crash before the flip leaves the serving state
    * untouched (the partial next-gen dir is cleared and rebuilt by the
    * retry). [[graft.operators.GenDir.pruneGens]] keeps the previous
    * generation for in-flight readers (keep=2); a state still in the
    * legacy root layout counts as generation 0 and its root-level epoch
    * dirs are dropped once they are two rewrites old, same rule.
    * `make`'s output must carry the `epoch` column (compaction stamps
    * -1; a delete preserves the layout it read). */
  private def swapEpochState(spark: SparkSession, path: String,
                             partCols: Seq[String] = Seq("epoch"))
                            (make: DataFrame => DataFrame): Unit = {
    val gd = graft.operators.GenDir
    val (n, _) = gd.rewrite(spark, path)(make(epochsAt(spark, path))
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(_))
    gd.pruneGens(spark, path)
    // the legacy root layout is "generation 0": once two rewrites old
    // (no reader from before the FIRST flip can still be in flight under
    // the keep=2 rule), drop its root-level epoch dirs so the root holds
    // only generations + pointer
    if (n >= 2) {
      val rootP = new org.apache.hadoop.fs.Path(path)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(rootP))
        fs.listStatus(rootP).foreach { st =>
          val nm = st.getPath.getName
          if (nm.startsWith("epoch=") || (st.isFile && !nm.startsWith("_GEN")))
            fs.delete(st.getPath, true)
        }
    }
  }

  /** Right-to-erasure for a DOC-KEYED epoch state (the lex index's
    * postings + doc-length rows, the MinHash band table — any maintained
    * state whose every row belongs to exactly one `doc_id`): rewrite the
    * epoch tree with the deleted documents' rows filtered out, epochs
    * preserved. Because these states keep RAW per-doc rows and derive
    * every corpus statistic at read time (df/N/avgdl fold from the rows —
    * `bm25Indexed` recomputes them per query), a row filter IS the
    * complete takedown: no aggregate fixup, no recompaction, and every
    * reader over the post-delete state equals the batch operator over the
    * surviving corpus. The streamed twin of [[graft.operators.Similarity
    * .deleteIvfAt]], with the same fail-loud rule for a delete that would
    * empty the state (a row-less parquet dir kills the next reader's
    * schema inference far from the cause) and the same crash story:
    * the generation swap never touches the serving copy before the
    * pointer flip, and re-running the delete after a crash is an
    * idempotent filter. NOT for the lex state — its NULL-keyed stat
    * partials need [[deleteLexDocsAt]]'s recompute. */
  def deleteDocsAt(spark: SparkSession, path: String,
                   deletePred: org.apache.spark.sql.Column): Unit =
    swapEpochState(spark, path) { st =>
      val kept = st.filter(!deletePred)
      require(!kept.isEmpty,
        s"deleteDocsAt would empty the entire state at $path — refusing " +
          "(drop the state directory instead if that is intended)")
      kept
    }

  /** [[deleteDocsAt]] for the LEX state, whose layout the generic form
    * cannot serve: its `kind='s'` corpus-stat partials carry a NULL
    * doc_id (the predicate would silently drop them), and after a purge
    * they must be RECOMPUTED from the surviving doc-length rows — the
    * swap already rewrites every row, so the per-epoch re-aggregation
    * rides the same pass for free. Postings/doc-length rows filter
    * exactly as the generic delete; the `(epoch, pbk)` layout is
    * preserved. */
  def deleteLexDocsAt(spark: SparkSession, path: String,
                      deletePred: org.apache.spark.sql.Column): Unit =
    swapEpochState(spark, path, LexPartCols) { st =>
      val kept = st.filter(col("kind") =!= "s").filter(!deletePred)
      require(!kept.filter(col("kind") === "d").isEmpty,
        s"deleteLexDocsAt would empty the entire state at $path — refusing " +
          "(drop the state directory instead if that is intended)")
      kept.unionByName(lexStatsRows(kept))
    }

  /** The FUSED form of [[bm25StreamedAt]] for a serving batch: one
    * already-scored (query_id, doc_id, bm25) frame for the whole batch,
    * through [[graft.operators.TextAnalysis.bm25CarriedDlBatch]] — one
    * postings pass and one exchange instead of a filter+2-aggregation
    * subtree per query (scores bit-identical to the per-query reader).
    * The scan reads the batch's buckets straight from the `(epoch, pbk)`
    * partition layout (no cached frame per batch: a serving loop of
    * distinct term sets leaves the session's cache as it found it), and
    * the corpus statistics come from [[lexStatsOf]], collected once per
    * state snapshot. */
  def bm25StreamedBatchAt(spark: SparkSession, indexPath: String,
                          termsByQuery: Seq[(Long, Seq[String])],
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ta = graft.operators.TextAnalysis
    val allBuckets = termsByQuery.flatMap(_._2)
      .map(ta.tokenBucket(_).toInt).distinct
    // ONE resolve and ONE listing stamp for postings AND stats, so the two
    // can never come from different snapshots
    val dir = resolveStateDir(spark, indexPath)
    val stamp = graft.operators.Memo.dirStamp(spark, dir)
    val st = readStateDir(spark, indexPath, dir, stamp)
    val (nDocs, avgdl) = lexStatsOf(spark, st, s"$indexPath|$dir|$stamp")
    ta.bm25CarriedDlBatch(
      st.filter(col("pbk").isin(allBuckets: _*))
        .select("token", "doc_id", "tf", "dl"),
      nDocs, avgdl, termsByQuery, k1, b)
  }

  /** The (n_docs, avgdl) of a state snapshot `st`, memoized under `key`
    * (its dir and listing stamp): the `kind='s'` partials (|epochs| rows)
    * collected once and summed on the driver — the same long sums and the
    * same double division as [[lexStatsFold]]. */
  private def lexStatsOf(spark: SparkSession, st: DataFrame,
                         key: String): (Double, Double) =
    graft.operators.Memo.loads(spark, s"lexstats|$key") {
      val rows = st.filter(col("pbk") === -2).select("tf", "dl").collect()
      require(rows.nonEmpty, s"lex state $key has no corpus-stat partials")
      val n = rows.map(_.getLong(0)).sum.toDouble
      (n, rows.map(_.getLong(1)).sum.toDouble / n)
    }

  /** Streaming CMS maintenance — `Sketches.cmsGrid`'s incremental form,
    * and the literal realization of that operator's 100 TB note: "the
    * build merges per-partition d x w partials, never re-scanning raw
    * text". CMS counters are ADDITIVE, so each micro-batch writes its own
    * d x w partial grid ([[epochPartials]] scaffold) and `cmsGridAt` folds
    * the partials by per-cell sum. Per-batch state is a fixed d x w
    * integer grid regardless of batch size; the fold is a
    * (d x w x epochs)-row aggregation — no corpus access. Probe the folded
    * grid with `Sketches.cmsProbe`. */
  def streamingCmsGrid(docs: DataFrame, gridPath: String, checkpointDir: String,
                       d: Int = 4, w: Int = 1024): StreamingQuery =
    epochPartials(docs, gridPath, checkpointDir)(b =>
      graft.operators.Sketches
        .cmsGrid(graft.operators.Sketches.tokenCounts(b), d, w))

  /** The maintained CMS as one (j, cell, cellsum) grid: per-cell sum over
    * the epoch partials. */
  def cmsGridAt(spark: SparkSession, gridPath: String): DataFrame =
    epochsAt(spark, gridPath)
      .groupBy("j", "cell").agg(sum("cellsum").as("cellsum"))

  /** Streaming DDSketch maintenance — `Sketches.ddBuckets`' incremental
    * form (bucket counts are additive integers; [[epochPartials]]
    * scaffold). `ddBucketsAt` folds the partials;
    * `Sketches.ddQuantilesFromBuckets` answers quantiles from the
    * maintained state without touching raw rows. */
  def streamingDdBuckets(rows: DataFrame, groupCol: String, valueCol: String,
                         bucketsPath: String, checkpointDir: String,
                         alpha: Double = 0.01): StreamingQuery =
    epochPartials(rows, bucketsPath, checkpointDir)(b =>
      graft.operators.Sketches.ddBuckets(b, groupCol, valueCol, alpha))

  /** The maintained DDSketch as one (group, bucket, cnt) table. */
  def ddBucketsAt(spark: SparkSession, bucketsPath: String,
                  groupCol: String): DataFrame =
    epochsAt(spark, bucketsPath)
      .groupBy(groupCol, "bucket").agg(sum("cnt").as("cnt"))

  /** Streaming KMV-sketch maintenance — `Sketches.kmvSketch`'s incremental
    * form and the last sketch family to get one (HLL, CMS, DDSketch,
    * Merkle, KMV all maintainable online). KMV sketches merge by "k
    * smallest of the concatenation", so each micro-batch writes its own
    * per-group k-min rows ([[epochPartials]] scaffold) and `kmvSketchAt`
    * folds the partials through one more GroupedTopK — distinct-ing
    * first, since the same key hashed in two batches must count once.
    * Overlap estimates then come from `Sketches.kmvOverlapFromSketches`
    * without raw-event access. */
  def streamingKmvSketch(events: DataFrame, groupCol: String, keyCol: String,
                         sketchPath: String, checkpointDir: String,
                         k: Int = 256): StreamingQuery =
    epochPartials(events, sketchPath, checkpointDir)(b =>
      graft.operators.Sketches.kmvSketch(b, groupCol, keyCol, k))

  /** The maintained per-group KMV sketch: k smallest distinct hashes
    * across all epoch partials. */
  def kmvSketchAt(spark: SparkSession, sketchPath: String,
                  k: Int = 256): DataFrame =
    graft.plans.GroupedTopK(
      epochsAt(spark, sketchPath).select("g", "h").distinct(),
      Seq(col("g")), Seq(asc("h")), k)
    .select("g", "h")

  /** Streaming KS-drift maintenance — `EventAnalytics.ksDrift`'s
    * incremental form (the drift monitor that should run continuously):
    * per-(type, value, side) counts are additive integers, so each
    * micro-batch writes its own count partial ([[epochPartials]]
    * scaffold) and `ksDriftAt` answers the statistic from the folded
    * state without raw-event access. */
  def streamingKsCounts(events: DataFrame, countsPath: String,
                        checkpointDir: String,
                        splitDate: String = "2024-01-16"): StreamingQuery =
    epochPartials(events, countsPath, checkpointDir)(b =>
      graft.operators.EventAnalytics.ksValueCounts(b, splitDate))

  /** The maintained (event_type, v, c1, c2) count state, folded. */
  def ksCountsAt(spark: SparkSession, countsPath: String): DataFrame =
    epochsAt(spark, countsPath)
      .groupBy("event_type", "v")
      .agg(sum("c1").as("c1"), sum("c2").as("c2"))

  /** The KS drift statistic from the maintained state. */
  def ksDriftAt(spark: SparkSession, countsPath: String): DataFrame =
    graft.operators.EventAnalytics.ksDriftFromCounts(ksCountsAt(spark, countsPath))

  /** The PSI drift statistic from the SAME maintained state — the band
    * is a pure function of the stored value, so the one value-granular
    * count table `streamingKsCounts` maintains answers both drift
    * statistics (the reason the state is not pre-banded). */
  def psiDriftAt(spark: SparkSession, countsPath: String,
                 bandCents: Long = 500L): DataFrame =
    graft.operators.EventAnalytics.psiFromValueCounts(
      ksCountsAt(spark, countsPath), bandCents)

  /** Streaming temperature-mixture maintenance — `Sampling
    * .temperatureMixture`'s incremental form (the mixture a continuously-
    * ingesting multilingual pipeline re-balances on): per-language
    * (n_docs, chars) counts are additive integers, so each micro-batch
    * writes its own partial ([[epochPartials]] scaffold) and
    * `temperatureMixtureAt` answers the weights from the folded state
    * without re-reading the corpus. */
  def streamingLangCounts(docs: DataFrame, countsPath: String,
                          checkpointDir: String): StreamingQuery =
    epochPartials(docs, countsPath, checkpointDir)(
      graft.operators.Sampling.langCounts)

  /** The maintained (lang, n_docs, chars_l) state, folded. */
  def langCountsAt(spark: SparkSession, countsPath: String): DataFrame =
    epochsAt(spark, countsPath)
      .groupBy("lang")
      .agg(sum("n_docs").as("n_docs"), sum("chars_l").as("chars_l"))

  /** The temperature-T=2 sampling weights from the maintained state. */
  def temperatureMixtureAt(spark: SparkSession, countsPath: String,
                           budget: Long = 1000000L): DataFrame =
    graft.operators.Sampling.temperatureMixtureFromCounts(
      langCountsAt(spark, countsPath), budget)

  /** Streaming contingency-table maintenance — the incremental form of
    * BOTH `TableStats.chiSquare` (q118) and `TableStats.mutualInformation`
    * (q253): the (a, b) cell counts are additive integers, so each
    * micro-batch writes its own cell partial ([[epochPartials]] scaffold)
    * and the readers below re-derive marginals, chi-square, and MI from
    * the folded |a|x|b|-bounded state — never the raw rows. */
  def streamingCellCounts(rows: DataFrame, cellsPath: String,
                          checkpointDir: String, aCol: String = "source",
                          bCol: String = "lang"): StreamingQuery =
    epochPartials(rows, cellsPath, checkpointDir)(b =>
      b.groupBy(col(aCol).as("a"), col(bCol).as("b"))
        .agg(count(lit(1)).as("o")))

  /** The maintained (a, b, o) cell table, folded across epochs and
    * memoized (it feeds marginals, the total, and the output join). */
  def cellCountsAt(spark: SparkSession, cellsPath: String): DataFrame =
    graft.operators.PlanCache.memo(
      epochsAt(spark, cellsPath).groupBy("a", "b").agg(sum("o").as("o")))

  /** Chi-square from the maintained cells — batch `chiSquare` rows over
    * the union corpus, no raw-row access. */
  def chiSquareStreamedAt(spark: SparkSession, cellsPath: String,
                          aCol: String = "source",
                          bCol: String = "lang"): DataFrame =
    graft.operators.TableStats.chiSquareFromCells(
      cellCountsAt(spark, cellsPath), aCol, bCol)

  /** Mutual information from the maintained cells — batch
    * `mutualInformation` rows over the union corpus. */
  def mutualInformationStreamedAt(spark: SparkSession, cellsPath: String,
                                  aCol: String = "source",
                                  bCol: String = "lang"): DataFrame =
    graft.operators.TableStats.mutualInformationFromCells(
      cellCountsAt(spark, cellsPath), aCol, bCol)

  /** Compaction for the cell-count epochs — same contract: re-sums the
    * additive counts into one epoch partition. */
  def compactCellCountsAt(spark: SparkSession, cellsPath: String): Unit =
    compactEpochs(spark, cellsPath)(st =>
      st.groupBy("a", "b").agg(sum("o").as("o")))

  /** Streaming eval-family maintenance — input batches use the
    * [[labeledEmbeddingsSchema]] landing-dir format — the incremental
    * form of the eval triad (q199 AUC, q216 lift, q221 calibration): the
    * linear-probe
    * score is row-local (`Similarity.linearProbeScored`), so each
    * micro-batch writes its scored rows (vec_id, label, f) as its partial
    * ([[epochPartials]] scaffold) — three narrow columns instead of the
    * 1024-float embeddings, ~300× smaller state — and the readers below
    * re-derive all three artifacts from the folded frame through the SAME
    * `FromScored`/`FromCells` code paths the batch operators use, so
    * parity is by construction. Per-row state (not just (f,label,cnt)
    * cells) because the lift table's decile assignment tie-breaks on
    * vec_id, a per-row identity the cells erase; AUC and calibration
    * derive their cells from the same frame via
    * `Similarity.scoreCellsFromScored`. */
  def streamingScoredVectors(vectors: DataFrame, scoredPath: String,
                             checkpointDir: String): StreamingQuery =
    epochPartials(vectors, scoredPath, checkpointDir)(
      graft.operators.Similarity.linearProbeScored)

  /** The maintained scored frame (vec_id, label, f), memoized (it feeds
    * all three eval readers). */
  def scoredVectorsAt(spark: SparkSession, scoredPath: String): DataFrame =
    graft.operators.PlanCache.memo(
      epochsAt(spark, scoredPath).select("vec_id", "label", "f"))

  /** One-vs-rest AUC from the maintained scored frame — batch
    * `separabilityAuc` rows over the union corpus, no embedding access. */
  def aucStreamedAt(spark: SparkSession, scoredPath: String): DataFrame =
    graft.operators.Similarity.separabilityAucFromCells(
      graft.operators.Similarity.scoreCellsFromScored(
        scoredVectorsAt(spark, scoredPath)))

  /** Streaming RFM maintenance — `EventAnalytics.rfmSegments`' incremental
    * form (the CRM segmentation that should track the live purchase
    * stream): per-user last-purchase ts is max-mergeable and count/cents
    * are additive, so each micro-batch writes its per-user partial
    * ([[epochPartials]] scaffold) and `rfmSegmentsAt` re-quartiles from
    * the folded state without replaying the stream. */
  def streamingRfmStats(events: DataFrame, statsPath: String,
                        checkpointDir: String): StreamingQuery =
    epochPartials(events, statsPath, checkpointDir)(
      graft.operators.EventAnalytics.rfmUserStats)

  /** The maintained (user_id, last_ts, frequency, monetary_cents) state. */
  def rfmStatsAt(spark: SparkSession, statsPath: String): DataFrame =
    epochsAt(spark, statsPath)
      .groupBy("user_id")
      .agg(max("last_ts").as("last_ts"), sum("frequency").as("frequency"),
        sum("monetary_cents").as("monetary_cents"))

  /** The RFM quartile segments from the maintained state. */
  def rfmSegmentsAt(spark: SparkSession, statsPath: String): DataFrame =
    graft.operators.EventAnalytics.rfmFromUserStats(rfmStatsAt(spark, statsPath))

  /** Replace the keyed table at `path` with `df` through the
    * generation-pointer protocol ([[graft.operators.GenDir]]): the new
    * table lands as the next `gen=N` beside the serving one and the
    * pointer flips once complete — a concurrent reader resolves the old
    * or the new table, never a missing one, and a crash before the flip
    * leaves the serving table untouched (keep=2 reader window, the rule
    * every generation store shares). */
  private def replaceState(spark: SparkSession, path: String,
                           df: DataFrame): Unit = {
    val gd = graft.operators.GenDir
    gd.rewrite(spark, path)(df.write.mode("overwrite").parquet(_))
    gd.pruneGens(spark, path)
  }

  /** Streaming shingle-novelty — `Dedup.shingleNovelty`'s incremental form
    * for doc_id-ordered arrival (the crawl-frontier scoring loop: each
    * batch of fetched docs is scored for what it ADDS before it is
    * admitted). State is the corpus-wide (shingle, first_doc)
    * first-occurrence table — MIN-mergeable, so re-applying a retried
    * batch is a no-op (idempotence from the merge algebra rather than
    * replace-by-partition). Novelty is computed AFTER the merge, from the
    * merged table, so a retry recomputes byte-identical rows; the per-doc
    * outputs land under `epoch=<n>` partitions at `outPath`
    * (replace-by-partition, the [[epochPartials]] contract).
    *
    * Per-batch cost: one keyed join of the batch's shingles against the
    * maintained table (one state scan — the honest price of exact
    * first-occurrence semantics) plus the min-merge write. For doc_id-ordered
    * arrival the union of per-epoch outputs equals batch `shingleNovelty`
    * over the full corpus (StreamingSpec parity). */
  def streamingNovelty(docs: DataFrame, statePath: String, outPath: String,
                       checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // localCheckpoint: the shingle explode feeds three consumers
          // (batch-first agg, novelty join, merge) — compute it once
          val bsh = graft.operators.Dedup.shingles(batch.toDF()).localCheckpoint()
          val bFirst = bsh.groupBy("shingle").agg(min("doc_id").as("b_first"))
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val stateDir = resolveStateDir(spark, statePath)
          val prior =
            if (fs.exists(new org.apache.hadoop.fs.Path(stateDir)))
              spark.read.parquet(stateDir)
            else bFirst.limit(0).select(col("shingle"),
              col("b_first").as("first_doc"))
          // merged first occurrence for every shingle the batch touches;
          // min is idempotent, so a retry sees the same values
          val mergedBatch = bFirst
            .join(prior.hint("SHUFFLE_HASH"), Seq("shingle"), "left")
            .select(col("shingle"),
              least(coalesce(col("first_doc"), col("b_first")), col("b_first"))
                .as("first_doc"))
            .localCheckpoint() // severs lineage from statePath before the swap
          val nov = bsh
            .join(mergedBatch.hint("SHUFFLE_HASH"), Seq("shingle"))
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_shingles"),
              sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
                .as("n_novel"))
            .select(col("doc_id"), col("n_shingles"), col("n_novel"),
              expr("round(CAST(n_novel AS DOUBLE) / n_shingles, 6)").as("novelty"))
          writeEpoch(nov, outPath, epoch)
          // full new state = untouched rows + merged touched rows
          val untouched = prior
            .join(bFirst.select("shingle").hint("SHUFFLE_HASH"),
              Seq("shingle"), "left_anti")
          replaceState(spark, statePath, untouched.unionByName(mergedBatch))
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The per-batch novelty results as one table (epoch dropped). */
  def noveltyAt(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .select("doc_id", "n_shingles", "n_novel", "novelty")

  /** Streaming block dedup — `Dedup.blockDedup`'s incremental form, the
    * rewrite sibling of [[streamingNovelty]] (same contract: MIN-mergeable
    * first-occurrence state — here lexicographic (fdoc, fidx) per block —
    * novelty-after-merge so retries are byte-identical, outputs
    * replace-by-epoch). Each batch of docs is rewritten against every
    * block the corpus has EVER seen without rescanning earlier docs. */
  def streamingBlockDedup(docs: DataFrame, statePath: String, outPath: String,
                          checkpointDir: String,
                          blockTokens: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val bt = blockTokens
          val blocks = batch.toDF()
            .select(col("doc_id"),
              expr(graft.operators.TextAnalysis.tokensExpr).as("toks"))
            .filter(size(col("toks")) > 0)
            .select(col("doc_id"), explode(expr(
              s"""transform(sequence(0, CAST(ceil(size(toks) / $bt.0) AS INT) - 1),
                    i -> named_struct('idx', CAST(i AS BIGINT),
                                      'blk', array_join(slice(toks, i * $bt + 1, $bt), ' ')))"""))
              .as("b"))
            .select(col("doc_id"), col("b.idx").as("idx"), col("b.blk").as("blk"))
            .localCheckpoint()
          val bFirst = blocks.groupBy("blk")
            .agg(min(struct(col("doc_id"), col("idx"))).as("bf"))
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val stateDir = resolveStateDir(spark, statePath)
          val prior =
            if (fs.exists(new org.apache.hadoop.fs.Path(stateDir)))
              spark.read.parquet(stateDir)
            else bFirst.limit(0).select(col("blk"), col("bf").as("f"))
          val mergedBatch = bFirst
            .join(prior.hint("SHUFFLE_HASH"), Seq("blk"), "left")
            .select(col("blk"),
              least(coalesce(col("f"), col("bf")), col("bf")).as("f"))
            .localCheckpoint()
          val out = blocks
            .join(mergedBatch.hint("SHUFFLE_HASH"), Seq("blk"))
            .withColumn("kept",
              col("f.doc_id") === col("doc_id") && col("f.idx") === col("idx"))
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_blocks"),
              sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
              sha2(array_join(expr(
                "transform(sort_array(collect_list(CASE WHEN kept THEN struct(idx, blk) END)), s -> s.blk)"),
                " "), 256).as("clean_sha"))
          writeEpoch(out, outPath, epoch)
          val untouched = prior
            .join(bFirst.select("blk").hint("SHUFFLE_HASH"), Seq("blk"), "left_anti")
          replaceState(spark, statePath, untouched.unionByName(mergedBatch))
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The per-batch block-dedup rewrites as one table (epoch dropped). */
  def blockDedupAt(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .select("doc_id", "n_blocks", "n_kept", "clean_sha")

  /** Streaming DSIR raw-pool maintenance — `Sampling.dsirSelect`'s
    * incremental form for the SELECTION family. The expensive half of DSIR at
    * scale is tokenizing the raw pool into hashed-unigram features; those
    * per-doc histograms are additive across appended batches, so each
    * micro-batch writes its own (doc_id, feature, n) partial
    * ([[epochPartials]] scaffold) and corpus refresh re-derives the selection
    * from the maintained state without ever re-scanning earlier documents.
    * `dsirSelectAt` anchors to the oracled batch operator (q172): selection
    * from the folded state is bit-identical to `Sampling.dsirSelect` over the
    * full pool (StreamingSpec parity). */
  def streamingDsirFeatures(docs: DataFrame, featPath: String,
                            checkpointDir: String,
                            dims: Int = 256): StreamingQuery =
    epochPartials(docs, featPath, checkpointDir)(b =>
      graft.operators.Sampling.dsirDocFeatures(b, dims))

  /** The maintained raw-pool histogram as one (doc_id, feature, n) table. */
  def dsirFeaturesAt(spark: SparkSession, featPath: String): DataFrame =
    epochsAt(spark, featPath)
      .groupBy("doc_id", "feature").agg(sum("n").as("n"))

  /** DSIR selection from the maintained state — target corpus scanned,
    * raw pool NOT (its feature state stands in for it). */
  def dsirSelectAt(spark: SparkSession, featPath: String, target: DataFrame,
                   k: Int, dims: Int = 256): DataFrame =
    graft.operators.Sampling.dsirSelectFromFeatures(
      dsirFeaturesAt(spark, featPath), target, k, dims)

  /** Streaming cohort-LTV maintenance — `EventAnalytics.cohortLtv`'s
    * incremental form. Two mergeable facts ride one kind-tagged state
    * (the `streamingLexIndex` convention): per-user signup week
    * (kind='f', MIN-mergeable — the week index is monotone in ts, so
    * min-of-weeks ≡ week-of-min and late batches can only move a user's
    * cohort EARLIER, exactly as a batch rescan would) and per-(user,
    * week) purchase cents (kind='p', additive). `cohortLtvAt` folds both
    * and re-derives the triangle through the SAME aggregation as the
    * batch operator — n_buyers stays exact because the maintained cells
    * are user-keyed. Events never rescan; the fold is state-sized. */
  def streamingCohortCells(events: DataFrame, cellsPath: String,
                           checkpointDir: String,
                           anchor: String = "2024-01-01"): StreamingQuery =
    epochPartials(events, cellsPath, checkpointDir) { b =>
      val ea = graft.operators.EventAnalytics
      val wk = (c: String) => expr(ea.weekIdxSql(c, anchor))
      val f = b.groupBy("user_id").agg(min("ts").as("first_ts"))
        .select(lit("f").as("kind"), col("user_id"),
          wk("first_ts").as("w"), lit(null).cast("long").as("cents"))
      val p = b.filter(col("event_type") === "purchase")
        .select(col("user_id"), wk("ts").as("w"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy("user_id", "w").agg(sum("c").as("cents"))
        .select(lit("p").as("kind"), col("user_id"), col("w"), col("cents"))
      f.unionByName(p)
    }

  /** The maintained LTV triangle — fold the state, then the batch
    * operator's exact aggregation shape (cells are (user, week)-keyed, so
    * the per-cell buyer count is a plain count). */
  def cohortLtvAt(spark: SparkSession, cellsPath: String): DataFrame = {
    val st = epochsAt(spark, cellsPath)
    val first = st.filter(col("kind") === "f")
      .groupBy("user_id").agg(min("w").as("cohort_week"))
    val sizes = first.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    val cells = st.filter(col("kind") === "p")
      .groupBy("user_id", "w").agg(sum("cents").as("cents"))
      .join(first.hint("SHUFFLE_HASH"), Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("w") - col("cohort_week")).as("week_offset"))
      .agg(sum("cents").as("revenue_cents"), count(lit(1)).as("n_buyers"))
    val cum = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_cents", sum("revenue_cents").over(cum))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("revenue_cents"),
        col("n_buyers"), col("cum_cents"), col("cohort_users"),
        expr("round(CAST(cum_cents AS DOUBLE) / cohort_users, 6)")
          .as("ltv_cents_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Compaction for the cohort cell epochs — min-fold the 'f' rows,
    * sum-fold the 'p' rows, same contract. */
  def compactCohortCellsAt(spark: SparkSession, cellsPath: String): Unit =
    compactEpochs(spark, cellsPath) { st =>
      val f = st.filter(col("kind") === "f")
        .groupBy("kind", "user_id").agg(min("w").as("w"))
        .withColumn("cents", lit(null).cast("long"))
        .select("kind", "user_id", "w", "cents")
      f.unionByName(st.filter(col("kind") === "p")
        .groupBy("kind", "user_id", "w").agg(sum("cents").as("cents"))
        .select("kind", "user_id", "w", "cents"))
    }

  /** Streaming Benford-digit maintenance — `EventAnalytics.benfordAudit`'s
    * incremental form, the continuous-audit use the digit test exists for
    * (fraud/sensor monitoring watches the χ² move as events arrive, it
    * doesn't re-scan history). First-digit counts are ADDITIVE, so each
    * micro-batch writes its (event_type, d, o) partial on the
    * [[epochPartials]] scaffold; `benfordAuditAt` folds the partials and
    * answers through the SAME χ² fold as the batch audit — n re-derives
    * as Σo, so the maintained answer is bit-identical to a one-shot scan
    * of the union (StreamingSpec parity). */
  def streamingBenfordDigits(events: DataFrame, countsPath: String,
                             checkpointDir: String): StreamingQuery =
    epochPartials(events, countsPath, checkpointDir)(
      b => graft.operators.EventAnalytics.benfordDigitCounts(b))

  /** The maintained audit: fold epoch partials, answer the χ². */
  def benfordAuditAt(spark: SparkSession, countsPath: String): DataFrame =
    graft.operators.EventAnalytics.benfordFromCounts(
      epochsAt(spark, countsPath)
        .groupBy("event_type", "d").agg(sum("o").as("o")))

  /** Compaction for the Benford digit epochs — same contract. */
  def compactBenfordDigitsAt(spark: SparkSession, countsPath: String): Unit =
    compactEpochs(spark, countsPath)(
      _.groupBy("event_type", "d").agg(sum("o").as("o")))

  /** Streaming inverted-index maintenance — the incremental form of
    * `TextAnalysis.postings` + `docLengths`. At 100 TB the index artifacts
    * (postings (token, doc_id, tf) + doc lengths) are exactly the corpus
    * statistics you cannot afford to re-derive per refresh: both are
    * DOC-KEYED — an appended document contributes only its own rows — so each
    * micro-batch writes its own partial index on the [[epochPartials]]
    * scaffold and the fold is a plain union, never a re-scan of earlier text.
    *
    * All artifacts ride ONE maintained table (the scaffold maintains one
    * path per stream), partitioned `(epoch, pbk)` so a term read is
    * FILE-pruned to its buckets (see [[LexPartCols]]): postings rows
    * (kind='p') carry the sha-derived `TextAnalysis.tokenBucket` AND
    * their doc's length `dl` (the serving scorer never joins doc
    * lengths), doc-length rows (kind='d', pbk=-1) stay as explicit
    * doc-keyed ground truth (zero-token documents still count toward
    * N/avgdl, exactly as in the batch index), and one ADDITIVE
    * corpus-stat partial per epoch (kind='s', pbk=-2) folds to
    * n_docs/avgdl without a doc-length pass. Append-only corpus contract
    * (the DSIR twin's rule): a re-delivered doc_id would duplicate
    * rows — upsert semantics live in [[upsertDocsAt]].
    * `bm25StreamedAt` scores the maintained index through
    * `bm25CarriedDl`, which shares its scoring tail with the batch
    * `bm25Indexed` (q110), so streamed-vs-batch parity is bit-exact
    * (StreamingSpec). */
  def streamingLexIndex(docs: DataFrame, indexPath: String,
                        checkpointDir: String): StreamingQuery =
    epochPartials(docs, indexPath, checkpointDir, LexPartCols)(lexPartial)

  /** The lex state's partition layout: `epoch` (the scaffold's
    * replace-by-partition idempotence key) THEN `pbk` — the sha-derived
    * token bucket, so a query's term read is FILE-pruned to its buckets'
    * partitions (the IVFADC treatment applied to the lexical store:
    * 64 buckets, `TextAnalysis.tokenBucket`). Doc-length rows live
    * under `pbk=-1`, the additive corpus-stat partials under `pbk=-2` — each
    * reader touches only the partitions its quantities live in. */
  private[graft] val LexPartCols = Seq("epoch", "pbk")

  /** The lex state's per-batch partial — ONE definition shared by the
    * streaming builder and the batch [[upsertDocsAt]], so an upserted
    * doc's rows are byte-identical to the rows the stream would have
    * produced. Three row kinds in one frame:
    *
    *   - `kind='p'` postings (token, doc_id, tf) CARRYING the doc's
    *     length `dl`, so the BM25 serving path never joins the
    *     corpus-sized doc-length table ([[graft.operators.TextAnalysis
    *     .bm25CarriedDl]]). One tokenization gives both: the tokens are
    *     exploded and counted per (token, doc_id, dl) with dl = the token
    *     array's size — one exchange, no join;
    *   - `kind='d'` doc-length rows (pbk=-1) — the doc-keyed ground truth
    *     the all-docs readers (TF-IDF's zero-hit frame) and takedown
    *     audits need, and what stats recompute from on a purge;
    *   - `kind='s'` ONE corpus-stat partial per batch (pbk=-2):
    *     tf=n_docs, dl=sum(dl) — ADDITIVE across epochs (the sketch-state
    *     rule), so `n_docs`/`avgdl` fold from |epochs| tiny rows instead
    *     of a full doc-length pass per serving batch. Zero-token docs
    *     count (dl=0 rows exist in docLengths), exactly as in the batch
    *     scorer's `count(*)`/`avg(dl)`. */
  private def lexPartial(b: DataFrame): DataFrame = {
    val ta = graft.operators.TextAnalysis
    val p = b.select(col("doc_id"), expr(ta.tokensExpr).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("token", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .select(lit("p").as("kind"), col("token"), col("doc_id"), col("tf"),
        expr(ta.tokenBucketExpr("token")).as("pbk"), col("dl"))
    val d = ta.docLengths(b)
      .select(lit("d").as("kind"), lit(null).cast("string").as("token"),
        col("doc_id"), lit(null).cast("long").as("tf"),
        lit(-1L).as("pbk"), col("dl").cast("long").as("dl"))
    p.unionByName(d).unionByName(lexStatsRows(d)).sortWithinPartitions(LexFileOrder: _*)
  }

  /** The row order inside every lex state file: the write's own sort by
    * bucket, extended by token and doc. A bucket file then holds each
    * token's postings together, which parquet's dictionary and run-length
    * encodings store about 2% smaller than hash-aggregate order (the
    * serve benchmark's 500-doc state), and the write needs no sort of its
    * own. */
  private val LexFileOrder = Seq(col("pbk"), col("token"), col("doc_id"))

  /** Recompute the `kind='s'` corpus-stat partials from doc-length rows,
    * one per epoch present (epochless input — a fresh partial — yields
    * one row): tf carries n_docs, dl carries sum(dl). Shared by the
    * partial builder (fresh batch) and the purge paths (per-epoch
    * recompute over survivors, riding the swap's full rewrite). */
  private def lexStatsRows(dRows: DataFrame): DataFrame = {
    val d = dRows.filter(col("kind") === "d")
    val keyed = if (d.columns.contains("epoch")) d.groupBy("epoch") else d.groupBy()
    val agg = keyed.agg(count(lit(1)).as("n"),
      coalesce(sum("dl"), lit(0L)).as("sdl"))
    val base = agg.select(
      (lit("s").as("kind") +: lit(null).cast("string").as("token") +:
        lit(null).cast("long").as("doc_id") +: col("n").as("tf") +:
        lit(-2L).as("pbk") +: col("sdl").as("dl") +:
        (if (agg.columns.contains("epoch")) Seq(col("epoch")) else Nil)): _*)
    base
  }

  /** The maintained corpus statistics, folded from the additive
    * `kind='s'` partials — (n_docs, avgdl) as one row, reading ONLY the
    * pbk=-2 partitions (|epochs| rows). `sum_dl / n_docs` in double math
    * equals the batch scorer's `avg(dl)` exactly (integer-valued double
    * sums are exact far past any real corpus size), which is what keeps
    * the carried-dl scorer byte-identical to [[graft.operators
    * .TextAnalysis.bm25Indexed]]. */
  def lexCorpusStatsAt(spark: SparkSession, indexPath: String): DataFrame =
    lexStatsFold(epochsAt(spark, indexPath))

  /** The stats fold over an already-read state frame (one resolve per
    * reader — see [[bm25StreamedAt]]). */
  private def lexStatsFold(st: DataFrame): DataFrame =
    st.filter(col("pbk") === -2)
      .agg(sum("tf").cast("double").as("n_docs"),
        (sum("dl").cast("double") / sum("tf").cast("double")).as("avgdl"))

  /** Per-bucket health stats for the maintained lex state — the lexical
    * twin of [[graft.operators.Similarity.ivfCellStats]], completing the
    * monitor half of the monitor→remediate loop on this store family:
    * `n_postings`/`share` expose token-bucket skew (a Zipf-heavy corpus
    * loads a few buckets, so their file-pruned term reads scan more than
    * their share), `n_terms` says whether a hot bucket is many tokens or
    * one hot token (a hot TOKEN is irreducible — scoring it must read its
    * postings; a hot BUCKET of many tokens is a layout problem), and
    * `n_files` exposes wave fragmentation (each ingest wave appends one
    * file set per touched bucket — the signal to run
    * [[compactLexIndexAt]], which resets the state to one epoch). One
    * bucket-keyed aggregate over the postings rows plus a bounded
    * driver-side listing (|epochs| × 64 bucket dirs) of the SAME resolved
    * generation; output (pbk, n_postings, n_terms, share, n_files, bytes)
    * sorted by pbk. */
  def lexBucketStatsAt(spark: SparkSession, indexPath: String): DataFrame = {
    val dir = resolveStateDir(spark, indexPath)
    val p = readStateDir(spark, indexPath, dir).filter(col("kind") === "p")
    val counts = p.groupBy(col("pbk").cast("long").as("pbk"))
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("token")).as("n_terms"))
    val total = counts.agg(sum("n_postings").cast("double").as("n_total"))
    import spark.implicits._
    val layout = lexBucketFileStats(spark, dir).toDF("pbk", "n_files", "bytes")
    counts.join(broadcast(layout), Seq("pbk"))
      .crossJoin(broadcast(total))
      .select(col("pbk"), col("n_postings"), col("n_terms"),
        round(col("n_postings").cast("double") / col("n_total"), 6)
          .as("share"),
        col("n_files"), col("bytes"))
      .orderBy("pbk")
  }

  /** Driver-side (n_files, bytes) per postings bucket across the epoch
    * dirs of an ALREADY-RESOLVED state dir — bounded by |epochs| × 64
    * listings, the lex twin of
    * [[graft.operators.CellStore.cellFileStats]]. The doc-length (pbk=-1)
    * and stat-partial (pbk=-2) partitions are skipped: the monitor reads
    * postings fragmentation only. */
  private def lexBucketFileStats(spark: SparkSession,
                                 dir: String): Seq[(Long, Int, Long)] = {
    val rootP = new org.apache.hadoop.fs.Path(dir)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return Nil
    val acc = scala.collection.mutable.Map.empty[Long, (Int, Long)]
    for {
      e <- fs.listStatus(rootP)
      if e.isDirectory && e.getPath.getName.startsWith("epoch=")
      b <- fs.listStatus(e.getPath)
      if b.isDirectory && b.getPath.getName.startsWith("pbk=")
      pbk = b.getPath.getName.stripPrefix("pbk=").toLong
      if pbk >= 0
    } {
      val files = fs.listStatus(b.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val (n0, s0) = acc.getOrElse(pbk, (0, 0L))
      acc(pbk) = (n0 + files.length, s0 + files.map(_.getLen).sum)
    }
    acc.toSeq.map { case (k, (n, b)) => (k, n, b) }.sortBy(_._1)
  }

  /** Replace-by-id upsert into the maintained lex state — the batch twin
    * of one streamed ingest wave, and the heal half of the takedown pair
    * ([[deleteDocsAt]] purges; this re-admits or replaces). Any existing
    * rows of the incoming doc_ids are purged first via the same staged
    * epoch-tree swap as a delete — SKIPPED entirely when none exist (the
    * pure-append fast path: a readmit after a takedown, or genuinely new
    * docs, costs ONE new epoch partition and never rewrites the state) —
    * then the docs' partial rows land as a fresh epoch dir (max existing
    * epoch + 1, through the stream's own [[writeEpoch]]; a retry after a
    * crashed append finds the docs' rows and purges them first, so it
    * never double-counts). Because the state keeps
    * raw doc-keyed rows and derives df/N/avgdl at read time, delete +
    * readmit of the same docs is an IDENTITY on every reader — the
    * contract q302/q303 hash-check against the never-deleted oracles. */
  def upsertDocsAt(spark: SparkSession, path: String,
                   docs: DataFrame): Unit = {
    val ids = docs.select("doc_id").distinct()
    // left_semi on doc_id: the NULL-keyed kind='s' stat rows never match,
    // so the fast path is decided by genuine doc rows only
    val hasOld = !epochsAt(spark, path)
      .join(broadcast(ids), Seq("doc_id"), "left_semi").isEmpty
    if (hasOld) swapEpochState(spark, path, LexPartCols) { st =>
      val kept = st.filter(col("kind") =!= "s")
        .join(broadcast(ids), Seq("doc_id"), "left_anti")
      // the purged docs no longer count toward n_docs/avgdl: recompute
      // the per-epoch stat partials from the survivors (free — the swap
      // rewrites every row anyway); the appended wave below carries its
      // own fresh partial
      kept.unionByName(lexStatsRows(kept))
    }
    // the next epoch from the serving dir's epoch dir names (a compacted
    // state's only epoch is -1, an empty one has none: both append at 0)
    val dir = resolveStateDir(spark, path)
    writeEpoch(lexPartial(docs), dir, (epochsIn(spark, dir) :+ -1L).max + 1L,
      LexPartCols)
  }

  /** The lex state's READMIT lifecycle (q302/q303's lexical leg): the
    * ensureLexDeletedState build (3 waves + mid-lifecycle compaction +
    * [[deleteLexDocsAt]] of every doc_id % delMod == delRes), then the purged
    * docs RE-INGESTED through [[upsertDocsAt]] — the takedown-then-
    * reingest flow. The readmitted rows are batch-identical to the rows
    * the stream originally produced (shared [[lexPartial]]), so every
    * reader over the healed state equals the never-deleted corpus — the
    * oracle is q258's full-corpus twin verbatim. */
  def ensureLexReadmittedState(spark: SparkSession, documents: DataFrame,
                               sfDir: String, delMod: Int = 5,
                               delRes: Int = 3): String = {
    val pred = pmod(col("doc_id"), lit(delMod)) === delRes
    streamedState(spark, documents, sfDir, s"lexreadmit-m${delMod}r$delRes",
      "doc_id", "documents.parquet", waves = 3, compactAfterWave = 2,
      compactLexIndexAt, s"readmit=mod${delMod}eq$delRes")(
      (sd, o, ckpt) => streamingLexIndex(sd, o, ckpt)) { (sp, out) =>
      deleteLexDocsAt(sp, out, pred)
      upsertDocsAt(sp, out, documents.filter(pred))
    }
  }

  /** The maintained postings table (token, doc_id, tf, pbk) — only the
    * pbk>=0 partitions hold postings rows, so the read never opens the
    * doc-length or stat partitions. */
  def lexPostingsAt(spark: SparkSession, indexPath: String): DataFrame =
    epochsAt(spark, indexPath).filter(col("pbk") >= 0)
      .select("token", "doc_id", "tf", "pbk")

  /** BM25 over the maintained index — same rows as batch `bm25Indexed`
    * over a from-scratch index of the union corpus, through the
    * carried-dl scorer: the `(epoch, pbk)` layout makes the bucket cut a
    * PARTITION filter (file pruning at the source), postings rows carry
    * their doc's length (no corpus-sized doc-length join), and
    * `n_docs`/`avgdl` fold from the additive per-epoch stat partials
    * (|epochs| rows) instead of a doc-length pass per call. */
  def bm25StreamedAt(spark: SparkSession, indexPath: String,
                     terms: Seq[String], k1: Double = 1.2,
                     b: Double = 0.75): DataFrame = {
    val ta = graft.operators.TextAnalysis
    val buckets = terms.map(ta.tokenBucket(_).toInt).distinct
    // ONE resolve for postings AND stats: two resolves could straddle a
    // concurrent generation flip and score one generation's postings
    // against the other's corpus statistics
    val st = epochsAt(spark, indexPath)
    ta.bm25CarriedDl(
      st.filter(col("pbk").isin(buckets: _*))
        .select("token", "doc_id", "tf", "dl"),
      lexStatsFold(st), terms, k1, b)
  }

  /** TF-IDF over the maintained index — `tfidfIndexed` on the same
    * (postings, doclens) state `bm25StreamedAt` reads, so ONE maintained
    * lex index answers both scorers. Matches batch
    * `TextAnalysis.tfidf(unionCorpus, terms)` byte-for-byte: the reader
    * keeps the all-docs frame (zero-hit docs score 0.0) because the
    * doc-length rows cover every ingested doc. Same (kind, pbk) pruning
    * as the BM25 reader. */
  def tfidfStreamedAt(spark: SparkSession, indexPath: String,
                      terms: Seq[String]): DataFrame = {
    val ta = graft.operators.TextAnalysis
    val buckets = terms.map(ta.tokenBucket(_).toInt).distinct
    val st = epochsAt(spark, indexPath)
    // TF-IDF's vector-space frame weights the WHOLE corpus (zero-hit docs
    // score 0.0), so the doc-length table is a genuine input here — read
    // partition-pruned from its pbk=-1 dirs out of the SAME resolved
    // state frame, unlike the BM25 serving path which never touches it
    ta.tfidfIndexed(
      st.filter(col("pbk").isin(buckets: _*))
        .select("token", "doc_id", "tf"),
      st.filter(col("pbk") === -1).select("doc_id", "dl"),
      terms)
  }

  /** Streaming per-group term-count maintenance — the incremental form of
    * the corpus-health trio: `zipfSlope` (q183), `sourceEntropy` (q198),
    * and `jsdSources` (q197) all fold from the SAME additive
    * (g, token, c) state (vocab×groups-bounded, never corpus-bounded).
    * Each micro-batch writes its own count partial ([[epochPartials]]
    * scaffold); the readers below re-run the batch operators' FromCounts
    * forms on the folded table — byte-equal to a from-scratch pass over
    * the union corpus. */
  def streamingGroupTermCounts(docs: DataFrame, countsPath: String,
                               checkpointDir: String,
                               groupCol: String = "source"): StreamingQuery =
    epochPartials(docs, countsPath, checkpointDir)(b =>
      graft.operators.TextAnalysis.groupTermCounts(b, groupCol))

  /** The maintained (g, token, c) table, folded across epochs and
    * memoized (zipf/entropy/JSD each consume it more than once). */
  def groupTermCountsAt(spark: SparkSession, countsPath: String): DataFrame =
    graft.operators.PlanCache.memo(
      epochsAt(spark, countsPath).groupBy("g", "token")
        .agg(sum("c").as("c")))

  /** Zipf slope per group from the maintained counts. */
  def zipfSlopeStreamedAt(spark: SparkSession, countsPath: String,
                          groupCol: String = "source"): DataFrame =
    graft.operators.TextAnalysis.zipfSlopeFromCounts(
      groupTermCountsAt(spark, countsPath), groupCol)

  /** Unigram entropy + lexical diversity per group from the maintained
    * counts. */
  def sourceEntropyStreamedAt(spark: SparkSession, countsPath: String,
                              groupCol: String = "source"): DataFrame =
    graft.operators.TextAnalysis.sourceEntropyFromCounts(
      groupTermCountsAt(spark, countsPath), groupCol)

  /** Pairwise JSD between group unigram distributions from the maintained
    * counts. */
  def jsdSourcesStreamedAt(spark: SparkSession,
                           countsPath: String): DataFrame =
    graft.operators.TextAnalysis.jsdSourcesFromCounts(
      groupTermCountsAt(spark, countsPath))

  /** Compaction for the term-count epochs — re-sums the additive counts
    * into one epoch partition. */
  def compactGroupTermCountsAt(spark: SparkSession,
                               countsPath: String): Unit =
    compactEpochs(spark, countsPath)(st =>
      st.groupBy("g", "token").agg(sum("c").as("c")))

  /** Term burstiness (q184's operator) over the maintained lex index —
    * cf = sum(tf), df = postings-row count per token, exactly the
    * `termBurstiness` quantities (one row per (token, doc) under the
    * append-only contract). The fourth reader on the lex-index state. */
  def burstinessStreamedAt(spark: SparkSession, indexPath: String,
                           minDf: Int = 5, k: Int = 20): DataFrame =
    lexPostingsAt(spark, indexPath)
      .groupBy("token")
      .agg(sum("tf").as("cf"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .withColumn("burstiness", expr("round(CAST(cf AS DOUBLE) / df, 6)"))
      .orderBy(desc("burstiness"), desc("cf"), asc("token")).limit(k)

  /** Vocabulary heavy-hitters over the maintained index — batch
    * `TextAnalysis.topTokens(unionCorpus, k)` from the SAME postings
    * state: n_occurrences = sum(tf), n_docs = postings-row count (one row
    * per (token, doc) under the append-only contract; compaction
    * re-groups, preserving both). The third reader on one maintained lex
    * index (BM25, TF-IDF, vocabulary audit). No bucket pruning — a global
    * top-k reads every token's row, but the state is vocab-sized, not
    * corpus-sized, and only k rows cross to the driver. */
  def topTokensStreamedAt(spark: SparkSession, indexPath: String,
                          k: Int = 20): DataFrame =
    lexPostingsAt(spark, indexPath)
      .groupBy("token")
      .agg(sum("tf").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(desc("n_occurrences"), asc("token")).limit(k)

  /** Compaction for the lex-index epochs — same contract. The fold
    * re-groups every row by (kind, token, doc_id, pbk): postings sum tf
    * and keep their doc's length, the stat partials sum both counts, and
    * a doc-length row — one per doc under the append-only contract —
    * comes out as it went in (idempotent under exactly-once epochs;
    * convergent if a violated contract ever left split postings).
    *
    * The state is repartitioned by bucket FIRST: pbk is one of the
    * fold's keys, so the grouping needs no exchange of its own — one
    * shuffle in all — and every bucket value sits in one task → ONE file
    * per (epoch=-1, pbk) dir: the defragmentation half of the compaction
    * contract (the IVF compactor's repartition(cell) rule). Without it the
    * fold's tasks would scatter every bucket across up to
    * shuffle.partitions files — GROWING the per-bucket open cost the
    * compaction exists to reset (lexBucketStatsAt's n_files is the monitor
    * that catches it). Parallelism = |buckets|, the layout's own
    * granularity; spark.sql.files.maxRecordsPerFile bounds single-file
    * size if a bucket outgrows one file. */
  def compactLexIndexAt(spark: SparkSession, indexPath: String): Unit =
    compactEpochs(spark, indexPath, LexPartCols)(
      _.repartition(col("pbk"))
        .groupBy("kind", "token", "doc_id", "pbk")
        .agg(sum("tf").as("tf"),
          when(col("kind") === "s", sum("dl")).otherwise(max("dl")).as("dl"))
        .select("kind", "token", "doc_id", "tf", "pbk", "dl")
        .sortWithinPartitions(LexFileOrder: _*))

  /** Streaming Merkle-manifest maintenance — `Sketches.merkleManifest`'s
    * incremental form, making its "re-hashes only buckets whose rows
    * changed" note concrete. The maintained state is the bucket-partitioned
    * leaf table; each micro-batch upserts its leaves by doc_id into ONLY
    * the bucket partitions it touches (dynamic partition overwrite on a
    * staged copy — the `upsertIvfAt` durability rule for a plan that reads
    * the path it replaces). Retry-safe without epoch bookkeeping because
    * leaves are content-convergent (leaf = f(doc_id, text)): re-applying a
    * batch anti-joins out its own earlier rows and rewrites identical
    * content, so digests cannot drift. Per-batch cost ~ batch leaves + the
    * touched buckets' existing leaves; untouched buckets are never read
    * (partition-pruned via the bounded touched-bucket list, <= `buckets`
    * values). `merkleManifestAt` folds the leaf table into the manifest —
    * a bucket-keyed aggregation, no corpus access. */
  def streamingMerkleLeaves(docs: DataFrame, leavesPath: String,
                            checkpointDir: String,
                            buckets: Int = 64): StreamingQuery = {
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val delta = graft.operators.Sketches.merkleLeaves(batch.toDF(), buckets)
            .localCheckpoint()
          // bounded driver collect: at most `buckets` (default 64) values
          val touched = delta.select("bucket").distinct()
            .collect().map(_.getInt(0)).toSeq
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val exists = fs.exists(new org.apache.hadoop.fs.Path(leavesPath))
          val merged =
            if (!exists) delta
            else spark.read.parquet(leavesPath)
              .filter(col("bucket").isin(touched: _*))
              .join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
              .select("bucket", "doc_id", "leaf")
              .unionByName(delta)
          val staging = s"$leavesPath.__staging/$epoch"
          merged.write.mode("overwrite").parquet(staging)
          spark.read.parquet(staging).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(leavesPath)
          fs.delete(new org.apache.hadoop.fs.Path(staging), true)
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The maintained manifest: fold the leaf table (`merkleFromLeaves`). */
  def merkleManifestAt(spark: SparkSession, leavesPath: String): DataFrame =
    graft.operators.Sketches.merkleFromLeaves(
      spark.read.parquet(leavesPath).select("bucket", "doc_id", "leaf"))

  /** Compaction for the CMS grid epochs — same contract. */
  def compactCmsGridAt(spark: SparkSession, gridPath: String): Unit =
    compactEpochs(spark, gridPath)(
      _.groupBy("j", "cell").agg(sum("cellsum").as("cellsum")))

  /** Compaction for the DDSketch bucket epochs — same contract. */
  def compactDdBucketsAt(spark: SparkSession, bucketsPath: String,
                         groupCol: String): Unit =
    compactEpochs(spark, bucketsPath)(
      _.groupBy(groupCol, "bucket").agg(sum("cnt").as("cnt")))

  /** Compaction for the KMV sketch epochs — same contract; the fold is
    * the k-min-of-distinct merge, so the single surviving partition IS
    * the exact maintained sketch. */
  def compactKmvSketchAt(spark: SparkSession, sketchPath: String,
                         k: Int = 256): Unit =
    compactEpochs(spark, sketchPath)(df =>
      graft.plans.GroupedTopK(df.select("g", "h").distinct(),
        Seq(col("g")), Seq(asc("h")), k).select("g", "h"))

  /** Compaction for the KS count epochs — same contract. */
  def compactKsCountsAt(spark: SparkSession, countsPath: String): Unit =
    compactEpochs(spark, countsPath)(
      _.groupBy("event_type", "v")
        .agg(sum("c1").as("c1"), sum("c2").as("c2")))

  def compactRfmStatsAt(spark: SparkSession, statsPath: String): Unit =
    compactEpochs(spark, statsPath)(
      _.groupBy("user_id")
        .agg(max("last_ts").as("last_ts"), sum("frequency").as("frequency"),
          sum("monetary_cents").as("monetary_cents")))

  /** Streaming kNN-audit maintenance — the incremental form of
    * `Similarity.knnConfusion` and `Similarity.knnLabelNoise` for a
    * PINNED probe set against a growing corpus (the production shape:
    * the probes are the labeled eval sample — `Similarity.knnProbes`'
    * fixed-count hash-ordered draw, or any frozen benchmark set — and
    * each arriving embedding batch may change their neighbourhoods).
    *
    * State = per-probe top-`k` labeled neighbour candidates. Top-k rows
    * are k-bounded MERGEABLE state (the KMV k-min argument: the top-k
    * over a union corpus equals the top-k of unioned per-batch top-k's),
    * so each micro-batch scores probes × batch through the same
    * GroupedTopK path as the batch audit and writes ≤ |probes|·k rows
    * under its epoch partition ([[epochPartials]] scaffold — retries
    * replace their own partition). Readers fold with ONE more
    * GroupedTopK over the ≤ epochs·|probes|·k state rows; no arriving
    * batch is ever rescanned. */
  def streamingKnnAudit(vecs: DataFrame, probes: DataFrame,
                        statePath: String, checkpointDir: String,
                        k: Int = 4): StreamingQuery =
    epochPartials(vecs, statePath, checkpointDir)(b =>
      graft.operators.Similarity.knnCandidates(
        b.select("vec_id", "embedding", "label"), probes, k))

  /** The maintained per-probe top-`k` candidate state, folded: one more
    * GroupedTopK collapses the per-epoch partials to the exact top-k over
    * everything that has arrived. `k` must match the maintainer's. */
  def knnCandidatesAt(spark: SparkSession, statePath: String,
                      k: Int = 4): DataFrame =
    graft.plans.GroupedTopK(
        epochsAt(spark, statePath)
          .select("query_id", "query_label", "vec_id", "label", "fx"),
        Seq(col("query_id")), Seq(desc("fx"), asc("vec_id")), k)
      .select("query_id", "query_label", "vec_id", "label", "fx")

  /** The confusion matrix from the maintained state — byte-identical to
    * batch `knnConfusion` over the union corpus with the same probes. */
  def knnConfusionAt(spark: SparkSession, statePath: String,
                     k: Int = 4): DataFrame =
    graft.operators.Similarity.confusionFromCandidates(
      knnCandidatesAt(spark, statePath, k))

  /** The per-probe label-noise audit from the maintained state —
    * byte-identical to batch `knnLabelNoise` over the union corpus when
    * the probes are the full collection. */
  def knnLabelNoiseAt(spark: SparkSession, statePath: String,
                      k: Int = 4): DataFrame =
    graft.operators.Similarity.labelNoiseFromCandidates(
      knnCandidatesAt(spark, statePath, k), k)

  /** The hubness audit from the maintained state — k-occurrence of each
    * vector across the probes' maintained neighbour lists (fixed-point
    * candidate ranks, the audit-family convention). */
  def knnHubnessAt(spark: SparkSession, statePath: String, k: Int = 4,
                   maxHubs: Int = 20): DataFrame =
    graft.operators.Similarity.hubnessFromCandidates(
      knnCandidatesAt(spark, statePath, k), maxHubs)

  /** Streaming centroid-drift maintenance — `Similarity.centroidDrift`'s
    * incremental form (the "did my embedding distribution move" monitor
    * kept live as batches arrive): per-(label, half, dim) fixed-point
    * component sums and per-(label, half) counts are all ADDITIVE, so
    * each micro-batch writes its partial ([[epochPartials]] scaffold) and
    * `centroidDriftAt` folds with one keyed sum — never rescanning
    * earlier batches. */
  def streamingCentroidDrift(vecs: DataFrame, statePath: String,
                             checkpointDir: String,
                             splitExpr: String = "vec_id % 2"): StreamingQuery =
    epochPartials(vecs, statePath, checkpointDir)(b =>
      graft.operators.Similarity.centroidDriftPartials(
        b.select("vec_id", "embedding", "label"), splitExpr))

  /** The drift cosines from the maintained state — byte-identical to
    * batch `centroidDrift` over everything that has arrived. */
  def centroidDriftAt(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.Similarity.centroidDriftFromPartials(
      epochsAt(spark, statePath).select("label", "grp", "i", "s"))

  /** Compaction for the kNN-audit candidate epochs — same contract; the
    * fold is the per-probe top-k merge, so the single surviving
    * partition IS the exact maintained candidate set. */
  def compactKnnAuditAt(spark: SparkSession, statePath: String,
                        k: Int = 4): Unit =
    compactEpochs(spark, statePath)(df =>
      graft.plans.GroupedTopK(
          df.select("query_id", "query_label", "vec_id", "label", "fx"),
          Seq(col("query_id")), Seq(desc("fx"), asc("vec_id")), k)
        .select("query_id", "query_label", "vec_id", "label", "fx"))
}
