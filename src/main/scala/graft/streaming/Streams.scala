package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Engine

/** Streaming extension (SURVEY §2.11): the reference's request-driven batch
  * ingest lifted to Structured Streaming, plus event-time analytics over the
  * `events` table shape.
  *
  * The chunk+embed pipeline is stateless (flatMap + project), so it lifts to
  * streaming unchanged — `Engine.ingest` is applied verbatim to a streaming
  * DataFrame. Aggregations carry watermarks so state is bounded.
  */
object Streams {

  // INVARIANT: these forced schemas describe ENGINE-OWNED landing-dir
  // formats — files are written by this library's own sinks/tests, never by
  // the driver's fixture generator, so hard-coding the physical type here is
  // safe (unlike fixture reads, which must go through `Tables` and tolerate
  // drift — see Tables.events and FixtureSanitySpec).
  val eventsSchema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
    "event_type STRING, value DOUBLE, props STRING"

  val documentsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
    "source STRING, n_chars BIGINT"

  /** Streaming ingest: watch a landing directory of document parquet files,
    * chunk + embed each micro-batch, append to the index table. */
  def streamingIngest(spark: SparkSession, landingDir: String,
                      indexDir: String, checkpointDir: String): StreamingQuery = {
    val docs = spark.readStream.schema(documentsSchema).parquet(landingDir)
    Engine.ingest(docs).writeStream
      .format("parquet")
      .option("path", indexDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming UPSERT ingest: like `streamingIngest` but each micro-batch
    * replaces the `source` partitions it touches (dynamic partition
    * overwrite via Engine.writeIndex) — the reference's replace-by-id
    * semantics (main.py:172) lifted to a stream through `foreachBatch`,
    * which is the hook for sinks whose write semantics exceed append.
    *
    * CONTRACT: a micro-batch must contain every current document of each
    * source it touches (the reference's unit of ingest is a complete PDF).
    * If one source's documents straddle two micro-batches, the second
    * batch's overwrite replaces the first's rows — size triggers
    * (`maxFilesPerTrigger`) that can split a source violate this; landing
    * whole-source files per trigger satisfies it. */
  def streamingUpsertIngest(spark: SparkSession, landingDir: String,
                            indexDir: String, checkpointDir: String): StreamingQuery = {
    val docs = spark.readStream.schema(documentsSchema).parquet(landingDir)
    Engine.ingest(docs).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) Engine.writeIndex(batch.toDF(), indexDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

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
    * `documents` alone.
    *
    * Idempotent and crash-convergent per (sfDir, fixture stamp): a marker
    * short-circuits repeat calls (bench reps measure the READ, not the
    * stream); any interrupted prefix of the copy→stream→copy→stream chain
    * re-runs safely because landing copies overwrite deterministic names
    * and a checkpointed AvailableNow run re-processes nothing. */
  def ensureStreamedJsonlState(spark: SparkSession, documents: DataFrame,
                               sfDir: String): String = {
    import graft.sources.JsonlCorpusSource
    val schema = "doc_id BIGINT, lang STRING, source STRING"
    val w0 = JsonlCorpusSource.ensureFixture(
      spark, documents.filter(pmod(col("doc_id"), lit(2)) === 0), sfDir, "w0")
    val w1 = JsonlCorpusSource.ensureFixture(
      spark, documents.filter(pmod(col("doc_id"), lit(2)) === 1), sfDir, "w1")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-jsonl-stream-" +
      graft.TmpCache.dirKey(w0 + "|" + w1 + "|" + StateFormatVersion)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
    val out = s"$base/state"
    val marker = new org.apache.hadoop.fs.Path(base, "_STATE_READY")
    if (fs.exists(marker)) return out
    graft.TmpCache.withBuildLock(base) {
      if (!fs.exists(marker)) {
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
          spark, landing.toString, out, s"$base/ckpt", schema))
        // mid-lifecycle compaction between the waves (the
        // ensureStreamedTableState convention): the q256/q257 readers then
        // answer from a state whose dir holds the compacted epoch=-1
        // partition next to wave 1's epoch — the JSONL family's
        // compactor driver-checked, not just spec-asserted. Identity
        // fold, so a crash-rerun re-compacting is a no-op.
        compactJsonlIngestAt(spark, out)
        landWave(w1, "w1")
        awaitBounded(streamingJsonlIngest(
          spark, landing.toString, out, s"$base/ckpt", schema))
        fs.create(marker, true).close()
      }
    }
    out
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

  /** [[ensureStreamedJsonlState]]'s sibling for PARQUET-fed maintainers:
    * the documents table split by doc_id parity into two waves, each
    * landed under one directory and streamed in its OWN run against one
    * checkpoint via `start(streamingDocs, statePath, ckptPath)` — so any
    * epoch-partials maintainer can be driven into a genuinely multi-epoch
    * maintained state and then declared as a driver-checked query (its
    * `...At` reader must answer the batch operator over the FULL table,
    * which the DuckDB oracle rebuilds directly). Same marker idempotence
    * and crash-convergence argument as the JSONL twin. `tag` keys the
    * cached state per maintainer. */
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
    * then [[deleteDocsAt]] purges every `doc_id % delMod == delRes`
    * document's rows AFTER all waves landed — the takedown arriving on a
    * long-lived maintained index, not folded into its build. The delete
    * predicate lives in the cache tag (the `del=modNeqR` key-material
    * convention) and the delete leg is marker-guarded separately from the
    * wave build: a crash between them re-applies an idempotent filter on
    * the next ensure. */
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
    * state would corrupt its other readers), then [[deleteDocsAt]] purges
    * every `doc_id % delMod == delRes` document's rows AFTER all waves
    * landed. The delete leg is marker-guarded separately from the wave
    * build: a crash between them re-applies an idempotent filter on the
    * next ensure. The caller's `tag` must carry the delete parameters
    * (the `del=modNeqR` key-material convention). */
  def ensureDeletedDocState(spark: SparkSession, documents: DataFrame,
                            sfDir: String, tag: String, delMod: Int,
                            delRes: Int, waves: Int = 2,
                            compactAfterWave: Int = 0,
                            compactor: (SparkSession, String) => Unit =
                              (_, _) => (),
                            deleter: (SparkSession, String,
                              org.apache.spark.sql.Column) => Unit =
                              deleteDocsAt)(
      start: (DataFrame, String, String) => StreamingQuery): String = {
    val out = ensureStreamedDocState(spark, documents, sfDir, tag,
      waves = waves, compactAfterWave = compactAfterWave,
      compactor = compactor)(start)
    val base = streamedStateBase(spark, sfDir,
      s"$tag-w$waves-c$compactAfterWave", "documents.parquet")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(base, "_DOCS_DELETED")
    if (!fs.exists(marker)) graft.TmpCache.withBuildLock(base) {
      if (!fs.exists(marker)) {
        deleter(spark, out,
          pmod(col("doc_id"), lit(delMod)) === delRes)
        fs.create(marker, true).close()
      }
    }
    out
  }

  def ensureStreamedDocState(spark: SparkSession, documents: DataFrame,
                             sfDir: String, tag: String, waves: Int = 2,
                             compactAfterWave: Int = 0,
                             compactor: (SparkSession, String) => Unit =
                               (_, _) => ())(
      start: (DataFrame, String, String) => StreamingQuery): String =
    ensureStreamedTableState(spark, documents, sfDir, tag,
      idCol = "doc_id", srcFile = "documents.parquet", waves = waves,
      compactAfterWave = compactAfterWave, compactor = compactor)(start)

  /** The table-generic form of [[ensureStreamedDocState]]: split ANY
    * fixture table by `idCol` parity into two waves and stream each
    * through `start` against one checkpoint (q260 drives `embeddings`
    * through `streamingScoredVectors` this way). `srcFile` keys the
    * cached state to the source parquet's (length, mtime) stamp so a
    * regenerated testdata dir invalidates it. */
  /** Bump whenever ANY epoch-partials maintainer changes its partial
    * schema or semantics: the persisted tmp states are keyed by (source
    * stamp, tag, THIS version), so a bump invalidates every cached state
    * instead of the `_STATE_READY` marker silently serving state written
    * by the OLD code — an AnalysisException on a missing column at best,
    * a stale-semantics parity failure at worst. */
  private val StateFormatVersion = "v4"

  private def streamedStateBase(spark: SparkSession, sfDir: String,
                                tag: String, srcFile: String): String = {
    // stat failure is LOUD by design: a silent "nostamp" fallback would
    // let a `_STATE_READY` marker keep serving state built from a
    // since-REGENERATED dataset (the stamp is the only thing tying the
    // cache to the source bytes). The read path needs this file anyway,
    // so failing here loses nothing and can never serve stale state.
    val srcStamp = {
      val sp = new org.apache.hadoop.fs.Path(s"$sfDir/$srcFile")
      val st = try {
        sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(sp)
      } catch {
        case e: Exception => throw new IllegalStateException(
          s"cannot stat $sp to stamp the cached streamed state '$tag' — " +
            "refusing to risk serving a stale cache", e)
      }
      s"${st.getLen}-${st.getModificationTime}"
    }
    // tag segment kept in the name for human readability; uniqueness comes
    // from the digest alone
    s"${System.getProperty("java.io.tmpdir")}/graft-docstream-$tag-" +
      graft.TmpCache.dirKey(
        sfDir + "|" + srcStamp + "|" + tag + "|" + StateFormatVersion)
  }

  /** Delete a cached two-wave state (marker, checkpoint, landing, state) —
    * for specs that MUTATE their state (compaction) and must rebuild
    * fresh on every run rather than inherit a prior run's mutation. */
  private[graft] def dropStreamedTableState(spark: SparkSession,
                                            sfDir: String, tag: String,
                                            srcFile: String, waves: Int = 2,
                                            compactAfterWave: Int = 0): Unit = {
    val base = new org.apache.hadoop.fs.Path(
      streamedStateBase(spark, sfDir,
        s"$tag-w$waves-c$compactAfterWave", srcFile))
    base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(base, true)
  }

  /** `waves` splits the table by `pmod(idCol, waves)` into that many
    * landing waves (one stream run each against one checkpoint).
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
      start: (DataFrame, String, String) => StreamingQuery): String = {
    require(waves >= 2, s"need >= 2 waves for a multi-epoch state; got $waves")
    require(compactAfterWave >= 0 && compactAfterWave < waves,
      s"compactAfterWave must be 0 (never) or in [1, waves-1]; got $compactAfterWave/$waves")
    val base = streamedStateBase(spark, sfDir,
      s"$tag-w$waves-c$compactAfterWave", srcFile)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
    val out = s"$base/state"
    val marker = new org.apache.hadoop.fs.Path(base, "_STATE_READY")
    if (fs.exists(marker)) return out
    graft.TmpCache.withBuildLock(base) {
      // double-checked build guard (the ensureFixture/ensurePersistedDetIvf
      // shape) — no non-local return, which would rely on
      // NonLocalReturnControl unwinding through the lock's finally blocks
      if (!fs.exists(marker)) {
        val landing = new org.apache.hadoop.fs.Path(base, "landing")
        fs.mkdirs(landing)
        val schema = table.schema
        def landWave(parity: Int): Unit = {
          val staging = new org.apache.hadoop.fs.Path(base, s"__w$parity")
          fs.delete(staging, true)
          // ONE file per wave (coalesce(1)): the landing layout must be
          // DETERMINISTIC across reruns for crash-convergence — the file
          // source's checkpoint skips already-committed paths, so a rerun
          // whose wave write produced a different part layout (e.g. after a
          // shuffle-partitions change) would ingest a mix of old-committed
          // and re-landed subsets. One deterministic path per wave means a
          // committed path == a complete wave (partials are order-insensitive
          // per-row projections/aggregates, so row order inside the file
          // doesn't matter). Stale w<parity>-* from a prior layout are
          // glob-deleted before landing.
          table.filter(pmod(col(idCol), lit(waves)) === parity)
            .coalesce(1)
            .write.mode("overwrite").parquet(staging.toString)
          Option(fs.globStatus(
              new org.apache.hadoop.fs.Path(landing, s"w$parity-*")))
            .toSeq.flatten.foreach(st => fs.delete(st.getPath, false))
          Option(fs.globStatus(new org.apache.hadoop.fs.Path(staging, "part-*")))
            .toSeq.flatten.zipWithIndex.foreach { case (st, i) =>
              val dst = new org.apache.hadoop.fs.Path(landing, s"w$parity-$i.parquet")
              require(fs.rename(st.getPath, dst), s"wave rename failed: $dst")
            }
          fs.delete(staging, true)
        }
        def wave(parity: Int): Unit = {
          landWave(parity)
          awaitBounded(start(
            spark.readStream.schema(schema).parquet(landing.toString),
            out, s"$base/ckpt"))
        }
        (0 until waves).foreach { w =>
          wave(w)
          // mid-lifecycle compaction: the maintaining stream is STOPPED
          // between waves (each wave is its own terminated AvailableNow
          // run), which is exactly compactEpochs' contract. A rerun after
          // a crash re-compacts the already-compacted state — the folds
          // are idempotent — and the checkpoint skips committed waves.
          if (w + 1 == compactAfterWave) compactor(spark, out)
        }
        fs.create(marker, true).close()
      }
    }
    out
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

  /** Compaction for the band index — rows are immutable per-doc
    * projections, so the fold is identity; partition count resets. */
  def compactMinhashBandsAt(spark: SparkSession, bandsPath: String): Unit =
    compactEpochs(spark, bandsPath)(st => st.drop("epoch"))

  /** Tumbling event-time window aggregation with a watermark (late data
    * beyond 30 minutes dropped; state bounded by watermark horizon). */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding window: 10-minute windows every 5 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Custom streaming state (§2.11 "mapGroupsWithState"): per-user running
    * totals across micro-batches — event count and value sum accumulate in
    * the state store and emit an updated row per user per batch. */
  def userRunningTotals(events: org.apache.spark.sql.Dataset[
      org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.streaming.GroupState
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[(Long, Double)]) =>
          val (prevN, prevSum) = state.getOption.getOrElse((0L, 0.0))
          var n = prevN
          var sum = prevSum
          rows.foreach { case (_, v) => n += 1; sum += v }
          state.update((n, sum))
          (userId, n, sum)
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Ordered-step funnel lifted to streaming (§2.11 custom state): per-user
    * state is the ascending list of completed-step timestamps (micros) —
    * O(|steps|) per user, watermark-free. Each micro-batch folds its rows
    * in event-time order (ties broken by step index, so a same-timestamp
    * next step does NOT advance — the batch operator's strictly-after
    * contract) and emits only the NEWLY completed (user, step, step_ts)
    * rows, so the accumulated append-mode output equals
    * `EventAnalytics.funnel` over the seen prefix whenever each user's
    * events arrive in event-time order across batches (the in-order ingest
    * contract; late cross-batch arrivals need the batch recompute, since
    * k-bounded state cannot retract a completed step). */
  def streamingFunnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty && steps.distinct.size == steps.size)
    val spark = events.sparkSession
    import spark.implicits._
    val idx = steps.zipWithIndex.toMap
    events.selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[Long], (Long, Int, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[List[Long]]) =>
          var done = state.getOption.getOrElse(Nil)
          val before = done.length
          rows.toSeq
            .sortBy { case (_, typ, ts) => (ts, idx.getOrElse(typ, Int.MaxValue)) }
            .foreach { case (_, typ, ts) =>
              if (done.length < steps.length && typ == steps(done.length) &&
                  (done.isEmpty || ts > done.last)) done = done :+ ts
            }
          if (done.length > before) state.update(done)
          done.zipWithIndex.drop(before)
            .map { case (ts, i) => (userId, i + 1, ts) }.iterator
      }
      .toDF("user_id", "step", "ts_us")
      .select(col("user_id"), col("step"),
        expr("timestamp_micros(ts_us)").as("step_ts"))
  }

  /** Retrigger/burst dedup lifted to streaming (`EventAnalytics.
    * dedupBursts`' twin): per-(user, type) state is ONE long — the last
    * SEEN event time (kept or dropped; a chain of rapid retriggers must
    * measure each gap from its immediate predecessor, so last-kept state
    * would be wrong). Each micro-batch folds its rows in (ts, event_id)
    * order and emits only burst heads. Same in-order ingest contract as
    * `streamingFunnel`: per-key arrival in event-time order across
    * batches; late arrivals need the batch recompute. */
  def streamingDedupBursts(events: DataFrame,
                           gapSeconds: Long = 3600): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(gapSeconds >= 1)
    val gapUs = gapSeconds * 1000000L
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, Long, String, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, (Long, Long, String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          var prev: Option[Long] = state.getOption
          val kept = Seq.newBuilder[(Long, Long, String, Long)]
          rows.toSeq.sortBy(r => (r._4, r._1)).foreach { case (id, u, t, ts) =>
            if (prev.forall(p => ts - p > gapUs)) kept += ((id, u, t, ts))
            prev = Some(ts)
          }
          prev.foreach(state.update)
          kept.result().iterator
      }
      .toDF("event_id", "user_id", "event_type", "ts_us")
  }

  /** Per-user EWMA of daily spend lifted to streaming
    * (`EventAnalytics.ewmaDailySpend`'s twin). State per user is the
    * retained (day -> cents) window — at most `maxDays` entries, the
    * BOUNDED tail the decay-1/2 ladder makes principled (a day beyond 32
    * half-lives is below the 6-dp boundary rounding). Each micro-batch
    * folds its rows into the window, drops days that fell off the
    * recency tail, and emits the user's refreshed (n_days, ewma) — Update
    * semantics, one row per touched user per batch. The smoothing itself
    * is the same exact-int64 2^k weighted sum as batch, so after any
    * prefix the emitted value equals the batch operator over the events
    * seen so far — EXCEPT an event for a day already aged out of the
    * window (> maxDays behind the user's newest), which the batch twin
    * also excludes; parity is exact under that shared truncation. */
  def streamingEwmaDailySpend(events: DataFrame, maxDays: Int = 32): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxDays >= 1 && maxDays <= 32, "weight ladder must fit int64/2^53")
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id",
        s"${graft.operators.EventAnalytics.dayIdxSql("ts", "2024-01-01")} AS d",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long)], (Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[Seq[(Long, Long)]]) =>
          val acc = scala.collection.mutable.Map[Long, Long]() ++
            state.getOption.getOrElse(Nil)
          rows.foreach { case (_, d, c) => acc(d) = acc.getOrElse(d, 0L) + c }
          // most recent maxDays days, newest first (rank i = 2^-i weight)
          val kept = acc.toSeq.sortBy(-_._1).take(maxDays)
          state.update(kept)
          val s = kept.zipWithIndex
            .map { case ((_, c), i) => c * (1L << (maxDays - 1 - i)) }.sum
          val ewma = BigDecimal(s.toDouble / (1L << (maxDays - 1)) / 100.0)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator((userId, kept.size.toLong, ewma))
      }
      .toDF("user_id", "n_days", "ewma")
  }

  /** Deterministic HLL distinct-count lifted to streaming
    * (`Sketches.hllDistinct`'s twin) — the live-dashboard shape: per
    * event_type, state is the 64-register sketch itself (the whole point
    * of a mergeable sketch: O(m) state per group FOREVER, no per-user
    * state), each micro-batch folds its rows in with register max, and
    * every update emits the refreshed estimate. The register recipe is
    * bit-for-bit the batch operator's (sha256("hll:" || user_id), bucket =
    * byte0 mod 64, rho over bytes 1..6, estimate = the same folded
    * numerator / exact integer register sum), so after any prefix of the
    * stream the emission EQUALS the batch operator run on that prefix —
    * the parity StreamingSpec asserts exactly that. Output per update:
    * (event_type, n_seen, n_zero, est); n_seen is monotone, so "latest
    * state" = max n_seen per key. */
  def streamingHllDistinct(events: DataFrame, p: Int = 6): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(p >= 4 && p <= 8, s"p must be in [4, 8], got $p")
    val m = 1 << p
    val numerator = graft.operators.Sketches.hllNumerator(m).toDouble
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Map[Int, Int]), (String, Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (etype, rows, state: GroupState[(Long, Map[Int, Int])]) =>
          var (nSeen, regs) = state.getOption.getOrElse((0L, Map.empty[Int, Int]))
          rows.foreach { case (_, userId) =>
            nSeen += 1
            val d = java.security.MessageDigest.getInstance("SHA-256")
              .digest(s"hll:$userId".getBytes("UTF-8")).map(_ & 0xff)
            val bucket = d(0) % m
            val bits = (1 to 6)
              .flatMap(j => (7 to 0 by -1).map(b => (d(j) >> b) & 1))
            val rho = bits.indexOf(1) match { case -1 => 49; case i => i + 1 }
            if (rho > regs.getOrElse(bucket, 0)) regs += bucket -> rho
          }
          state.update((nSeen, regs))
          val intsum = (0 until m).map(b => 1L << (49 - regs.getOrElse(b, 0))).sum
          val est = BigDecimal(numerator / intsum)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator((etype, nSeen, (m - regs.size).toLong, est))
      }
      .toDF("event_type", "n_seen", "n_zero", "est")
  }

  /** Scene-cut detection lifted to streaming (`Multimodal.sceneCuts`'
    * twin) — the live-camera shape: FRAMES arrive as a stream
    * (media_id, frame_idx, frame_bytes), per-media state is ONE
    * (last_idx, last_hash) pair, and each micro-batch folds its frames in
    * frame_idx order, emitting the transition rows. Hashing is the same
    * stub aHash unit as batch (`Multimodal.frameHash`); distance the same
    * 4x16-bit band Hamming. Same in-order ingest contract as
    * `streamingFunnel`: per-media arrival in frame order across batches.
    * Output: (media_id, frame_idx, hamming, is_cut). */
  def streamingSceneCuts(frames: DataFrame, cutDist: Int = 48): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(cutDist >= 0 && cutDist <= 64)
    val spark = frames.sparkSession
    import spark.implicits._
    frames.select(col("media_id"), col("frame_idx").cast("long"), col("frame_bytes"))
      .as[(Long, Long, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (mediaId, rows, state: GroupState[(Long, String)]) =>
          var prev = state.getOption
          val out = Seq.newBuilder[(Long, Long, Long, Long)]
          rows.toSeq.sortBy(_._2).foreach { case (_, idx, bytes) =>
            val h = graft.multimodal.Multimodal.frameHash(bytes)
            prev.foreach { case (_, ph) =>
              val d = graft.multimodal.Multimodal.hexHamming(ph, h).toLong
              out += ((mediaId, idx, d, if (d >= cutDist) 1L else 0L))
            }
            prev = Some((idx, h))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
      .toDF("media_id", "frame_idx", "hamming", "is_cut")
  }

  /** Streaming exact dedup: suppress re-deliveries of the same `event_id`
    * arriving within the watermark horizon. State is bounded — an id's
    * dedup record is dropped once the watermark passes its event time
    * (ids re-arriving later than the horizon are treated as new, the
    * standard at-least-once ingest contract). */
  def dedupEvents(events: DataFrame, horizon: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** The flagship search lifted to streaming: as chunks append to the
    * index stream, maintain the running top-k per query in the state store
    * and emit each query's refreshed result list per micro-batch. Scoring
    * is the same map-only projection as batch search (queries broadcast via
    * the crossJoin literal set); state per query is a bounded k-list —
    * O(queries x k), watermark-free. Contract: on an append-only index
    * (chunks immutable; re-deliveries allowed), the emitted top-k after any
    * prefix equals batch search over the distinct chunks seen so far.
    * Re-ingesting a chunk with changed text needs the batch rebuild path —
    * k-bounded state cannot demote below rank k. */
  def streamingTopK(index: DataFrame, queries: Seq[String], k: Int = 5):
      DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.GraftFunctions.{cosine_similarity, hash_embed}
    val spark = index.sparkSession
    import spark.implicits._
    require(queries.nonEmpty && queries.forall(_.trim.nonEmpty))
    val q = queries.toDF("query").withColumn("qvec", hash_embed(col("query")))
    val scored = index.crossJoin(broadcast(q))
      .withColumn("score", cosine_similarity(col("embedding"), col("qvec")))
      .filter(length(col("text")) > 0)
      .select(col("query"), col("id"), col("score"))
      .as[(String, String, Double)]
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[List[(String, Double)], (String, Int, String, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (query, rows, state: GroupState[List[(String, Double)]]) =>
          // dedup by chunk id, MAX score winning — deterministic regardless
          // of iterator order. On an append-only index (re-deliveries carry
          // identical scores) this makes a re-delivered chunk occupy ONE
          // rank, like batch search over distinct ids. Re-ingesting a chunk
          // with CHANGED text is out of contract for k-bounded state (a
          // demoted score cannot resurrect the truncated k+1-th entry) —
          // that path is the batch rebuild.
          val incoming = rows.map { case (_, id, s) => (id, s) }.toSeq
          val merged =
            (state.getOption.getOrElse(Nil) ++ incoming)
            .groupMapReduce(_._1)(_._2)(math.max)
            .toList
            .sortBy { case (id, s) => (-s, id) } // score desc, id asc
            .take(k)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((id, s), i) =>
            (query, i + 1, id, s)
          }
      }
      .toDF("query", "rank", "id", "score")
  }

  /** Embedding-stream schema for ANN-index maintenance. */
  // INVARIANT: engine-owned landing-dir format (see note at eventsSchema) —
  // safe to force; fixture reads must go through `Tables` instead.
  val embeddingsSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>"

  /** Streaming ANN-index maintenance — the online-vector-DB write path:
    * each micro-batch of (vec_id, embedding) rows upserts into the
    * PERSISTED IVF index via `Similarity.upsertIvfAt` (frozen centroids
    * re-assign only the delta; dynamic partition overwrite rewrites only
    * the touched cells, including the delta ids' OLD cells for moved
    * vectors). Cheap streaming upserts between periodic full refits — the
    * classic IVF maintenance contract, now fed by a stream. Exactly-once
    * per batch comes from the checkpointed epoch + replace-by-id
    * idempotence (re-running a batch rewrites the same rows). */
  def streamingIvfUpsert(spark: SparkSession, landingDir: String,
                         indexPath: String,
                         checkpointDir: String): StreamingQuery = {
    val vecs = spark.readStream.schema(embeddingsSchema).parquet(landingDir)
    vecs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        if (!batch.isEmpty)
          graft.operators.Similarity.upsertIvfAt(spark, indexPath, batch.toDF())
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming incremental dedup — the admission-control form of
    * `Similarity.rpCrossNearDupPairs`: each arriving micro-batch of
    * (vec_id, embedding) rows is near-dup-checked AGAINST THE PERSISTED
    * CORPUS before admission; duplicate pairs are reported through
    * `onDupes` (epoch-tagged), and only novel vectors append to the
    * corpus, so the corpus stays deduplicated as it grows. Per-batch work
    * ~ batch-side bucket collisions, never batch x corpus.
    *
    * The novel rows are STAGED through a temp directory and appended from
    * the materialized copy — the batch's plan reads the same corpus path
    * it is about to append to, and a lazy self-referential write could
    * otherwise re-list the directory mid-write (the `upsertIvfAt`
    * durability rule). Duplicate pairs are locally checkpointed before the
    * append for the same reason. */
  def streamingCrossDedup(spark: SparkSession, landingDir: String,
                          corpusPath: String, checkpointDir: String,
                          threshold: Double = 0.3)
                         (onDupes: (DataFrame, Long) => Unit): StreamingQuery = {
    val vecs = spark.readStream.schema(embeddingsSchema).parquet(landingDir)
    vecs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty) {
          val corpus = spark.read.parquet(corpusPath)
          val dupes = graft.operators.Similarity
            .rpCrossNearDupPairs(batch.toDF(), corpus, threshold)
            .localCheckpoint()
          onDupes(dupes, epoch)
          val novel = batch.toDF().join(
            dupes.select(col("vec_new").as("vec_id")).distinct(),
            Seq("vec_id"), "left_anti")
          // staged as a SIBLING of the corpus dir, not inside it: inside
          // relied on the underscore-hidden-path convention, and a crash
          // between write and delete would leak invisible garbage under the
          // corpus. A retried epoch reuses its path via mode=overwrite; any
          // older abandoned stage dirs are swept on the next batch.
          val staging = s"$corpusPath.__staging"
          val tmp = s"$staging/$epoch"
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val stagingPath = new org.apache.hadoop.fs.Path(staging)
          if (fs.exists(stagingPath))
            fs.listStatus(stagingPath).foreach { st =>
              if (st.getPath.getName != epoch.toString) fs.delete(st.getPath, true)
            }
          novel.write.mode("overwrite").parquet(tmp)
          spark.read.parquet(tmp).write.mode("append").parquet(corpusPath)
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Hybrid (vector + BM25) search lifted to streaming — the stats-refresh-
    * per-batch form, which is the honest contract: BM25's corpus statistics
    * (per-term df, avgdl, N) are GLOBAL aggregates that drift with every
    * appended chunk, so unlike the vector leg (per-row scoring of immutable
    * chunks — `streamingTopK`'s bounded per-query state suffices) the
    * lexical leg cannot be maintained incrementally in bounded state: one
    * new document shifts every document's score. Each micro-batch therefore
    * upserts into the persisted index table (replace-by-id via
    * `Engine.writeIndex`, same contract as `streamingUpsertIngest`), then
    * batch `hybridSearchMany` re-runs over the full table with freshly
    * derived stats, and the refreshed fused top-k per query is emitted
    * through `onResult`. Per-batch cost is one stats pass + two ranked legs
    * over the index — the price of exact stats; an approximate
    * incremental-df variant would change scores, not just staleness. */
  def streamingHybridSearch(spark: SparkSession, landingDir: String,
                            indexDir: String, checkpointDir: String,
                            queries: Seq[String], k: Int = 5)
                           (onResult: (DataFrame, Long) => Unit): StreamingQuery = {
    val docs = spark.readStream.schema(documentsSchema).parquet(landingDir)
    Engine.ingest(docs).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty) {
          Engine.writeIndex(batch.toDF(), indexDir)
          val index = Engine.readIndex(spark, indexDir)
          onResult(Engine.hybridSearchMany(index, queries, k), epoch)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  // ------------------------------------------------------------------
  // Epoch-partition maintenance scaffold
  //
  // Five maintainers (BPE vocab, CMS grid, DDSketch buckets, KMV sketch,
  // and the compaction path they share) ride the same mergeable-partials
  // contract: each micro-batch reduces to a BOUNDED partial (additive
  // counts or a k-bounded sketch) written under `epoch=<n>` with dynamic
  // partition overwrite — a RETRIED epoch rewrites exactly its own
  // partition, so per-batch delivery is idempotent (replace-by-partition,
  // the `Engine.writeIndex` contract), unlike a read-merge-rewrite of a
  // running total, which double-counts on retry. The matching `...At`
  // reader folds the partials (sum / one more GroupedTopK) without ever
  // touching raw history. The scaffold lives in exactly one place so the
  // sixth maintainer cannot diverge from the contract (the retry test in
  // StreamingSpec pins it).
  // ------------------------------------------------------------------

  /** The scaffold: per-batch `partial` → idempotent `epoch=<n>` partition
    * under the state's SERVING directory. `partial` must reduce a batch
    * to its bounded mergeable state; the fold side is the corresponding
    * `...At` reader. `partCols` is the state's partition layout — always
    * led by `epoch` (the replace-by-partition idempotence key); the lex
    * index adds its `pbk` token bucket so term reads prune at the FILE
    * level.
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
                           (partial: DataFrame => DataFrame): StreamingQuery =
    input.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty)
          partial(batch.toDF())
            .withColumn("epoch", lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partCols: _*)
            .parquet(resolveStateDir(batch.sparkSession, path))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

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

  /** The read half of [[epochsAt]] against an ALREADY-RESOLVED dir — so a
    * reader that needs several frames of one state (postings + stats)
    * resolves ONCE and can never mix two generations across its own
    * subreads. */
  private def readStateDir(spark: SparkSession, path: String,
                           dir: String): DataFrame =
    // listing/footer-inference work memoized per state snapshot
    // (Memo.loads): the stamp covers the epoch dirs and their mtimes, so a
    // new wave, a compaction or a generation rewrite reads fresh, while
    // the 50+ maintained-state readers stop re-listing and re-inferring
    // an unchanged state on every invocation. The frame stays a lazy
    // plan — every execution re-reads the parquet files.
    graft.operators.Memo.loads(spark,
        s"state|$path|$dir|${graft.operators.Memo.dirStamp(spark, dir)}") {
      if (dir != path) spark.read.parquet(dir)
      else {
        val rootP = new org.apache.hadoop.fs.Path(path)
        val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val epochDirs =
          if (!fs.exists(rootP)) Nil
          else fs.listStatus(rootP).toSeq.map(_.getPath.getName)
            .filter(_.startsWith("epoch=")).sorted.map(e => s"$path/$e")
        if (epochDirs.nonEmpty)
          spark.read.option("basePath", path).parquet(epochDirs: _*)
        else spark.read.parquet(path)
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

  /** One SHARED state read for a batch of lexical legs — the serving
    * composition (q292/q299/q303) runs one BM25 leg per query, and each
    * [[bm25StreamedAt]] call re-scans the state parquet (postings +
    * doc-lengths) per leg. This pre-filters the postings ONCE to the
    * union of all legs' token buckets and memoizes both frames
    * (PlanCache), so N legs cost one state materialization + N in-memory
    * bucket cuts. Each leg's rows are byte-identical to
    * [[bm25StreamedAt]]'s: the per-leg bucket filter over the memoized
    * superset equals the direct term-pruned read, and the scorer is the
    * same `bm25Indexed`. */
  def bm25StreamedLegsAt(spark: SparkSession, indexPath: String,
                         termsByQuery: Seq[(Long, Seq[String])],
                         k1: Double = 1.2, b: Double = 0.75)
      : Seq[String] => DataFrame = {
    val ta = graft.operators.TextAnalysis
    val allBuckets = termsByQuery.flatMap(_._2)
      .map(ta.tokenBucket(_).toInt).distinct
    val st = epochsAt(spark, indexPath)
    // the `(epoch, pbk)` layout makes this bucket cut a PARTITION filter
    // (file pruning at the source, PlanShapeSpec-pinned; INT literals so
    // the partition filter stays cast-free) — the scan reads only the
    // legs' buckets' files, never the whole postings state
    val p = graft.operators.PlanCache.memo(
      st.filter(col("pbk").isin(allBuckets: _*))
        .select("token", "doc_id", "tf", "dl", "pbk"))
    // corpus stats fold from the tiny additive `kind='s'` partials — one
    // row per epoch, partition-pruned to the pbk=-2 dir; NO doc-length
    // pass and NO corpus-sized join anywhere in the serving path
    val stats = graft.operators.PlanCache.memo(lexStatsFold(st))
    val allB = allBuckets.toSet
    terms => {
      val tb = terms.map(ta.tokenBucket(_).toInt).distinct
      // a leg outside the memoized superset would silently score against
      // MISSING postings (bm25 drops to zero, fusion degrades to
      // vector-only) — refuse instead
      require(tb.forall(allB),
        s"lexical leg terms $terms fall outside the bucket superset this " +
          "reader was built from — build bm25StreamedLegsAt with the same " +
          "termsByQuery the serving call uses")
      ta.bm25CarriedDl(
        p.filter(col("pbk").isin(tb: _*))
          .select("token", "doc_id", "tf", "dl"), stats, terms, k1, b)
    }
  }

  /** The FUSED form of [[bm25StreamedLegsAt]]: one already-scored
    * (query_id, doc_id, bm25) frame for the whole serving batch, through
    * [[graft.operators.TextAnalysis.bm25CarriedDlBatch]] — one postings
    * pass and one df/stats broadcast instead of a filter+2-aggregation
    * subtree per query (the r19 serving-plan fusion; scores bit-identical
    * to the per-leg reader by the batch scorer's padding argument). Reads
    * the same memoized bucket-superset scan, so the `(epoch, pbk)`
    * partition pruning is unchanged. */
  def bm25StreamedBatchAt(spark: SparkSession, indexPath: String,
                          termsByQuery: Seq[(Long, Seq[String])],
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ta = graft.operators.TextAnalysis
    val allBuckets = termsByQuery.flatMap(_._2)
      .map(ta.tokenBucket(_).toInt).distinct
    val st = epochsAt(spark, indexPath)
    val p = graft.operators.PlanCache.memo(
      st.filter(col("pbk").isin(allBuckets: _*))
        .select("token", "doc_id", "tf", "dl", "pbk"))
    val stats = graft.operators.PlanCache.memo(lexStatsFold(st))
    ta.bm25CarriedDlBatch(
      p.select("token", "doc_id", "tf", "dl"), stats, termsByQuery, k1, b)
  }

  /** Streaming BPE-vocabulary maintenance — the incremental form of
    * `Bpe.bpeMerges`' corpus scan. The expensive half of BPE training at
    * scale is the single full-corpus pass that builds the (word, n)
    * frequency table; the merge rounds after it are bounded by the vocab.
    * Word counts are ADDITIVE across document batches, so the vocab is
    * exactly maintainable from per-batch deltas without ever rescanning
    * earlier documents ([[epochPartials]] scaffold). `bpeVocabAt` folds
    * the partitions back into (word, n); `Bpe.bpeMergesFromVocab`
    * re-derives the merge trajectory from it, matching from-scratch
    * training on the full corpus bit-for-bit (the StreamingSpec parity
    * test). Partition count grows with batches — run `compactBpeVocabAt`
    * while the stream is stopped. */
  def streamingBpeVocab(docs: DataFrame, vocabPath: String,
                        checkpointDir: String): StreamingQuery =
    epochPartials(docs, vocabPath, checkpointDir)(
      b => graft.operators.Bpe.wordCounts(b))

  /** The maintained vocabulary as one (word, n) table: fold the per-epoch
    * partial counts. One vocab-sized aggregation — no corpus access. */
  def bpeVocabAt(spark: SparkSession, vocabPath: String): DataFrame =
    epochsAt(spark, vocabPath)
      .groupBy("word").agg(sum("n").as("n"))

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

  /** Decile lift/gains from the maintained scored frame — batch
    * `liftTable` rows over the union corpus. */
  def liftStreamedAt(spark: SparkSession, scoredPath: String,
                     positiveLabel: Int = 0, buckets: Int = 10): DataFrame =
    graft.operators.Similarity.liftTableFromScored(
      scoredVectorsAt(spark, scoredPath), positiveLabel, buckets)

  /** Calibration table from the maintained scored frame — batch
    * `calibrationTable` rows over the union corpus. */
  def calibrationStreamedAt(spark: SparkSession, scoredPath: String,
                            positiveLabel: Int = 0,
                            bins: Int = 10): DataFrame =
    graft.operators.Similarity.calibrationTableFromCells(
      graft.operators.Similarity.scoreCellsFromScored(
        scoredVectorsAt(spark, scoredPath)), positiveLabel, bins)

  /** Compaction for the scored-vector epochs — the rows are immutable
    * per-vector facts (append-only corpus), so the fold is the identity
    * projection; compaction only resets the partition count. */
  def compactScoredVectorsAt(spark: SparkSession, scoredPath: String): Unit =
    compactEpochs(spark, scoredPath)(_.select("vec_id", "label", "f"))

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
    * first-occurrence semantics, the `streamingHybridSearch` stats-refresh
    * argument) plus the min-merge write. For doc_id-ordered arrival the
    * union of per-epoch outputs equals batch `shingleNovelty` over the
    * full corpus (StreamingSpec parity). */
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
          nov.withColumn("epoch", lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch").parquet(outPath)
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
          out.withColumn("epoch", lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch").parquet(outPath)
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
    * incremental form for the SELECTION family. The expensive half of
    * DSIR at scale is tokenizing the raw pool into hashed-unigram
    * features; those per-doc histograms are additive across appended
    * batches, so each micro-batch writes its own (doc_id, feature, n)
    * partial ([[epochPartials]] scaffold) and corpus refresh re-derives
    * the selection from the maintained state without ever re-scanning
    * earlier documents. `dsirSelectAt` anchors to the oracled batch
    * operator exactly as streaming BPE anchors to q170: selection from
    * the folded state is bit-identical to `Sampling.dsirSelect` over the
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

  /** Compaction for the DSIR feature epochs — same contract. */
  def compactDsirFeaturesAt(spark: SparkSession, featPath: String): Unit =
    compactEpochs(spark, featPath)(
      _.groupBy("doc_id", "feature").agg(sum("n").as("n")))

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
    * `TextAnalysis.writeLexIndex`. At 100 TB the index artifacts (postings
    * (token, doc_id, tf) + doc lengths) are exactly the corpus statistics
    * you cannot afford to re-derive per refresh: both are DOC-KEYED — an
    * appended document contributes only its own rows — so each micro-batch
    * writes its own partial index on the [[epochPartials]] scaffold and
    * the fold is a plain union, never a re-scan of earlier text.
    *
    * All artifacts ride ONE maintained table (the scaffold maintains one
    * path per stream), partitioned `(epoch, pbk)` so a term read is
    * FILE-pruned to its buckets (see [[LexPartCols]]): postings rows
    * (kind='p') carry the `writeLexIndex` sha-derived token bucket AND
    * their doc's length `dl` (the serving scorer never joins doc
    * lengths), doc-length rows (kind='d', pbk=-1) stay as explicit
    * doc-keyed ground truth (zero-token documents still count toward
    * N/avgdl, exactly as in the batch index), and one ADDITIVE
    * corpus-stat partial per epoch (kind='s', pbk=-2) folds to
    * n_docs/avgdl without a doc-length pass. Append-only corpus contract
    * (the BPE/DSIR twins' rule): a re-delivered doc_id would duplicate
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
    * `writeLexIndex` proved the 64-bucket layout for the batch index;
    * the maintained state now shares it). Doc-length rows live under
    * `pbk=-1`, the additive corpus-stat partials under `pbk=-2` — each
    * reader touches only the partitions its quantities live in. */
  private[graft] val LexPartCols = Seq("epoch", "pbk")

  /** The lex state's per-batch partial — ONE definition shared by the
    * streaming builder and the batch [[upsertDocsAt]], so an upserted
    * doc's rows are byte-identical to the rows the stream would have
    * produced. Three row kinds in one frame:
    *
    *   - `kind='p'` postings (token, doc_id, tf) CARRYING the doc's
    *     length `dl` (batch-local join — each micro-batch joins only its
    *     own docs), so the BM25 serving path never joins the corpus-sized
    *     doc-length table ([[graft.operators.TextAnalysis.bm25CarriedDl]]);
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
    val dls = ta.docLengths(b).select(col("doc_id"), col("dl").cast("long").as("dl"))
    val p = ta.postings(b)
      .withColumn("pbk", expr(ta.tokenBucketExpr("token")))
      .join(dls.hint("SHUFFLE_HASH"), Seq("doc_id"))
      .select(lit("p").as("kind"), col("token"), col("doc_id"),
        col("tf"), col("pbk"), col("dl"))
    val d = dls
      .select(lit("d").as("kind"), lit(null).cast("string").as("token"),
        col("doc_id"), lit(null).cast("long").as("tf"),
        lit(-1L).as("pbk"), col("dl"))
    p.unionByName(d).unionByName(lexStatsRows(d))
  }

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
    * then the docs' partial rows land as a fresh epoch (max existing + 1,
    * so a retry of a crashed append overwrites its own partition via the
    * dynamic mode rather than double-counting). Because the state keeps
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
    // cast: partition-column inference may type epoch as INT (small
    // values), and a compacted state's only partition is epoch=-1.
    // coalesce: max(epoch) is NULL on an empty state (unreachable through
    // the maintained lifecycles — deleteLexDocsAt refuses to empty a
    // state — but a direct caller would otherwise die on a confusing NPE
    // here)
    val dir = resolveStateDir(spark, path)
    val next = math.max(0L, epochsAt(spark, path)
      .agg(coalesce(max(col("epoch").cast("long")), lit(-1L)))
      .head().getLong(0) + 1L)
    lexPartial(docs).withColumn("epoch", lit(next))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(LexPartCols: _*).parquet(dir)
  }

  /** The lex state's READMIT lifecycle (q302/q303's lexical leg): the
    * ensureLexDeletedState build (3 waves + mid-lifecycle compaction +
    * [[deleteDocsAt]] of every doc_id % delMod == delRes), then the purged
    * docs RE-INGESTED through [[upsertDocsAt]] — the takedown-then-
    * reingest flow. The readmitted rows are batch-identical to the rows
    * the stream originally produced (shared [[lexPartial]]), so every
    * reader over the healed state equals the never-deleted corpus — the
    * oracle is q258's full-corpus twin verbatim. */
  def ensureLexReadmittedState(spark: SparkSession, documents: DataFrame,
                               sfDir: String, delMod: Int = 5,
                               delRes: Int = 3): String = {
    val tag = s"lexreadmit-m${delMod}r$delRes"
    val out = ensureStreamedDocState(spark, documents, sfDir, tag,
      waves = 3, compactAfterWave = 2, compactor = compactLexIndexAt)(
      (sd, o, ckpt) => streamingLexIndex(sd, o, ckpt))
    val base = streamedStateBase(spark, sfDir, s"$tag-w3-c2",
      "documents.parquet")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one marker guards the delete+readmit PAIR: a crash between the two
    // re-runs both on the next ensure (the delete is an idempotent filter
    // and the readmit's purge-first makes the pair idempotent too)
    val marker = new org.apache.hadoop.fs.Path(base, "_DOCS_READMITTED")
    if (!fs.exists(marker)) graft.TmpCache.withBuildLock(base) {
      if (!fs.exists(marker)) {
        val pred = pmod(col("doc_id"), lit(delMod)) === delRes
        deleteLexDocsAt(spark, out, pred)
        upsertDocsAt(spark, out, documents.filter(pred))
        fs.create(marker, true).close()
      }
    }
    out
  }

  /** Batch bootstrap of the maintained lex state: land the whole corpus
    * as ONE epoch partial in the `(epoch, pbk)` layout — the from-scratch
    * twin of [[streamingLexIndex]] for backfills and scale rehearsals (a
    * migration writes exactly the rows the stream would have produced;
    * every `...At` reader then serves it unchanged). */
  def writeLexState(spark: SparkSession, docsDf: DataFrame,
                    path: String): Unit =
    lexPartial(docsDf).withColumn("epoch", lit(0L))
      .write.mode("overwrite").partitionBy(LexPartCols: _*).parquet(path)

  /** The maintained postings table (token, doc_id, tf, pbk) — only the
    * pbk>=0 partitions hold postings rows, so the read never opens the
    * doc-length or stat partitions. */
  def lexPostingsAt(spark: SparkSession, indexPath: String): DataFrame =
    epochsAt(spark, indexPath).filter(col("pbk") >= 0)
      .select("token", "doc_id", "tf", "pbk")

  /** The maintained doc-lengths table (doc_id, dl) — partition-pruned to
    * the pbk=-1 dirs. */
  def lexDocLensAt(spark: SparkSession, indexPath: String): DataFrame =
    epochsAt(spark, indexPath).filter(col("pbk") === -1)
      .select("doc_id", "dl")

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
    * re-groups postings (idempotent under exactly-once epochs; convergent
    * if a violated append-only contract ever left split rows). */
  def compactLexIndexAt(spark: SparkSession, indexPath: String): Unit =
    compactEpochs(spark, indexPath, LexPartCols) { st =>
      val p = st.filter(col("kind") === "p")
        .groupBy("kind", "token", "doc_id", "pbk")
        .agg(sum("tf").as("tf"), max("dl").as("dl"))
        .select("kind", "token", "doc_id", "tf", "pbk", "dl")
      val s = st.filter(col("kind") === "s")
        .groupBy("kind", "token", "doc_id", "pbk")
        .agg(sum("tf").as("tf"), sum("dl").as("dl"))
        .select("kind", "token", "doc_id", "tf", "pbk", "dl")
      p.unionByName(st.filter(col("kind") === "d")
          .select("kind", "token", "doc_id", "tf", "pbk", "dl"))
        .unionByName(s)
        // one task per bucket value → ONE file per (epoch=-1, pbk) dir:
        // the defragmentation half of the compaction contract (the IVF
        // compactor's repartition(cell) rule). Without this, the fold's
        // groupBy tasks scatter every bucket across up to
        // shuffle.partitions files — GROWING the per-bucket open cost
        // the compaction exists to reset (lexBucketStatsAt's n_files is
        // the monitor that catches it). Parallelism = |buckets|, the
        // layout's own granularity; spark.sql.files.maxRecordsPerFile
        // bounds single-file size if a bucket outgrows one file.
        .repartition(col("pbk"))
    }

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

  /** Collapse the vocab's epoch partitions into one, totals identical.
    * Only while the maintaining stream is STOPPED — see streamingBpeVocab.
    * Crash-safe via [[compactEpochs]]'s staged swap + self-healing. */
  def compactBpeVocabAt(spark: SparkSession, vocabPath: String): Unit =
    compactEpochs(spark, vocabPath)(
      _.groupBy("word").agg(sum("n").as("n")))

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

  def compactLangCountsAt(spark: SparkSession, countsPath: String): Unit =
    compactEpochs(spark, countsPath)(
      _.groupBy("lang")
        .agg(sum("n_docs").as("n_docs"), sum("chars_l").as("chars_l")))

  def compactRfmStatsAt(spark: SparkSession, statsPath: String): Unit =
    compactEpochs(spark, statsPath)(
      _.groupBy("user_id")
        .agg(max("last_ts").as("last_ts"), sum("frequency").as("frequency"),
          sum("monetary_cents").as("monetary_cents")))

  /** Landing-dir schema for labeled embedding batches (the kNN-audit
    * maintainer's input) — the [[embeddingsSchema]] invariant plus the
    * class label the audits vote on. */
  val labeledEmbeddingsSchema: String =
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"

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

  /** Compaction for the centroid-drift partial epochs — same contract. */
  def compactCentroidDriftAt(spark: SparkSession, statePath: String): Unit =
    compactEpochs(spark, statePath)(
      _.groupBy("label", "grp", "i").agg(sum("s").as("s")))

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

  /** Per-user session windows with a 30-minute gap. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream-stream interval join — the streaming form of
    * `Joins.intervalSelfJoin`: pairs of same-user events within
    * `[0, windowSec)` across two event streams. Structured Streaming's
    * stream-stream inner join requires watermarks on BOTH sides plus a
    * time-range join condition; from those it bounds each side's state-store
    * retention at (watermark horizon + windowSec), so state never grows with
    * stream length. Same output contract as the batch operator:
    * (user_id, id_a, id_b, gap_us), `id_b > id_a` breaking equal-ts ties. */
  def intervalJoin(a: DataFrame, b: DataFrame, windowSec: Int = 300,
                   horizon: String = "30 minutes"): DataFrame = {
    val l = a.select(col("user_id"), col("event_id").as("id_a"),
        col("ts").as("ts_a"))
      .withWatermark("ts_a", horizon)
    val r = b.select(col("user_id").as("user_b"), col("event_id").as("id_b"),
        col("ts").as("ts_b"))
      .withWatermark("ts_b", horizon)
    l.join(r,
        col("user_id") === col("user_b") &&
          col("ts_b") >= col("ts_a") &&
          col("ts_b") < col("ts_a") + expr(s"interval $windowSec seconds") &&
          (col("ts_b") > col("ts_a") || col("id_b") > col("id_a")))
      .select(col("user_id"), col("id_a"), col("id_b"),
        (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_us"))
  }
}
