package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The lex state's doc-length rows (pbk=-1) through the state reader. */
  private def docLensAt(path: String) =
    Streams.epochsAt(spark, path).filter($"pbk" === -1)

  test("streamingCohortCells: folded state answers the same LTV triangle as batch; compaction preserves it") {
    val tmp = Files.createTempDirectory("graft-stream-ltv").toString
    val (landing, cPath, ckpt) = (s"$tmp/landing", s"$tmp/cells", s"$tmp/ckpt")
    val ev = Tables.events(spark, TestSpark.sf0001).cache()
    // split by EVENT id parity, not by user or time: each user's events
    // straddle both epochs in arbitrary time order, so a later epoch can
    // carry a user's EARLIER first event — the min-merge must still land
    // every user in the same cohort a batch rescan would
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingCohortCells(stream, cPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, cPath).select("epoch").distinct().count() >= 2)
    val batch = graft.operators.EventAnalytics.cohortLtv(ev)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(Streams.cohortLtvAt(spark, cPath)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet == batch)
    assert(batch.nonEmpty)
    Streams.compactCohortCellsAt(spark, cPath)
    assert(Streams.epochsAt(spark, cPath).select("epoch").distinct().count() == 1)
    assert(Streams.cohortLtvAt(spark, cPath)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet == batch)
    ev.unpersist()
  }

  test("streamingBenfordDigits: folded partials answer the same chi2 as batch; compaction preserves it") {
    val tmp = Files.createTempDirectory("graft-stream-benford").toString
    val (landing, bPath, ckpt) = (s"$tmp/landing", s"$tmp/counts", s"$tmp/ckpt")
    val ev = Tables.events(spark, TestSpark.sf0001).cache()
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingBenfordDigits(stream, bPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, bPath).select("epoch").distinct().count() >= 2)
    val batch = graft.operators.EventAnalytics.benfordAudit(ev)
      .as[(String, Long, Double)].collect().toSet
    assert(Streams.benfordAuditAt(spark, bPath)
      .as[(String, Long, Double)].collect().toSet == batch)
    assert(batch.nonEmpty)
    Streams.compactBenfordDigitsAt(spark, bPath)
    assert(Streams.epochsAt(spark, bPath).select("epoch").distinct().count() == 1)
    assert(Streams.benfordAuditAt(spark, bPath)
      .as[(String, Long, Double)].collect().toSet == batch)
    ev.unpersist()
  }

  test("streamingCellCounts: folded cells answer chi-square and MI as batch; compaction preserves them") {
    val tmp = Files.createTempDirectory("graft-stream-cells").toString
    val (landing, cPath, ckpt) = (s"$tmp/landing", s"$tmp/cells", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingCellCounts(stream, cPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, cPath).select("epoch").distinct().count() >= 2)
    val ts = graft.operators.TableStats
    val chiBatch = ts.chiSquare(docs, "source", "lang")
      .as[(String, String, Long, Double, Double)].collect().toSet
    val miBatch = ts.mutualInformation(docs, "source", "lang")
      .as[(String, String, Long, Double)].collect().toSet
    assert(Streams.chiSquareStreamedAt(spark, cPath)
      .as[(String, String, Long, Double, Double)].collect().toSet == chiBatch)
    assert(Streams.mutualInformationStreamedAt(spark, cPath)
      .as[(String, String, Long, Double)].collect().toSet == miBatch)
    assert(chiBatch.nonEmpty && miBatch.nonEmpty)
    Streams.compactCellCountsAt(spark, cPath)
    assert(Streams.epochsAt(spark, cPath).select("epoch").distinct().count() == 1)
    assert(Streams.chiSquareStreamedAt(spark, cPath)
      .as[(String, String, Long, Double, Double)].collect().toSet == chiBatch)
    assert(Streams.mutualInformationStreamedAt(spark, cPath)
      .as[(String, String, Long, Double)].collect().toSet == miBatch)
    docs.unpersist()
  }

  test("ensureStreamedJsonlState (q257): two waves accumulate distinct epochs; state report equals the full-fixture batch report") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = Streams.ensureStreamedJsonlState(spark, docs, TestSpark.sf0001)
    // the waves streamed as SEPARATE runs against one checkpoint with a
    // compactJsonlIngestAt run BETWEEN them, so the state must hold the
    // compacted epoch=-1 partition NEXT TO wave 1's epoch (the thing
    // q256's batch path cannot exercise)
    val jepochs = Streams.epochsAt(spark, out).select("epoch").distinct()
      .as[Long].collect().toSet
    assert(jepochs.contains(-1L), s"no compacted partition in $jepochs")
    assert(jepochs.exists(_ >= 0L), s"post-compaction epoch missing: $jepochs")
    // and answer exactly the FULL fixture's batch report
    val full = graft.sources.JsonlCorpusSource.ensureFixture(
      spark, docs, TestSpark.sf0001)
    val batchRaw = graft.sources.JsonlCorpusSource.read(
      spark, full, "doc_id BIGINT, lang STRING, source STRING")
    val batchReport = graft.sources.JsonlCorpusSource.ingestReport(batchRaw)
      .as[(Long, Long, String)].collect().head
    assert(Streams.jsonlIngestReportAt(spark, out)
      .as[(Long, Long, String)].collect().head == batchReport)
    assert(Streams.jsonlValidAt(spark, out).agg(sum("doc_id")).head().getLong(0)
      == graft.sources.JsonlCorpusSource.valid(batchRaw)
        .agg(sum("doc_id")).head().getLong(0))
    // idempotent: a second call short-circuits on the marker and the
    // state is unchanged
    assert(Streams.ensureStreamedJsonlState(spark, docs, TestSpark.sf0001) == out)
  }

  test("ensureStreamedDocState (q258): 4-wave lex index compacted mid-lifecycle; streamed BM25 equals batch indexed BM25") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val terms = Seq("join", "hash", "customer")
    // the production lifecycle the declared queries use (lexStateOf):
    // four doc_id-mod-4 waves with compactLexIndexAt run between waves
    // 2 and 3, so the state dir ends up holding the compacted epoch=-1
    // partition NEXT TO the two post-compaction epochs
    val state = Streams.ensureStreamedDocState(
      spark, docs, TestSpark.sf0001, "lex", waves = 4, compactAfterWave = 2,
      compactor = Streams.compactLexIndexAt)(
      (sd, out, ckpt) => Streams.streamingLexIndex(sd, out, ckpt))
    val epochs = Streams.epochsAt(spark, state).select("epoch").distinct()
      .as[Long].collect().toSet
    assert(epochs.contains(-1L), s"no compacted partition in $epochs")
    assert(epochs.count(_ >= 0L) >= 2, s"post-compaction epochs missing: $epochs")
    val ta = graft.operators.TextAnalysis
    val batch = ta.bm25Indexed(ta.postings(docs), ta.docLengths(docs), terms)
      .collect().map(_.toSeq).toSet
    assert(Streams.bm25StreamedAt(spark, state, terms)
      .collect().map(_.toSeq).toSet == batch)
    // marker short-circuit: a second call must not re-stream
    assert(Streams.ensureStreamedDocState(
      spark, docs, TestSpark.sf0001, "lex", waves = 4, compactAfterWave = 2,
      compactor = Streams.compactLexIndexAt)((_, _, _) =>
      fail("state already materialized — start must not be invoked")) == state)
  }

  test("bm25StreamedBatchAt: the fused batch scorer is row-identical to the per-leg reader (mixed term counts)") {
    // r19 serving fusion: the hybrid queries score the whole batch through
    // ONE postings pass. This pins the fused scores bit-equal to the
    // per-query bm25StreamedAt reader — including the f64 padding argument
    // (queries shorter than the batch max add exact +0.0 contributions),
    // exercised here by term sets of sizes 3, 2 and 1.
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val state = Streams.ensureStreamedDocState(
      spark, docs, TestSpark.sf0001, "lex", waves = 4, compactAfterWave = 2,
      compactor = Streams.compactLexIndexAt)(
      (sd, out, ckpt) => Streams.streamingLexIndex(sd, out, ckpt))
    val termsBy = Seq(
      0L -> Seq("join", "hash", "customer"),
      1L -> Seq("vector", "stream"),
      2L -> Seq("window"),
      3L -> Seq("zzznothere")) // no postings: must yield no rows, not fail
    val perLeg = termsBy.flatMap { case (qid, ts) =>
      Streams.bm25StreamedAt(spark, state, ts)
        .select(col("doc_id"), col("bm25")).collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sorted
    val fused = Streams.bm25StreamedBatchAt(spark, state, termsBy)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(fused.nonEmpty && fused == perLeg,
      s"fused batch scorer diverges: fused=${fused.take(5)} perLeg=${perLeg.take(5)}")
  }

  test("bm25StreamedBatchAt: 200 served batches of distinct term sets leave the session's cached frames as after the first") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val state = Streams.ensureStreamedDocState(
      spark, docs, TestSpark.sf0001, "lex", waves = 4, compactAfterWave = 2,
      compactor = Streams.compactLexIndexAt)(
      (sd, out, ckpt) => Streams.streamingLexIndex(sd, out, ckpt))
    // every batch adds a term of its own, so the bucket sets differ
    def serve(i: Int): Unit = Streams.bm25StreamedBatchAt(spark, state,
      Seq(0L -> Seq("join", s"w$i"), 1L -> Seq(s"v$i", "hash"))).collect()
    def planCacheEntries =
      graft.operators.PlanCache.tracked.get(spark).fold(0)(_.size)
    serve(0)
    val (cached, tracked) =
      (org.apache.spark.SparkTestHooks.cachedRelations(spark), planCacheEntries)
    (1 until 200).foreach(serve)
    assert(org.apache.spark.SparkTestHooks.cachedRelations(spark) == cached,
      "serving batches grew the session's cached relations")
    assert(planCacheEntries == tracked, "serving batches grew PlanCache's entries")
  }

  test("streamedStateBase stamps loudly; a regenerated source gets a fresh state dir, never the stale cache") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // un-stattable source: the ensure* call must FAIL, not fall back to a
    // stampless key that a ready marker could serve stale
    intercept[IllegalStateException] {
      Streams.ensureStreamedDocState(
        spark, docs, "/nonexistent-graft-sfdir", "stampfail")(
        (sd, out, ckpt) => Streams.streamingLexIndex(sd, out, ckpt))
    }
    // regenerated source: same path, new bytes -> new (len, mtime) stamp ->
    // a DIFFERENT cache dir is built, so the old state cannot be served
    val tmp = Files.createTempDirectory("graft-stamp-regen").toString
    // the temp source and both state bases (each beside its build lock)
    // are this test's own: deleted however it ends
    val built = scala.collection.mutable.ArrayBuffer(tmp)
    try {
      def regen(n: Int): Unit = docs.limit(n).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      regen(8)
      def build() = {
        val state = Streams.ensureStreamedDocState(
          spark, spark.read.parquet(s"$tmp/documents.parquet"), tmp, "stampregen")(
          (sd, out, ckpt) => Streams.streamingLexIndex(sd, out, ckpt))
        val base = state.stripSuffix("/state")
        built ++= Seq(base, s"$base.lock")
        state
      }
      val first = build()
      Thread.sleep(1100) // coarsest-filesystem mtime granularity is 1 s
      regen(6)
      val second = build()
      assert(first != second,
        "regenerated source served the stale cached state dir")
    } finally built.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("ensureLexDeletedState: a lost marker beside a planted partial generation rebuilds to the clean state") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    def rows(state: String) = Streams.epochsAt(spark, state)
      .collect().map(_.toString).sorted.toSeq
    val out = Streams.ensureLexDeletedState(spark, docs, TestSpark.sf0001)
    val clean = rows(out)
    assert(clean.nonEmpty)
    // a crashed later build: marker gone, and a partial next generation
    // (half the docs, no pointer flip) left in the state root
    val marker = new java.io.File(new java.io.File(out).getParentFile,
      TmpCache.ReadyMarker)
    assert(marker.delete())
    val next = graft.operators.GenDir.currentGen(spark, out).getOrElse(0) + 1
    Streams.epochsAt(spark, out).filter($"doc_id" % 2 === 0)
      .write.mode("overwrite").partitionBy("epoch").parquet(s"$out/gen=$next")
    assert(Streams.ensureLexDeletedState(spark, docs, TestSpark.sf0001) == out)
    assert(marker.exists())
    assert(rows(out) == clean, "the rebuilt state differs from a clean build")
    assert(Streams.epochsAt(spark, out)
      .filter(pmod($"doc_id", lit(5)) === 3 && $"kind" =!= "s").isEmpty,
      "the rebuild skipped the delete leg")
  }

  test("streamingMinhashBands (q259): pairs from the maintained band index equal batch minhashPairs, before and after a takedown") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // a SPEC-private state, dropped first: this test DELETES from its
    // state, and mutating the shared q259 cache would leave it behind for
    // the next run's assertions
    StreamingSpec.dropDocState(spark, "mhband-spec")
    val state = Streams.ensureStreamedDocState(
      spark, docs, TestSpark.sf0001, "mhband-spec")(
      (sd, out, ckpt) => Streams.streamingMinhashBands(sd, out, ckpt))
    assert(Streams.epochsAt(spark, state).select("epoch").distinct().count() >= 2)
    val batch = graft.operators.Dedup.minhashPairs(docs, 0.5)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(Streams.minhashPairsStreamedAt(spark, state, 0.5)
      .collect().map(_.toSeq).toSet == batch)
    // band-state takedown (q305): rows are per-doc projections, so the
    // row filter is the complete erasure — pairs from the post-delete
    // state equal batch pairs among the SURVIVING docs
    Streams.deleteDocsAt(spark, state, pmod($"doc_id", lit(5)) === 3)
    val survivorBatch = graft.operators.Dedup
      .minhashPairs(docs.filter($"doc_id" % 5 =!= 3), 0.5)
      .collect().map(_.toSeq).toSet
    assert(Streams.minhashPairsStreamedAt(spark, state, 0.5)
      .collect().map(_.toSeq).toSet == survivorBatch)
    // the state is spec-private and now deleted-from: drop it so the next
    // run's >=2-epoch assertion rebuilds from scratch
    StreamingSpec.dropDocState(spark, "mhband-spec")
  }

  test("streamingScoredVectors via two waves (q260): AUC from the maintained state equals batch separabilityAuc") {
    val embT = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label")
    val state = Streams.ensureStreamedTableState(
      spark, embT, TestSpark.sf0001, "scored",
      idCol = "vec_id", srcFile = "embeddings.parquet")(
      (sv, out, ckpt) => Streams.streamingScoredVectors(sv, out, ckpt))
    assert(Streams.epochsAt(spark, state).select("epoch").distinct().count() >= 2)
    val batch = graft.operators.Similarity.separabilityAuc(embT)
      .collect().map(_.toSeq).toSet
    assert(Streams.aucStreamedAt(spark, state)
      .collect().map(_.toSeq).toSet == batch)
  }

  test("streamingJsonlIngest: valid rows and corrupt report match the batch source; compaction preserves them") {
    val tmp = Files.createTempDirectory("graft-stream-jsonl").toString
    val (landing, out, ckpt) = (s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    java.nio.file.Files.write(java.nio.file.Paths.get(landing, "a.jsonl"),
      java.util.Arrays.asList(
        """{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "s1"}""",
        """not json""",
        """{"doc_id": 2, "text": "gamma", "lang": "de", "source": "s2"}"""))
    java.nio.file.Files.write(java.nio.file.Paths.get(landing, "b.jsonl"),
      java.util.Arrays.asList(
        """{"doc_id": 3, "text": "delta", "lang": "en", "source": "s1"}""",
        """{"broken": """,
        "",
        """{"doc_id": 4, "text": "eps", "lang": "fr", "source": "s3"}"""))
    val stream = Streams.streamingJsonlIngest(spark, landing, out, ckpt)
    stream.awaitTermination(120000)
    assert(Streams.epochsAt(spark, out).select("epoch").distinct().count() >= 1)
    val src = graft.sources.JsonlCorpusSource
    val batchRaw = src.read(spark, landing)
    val batchValid = src.valid(batchRaw)
      .as[(Long, String, String, String)].collect().toSet
    val batchReport = src.ingestReport(batchRaw)
      .as[(Long, Long, String)].collect().head
    def checkAll(): Unit = {
      assert(Streams.jsonlValidAt(spark, out)
        .as[(Long, String, String, String)].collect().toSet == batchValid)
      assert(Streams.jsonlIngestReportAt(spark, out)
        .as[(Long, Long, String)].collect().head == batchReport)
    }
    assert(batchReport._1 == 4L && batchReport._2 == 2L)
    checkAll()
    Streams.compactJsonlIngestAt(spark, out)
    assert(Streams.epochsAt(spark, out).select("epoch").distinct().count() == 1)
    checkAll()
  }

  test("streamingGroupTermCounts: folded counts answer zipf, entropy, and JSD as batch; compaction preserves them") {
    val tmp = Files.createTempDirectory("graft-stream-gtc").toString
    val (landing, cPath, ckpt) = (s"$tmp/landing", s"$tmp/counts", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingGroupTermCounts(stream, cPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, cPath).select("epoch").distinct().count() >= 2)
    val ta = graft.operators.TextAnalysis
    val zipfB = ta.zipfSlope(docs)
      .as[(String, Long, Double, Double)].collect().toSet
    val entB = ta.sourceEntropy(docs)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val jsdB = ta.jsdSources(docs)
      .as[(String, String, Long, Double)].collect().toSet
    def check(): Unit = {
      assert(Streams.zipfSlopeStreamedAt(spark, cPath)
        .as[(String, Long, Double, Double)].collect().toSet == zipfB)
      assert(Streams.sourceEntropyStreamedAt(spark, cPath)
        .as[(String, Long, Long, Double, Double)].collect().toSet == entB)
      assert(Streams.jsdSourcesStreamedAt(spark, cPath)
        .as[(String, String, Long, Double)].collect().toSet == jsdB)
    }
    assert(zipfB.nonEmpty && entB.nonEmpty && jsdB.nonEmpty)
    check()
    Streams.compactGroupTermCountsAt(spark, cPath)
    assert(Streams.epochsAt(spark, cPath).select("epoch").distinct().count() == 1)
    check()
    docs.unpersist()
  }

  test("streamingLexIndex: maintained BM25 matches a from-scratch index; compaction preserves it") {
    val tmp = Files.createTempDirectory("graft-stream-lex").toString
    val (landing, idxPath, ckpt) = (s"$tmp/landing", s"$tmp/lex", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingLexIndex(stream, idxPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, idxPath).select("epoch").distinct().count() >= 2)
    val terms = Seq("join", "hash", "customer") // the q110 term set
    val ta = graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val batch = rows(ta.bm25Indexed(
      ta.postings(docs), ta.docLengths(docs), terms))
    val streamed = rows(Streams.bm25StreamedAt(spark, idxPath, terms))
    assert(streamed == batch && streamed.nonEmpty)
    // doc-length rows count EVERY doc (N/avgdl parity is part of the score)
    assert(docLensAt(idxPath).count() == docs.count())
    // the SAME maintained state answers TF-IDF — all-docs frame, byte-equal
    // to the full-scan scorer (q98's operator) over the union corpus
    val tfTerms = Seq("transfer", "credit", "university")
    val tfBatch = rows(ta.tfidf(docs, tfTerms))
    val tfStreamed = rows(Streams.tfidfStreamedAt(spark, idxPath, tfTerms))
    assert(tfStreamed == tfBatch && tfStreamed.size == docs.count())
    // ...and the vocabulary heavy-hitters (q72's operator) — ordered parity
    def tkRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSeq
    val tkBatch = tkRows(ta.topTokens(docs, 20))
    assert(tkRows(Streams.topTokensStreamedAt(spark, idxPath, 20)) == tkBatch
      && tkBatch.nonEmpty)
    // ...and term burstiness (q184's operator) — same postings quantities
    def buRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Double)].collect().toSeq
    val buBatch = buRows(ta.termBurstiness(docs))
    assert(buRows(Streams.burstinessStreamedAt(spark, idxPath)) == buBatch
      && buBatch.nonEmpty)
    // compaction: one epoch partition left, scores unchanged
    Streams.compactLexIndexAt(spark, idxPath)
    assert(Streams.epochsAt(spark, idxPath).select("epoch").distinct().count() == 1)
    assert(rows(Streams.bm25StreamedAt(spark, idxPath, terms)) == batch)
    assert(rows(Streams.tfidfStreamedAt(spark, idxPath, tfTerms)) == tfBatch)
    assert(tkRows(Streams.topTokensStreamedAt(spark, idxPath, 20)) == tkBatch)
    docs.unpersist()
  }

  test("deleteDocsAt (q298): lex-state takedown shifts every corpus statistic; empty delete refused; epochs preserved") {
    val tmp = Files.createTempDirectory("graft-lex-del").toString
    val (landing, idxPath, ckpt) = (s"$tmp/landing", s"$tmp/lex", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingLexIndex(stream, idxPath, ckpt).awaitTermination(120000)
    val epochsBefore = Streams.epochsAt(spark, idxPath)
      .select("epoch").distinct().count()
    assert(epochsBefore >= 2)
    Streams.deleteLexDocsAt(spark, idxPath, pmod($"doc_id", lit(5)) === 3)
    // layout preserved: the delete filters rows, it does not compact
    assert(Streams.epochsAt(spark, idxPath).select("epoch").distinct().count()
      == epochsBefore)
    // every reader equals the batch operator over the SURVIVING corpus —
    // the raw-row design means df/N/avgdl shift with the survivors, so
    // this checks the global statistics, not just row presence
    val survivors = docs.filter($"doc_id" % 5 =!= 3)
    val nDel = docs.count() - survivors.count()
    assert(nDel > 0)
    val terms = Seq("join", "hash", "customer")
    val ta = graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val batch = rows(ta.bm25Indexed(
      ta.postings(survivors), ta.docLengths(survivors), terms))
    assert(rows(Streams.bm25StreamedAt(spark, idxPath, terms)) == batch
      && batch.nonEmpty)
    // the doc-length table (the N/avgdl source) dropped exactly the
    // deleted docs
    assert(docLensAt(idxPath).count() == survivors.count())
    // no deleted doc is reachable through ANY reader
    assert(Streams.tfidfStreamedAt(spark, idxPath,
        Seq("transfer", "credit", "university"))
      .filter(pmod($"doc_id", lit(5)) === 3).count() == 0)
    // deleting everything is refused, and the state stays readable
    intercept[IllegalArgumentException](
      Streams.deleteLexDocsAt(spark, idxPath, lit(true)))
    assert(rows(Streams.bm25StreamedAt(spark, idxPath, terms)) == batch)
    docs.unpersist()
  }

  test("upsertDocsAt (q302): readmit-after-delete is an identity; replace-by-id purges old rows; pure append adds one epoch") {
    val tmp = Files.createTempDirectory("graft-lex-upsert").toString
    val (landing, idxPath, ckpt) = (s"$tmp/landing", s"$tmp/lex", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingLexIndex(stream, idxPath, ckpt).awaitTermination(120000)
    val terms = Seq("join", "hash", "customer")
    val ta = graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val full = rows(ta.bm25Indexed(
      ta.postings(docs), ta.docLengths(docs), terms))
    // takedown then reingest: every reader returns to the never-deleted
    // answer, global statistics included
    val pred = pmod($"doc_id", lit(5)) === 3
    Streams.deleteLexDocsAt(spark, idxPath, pred)
    assert(rows(Streams.bm25StreamedAt(spark, idxPath, terms)) != full)
    Streams.upsertDocsAt(spark, idxPath, docs.filter(pred))
    assert(rows(Streams.bm25StreamedAt(spark, idxPath, terms)) == full)
    assert(docLensAt(idxPath).count() == docs.count())
    // a pure append lands exactly one new epoch partition (no rewrite)
    val epochsBefore = Streams.epochsAt(spark, idxPath)
      .select("epoch").distinct().count()
    // replace-by-id: upserting a CHANGED doc purges its old rows — the
    // state must score the new text, not the union of old and new
    val changedId = docs.filter(pred).select("doc_id").as[Long].head()
    val changed = docs.filter($"doc_id" === changedId)
      .withColumn("text", lit("join join join"))
    Streams.upsertDocsAt(spark, idxPath, changed)
    val scored = Streams.bm25StreamedAt(spark, idxPath, terms)
      .filter($"doc_id" === changedId)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(scored.length == 1 && scored.head._2 == 3L,
      s"replaced doc must have dl=3 (the new text), got ${scored.toSeq}")
    assert(scored.head._3 == 3L, "tf(join) of the replaced doc must be 3")
    assert(docLensAt(idxPath).count() == docs.count())
    // restoring the original doc heals back to the full-corpus answer
    Streams.upsertDocsAt(spark, idxPath, docs.filter($"doc_id" === changedId))
    assert(rows(Streams.bm25StreamedAt(spark, idxPath, terms)) == full)
    assert(Streams.epochsAt(spark, idxPath).select("epoch").distinct().count()
      >= epochsBefore)
    docs.unpersist()
  }

  test("epoch-partition retry: re-writing an epoch's partial leaves the fold unchanged") {
    // The exactly-once contract every epoch-partition maintainer relies on
    // (here the CMS grid behind the q222 family): a RETRIED batch
    // re-derives the same partial and dynamic-overwrites exactly its own
    // epoch partition, so the folded state cannot double-count — also
    // after a compaction moved the state into a `_GEN` generation, where
    // later epochs land. The retry is Spark's own: with the last batch's
    // commit-log entry gone, the restarted query re-runs that batch under
    // the same epoch id.
    val tmp = Files.createTempDirectory("graft-epoch-retry").toString
    val (landing, gridPath, ckpt) = (s"$tmp/landing", s"$tmp/grid", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001)
    def land(m: Int): Unit =
      docs.filter($"doc_id" % 2 === m).coalesce(1).write.mode("append").parquet(landing)
    def run(): Unit = Streams.streamingCmsGrid(
        spark.readStream.schema(StreamingSpec.documentsSchema).parquet(landing),
        gridPath, ckpt)
      .awaitTermination(120000)
    def grid() = Streams.cmsGridAt(spark, gridPath)
      .as[(Int, Int, Long)].collect().toSet
    val expected = graft.operators.Sketches
      .cmsGrid(graft.operators.Sketches.tokenCounts(docs))
      .as[(Int, Int, Long)].collect().toSet
    land(0); run()
    Streams.compactCmsGridAt(spark, gridPath)
    land(1); run()
    assert(grid() == expected && expected.nonEmpty)
    // retry batch 1: drop its commit-log entry, restart the query
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val commit = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    assert(fs.delete(commit, false), "batch 1 never committed")
    fs.delete(new org.apache.hadoop.fs.Path(s"$ckpt/commits/.1.crc"), false)
    run()
    assert(fs.exists(commit), "the restarted query did not re-run batch 1")
    assert(grid() == expected, "retried epoch changed the folded grid")
    assert(Streams.epochsAt(spark, gridPath).select("epoch").as[Long]
      .collect().toSet == Set(-1L, 1L))
  }

  test("compaction crash/race windows: partial generation ignored, retry converges, mid-flip pointer heals") {
    // The generation-pointer protocol replaced the delete->rename swap:
    // a crash DURING a compaction leaves only a partial next-gen dir
    // (readers unaffected), the retried compaction builds a FRESH
    // generation past it, and a pointer caught mid-flip (non-atomic
    // overwrite-rename stores) heals from the staged _GEN.tmp. The state
    // is the CMS grid's (the q222 family's maintained sketch).
    val tmp = Files.createTempDirectory("graft-compact-crash").toString
    val gridPath = s"$tmp/grid"
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val sk = graft.operators.Sketches
    def half(m: Int, epoch: Long) =
      sk.cmsGrid(sk.tokenCounts(docs.filter($"doc_id" % 2 === m)))
        .withColumn("epoch", lit(epoch))
    half(0, 0L).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(gridPath)
    half(1, 1L).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(gridPath)
    def grid() = Streams.cmsGridAt(spark, gridPath)
      .as[(Int, Int, Long)].collect().toSet
    val expected = grid()
    assert(expected == sk.cmsGrid(sk.tokenCounts(docs))
      .as[(Int, Int, Long)].collect().toSet)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // crash mid-build: a HALF-written gen=1 exists, no pointer — readers
    // must keep answering the legacy root, never the partial generation
    half(0, -1L).limit(3).write.mode("overwrite")
      .partitionBy("epoch").parquet(s"$gridPath/gen=1")
    assert(grid() == expected,
      "reader resolved a partial, uncommitted generation")
    // the retried compaction converges: it begins PAST the partial dir,
    // commits, and the fold is intact
    Streams.compactCmsGridAt(spark, gridPath)
    assert(grid() == expected)
    assert(Streams.epochsAt(spark, gridPath)
      .select("epoch").distinct().count() == 1)
    // mid-flip pointer window (the delete-then-rename degradation on
    // local/object stores): _GEN gone, the fully-written _GEN.tmp still
    // names the committed generation — the next reader completes the flip
    val cur = graft.operators.GenDir.currentGen(spark, gridPath).get
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$gridPath/_GEN.tmp"), true)
    out.write(cur.toString.getBytes("UTF-8")); out.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$gridPath/_GEN"), false)
    assert(grid() == expected,
      "reader failed to heal the mid-flip pointer from _GEN.tmp")
    assert(graft.operators.GenDir.currentGen(spark, gridPath).contains(cur),
      "the healing read must restore the _GEN pointer")
    // and another compaction over the healed state still works
    Streams.compactCmsGridAt(spark, gridPath)
    assert(grid() == expected)
  }

  test("streamingCmsGrid: folded partial grids equal the batch sketch; probe parity") {
    val tmp = Files.createTempDirectory("graft-stream-cms").toString
    val (landing, gridPath, ckpt) = (s"$tmp/landing", s"$tmp/grid", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    val q = Streams.streamingCmsGrid(stream, gridPath, ckpt)
    q.awaitTermination(120000)
    assert(Streams.epochsAt(spark, gridPath).select("epoch").distinct().count() >= 2)
    // additive partials fold to exactly the single-pass grid
    val streamedGrid = Streams.cmsGridAt(spark, gridPath)
      .as[(Int, Int, Long)].collect().toSet
    val tcnt = graft.operators.Sketches.tokenCounts(docs)
    val batchGrid = graft.operators.Sketches.cmsGrid(tcnt)
      .as[(Int, Int, Long)].collect().toSet
    assert(streamedGrid == batchGrid && streamedGrid.nonEmpty)
    // probing the maintained grid reproduces the batch heavy hitters
    val streamedTop = graft.operators.Sketches
      .cmsProbe(Streams.cmsGridAt(spark, gridPath), tcnt)
      .as[(String, Long, Long, Long)].collect().toSeq
    val batchTop = graft.operators.Sketches.cmsTopK(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(streamedTop == batchTop && streamedTop.nonEmpty)
    docs.unpersist()
  }

  test("streamingDdBuckets: folded partials answer the same quantiles as batch") {
    val tmp = Files.createTempDirectory("graft-stream-dd").toString
    val (landing, bPath, ckpt) = (s"$tmp/landing", s"$tmp/buckets", s"$tmp/ckpt")
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_returnflag", "l_extendedprice").cache()
    li.filter($"l_orderkey" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    li.filter($"l_orderkey" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema("l_orderkey BIGINT, l_returnflag STRING, l_extendedprice DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingDdBuckets(stream, "l_returnflag", "l_extendedprice", bPath, ckpt)
      .awaitTermination(120000)
    assert(Streams.epochsAt(spark, bPath).select("epoch").distinct().count() >= 2)
    val folded = Streams.ddBucketsAt(spark, bPath, "l_returnflag")
      .as[(String, Long, Long)].collect().toSet
    val batchBuckets = graft.operators.Sketches
      .ddBuckets(li, "l_returnflag", "l_extendedprice")
      .as[(String, Long, Long)].collect().toSet
    assert(folded == batchBuckets && folded.nonEmpty)
    val streamedQ = graft.operators.Sketches.ddQuantilesFromBuckets(
        Streams.ddBucketsAt(spark, bPath, "l_returnflag"), "l_returnflag")
      .as[(String, Double, Long, Long, Double)].collect().toSet
    val batchQ = graft.operators.Sketches.ddSketchQuantiles(
        li, "l_returnflag", "l_extendedprice")
      .as[(String, Double, Long, Long, Double)].collect().toSet
    assert(streamedQ == batchQ && streamedQ.nonEmpty)
    li.unpersist()
  }

  test("streamingKmvSketch: folded partials equal the batch sketch and its overlaps") {
    val tmp = Files.createTempDirectory("graft-stream-kmv").toString
    val (landing, skPath, ckpt) = (s"$tmp/landing", s"$tmp/sketch", s"$tmp/ckpt")
    val ev = Tables.events(spark, TestSpark.sf0001).cache()
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingKmvSketch(stream, "event_type", "user_id", skPath, ckpt)
      .awaitTermination(120000)
    assert(Streams.epochsAt(spark, skPath).select("epoch").distinct().count() >= 2)
    val folded = Streams.kmvSketchAt(spark, skPath)
      .as[(String, Long)].collect().toSet
    val batchSk = graft.operators.Sketches
      .kmvSketch(ev, "event_type", "user_id")
      .as[(String, Long)].collect().toSet
    assert(folded == batchSk && folded.nonEmpty)
    val streamedOv = graft.operators.Sketches
      .kmvOverlapFromSketches(Streams.kmvSketchAt(spark, skPath))
      .select($"g_a", $"g_b", $"k_used", $"union_est", $"jaccard", $"inter_est")
      .as[(String, String, Long, Double, Double, Double)].collect().toSet
    val batchOv = graft.operators.Sketches
      .kmvOverlap(ev, "event_type", "user_id")
      .select($"g_a", $"g_b", $"k_used", $"union_est", $"jaccard", $"inter_est")
      .as[(String, String, Long, Double, Double, Double)].collect().toSet
    assert(streamedOv == batchOv && streamedOv.nonEmpty)
    // compaction collapses the epoch partials into one partition and the
    // k-min-of-distinct fold keeps the sketch (hence overlaps) identical
    Streams.compactKmvSketchAt(spark, skPath)
    assert(Streams.epochsAt(spark, skPath).select("epoch").distinct().count() == 1)
    assert(Streams.kmvSketchAt(spark, skPath)
      .as[(String, Long)].collect().toSet == batchSk)
    ev.unpersist()
  }

  test("streamingKsCounts: folded partials answer the same KS drift as batch; compaction preserves it") {
    val tmp = Files.createTempDirectory("graft-stream-ks").toString
    val (landing, ksPath, ckpt) = (s"$tmp/landing", s"$tmp/counts", s"$tmp/ckpt")
    val ev = Tables.events(spark, TestSpark.sf0001).cache()
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingKsCounts(stream, ksPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, ksPath).select("epoch").distinct().count() >= 2)
    val batchKs = graft.operators.EventAnalytics.ksDrift(ev)
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(Streams.ksDriftAt(spark, ksPath)
      .as[(String, Long, Long, Long, Double)].collect().toSet == batchKs)
    assert(batchKs.nonEmpty)
    // the SAME maintained state answers PSI (band = f(stored value))
    val batchPsi = graft.operators.EventAnalytics.psiDrift(ev)
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(Streams.psiDriftAt(spark, ksPath)
      .as[(String, Long, Long, Long, Double)].collect().toSet == batchPsi)
    assert(batchPsi.nonEmpty)
    Streams.compactKsCountsAt(spark, ksPath)
    assert(Streams.epochsAt(spark, ksPath).select("epoch").distinct().count() == 1)
    assert(Streams.ksDriftAt(spark, ksPath)
      .as[(String, Long, Long, Long, Double)].collect().toSet == batchKs)
    assert(Streams.psiDriftAt(spark, ksPath)
      .as[(String, Long, Long, Long, Double)].collect().toSet == batchPsi)
    ev.unpersist()
  }

  test("streamingLangCounts: folded partials answer the same mixture as batch") {
    val tmp = Files.createTempDirectory("graft-stream-mix").toString
    val (landing, mixPath, ckpt) = (s"$tmp/landing", s"$tmp/counts", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingLangCounts(stream, mixPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, mixPath).select("epoch").distinct().count() >= 2)
    val batchMix = graft.operators.Sampling.temperatureMixture(docs)
      .as[(String, Long, Long, Double, Long, Double)].collect().toSet
    assert(Streams.temperatureMixtureAt(spark, mixPath)
      .as[(String, Long, Long, Double, Long, Double)].collect().toSet == batchMix)
    assert(batchMix.nonEmpty)
    docs.unpersist()
  }

  test("streamingRfmStats: folded partials answer the same segments as batch; compaction preserves it") {
    val tmp = Files.createTempDirectory("graft-stream-rfm").toString
    val (landing, rfmPath, ckpt) = (s"$tmp/landing", s"$tmp/stats", s"$tmp/ckpt")
    val ev = Tables.events(spark, TestSpark.sf0001).cache()
    // split by event id so one user's purchases straddle both batches —
    // the max/sum merge is what's under test
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingRfmStats(stream, rfmPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, rfmPath).select("epoch").distinct().count() >= 2)
    val batchRfm = graft.operators.EventAnalytics.rfmSegments(ev)
      .as[(Long, Long, Long, Long, Int, Int, Int, String)].collect().toSet
    assert(Streams.rfmSegmentsAt(spark, rfmPath)
      .as[(Long, Long, Long, Long, Int, Int, Int, String)].collect().toSet == batchRfm)
    assert(batchRfm.nonEmpty)
    Streams.compactRfmStatsAt(spark, rfmPath)
    assert(Streams.epochsAt(spark, rfmPath).select("epoch").distinct().count() == 1)
    assert(Streams.rfmSegmentsAt(spark, rfmPath)
      .as[(Long, Long, Long, Long, Int, Int, Int, String)].collect().toSet == batchRfm)
    ev.unpersist()
  }

  test("streamingKnnAudit: folded candidate partials answer the same confusion and noise as batch; compaction preserves it") {
    val tmp = Files.createTempDirectory("graft-stream-knn").toString
    val (landing, statePath, ckpt) = (s"$tmp/landing", s"$tmp/cands", s"$tmp/ckpt")
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").cache()
    // split by vec_id parity so every probe's top-k straddles both
    // batches — the per-probe top-k MERGE is what's under test
    emb.filter($"vec_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    emb.filter($"vec_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    // pinned probe set = the batch audits' own hash-ordered sample; at
    // 500 < 4096 vectors it covers the collection, so the maintained
    // state must reproduce BOTH batch audits exactly
    val probes = operators.Similarity.knnProbes(emb, 4096).cache()
    val stream = spark.readStream.schema(StreamingSpec.labeledEmbeddingsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingKnnAudit(stream, probes, statePath, ckpt, k = 4)
      .awaitTermination(120000)
    assert(Streams.epochsAt(spark, statePath).select("epoch").distinct().count() >= 2)
    val batchConf = operators.Similarity.knnConfusion(emb, k = 4)
      .as[(Int, Int, Long, Double)].collect().toSet
    val batchNoise = operators.Similarity.knnLabelNoise(emb, k = 4)
      .as[(Long, Int, Long, Double, Boolean)].collect().toSet
    assert(batchConf.nonEmpty && batchNoise.nonEmpty)
    assert(Streams.knnConfusionAt(spark, statePath, k = 4)
      .as[(Int, Int, Long, Double)].collect().toSet == batchConf)
    assert(Streams.knnLabelNoiseAt(spark, statePath, k = 4)
      .as[(Long, Int, Long, Double, Boolean)].collect().toSet == batchNoise)
    // hubness rides the same state (fixed-point candidate ranks): parity
    // vs the fold over a one-shot candidate build on the union corpus
    val batchHubs = operators.Similarity.hubnessFromCandidates(
        operators.Similarity.knnCandidates(emb, probes, 4))
      .as[(Long, Long, Double)].collect().toSeq
    assert(batchHubs.nonEmpty)
    assert(Streams.knnHubnessAt(spark, statePath, k = 4)
      .as[(Long, Long, Double)].collect().toSeq == batchHubs)
    Streams.compactKnnAuditAt(spark, statePath, k = 4)
    assert(Streams.epochsAt(spark, statePath).select("epoch").distinct().count() == 1)
    assert(Streams.knnConfusionAt(spark, statePath, k = 4)
      .as[(Int, Int, Long, Double)].collect().toSet == batchConf)
    assert(Streams.knnHubnessAt(spark, statePath, k = 4)
      .as[(Long, Long, Double)].collect().toSeq == batchHubs)
    probes.unpersist(); emb.unpersist()
  }

  test("streamingCentroidDrift: folded partials answer the same drift as batch") {
    val tmp = Files.createTempDirectory("graft-stream-drift").toString
    val (landing, statePath, ckpt) = (s"$tmp/landing", s"$tmp/drift", s"$tmp/ckpt")
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").cache()
    // batches split by vec_id % 3 so both drift HALVES (vec_id % 2)
    // straddle both batches — the additive sum merge is what's under test
    emb.filter($"vec_id" % 3 === 0).coalesce(1).write.mode("append").parquet(landing)
    emb.filter($"vec_id" % 3 =!= 0).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.labeledEmbeddingsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingCentroidDrift(stream, statePath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, statePath).select("epoch").distinct().count() >= 2)
    val batchDrift = operators.Similarity.centroidDrift(emb)
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(batchDrift.nonEmpty)
    assert(Streams.centroidDriftAt(spark, statePath)
      .as[(Int, Long, Long, Double)].collect().toSet == batchDrift)
    emb.unpersist()
  }

  test("streamingNovelty: per-batch novelty over ordered arrival equals batch shingleNovelty") {
    val tmp = Files.createTempDirectory("graft-stream-novelty").toString
    val (landing, statePath, outPath, ckpt) =
      (s"$tmp/landing", s"$tmp/state", s"$tmp/out", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    // doc_id-ORDERED halves: novelty is an arrival-order semantics, so the
    // stream must see lower ids first for parity with the batch operator
    val mid = 250L
    docs.filter($"doc_id" < mid).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" >= mid).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingNovelty(stream, statePath, outPath, ckpt)
      .awaitTermination(120000)
    assert(Streams.epochsAt(spark, outPath).select("epoch").distinct().count() >= 2)
    val streamed = Streams.noveltyAt(spark, outPath)
      .as[(Long, Long, Long, Double)].collect().toSet
    val batch = graft.operators.Dedup.shingleNovelty(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the maintained state is exactly the corpus-wide first-occurrence table
    val state = Streams.epochsAt(spark, statePath)
      .as[(String, Long)].collect().toMap
    val expect = graft.operators.Dedup.shingles(docs)
      .groupBy("shingle").agg(min("doc_id").as("first_doc"))
      .as[(String, Long)].collect().toMap
    assert(state == expect)
    docs.unpersist()
  }

  test("streamingBlockDedup: ordered-arrival rewrites equal batch blockDedup") {
    val tmp = Files.createTempDirectory("graft-stream-blockdedup").toString
    val (landing, statePath, outPath, ckpt) =
      (s"$tmp/landing", s"$tmp/state", s"$tmp/out", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    val mid = 250L
    docs.filter($"doc_id" < mid).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" >= mid).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingBlockDedup(stream, statePath, outPath, ckpt)
      .awaitTermination(120000)
    assert(Streams.epochsAt(spark, outPath).select("epoch").distinct().count() >= 2)
    val streamed = Streams.blockDedupAt(spark, outPath)
      .as[(Long, Long, Long, String)].collect().toSet
    val batch = graft.operators.Dedup.blockDedup(docs)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    docs.unpersist()
  }

  test("streamingDsirFeatures: selection from maintained state matches batch dsirSelect on the appended pool") {
    val tmp = Files.createTempDirectory("graft-stream-dsir").toString
    val (landing, featPath, ckpt) = (s"$tmp/landing", s"$tmp/feat", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    val raw = docs.filter($"lang" =!= "en")
    val target = docs.filter($"lang" === "en")
    // the raw pool arrives in two appends — the corpus-refresh scenario
    raw.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    raw.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingDsirFeatures(stream, featPath, ckpt).awaitTermination(120000)
    assert(Streams.epochsAt(spark, featPath).select("epoch").distinct().count() >= 2)
    // selection from the maintained state == batch operator on the full
    // pool (q172's oracled trajectory), bit-identical ranks and keys
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Double)].collect().toSeq
    val batchSel = asRows(graft.operators.Sampling.dsirSelect(raw, target, 50, 256))
    val streamedSel = asRows(Streams.dsirSelectAt(spark, featPath, target, 50, 256))
    assert(streamedSel == batchSel && streamedSel.nonEmpty)
    docs.unpersist()
  }

  test("streamingMerkleLeaves: incremental manifest equals batch; re-delivery cannot drift digests") {
    val tmp = Files.createTempDirectory("graft-stream-merkle").toString
    val (l1, l2, leaves) = (s"$tmp/landing1", s"$tmp/landing2", s"$tmp/leaves")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    val half1 = docs.filter($"doc_id" % 2 === 0)
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(l1)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(l1)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(l1)
    Streams.streamingMerkleLeaves(stream, leaves, s"$tmp/ckpt1")
      .awaitTermination(120000)
    def manifest() = Streams.merkleManifestAt(spark, leaves)
      .as[(Int, Long, String, String)].collect().toSet
    val streamed = manifest()
    val batch = graft.operators.Sketches.merkleManifest(docs)
      .as[(Int, Long, String, String)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // replaying half the corpus through a fresh stream (new checkpoint)
    // upserts identical leaves — the manifest must not move
    half1.coalesce(1).write.mode("append").parquet(l2)
    Streams.streamingMerkleLeaves(
        spark.readStream.schema(StreamingSpec.documentsSchema).parquet(l2),
        leaves, s"$tmp/ckpt2")
      .awaitTermination(120000)
    assert(manifest() == batch)
    // no duplicate leaves after the replay
    val leafRows = spark.read.parquet(leaves)
    assert(leafRows.count() == leafRows.select("doc_id").distinct().count())
    docs.unpersist()
  }

  test("zero-downtime lex takedown: readers racing deleteLexDocsAt never fail and always see one complete state") {
    // the r18 verdict's reader-isolation ask: the old delete->rename swap
    // left a window where a concurrent reader saw a MISSING state dir.
    // Under the generation-pointer swap, a reader loop running WHILE the
    // takedown rewrites the state must answer exactly the pre-delete or
    // the post-delete corpus on every iteration — never throw, never mix
    // the two. (Appends — new stream waves — remain eventually-visible,
    // as for any non-transactional landing; the isolation claim covers
    // REWRITES: delete, purge, compaction.)
    val tmp = Files.createTempDirectory("graft-lex-race").toString
    val (landing, idxPath, ckpt) = (s"$tmp/landing", s"$tmp/lex", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingLexIndex(stream, idxPath, ckpt).awaitTermination(120000)
    val terms = Seq("join", "hash", "customer")
    def read() = Streams.bm25StreamedAt(spark, idxPath, terms)
      .collect().map(_.toSeq).toSet
    val ta = graft.operators.TextAnalysis
    val full = ta.bm25Indexed(ta.postings(docs), ta.docLengths(docs), terms)
      .collect().map(_.toSeq).toSet
    val survivors = docs.filter($"doc_id" % 5 =!= 3)
    val deleted = ta.bm25Indexed(
      ta.postings(survivors), ta.docLengths(survivors), terms)
      .collect().map(_.toSeq).toSet
    assert(full != deleted && read() == full)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Set[Seq[Any]]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try results.add(read())
        catch { case t: Throwable => errors.add(t); stop.set(true) }
      }
    })
    reader.start()
    try Streams.deleteLexDocsAt(spark, idxPath, pmod($"doc_id", lit(5)) === 3)
    finally { stop.set(true); reader.join(60000) }
    assert(errors.isEmpty, s"concurrent read failed mid-takedown: ${errors.peek()}")
    assert(!results.isEmpty, "reader never completed an iteration")
    results.forEach { r =>
      assert(r == full || r == deleted,
        s"mid-takedown read saw a mixed state (${r.size} rows vs " +
          s"${full.size} pre / ${deleted.size} post)")
    }
    assert(read() == deleted)
    docs.unpersist()
  }

  test("lex corpus-stat partials: additive fold equals the batch count/avg through every lifecycle step") {
    // the additive (n_docs, sum_dl) partials are the serving path's whole
    // view of the corpus statistics — they must track the doc-length
    // ground truth exactly through waves, compaction, takedown, readmit
    // and replace-by-id (each step either adds a partial or recomputes
    // the survivors'), or BM25's n_docs/avgdl silently drift from the
    // batch scorer's
    val tmp = Files.createTempDirectory("graft-lex-stats").toString
    val (landing, idxPath, ckpt) = (s"$tmp/landing", s"$tmp/lex", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingLexIndex(stream, idxPath, ckpt).awaitTermination(120000)
    def stats() = Streams.lexCorpusStatsAt(spark, idxPath)
      .as[(Double, Double)].head()
    def expect(d: org.apache.spark.sql.DataFrame) = {
      val ta = graft.operators.TextAnalysis
      ta.docLengths(d).agg(count(lit(1)).cast("double"), avg($"dl"))
        .as[(Double, Double)].head()
    }
    assert(stats() == expect(docs))
    Streams.compactLexIndexAt(spark, idxPath)
    assert(stats() == expect(docs))
    val pred = pmod($"doc_id", lit(5)) === 3
    Streams.deleteLexDocsAt(spark, idxPath, pred)
    assert(stats() == expect(docs.filter($"doc_id" % 5 =!= 3)))
    Streams.upsertDocsAt(spark, idxPath, docs.filter(pred))
    assert(stats() == expect(docs))
    // replace-by-id with CHANGED text: dl moves 1:1 with the replacement
    val changedId = docs.filter(pred).select("doc_id").as[Long].head()
    val changed = docs.filter($"doc_id" === changedId)
      .withColumn("text", lit("join join join"))
    Streams.upsertDocsAt(spark, idxPath, changed)
    assert(stats() == expect(
      docs.filter($"doc_id" =!= changedId).unionByName(changed)))
    docs.unpersist()
  }

  test("lexBucketStatsAt: per-bucket counts match a from-scratch recount; compaction defragments without moving content") {
    // the lexical twin of ivfCellStats (q296): the monitor reads the
    // maintained (epoch, pbk) layout — content columns must equal a
    // direct recount of the corpus postings bucketed by tokenBucket, and
    // the n_files fragmentation signal must DROP after compactLexIndexAt
    // while the content columns stay byte-identical (compaction moves
    // files, never postings)
    val tmp = Files.createTempDirectory("graft-lex-bstats").toString
    val (landing, idxPath, ckpt) = (s"$tmp/landing", s"$tmp/lex", s"$tmp/ckpt")
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(StreamingSpec.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    Streams.streamingLexIndex(stream, idxPath, ckpt).awaitTermination(120000)
    val ta = graft.operators.TextAnalysis
    def content() = Streams.lexBucketStatsAt(spark, idxPath)
      .select("pbk", "n_postings", "n_terms", "share")
      .collect().map(_.toSeq).toSeq
    val expected = ta.postings(docs)
      .withColumn("pbk", expr(ta.tokenBucketExpr("token")))
      .groupBy("pbk").agg(count(lit(1)).as("n_postings"),
        countDistinct($"token").as("n_terms"))
      .crossJoin(broadcast(ta.postings(docs)
        .agg(count(lit(1)).cast("double").as("n_total"))))
      .select($"pbk", $"n_postings", $"n_terms",
        round($"n_postings".cast("double") / $"n_total", 6).as("share"))
      .orderBy("pbk").collect().map(_.toSeq).toSeq
    assert(content() == expected)
    // shares sum to 1 (up to the per-bucket rounding)
    val shareSum = content().map(_(3).asInstanceOf[Double]).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares sum to $shareSum")
    // two waves appended one file set each: at least one bucket carries
    // >1 file pre-compaction; compaction resets the state to one epoch
    // and strictly reduces total postings-file count, content unmoved
    def layout() = Streams.lexBucketStatsAt(spark, idxPath)
      .select("pbk", "n_files").as[(Long, Int)].collect().toMap
    val before = layout()
    assert(before.values.max > 1, "expected multi-wave fragmentation")
    Streams.compactLexIndexAt(spark, idxPath)
    val after = layout()
    assert(after.values.max == 1,
      s"compaction must leave ONE file per bucket dir (max ${after.values.max})")
    assert(after.values.sum < before.values.sum,
      s"compaction did not defragment (${before.values.sum} -> ${after.values.sum})")
    assert(content() == expected)
    docs.unpersist()
  }
}

object StreamingSpec {
  /** Delete a spec-private two-wave doc state (marker, checkpoint, landing,
    * state) — for specs that MUTATE their state and must rebuild fresh on
    * every run rather than inherit a prior run's mutation. */
  def dropDocState(spark: org.apache.spark.sql.SparkSession, tag: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(graft.TmpCache.dir(spark,
      s"docstream-$tag", s"$tag-w2-c0", Seq(s"${TestSpark.sf0001}/documents.parquet")))
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
  }

  // the landing-dir formats these specs write and stream back: the
  // fixture tables' shapes, forced so a stream needs no inference pass
  val eventsSchema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
    "event_type STRING, value DOUBLE, props STRING"
  val documentsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
    "source STRING, n_chars BIGINT"
  val labeledEmbeddingsSchema =
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
}
