package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftFunctions.hash_embed
import graft.io.LocalFs
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (operator ids cited per entry), each with a DuckDB oracle
  * where ANSI-SQL-expressible.
  *
  * Oracle-comparability policy: every floating aggregate is either exact
  * integer arithmetic (money as cents — the testdata's 2-decimal doubles are
  * exact), a single f64 division (bit-identical across engines), or rounded
  * after an identically-ordered computation. Scores round to 4-6 digits;
  * orderings always carry a deterministic tie-break.
  */
object SparkEntry {

  private val Q = "transfer credits" // test_api.sh:52-56 fixture query

  /** Single-quote-escape a string for interpolation into a SQL literal —
    * the current fixtures are apostrophe-free, but a future fixture query
    * containing one would otherwise silently break the oracle SQL. */
  private def sqlLit(s: String): String = s.replace("'", "''")

  /** Batch-search fixture set: both smoke-script queries + extras. */
  private val QBatch = Seq(
    "transfer credits",
    "What are the articulation agreements for University of Florida?",
    "spark window agg",
    "customer order batch")

  /** q292's hybrid query batch: the vector side of query i is embedding
    * vec_id = i (the q282 probe convention); the lexical side is this
    * fixed per-query keyword set (all corpus-vocabulary terms). Shared by
    * the Spark query and its oracle so the two stay in lockstep. */
  private[graft] val ServingTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("join", "hash"),
    1L -> Seq("customer", "order"),
    2L -> Seq("vector", "stream"),
    3L -> Seq("window", "sort"),
    4L -> Seq("scan", "filter"))

  /** q306's TEXT-IN serving batch — the production request shape: a
    * STRING per query, nothing hand-derived. The first two are the
    * reference's own fixture queries (test_api.sh:40, test_api.sh:56);
    * the rest cover the synthetic corpus vocabulary. BOTH legs derive
    * from the string inside the query itself: the vector leg embeds it
    * (`hash_embed(qtext, 64)` against the 64-dim persisted IVF-PQ) and
    * the lexical leg normalizes it with [[Engine.keywordTerms]] — the
    * oracle re-derives the embedding from the same string IN SQL
    * (sha256 of the literal) and shares the SAME keywordTerms call at
    * SQL-generation time, so neither side can drift. */
  private[graft] val ServingTextQueries: Seq[String] = Seq(
    "What are the articulation agreements for University of Florida?",
    "transfer credits",
    "customer order priority",
    "hash join window sort",
    "stream filter scan")

  /** The per-query keyword sets q306 serves — DERIVED from
    * [[ServingTextQueries]] via the shared normalizer, never hand-fixed. */
  private[graft] def ServingTextTerms: Seq[(Long, Seq[String])] =
    ServingTextQueries.zipWithIndex.map { case (q, i) =>
      i.toLong -> Engine.keywordTerms(q)
    }

  /** q306's serving depth: TEXT-IN queries are hash-embedded strings —
    * FAR from every corpus vector, unlike q292's corpus-member batch —
    * so the coarse cell ranking carries less signal and the probe must
    * go deeper to hold quality. Measured on the overlap@5 gate
    * (`gate_serving_text_overlap_at_5` in REHEARSAL.json): nProbe=3/64 →
    * 0.88, nProbe=5/128 → 0.96 at 1x. Shortlist scales WITH the probe
    * depth: a deeper probe admits more ADC-noisy candidates, and a fixed
    * 64-row shortlist truncates the re-rank pool below the fusion's
    * nLeg=10 demand (nProbe=4 at shortlist=64 measured WORSE than 3 —
    * 0.80 — exactly this truncation). */
  private[graft] val TextServingNProbe = 5
  private[graft] val TextServingShortlist = 128

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    val index = Engine.ingest(Tables.documents(spark, "/root/testdata/sf0.001"))
    Engine.search(index, Q, 5)
  }

  /** Session tuning applied before every query. The two filter-inference
    * rules duplicate expensive expressions wholesale: FromGenerate copies
    * the generator input into a pre-Generate filter, FromConstraints infers
    * `isnotnull(<whole expression>)` from join keys and pushes it through
    * projections into the scan. Higher-order-function expressions are
    * CodegenFallback (interpreted), so each duplication multiplies the cost
    * of every shingle/minhash/simhash pipeline ~3x; the engine's tables are
    * non-null, so the rules buy nothing here — excluded. */
  def tune(s: SparkSession): SparkSession = {
    // before anything touches a file: the fork-free `file:` filesystem
    LocalFs.install(s)
    // All entry points agree on UTC: the events loader casts any inferred
    // TIMESTAMP_NTZ to session-TZ timestamp, and the DuckDB oracle reads the
    // same parquet naively — UTC makes the two µs values bit-identical.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate," +
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
    // Let cached plans EXPOSE their output partitioning: by default AQE
    // re-plans inside InMemoryRelation and the scan reports Unknown
    // partitioning, so every iterative operator (pageRank, BFS, label
    // propagation) re-shuffles its memoized edge/degree tables on EVERY
    // round even though they were repartitioned on the join key before
    // the memo — the dominant per-round exchange at scale.
    s.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // r19 A/B: parallelismFirst=false lost net +4.7 s over the sf0.1 board
    s.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    s
  }

  private def docs(s: SparkSession, dir: String) = Tables.documents(tune(s), dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(tune(s), dir)

  /** The three SHARED two-wave streamed states behind the `*_stream`
    * queries (build-once per (sfDir, source stamp, tag) — see
    * [[graft.streaming.Streams.ensureStreamedDocState]]): one lexical
    * index serving q258/q268, one term-count table serving q263-q265, one
    * contingency-cell table serving q266/q267. Declaring several readers
    * per state is the point — the maintained table is paid for once. */
  /** The lex index is the engine's most-read maintained state (6 readers:
    * q258/q268/q269/q270 plus both StreamingSpec scorers), so it carries
    * the hardest lifecycle: FOUR doc_id-mod-4 waves with a
    * `compactLexIndexAt` run between waves 2 and 3 — every reader
    * therefore answers from a state whose dir holds a compacted epoch=-1
    * partition NEXT TO two post-compaction epochs, proving in the
    * driver's own environment (not just in a spec) that the fold is
    * epoch-count-invariant and compaction-invariant mid-lifecycle. */
  private def lexStateOf(s: SparkSession, dir: String): String =
    graft.streaming.Streams.ensureLexState(s, docs(s, dir), dir)
  /** The lex state's erasure lifecycle (q298/q299): its own 3-wave +
    * compaction build, then every doc_id % 5 == 3 document's rows purged
    * from the maintained index — see
    * [[graft.streaming.Streams.ensureLexDeletedState]]. */
  private def lexDeletedStateOf(s: SparkSession, dir: String): String =
    graft.streaming.Streams.ensureLexDeletedState(s, docs(s, dir), dir)
  /** The lex state's READMIT lifecycle (q302/q303): the q298 takedown
    * build healed by re-ingesting the purged docs through the batch
    * [[graft.streaming.Streams.upsertDocsAt]] — every reader must equal
    * the never-deleted corpus. */
  private def lexReadmittedStateOf(s: SparkSession, dir: String): String =
    graft.streaming.Streams.ensureLexReadmittedState(s, docs(s, dir), dir)
  /** Three waves with `compactGroupTermCountsAt` between waves 2 and 3:
    * the additive-count fold algebra driver-checked under mid-lifecycle
    * compaction (the lex state covers the postings-union algebra, the knn
    * state the k-bounded top-k merge). */
  private def gtermStateOf(s: SparkSession, dir: String): String =
    graft.streaming.Streams.ensureStreamedDocState(s, docs(s, dir), dir,
      "gterm", waves = 3, compactAfterWave = 2,
      compactor = graft.streaming.Streams.compactGroupTermCountsAt)(
      (sd, out, ckpt) =>
        graft.streaming.Streams.streamingGroupTermCounts(sd, out, ckpt))
  /** Promoted to the uniform 3-wave + mid-lifecycle-compaction convention
    * (lex is 4-wave; gterm/knn/events are 3-wave): wave 3 lands NEXT TO
    * the compacted epoch=-1 partition, so both readers (q266/q267) fold
    * a genuinely mixed compacted+live state. */
  private def cellsStateOf(s: SparkSession, dir: String): String =
    graft.streaming.Streams.ensureStreamedDocState(s, docs(s, dir), dir,
      "cells", waves = 3, compactAfterWave = 2,
      compactor = graft.streaming.Streams.compactCellCountsAt)(
      (sd, out, ckpt) =>
        graft.streaming.Streams.streamingCellCounts(sd, out, ckpt))
  /** Events-table form (q271-q275): THREE event_id-mod-3 waves with the
    * state's own compactor run between waves 2 and 3 — the same
    * multi-wave + mid-lifecycle-compaction convention as the doc states
    * (lex 4-wave, gterm/knn 3-wave), so every event-table reader also
    * answers over a state whose dir holds a compacted epoch=-1 partition
    * next to a post-compaction epoch. */
  private def eventsStateOf(s: SparkSession, dir: String, tag: String,
      compactor: (SparkSession, String) => Unit)(
      start: (DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): String =
    graft.streaming.Streams.ensureStreamedTableState(
      s, Tables.events(tune(s), dir), dir, tag,
      idCol = "event_id", srcFile = "events.parquet",
      waves = 3, compactAfterWave = 2, compactor = compactor)(start)
  /** Promoted to 3 waves + mid-lifecycle compaction like [[cellsStateOf]]
    * — the last 2-wave state; its readers (q271/q272) now also answer
    * over a compacted epoch=-1 partition beside a live epoch. */
  private def ksStateOf(s: SparkSession, dir: String): String =
    graft.streaming.Streams.ensureStreamedTableState(
      s, Tables.events(tune(s), dir), dir, "kscnt",
      idCol = "event_id", srcFile = "events.parquet", waves = 3,
      compactAfterWave = 2,
      compactor = graft.streaming.Streams.compactKsCountsAt)(
      (ev, out, ckpt) =>
        graft.streaming.Streams.streamingKsCounts(ev, out, ckpt))
  /** The kNN-audit candidate state (q278/q279): per-probe top-4 labeled
    * neighbours maintained as k-bounded mergeable partials. Probes are
    * the audits' own hash-ordered 4096 draw over the full collection —
    * at every test SF that covers the collection, so the folded state
    * answers BOTH batch audits byte-identically (the StreamingSpec
    * parity contract). */
  private def knnStateOf(s: SparkSession, dir: String): String = {
    val e = emb(s, dir).select("vec_id", "embedding", "label")
    // three waves with compactKnnAuditAt between waves 2 and 3: the
    // compactor's GroupedTopK genuinely MERGES two epochs of k-bounded
    // candidate partials (not an identity fold), and wave 3 then lands
    // next to the compacted partition — the KMV merge argument
    // driver-checked by all three readers (q278/q279/q281)
    graft.streaming.Streams.ensureStreamedTableState(
      s, e, dir, "knn", idCol = "vec_id", srcFile = "embeddings.parquet",
      waves = 3, compactAfterWave = 2,
      compactor = (sp, p) =>
        graft.streaming.Streams.compactKnnAuditAt(sp, p, k = 4))(
      (sv, out, ckpt) => graft.streaming.Streams.streamingKnnAudit(
        sv, Similarity.knnProbes(e, 4096), out, ckpt, k = 4))
  }

  /** The chunked+embedded index every search-family query runs against.
    * Deliberately NOT PlanCache-memoized: measured at sf0.1 (this round),
    * scanning the in-memory COLUMNAR cache of the 1024-float embedding
    * column is ~13x slower than re-running the map-only chunk+embed
    * pipeline (q06 0.21 s inline vs 2.8 s cached — array columns pay
    * per-element cache build AND decompress-on-scan). Production persists
    * the index as parquet (`Engine.writeIndex`), which is the durable twin
    * of this recompute-not-cache choice. */
  private def indexOf(s: SparkSession, dir: String): DataFrame =
    Engine.ingest(docs(s, dir))

  private def searchRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val hits = Engine.search(indexOf(s, dir), Q, k)
    // Ranking k already-limited rows: the literal partition key keeps
    // WindowExec off its "No Partition Defined" global-sort path (harmless at
    // k rows, but it spams every run's log with a scale warning).
    hits.withColumn("rnk",
        row_number().over(Window.partitionBy(lit(1)).orderBy(desc("score"), asc("id"))))
      .select(col("rnk"), col("id"), col("source"), col("text"),
        round(col("score"), 4).as("score"))
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G1/F4/P2 — overlapping chunker + id projection (main.py:118-126, 158-170)
    "q01_chunk" -> ((s, dir) =>
      Engine.chunks(docs(s, dir))
        .select("id", "source", "pdf_path", "doc_id", "chunk_idx", "text")),
    // A1 — per-document chunk count (main.py:173)
    "q02_chunk_stats" -> ((s, dir) =>
      Engine.chunks(docs(s, dir)).groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))),
    // F1/F3 — SHA-256 digest (main.py:135-136)
    "q03_digest" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), sha2(col("text"), 256).as("digest"))),
    // F2 — digest-byte expansion, integer-exact probe (main.py:139-147)
    "q04_embed_bytes" -> ((s, dir) =>
      docs(s, dir).withColumn("hx", sha2(col("text"), 256)).selectExpr(
        "doc_id",
        "aggregate(transform(sequence(0, 31), j -> cast(conv(substr(hx, j*2+1, 2), 16, 10) AS int)), 0, (a, x) -> a + x) AS byte_sum",
        "cast(conv(substr(hx, 1, 2), 16, 10) AS int) AS b0",
        "cast(conv(substr(hx, 63, 2), 16, 10) AS int) AS b31")),
    // F2/F8 — embedding values (f32-exact) + dim + period-32 cycling probe
    "q05_embed_probe" -> ((s, dir) =>
      docs(s, dir).withColumn("e", hash_embed(col("text"))).select(
        col("doc_id"), size(col("e")).as("dim"),
        element_at(col("e"), 1).as("v0"), element_at(col("e"), 32).as("v31"),
        element_at(col("e"), 1024).as("v1023"))),
    // Q1/Q2/Q3 — flagship cosine top-k search (main.py:176-216)
    "q06_search" -> ((s, dir) => searchRanked(s, dir, 5)),
    // Q4/Q5 — QueryResponse with rank-ordered context string (main.py:324-331).
    // The API shape keeps `chunks` as an array of structs
    // (Engine.searchResponse); for the oracle compare the array is
    // serialized to a canonical delimited string — the driver's pandas
    // hash-compare cannot hash an array-of-struct column, and float-to-text
    // rendering differs between engines, so the score renders through a
    // DECIMAL(10,4) cast (fixed 4-digit text in both Spark and DuckDB).
    "q07_response" -> ((s, dir) =>
      Engine.searchResponse(indexOf(s, dir), Q, 5)
        .withColumn("chunks",
          array_join(
            transform(col("chunks"), c => concat_ws("\u0001",
              c.getField("id"), c.getField("source"),
              c.getField("score").cast("decimal(10,4)").cast("string"),
              c.getField("text"))),
            "\u0002"))),
    // A3/S6 — per-source index stats (main.py:240, 350)
    "q08_stats_source" -> ((s, dir) =>
      Engine.statsBySource(Engine.chunks(docs(s, dir)))),
    // A3 — total index stats
    "q09_stats_total" -> ((s, dir) =>
      Engine.statsTotal(Engine.chunks(docs(s, dir)))),
    // S5 — replace-by-id upsert (main.py:172)
    "q10_upsert" -> ((s, dir) => {
      val chunks = Engine.chunks(docs(s, dir)).select("id", "source", "doc_id", "text")
      val incoming = chunks.filter(col("doc_id") % 7 === 0)
        .select(col("id"), col("source"), upper(col("text")).as("text"))
      Engine.upsert(chunks.select("id", "source", "text"), incoming)
    }),
    // P1/F5 — title from path basename, replace-all semantics (main.py:287)
    "q11_title" -> ((s, dir) =>
      docs(s, dir).selectExpr("doc_id", "concat('pdfs/', source, '.pdf') AS path")
        .selectExpr("doc_id", "path",
          "replace(element_at(split(path, '/'), -1), '.pdf', '') AS title")),
    // extension: TPC-H Q1-shaped scan+agg (exact integer money)
    "q12_tpch_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus").agg(
          sum(expr("cast(l_quantity AS bigint)")).as("sum_qty"),
          sum(expr("cast(round(l_extendedprice * 100) AS bigint)")).as("sum_base_cents"),
          sum(expr("cast(round(l_extendedprice * 100) AS bigint) * (100 - cast(round(l_discount * 100) AS bigint))")).as("sum_disc_e4"),
          sum(expr("cast(round(l_extendedprice * 100) AS bigint) * (100 - cast(round(l_discount * 100) AS bigint)) * (100 + cast(round(l_tax * 100) AS bigint))")).as("sum_charge_e6"),
          count(lit(1)).as("count_order"))),
    // extension: multi-way join + agg — only the 25-row nation dim
    // broadcasts; orders and customer are SF-proportional, so both
    // fact-fact hops are pinned SHUFFLE_HASH (an unhinted join here let
    // the planner broadcast them at test SF — scale-safe only by luck)
    "q13_join_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).hint("SHUFFLE_HASH"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).hint("SHUFFLE_HASH"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(
          sum(expr("cast(round(l_extendedprice * 100) AS bigint) * (100 - cast(round(l_discount * 100) AS bigint))")).as("revenue_e4"),
          countDistinct("c_custkey").as("n_customers"),
          count(lit(1)).as("n_lineitems"))),
    // extension: window ranking (per-group top-k)
    "q14_window_topcust" -> ((s, dir) =>
      Tables.customer(s, dir)
        .withColumn("rnk", row_number().over(
          Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"), asc("c_custkey"))))
        .filter(col("rnk") <= 3)
        .selectExpr("c_mktsegment", "rnk", "c_custkey",
          "cast(round(c_acctbal * 100) AS bigint) AS acctbal_cents")),
    // extension: event-time tumbling window agg (batch form of §2.11)
    "q15_events_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value * 100) AS bigint)")).as("sum_value_cents"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value_cents"))),
    // extension: semi-structured props extraction (events.props JSON-ish)
    "q16_events_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", expr(
          """cast(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS bigint)"""))
        .groupBy("event_type").agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))),
    // extension: token counting (text analysis)
    "q17_tokens" -> ((s, dir) => TextAnalysis.tokenStats(docs(s, dir))),
    // extension: quality scoring
    "q18_quality" -> ((s, dir) => TextAnalysis.qualityScore(docs(s, dir))),
    // extension: heuristic language ID
    "q19_langid" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),
    // extension: document fingerprint (min-hash of 8-grams)
    "q20_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),
    // extension: exact dedup groups (hash-groupBy)
    "q21_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), "substring(text, 1, 64)")),
    // extension: n-gram Jaccard near-dup pairs (inverted-index self-join)
    "q22_jaccard_pairs" -> ((s, dir) => Dedup.jaccardPairs(docs(s, dir), 0.5)),
    // extension: brute-force cosine top-k, batch multi-query (§2.7)
    "q23_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.bruteForceTopK(e, q, 3)
    }),
    // extension: exact cosine near-dup pair join
    "q24_knn_pairs" -> ((s, dir) =>
      Similarity.cosinePairs(emb(s, dir).select("vec_id", "embedding"), 0.3)),
    // extension: MinHash signatures + LSH bands
    "q25_minhash_bands" -> ((s, dir) => Dedup.minhashBands(docs(s, dir))),
    // extension: MinHash-LSH candidate pairs + exact verification
    "q26_minhash_pairs" -> ((s, dir) => Dedup.minhashPairs(docs(s, dir), 0.5)),
    // extension: SimHash signatures
    "q27_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    // extension: multimodal binary plumbing (stub decode; rows-only check)
    "q28_mm_features" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "doc_id", "encode(text, 'utf-8')", "raw")
      Multimodal.extractFeatures(media).toDF()
        .select("media_id", "format", "n_bytes", "width", "height", "channels")
    }),
    // extension: LSH approximate top-k (MLlib; rows-only check)
    "q29_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.lshTopK(e, q, 3)
    }),
    // extension: IVF (KMeans-cell) approximate top-k (rows-only check)
    "q30_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.ivfTopK(e, q, 3)
    }),
    // G1 multi-chunk path in the gate: synthesize long texts (the driver
    // corpus is single-chunk), chunk them, verify ids/overlap windows
    "q35_chunk_long" -> ((s, dir) =>
      Engine.chunks(docs(s, dir)
          .withColumn("text", expr("repeat(text || ' ', 6)")))
        .select(col("id"), col("doc_id"), col("chunk_idx"),
          length(col("text")).as("chunk_len"), sha2(col("text"), 256).as("chunk_sha"))),
    // extension: sliding event-time windows (batch form)
    "q36_events_sliding" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))),
    // extension: session windows (batch form; 30-minute gap)
    "q37_sessions" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("session_start"), col("user_id"), col("n_events"))),
    // extension: LSH approximate near-dup pair join (rows-only check)
    "q34_knn_pairs_lsh" -> ((s, dir) =>
      Similarity.lshNearDupPairs(emb(s, dir).select("vec_id", "embedding"), 0.3)),
    // extension: SimHash banded Hamming pair join
    "q33_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir), 3)),
    // custom physical operator: grouped top-k via bounded per-group heaps
    // (partial/final phases around one exchange) — same semantics as q23
    "q31_ann_topk_custom" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      val scored = Similarity.cosineScores(e, q).select("query_id", "vec_id", "score")
      graft.plans.GroupedTopK(scored,
          Seq(col("query_id")), Seq(desc("score"), asc("vec_id")), 3)
        .select(col("query_id"), col("vec_id"), col("rank").as("rnk"),
          round(col("score"), 4).as("score"))
    }),
    // extension: batch multi-query flagship search (broadcast query set +
    // GroupedTopK; the corpus side never shuffles)
    "q32_search_batch" -> ((s, dir) =>
      Engine.searchMany(indexOf(s, dir), QBatch, 5)
        .select(col("query"), col("rank"), col("id"), col("source"),
          round(col("score"), 4).as("score"))),
    // extension: duplicate clustering (connected components over near-dup
    // pairs — the keep-one-per-cluster step after any pair join)
    "q38_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(Dedup.jaccardPairs(docs(s, dir), 0.5))),
    // extension: corpus text normalization
    "q39_normalize" -> ((s, dir) => TextAnalysis.normalizeText(docs(s, dir))),
    // extension: PII redaction with hit counts
    "q40_redact_pii" -> ((s, dir) => TextAnalysis.redactPii(docs(s, dir))),
    // extension: deterministic hash-bucketed train/val/test split
    "q41_split_hash" -> ((s, dir) => operators.Sampling.splitByHash(docs(s, dir))),
    // extension: sequence packing (per-shard token offsets -> sequence bins)
    "q42_pack_sequences" -> ((s, dir) => operators.Sampling.packSequences(docs(s, dir))),
    // extension: end-to-end corpus prep (normalize -> quality -> dedup -> split)
    "q43_prepare_corpus" -> ((s, dir) => operators.Pipeline.prepareCorpus(docs(s, dir))),
    // extension: deterministic random-projection LSH top-k — approximate ANN
    // with a FULL oracle (hash-derived hyperplanes reproduce in SQL)
    "q44_ann_rp" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.rpTopK(e, q, 3)
    }),
    // extension: deterministic random-projection LSH near-dup pair join
    "q45_rp_pairs" -> ((s, dir) =>
      Similarity.rpNearDupPairs(emb(s, dir).select("vec_id", "embedding"), 0.3)),
    // extension: int8 scalar-quantized top-k (4x smaller index, integer
    // scoring — fully oracle-checked)
    "q46_ann_sq8" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.sqTopK(e, q, 3)
    }),
    // extension: distributed as-of join (event -> latest prior state) —
    // union + one clustered window, never a per-row range probe
    "q47_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      // right side unique per (key, ts) — the as-of contract
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      operators.Joins.asOfJoin(clicks, views, "user_id", "ts", "event_id", "view_value")
    }),
    // extension: BM25 keyword scoring (lexical retrieval leg of hybrid search)
    "q48_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(docs(s, dir), Seq("transfer", "credit", "university"))),
    // extension: Gopher-style repetition/boilerplate signals
    "q49_repetition" -> ((s, dir) => TextAnalysis.repetitionStats(docs(s, dir))),
    // extension: banded interval self-join (same-user event pairs within 5
    // minutes) — time-bucket equi-join, never the quadratic pair space
    "q50_interval_pairs" -> ((s, dir) =>
      operators.Joins.intervalSelfJoin(Tables.events(s, dir),
        "user_id", "ts", "event_id", 300)),
    // extension: hybrid search — RRF fusion of the vector and BM25 legs
    "q51_hybrid_rrf" -> ((s, dir) =>
      Engine.hybridSearch(indexOf(s, dir), Q, 5)),
    // extension: deterministic random-projection dimensionality reduction
    // (JL shrink; flattened to scalar columns for the comparator)
    "q52_reduce_dim" -> ((s, dir) => {
      val r = Similarity.reduceDim(emb(s, dir).select("vec_id", "embedding"), outDim = 8)
      r.select(col("vec_id") +:
        (0 until 8).map(j => element_at(col("reduced"), j + 1).as(s"r$j")): _*)
    }),
    // extension: deterministic stratified (per-language) downsampling
    "q53_stratified_sample" -> ((s, dir) =>
      operators.Sampling.stratifiedSampleByHash(docs(s, dir), "lang",
          Map("en" -> 0.3, "de" -> 0.8), default = 0.6)
        .select("doc_id", "lang")),
    // extension: data selection under a global token budget (distributed
    // prefix sum over the quality order)
    "q54_token_budget" -> ((s, dir) =>
      operators.Sampling.selectByTokenBudget(docs(s, dir), budgetTokens = 20000L)),
    // extension: eval-set decontamination (shared 5-gram inverted-index join)
    "q55_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminated(d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0), n = 5)
    }),
    // extension: binary-quantization ANN (63-bit sign sketches, 8 bytes per
    // vector; Hamming shortlist via XOR+popcount, exact re-rank) — like
    // q44/q46, approximate ANN with a FULL oracle
    "q56_ann_bq" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.bqTopK(e, q, 3)
    }),
    // extension: batch hybrid search — RRF fusion over a query SET in one
    // plan (one BM25 stats pass for the union of keywords; both legs ranked
    // through GroupedTopK; union+groupBy fusion)
    "q57_hybrid_batch" -> ((s, dir) =>
      Engine.hybridSearchMany(indexOf(s, dir), QBatch, 5)),
    // extension: incremental int8-SQ index maintenance — build on 80% of the
    // corpus, upsert the rest, probe. The oracle is q46's full-rebuild SQL:
    // per-vector quantization makes upsert EXACTLY equal a rebuild, and this
    // query proves it cross-engine.
    "q58_sq8_upsert" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.sqProbe(
        Similarity.upsertSq(
          Similarity.sqIndex(e.filter(col("vec_id") % 5 =!= 0)),
          e.filter(col("vec_id") % 5 === 0)),
        q, 3)
    }),
    // extension: incremental binary-quantization maintenance — same contract
    // as q58 against q56's full-rebuild oracle.
    "q59_bq_upsert" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.bqProbe(
        Similarity.upsertBq(
          Similarity.bqIndex(e.filter(col("vec_id") % 5 =!= 0)),
          e.filter(col("vec_id") % 5 === 0)),
        e, q, 3)
    }),
    // extension: metadata-filtered search — the query-time predicate the
    // reference's store supports but never exercises, pushed below scoring
    "q60_filtered_search" -> ((s, dir) => {
      val hits = Engine.searchWhere(indexOf(s, dir), Q,
        col("doc_id") % 3 === 0, 5)
      hits.withColumn("rnk",
          row_number().over(Window.partitionBy(lit(1)).orderBy(desc("score"), asc("id"))))
        .select(col("rnk"), col("id"), col("source"), col("text"),
          round(col("score"), 4).as("score"))
    }),
    // extension: diversified search — best chunk per source, then top-k
    // across sources (GroupedTopK + TakeOrderedAndProject)
    "q61_diverse_search" -> ((s, dir) =>
      Engine.searchDiverse(indexOf(s, dir), Q, 5)
        .select(col("id"), col("source"), round(col("score"), 4).as("score"))),
    // extension: range (radius) search — all chunks above a score
    // threshold; a filter, not a top-k: no sort anywhere in the plan
    "q62_range_search" -> ((s, dir) =>
      Engine.searchRadius(indexOf(s, dir), Q, 0.3)
        .select(col("id"), col("source"), round(col("score"), 4).as("score"))),
    // extension: facet counts over the top-100 candidate set
    "q63_facet_counts" -> ((s, dir) =>
      Engine.searchFacets(indexOf(s, dir), Q, 100)),
    // extension: document deletion — the index lifecycle's removal half;
    // delete two sources, then the stats aggregation proves what remains
    "q64_delete_source" -> ((s, dir) =>
      Engine.statsBySource(
        Engine.deleteBySource(Engine.chunks(docs(s, dir)), Seq("src3", "src7")))),
    // extension: MMR re-rank — greedy relevance-vs-redundancy selection over
    // the top-20 shortlist; deterministic end-to-end, oracle unrolls the
    // five selection steps in SQL
    "q65_mmr_rerank" -> ((s, dir) =>
      graft.operators.Rerank.mmrRerank(indexOf(s, dir), Q,
        k = 5, m = 20, lambda = 0.7)),
    // extension: paginated search — page 2 (rows 11-15) of the ranking;
    // offset+limit fold into one TakeOrderedAndProject
    "q66_search_page" -> ((s, dir) =>
      Engine.searchPage(indexOf(s, dir), Q, page = 2, pageSize = 5)
        .select(col("id"), col("source"), round(col("score"), 4).as("score"))),
    // extension: composite ANN — deterministic rp-LSH coarse stage + int8
    // fine stage (the IVF-SQ composition with both halves hash-checkable)
    "q67_ann_rp_sq8" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.rpSqTopK(e, q, 3)
    }),
    // extension: deterministic KMeans — Lloyd with fixed-point means, no
    // RNG anywhere, so the full clustering trajectory is hash-checkable
    "q68_det_kmeans" -> ((s, dir) =>
      Similarity.detKMeans(emb(s, dir).select("vec_id", "embedding"), 8, 3)._2),
    // extension: fully-oracled IVF — detKMeans cells + nProbe probe + exact
    // cosine; the hash-checked twin of the rows-only q30
    "q69_det_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.detIvfTopK(e, q, 3)
    }),
    // extension: weighted-blend hybrid (min-max normalized relative-score
    // fusion — the other standard fusion beside q51's RRF)
    "q70_hybrid_blend" -> ((s, dir) =>
      Engine.hybridSearchBlend(indexOf(s, dir), Q, 5)),
    // extension: keyword snippets/highlights for the top-k hits
    "q71_snippets" -> ((s, dir) =>
      Engine.searchSnippets(indexOf(s, dir), Q, 5)),
    // extension: corpus vocabulary heavy hitters
    "q72_top_tokens" -> ((s, dir) =>
      graft.operators.TextAnalysis.topTokens(docs(s, dir), 20)),
    // extension: batch QueryResponse — q07's canonical serialization per
    // query over the whole fixture batch
    "q73_response_batch" -> ((s, dir) =>
      Engine.searchResponseMany(indexOf(s, dir), QBatch, 5)
        .withColumn("chunks",
          array_join(
            transform(col("chunks"), c => concat_ws("",
              c.getField("id"), c.getField("source"),
              c.getField("score").cast("decimal(10,4)").cast("string"),
              c.getField("text"))),
            ""))),
    // extension: index consistency report over an index with two planted
    // defects (a duplicate-id empty-text row and a wrong-dimension row)
    "q74_index_fsck" -> ((s, dir) => {
      import s.implicits._
      val idx = indexOf(s, dir)
        .select("id", "source", "text", "embedding")
      val bad = Seq(
        ("src0_0_0", "src0", "", Array.fill(1024)(0.0f)),
        ("zz_bad_dim", "srcZ", "x", Array.fill(10)(0.1f)))
        .toDF("id", "source", "text", "embedding")
      Engine.indexFsck(idx.unionByName(bad))
    }),
    // extension: recommendation search — query by example ids (mean of two
    // positives minus one negative; 2-element sums commute in f64, so the
    // driver-side assembly is engine-portable); the examples themselves are
    // excluded from the results
    "q75_recommend" -> ((s, dir) => {
      import s.implicits._
      val idx = indexOf(s, dir)
      val pos = idx.select("id").orderBy("id").limit(2).as[String].collect().toSeq
      val neg = idx.select("id").orderBy(col("id").desc).limit(1).as[String].collect().toSeq
      Engine.recommend(idx, pos, neg, 5)
    }),
    // extension: product quantization — per-subspace deterministic
    // codebooks (fixed-point Lloyd, the q68 recipe per 4-dim slice), ADC
    // lookup scoring over 16-byte codes, shortlist + exact re-rank; the
    // memory-bound ANN index, fully hash-checkable like q44/q46/q56/q69
    "q76_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.pqTopK(e, q, 3)
    }),
    // extension: SemDeDup-style semantic dedup — detKMeans cells, intra-cell
    // cosine pairs only, lowest id kept; deterministic end-to-end
    "q77_semantic_dedup" -> ((s, dir) =>
      graft.operators.Dedup.semanticDedup(
        emb(s, dir).select("vec_id", "embedding"), 0.35)),
    // extension: mixture-weighted downsampling — per-source keep fractions
    // derived from target weights + a row budget, hash-rule selection
    "q78_mixture_sample" -> ((s, dir) =>
      graft.operators.Sampling.sampleToMixture(
          docs(s, dir), "source", MixWeights, 60)
        .select("doc_id", "source")),
    // extension: cross-document boilerplate fractions — share of a doc's
    // distinct word 5-grams occurring in >= 2 documents
    "q79_boilerplate" -> ((s, dir) =>
      graft.operators.TextAnalysis.boilerplateStats(docs(s, dir))),
    // extension: IVF-PQ composite — detKMeans coarse cells bound WHICH
    // vectors a query touches, PQ codes bound the BYTES per vector; both
    // halves deterministic, so the canonical billion-scale layout is
    // hash-checked end-to-end
    "q80_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.ivfPqTopK(e, q, 3)
    }),
    // extension: cross-corpus near-dup join — dedup an incoming batch (10%
    // slice) against the existing corpus via rp-LSH buckets + exact verify
    "q81_cross_dedup" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      Similarity.rpCrossNearDupPairs(
        e.filter(col("vec_id") % 10 === 0),
        e.filter(col("vec_id") % 10 =!= 0), 0.3)
    }),
    // extension: unigram-LM surprisal quality score (fixed-point sums make
    // the transcendental pass order-free and hash-checkable)
    "q82_surprisal" -> ((s, dir) =>
      graft.operators.TextAnalysis.surprisalScore(docs(s, dir))),
    // extension: per-stratum quality-quantile selection — best 40% of every
    // source by quality, ranked distributed (no global window)
    "q83_quality_quantile" -> ((s, dir) =>
      graft.operators.Sampling.topQualityByStratum(docs(s, dir), "source", 0.4)),
    // extension: table profiling (ANALYZE-style audit) — one aggregation
    // job, one output row per profiled column
    "q84_profile" -> ((s, dir) =>
      graft.operators.TableStats.profileTable(
        Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))),
    // extension: frame-window aggregation — per-user trailing-4-event moving
    // average; fixed-point longs keep the sliding sum order-free (engines
    // disagree on f64 window-sum association, integers cannot)
    "q85_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          col("ts"), expr("CAST(floor(value * 1048576.0 + 0.5) AS BIGINT)").as("fx"))
        .withColumn("s", sum("fx").over(w))
        .withColumn("n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"),
          expr("(CAST(s AS DOUBLE) / n) / 1048576.0").as("mov_avg"))
    }),
    // extension: hierarchical aggregation — ROLLUP over (source, lang)
    "q86_rollup" -> ((s, dir) =>
      docs(s, dir).rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))),
    // extension: pivot — per-source document counts by language
    "q87_pivot" -> ((s, dir) =>
      docs(s, dir).groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1))).na.fill(0L)),
    // extension: exact shared-span pairs — the windowed-token form of
    // exact-substring dedup; 20-token spans, df-capped
    "q89_shared_spans" -> ((s, dir) =>
      graft.operators.Dedup.sharedSpanPairs(docs(s, dir))),
    // extension: residual IVF-PQ (true IVFADC) — PQ codebooks model the
    // cell residuals; ADC = per-cell base dot + residual lookups
    "q90_ann_ivfpq_res" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.ivfPqResidualTopK(e, q, 3)
    }),
    // extension: TPC-H Q5 shape — six-table join (local-supplier revenue by
    // nation in one region/year); only nation (25) and region (5)
    // broadcast — orders/customer/supplier are SF-proportional, so every
    // hop touching them is pinned SHUFFLE_HASH; date range + region
    // filters push into the scans, money as integer cents
    "q88_tpch_q5" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'"))
          .hint("SHUFFLE_HASH"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).hint("SHUFFLE_HASH"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir).hint("SHUFFLE_HASH"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(
          sum(expr("cast(round(l_extendedprice * 100) AS bigint) * (100 - cast(round(l_discount * 100) AS bigint))")).as("revenue_e4"),
          count(lit(1)).as("n_lineitems"))),
    // extension: CUBE — all 2^2 grouping sets over (source, lang); completes
    // the rollup (q86) / pivot (q87) hierarchical-agg family
    "q91_cube" -> ((s, dir) =>
      docs(s, dir).cube("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))),
    // extension: ordered-step product funnel over events (view -> click ->
    // purchase), per-user earliest completion times, long form
    "q92_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(
        Tables.events(s, dir), Seq("view", "click", "purchase"))),
    // extension: weekly retention cohorts (first-seen week x week offset)
    "q93_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.retentionCohorts(Tables.events(s, dir))),
    // extension: per-user daily gap-fill/resample with explicit zero rows
    "q94_gap_fill" -> ((s, dir) =>
      graft.operators.EventAnalytics.gapFillDaily(Tables.events(s, dir))),
    // extension: SCD-2 state history — consecutive same-type runs collapsed
    // to validity intervals (gaps-and-islands)
    "q95_state_history" -> ((s, dir) =>
      graft.operators.EventAnalytics.stateHistory(Tables.events(s, dir))),
    // extension: per-type z-score outliers from exact fixed-point moments
    "q96_zscore" -> ((s, dir) =>
      graft.operators.EventAnalytics.zscoreOutliers(Tables.events(s, dir), 2.0)),
    // extension: edit-distance near-dup pairs — lossless length-band
    // blocking, thresholded banded-DP levenshtein verified before distinct
    "q97_lev_pairs" -> ((s, dir) => Dedup.levenshteinPairs(docs(s, dir))),
    // extension: TF-IDF keyword scoring (vector-space twin of q48's BM25)
    "q98_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(docs(s, dir), Seq("transfer", "credit", "university"))),
    // extension: bigram-LM surprisal — second-order q82, add-one smoothing
    "q99_bigram_lm" -> ((s, dir) => TextAnalysis.bigramSurprisal(docs(s, dir))),
    // extension: c-TF-IDF topic terms per class, ranked via GroupedTopK
    "q100_class_topics" -> ((s, dir) => TextAnalysis.classTopTerms(docs(s, dir))),
    // extension: Z-order layout — deterministic zone-map audit of the
    // Morton-bucketed lineitem (l_partkey, l_suppkey) space; the skipping
    // statistics a planner consults for 2-D box predicates
    "q101_zorder_zonemap" -> ((s, dir) =>
      graft.operators.Layout.zZoneMap(
        Tables.lineitem(s, dir).select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", bits = 21, bucketBits = 12)),
    // extension: bloom-filter decontamination — corpus minus eval
    // fingerprints with the 100 TB side never shuffling; exact anti-join
    // semantics (the oracle IS the plain anti-join)
    "q102_bloom_decon" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("fp", expr("substring(text, 1, 60)"))
      Dedup.bloomAntiJoin(d.filter(col("doc_id") % 7 =!= 0),
          d.filter(col("doc_id") % 7 === 0).select("fp"), "fp")
        .select("doc_id", "source")
    }),
    // extension: deterministic weighted sampling without replacement
    // (Efraimidis-Spirakis keys from hash uniforms, per-source top-5)
    "q103_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(docs(s, dir), "n_chars", 5)),
    // extension: fixed-point PageRank over the part-supplier bipartite
    // graph — integer-exact iterations, fully hash-checkable
    "q104_pagerank" -> ((s, dir) => {
      val e = Tables.lineitem(s, dir).select(
        concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      graft.operators.Graph.pageRank(e, 3)
    }),
    // extension: declarative data-quality audit — one row per rule
    "q105_dq_audit" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      graft.operators.TableStats.dqAudit(Seq(
        "lineitem_orphan_orderkey" ->
          graft.operators.TableStats.orphans(li, "l_orderkey", o, "o_orderkey"),
        "orders_orphan_custkey" ->
          graft.operators.TableStats.orphans(o, "o_custkey",
            Tables.customer(s, dir), "c_custkey"),
        "lineitem_nonpositive_qty" -> li.filter(col("l_quantity") <= 0),
        "lineitem_discount_range" ->
          li.filter(col("l_discount") < 0 || col("l_discount") > 1),
        "part_duplicate_pk" ->
          graft.operators.TableStats.duplicateKeys(Tables.part(s, dir), "p_partkey"),
        "orders_null_custkey" -> o.filter(col("o_custkey").isNull)))
    }),
    // extension: daily active/new/cumulative users dashboard rollup
    "q106_daily_active" -> ((s, dir) =>
      graft.operators.EventAnalytics.dailyActiveUsers(Tables.events(s, dir))),
    // extension: fixed-width histogram of event values
    "q107_histogram" -> ((s, dir) =>
      graft.operators.TableStats.histogram(Tables.events(s, dir), "value", 0.0, 25.0)),
    // extension: Pearson correlation matrix from exact integer moments
    // (order-invariant, unlike running-moment corr())
    "q108_corr" -> ((s, dir) =>
      graft.operators.TableStats.corrMatrix(Tables.lineitem(s, dir), Seq(
        "qty" -> "CAST(round(l_quantity) AS BIGINT)",
        "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
        "discount" -> "CAST(round(l_discount * 100) AS BIGINT)",
        "tax" -> "CAST(round(l_tax * 100) AS BIGINT)"))),
    // extension: inverted-index build — the postings table
    "q109_postings" -> ((s, dir) => TextAnalysis.postings(docs(s, dir))),
    // extension: BM25 over the inverted index — q48's formula with
    // df-bounded per-query cost; returns exactly q48's rows with a hit
    "q110_bm25_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.bm25Indexed(TextAnalysis.postings(d),
        TextAnalysis.docLengths(d), Seq("join", "hash", "customer"))
    }),
    // extension: market-basket co-occurrence — top part pairs by shared
    // orders; pair space per basket, never corpus-squared
    "q111_copurchase" -> ((s, dir) =>
      graft.operators.Graph.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 20)),
    // extension: explicit GROUPING SETS ((source), (lang), ()) — the
    // irregular-sets form rollup/cube cannot express
    "q112_grouping_sets" -> ((s, dir) =>
      docs(s, dir)
        .groupingSets(Seq(Seq(col("source")), Seq(col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))),
    // extension: exact interpolated percentiles per group on integer cents
    "q113_percentiles" -> ((s, dir) =>
      graft.operators.TableStats.percentilesBy(Tables.lineitem(s, dir),
        "l_returnflag", "CAST(round(l_extendedprice * 100) AS BIGINT)")),
    // extension: association rules (confidence/lift) from basket pairs
    "q114_assoc_rules" -> ((s, dir) =>
      graft.operators.Graph.associationRules(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2)),
    // extension: window-function suite — lag/delta/ntile/cume_dist per
    // user on the (ts, event_id) total order; all integer-or-exact outputs
    "q115_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("prev_cents", lag("cents", 1).over(w))
        .withColumn("delta", expr("cents - prev_cents"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("cdist", round(cume_dist().over(w), 6))
        .select("event_id", "user_id", "cents", "prev_cents", "delta",
          "quartile", "cdist")
    }),
    // extension: multi-probe rp-LSH — +-1 adjacent-bucket probes per table
    "q116_ann_multiprobe" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.rpTopKMultiProbe(e, q, 3)
    }),
    // extension: time-weighted average value per user (TWAP)
    "q117_twap" -> ((s, dir) =>
      graft.operators.EventAnalytics.timeWeightedAvg(Tables.events(s, dir))),
    // extension: chi-square contingency audit (event_type x day-of-week)
    "q118_chisq" -> ((s, dir) =>
      graft.operators.TableStats.chiSquare(
        Tables.events(s, dir).withColumn("dow", expr(
          graft.operators.EventAnalytics.dayIdxSql("ts", "2024-01-01") + " % 7")),
        "event_type", "dow")),
    // extension: Markov transition matrix between consecutive user events
    "q119_transitions" -> ((s, dir) =>
      graft.operators.EventAnalytics.transitionMatrix(Tables.events(s, dir))),
    // extension: top length-3 user journeys
    "q120_top_paths" -> ((s, dir) =>
      graft.operators.EventAnalytics.topPaths(Tables.events(s, dir), 10)),
    // extension: hashing-trick featurizer (sha256-derived, oracle-checkable)
    "q121_feature_hash" -> ((s, dir) =>
      TextAnalysis.hashFeatures(docs(s, dir), 256)),
    // extension: Hilbert-curve zone maps — Z-order's better-locality twin
    "q122_hilbert_zonemap" -> ((s, dir) =>
      graft.operators.Layout.hZoneMap(
        Tables.lineitem(s, dir).select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", bits = 21, bucketBits = 12)),
    // extension: exact phrase search over the positional inverted index
    "q124_phrase_search" -> ((s, dir) =>
      TextAnalysis.phraseSearch(docs(s, dir), Seq("table", "hash"))),
    // extension synthesis: time-to-convert — funnel step-1 -> step-3 delay
    // percentiles (exact, integer seconds); funnel + percentilesBy composed
    "q126_time_to_convert" -> ((s, dir) => {
      val f = graft.operators.EventAnalytics.funnel(
        Tables.events(s, dir), Seq("view", "click", "purchase"))
      val t1 = f.filter(col("step") === 1)
        .select(col("user_id"), col("step_ts").as("t1"))
      val t3 = f.filter(col("step") === 3)
        .select(col("user_id"), col("step_ts").as("t3"))
      // both arms are one row per USER — corpus-proportional, so the
      // join is pinned SHUFFLE_HASH, never broadcast
      graft.operators.TableStats.percentilesBy(
        t1.join(t3.hint("SHUFFLE_HASH"), Seq("user_id"))
          .select(lit("all").as("cohort"),
            expr("unix_micros(t3) - unix_micros(t1)").as("delay_us")),
        "cohort", "delay_us")
    }),
    // extension: incremental rollup maintenance — merge a late-arriving
    // delta into the standing per-(type, day) aggregate; must EQUAL the
    // full recompute (that is the oracle)
    "q125_inc_rollup" -> ((s, dir) => {
      val ea = graft.operators.EventAnalytics
      val ev = Tables.events(s, dir)
        .withColumn("d", expr(ea.dayIdxSql("ts", "2024-01-01")))
        .select(col("event_type"), col("d"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("event_type", "d")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      graft.operators.TableStats.mergeRollup(
        rollup(ev.filter(col("d") < 20)),   // the standing aggregate
        rollup(ev.filter(col("d") >= 20)),  // the arriving delta
        Seq("event_type", "d"), Seq("n", "sum_cents"))
    }),
    // extension: approx percentiles per group — percentilesBy's bounded-
    // state scale path (GK sketch; one hot group can't OOM an executor).
    // Deliberately NOT oracled: GK merge results are Spark-defined, not
    // cross-engine-defined (the q29/q30 rows-only precedent); accuracy is
    // gated against the exact form in TableStatsSpec.
    "q127_percentiles_approx" -> ((s, dir) =>
      graft.operators.TableStats.percentilesByApprox(Tables.lineitem(s, dir),
        "l_returnflag", "CAST(round(l_extendedprice * 100) AS BIGINT)")),
    // extension: deterministic n-per-class uniform sample (few-shot /
    // eval-set pick) — sha256-permutation order, GroupedTopK cut
    "q128_class_sample" -> ((s, dir) =>
      operators.Sampling.samplePerGroup(docs(s, dir), "source", 5)),
    // extension: boolean AND/NOT retrieval over the token postings
    "q129_boolean_search" -> ((s, dir) =>
      TextAnalysis.booleanSearch(docs(s, dir), Seq("hash", "join"), Seq("slow"))),
    // extension: idf-weighted shingle-cosine near-dup pairs (fixed-point
    // idf, df-capped buckets — the weighted refinement of q22's Jaccard)
    "q130_sparse_cosine" -> ((s, dir) =>
      TextAnalysis.sparseCosinePairs(docs(s, dir), 0.3, 100)),
    // extension: retrigger/burst dedup — drop same-(user,type) events that
    // re-fire within the gap (at-least-once delivery cleanup)
    "q131_event_dedup" -> ((s, dir) =>
      graft.operators.EventAnalytics.dedupBursts(Tables.events(s, dir), 3600)),
    // extension: vocabulary build (df >= minDf) + per-doc OOV audit
    "q132_vocab_oov" -> ((s, dir) =>
      TextAnalysis.vocabOov(docs(s, dir), 100)),
    // extension: hard-negative mining — top-k nearest with a DIFFERENT label
    "q133_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding", "label")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"), col("label").as("query_label"))
      Similarity.hardNegatives(e, q, 3)
    }),
    // extension: key-distribution skew audit (the pre-shuffle diagnostic)
    "q134_key_skew" -> ((s, dir) =>
      graft.operators.TableStats.keySkew(Tables.orders(s, dir), "o_custkey % 1000")),
    // extension: last-touch attribution — credit each purchase to the
    // latest strictly-earlier non-purchase event of the user
    "q135_attribution" -> ((s, dir) =>
      graft.operators.EventAnalytics.lastTouchAttribution(Tables.events(s, dir))),
    // extension: snapshot diff (added/removed/changed) between the corpus
    // and a deterministically mutated twin — union + one id-keyed
    // aggregate, never a full-outer join
    "q136_snapshot_diff" -> ((s, dir) => {
      val base = docs(s, dir)
      val current = base.filter(col("doc_id") % 89 =!= 0)
        .withColumn("text", expr(
          "CASE WHEN doc_id % 97 = 0 THEN concat(text, ' v2') ELSE text END"))
        .unionByName(base.filter(col("doc_id") % 83 === 0)
          // planted ids live in the NEGATIVE range: disjoint from real
          // non-negative doc_ids at EVERY scale factor (a fixed +shift
          // collides once the corpus outgrows it — the r12 advisor note)
          .withColumn("doc_id", -col("doc_id") - 1))
      graft.operators.TableStats.snapshotDiff(base, current, "doc_id", "sha2(text, 256)")
    }),
    // extension: OHLC time-series downsample (6h buckets, integer cents)
    "q137_ohlc" -> ((s, dir) =>
      graft.operators.EventAnalytics.ohlcResample(Tables.events(s, dir))),
    // extension: PMI collocations — ln(N*n_ab/(n_a*n_b)) over exact
    // document-frequency integers; capped per-doc pair space
    "q138_pmi" -> ((s, dir) =>
      TextAnalysis.tokenPmi(docs(s, dir), 5)),
    // extension: per-group OLS from exact integer moments (cents vs day)
    "q139_group_regression" -> ((s, dir) =>
      graft.operators.TableStats.groupRegression(
        Tables.events(s, dir).withColumn("d", expr(
          graft.operators.EventAnalytics.dayIdxSql("ts", "2024-01-01"))),
        "event_type", "d", "CAST(round(value * 100) AS BIGINT)")),
    // extension: embedding centroid drift per label between the vec_id
    // parity halves (fixed-point centroid sums; counts cancel in cosine)
    "q140_centroid_drift" -> ((s, dir) =>
      Similarity.centroidDrift(emb(s, dir))),
    // extension: equi-depth histogram — exact percentile boundaries
    "q141_equidepth" -> ((s, dir) =>
      graft.operators.TableStats.equiDepthHistogram(
        Tables.lineitem(s, dir), "CAST(round(l_extendedprice * 100) AS BIGINT)", 8)),
    // extension: negative-edge sampling for link prediction (sha-derived
    // draws into the sorted node list, anti-join the edge list)
    "q142_negative_edges" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val e = li.select(
        concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      graft.operators.Graph.sampleNonEdges(e, 100)
    }),
    // extension: triplet mining — nearest same-label positive + hardest
    // different-label negative per anchor
    "q143_triplets" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding", "label")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"), col("label").as("query_label"))
      Similarity.tripletMine(e, q)
    }),
    // extension: perceptual hash (aHash) over media payloads — 8x8
    // grayscale grid, mean threshold, 16-hex signature; stub-decode path
    // is exact integer math the oracle reproduces (the q28 contract)
    "q144_mm_phash" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "doc_id", "encode(text, 'utf-8')", "raw")
      Multimodal.perceptualHash(media)
    }),
    // extension: Gopher-style repetition/diversity quality rules — the
    // keep/drop gate a pretraining pipeline runs at scan speed
    "q145_gopher" -> ((s, dir) =>
      TextAnalysis.gopherQuality(docs(s, dir))),
    // extension: split-leakage audit — near-dup pairs straddling the
    // train/val/test boundary (eval contamination the hash split is blind to)
    "q146_split_leakage" -> ((s, dir) =>
      graft.operators.Pipeline.splitLeakage(docs(s, dir))),
    // extension: dedup keep/drop decision — deterministic longest-text
    // representative per near-dup cluster
    "q151_dup_keep_best" -> ((s, dir) =>
      Dedup.clusterRepresentatives(docs(s, dir))),
    // extension: token-distribution drift between snapshot halves
    // (add-1-smoothed per-token KL contributions)
    "q152_token_drift" -> ((s, dir) =>
      TextAnalysis.tokenDrift(docs(s, dir))),
    // extension: vocabulary-coverage curve — OOV rate at candidate vocab
    // sizes (distributed token rank + cumulative mass)
    "q153_vocab_curve" -> ((s, dir) =>
      TextAnalysis.vocabOovCurve(docs(s, dir))),
    // extension: token burstiness — variance-to-mean of per-doc tf with
    // zeros counted (Poisson baseline VMR ~ 1)
    "q154_dispersion" -> ((s, dir) =>
      TextAnalysis.tokenDispersion(docs(s, dir))),
    // extension: skip-gram pairs with harmonic weights in exact micro-units
    "q155_skipgrams" -> ((s, dir) =>
      TextAnalysis.skipGrams(docs(s, dir))),
    // extension: degree-oriented triangle count + clustering coefficient
    // over the support-2 co-purchase graph
    "q156_triangles" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("g"), col("l_partkey").as("item")).distinct()
      val edges = items.as("a").join(items.hint("SHUFFLE_HASH").as("b"),
          col("a.g") === col("b.g") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("x"), col("b.item").as("y"))
        .agg(count(lit(1)).as("ng"))
        .filter(col("ng") >= 2).select("x", "y")
      graft.operators.Graph.triangleCount(edges)
    }),
    // extension: day-of-week seasonal anomalies on daily volumes
    "q157_dow_anomaly" -> ((s, dir) =>
      graft.operators.EventAnalytics.dowAnomalies(Tables.events(s, dir))),
    // extension: fuzzy record-linkage lookup — probe names vs the part
    // catalog, blocked candidates, codegen'd Jaro-Winkler, top-2 per probe
    "q158_fuzzy_lookup" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
      graft.operators.Joins.fuzzyLookup(
        parts.filter(col("p_partkey") % 403 === 0), parts,
        "p_partkey", "p_name")
    }),
    // extension: robust outlier audit — median/MAD fences per language
    "q147_mad_outliers" -> ((s, dir) =>
      graft.operators.TableStats.madOutliers(docs(s, dir), "lang", "n_chars")),
    // extension: per-user EWMA of daily spend, decay 1/2 — the 2^k weight
    // ladder keeps the smoothing in exact int64, hash-exact cross-engine
    "q148_ewma" -> ((s, dir) =>
      graft.operators.EventAnalytics.ewmaDailySpend(Tables.events(s, dir))),
    // extension: JSON property extraction + rollup over event payloads
    "q149_json_props" -> ((s, dir) =>
      graft.operators.EventAnalytics.jsonPropsRollup(Tables.events(s, dir))),
    // extension: cross-source quantile normalization — within-source rank
    // mapped onto the global distribution (distributed rank frame, exact
    // rational interpolation position)
    "q150_quantile_norm" -> ((s, dir) =>
      graft.operators.TableStats.quantileNormalize(
        docs(s, dir), "doc_id", "source", "n_chars")),
    // extension: directed shingle containment — sub-document dedup
    // (short doc embedded in a long one; Jaccard drowns it)
    "q164_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), 0.8)),
    // extension: late-interaction (ColBERT-style MaxSim) retrieval —
    // vocabulary-bounded token embeddings, per-query-token max, fixed-
    // order sum, top-5 per query
    "q163_late_interaction" -> ((s, dir) =>
      graft.operators.Rerank.lateInteractionTopK(docs(s, dir),
        Seq("hash join throughput", "vector scan latency"), 5)),
    // extension: winsorized mean per group — percentile fences, fixed-
    // point clipped sum (robust location estimate)
    "q162_winsorized" -> ((s, dir) =>
      graft.operators.TableStats.winsorizedMean(Tables.lineitem(s, dir),
        "l_returnflag", "CAST(round(l_extendedprice * 100) AS BIGINT)")),
    // extension: recall@k audit — IVF probe arm vs exact arm on the same
    // probe queries, per-query overlap
    "q161_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      Similarity.annRecall(e, q, 3)
    }),
    // extension: chunk->doc mean-pooled embedding, probed dims (RAG prep;
    // integer byte sums make the mean order-invariant)
    "q160_doc_embedding" -> ((s, dir) =>
      graft.operators.Pipeline.docEmbeddingProbe(docs(s, dir))),
    // extension: scene-cut detection — per-frame aHash over strided
    // payload blocks, successive-frame Hamming threshold
    "q159_scene_cuts" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "doc_id", "encode(text, 'utf-8')", "raw")
      Multimodal.sceneCuts(media)
    }),
    // extension: co-located fact-to-fact join via at-rest bucketing — both
    // sides persisted hash-bucketed by the join key, so the join itself
    // runs with ZERO Exchange (pinned in PlanShapeSpec); the 100 TB
    // pattern where repeated joins on one key amortize a single bucketed
    // write at ingest
    "q165_bucketed_join" -> ((s, dir) =>
      graft.operators.Joins.bucketedRevenueJoin(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // extension: deterministic HyperLogLog — distinct users per event type
    // from sha256-derived registers; max-merge is order-free, so the
    // estimate is partition-invariant and hash-exact in any engine
    "q166_hll_distinct" -> ((s, dir) =>
      graft.operators.Sketches.hllDistinct(
        Tables.events(s, dir), "event_type", "user_id")),
    // extension: count-min-sketch heavy hitters with a collision audit —
    // fixed d x w integer counters, point estimate = min over rows
    "q167_cms_topk" -> ((s, dir) =>
      graft.operators.Sketches.cmsTopK(docs(s, dir))),
    // extension: Merkle integrity manifest — per-bucket digests + corpus
    // root; order-invariant by construction (explicit in-bucket sort)
    "q168_merkle" -> ((s, dir) =>
      graft.operators.Sketches.merkleManifest(docs(s, dir))),
    // extension: TPC-H Q3 shape — the segment-filtered customer frame is
    // a constant FRACTION of customer (SF-proportional), so it
    // hash-joins date-filtered orders (SHUFFLE_HASH on custkey, never a
    // broadcast); that reduced side hash-joins lineitem (orders builds,
    // lineitem streams), top-10 orders by exact-cents revenue
    "q169_tpch_q3" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(expr("l_shipdate > TIMESTAMP '1998-01-01'"))
        .join(
          Tables.orders(s, dir)
            .filter(expr("o_orderdate < TIMESTAMP '1998-01-01'"))
            .join(Tables.customer(s, dir)
                .filter(col("c_mktsegment") === "BUILDING")
                .hint("SHUFFLE_HASH"),
              col("o_custkey") === col("c_custkey"))
            .hint("SHUFFLE_HASH"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
          sum(expr("cast(round(l_extendedprice * 100) AS BIGINT) * " +
            "(100 - cast(round(l_discount * 100) AS BIGINT))")).as("revenue_e4"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue_e4"), asc("o_orderkey"))
        .limit(10)),
    // extension: distributed BPE tokenizer training — merge rounds run on
    // the vocab frequency table (corpus scanned once); merge table is
    // hash-exact (deterministic argmax + leftmost-greedy merge apply)
    "q170_bpe_merges" -> ((s, dir) =>
      graft.operators.Bpe.bpeMerges(docs(s, dir), 8)),
    // extension: the trained tokenizer applied — final symbolization of
    // the 20 most frequent words after the q170 merge trajectory
    "q171_bpe_tokenize" -> ((s, dir) =>
      graft.operators.Bpe.bpeTokenize(docs(s, dir), 8, 20)),
    // extension: per-doc token counts under the trained tokenizer — the
    // real token-budget number (whitespace counts diverge on rare words)
    "q186_bpe_token_count" -> ((s, dir) =>
      graft.operators.Bpe.bpeTokenCount(docs(s, dir), 8)),
    // extension: DSIR importance selection — 50 non-English docs whose
    // hashed-unigram distribution is most English-like, Gumbel-top-k over
    // fixed-point log importance ratios (fully hash-oracled)
    "q172_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Sampling.dsirSelect(
        d.filter(col("lang") =!= "en"), d.filter(col("lang") === "en"), 50, 256)
    }),
    // extension: DDSketch deterministic quantile sketch — log-bucketed
    // price quantiles per returnflag, mergeable integer state, relative
    // error <= 1% (fully hash-oracled; the sketch path next to exact q113
    // and GK q127)
    "q173_ddsketch" -> ((s, dir) =>
      graft.operators.Sketches.ddSketchQuantiles(
        Tables.lineitem(tune(s), dir), "l_returnflag", "l_extendedprice")),
    // extension: rolling 7-day distinct users from merged DAILY HLL
    // register tables — sketch reuse instead of window re-scan (fully
    // hash-oracled)
    "q174_hll_daily" -> ((s, dir) =>
      graft.operators.Sketches.hllDailyRolling(Tables.events(tune(s), dir))),
    // extension: KMV distinct-set overlap — per-event-type audience
    // intersection estimates from k-minimum-values sketches (fully
    // hash-oracled; exact audit columns at test scale)
    "q175_kmv_overlap" -> ((s, dir) =>
      graft.operators.Sketches.kmvOverlap(Tables.events(tune(s), dir),
        exactAudit = true)),
    // extension: per-source data card — counts, language share, exact-dup
    // rate (fully hash-oracled release documentation)
    "q178_data_card" -> ((s, dir) =>
      graft.operators.Pipeline.dataCard(docs(s, dir))),
    // extension: cross-source contamination matrix — distinct 200-char
    // openings shared per source pair (the syndicated-boilerplate signal;
    // hash-keyed join, never corpus^2)
    "q180_source_overlap" -> ((s, dir) =>
      graft.operators.Pipeline.sourceOverlap(docs(s, dir),
        "sha2(substring(text, 1, 200), 256)")),
    // extension: per-doc shingle novelty — fraction of a doc's shingles
    // first seen in THIS doc (corpus-wide first-occurrence aggregation,
    // linear in shingle volume, never pairwise)
    "q181_novelty" -> ((s, dir) => Dedup.shingleNovelty(docs(s, dir))),
    // extension: kNN label-noise audit — per-vector disagreement fraction
    // among its k nearest neighbors (fixed-point cosine ranks, integer
    // counts; the re-annotation routing signal)
    "q182_label_noise" -> ((s, dir) =>
      Similarity.knnLabelNoise(
        emb(s, dir).select("vec_id", "embedding", "label"), 4)),
    // extension: per-source Zipf slope (fixed-point ln coordinates, exact
    // integer OLS moments; duplication/synthetic-text corpus-health signal)
    "q183_zipf" -> ((s, dir) => TextAnalysis.zipfSlope(docs(s, dir))),
    // extension: C4-style block dedup with doc rewrite — first occurrence
    // of each 16-token block survives; rewrite materialized as a digest
    "q185_block_dedup" -> ((s, dir) => Dedup.blockDedup(docs(s, dir))),
    // extension: per-source Flesch-family readability report (vowel-group
    // syllable heuristic; fixed-point per-doc scores, exact corpus tallies)
    "q187_readability" -> ((s, dir) => TextAnalysis.readability(docs(s, dir))),
    // extension: two-sample KS drift per event_type across a calendar split
    // (exact integer ECDF-gap numerator, one division per group)
    "q188_ks_drift" -> ((s, dir) =>
      graft.operators.EventAnalytics.ksDrift(Tables.events(tune(s), dir))),
    // extension: TPC-H Q17 shape — decorrelated 20%-of-part-average
    // predicate, brand dim pruning both consumers of one fact scan
    "q189_tpch_q17" -> ((s, dir) =>
      graft.operators.Joins.smallQuantityRevenue(
        Tables.lineitem(s, dir), Tables.part(s, dir))),
    // extension: MOSS winnowing fingerprints — rolling min-hash selection
    // with rightmost tie-break packed into one sortable string key
    "q190_winnowing" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(docs(s, dir))),
    // extension: UniMax language-budget water-filling (exact-integer
    // closed-form greedy; hash-ordered partial-epoch fill)
    "q191_unimax" -> ((s, dir) =>
      graft.operators.Sampling.unimaxSample(docs(s, dir))),
    // extension: TPC-H Q18 shape — having-aggregate computed once feeding
    // both the semi-filter and the output column; top-k never leaves k rows
    "q192_tpch_q18" -> ((s, dir) =>
      graft.operators.Joins.largeVolumeCustomers(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // extension: TPC-H Q13 shape — orders pre-aggregated BEFORE the outer
    // join, join-side predicate preserved, two-level count histogram
    "q193_tpch_q13" -> ((s, dir) =>
      graft.operators.Joins.customerOrderDistribution(
        Tables.customer(s, dir), Tables.orders(s, dir))),
    // extension: TPC-H Q14 shape — promo revenue share per ship-month,
    // broadcast dim, conditional partial agg, exact e4 fixed point
    "q194_tpch_q14" -> ((s, dir) =>
      graft.operators.Joins.promoRevenueShare(
        Tables.lineitem(s, dir), Tables.part(s, dir))),
    // extension: TPC-H Q22 shape — 1-row broadcast scalar average (exact
    // integer cross-multiplied), left-anti no-orders predicate
    "q195_tpch_q22" -> ((s, dir) =>
      graft.operators.Joins.inactiveRichCustomers(
        Tables.customer(s, dir), Tables.orders(s, dir))),
    // extension: TPC-H Q10 shape — quarter-pruned orders, per-order partial
    // agg before any join, customer dim joined last, top-k to the driver
    "q196_tpch_q10" -> ((s, dir) =>
      graft.operators.Joins.returnedItemRevenue(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // extension: pairwise Jensen-Shannon divergence between per-source
    // unigram distributions (shared-terms-only decomposition; one
    // token-keyed self-join, closed-form single-side remainder)
    "q197_jsd_sources" -> ((s, dir) => TextAnalysis.jsdSources(docs(s, dir))),
    // extension: per-source unigram entropy + type-token ratio (fixed-point
    // ln of integer counts, exact integer moments, one division)
    "q198_entropy" -> ((s, dir) => TextAnalysis.sourceEntropy(docs(s, dir))),
    // extension: one-vs-rest ROC AUC per label with midrank ties — rank
    // sums over the DISTINCT-score frame, never a per-row global rank
    "q199_auc" -> ((s, dir) =>
      Similarity.separabilityAuc(
        emb(s, dir).select("vec_id", "embedding", "label"))),
    // extension: temperature-T=2 multilingual sampling weights (sqrt is
    // IEEE-correctly-rounded, so engine and oracle agree bit-for-bit)
    "q200_temperature_mix" -> ((s, dir) =>
      graft.operators.Sampling.temperatureMixture(docs(s, dir))),
    // extension: per-label prototype outliers — integer-exact centroid
    // distances (common denominator factored out), GroupedTopK per label
    "q201_prototypes" -> ((s, dir) =>
      Similarity.prototypeOutliers(
        emb(s, dir).select("vec_id", "embedding", "label"))),
    // extension: TPC-H Q19 shape — OR-of-ANDs predicate split per join
    // side and pushed below a broadcast join, exact conjunctions after
    "q202_tpch_q19" -> ((s, dir) =>
      graft.operators.Joins.disjunctivePromoRevenue(
        Tables.lineitem(s, dir), Tables.part(s, dir))),
    // extension: TPC-H Q7 shape — nation-pair volume shipping, broadcast
    // dims on opposite ends of the fact, one hash shuffle
    "q203_tpch_q7" -> ((s, dir) =>
      graft.operators.Joins.volumeShipping(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir))),
    // extension: RFM purchase segmentation — quartile codes over the
    // distinct-user frame, integer recency/cents, ntile tie-broken
    "q204_rfm" -> ((s, dir) =>
      graft.operators.EventAnalytics.rfmSegments(Tables.events(tune(s), dir))),
    // extension: TPC-H Q15 shape — argmax against a 1-row broadcast max,
    // the per-supplier aggregate computed once and consumed twice
    "q205_tpch_q15" -> ((s, dir) =>
      graft.operators.Joins.topRevenueSupplier(
        Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    // extension: TPC-H Q4 shape — EXISTS as a left-semi hash join with a
    // cross-side lateness predicate riding the join condition
    "q206_tpch_q4" -> ((s, dir) =>
      graft.operators.Joins.latePriorityCounts(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // extension: per-language subword fertility (tokenizer-equity metric;
    // exact integer tallies, one division per column)
    "q207_fertility" -> ((s, dir) => TextAnalysis.subwordFertility(docs(s, dir))),
    // extension: importance reweighting toward uniform languages + Kish
    // effective sample size (fixed-point weights, exact integer moments)
    "q208_importance" -> ((s, dir) =>
      graft.operators.Sampling.importanceReweight(docs(s, dir))),
    // extension: order→ship latency banding per priority with band shares
    // (the SLA cut; share window over the tiny priority×band frame)
    "q209_ship_latency" -> ((s, dir) =>
      graft.operators.Joins.shipLatencyBands(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // extension: energy/VAD segmentation over audio-like payloads —
    // stub-decoded s16 frames, integer energies, above-mean activity runs
    "q210_energy_vad" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "doc_id", "encode(text, 'utf-8')", "raw")
      Multimodal.energySegments(media)
    }),
    // extension: deterministic Poisson-bootstrap CI for per-type mean
    // value — sha-derived Poisson(1) weights, replica weighted means,
    // order-statistic CI (no resample join, no position index)
    "q211_bootstrap_ci" -> ((s, dir) =>
      graft.operators.EventAnalytics.bootstrapCi(Tables.events(tune(s), dir))),
    // extension: k-center coreset by farthest-point sampling — integer
    // quantized distances, k broadcast passes, unrolled-greedy oracle
    "q212_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(emb(s, dir).select("vec_id", "embedding"))),
    // extension: exact daily p50/p90/p99 bands per event type —
    // nearest-rank with pure-integer rank arithmetic
    "q213_daily_bands" -> ((s, dir) =>
      graft.operators.EventAnalytics.dailyPercentileBands(Tables.events(tune(s), dir))),
    // extension: TPC-H Q21 shape — the EXISTS/NOT EXISTS pair collapsed
    // into one per-order aggregate (sole late shipper on multi-supplier
    // orders), one orderkey shuffle, no self-joins
    "q214_tpch_q21" -> ((s, dir) =>
      graft.operators.Joins.soleBlockerSuppliers(
        Tables.orders(s, dir), Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    // extension: Benford first-digit audit per event type (exact digit
    // counts, fixed-point Benford constants, per-digit re-fixed chi2)
    "q215_benford" -> ((s, dir) =>
      graft.operators.EventAnalytics.benfordAudit(Tables.events(tune(s), dir))),
    // extension: decile lift/gains table for the linear-probe score —
    // ntile deciles, exact counts, one division per output column
    "q216_lift" -> ((s, dir) =>
      Similarity.liftTable(emb(s, dir).select("vec_id", "embedding", "label"))),
    // extension: TPC-H Q6 shape — the pure predicate-pushdown probe:
    // every filter reaches the parquet scan, zero joins, one 1-row agg
    "q217_tpch_q6" -> ((s, dir) =>
      graft.operators.Joins.forecastRevenueChange(Tables.lineitem(s, dir))),
    // extension: TPC-H Q8 shape — national market share per year via
    // conditional aggregation; all dims broadcast, one fact-fact shuffle
    "q218_tpch_q8" -> ((s, dir) =>
      graft.operators.Joins.nationMarketShare(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir),
        Tables.part(s, dir))),
    // extension: TPC-H Q11 shape — HAVING against a broadcast global
    // scalar, exact cross-multiplied fraction threshold
    "q219_part_value_share" -> ((s, dir) =>
      graft.operators.Joins.topValueParts(Tables.lineitem(s, dir))),
    // extension: TPC-H Q16 shape — distinct-supplier variety under NOT-
    // predicates and a broadcast ANTI supplier blacklist
    "q220_supplier_variety" -> ((s, dir) =>
      graft.operators.Joins.supplierVariety(
        Tables.lineitem(s, dir), Tables.part(s, dir), Tables.supplier(s, dir))),
    // extension: calibration/reliability table for the linear-probe score —
    // equal-width fixed-point bins, exact integer bin sums, one division
    // (or affine map) per output column
    "q221_calibration" -> ((s, dir) =>
      Similarity.calibrationTable(
        emb(s, dir).select("vec_id", "embedding", "label"))),
    // extension: CMS inner-product join-size estimate (lineitem⋈orders on
    // orderkey) with the exact keyed-count audit arm grading the sketch
    "q222_join_size_est" -> ((s, dir) =>
      graft.operators.Sketches.cmsJoinSizeEstimate(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        "l_orderkey", "o_orderkey")),
    // extension: embedding-dimension covariance/correlation audit — exact
    // fixed-point moments folded in one pass, top-|corr| off-diag pairs
    "q223_embed_cov" -> ((s, dir) =>
      Similarity.embeddingCovariance(emb(s, dir).select("embedding"))),
    // extension: hubness audit — k-occurrence of each vector in the
    // sampled queries' exact top-k lists, top hubs with slot share; the
    // query side is the FIXED 256-row hash-ordered sample (bounded
    // operating point — non-trivial at every test SF, never grows with
    // the corpus)
    "q224_hubness" -> ((s, dir) =>
      Similarity.hubnessTopHubs(emb(s, dir).select("vec_id", "embedding"),
        maxQueries = 256)),
    // extension: matryoshka truncation audit — top-k overlap between
    // full-dim and 16-dim-prefix rankings per probe query
    "q225_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaOverlap(emb(s, dir).select("vec_id", "embedding"))),
    // extension: windowed funnel — max-gap-per-transition conversion
    // summary (greedy-earliest, per-step counts + conversion fractions)
    "q226_windowed_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.windowedFunnel(
        Tables.events(tune(s), dir), Seq("view", "click", "purchase"))),
    // extension: weekly cohort-LTV triangle — cumulative purchase cents
    // per signup cohort by weeks-since, per cohort member
    "q227_cohort_ltv" -> ((s, dir) =>
      graft.operators.EventAnalytics.cohortLtv(Tables.events(tune(s), dir))),
    // extension: group-aware holdout split summary — leakage-safe
    // user-keyed split with the zero-straddle audit arm
    "q228_group_split" -> ((s, dir) =>
      operators.Sampling.groupHoldoutSplit(Tables.events(tune(s), dir))),
    // extension: Welch two-sample t-test on exact integer moments — the
    // A/B primitive (t and Satterthwaite df from one 2-row aggregate)
    "q229_welch_ttest" -> ((s, dir) =>
      graft.operators.EventAnalytics.welchTTest(Tables.events(tune(s), dir))),
    // extension: seasonal-naive backtest — MAPE + bias of the
    // 7-day-lag forecast per type (fixed-point APE terms before the sum)
    "q230_seasonal_naive" -> ((s, dir) =>
      graft.operators.EventAnalytics.seasonalNaiveBacktest(
        Tables.events(tune(s), dir))),
    // extension: TPC-H Q9 shape — product-type profit by supplier nation
    // and order year (retailprice-cost stand-in; one fact-fact shuffle)
    "q231_tpch_q9" -> ((s, dir) =>
      graft.operators.Joins.productTypeProfit(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.part(s, dir))),
    // extension: k-anonymity / l-diversity release audit — QI = (type,
    // dow, props-k band), sensitive = cent value band
    "q232_k_anonymity" -> ((s, dir) =>
      operators.Pipeline.kAnonymityAudit(
        Tables.events(tune(s), dir),
        Seq("event_type", "dayofweek(ts)",
          "CAST(get_json_object(props, '$.k') AS BIGINT) DIV 10"),
        "CAST(round(value * 100) AS BIGINT) DIV 1000")),
    // extension: compaction bin-packing planner — per-source doc bytes
    // stand in for the file inventory; 64 KiB target bins
    "q233_compaction_plan" -> ((s, dir) =>
      operators.Layout.compactionPlan(
        docs(s, dir).selectExpr("source", "doc_id", "n_chars"),
        "source", "doc_id", "n_chars", 65536L)),
    // extension: dedup-recall audit — precision/recall of banded MinHash
    // candidates vs the exhaustive shingle-join pair set at tau=0.5
    "q234_dedup_recall" -> ((s, dir) =>
      Dedup.dedupRecallAudit(docs(s, dir), 0.5)),
    // extension: the 100 TB operating mode of q234 — both audit arms over
    // a deterministic sha-keyed HALF of the corpus (sampleHex=8), so the
    // exhaustive arm's pair space is bounded by the sample, not the corpus
    "q262_dedup_recall_sampled" -> ((s, dir) =>
      Dedup.dedupRecallAudit(docs(s, dir), 0.5, sampleHex = 8)),
    // extension: kNN confusion matrix — leave-one-out majority vote over
    // the q182 fixed-point neighbourhoods, per-class cells + row fracs;
    // query side capped at the default 4096-row hash-ordered sample
    // (covers every test SF exactly, bounded at corpus scale)
    "q235_knn_confusion" -> ((s, dir) =>
      Similarity.knnConfusion(emb(s, dir).select("vec_id", "embedding", "label"))),
    // extension: near-dup cluster-size histogram — the dedup run's report
    // (sizes, cluster counts, docs covered) from the q38 components
    "q238_cluster_sizes" -> ((s, dir) =>
      Dedup.clusterSizeHistogram(Dedup.jaccardPairs(docs(s, dir), 0.5))),
    // extension: Markov steady-state behavior profile — fixed-point power
    // iteration of the q119 transition matrix over the tiny state frame
    "q239_markov_stationary" -> ((s, dir) =>
      graft.operators.EventAnalytics.markovStationary(Tables.events(tune(s), dir))),
    // extension: duplicated-block coverage per source — the "what would
    // dedup save" statistic from blockDedup's own per-doc output
    "q236_dup_coverage" -> ((s, dir) => Dedup.duplicateCoverage(docs(s, dir))),
    // extension: PSI drift per type across the calendar split — banded
    // Laplace-smoothed terms re-fixed at 2^20 before the sum
    "q237_psi_drift" -> ((s, dir) =>
      graft.operators.EventAnalytics.psiDrift(Tables.events(tune(s), dir))),
    // extension: dominant eigen-direction probe — fixed-point power
    // iteration on the exact covariance numerators (one CovMomentsAgg
    // corpus pass, then d²-bounded joins), top-|loading| dims + shares
    "q240_spectral_probe" -> ((s, dir) =>
      Similarity.dominantEigenProbe(emb(s, dir).select("embedding"))),
    // extension: robust MAD outlier audit per event type — exact
    // nearest-rank median + MAD through the distributed-rank path,
    // integer outlier rule, one division
    "q241_mad_outliers" -> ((s, dir) =>
      graft.operators.EventAnalytics.madOutliers(Tables.events(tune(s), dir))),
    // extension: 10%-trimmed mean per event type — exact rank-bounded
    // interior average through the distributed-rank path
    "q242_trimmed_mean" -> ((s, dir) =>
      graft.operators.EventAnalytics.trimmedMean(Tables.events(tune(s), dir))),
    // extension: Gini spend concentration per event type — exact
    // rank-moment form over per-user totals, NULL on zero-total types
    "q243_gini" -> ((s, dir) =>
      graft.operators.EventAnalytics.giniConcentration(Tables.events(tune(s), dir))),
    // extension: batch MMR — the q65 greedy diversification over the
    // whole query batch through ONE GroupedTopK shortlist pass
    "q248_mmr_batch" -> ((s, dir) =>
      graft.operators.Rerank.mmrRerankMany(indexOf(s, dir), QBatch,
        k = 5, m = 20, lambda = 0.7)),
    // extension: deterministic epoch-shuffled training order — seeded
    // hash permutation into balanced shards with distributed in-shard
    // ranks (the ORDER BY random() replacement that survives 100 TB)
    "q255_train_order" -> ((s, dir) =>
      operators.Sampling.trainOrder(docs(s, dir))),
    // extension: JSONL source end-to-end — a planted-corrupt fixture
    // (deterministically derived from `documents`, >= 1 corrupt line at
    // every SF) through the REAL file source: glob read, PERMISSIVE
    // from_json parse, corrupt capture + content-ordered sample, and a
    // parsed-field digest proving the clean rows decoded
    "q256_jsonl_ingest" -> ((s, dir) => {
      val path = graft.sources.JsonlCorpusSource.ensureFixture(
        s, docs(s, dir), dir)
      val raw = graft.sources.JsonlCorpusSource.read(
        s, path, "doc_id BIGINT, lang STRING, source STRING")
      val sums = graft.sources.JsonlCorpusSource.valid(raw)
        .agg(coalesce(sum("doc_id"), lit(0L)).as("sum_doc_id"))
      graft.sources.JsonlCorpusSource.ingestReport(raw)
        .crossJoin(broadcast(sums))
    }),
    // extension: the STREAMING-maintained twin of q256, driver-checked —
    // the fixture split into two waves, each streamed through
    // streamingJsonlIngest against one checkpoint (state accumulates
    // across runs in epoch partitions); the report + valid-row digest are
    // then answered FROM the maintained state, never re-parsing raw lines,
    // and must equal the full-corpus ground truth the oracle rebuilds
    "q257_jsonl_stream_report" -> ((s, dir) => {
      val out = graft.streaming.Streams.ensureStreamedJsonlState(
        s, docs(s, dir), dir)
      val sums = graft.streaming.Streams.jsonlValidAt(s, out)
        .agg(coalesce(sum("doc_id"), lit(0L)).as("sum_doc_id"))
      graft.streaming.Streams.jsonlIngestReportAt(s, out)
        .crossJoin(broadcast(sums))
    }),
    // extension: BM25 answered FROM the streamed lexical index — the
    // documents table split into two parity waves, each wave's postings +
    // doc-length partials landed by streamingLexIndex in its own run
    // against one checkpoint; bm25StreamedAt folds the multi-epoch state
    // and must reproduce q110's full-corpus scores exactly
    "q258_bm25_stream" -> ((s, dir) =>
      graft.streaming.Streams.bm25StreamedAt(
        s, lexStateOf(s, dir), Seq("join", "hash", "customer"))),
    // extension: near-dup pairs answered FROM the streamed MinHash band
    // index (same two-wave pattern; the bucket table is a pure per-doc
    // projection, so persisting it as the corpus lands IS the production
    // dedup shape — every later dedup run starts from the index, never
    // re-shingling the corpus); must equal q26's batch pairs exactly
    "q259_minhash_stream_pairs" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureStreamedDocState(
        s, docs(s, dir), dir, "mhband")(
        (sd, out, ckpt) =>
          graft.streaming.Streams.streamingMinhashBands(sd, out, ckpt))
      graft.streaming.Streams.minhashPairsStreamedAt(s, state, 0.5)
    }),
    // extension: one-vs-rest AUC answered FROM the streamed scored state
    // (embeddings split by vec_id parity; linearProbeScored is a pure row
    // function, so the folded (vec_id, label, f) state answers q199's
    // exact full-corpus AUC with no embedding re-access)
    "q260_auc_stream" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureStreamedTableState(
        s, emb(s, dir).select("vec_id", "embedding", "label"), dir,
        "scored", idCol = "vec_id", srcFile = "embeddings.parquet")(
        (sv, out, ckpt) =>
          graft.streaming.Streams.streamingScoredVectors(sv, out, ckpt))
      graft.streaming.Streams.aucStreamedAt(s, state)
    }),
    // extension: ANN top-k answered FROM a PERSISTED index — the q259
    // two-wave convention applied to the flagship pillar: detIvfIndex fit
    // + save on the even-id wave, upsertIvfAt of the odd-id wave against
    // the frozen persisted centroids, then loadIvfAt (generation-pointer resolve) + ivfProbe reading
    // ONLY the saved files (no refit, no in-memory index reuse). Every
    // stage is deterministic (detKMeans + exact f64-over-f32 probe math),
    // so the whole lifecycle is hash-oracled, not rows-gated
    "q261_ann_ivf_persisted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q261)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.ivfProbe(Similarity.loadIvfAt(s, path), q, 3, nProbe = 3)
    }),
    // extension: the corpus-health trio answered FROM the streamed
    // (g, token, c) term-count state — zipf slope, unigram entropy, and
    // pairwise source JSD all fold from ONE maintained table ("gterm"):
    // the many-readers-one-state production shape (the state build is
    // paid once as the corpus lands; every health metric is a
    // vocab-bounded fold, never a corpus re-tokenization)
    "q263_zipf_stream" -> ((s, dir) =>
      graft.streaming.Streams.zipfSlopeStreamedAt(s, gtermStateOf(s, dir))),
    "q264_entropy_stream" -> ((s, dir) =>
      graft.streaming.Streams.sourceEntropyStreamedAt(s, gtermStateOf(s, dir))),
    "q265_jsd_stream" -> ((s, dir) =>
      graft.streaming.Streams.jsdSourcesStreamedAt(s, gtermStateOf(s, dir))),
    // extension: chi-square + MI answered FROM the streamed contingency
    // cells ("cells" state, source x lang) — the additive |a|x|b|-bounded
    // table serves BOTH independence tests with no raw-row access
    "q266_chi2_stream" -> ((s, dir) =>
      graft.streaming.Streams.chiSquareStreamedAt(s, cellsStateOf(s, dir))),
    "q267_mi_stream" -> ((s, dir) =>
      graft.streaming.Streams.mutualInformationStreamedAt(
        s, cellsStateOf(s, dir))),
    // extension: term burstiness from the SAME streamed lexical index as
    // q258 — the fourth reader on one maintained state (BM25, TF-IDF,
    // top-tokens, burstiness), proving the index amortizes across query
    // surfaces, not just one scorer
    "q268_burstiness_stream" -> ((s, dir) =>
      graft.streaming.Streams.burstinessStreamedAt(s, lexStateOf(s, dir))),
    // extension: vocabulary heavy-hitters + TF-IDF from the SAME streamed
    // lexical index — readers five and six on one maintained state; with
    // q258/q268 this closes the full retrieval-and-vocab query surface
    // over a single index built as the corpus landed
    "q269_top_tokens_stream" -> ((s, dir) =>
      graft.streaming.Streams.topTokensStreamedAt(s, lexStateOf(s, dir))),
    "q270_tfidf_stream" -> ((s, dir) =>
      graft.streaming.Streams.tfidfStreamedAt(s, lexStateOf(s, dir),
        Seq("transfer", "credit", "university"))),
    // extension: BOTH drift statistics (KS and PSI) answered FROM one
    // streamed value-granular count state ("kscnt") — the state is
    // deliberately not pre-banded so the single maintained table serves
    // both monitors (the reason q271/q272 share a tag)
    "q271_ks_drift_stream" -> ((s, dir) =>
      graft.streaming.Streams.ksDriftAt(s, ksStateOf(s, dir))),
    "q272_psi_stream" -> ((s, dir) =>
      graft.streaming.Streams.psiDriftAt(s, ksStateOf(s, dir))),
    // extension: Benford first-digit audit from streamed digit counts
    "q273_benford_stream" -> ((s, dir) =>
      graft.streaming.Streams.benfordAuditAt(s,
        eventsStateOf(s, dir, "benford",
          graft.streaming.Streams.compactBenfordDigitsAt)((ev, out, ckpt) =>
          graft.streaming.Streams.streamingBenfordDigits(ev, out, ckpt)))),
    // extension: cohort LTV triangle from streamed (user, week) cells —
    // signup week is MIN-mergeable across waves (a user's events split by
    // event_id parity land in both), purchase cents additive, so the fold
    // reproduces the batch triangle exactly
    "q274_cohort_ltv_stream" -> ((s, dir) =>
      graft.streaming.Streams.cohortLtvAt(s,
        eventsStateOf(s, dir, "cohort",
          graft.streaming.Streams.compactCohortCellsAt)((ev, out, ckpt) =>
          graft.streaming.Streams.streamingCohortCells(ev, out, ckpt)))),
    // extension: RFM quartile segments re-derived from streamed per-user
    // stats (last_ts max-mergeable, counts/cents additive)
    "q275_rfm_stream" -> ((s, dir) =>
      graft.streaming.Streams.rfmSegmentsAt(s,
        eventsStateOf(s, dir, "rfm",
          graft.streaming.Streams.compactRfmStatsAt)((ev, out, ckpt) =>
          graft.streaming.Streams.streamingRfmStats(ev, out, ckpt)))),
    // extension: centroid drift from streamed fixed-point component sums
    // (per-(label, half, dim) partials are additive)
    "q276_centroid_drift_stream" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureStreamedTableState(
        s, emb(s, dir).select("vec_id", "embedding", "label"), dir,
        "cdrift", idCol = "vec_id", srcFile = "embeddings.parquet")(
        (sv, out, ckpt) =>
          graft.streaming.Streams.streamingCentroidDrift(sv, out, ckpt))
      graft.streaming.Streams.centroidDriftAt(s, state)
    }),
    // extension: DSIR selection from the streamed raw-pool feature state —
    // the expensive half (tokenizing the raw pool) is maintained as the
    // corpus lands; the selection re-derives from the folded histograms
    // plus one scan of the (small) target corpus
    "q277_dsir_stream" -> ((s, dir) => {
      val d = docs(s, dir)
      val state = graft.streaming.Streams.ensureStreamedTableState(
        s, d.filter(col("lang") =!= "en"), dir, "dsir",
        idCol = "doc_id", srcFile = "documents.parquet")(
        (sd, out, ckpt) =>
          graft.streaming.Streams.streamingDsirFeatures(sd, out, ckpt))
      graft.streaming.Streams.dsirSelectAt(s, state,
        d.filter(col("lang") === "en"), 50, 256)
    }),
    // extension: the kNN-audit pair (confusion matrix + label-noise
    // suspects) answered FROM one streamed candidate state ("knn") — the
    // per-probe top-4 neighbour lists are k-bounded mergeable partials,
    // so both audits fold from the same maintained table
    "q278_knn_confusion_stream" -> ((s, dir) =>
      graft.streaming.Streams.knnConfusionAt(s, knnStateOf(s, dir), k = 4)),
    "q279_label_noise_stream" -> ((s, dir) =>
      graft.streaming.Streams.knnLabelNoiseAt(s, knnStateOf(s, dir), k = 4)),
    // extension: temperature-T=2 mixture weights from streamed per-language
    // (n_docs, chars) counts — the rebalancing a continuously-ingesting
    // multilingual pipeline runs without re-reading the corpus
    "q280_temperature_mix_stream" -> ((s, dir) =>
      graft.streaming.Streams.temperatureMixtureAt(s,
        graft.streaming.Streams.ensureStreamedDocState(
          s, docs(s, dir), dir, "langcnt")((sd, out, ckpt) =>
            graft.streaming.Streams.streamingLangCounts(sd, out, ckpt)))),
    // extension: hubness (k-occurrence skew) from the SAME streamed +
    // mid-lifecycle-COMPACTED kNN candidate state as q278/q279 — the
    // third reader on one maintained audit state, and the first whose
    // oracle checks the compacted top-k merge end-to-end (the knn state
    // compacts two epochs of k-bounded partials between waves 2 and 3)
    "q281_knn_hubness_stream" -> ((s, dir) =>
      graft.streaming.Streams.knnHubnessAt(s, knnStateOf(s, dir), k = 4)),
    // extension: ANN top-k from a PERSISTED IVF-PQ index — the q261
    // lifecycle applied to the QUANTIZED index that actually serves at
    // 100 TB: coarse centroids + PQ codebooks fit on wave 0 and saved;
    // wave 1 assigned/encoded against the FROZEN saved artifacts (no
    // codebook drift); the probe reads ONLY saved files (f32 centroid
    // probe, ADC over stored codes, exact re-rank from stored
    // embeddings). Deterministic end-to-end, so hash-oracled
    "q282_ann_ivfpq_persisted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q282)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      Similarity.ivfPqProbe(coarse, pq, q, 3, nProbe = 3, shortlist = 64)
    }),
    // extension: streamed shingle novelty driver-checked — the
    // order-DEPENDENT maintainer made oracle-expressible by the
    // deterministic two-wave landing (parity split, one batch per wave):
    // a doc's novelty is scored against exactly the docs whose wave
    // arrived no later, so the DuckDB twin computes first-occurrence as
    // min doc_id over waves <= the doc's own (wave = doc_id % 2)
    "q283_novelty_stream" -> ((s, dir) => {
      val out = graft.streaming.Streams.ensureStreamedDocState(
        s, docs(s, dir), dir, "novelty")((sd, o, ckpt) =>
          graft.streaming.Streams.streamingNovelty(sd, s"${o}__shingles", o, ckpt))
      graft.streaming.Streams.noveltyAt(s, out)
    }),
    // extension: streamed block dedup driver-checked — same wave-ordered
    // oracle convention; first block occurrence is the lexicographic
    // (doc_id, idx) min over waves <= the doc's own
    "q284_block_dedup_stream" -> ((s, dir) => {
      val out = graft.streaming.Streams.ensureStreamedDocState(
        s, docs(s, dir), dir, "blockdd")((sd, o, ckpt) =>
          graft.streaming.Streams.streamingBlockDedup(sd, s"${o}__blocks", o, ckpt))
      graft.streaming.Streams.blockDedupAt(s, out)
    }),
    // extension: CMS heavy hitters probed against the STREAMED d x w grid
    // (additive counters, compacted mid-lifecycle) — must equal batch q167
    // exactly; the exact-count audit arm stays a corpus scan BY DESIGN
    // (it is the thing the maintained sketch replaces at 100 TB)
    "q285_cms_topk_stream" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureStreamedDocState(
        s, docs(s, dir), dir, "cmsgrid", waves = 2, compactAfterWave = 1,
        compactor = graft.streaming.Streams.compactCmsGridAt)(
        (sd, out, ckpt) =>
          graft.streaming.Streams.streamingCmsGrid(sd, out, ckpt))
      graft.operators.Sketches.cmsProbe(
        graft.streaming.Streams.cmsGridAt(s, state),
        graft.operators.Sketches.tokenCounts(docs(s, dir)))
    }),
    // extension: Merkle manifest folded from the STREAMED leaf table — the
    // upsert-style maintainer (bucket-partitioned, content-convergent
    // leaves, no epoch bookkeeping) driver-checked against batch q168
    "q286_merkle_stream" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureStreamedDocState(
        s, docs(s, dir), dir, "merkle")(
        (sd, out, ckpt) =>
          graft.streaming.Streams.streamingMerkleLeaves(sd, out, ckpt))
      graft.streaming.Streams.merkleManifestAt(s, state)
    }),
    // extension: KMV audience-overlap from the STREAMED per-group k-min
    // sketch (mergeable by k-min-of-distinct; compacted mid-lifecycle) —
    // the overlap tail and the test-scale exact audit arm are q175's
    // verbatim, so the batch oracle applies unchanged
    "q288_kmv_overlap_stream" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureStreamedTableState(
        s, Tables.events(tune(s), dir), dir, "kmv",
        idCol = "event_id", srcFile = "events.parquet", waves = 2,
        compactAfterWave = 1,
        compactor = (sp, p) =>
          graft.streaming.Streams.compactKmvSketchAt(sp, p))(
        (ev, out, ckpt) => graft.streaming.Streams.streamingKmvSketch(
          ev, "event_type", "user_id", out, ckpt))
      graft.operators.Sketches.kmvOverlapFromSketches(
        graft.streaming.Streams.kmvSketchAt(s, state),
        exactFrom =
          Some((Tables.events(tune(s), dir), "event_type", "user_id")))
    }),
    // extension: DDSketch quantiles from the STREAMED (group, bucket, cnt)
    // state (additive integer counts, compacted mid-lifecycle) — the
    // quantile walk is q173's verbatim, so its oracle applies unchanged.
    // With q288 this promotes the LAST two maintainers whose batch twins
    // are deterministic; only the BPE vocab (anchored by q170/q171)
    // answers through a different declared surface
    "q289_ddsketch_stream" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureStreamedTableState(
        s, Tables.lineitem(tune(s), dir), dir, "ddbkt",
        idCol = "l_orderkey", srcFile = "lineitem.parquet", waves = 2,
        compactAfterWave = 1,
        compactor = (sp, p) =>
          graft.streaming.Streams.compactDdBucketsAt(sp, p, "l_returnflag"))(
        (li, out, ckpt) => graft.streaming.Streams.streamingDdBuckets(
          li, "l_returnflag", "l_extendedprice", out, ckpt))
      graft.operators.Sketches.ddQuantilesFromBuckets(
        graft.streaming.Streams.ddBucketsAt(s, state, "l_returnflag"),
        "l_returnflag")
    }),
    // extension: the persisted SQ8 lifecycle, completing the persisted
    // index family (IVF q261, IVF-PQ q282, SQ8 here): encode + save the
    // even wave, upsertSqAt the odd wave, probe via loadSqIndex ONLY —
    // integer-dot cosine over the stored codes, no f32 access at all
    "q290_ann_sq8_persisted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q290)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.sqProbe(Similarity.loadSqIndex(s, path), q, 3)
    }),
    // extension: the persisted BQ lifecycle — the last index type (IVF
    // q261, IVF-PQ q282, SQ8 q290, BQ here): sketch + save the even wave,
    // upsertBqAt the odd wave; the Hamming shortlist scans ONLY the stored
    // 8-byte codes, the exact re-rank reads shortlist x queries embedding
    // rows by id (BQ stores no vectors — that is its memory story)
    "q291_ann_bq_persisted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q291)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.bqProbe(Similarity.loadBqIndex(s, path), e, q, 3)
    }),
    // extension: the ERASURE leg of the persisted-index lifecycle — q261's
    // build+upsert followed by deleteIvfAt of every vec_id % 5 == 3
    // (partition-pruned rewrite, frozen centroids — no refit), probed from
    // the saved files; deleted ids must be unretrievable
    "q287_ann_ivf_deleted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q287)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.ivfProbe(Similarity.loadIvfAt(s, path), q, 3, nProbe = 3)
    }),
    // extension: the erasure leg for the QUANTIZED index family — q287's
    // convention (build + upsert + delete vec_id % 5 == 3, probe from
    // saved files only) applied to each persisted code table, so deleted
    // ids are unretrievable from EVERY index type, not just the f32 IVF.
    // SQ8: codes purged, probe is pure integer math over the survivors
    "q293_ann_sq8_deleted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q293)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.sqProbe(Similarity.loadSqIndex(s, path), q, 3)
    }),
    // BQ: sign sketches purged; the Hamming shortlist scans only surviving
    // codes, so a deleted id never reaches the corpus-side re-rank
    "q294_ann_bq_deleted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q294)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.bqProbe(Similarity.loadBqIndex(s, path), e, q, 3)
    }),
    // IVF-PQ: BOTH saved artifacts purged — deleteIvfAt on the coarse
    // assignments (candidates + re-rank store), deletePqAt on the codes;
    // centroids/codebooks stay frozen (no per-vector data, no refit)
    "q295_ann_ivfpq_deleted" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q295)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      Similarity.ivfPqProbe(coarse, pq, q, 3, nProbe = 3, shortlist = 64)
    }),
    // extension: the END-TO-END maintained-stack serving query — the one
    // shape a real 100 TB deployment runs, composing everything the
    // persisted/streamed lifecycles built: vector leg = ivfPqProbe over
    // the PERSISTED IVF-PQ (frozen coarse centroids + codebooks, loaded
    // from storage), lexical leg = bm25 over the STREAMED 4-wave compacted
    // lex state (the bm25Indexed reader), fused with hybridSearch's RRF
    // tail. Nothing is refit at query time; both artifacts answer from
    // saved/state files only, and the whole path is deterministic, so the
    // composition is hash-oracled stage for stage
    "q292_hybrid_serving" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q282)
      val lex = lexStateOf(s, dir)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      Engine.hybridServingScored(coarse, pq, q, ServingTerms.size,
        graft.streaming.Streams.bm25StreamedBatchAt(s, lex, ServingTerms),
        k = 5, nLeg = 10)
    }),
    // extension: right-to-erasure for the LEXICAL maintained state —
    // q287's takedown convention applied to the streamed lex index:
    // deleteLexDocsAt filters the doc-keyed rows AND recomputes the
    // per-epoch (n_docs, sum_dl) stat partials from the survivors inside
    // the same generation swap, so BM25 over the post-delete state must
    // equal the full-scan oracle over the surviving corpus, including
    // the shifted global statistics the serving path folds from those
    // partials
    "q298_bm25_lex_deleted" -> ((s, dir) =>
      graft.streaming.Streams.bm25StreamedAt(
        s, lexDeletedStateOf(s, dir), Seq("join", "hash", "customer"))),
    // extension: right-to-erasure for the DEDUP infrastructure — a
    // takedown must also purge the persisted MinHash band index (the
    // state a production dedup run starts from instead of re-shingling
    // the corpus), or the deleted doc keeps surfacing in near-dup pairs.
    // Band rows are per-doc projections, so deleteDocsAt's row filter is
    // the complete takedown: pairs from the post-delete state must equal
    // the batch pairs among the SURVIVING docs exactly
    "q305_minhash_pairs_deleted" -> ((s, dir) => {
      val state = graft.streaming.Streams.ensureDeletedDocState(
        s, docs(s, dir), dir, "mhbanddel-m5r3", 5, 3)(
        (sd, out, ckpt) =>
          graft.streaming.Streams.streamingMinhashBands(sd, out, ckpt))
      graft.streaming.Streams.minhashPairsStreamedAt(s, state, 0.5)
    }),
    // extension: the END-TO-END TAKEDOWN serving query — q292's
    // maintained-stack composition with ids ≡ 3 (mod 5) purged from EVERY
    // serving artifact: deleteIvfAt on the coarse assignments, deletePqAt
    // on the quantized codes (q295's pair), deleteDocsAt on the lexical
    // state (q298's leg). One takedown request, three maintained stores,
    // and the fused serving answer must equal the batch hybrid over the
    // surviving corpus — deleted ids unreachable through EITHER leg
    "q299_hybrid_takedown" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q295)
      val lex = lexDeletedStateOf(s, dir)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      Engine.hybridServingScored(coarse, pq, q, ServingTerms.size,
        graft.streaming.Streams.bm25StreamedBatchAt(s, lex, ServingTerms),
        k = 5, nLeg = 10)
    }),
    // extension: the READMIT leg of the lexical takedown — q298's
    // lifecycle healed by re-ingesting the purged docs through the batch
    // upsertDocsAt (the takedown-then-reingest flow). Rows AND the
    // additive stat partials round-trip, so delete + readmit is an
    // identity on every reader:
    // BM25 over the healed state must equal q258's NEVER-deleted
    // full-corpus oracle verbatim, global statistics included
    "q302_bm25_lex_readmitted" -> ((s, dir) =>
      graft.streaming.Streams.bm25StreamedAt(
        s, lexReadmittedStateOf(s, dir), Seq("join", "hash", "customer"))),
    // extension: the END-TO-END READMIT serving query — q299's takedown
    // healed in EVERY maintained store: the purged ids re-ingested through
    // upsertIvfAt + upsertCellPqAt (frozen trained artifacts) and
    // upsertDocsAt (lex state). One reingest request, three stores, and
    // the fused serving answer must equal q292's never-deleted
    // composition exactly — the takedown round-trips to identity. The
    // identity holds unless a readmitted even-wave vector sits on a
    // near-tie that flips between its f64 Lloyd cell and the f32-rounded
    // saved centroids it is re-assigned against (the oracle gates it)
    "q303_hybrid_readmit" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q303)
      val lex = lexReadmittedStateOf(s, dir)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      Engine.hybridServingScored(coarse, pq, q, ServingTerms.size,
        graft.streaming.Streams.bm25StreamedBatchAt(s, lex, ServingTerms),
        k = 5, nLeg = 10)
    }),
    // extension: the maintained-IVF-PQ lifecycle — q297's ≥3-wave +
    // compaction convention on the QUANTIZED serving index (fit both
    // trained artifacts on wave 0, two separate upsert waves against the
    // frozen artifacts, compactIvfAt on the fragmented coarse cells; the
    // codes table is replace-on-write, always one generation). The probe
    // must hash-match q282's two-wave oracle verbatim
    "q300_ann_ivfpq_maintained" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q300)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      Similarity.ivfPqProbe(coarse, pq, q, 3, nProbe = 3, shortlist = 64)
    }),
    // extension: the RETRAIN leg for the QUANTIZED serving index — q301's
    // convention on the IVF-PQ pair: both trained artifacts (coarse
    // centroids AND codebooks) refit over the complete stored corpus —
    // self-contained, the assignments table carries the vectors — every
    // vector reassigned and re-encoded, all four tables swapped as one
    // generation. Hash-oracled against a from-scratch full-corpus fit of
    // both artifacts: only a genuinely retrained pair matches
    "q304_ann_ivfpq_retrained" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q304)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      Similarity.ivfPqProbe(coarse, pq, q, 3, nProbe = 3, shortlist = 64)
    }),
    // extension: the persisted-IVF MAINTENANCE pair — the operational
    // story the streamed states got in r16 (compactEpochs), now for the
    // persisted index. q296: ivfCellStats over an index that has seen a
    // fit + TWO upsert waves + compactIvfAt — the skew monitor an
    // operator reads to decide when to retrain (n_vectors/share are
    // hash-oracled; n_files/bytes are storage-layout, pinned in
    // SimilaritySpec instead)
    "q296_ivf_cell_stats" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q296)
      Similarity.ivfCellStats(s, path).select("cell", "n_vectors", "share")
    }),
    // q297: the probe over that same ≥3-wave + compacted index must
    // hash-match q261's two-wave oracle verbatim — assignment is
    // per-vector against the frozen saved centroids, so neither the split
    // upsert history nor the file-layout rewrite may change anything an
    // operator can observe
    "q297_ann_ivf_maintained" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q296)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.ivfProbe(Similarity.loadIvfAt(s, path), q, 3, nProbe = 3)
    }),
    // extension: the RETRAIN leg — the act q296's skew monitor exists to
    // trigger, closing the maintenance loop (upsert → monitor → compact →
    // RETRAIN): deterministic Lloyd refit over the complete stored corpus
    // (every upsert since the frozen wave-0 fit reflected), both tables
    // swapped as one generation, probed from the saved files. The refit
    // is full-corpus deterministic, so the probe is hash-oracled against
    // a from-scratch fit on everything — centroid geometry genuinely
    // moved (wave-0-frozen vs full-corpus cells differ), and the oracle
    // proves the swap landed the new geometry, not a stale generation
    "q301_ann_ivf_retrained" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q301)
      val q = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      Similarity.ivfProbe(Similarity.loadIvfAt(s, path), q, 3, nProbe = 3)
    }),
    // extension: TEXT-IN hybrid serving — the production request shape
    // over the SAME maintained artifacts as q292: each query arrives as a
    // STRING; the vector leg hash-embeds it in-plan (hash_embed(qtext,
    // 64) — the reference's own embedding, dimensioned to the persisted
    // 64-dim IVF-PQ) and the lexical leg's keyword set is derived from
    // the same string by Engine.keywordTerms. Nothing is hand-fixed and
    // nothing is refit: both legs answer from the persisted IVF-PQ and
    // the streamed compacted lex state. The oracle re-derives the
    // embedding from the literal string in SQL (sha256 → byte cycle) and
    // shares the same keywordTerms derivation, so the whole text→serve
    // path is hash-checked
    "q306_hybrid_serving_text" -> ((s, dir) => {
      import graft.GraftFunctions.hash_embed
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q282)
      val lex = lexStateOf(s, dir)
      val (coarse, pq) = Similarity.loadIvfPqAt(s, path)
      import s.implicits._
      val q = ServingTextQueries.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .toDF("query_id", "qtext")
        .select(col("query_id"),
          hash_embed(col("qtext"), 64).as("query_embedding"))
      Engine.hybridServingScored(coarse, pq, q, ServingTextTerms.size,
        graft.streaming.Streams.bm25StreamedBatchAt(s, lex, ServingTextTerms),
        k = 5, nLeg = 10,
        nProbe = TextServingNProbe, shortlist = TextServingShortlist)
    }),
    // extension: the CROSS-STORE TAKEDOWN AUDIT — the compliance report a
    // real erasure pipeline ships after q299's one-request takedown: an
    // fsck-style reader over every maintained store the request touched
    // (coarse assignments, cell-partitioned PQ codes, lexical state,
    // MinHash band state) counting deleted ids still present — all four
    // must be 0 — plus the codes↔assignments layout invariant (every
    // code row's (vec_id, cell) must appear in the coarse assignments,
    // the contract that makes the IVFADC partition-pruned probe serve
    // the same candidates as the assignments would). n_ids carries each
    // store's surviving id count so the oracle also proves the stores
    // were non-empty and complete, not vacuously clean
    "q307_takedown_audit" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val path = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q295)
      val g = Similarity.resolveIndexDir(s, path)
      val lex = lexDeletedStateOf(s, dir)
      val band = graft.streaming.Streams.ensureDeletedDocState(
        s, docs(s, dir), dir, "mhbanddel-m5r3", 5, 3)(
        (sd, out, ckpt) =>
          graft.streaming.Streams.streamingMinhashBands(sd, out, ckpt))
      def leaked(df: DataFrame, idCol: String, store: String) =
        df.agg(
            sum(when(pmod(col(idCol), lit(5)) === 3, 1L).otherwise(0L))
              .as("n_leaked"),
            countDistinct(col(idCol)).as("n_ids"))
          .select(lit(store).as("store"), col("n_leaked"), col("n_ids"))
      val assignments = graft.operators.CellStore
        .read(s, s"$g/coarse/assignments")
      val codes = graft.operators.CellStore.read(s, s"$g/pq/codes")
      // SHUFFLE_HASH on the assignments (build) side: both sides are
      // corpus-sized, so the anti-join must never broadcast either
      val layoutBreaks = codes.select("vec_id", "cell")
        .join(assignments.select("vec_id", "cell").hint("SHUFFLE_HASH"),
          Seq("vec_id", "cell"), "left_anti")
        .agg(count(lit(1)).as("n_leaked"))
        .crossJoin(codes.agg(countDistinct(col("vec_id")).as("n_ids")))
        .select(lit("codes_vs_assignments").as("store"),
          col("n_leaked"), col("n_ids"))
      leaked(assignments, "vec_id", "coarse_assignments")
        .unionByName(leaked(codes, "vec_id", "pq_codes"))
        .unionByName(leaked(graft.streaming.Streams.epochsAt(s, lex)
          .filter(col("kind") =!= "s"), "doc_id", "lex_state"))
        .unionByName(leaked(graft.streaming.Streams.epochsAt(s, band),
          "doc_id", "band_state"))
        .unionByName(layoutBreaks)
        .orderBy("store")
    }),
    // extension: the HOT-CELL SPLIT audit — the monitor→split maintenance
    // loop (q296's skew monitor triggering splitIvfCellAt instead of a
    // full retrain): the most loaded coarse cell is divided into two
    // children by a LOCAL 2-means sub-fit and lands as a new generation.
    // The audit proves, against the retained pre-split generation, that
    // the children partition the parent's vectors exactly (no loss, no
    // leak), every untouched cell's assignments are byte-identical, the
    // total is preserved, both children are non-empty, and the max cell
    // share strictly DROPPED — skew remediated without refitting the
    // other cells. All violation counts are 0 and n_ids is the corpus
    // count, so the oracle proves the stores complete, not vacuously
    // clean (the q307 convention)
    "q308_ivf_split_audit" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val root = Similarity.ensurePersisted(s, e, dir, Similarity.Lifecycle.q308)
      val cs = graft.operators.CellStore
      val cur = Similarity.resolveIndexDir(s, root)
      val prev = s"$root/gen=${Similarity.currentGen(s, root).get - 1}"
      val after = cs.read(s, s"$cur/assignments")
      val before = cs.read(s, s"$prev/assignments")
      // the (parent, child) pair from the two retained generations (bounded
      // collects: nLists rows): the parent is the pre-split generation's
      // hottest cell, the child the one cell id the split added
      def cellIds(g: String) = s.read.parquet(s"$g/centroids")
        .select("cell").collect().map(_.getInt(0)).toSet
      val child = (cellIds(cur) -- cellIds(prev)).head
      val parent = before.groupBy("cell").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("cell")).select("cell").head().getInt(0)
      val nIds = broadcast(e.agg(count(lit(1)).as("n_ids")))
      def row(store: String, leaked: DataFrame) =
        leaked.crossJoin(nIds)
          .select(lit(store).as("store"), col("n_leaked"), col("n_ids"))
      // SHUFFLE_HASH on the BUILD (right) side of each anti-join — both
      // generations are corpus-sized, so neither may broadcast (the q307
      // convention; PlanAudit flagged the stream-side hint leaving AQE
      // free to broadcast the build side)
      def symDiff(a: DataFrame, b: DataFrame, keys: Seq[String]) =
        a.join(b.hint("SHUFFLE_HASH"), keys, "left_anti")
          .select(keys.map(col): _*)
          .unionByName(b.join(a.hint("SHUFFLE_HASH"), keys, "left_anti")
            .select(keys.map(col): _*))
          .agg(count(lit(1)).as("n_leaked"))
      val partBreaks = symDiff(
        before.filter(col("cell") === parent).select("vec_id"),
        after.filter(col("cell").isin(parent, child)).select("vec_id"),
        Seq("vec_id"))
      val untouchedChanges = symDiff(
        before.filter(col("cell") =!= parent).select("vec_id", "cell"),
        after.filter(!col("cell").isin(parent, child))
          .select("vec_id", "cell"),
        Seq("vec_id", "cell"))
      val drift = after.agg(count(lit(1)).as("na")).crossJoin(nIds)
        .select(abs(col("na") - col("n_ids")).as("n_leaked"))
      val maxShare = (df: DataFrame) => df.groupBy("cell")
        .agg(count(lit(1)).as("n")).agg(max("n").as("mx"))
      val balance = maxShare(after).crossJoin(
          broadcast(maxShare(before).select(col("mx").as("mxb"))))
        .select(when(col("mx") >= col("mxb"), 1L).otherwise(0L)
          .as("n_leaked"))
      val childrenMissing = after
        .filter(col("cell").isin(parent, child))
        .select("cell").distinct()
        .agg((lit(2L) - count(lit(1))).as("n_leaked"))
      row("balance_regressions", balance)
        .unionByName(row("children_missing", childrenMissing))
        .unionByName(row("split_partition_breaks", partBreaks))
        .unionByName(row("total_count_drift", drift))
        .unionByName(row("untouched_cell_changes", untouchedChanges))
        .orderBy("store")
    }),
    // extension: the maintained corpus statistics THEMSELVES — the
    // additive (n_docs, sum_dl) partials the lexical serving leg now
    // folds its n_docs/avgdl from (never re-scanning doc lengths per
    // batch). Reading them as a declared query pins the fold against the
    // oracle's from-scratch count/avg over the raw corpus, so any drift
    // in the partial maintenance (waves, compaction, takedown fixups)
    // fails the hash even before a BM25 score would move
    "q309_lex_corpus_stats" -> ((s, dir) =>
      graft.streaming.Streams.lexCorpusStatsAt(s, lexStateOf(s, dir))
        .select(col("n_docs"), round(col("avgdl"), 6).as("avgdl"))),
    // extension: per-bucket health of the maintained lex state — the
    // lexical twin of q296's ivfCellStats monitor (monitor→remediate on
    // the other store family: share says which buckets run hot, n_terms
    // whether the heat is one token or many, n_files when to
    // compactLexIndexAt). The oracle re-derives the postings AND the
    // sha-derived bucket assignment from the raw corpus, so the declared
    // columns pin the maintained layout's CONTENT bucket by bucket;
    // n_files/bytes are environment-shaped and stay spec-checked only
    "q310_lex_bucket_stats" -> ((s, dir) =>
      graft.streaming.Streams.lexBucketStatsAt(s, lexStateOf(s, dir))
        .select("pbk", "n_postings", "n_terms", "share")),
    // extension: language-ID quality audit — q19's prediction confused
    // against the stored label; map-only scoring, |langs|²-bounded cells
    "q254_langid_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(docs(s, dir))),
    // extension: TPC-H Q12 shape — per lineitem category, lines on
    // critical- vs other-priority orders in one CASE-WHEN split aggregate
    // (the last of the 22 spec shapes; completes the sweep)
    "q252_tpch_q12" -> ((s, dir) =>
      operators.Joins.shipmodePriorityCounts(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // extension: mutual information source x lang — chi-square's (q118)
    // information-theoretic sibling on the documents metadata; per-cell
    // exact-integer counts, one ln per observed cell
    "q253_mutual_info" -> ((s, dir) =>
      graft.operators.TableStats.mutualInformation(docs(s, dir),
        "source", "lang")),
    // extension: TPC-H Q2 shape — min-cost regional supplier per part
    // slice; the correlated min-subquery decorrelated to one per-part MIN
    // over a doubly-broadcast-pruned (partkey, suppkey) aggregate
    "q250_tpch_q2" -> ((s, dir) =>
      operators.Joins.minCostSupplier(Tables.lineitem(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir))),
    // extension: TPC-H Q20 shape — excess shippers: the nested-IN chain
    // decorrelated to a per-supplier qty aggregate with a mean-relative
    // cross-multiplied integer cut, then dim-bounded joins only
    "q251_tpch_q20" -> ((s, dir) =>
      operators.Joins.excessShippers(Tables.lineitem(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir))),
    // extension: TF-IDF over the inverted index — q98's scorer with
    // df-bounded postings cost and the all-docs frame intact; the oracle
    // is q98's full-scan SQL, so the hash check IS the index-equivalence
    // proof (the q110-vs-q48 convention for the vector-space scorer)
    "q249_tfidf_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.tfidfIndexed(TextAnalysis.postings(d),
        TextAnalysis.docLengths(d), Seq("transfer", "credit", "university"))
    }),
    // extension: dedup materialization — the output corpus: one min-id
    // canonical per near-dup cluster plus every unpaired doc (the q38
    // components applied as an anti-filter)
    "q247_dedup_materialize" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.dedupByCluster(d, Dedup.duplicateClusters(Dedup.jaccardPairs(d, 0.5)))
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),
    // extension: multimodal resize — nearest-neighbour raster sampling to
    // 4x4 over the q28/q144 stub decode (exact integer index math the
    // oracle reproduces; a real codec slots in at `decode`), pixels
    // hex-projected for the compare
    "q246_mm_resize" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "doc_id",
        "encode(text, 'utf-8')", "raw")
      Multimodal.resize(media, 4, 4)
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          lower(hex(col("pixels"))).as("pixels_hex"))
    }),
    // extension: skew-salted equi-join driven end-to-end — per-row hash
    // salt on the big side, salt-exploded small side; the result is
    // IDENTICAL to the plain join (the oracle is the plain join), which
    // is the salting contract under test
    "q245_salted_join" -> ((s, dir) =>
      graft.operators.Joins.saltedEquiJoin(
          Tables.lineitem(tune(s), dir)
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          Tables.orders(s, dir)
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
          "l_orderkey", 16)
        .groupBy("o_orderpriority")
        .agg(sum(expr("cast(round(l_extendedprice * 100) AS bigint) * " +
            "(100 - cast(round(l_discount * 100) AS bigint))")).as("revenue_e4"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")),
    // extension: perceptual-hash near-dup pairs — the image-dedup shape
    // (4x16-bit bands, pigeonhole-complete for hamming <= 3, exact
    // per-band XOR popcount verify) over the q144 signatures; every 100th
    // payload is re-ingested under a shifted id so the miner has planted
    // exact duplicates to find at every test SF
    "q244_phash_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      // planted ids in the NEGATIVE range — disjoint from real ids at
      // every SF (see q136)
      val planted = d.filter(col("doc_id") % 100 === 0)
        .withColumn("doc_id", -col("doc_id") - 1)
      val media = Multimodal.asMedia(d.unionByName(planted), "doc_id",
        "encode(text, 'utf-8')", "raw")
      Multimodal.phashPairs(
        Multimodal.perceptualHash(media).select("media_id", "phash"), 3)
    }),
    // extension: term burstiness — cf/df clumping ratio top-k (entity/
    // boilerplate term surfacing; exact integer counts, one division)
    "q184_burstiness" -> ((s, dir) => TextAnalysis.termBurstiness(docs(s, dir))),
    // extension: mutual-kNN pair mining with the margin criterion — align
    // two embedding collections (even vs odd ids), keep mutually-top-k
    // pairs scored by locally-normalized margin (fully hash-oracled)
    "q179_mutual_knn" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      Similarity.mutualTopKPairs(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1), 4)
    }),
    // extension: RM3 pseudo-relevance-feedback expanded search — expansion
    // terms mined from the flagship vector top-5, BM25 re-score over the
    // expanded weighted term set (fixed-point contributions, fully
    // hash-oracled)
    "q177_prf_search" -> ((s, dir) =>
      Engine.searchPrf(indexOf(s, dir), Q, 5, 5, 10)),
    // extension: point-in-time SCD-2 lookup — sampled facts joined to the
    // q95 state history valid at each fact's timestamp; as-of machinery
    // cross-checked by the oracle's interval-containment formulation
    "q176_pit_join" -> ((s, dir) => {
      val ev = Tables.events(tune(s), dir)
      graft.operators.Joins.pointInTimeJoin(
        ev.filter(col("event_id") % 10 === 0)
          .select("user_id", "ts", "event_id"),
        graft.operators.EventAnalytics.stateHistory(ev),
        "user_id", "ts", "event_id", "valid_from", "event_type")
    }),
    // extension: bounded BFS hop distances from a seed set (blast radius)
    "q123_bfs_hops" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val e = li.select(
        concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      val seeds = li.filter(col("l_partkey") <= 3)
        .select(concat(lit("p"), col("l_partkey")).as("node")).distinct()
      graft.operators.Graph.bfsHops(e, seeds, 3)
    }))

  /** q78's fixture mixture: deliberately over-budget on src0 (exercises the
    * keep-everything cap) and asymmetric below it. Shared with the oracle
    * generator so both sides inline identical double literals. */
  private val MixWeights = Seq(
    "src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0, "src3" -> 0.5, "src4" -> 0.5)

  // ---------------------------------------------------------------- oracle —

  private val hexDigits = "0123456789abcdef"

  /** DuckDB: value of byte `j` (0-based) of hex string column/expr `h`. */
  private def dkByte(h: String, j: String): String =
    s"((strpos('$hexDigits', substr($h, CAST(($j)*2+1 AS INTEGER), 1))-1)*16" +
      s" + (strpos('$hexDigits', substr($h, CAST(($j)*2+2 AS INTEGER), 1))-1))"

  /** DuckDB: 1024-dim f32 hash-embedding list from a 64-char hex expr. */
  private def dkVec(h: String): String =
    s"list_transform(range(0, 1024), i -> CAST(CAST(${dkByte(h, "i%32")} AS DOUBLE)/255.0*2.0-1.0 AS FLOAT))"

  /** DuckDB: sequential f64 dot product of two 1024-dim float lists. */
  private def dkDot(a: String, b: String, n: Int = 1024): String =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** DuckDB: the chunks table (mirrors Engine.chunks). */
  private val dkChunks =
    """g AS (SELECT doc_id, source, text AS doc_text,
       unnest(range(0, CAST(ceil(length(text)/800.0) AS BIGINT))) AS i FROM documents),
  chunks AS (SELECT source || '_' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS id,
       source, 'pdfs/' || source || '.pdf' AS pdf_path, doc_id, CAST(i AS INTEGER) AS chunk_idx,
       substring(doc_text, CAST(i*800+1 AS INTEGER), 1000) AS text FROM g)"""

  /** DuckDB: scored chunks for the fixture query (mirrors Engine.search). */
  private val dkScored =
    s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
  q AS (SELECT ${dkVec("sha256('transfer credits')")} AS qv),
  scored AS (SELECT c.id, c.source, c.text,
      ${dkDot("c.emb", "q.qv")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot("q.qv", "q.qv")})) AS score
    FROM cvec c CROSS JOIN q WHERE length(c.text) > 0)"""

  /** DuckDB: tokenized docs + shingle list/table (mirrors Dedup.shingles).
    * `dkTokFrom(where)` builds the CTE with an optional row predicate —
    * parameterized at the FROM/WHERE level rather than by string surgery
    * on the finished CTE, so a future clause added to the base SELECT
    * cannot silently corrupt the sampled variant. */
  private def dkTokFrom(where: String = ""): String =
    "tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents" +
      (if (where.isEmpty) "" else s" WHERE $where") + ")"
  private val dkTok = dkTokFrom()
  private val dkShl =
    """shl AS (SELECT doc_id, CASE WHEN len(toks) >= 3
       THEN list_distinct(list_transform(range(0, len(toks)-2), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
       ELSE [text] END AS sh FROM tok)"""
  private val dkShu = "shu AS (SELECT doc_id, unnest(sh) AS shingle FROM shl)"

  /** DuckDB: the q38 df-capped candidate → jaccard-verified pair →
    * recursive-components chain, ending in `lab(doc_id, cluster)` with
    * cluster = min member id — shared by q238 and the q247 dedup
    * materialization. Callers open `WITH RECURSIVE` and include
    * dkTok/dkShl/dkShu first. */
  private val dkClusters =
    """keep AS (SELECT shingle FROM shu GROUP BY shingle HAVING count(*) <= 1000),
  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           WHERE a.shingle IN (SELECT shingle FROM keep)),
  ver AS (SELECT c.doc_a, c.doc_b,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
          FROM cand c JOIN shl sa ON c.doc_a = sa.doc_id
                      JOIN shl sb ON c.doc_b = sb.doc_id),
  p AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.5),
  edges AS (SELECT doc_a AS a, doc_b AS b FROM p
            UNION ALL SELECT doc_b, doc_a FROM p),
  nodes AS (SELECT DISTINCT a AS n FROM edges),
  reach(n, r) AS (SELECT n, n FROM nodes
    UNION SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.n),
  lab AS (SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n)"""

  /** DuckDB: the q144 aHash construction (stub-decode grid/mean/packing)
    * over a caller-supplied `mdocs(doc_id, text)` CTE, ending in
    * `ph(media_id, phash)` — shared by q144 and the q244 near-dup pair
    * miner. */
  private val dkPhash =
    """base AS (SELECT doc_id, text, length(text) AS len,
    CASE WHEN length(text) > 0 THEN ord(substr(text, 1, 1)) ELSE 0 END AS b0,
    CASE WHEN length(text) > 1 THEN ord(substr(text, 2, 1)) ELSE 0 END AS b1
  FROM mdocs),
  dims AS (SELECT doc_id, text, len, 64 + len % 512 AS w, 64 + (b0 * 256 + b1) % 512 AS h FROM base),
  grays AS (SELECT doc_id, len,
    CASE WHEN len = 0 THEN list_transform(range(0, 64), j -> 0)
    ELSE list_transform(range(0, 64), j ->
      (ord(substr(text, ((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + 0) % len + 1, 1))
     + ord(substr(text, ((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + 1) % len + 1, 1))
     + ord(substr(text, ((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + 2) % len + 1, 1))) // 3)
    END AS g
  FROM dims),
  bits AS (SELECT doc_id, g, list_sum(g) // 64 AS mean FROM grays),
  ph AS (SELECT doc_id AS media_id,
  list_aggregate(list_transform(range(0, 8), k ->
    lpad(lower(hex(
      list_sum(list_transform(range(0, 8), j ->
        CASE WHEN g[CAST(8 * k + j + 1 AS INTEGER)] >= mean THEN CAST(2 ** j AS BIGINT) ELSE 0 END))
    )), 2, '0')), 'string_agg', '') AS phash
  FROM bits)"""

  /** DuckDB: the q170/q171 BPE scaffold — vocab + initial symbolization +
    * `merges` unrolled (pair-count, argmax, merge-apply) stages, sharing
    * Bpe.scala's sentinel-wrapped representation (chr(1)/chr(2)). The
    * caller appends a final SELECT over b1..bN / sN. */
  private def bpeOracle(merges: Int, finalSelect: String): String = {
    // AS MATERIALIZED is load-bearing: s_k references s_{k-1} twice (via
    // p_k and directly) — inlined CTEs would expand the chain exponentially
    // (measured: >5 min inlined vs 0.2 s materialized at sf0.01)
    val head = s"""WITH $dkTok,
  w AS MATERIALIZED (SELECT token AS word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(toks) AS token FROM tok)
    WHERE regexp_matches(token, '^[ -~]+$$') GROUP BY 1),
  s0 AS MATERIALIZED (SELECT word, n,
    array_to_string(list_transform(string_split(word, ''), c -> chr(1) || c || chr(2)), '')
      || chr(1) || '</w>' || chr(2) AS sym FROM w)"""
    val stages = (1 to merges).map { k =>
      s""",
  p$k AS MATERIALIZED (SELECT a[i] AS lhs, a[i+1] AS rhs, CAST(sum(n) AS BIGINT) AS cnt
    FROM (SELECT n, list_filter(string_split(replace(sym, chr(1), ''), chr(2)), x -> x <> '') AS a
          FROM s${k - 1}),
         unnest(range(1, len(a))) AS u(i)
    GROUP BY 1, 2),
  b$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
  s$k AS MATERIALIZED (SELECT word, n, replace(sym,
      (SELECT chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2) FROM b$k),
      (SELECT chr(1) || lhs || rhs || chr(2) FROM b$k)) AS sym FROM s${k - 1})"""
    }.mkString
    head + stages + "\n" + finalSelect
  }
  private def dkJaccardFrom(tokCte: String): String =
    s"""WITH $tokCte, $dkShl, $dkShu,
  counts AS (SELECT doc_id, count(*) AS n_sh FROM shu GROUP BY doc_id),
  pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
            FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
  jac AS (SELECT p.doc_a, p.doc_b, p.common,
            p.common / (ca.n_sh + cb.n_sh - p.common) AS jaccard
          FROM pairs p JOIN counts ca ON p.doc_a = ca.doc_id
                       JOIN counts cb ON p.doc_b = cb.doc_id)"""
  private val dkJaccard = dkJaccardFrom(dkTok)

  /** The q262 tok CTE: `dkTok` restricted to the deterministic sha-keyed
    * half corpus — mirrors Dedup.dedupRecallAudit(sampleHex = 8). */
  private val dkTokSampled = dkTokFrom(
    "substr(sha256('drs:' || CAST(doc_id AS VARCHAR)), 1, 1)" +
      " IN ('0','1','2','3','4','5','6','7')")

  /** The dedup-recall audit SQL (q234/q262): exhaustive df-capped pair arm
    * vs banded-MinHash arm, both thresholded at tau=0.5, folded to one
    * (n_exact, n_lsh, n_common, recall, precision) row. `jaccardCtes`
    * carries the tok→shingle→jaccard chain — the full corpus for q234,
    * the sha-sampled half for q262. */
  private def dedupRecallAuditOracle(jaccardCtes: String): String =
    s"""$jaccardCtes,
  keep AS (SELECT shingle FROM shu GROUP BY shingle HAVING count(*) <= 1000),
  ecand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    WHERE a.shingle IN (SELECT shingle FROM keep)),
  e AS (SELECT j.doc_a, j.doc_b FROM jac j
    JOIN ecand USING (doc_a, doc_b) WHERE j.jaccard >= 0.5),
  $dkSig,
  bands AS (${(0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, ${dkBandKey(b)} AS band_key FROM sig")
      .mkString("\n    UNION ALL ")}),
  lcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y ON x.band_idx = y.band_idx
      AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
  l AS (SELECT j.doc_a, j.doc_b FROM jac j
    JOIN lcand USING (doc_a, doc_b) WHERE j.jaccard >= 0.5),
  ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM e),
  nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM l),
  nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common
    FROM e JOIN l USING (doc_a, doc_b))
SELECT n_exact, n_lsh, n_common,
  round(CASE WHEN n_exact = 0 THEN CAST(NULL AS DOUBLE)
    ELSE CAST(n_common AS DOUBLE) / n_exact END, 6) AS recall,
  round(CASE WHEN n_lsh = 0 THEN CAST(NULL AS DOUBLE)
    ELSE CAST(n_common AS DOUBLE) / n_lsh END, 6) AS "precision"
FROM ne CROSS JOIN nl CROSS JOIN nc"""

  /** DuckDB: MinHash signature CTE (mirrors Dedup.minhashSig) — expects the
    * shingle table `shu` in scope. */
  private val dkSig: String = {
    val mins =
      (0 until 8).map(j => s"min(substr(h1, ${j * 8 + 1}, 8)) AS m$j") ++
        (0 until 8).map(j => s"min(substr(h2, ${j * 8 + 1}, 8)) AS m${8 + j}")
    s"""mh AS (SELECT doc_id, sha256(shingle) AS h1, sha256('x:' || shingle) AS h2 FROM shu),
  sig AS (SELECT doc_id, ${mins.mkString(", ")} FROM mh GROUP BY doc_id)"""
  }
  private def dkBandKey(b: Int): String =
    s"sha256(${(0 until 4).map(j => s"m${4 * b + j}").mkString(" || ")})"
  private val dkBandCols: Seq[String] =
    (0 until 4).map(b => s"${dkBandKey(b)} AS band$b")

  /** DuckDB: the MinHash-banded near-dup pair set at tau=0.5 — shared by
    * q26 (batch band+verify) and q259 (the same pairs answered from the
    * STREAMED band index; the maintained table is a pure per-doc
    * projection, so both must equal this full-corpus ground truth). */
  private lazy val dkMinhashPairsSql: String =
    s"""$dkJaccard,
  $dkSig,
  bands AS (${(0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, ${dkBandKey(b)} AS band_key FROM sig")
      .mkString("\n    UNION ALL ")}),
  cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
      AND x.doc_id < y.doc_id)
SELECT j.doc_a, j.doc_b, j.common, round(j.jaccard, 6) AS jaccard
FROM jac j JOIN cand USING (doc_a, doc_b) WHERE j.jaccard >= 0.5"""

  /** DuckDB: one-vs-rest midrank AUC over the hash-probe scores — shared
    * by q199 (batch scorer) and q260 (the same AUC answered from the
    * STREAMED scored state; per-vector scores are pure row functions, so
    * both must equal this full-corpus ground truth). */
  private lazy val dkAucSql: String =
    """WITH d AS (SELECT vec_id, label,
    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm,
    CAST(embedding[1] AS DOUBLE) AS e1 FROM embeddings),
  sc AS (SELECT label, CAST(floor(CASE WHEN nrm = 0.0 THEN 0.0
      ELSE e1 / sqrt(nrm) END * 1073741824.0 + 0.5) AS BIGINT) AS f FROM d),
  grp AS (SELECT f, label, CAST(count(*) AS BIGINT) AS cnt FROM sc GROUP BY 1, 2),
  pf AS (SELECT f, CAST(sum(cnt) AS BIGINT) AS f_tot FROM grp GROUP BY 1),
  ca AS (SELECT f, f_tot, CAST(coalesce(sum(f_tot) OVER (ORDER BY f
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below_all FROM pf),
  wb AS (SELECT g.f, g.label, g.cnt, ca.f_tot, ca.below_all,
      CAST(coalesce(sum(g.cnt) OVER (PARTITION BY g.label ORDER BY g.f
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below_lab
    FROM grp g JOIN ca ON g.f = ca.f),
  u2 AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS n_pos,
      CAST(sum(cnt * 2 * (below_all - below_lab) + cnt * (f_tot - cnt)) AS BIGINT) AS u2
    FROM wb GROUP BY 1),
  tt AS (SELECT CAST(sum(f_tot) AS BIGINT) AS n_total FROM pf)
SELECT label, n_pos, CAST(n_total - n_pos AS BIGINT) AS n_neg,
  round(CAST(u2 AS DOUBLE) / 2.0 / n_pos / (n_total - n_pos), 6) AS auc
FROM u2 CROSS JOIN tt ORDER BY label"""

  /** DuckDB: exact per-query cosine top-3 (shared by q23 and q31 — the
    * Window and custom-GroupedTopK plans must both match it). */
  private val annTopKOracle: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
  s AS (SELECT q.qid AS query_id, e.vec_id,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN q),
  sc AS (SELECT query_id, vec_id,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
    score FROM sc)
SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3"""

  /** DuckDB: per-query int8-SQ top-3 (mirrors Similarity.sqTopK — per-vector
    * symmetric quantization, scale = max|v|/127, half-even rounding,
    * integer-dot cosine). Shared by q46 (build+probe) and q58 (incremental
    * upsert): per-vector codes make upsert EXACTLY equal a full rebuild, so
    * both queries must match this one full-corpus computation. */
  /** `serveFilter` restricts the CORPUS side of the scan (the stored
    * codes) — the q293 erasure twin; queries stay unfiltered (probing
    * with a deleted id's embedding is legal, it just can't be a hit). */
  private def sqTopKOracle(serveFilter: String = ""): String = {
    val serve = if (serveFilter.isEmpty) "ic"
      else s"(SELECT * FROM ic WHERE $serveFilter)"
    val codes = (e: String) =>
      s"""list_transform($e, x -> CASE WHEN sc <= 0.0 OR isnan(sc) OR isinf(sc)
          THEN CAST(0 AS TINYINT)
          ELSE CAST(round_even(CAST(x AS DOUBLE) / sc, 0) AS TINYINT) END)"""
    val idot = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS BIGINT) * CAST($b[i] AS BIGINT)))"
    s"""WITH qz AS (SELECT vec_id,
      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc,
      embedding FROM embeddings),
  ic AS (SELECT vec_id, ${codes("embedding")} AS codes FROM qz),
  qc AS (SELECT vec_id AS query_id, codes AS qcodes FROM ic WHERE vec_id < 5),
  s AS (SELECT q.query_id, e.vec_id,
      ${idot("e.codes", "q.qcodes")} AS dot,
      ${idot("e.codes", "e.codes")} AS na,
      ${idot("q.qcodes", "q.qcodes")} AS nb
    FROM $serve e CROSS JOIN qc q),
  sc2 AS (SELECT query_id, vec_id,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0
           ELSE dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
      score FROM sc2)
SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3"""
  }

  /** DuckDB: per-query binary-quantization top-3 (mirrors Similarity.bqTopK
    * end-to-end — 63-bit sign sketches over the shared sha256("rp:t:i")
    * hyperplanes, Hamming shortlist of 256 via bit_count(xor) with
    * (hd asc, vec_id asc) tie order, exact cosine re-rank). The JVM decides
    * each bit with `dot >= 0.0` (false for NaN); DuckDB orders NaN above all
    * values, so NaN is guarded explicitly. Shared by q56 (build+probe) and
    * q59 (incremental upsert — per-vector sketches make upsert == rebuild).
    * `serveFilter` restricts the stored-code side (the q294 erasure twin). */
  private def bqTopKOracle(serveFilter: String = ""): String = {
    val serve = if (serveFilter.isEmpty) "codes"
      else s"(SELECT * FROM codes WHERE $serveFilter)"
    s"""WITH ${dkRpWn(63)},
  dots AS (SELECT e.vec_id, w.t,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * w.wv[i])) AS v
    FROM embeddings e CROSS JOIN rpw w),
  codes AS (SELECT vec_id, CAST(coalesce(sum(
        CASE WHEN isnan(v) THEN CAST(0 AS BIGINT)
             WHEN v >= 0 THEN CAST(1 AS BIGINT) << CAST(t AS INTEGER)
             ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS code
    FROM dots GROUP BY vec_id),
  qc AS (SELECT vec_id AS query_id, code AS qcode FROM codes WHERE vec_id < 5),
  hd AS (SELECT q.query_id, c.vec_id,
      CAST(bit_count(xor(c.code, q.qcode)) AS INTEGER) AS hd
    FROM $serve c CROSS JOIN qc q),
  short AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY hd ASC, vec_id ASC) AS sr
    FROM hd) WHERE sr <= 256),
  qset AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
  s AS (SELECT c.query_id, c.vec_id,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM short c JOIN embeddings e ON c.vec_id = e.vec_id
                 JOIN qset q ON c.query_id = q.query_id),
  sc AS (SELECT query_id, vec_id,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
    score FROM sc)
SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3"""
  }

  /** DuckDB: deterministic random-projection weights (mirrors
    * `RandProjBuckets.weights`): w[t][i] from sha256("rp:t:i") first 4
    * bytes, mapped to [-1, 1); aggregated to one ordered list per table. */
  private def dkRpWn(nTables: Int): String = {
    val b = (j: Int) => dkByte("h", j.toString)
    s"""rpw0 AS (SELECT tt.t AS t, ii.i AS i,
       sha256('rp:' || CAST(tt.t AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)) AS h
       FROM (SELECT unnest(range(0, $nTables)) AS t) tt, (SELECT unnest(range(0, 64)) AS i) ii),
  rpw AS (SELECT t, list((((${b(0)} * 256 + ${b(1)}) * 256 + ${b(2)}) * 256 + ${b(3)})
       / 4294967296.0 * 2.0 - 1.0 ORDER BY i) AS wv FROM rpw0 GROUP BY t)"""
  }
  private val dkRpW: String = dkRpWn(6)

  /** DuckDB: per-(id, table) rp bucket ids for a vector table CTE `src` with
    * id column `id` and embedding column `emb` (mirrors the expression's
    * normalize -> sequential dot -> floor, bucketLength 1.0). */
  private def dkRpBuckets(alias: String, src: String, id: String, emb: String): String =
    s"""${alias}n AS (SELECT $id, $emb AS e,
       sqrt(list_sum(list_transform(range(1, 65), i -> CAST($emb[i] AS DOUBLE) * CAST($emb[i] AS DOUBLE)))) AS nrm
       FROM $src),
  $alias AS (SELECT $id, w.t,
       CAST(floor(list_sum(list_transform(range(1, 65), i -> (CAST(e[i] AS DOUBLE) / nrm) * w.wv[i]))) AS BIGINT) AS bk
       FROM ${alias}n CROSS JOIN rpw w WHERE nrm <> 0)"""

  /** DuckDB: the BM25 building blocks (df aggregates, tf projections, the
    * fixed-order score expression with k1=1.2, b=0.75) over a CTE exposing
    * `toks` and `dl` — one source of truth for the q48 and q51 oracles;
    * must mirror `TextAnalysis.bm25` term-for-term. */
  private def dkBm25Parts(terms: Seq[String]): (String, String, String) = {
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(", ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$i"
    }.mkString(", ")
    val score = terms.indices.map { i =>
      s"""(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
          * (tf_$i * 2.2) / (tf_$i + 1.2 * (0.25 + 0.75 * dl / avgdl)))"""
    }.mkString(" + ")
    (dfCols, tfCols, score)
  }

  /** q19's per-language score columns + argmax CASE — shared by the
    * langid projection and the q254 confusion rollup. */
  private def dkLangParts: (String, String) = {
    val langs = TextAnalysis.stopwords.map(_._1)
    val scoreCols = langs.map(l =>
      s"CAST(len(list_filter(toks, t -> t IN ${stopIn(l)})) AS INTEGER) AS s_$l").mkString(",\n  ")
    val caseExpr = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"s_$r")
      val bound = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $bound THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    (scoreCols, caseExpr)
  }

  /** q98's full-scan TF-IDF SQL — shared verbatim by q249_tfidf_indexed,
    * whose hash check against the SAME oracle is the index-equivalence
    * proof for `tfidfIndexed`. */
  private def dkTfidfSql(terms: Seq[String]): String = {
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(", ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$i"
    }.mkString(", ")
    val score = terms.indices
      .map(i => s"(tf_$i * ln((n_docs + 1.0) / (df_$i + 1.0)))").mkString(" + ")
    s"""WITH $dkTok,
  t AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
  stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, $dfCols FROM t),
  tf AS (SELECT doc_id, dl, $tfCols FROM t)
SELECT doc_id, dl AS n_tokens,
  ${terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i").mkString(", ")},
  round($score, 6) AS tfidf
FROM tf CROSS JOIN stats"""
  }

  private val centsE = "CAST(round(l_extendedprice * 100) AS BIGINT)"
  private val centsD = "CAST(round(l_discount * 100) AS BIGINT)"
  private val centsT = "CAST(round(l_tax * 100) AS BIGINT)"

  private val stopIn: Map[String, String] =
    TextAnalysis.stopwords.toMap.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString("(", ", ", ")")
    }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Only the legitimately non-SQL queries are omitted
    * (→ rows-only check per the contract): the MLlib-backed approximate-ANN
    * family q29/q30/q34 (MLlib LSH buckets / KMeans cells have no SQL
    * equivalent; their quality is gated by the recall assertions in
    * SimilaritySpec instead — and the deterministic q44/q45/q46 variants of
    * the same capabilities are fully hash-checked). */
  def oracleSql: Map[String, String] =
    oracleSqlBase ++ oracleSqlStreamTwins

  /** Streamed-state twins (q263-q268): each declared `*_stream` reader
    * must reproduce its batch operator over the FULL corpus, so the
    * oracle is the batch query's SQL — rebuilt from the base tables; the
    * DuckDB side never sees the maintained state (the cold-cache Verify
    * convention established by q257-q260). q266's chi-square-on-documents
    * has no batch twin (q118 runs over events), so it carries its own
    * SQL. */
  private lazy val oracleSqlStreamTwins: Map[String, String] = Map(
    "q263_zipf_stream" -> oracleSqlBase("q183_zipf"),
    "q264_entropy_stream" -> oracleSqlBase("q198_entropy"),
    "q265_jsd_stream" -> oracleSqlBase("q197_jsd_sources"),
    "q266_chi2_stream" ->
      """WITH c AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
  r AS (SELECT source, sum(o) AS ra FROM c GROUP BY 1),
  k AS (SELECT lang, sum(o) AS cb FROM c GROUP BY 1),
  t AS (SELECT sum(o) AS n FROM c)
SELECT c.source, c.lang, o,
  round(CAST(ra AS DOUBLE) * cb / n, 6) AS expected,
  round(pow(CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * cb / n, 2)
    / (CAST(ra AS DOUBLE) * cb / n), 6) AS chi2_cell
FROM c JOIN r USING (source) JOIN k USING (lang) CROSS JOIN t""",
    "q267_mi_stream" -> oracleSqlBase("q253_mutual_info"),
    "q268_burstiness_stream" -> oracleSqlBase("q184_burstiness"),
    "q269_top_tokens_stream" -> oracleSqlBase("q72_top_tokens"),
    "q270_tfidf_stream" -> oracleSqlBase("q249_tfidf_indexed"),
    "q271_ks_drift_stream" -> oracleSqlBase("q188_ks_drift"),
    "q272_psi_stream" -> oracleSqlBase("q237_psi_drift"),
    "q273_benford_stream" -> oracleSqlBase("q215_benford"),
    "q274_cohort_ltv_stream" -> oracleSqlBase("q227_cohort_ltv"),
    "q275_rfm_stream" -> oracleSqlBase("q204_rfm"),
    "q276_centroid_drift_stream" -> oracleSqlBase("q140_centroid_drift"),
    "q277_dsir_stream" -> oracleSqlBase("q172_dsir"),
    "q278_knn_confusion_stream" -> oracleSqlBase("q235_knn_confusion"),
    "q279_label_noise_stream" -> oracleSqlBase("q182_label_noise"),
    "q280_temperature_mix_stream" -> oracleSqlBase("q200_temperature_mix"),
    // q281: the q235 candidate chain (same probes, same fixed-point top-4)
    // folded to k-occurrence hubness — vid kept through tk where the
    // confusion oracle drops it
    "q281_knn_hubness_stream" -> {
      val dot = (x: String, y: String) =>
        s"list_sum(list_transform(range(1, 65), i -> CAST($x.embedding[i] AS DOUBLE)*CAST($y.embedding[i] AS DOUBLE)))"
      s"""WITH v AS (SELECT vec_id, embedding, label FROM embeddings),
  q0 AS (SELECT vec_id, embedding FROM v
    ORDER BY sha256('knnq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 4096),
  s AS (SELECT q.vec_id AS qid, i.vec_id AS vid,
      ${dot("q", "i")} AS dot, ${dot("q", "q")} AS na, ${dot("i", "i")} AS nb
    FROM q0 q CROSS JOIN v i WHERE i.vec_id <> q.vec_id),
  sc AS (SELECT qid, vid,
      CAST(floor((CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END) * 1073741824.0 + 0.5) AS BIGINT) AS fx FROM s),
  tk AS (SELECT * FROM (SELECT qid, vid,
      row_number() OVER (PARTITION BY qid ORDER BY fx DESC, vid ASC) AS rn FROM sc) WHERE rn <= 4),
  occ AS (SELECT vid AS vec_id, CAST(count(*) AS BIGINT) AS k_occ FROM tk GROUP BY 1),
  t AS (SELECT CAST(count(*) AS BIGINT) AS n_slots FROM tk)
SELECT vec_id, k_occ, round(CAST(k_occ AS DOUBLE) / n_slots, 6) AS slot_share
FROM occ CROSS JOIN t ORDER BY k_occ DESC, vec_id LIMIT 20"""
    },
    // q285/q286: the streamed CMS grid and Merkle leaf table fold to
    // exactly the batch sketch/manifest (additive counters; content-
    // convergent leaves), so the batch oracles apply verbatim
    "q285_cms_topk_stream" -> oracleSqlBase("q167_cms_topk"),
    "q286_merkle_stream" -> oracleSqlBase("q168_merkle"),
    // q288/q289: KMV k-min and DDSketch bucket states fold exactly to
    // their batch sketches (k-min-of-distinct merge; additive counts), and
    // the overlap/quantile tails are shared code — batch oracles verbatim
    "q288_kmv_overlap_stream" -> oracleSqlBase("q175_kmv_overlap"),
    "q289_ddsketch_stream" -> oracleSqlBase("q173_ddsketch"),
    // q290: per-vector quantization has no trained state, so the persisted
    // two-wave index's codes equal a one-shot encode of the full corpus
    // (upsertSq's contract) and the q46 oracle applies verbatim
    "q290_ann_sq8_persisted" -> oracleSqlBase("q46_ann_sq8"),
    "q291_ann_bq_persisted" -> oracleSqlBase("q56_ann_bq"),
    // q283: the q181 novelty chain under WAVE-ORDERED first occurrence —
    // the streamed landing is deterministic (wave = doc_id % 2, one batch
    // per wave), so a doc is scored against exactly the docs whose wave
    // arrived no later: evens see min-over-evens, odds see the global min
    "q283_novelty_stream" ->
      s"""WITH $dkTok, $dkShl, $dkShu,
  f AS (SELECT shingle,
      min(CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS f0,
      min(doc_id) AS f1 FROM shu GROUP BY 1),
  nvl AS (SELECT s.doc_id, s.shingle,
      CASE WHEN (s.doc_id % 2 = 0 AND f.f0 = s.doc_id)
             OR (s.doc_id % 2 = 1 AND f.f1 = s.doc_id)
           THEN 1 ELSE 0 END AS novel
    FROM shu s JOIN f USING (shingle))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(sum(novel) AS BIGINT) AS n_novel,
  round(CAST(sum(novel) AS DOUBLE) / count(*), 6) AS novelty
FROM nvl GROUP BY 1""",
    // q284: the q185 block-dedup chain under the same wave-ordered rule —
    // first occurrence is the lexicographic (doc_id, idx) min over waves
    // <= the doc's own (f2_0 for evens, the global f2_1 for odds)
    "q284_block_dedup_stream" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
  nb AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 16.0) AS BIGINT) AS nblk FROM tok WHERE len(toks) > 0),
  blkt AS (SELECT doc_id, i AS idx,
      array_to_string(list_slice(toks, CAST(i * 16 + 1 AS BIGINT), CAST(i * 16 + 16 AS BIGINT)), ' ') AS blk
    FROM (SELECT doc_id, toks, unnest(range(0, nblk)) AS i FROM nb)),
  f1_0 AS (SELECT blk, min(doc_id) AS fdoc FROM blkt WHERE doc_id % 2 = 0 GROUP BY 1),
  f2_0 AS (SELECT b.blk, b.fdoc, min(t.idx) AS fidx
    FROM f1_0 b JOIN blkt t ON t.blk = b.blk AND t.doc_id = b.fdoc GROUP BY 1, 2),
  f1_1 AS (SELECT blk, min(doc_id) AS fdoc FROM blkt GROUP BY 1),
  f2_1 AS (SELECT b.blk, b.fdoc, min(t.idx) AS fidx
    FROM f1_1 b JOIN blkt t ON t.blk = b.blk AND t.doc_id = b.fdoc GROUP BY 1, 2),
  k AS (SELECT t.doc_id, t.idx, t.blk,
      CASE WHEN t.doc_id % 2 = 0
           THEN (f0.fdoc = t.doc_id AND f0.fidx = t.idx)
           ELSE (f1.fdoc = t.doc_id AND f1.fidx = t.idx) END AS kept
    FROM blkt t LEFT JOIN f2_0 f0 ON f0.blk = t.blk
                JOIN f2_1 f1 ON f1.blk = t.blk)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  sha256(coalesce(string_agg(CASE WHEN kept THEN blk END, ' ' ORDER BY idx), '')) AS clean_sha
FROM k GROUP BY 1""")

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q01_chunk" ->
      s"WITH $dkChunks SELECT id, source, pdf_path, doc_id, chunk_idx, text FROM chunks",
    "q02_chunk_stats" ->
      s"WITH $dkChunks SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id",
    "q03_digest" ->
      "SELECT doc_id, sha256(text) AS digest FROM documents",
    "q04_embed_bytes" ->
      s"""WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents)
SELECT doc_id,
  CAST(list_sum(list_transform(range(0, 32), j -> ${dkByte("hx", "j")})) AS INTEGER) AS byte_sum,
  CAST(${dkByte("hx", "0")} AS INTEGER) AS b0,
  CAST(${dkByte("hx", "31")} AS INTEGER) AS b31
FROM h""",
    "q05_embed_probe" ->
      s"""WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents)
SELECT doc_id, 1024 AS dim,
  CAST(CAST(${dkByte("hx", "0")} AS DOUBLE)/255.0*2.0-1.0 AS FLOAT) AS v0,
  CAST(CAST(${dkByte("hx", "31")} AS DOUBLE)/255.0*2.0-1.0 AS FLOAT) AS v31,
  CAST(CAST(${dkByte("hx", "31")} AS DOUBLE)/255.0*2.0-1.0 AS FLOAT) AS v1023
FROM h""",
    "q06_search" ->
      s"""$dkScored
SELECT CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS INTEGER) AS rnk,
       id, source, text, round(score, 4) AS score
FROM scored ORDER BY score DESC, id ASC LIMIT 5""",
    "q07_response" ->
      s"""$dkScored,
  top AS (SELECT * FROM scored ORDER BY score DESC, id ASC LIMIT 5)
SELECT 'transfer credits' AS query,
  coalesce(string_agg(
    id || chr(1) || source || chr(1) ||
      CAST(CAST(round(score, 4) AS DECIMAL(10,4)) AS VARCHAR) || chr(1) || text,
    chr(2) ORDER BY score DESC, id ASC), '') AS chunks,
  count(*) AS total_results,
  coalesce(string_agg('[Source: ' || source || ']' || chr(10) || text,
    chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY score DESC, id ASC), '') AS context
FROM top""",
    "q08_stats_source" ->
      s"WITH $dkChunks SELECT source, count(*) AS vector_count FROM chunks GROUP BY source",
    "q09_stats_total" ->
      s"WITH $dkChunks SELECT count(*) AS total_vector_count, 1024 AS dimension FROM chunks",
    "q10_upsert" ->
      s"""WITH $dkChunks,
  incoming AS (SELECT id, source, upper(text) AS text FROM chunks WHERE doc_id % 7 = 0)
SELECT id, source, text FROM incoming
UNION ALL
SELECT c.id, c.source, c.text FROM chunks c
WHERE c.id NOT IN (SELECT id FROM incoming)""",
    "q11_title" ->
      """SELECT doc_id, 'pdfs/' || source || '.pdf' AS path,
  replace(string_split('pdfs/' || source || '.pdf', '/')[-1], '.pdf', '') AS title
FROM documents""",
    "q12_tpch_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum($centsE) AS BIGINT) AS sum_base_cents,
  CAST(sum($centsE * (100 - $centsD)) AS BIGINT) AS sum_disc_e4,
  CAST(sum($centsE * (100 - $centsD) * (100 + $centsT)) AS BIGINT) AS sum_charge_e6,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
    "q13_join_revenue" ->
      s"""SELECT n_name,
  CAST(sum($centsE * (100 - $centsD)) AS BIGINT) AS revenue_e4,
  count(DISTINCT c_custkey) AS n_customers, count(*) AS n_lineitems
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""",
    "q14_window_topcust" ->
      """SELECT c_mktsegment, rnk, c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rnk
      FROM customer) WHERE rnk <= 3""",
    "q15_events_window" ->
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
  event_type, count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2""",
    "q16_events_props" ->
      """SELECT event_type, count(*) AS n,
  CAST(sum(CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(min(CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT)) AS BIGINT) AS min_k,
  CAST(max(CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type""",
    "q17_tokens" ->
      s"""WITH $dkTok
SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens,
  CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS INTEGER) AS sum_token_len,
  CAST(len(regexp_extract_all(text, '${TextAnalysis.subtokenRegex}')) AS INTEGER) AS n_subtokens
FROM tok""",
    "q18_quality" ->
      s"""WITH $dkTok,
  b AS (SELECT doc_id, text, CAST(len(toks) AS INTEGER) AS n_tokens,
          CAST(len(list_filter(toks, t -> t IN ${stopIn("en")})) AS INTEGER) AS stop_hits,
          CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INTEGER) AS n_punct
        FROM tok)
SELECT doc_id, n_tokens, stop_hits, n_punct,
  round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / n_tokens END, 6) AS stop_ratio,
  round(n_punct / greatest(length(text), 1), 6) AS punct_ratio,
  round(0.4 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / n_tokens END)
      + 0.4 * least(n_tokens / 100.0, 1.0)
      + 0.2 * (1.0 - n_punct / greatest(length(text), 1)), 6) AS quality
FROM b""",
    "q19_langid" -> {
      val langs = TextAnalysis.stopwords.map(_._1)
      val (scoreCols, caseExpr) = dkLangParts
      s"""WITH $dkTok,
  sc AS (SELECT doc_id,
  $scoreCols
  FROM tok)
SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")}, $caseExpr AS predicted_lang FROM sc"""
    },
    // Epoch shuffle: same sha256(seed:id) permutation key; the oracle's
    // window rank is the small-scale twin of the distributed rank
    "q255_train_order" -> {
      val b0 = dkByte("hx", "0")
      s"""WITH h AS (SELECT doc_id,
    sha256('epoch0:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents),
  s AS (SELECT doc_id, hx, CAST($b0 % 8 AS BIGINT) AS shard FROM h)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT)
    AS pos
FROM s"""
    },
    // Text-scan twin of the JSONL ingest: the oracle rebuilds the exact
    // fixture lines (same concat, same CORRUPT planting) and re-derives
    // the report — counts, content-ordered corrupt sample, parsed digest
    "q256_jsonl_ingest" ->
      """WITH lines AS (SELECT doc_id, (doc_id % 97 = 0) AS corrupt,
    CASE WHEN doc_id % 97 = 0
      THEN 'CORRUPT ' || '{"doc_id": ' || CAST(doc_id AS VARCHAR)
        || ', "lang": "' || lang || '", "source": "' || source || '"}'
      ELSE '{"doc_id": ' || CAST(doc_id AS VARCHAR)
        || ', "lang": "' || lang || '", "source": "' || source || '"}'
    END AS line FROM documents),
  samp AS (SELECT line FROM lines WHERE corrupt ORDER BY line LIMIT 5)
SELECT
  CAST((SELECT count(*) FROM lines WHERE NOT corrupt) AS BIGINT) AS n_valid,
  CAST((SELECT count(*) FROM lines WHERE corrupt) AS BIGINT) AS n_corrupt,
  (SELECT coalesce(string_agg(line, chr(10) ORDER BY line), '') FROM samp)
    AS corrupt_sample,
  CAST((SELECT sum(doc_id) FROM lines WHERE NOT corrupt) AS BIGINT)
    AS sum_doc_id""",
    // Streamed-state twin of q256: the two parity waves PARTITION the
    // corpus, so the maintained state's report must equal the same
    // full-fixture ground truth — identical SQL, rebuilt from `documents`
    "q257_jsonl_stream_report" ->
      """WITH lines AS (SELECT doc_id, (doc_id % 97 = 0) AS corrupt,
    CASE WHEN doc_id % 97 = 0
      THEN 'CORRUPT ' || '{"doc_id": ' || CAST(doc_id AS VARCHAR)
        || ', "lang": "' || lang || '", "source": "' || source || '"}'
      ELSE '{"doc_id": ' || CAST(doc_id AS VARCHAR)
        || ', "lang": "' || lang || '", "source": "' || source || '"}'
    END AS line FROM documents),
  samp AS (SELECT line FROM lines WHERE corrupt ORDER BY line LIMIT 5)
SELECT
  CAST((SELECT count(*) FROM lines WHERE NOT corrupt) AS BIGINT) AS n_valid,
  CAST((SELECT count(*) FROM lines WHERE corrupt) AS BIGINT) AS n_corrupt,
  (SELECT coalesce(string_agg(line, chr(10) ORDER BY line), '') FROM samp)
    AS corrupt_sample,
  CAST((SELECT sum(doc_id) FROM lines WHERE NOT corrupt) AS BIGINT)
    AS sum_doc_id""",
    // Confusion rollup of q19's prediction vs the stored label, with each
    // cell's share of its label's docs
    "q254_langid_confusion" -> {
      val (scoreCols, caseExpr) = dkLangParts
      s"""WITH tokl AS (SELECT doc_id, lang,
    list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
  sc AS (SELECT doc_id, lang, $scoreCols FROM tokl),
  pred AS (SELECT lang, $caseExpr AS predicted_lang FROM sc),
  cells AS (SELECT lang, predicted_lang, count(*) AS n_docs
    FROM pred GROUP BY 1, 2),
  m AS (SELECT lang, sum(n_docs) AS label_total FROM cells GROUP BY 1)
SELECT c.lang, c.predicted_lang, c.n_docs,
  round(CAST(c.n_docs AS DOUBLE) / m.label_total, 6) AS label_share
FROM cells c JOIN m ON c.lang = m.lang
ORDER BY 1, 2"""
    },
    "q20_fingerprint" ->
      """SELECT doc_id,
  list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
    i -> sha256(substring(text, CAST(i AS INTEGER), 8)))) AS fingerprint
FROM documents""",
    "q21_dedup_exact" ->
      """SELECT sha256(substring(text, 1, 64)) AS content_hash,
  min(doc_id) AS canonical_doc, count(*) AS n_docs
FROM documents GROUP BY 1""",
    // Mirrors Dedup.jaccardPairs: df-capped candidate generation (shingles in
    // more than 1000 docs are dropped before pairing) + exact verification on
    // the full shingle lists. At the gate's corpus size the cap never
    // triggers, so values equal the uncapped computation.
    "q22_jaccard_pairs" ->
      s"""WITH $dkTok, $dkShl, $dkShu,
  keep AS (SELECT shingle FROM shu GROUP BY shingle HAVING count(*) <= 1000),
  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           WHERE a.shingle IN (SELECT shingle FROM keep)),
  ver AS (SELECT c.doc_a, c.doc_b,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS common,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
          FROM cand c JOIN shl sa ON c.doc_a = sa.doc_id
                      JOIN shl sb ON c.doc_b = sb.doc_id)
SELECT doc_a, doc_b, common, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= 0.5""",
    "q23_ann_topk" -> annTopKOracle,
    "q31_ann_topk_custom" -> annTopKOracle,
    "q24_knn_pairs" ->
      """WITH s AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) AS nb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
  sc AS (SELECT vec_a, vec_b,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s)
SELECT vec_a, vec_b, round(score, 4) AS score FROM sc WHERE score >= 0.3""",
    "q25_minhash_bands" ->
      s"""WITH $dkTok, $dkShl, $dkShu, $dkSig
SELECT doc_id, ${dkBandCols.mkString(", ")} FROM sig""",
    "q26_minhash_pairs" -> dkMinhashPairsSql,
    // Streamed-state twin of q26: the two parity waves partition the
    // corpus and the band index is a pure per-doc projection, so pairs
    // from the maintained index equal the same full-corpus ground truth
    "q259_minhash_stream_pairs" -> dkMinhashPairsSql,
    "q33_simhash_pairs" ->
      s"""WITH $dkTok,
  hs AS (SELECT doc_id, list_transform(toks, t -> sha256(t)) AS hashes FROM tok),
  sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), b ->
    CASE WHEN coalesce(list_sum(list_transform(hashes, h ->
      CASE WHEN ((${dkByte("h", "b//8")}) >> CAST(b%8 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0
    THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
  FROM hs),
  banded AS (SELECT doc_id, simhash, b AS band_idx,
      (simhash >> CAST(b*8 AS INTEGER)) & 255 AS band_val
    FROM sig, (SELECT unnest(range(0, 4)) AS b)),
  cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS sig_a,
      y.doc_id AS doc_b, y.simhash AS sig_b
    FROM banded x JOIN banded y ON x.band_idx = y.band_idx
      AND x.band_val = y.band_val AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3""",
    "q32_search_batch" -> {
      val valuesList = QBatch.map(q => s"('${sqlLit(q)}')").mkString(", ")
      s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
  qs AS (SELECT query FROM (VALUES $valuesList) AS t(query)),
  qv AS (SELECT query, ${dkVec("sha256(query)")} AS qv FROM qs),
  scored AS (SELECT q.query, c.id, c.source,
      ${dkDot("c.emb", "q.qv")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot("q.qv", "q.qv")})) AS score
    FROM cvec c CROSS JOIN qv q WHERE length(c.text) > 0),
  r AS (SELECT query, id, source,
    CAST(row_number() OVER (PARTITION BY query ORDER BY score DESC, id ASC) AS INTEGER) AS "rank",
    score FROM scored)
SELECT query, "rank", id, source, round(score, 4) AS score FROM r WHERE "rank" <= 5"""
    },
    // Mirrors q35: the 1000/200 overlapping chunker over 6x-repeated text
    // (stride 800 = size - overlap; chunk i covers [i*800, i*800+1000)).
    "q35_chunk_long" ->
      """WITH d AS (SELECT doc_id, source, repeat(text || ' ', 6) AS doc_text FROM documents),
  g AS (SELECT doc_id, source, doc_text,
        unnest(range(0, CAST(ceil(length(doc_text)/800.0) AS BIGINT))) AS i FROM d),
  chunks AS (SELECT source || '_' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS id,
        doc_id, CAST(i AS INTEGER) AS chunk_idx,
        substring(doc_text, CAST(i*800+1 AS INTEGER), 1000) AS text FROM g)
SELECT id, doc_id, chunk_idx, CAST(length(text) AS INTEGER) AS chunk_len,
  sha256(text) AS chunk_sha FROM chunks""",
    // Mirrors q36: a 10-minute window sliding by 5 minutes puts every event
    // in exactly two windows, starting at floor5(ts) and floor5(ts) - 5min.
    "q36_events_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type FROM events),
  x AS (SELECT t, event_type,
          time_bucket(INTERVAL '5 minutes', t) - u * INTERVAL '5 minutes' AS window_start
        FROM e CROSS JOIN (SELECT unnest([0, 1]) AS u))
SELECT window_start, event_type, count(*) AS n FROM x GROUP BY 1, 2""",
    // Mirrors q37: Spark session windows are [first_ts, last_ts + gap) with
    // half-open merging, so a gap of exactly 30 minutes starts a NEW session
    // (merge iff next_ts < prev_ts + gap). lag/flag/running-sum session ids.
    "q37_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
  l AS (SELECT user_id, t, lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt FROM e),
  f AS (SELECT user_id, t,
          CASE WHEN pt IS NULL OR t - pt >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS ns FROM l),
  s AS (SELECT user_id, t,
          sum(ns) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM f)
SELECT min(t) AS session_start, user_id, count(*) AS n_events FROM s GROUP BY user_id, sid""",
    // Mirrors q38: q22's verified-pair pipeline at 0.5, then connected
    // components via a recursive reachability CTE (min reachable doc_id).
    "q38_dup_clusters" ->
      s"""WITH RECURSIVE $dkTok, $dkShl, $dkShu,
  keep AS (SELECT shingle FROM shu GROUP BY shingle HAVING count(*) <= 1000),
  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           WHERE a.shingle IN (SELECT shingle FROM keep)),
  ver AS (SELECT c.doc_a, c.doc_b,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
          FROM cand c JOIN shl sa ON c.doc_a = sa.doc_id
                      JOIN shl sb ON c.doc_b = sb.doc_id),
  p AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.5),
  edges AS (SELECT doc_a AS a, doc_b AS b FROM p
            UNION ALL SELECT doc_b, doc_a FROM p),
  nodes AS (SELECT DISTINCT a AS n FROM edges),
  reach(n, r) AS (SELECT n, n FROM nodes
    UNION SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.n)
SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n""",
    "q39_normalize" ->
      """SELECT doc_id,
  trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS norm_text,
  CAST(length(trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g'))) AS INTEGER) AS n_chars
FROM documents""",
    // Mirrors Sampling.splitByHash: first 4 bytes of sha256(doc_id) mod 1e4
    // against cumulative 98/1/1 thresholds.
    "q41_split_hash" -> {
      val h = "sha256(CAST(doc_id AS VARCHAR))"
      val b = s"(((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) * 256 + " +
        s"${dkByte(h, "2")}) * 256 + ${dkByte(h, "3")}) % 10000"
      s"""SELECT doc_id, CAST($b AS BIGINT) AS bucket,
  CASE WHEN $b < 9800 THEN 'train' WHEN $b < 9900 THEN 'val' ELSE 'test' END AS split
FROM documents"""
    },
    // Mirrors Sampling.packSequences: per-shard running token offsets.
    "q42_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 32 AS shard,
    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens
  FROM documents),
  o AS (SELECT doc_id, shard, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS UNBOUNDED PRECEDING) - n_tokens, 0) AS BIGINT) AS start_offset FROM t)
SELECT doc_id, shard, n_tokens, start_offset,
  CAST(floor(start_offset / 2048.0) AS BIGINT) AS bin FROM o""",
    // Mirrors Pipeline.prepareCorpus: q39's normalization, q18's quality
    // formula over the normalized text, exact dedup by normalized-text hash,
    // q41's split buckets.
    "q43_prepare_corpus" -> {
      val h = "sha256(CAST(doc_id AS VARCHAR))"
      val hB = (j: String) => dkByte("hx", j)
      val bucket = s"(((${hB("0")} * 256 + ${hB("1")}) * 256 + ${hB("2")}) * 256 + ${hB("3")}) % 10000"
      s"""WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS text FROM documents),
  tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM norm),
  b AS (SELECT doc_id, text, CAST(len(toks) AS INTEGER) AS n_tokens,
          CAST(len(list_filter(toks, t -> t IN ${stopIn("en")})) AS INTEGER) AS stop_hits,
          CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INTEGER) AS n_punct
        FROM tok),
  q AS (SELECT doc_id, text,
          round(0.4 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / n_tokens END)
              + 0.4 * least(n_tokens / 100.0, 1.0)
              + 0.2 * (1.0 - n_punct / greatest(length(text), 1)), 6) AS quality FROM b),
  filt AS (SELECT * FROM q WHERE quality >= 0.3),
  ded AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY sha256(text)),
  kept AS (SELECT f.doc_id, f.text, f.quality FROM filt f JOIN ded USING (doc_id)),
  hh AS (SELECT doc_id, text, quality, $h AS hx FROM kept)
SELECT doc_id, text, quality,
  CASE WHEN $bucket < 9800 THEN 'train' WHEN $bucket < 9900 THEN 'val' ELSE 'test' END AS split
FROM hh"""
    },
    "q40_redact_pii" ->
      """SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS INTEGER) AS n_phones,
  regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents""",
    // Mirrors Similarity.rpTopK: deterministic rp buckets for corpus and
    // query set, candidates on shared (t, bk), exact cosine re-score, top-3.
    "q44_ann_rp" ->
      s"""WITH $dkRpW,
  qset AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
  ${dkRpBuckets("ib", "embeddings", "vec_id", "embedding")},
  ${dkRpBuckets("qb", "qset", "query_id", "embedding")},
  cand AS (SELECT DISTINCT qb.query_id, ib.vec_id FROM ib JOIN qb
    ON ib.t = qb.t AND ib.bk = qb.bk),
  s AS (SELECT c.query_id, c.vec_id,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                JOIN qset q ON c.query_id = q.query_id),
  sc AS (SELECT query_id, vec_id,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
    score FROM sc)
SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3""",
    "q117_twap" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
      CAST(round(value * 100) AS BIGINT) AS cents FROM events),
  l AS (SELECT user_id, cents,
      epoch_us(lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)) - epoch_us(t) AS dt_us
    FROM e),
  f AS (SELECT * FROM l WHERE dt_us IS NOT NULL)
SELECT user_id, count(*) AS n_intervals,
  round((CAST(sum(cents * dt_us) AS DOUBLE) / sum(dt_us)) / 100.0, 6) AS twap
FROM f GROUP BY user_id""",
    // dow = days-since-anchor mod 7 (engine-neutral; dayofweek() origins differ)
    "q118_chisq" ->
      """WITH e AS (SELECT event_type,
      CAST(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) % 7 AS dow
    FROM events),
  c AS (SELECT event_type, dow, count(*) AS o FROM e GROUP BY 1, 2),
  r AS (SELECT event_type, sum(o) AS ra FROM c GROUP BY 1),
  k AS (SELECT dow, sum(o) AS cb FROM c GROUP BY 1),
  t AS (SELECT sum(o) AS n FROM c)
SELECT c.event_type, c.dow, o,
  round(CAST(ra AS DOUBLE) * cb / n, 6) AS expected,
  round(pow(CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * cb / n, 2)
    / (CAST(ra AS DOUBLE) * cb / n), 6) AS chi2_cell
FROM c JOIN r USING (event_type) JOIN k USING (dow) CROSS JOIN t""",
    "q119_transitions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id, event_type FROM events),
  l AS (SELECT user_id, event_type,
      lead(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS next_type FROM e),
  pp AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
         FROM l WHERE next_type IS NOT NULL GROUP BY 1, 2),
  f AS (SELECT from_type, sum(n) AS n_from FROM pp GROUP BY 1)
SELECT pp.from_type, pp.to_type, n, round(CAST(n AS DOUBLE) / n_from, 6) AS p
FROM pp JOIN f USING (from_type)""",
    "q120_top_paths" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id, event_type FROM events),
  l AS (SELECT user_id, event_type AS step1,
      lead(event_type, 1) OVER w AS step2, lead(event_type, 2) OVER w AS step3
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
SELECT step1, step2, step3, count(*) AS n FROM l WHERE step3 IS NOT NULL
GROUP BY 1, 2, 3 ORDER BY n DESC, step1, step2, step3 LIMIT 10""",
    "q121_feature_hash" -> {
      val h = "sha256(token)"
      s"""WITH $dkTok,
  u AS (SELECT doc_id, unnest(toks) AS token FROM tok)
SELECT doc_id,
  CAST((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) % 256 AS BIGINT) AS feature,
  count(*) AS n
FROM u GROUP BY 1, 2"""
    },
    // Hilbert transform unrolled: one CTE per level, the same CASE
    // arithmetic as Layout.withHilbert (flip-within-s rotation variant)
    "q122_hilbert_zonemap" -> {
      val bits = 21
      val steps = ((bits - 1) to 0 by -1).map { i =>
        val s = 1L << i; val ss = s * s; val lvl = bits - 1 - i
        s"""h${lvl + 1} AS (SELECT l_partkey, l_suppkey,
      CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN CAST($s AS BIGINT) - 1 - hy ELSE hy END) ELSE hx END AS hx,
      CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN CAST($s AS BIGINT) - 1 - hx ELSE hx END) ELSE hy END AS hy,
      hval + CAST($ss AS BIGINT) * (CASE WHEN rx = 0 AND ry = 0 THEN 0 WHEN rx = 0 THEN 1 WHEN ry = 0 THEN 3 ELSE 2 END) AS hval
    FROM (SELECT *, CASE WHEN (hx & CAST($s AS BIGINT)) > 0 THEN 1 ELSE 0 END AS rx,
                 CASE WHEN (hy & CAST($s AS BIGINT)) > 0 THEN 1 ELSE 0 END AS ry FROM h$lvl))"""
      }.mkString(",\n  ")
      s"""WITH h0 AS (SELECT l_partkey, l_suppkey,
    CAST(l_partkey AS BIGINT) & ${(1L << bits) - 1} AS hx,
    CAST(l_suppkey AS BIGINT) & ${(1L << bits) - 1} AS hy,
    CAST(0 AS BIGINT) AS hval FROM lineitem),
  $steps
SELECT hval // 4096 AS bucket, count(*) AS n_rows,
  min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey,
  min(l_suppkey) AS min_l_suppkey, max(l_suppkey) AS max_l_suppkey
FROM h$bits GROUP BY 1"""
    },
    // BFS unrolled 3 levels, mirroring Graph.bfsHops' frontier expansion
    "q123_bfs_hops" -> {
      def lvl(i: Int) =
        s"""f$i AS (SELECT DISTINCT u.dst AS node FROM und u JOIN v${i - 1} v ON u.src = v.node
       WHERE u.dst NOT IN (SELECT node FROM v${i - 1})),
  v$i AS (SELECT node, hops FROM v${i - 1} UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i)"""
      s"""WITH e0 AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
      's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem),
  und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
  v0 AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS node,
      CAST(0 AS BIGINT) AS hops FROM lineitem WHERE l_partkey <= 3),
  ${lvl(1)},
  ${lvl(2)},
  ${lvl(3)}
SELECT node, hops FROM v3"""
    },
    // Phrase adjacency: 1-based DuckDB list positions; the (pos - i) chain
    // mirrors TextAnalysis.phraseSearch
    "q124_phrase_search" ->
      s"""WITH $dkTok,
  pp0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
            p -> struct_pack(pos := p - 1, tok := toks[p]))) AS e FROM tok),
  pp AS (SELECT doc_id, e.pos AS pos, e.tok AS token FROM pp0),
  t0 AS (SELECT doc_id, pos FROM pp WHERE token = 'table'),
  t1 AS (SELECT doc_id, pos - 1 AS pos FROM pp WHERE token = 'hash')
SELECT t0.doc_id, count(*) AS n_occurrences
FROM t0 JOIN t1 ON t0.doc_id = t1.doc_id AND t0.pos = t1.pos
GROUP BY t0.doc_id""",
    // q92's funnel CTEs + exact interpolated quantiles of the step1->step3
    // delay in integer micros
    "q126_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
  s1 AS (SELECT user_id, min(t) AS t FROM e WHERE event_type = 'view' GROUP BY user_id),
  s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
         WHERE e.event_type = 'click' AND e.t > s1.t GROUP BY e.user_id),
  s3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s2 USING (user_id)
         WHERE e.event_type = 'purchase' AND e.t > s2.t GROUP BY e.user_id),
  d AS (SELECT epoch_us(s3.t) - epoch_us(s1.t) AS delay_us
        FROM s1 JOIN s3 USING (user_id))
SELECT 'all' AS cohort,
  quantile_cont(delay_us, 0.25) AS p25, quantile_cont(delay_us, 0.5) AS p50,
  quantile_cont(delay_us, 0.75) AS p75, quantile_cont(delay_us, 0.9) AS p90
FROM d""",
    // The incremental merge must equal the full recompute — so the oracle
    // IS the full recompute
    "q125_inc_rollup" ->
      """SELECT event_type,
  CAST(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d,
  count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2""",
    // Mirrors q28's stub decode arithmetic (Multimodal.decodeStub over the
    // UTF-8 bytes of text): deterministic byte math, SQL-expressible for
    // the ASCII corpus (char length == byte length, ord == byte value).
    "q28_mm_features" ->
      """SELECT doc_id AS media_id, 'raw' AS format,
  CAST(length(text) AS INTEGER) AS n_bytes,
  CAST(64 + (length(text) % 512) AS INTEGER) AS width,
  CAST(64 + ((ord(substr(text, 1, 1)) * 256 + ord(substr(text, 2, 1))) % 512) AS INTEGER) AS height,
  3 AS channels
FROM documents""",
    // Mirrors Similarity.sqTopK: per-vector symmetric int8 quantization
    // (scale = max|v|/127, half-even rounding) + integer-dot cosine. Shared
    // by q58 (incremental upsert): per-vector codes make upsert == rebuild.
    "q46_ann_sq8" -> sqTopKOracle(),
    "q58_sq8_upsert" -> sqTopKOracle(),
    // the q290 lifecycle + erasure: per-vector quantization means the
    // persisted/deleted index equals a fresh encode of the SURVIVORS
    "q293_ann_sq8_deleted" -> sqTopKOracle("vec_id % 5 <> 3"),
    // Mirrors Similarity.rpNearDupPairs: self-join on shared (t, bk),
    // exact cosine verification at 0.3.
    "q45_rp_pairs" ->
      s"""WITH $dkRpW,
  ${dkRpBuckets("ib", "embeddings", "vec_id", "embedding")},
  cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
    FROM ib x JOIN ib y ON x.t = y.t AND x.bk = y.bk AND x.vec_id < y.vec_id),
  s AS (SELECT c.vec_a, c.vec_b,
    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) AS nb
    FROM cand c JOIN embeddings a ON c.vec_a = a.vec_id
                JOIN embeddings b ON c.vec_b = b.vec_id),
  sc AS (SELECT vec_a, vec_b,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s)
SELECT vec_a, vec_b, round(score, 4) AS score FROM sc WHERE score >= 0.3""",
    "q27_simhash" ->
      s"""WITH $dkTok,
  hs AS (SELECT doc_id, list_transform(toks, t -> sha256(t)) AS hashes FROM tok)
SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), b ->
  CASE WHEN coalesce(list_sum(list_transform(hashes, h ->
    CASE WHEN ((${dkByte("h", "b//8")}) >> CAST(b%8 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0
  THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
FROM hs""",
    // Mirrors Joins.asOfJoin via DuckDB's native ASOF LEFT JOIN — the right
    // side pre-aggregated unique per (user_id, ts) like the Spark query.
    "q47_asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
  views AS (SELECT user_id, ts, max(value) AS view_value
            FROM events WHERE event_type = 'view' GROUP BY 1, 2)
SELECT c.user_id, c.event_id, c.ts, v.ts AS asof_ts, v.view_value AS asof_value
FROM clicks c ASOF LEFT JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts""",
    // Mirrors TextAnalysis.bm25 term-for-term: identical fixed-order f64
    // arithmetic (avgdl = exact integer sum / count in both engines).
    "q48_bm25" -> {
      val terms = Seq("transfer", "credit", "university")
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      s"""WITH $dkTok,
  t AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
  stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM t),
  tf AS (SELECT doc_id, dl, $tfCols FROM t)
SELECT doc_id, dl AS n_tokens,
  ${terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i").mkString(", ")},
  round($score, 6) AS bm25
FROM tf CROSS JOIN stats"""
    },
    // Mirrors TextAnalysis.repetitionStats (1-based DuckDB lists).
    "q49_repetition" ->
      s"""WITH $dkTok,
  l AS (SELECT doc_id, toks,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines
    FROM tok),
  g AS (SELECT doc_id, lines,
    CASE WHEN len(toks) < 2 THEN [] ELSE
      list_transform(range(2, len(toks) + 1), i -> toks[i-1] || ' ' || toks[i]) END AS g2,
    CASE WHEN len(toks) < 3 THEN [] ELSE
      list_transform(range(3, len(toks) + 1), i -> toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i]) END AS g3
    FROM l)
SELECT doc_id, len(lines) AS n_lines, len(g2) AS n_2grams,
  round(CASE WHEN len(lines) = 0 THEN 0.0
    ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END, 6) AS dup_line_frac,
  round(CASE WHEN len(g2) = 0 THEN 0.0
    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END, 6) AS dup_2gram_frac,
  round(CASE WHEN len(g3) = 0 THEN 0.0
    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END, 6) AS dup_3gram_frac
FROM g""",
    // Mirrors Joins.intervalSelfJoin semantics with the naive (oracle-scale)
    // range join; the Spark plan is the banded equi-join.
    "q50_interval_pairs" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
  date_diff('microsecond', a.ts, b.ts) AS gap_us
FROM events a JOIN events b ON a.user_id = b.user_id
  AND b.ts >= a.ts AND date_diff('microsecond', a.ts, b.ts) < 300000000
  AND (b.ts > a.ts OR b.event_id > a.event_id)""",
    // Mirrors Engine.hybridSearch: vector leg = the flagship scored CTE,
    // lexical leg = BM25 over the same chunks, fused by reciprocal rank.
    "q51_hybrid_rrf" -> {
      val terms = Seq("transfer", "credits")
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      s"""$dkScored,
  vec0 AS (SELECT id, score FROM scored ORDER BY score DESC, id LIMIT 20),
  vec AS (SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS INTEGER) AS rnk_vec FROM vec0),
  ctok AS (SELECT id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM chunks),
  ct AS (SELECT id, toks, len(toks) AS dl FROM ctok),
  cstats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM ct),
  ctf AS (SELECT id, dl, $tfCols FROM ct),
  lex0 AS (SELECT id, round($score, 6) AS bm25 FROM ctf CROSS JOIN cstats),
  lex1 AS (SELECT id, bm25 FROM lex0 WHERE bm25 > 0 ORDER BY bm25 DESC, id LIMIT 20),
  lex AS (SELECT id, CAST(row_number() OVER (ORDER BY bm25 DESC, id) AS INTEGER) AS rnk_lex FROM lex1),
  fused AS (SELECT coalesce(v.id, l.id) AS id, v.rnk_vec, l.rnk_lex,
    coalesce(1.0 / (60 + v.rnk_vec), 0.0) + coalesce(1.0 / (60 + l.rnk_lex), 0.0) AS rrf
    FROM vec v FULL OUTER JOIN lex l ON v.id = l.id)
SELECT id, rnk_vec, rnk_lex, round(rrf, 6) AS rrf FROM fused ORDER BY rrf DESC, id LIMIT 5"""
    },
    // Mirrors Similarity.reduceDim: identical sha256("rp:j:i")-derived
    // weights, sequential f64 dot per output dim, pivoted to scalar columns.
    "q52_reduce_dim" -> {
      val b = (j: Int) => dkByte("h", j.toString)
      s"""WITH rw0 AS (SELECT tt.t AS j, ii.i AS i,
    sha256('rp:' || CAST(tt.t AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)) AS h
    FROM (SELECT unnest(range(0, 8)) AS t) tt, (SELECT unnest(range(0, 64)) AS i) ii),
  rw AS (SELECT j, list((((${b(0)} * 256 + ${b(1)}) * 256 + ${b(2)}) * 256 + ${b(3)})
    / 4294967296.0 * 2.0 - 1.0 ORDER BY i) AS wv FROM rw0 GROUP BY j),
  d AS (SELECT e.vec_id, r.j,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * r.wv[i])) AS v
    FROM embeddings e CROSS JOIN rw r)
SELECT vec_id,
  ${(0 until 8).map(j => s"max(CASE WHEN j = $j THEN v END) AS r$j").mkString(", ")}
FROM d GROUP BY vec_id"""
    },
    // Mirrors Sampling.stratifiedSampleByHash: 'strat:'-prefixed hash bucket
    // vs per-language fraction thresholds (en 3000, de 8000, else 6000).
    "q53_stratified_sample" -> {
      val h = "sha256('strat:' || CAST(doc_id AS VARCHAR))"
      val b = s"(((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) * 256 + " +
        s"${dkByte(h, "2")}) * 256 + ${dkByte(h, "3")}) % 10000"
      s"""SELECT doc_id, lang FROM documents
WHERE $b < (CASE WHEN lang = 'de' THEN 8000 WHEN lang = 'en' THEN 3000 ELSE 6000 END)"""
    },
    // Mirrors Sampling.selectByTokenBudget: the global (quality desc,
    // doc_id) prefix sum — DuckDB computes it in one window; the Spark plan
    // is the distributed range-partitioned form, values identical.
    "q54_token_budget" ->
      s"""WITH $dkTok,
  b AS (SELECT doc_id, text, CAST(len(toks) AS INTEGER) AS n_tokens,
          CAST(len(list_filter(toks, t -> t IN ${stopIn("en")})) AS INTEGER) AS stop_hits,
          CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INTEGER) AS n_punct
        FROM tok),
  q AS (SELECT doc_id,
          round(0.4 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / n_tokens END)
              + 0.4 * least(n_tokens / 100.0, 1.0)
              + 0.2 * (1.0 - n_punct / greatest(length(text), 1)), 6) AS quality,
          CAST(n_tokens AS BIGINT) AS n_tokens
        FROM b),
  o AS (SELECT doc_id, quality, n_tokens,
          coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
        FROM q)
SELECT doc_id, quality, n_tokens, CAST(start_offset AS BIGINT) AS start_offset
FROM o WHERE start_offset < 20000""",
    // Mirrors Dedup.contaminated: shared distinct 5-gram shingles between
    // the held-out eval slice and the training slice.
    "q55_decontaminate" ->
      s"""WITH $dkTok,
  shl AS (SELECT doc_id, CASE WHEN len(toks) >= 5
       THEN list_distinct(list_transform(range(0, len(toks)-4),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]))
       ELSE [text] END AS sh FROM tok),
  shu AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
  ev AS (SELECT DISTINCT shingle FROM shu WHERE doc_id % 97 = 0),
  tr AS (SELECT doc_id, shingle FROM shu WHERE doc_id % 97 <> 0)
SELECT t.doc_id, count(*) AS n_shared
FROM tr t JOIN ev e ON t.shingle = e.shingle
GROUP BY t.doc_id""",
    // Mirrors Similarity.bqTopK end-to-end: 63-bit sign sketches over the
    // shared sha256("rp:t:i") hyperplanes (dkRpWn(63)), Hamming shortlist of
    // 256 via bit_count(xor) with (hd asc, vec_id asc) tie order, exact
    // cosine re-rank of the shortlist. The JVM decides each bit with
    // `dot >= 0.0` (false for NaN); DuckDB orders NaN above all values, so
    // NaN is guarded explicitly to keep the twins bit-identical. Shared by
    // q59 (incremental upsert): per-vector sketches make upsert == rebuild.
    "q56_ann_bq" -> bqTopKOracle(),
    "q59_bq_upsert" -> bqTopKOracle(),
    // the q291 lifecycle + erasure: the Hamming scan sees only surviving
    // stored codes, so the shortlist (and hence the re-rank) excludes them
    "q294_ann_bq_deleted" -> bqTopKOracle("vec_id % 5 <> 3"),
    // Mirrors Engine.hybridSearchMany: q32's vector-leg machinery, ONE
    // BM25 stats/tf pass over the union of every query's keywords, per-query
    // scores in each query's own term order (the f64 addition order both
    // engines share), RRF fusion keyed on (query, id).
    "q57_hybrid_batch" -> {
      val qTerms = QBatch.map { q =>
        q -> q.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
          .map(_.replaceAll("[^a-z0-9]", "")).filter(_.nonEmpty).distinct
      }
      val allTerms = qTerms.flatMap(_._2).distinct
      val idx = allTerms.zipWithIndex.toMap
      val dfCols = allTerms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
      }.mkString(", ")
      val tfCols = allTerms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$i"
      }.mkString(", ")
      val lexSelects = qTerms.filter(_._2.nonEmpty).map { case (q, ts) =>
        val score = ts.map { t =>
          val i = idx(t)
          s"""(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
              * (tf_$i * 2.2) / (tf_$i + 1.2 * (0.25 + 0.75 * dl / avgdl)))"""
        }.mkString(" + ")
        s"SELECT '${sqlLit(q)}' AS query, id, round($score, 6) AS bm25 FROM ctf CROSS JOIN cstats"
      }.mkString("\n    UNION ALL ")
      val valuesList = QBatch.map(q => s"('${sqlLit(q)}')").mkString(", ")
      s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
  qset AS (SELECT query FROM (VALUES $valuesList) AS t(query)),
  qv AS (SELECT query, ${dkVec("sha256(query)")} AS qv FROM qset),
  vscored AS (SELECT q.query, c.id,
      ${dkDot("c.emb", "q.qv")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot("q.qv", "q.qv")})) AS score
    FROM cvec c CROSS JOIN qv q WHERE length(c.text) > 0),
  vr AS (SELECT query, id,
      CAST(row_number() OVER (PARTITION BY query ORDER BY score DESC, id ASC) AS INTEGER) AS rnk_vec
    FROM vscored),
  vec AS (SELECT query, id, rnk_vec FROM vr WHERE rnk_vec <= 20),
  ctok AS (SELECT id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM chunks),
  ct AS (SELECT id, toks, len(toks) AS dl FROM ctok),
  cstats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM ct),
  ctf AS (SELECT id, dl, $tfCols FROM ct),
  lex0 AS ($lexSelects),
  lexr AS (SELECT query, id,
      CAST(row_number() OVER (PARTITION BY query ORDER BY bm25 DESC, id ASC) AS INTEGER) AS rnk_lex
    FROM lex0 WHERE bm25 > 0),
  lex AS (SELECT query, id, rnk_lex FROM lexr WHERE rnk_lex <= 20),
  legs AS (SELECT query, id, rnk_vec, CAST(NULL AS INTEGER) AS rnk_lex FROM vec
           UNION ALL SELECT query, id, CAST(NULL AS INTEGER) AS rnk_vec, rnk_lex FROM lex),
  fused AS (SELECT query, id, min(rnk_vec) AS rnk_vec, min(rnk_lex) AS rnk_lex,
      coalesce(1.0 / (60 + min(rnk_vec)), 0.0) + coalesce(1.0 / (60 + min(rnk_lex)), 0.0) AS rrf
    FROM legs GROUP BY query, id),
  r AS (SELECT query, id, rnk_vec, rnk_lex, rrf,
      CAST(row_number() OVER (PARTITION BY query ORDER BY rrf DESC, id ASC) AS INTEGER) AS "rank"
    FROM fused)
SELECT query, "rank", id, rnk_vec, rnk_lex, round(rrf, 6) AS rrf FROM r WHERE "rank" <= 5"""
    },
    // q06's pipeline with the metadata predicate applied pre-scoring
    "q60_filtered_search" ->
      s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks WHERE doc_id % 3 = 0),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
  q AS (SELECT ${dkVec("sha256('transfer credits')")} AS qv),
  scored AS (SELECT c.id, c.source, c.text,
      ${dkDot("c.emb", "q.qv")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot("q.qv", "q.qv")})) AS score
    FROM cvec c CROSS JOIN q WHERE length(c.text) > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS INTEGER) AS rnk,
       id, source, text, round(score, 4) AS score
FROM scored ORDER BY score DESC, id ASC LIMIT 5""",
    "q61_diverse_search" ->
      s"""$dkScored,
  best AS (SELECT id, source, score,
      row_number() OVER (PARTITION BY source ORDER BY score DESC, id ASC) AS rn
    FROM scored)
SELECT id, source, round(score, 4) AS score
FROM best WHERE rn = 1 ORDER BY score DESC, id ASC LIMIT 5""",
    "q62_range_search" ->
      s"""$dkScored
SELECT id, source, round(score, 4) AS score FROM scored WHERE score >= 0.3""",
    "q63_facet_counts" ->
      s"""$dkScored,
  top AS (SELECT * FROM scored ORDER BY score DESC, id ASC LIMIT 100)
SELECT source, count(*) AS n_hits, round(max(score), 4) AS best_score
FROM top GROUP BY source""",
    "q64_delete_source" ->
      s"""WITH $dkChunks
SELECT source, count(*) AS vector_count FROM chunks
WHERE source NOT IN ('src3', 'src7') GROUP BY source""",
    // MMR: the five greedy selection steps unrolled — each step picks the
    // argmax of lambda*rel - (1-lambda)*max(0, max sim to selected) over the
    // not-yet-selected shortlist, ties to the lower id; the float constants
    // interpolate from the SAME Scala doubles the operator computes with
    // (1.0 - 0.7 is 0.30000000000000004 in binary, not 0.3)
    "q65_mmr_rerank" -> {
      val lam = 0.7
      val om = 1.0 - lam
      // pairwise sims as a plain join table: DuckDB cannot capture
      // correlated outer columns inside list-lambda expressions, so the
      // greedy steps look sims up by id instead of recomputing dots inline
      val simAB = s"${dkDot("a.emb", "b.emb")} / (sqrt(${dkDot("a.emb", "a.emb")}) * sqrt(${dkDot("b.emb", "b.emb")}))"
      val steps = (2 to 5).map { i =>
        val prev = (1 until i).map(j => s"SELECT id FROM s$j").mkString(" UNION ALL ")
        s"""  s$i AS (SELECT c.id, c.source, c.score,
      $lam * c.score - $om * greatest(0.0,
        (SELECT max(sim) FROM sims WHERE sims.ia = c.id AND sims.ib IN ($prev))) AS mmr
    FROM short c WHERE c.id NOT IN ($prev)
    ORDER BY mmr DESC, id ASC LIMIT 1)"""
      }.mkString(",\n")
      val sel = (1 to 5).map(i =>
        s"""SELECT $i AS "rank", id, source, score, mmr FROM s$i""")
        .mkString("\n  UNION ALL ")
      s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
  qq AS (SELECT ${dkVec("sha256('transfer credits')")} AS qv),
  scored AS (SELECT c.id, c.source, c.emb,
      ${dkDot("c.emb", "qq.qv")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot("qq.qv", "qq.qv")})) AS score
    FROM cvec c CROSS JOIN qq WHERE length(c.text) > 0),
  short AS (SELECT * FROM scored ORDER BY score DESC, id ASC LIMIT 20),
  sims AS (SELECT a.id AS ia, b.id AS ib, $simAB AS sim
    FROM short a JOIN short b ON a.id <> b.id),
  s1 AS (SELECT id, source, score, $lam * score AS mmr FROM short
    ORDER BY mmr DESC, id ASC LIMIT 1),
$steps,
  all_sel AS ($sel)
SELECT CAST("rank" AS INTEGER) AS "rank", id, source,
       round(score, 4) AS relevance, round(mmr, 6) AS mmr FROM all_sel"""
    },
    "q66_search_page" ->
      s"""$dkScored,
  r AS (SELECT id, source, score,
      row_number() OVER (ORDER BY score DESC, id ASC) AS rn FROM scored)
SELECT id, source, round(score, 4) AS score
FROM r WHERE rn BETWEEN 11 AND 15""",
    // q44's candidate CTEs composed with q46's int8 scoring: the coarse
    // stage's (table, bucket) equi-join prunes, the fine stage scores the
    // survivors with quantized codes only
    "q67_ann_rp_sq8" -> {
      val codes = (e: String) =>
        s"""list_transform($e, x -> CASE WHEN sc <= 0.0 OR isnan(sc) OR isinf(sc)
            THEN CAST(0 AS TINYINT)
            ELSE CAST(round_even(CAST(x AS DOUBLE) / sc, 0) AS TINYINT) END)"""
      val idot = (a: String, b: String) =>
        s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS BIGINT) * CAST($b[i] AS BIGINT)))"
      s"""WITH $dkRpW,
  qset AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
  ${dkRpBuckets("ib", "embeddings", "vec_id", "embedding")},
  ${dkRpBuckets("qb", "qset", "query_id", "embedding")},
  cand AS (SELECT DISTINCT qb.query_id, ib.vec_id FROM ib JOIN qb
    ON ib.t = qb.t AND ib.bk = qb.bk),
  qz AS (SELECT vec_id,
      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc,
      embedding FROM embeddings),
  ic AS (SELECT vec_id, ${codes("embedding")} AS codes FROM qz),
  qc AS (SELECT vec_id AS query_id, codes AS qcodes FROM ic WHERE vec_id < 5),
  s AS (SELECT c.query_id, c.vec_id,
      ${idot("e.codes", "q.qcodes")} AS dot,
      ${idot("e.codes", "e.codes")} AS na,
      ${idot("q.qcodes", "q.qcodes")} AS nb
    FROM cand c JOIN ic e ON c.vec_id = e.vec_id
                JOIN qc q ON c.query_id = q.query_id),
  sc2 AS (SELECT query_id, vec_id,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0
           ELSE dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
      score FROM sc2)
SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3"""
    },
    // q32's batch scoring + q07's canonical per-query serialization
    "q73_response_batch" -> {
      val valuesList = QBatch.map(q => s"('${sqlLit(q)}')").mkString(", ")
      s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
  qs AS (SELECT query FROM (VALUES $valuesList) AS t(query)),
  qv AS (SELECT query, ${dkVec("sha256(query)")} AS qv FROM qs),
  scored AS (SELECT q.query, c.id, c.source, c.text,
      ${dkDot("c.emb", "q.qv")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot("q.qv", "q.qv")})) AS score
    FROM cvec c CROSS JOIN qv q WHERE length(c.text) > 0),
  r AS (SELECT query, id, source, text, score,
      row_number() OVER (PARTITION BY query ORDER BY score DESC, id ASC) AS rn FROM scored),
  top AS (SELECT * FROM r WHERE rn <= 5)
SELECT query,
  coalesce(string_agg(
    id || chr(1) || source || chr(1) ||
      CAST(CAST(round(score, 4) AS DECIMAL(10,4)) AS VARCHAR) || chr(1) || text,
    chr(2) ORDER BY score DESC, id ASC), '') AS chunks,
  count(*) AS total_results,
  coalesce(string_agg('[Source: ' || source || ']' || chr(10) || text,
    chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY score DESC, id ASC), '') AS context
FROM top GROUP BY query"""
    },
    // chunk rows are well-formed by construction (dim 1024, non-empty text,
    // unique ids), so the expected counters are the two planted defects
    "q74_index_fsck" ->
      s"""WITH $dkChunks,
  all_rows AS (SELECT id, source, text, 1024 AS edim FROM chunks
    UNION ALL SELECT * FROM (VALUES
      ('src0_0_0', 'src0', '', 1024),
      ('zz_bad_dim', 'srcZ', 'x', 10)) AS t(id, source, text, edim))
SELECT count(*) AS n_rows,
  count(DISTINCT id) AS n_distinct_ids,
  count(*) - count(DISTINCT id) AS n_duplicate_ids,
  CAST(sum(CASE WHEN edim != 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_embeddings,
  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_source
FROM all_rows""",
    // mean(2 smallest-id chunks) - mean(largest-id chunk) as the query
    // vector; per-dim sums over 2 rows are order-free in f64 (addition
    // commutes), so the oracle's grouped sums match the driver-side loop
    "q75_recommend" ->
      s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
  pos AS (SELECT id, emb FROM cvec ORDER BY id ASC LIMIT 2),
  neg AS (SELECT id, emb FROM cvec ORDER BY id DESC LIMIT 1),
  ex AS (SELECT id FROM pos UNION ALL SELECT id FROM neg),
  pm AS (SELECT i.i AS i, sum(CAST(p.emb[i.i] AS DOUBLE)) / 2.0 AS v
    FROM pos p CROSS JOIN range(1, 1025) i(i) GROUP BY i.i),
  nm AS (SELECT i.i AS i, sum(CAST(n.emb[i.i] AS DOUBLE)) / 1.0 AS v
    FROM neg n CROSS JOIN range(1, 1025) i(i) GROUP BY i.i),
  qv AS (SELECT list(pm.v - nm.v ORDER BY pm.i) AS q FROM pm JOIN nm ON pm.i = nm.i),
  scored AS (SELECT c.id, c.source,
      ${dkDot("c.emb", "qv.q")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot("qv.q", "qv.q")})) AS score
    FROM cvec c CROSS JOIN qv
    WHERE length(c.text) > 0 AND c.id NOT IN (SELECT id FROM ex))
SELECT id, source, round(score, 4) AS score
FROM scored ORDER BY score DESC, id ASC LIMIT 5""",
    // Weighted-blend fusion: q51's two-leg machinery with per-leg min-max
    // normalization instead of ranks; 0.5 blend constants mirror the Scala
    // doubles exactly
    "q70_hybrid_blend" -> {
      val terms = Seq("transfer", "credits")
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      s"""$dkScored,
  vec0 AS (SELECT id, score AS s FROM scored ORDER BY score DESC, id LIMIT 20),
  vstat AS (SELECT min(s) AS mn, max(s) AS mx FROM vec0),
  vec AS (SELECT id, CASE WHEN v.mx > v.mn THEN (s - v.mn) / (v.mx - v.mn) ELSE 1.0 END AS nvec
    FROM vec0 CROSS JOIN vstat v),
  ctok AS (SELECT id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM chunks),
  ct AS (SELECT id, toks, len(toks) AS dl FROM ctok),
  cstats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM ct),
  ctf AS (SELECT id, dl, $tfCols FROM ct),
  lex0 AS (SELECT id, round($score, 6) AS bm25 FROM ctf CROSS JOIN cstats),
  lex1 AS (SELECT id, bm25 FROM lex0 WHERE bm25 > 0 ORDER BY bm25 DESC, id LIMIT 20),
  lstat AS (SELECT min(bm25) AS lmn, max(bm25) AS lmx FROM lex1),
  lex AS (SELECT id, CASE WHEN l.lmx > l.lmn THEN (bm25 - l.lmn) / (l.lmx - l.lmn) ELSE 1.0 END AS nlex
    FROM lex1 CROSS JOIN lstat l),
  legs AS (SELECT id, nvec, CAST(NULL AS DOUBLE) AS nlex FROM vec
           UNION ALL SELECT id, CAST(NULL AS DOUBLE) AS nvec, nlex FROM lex),
  fused AS (SELECT id, max(nvec) AS nvec, max(nlex) AS nlex,
      0.5 * coalesce(max(nvec), 0.0) + 0.5 * coalesce(max(nlex), 0.0) AS blend
    FROM legs GROUP BY id)
SELECT id, round(nvec, 6) AS nvec, round(nlex, 6) AS nlex, round(blend, 6) AS blend
FROM fused ORDER BY blend DESC, id LIMIT 5"""
    },
    "q71_snippets" -> {
      val terms = Seq("transfer", "credits")
      val termCase = terms.map(t =>
        s"WHEN strpos(lower(text), '$t') > 0 THEN '$t'").mkString(" ")
      val posCase = terms.map(t =>
        s"WHEN strpos(lower(text), '$t') > 0 THEN strpos(lower(text), '$t')").mkString(" ")
      s"""$dkScored,
  top AS (SELECT id, text, score FROM scored ORDER BY score DESC, id LIMIT 5),
  r AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, id) AS INTEGER) AS rnk, id, text FROM top),
  m AS (SELECT rnk, id, text,
      CASE $termCase ELSE NULL END AS term,
      CASE $posCase ELSE NULL END AS pos FROM r)
SELECT rnk, id, term, CAST(pos AS INTEGER) AS pos,
  CASE WHEN pos IS NULL THEN '' ELSE substring(text, CAST(greatest(1, pos - 40) AS INTEGER), 120) END AS snippet
FROM m"""
    },
    "q72_top_tokens" ->
      """WITH tok AS (SELECT doc_id,
      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
    FROM documents),
  agg AS (SELECT token, count(*) AS n_occurrences,
      count(DISTINCT doc_id) AS n_docs FROM tok GROUP BY token)
SELECT token, n_occurrences, n_docs FROM agg
ORDER BY n_occurrences DESC, token ASC LIMIT 20""",
    // Deterministic KMeans unrolled: the 3 Lloyd iterations as CTE pairs
    // (assign a_t vs cents_{t-1}; fixed-point means -> cents_t), then a
    // final assignment. Integer sums make the per-dim means order-free, so
    // the SQL reproduces the Scala trajectory bit-for-bit.
    "q68_det_kmeans" -> detKmeansOracle(finalSelect =
      "SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM a_fin"),
    // Product quantization unrolled: 16 independent 4-dim Lloyd chains (the
    // q68 recipe per subspace slice), codes + per-query ADC lookup tables
    // assembled as ordered lists so the ADC sum folds in the same subspace
    // order as the Spark aggregate, then shortlist + exact-cosine re-rank.
    "q76_ann_pq" -> pqOracle,
    // IVF-PQ: the q69 probe chain composed with the q76 ADC chain over
    // candidate cells only
    "q80_ann_ivfpq" -> ivfPqOracle,
    // Residual IVF-PQ (IVFADC): PQ chains over rv = nv - cents3(cell)
    "q90_ann_ivfpq_res" -> ivfPqResidualOracle,
    // Cross-corpus near-dup: q45's bucket machinery with two sides (the 10%
    // "incoming" slice vs the rest), exact verification, no a<b constraint
    "q81_cross_dedup" ->
      s"""WITH $dkRpW,
  ${dkRpBuckets("nb", "(SELECT * FROM embeddings WHERE vec_id % 10 = 0)", "vec_id", "embedding")},
  ${dkRpBuckets("cb", "(SELECT * FROM embeddings WHERE vec_id % 10 <> 0)", "vec_id", "embedding")},
  cand AS (SELECT DISTINCT x.vec_id AS vec_new, y.vec_id AS vec_old
    FROM nb x JOIN cb y ON x.t = y.t AND x.bk = y.bk),
  s AS (SELECT c.vec_new, c.vec_old,
    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) AS nb2
    FROM cand c JOIN embeddings a ON c.vec_new = a.vec_id
                JOIN embeddings b ON c.vec_old = b.vec_id),
  sc AS (SELECT vec_new, vec_old,
    CASE WHEN na = 0 OR nb2 = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb2)) END AS score FROM s)
SELECT vec_new, vec_old, round(score, 4) AS score FROM sc WHERE score >= 0.3""",
    // Unigram surprisal: corpus token counts as the LM, -ln(p) per
    // occurrence summed fixed-point (the detKMeans integer-mean trick)
    "q82_surprisal" ->
      s"""WITH $dkTok,
  occ AS (SELECT doc_id, unnest(toks) AS token FROM tok),
  lm AS (SELECT token, count(*) AS cnt FROM occ GROUP BY token),
  tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM lm),
  fx AS (SELECT token,
      CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1073741824.0 + 0.5) AS BIGINT) AS sfx
    FROM lm CROSS JOIN tot),
  per AS (SELECT o.doc_id, count(*) AS n_tokens, CAST(sum(f.sfx) AS BIGINT) AS ssfx
    FROM occ o JOIN fx f USING (token) GROUP BY o.doc_id)
SELECT doc_id, n_tokens, (CAST(ssfx AS DOUBLE) / n_tokens) / 1073741824.0 AS surprisal
FROM per""",
    // Table profile: one aggregate row, unpivoted per column via UNION ALL
    "q84_profile" -> {
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      val aggs = cols.zipWithIndex.map { case (c, i) =>
        s"count($c) AS n$i, count(DISTINCT $c) AS d$i, " +
          s"CAST(min($c) AS VARCHAR) AS mn$i, CAST(max($c) AS VARCHAR) AS mx$i"
      }.mkString(", ")
      val unions = cols.zipWithIndex.map { case (c, i) =>
        s"""SELECT '$c' AS "column", total - n$i AS n_nulls, d$i AS n_distinct,
        mn$i AS min_value, mx$i AS max_value FROM a"""
      }.mkString(" UNION ALL ")
      s"""WITH a AS (SELECT count(*) AS total, $aggs FROM lineitem)
$unions"""
    },
    // Moving average: integer fixed-point content makes the frame sum
    // association-free; identical (ts, event_id) frame order on both sides
    "q85_moving_avg" ->
      """SELECT event_id, user_id, (CAST(s AS DOUBLE) / n) / 1048576.0 AS mov_avg
FROM (SELECT event_id, user_id,
    sum(CAST(floor(value * 1048576.0 + 0.5) AS BIGINT)) OVER w AS s,
    count(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))""",
    "q86_rollup" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (source, lang)""",
    "q87_pivot" -> {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val cells = langs.map(l => s"count(*) FILTER (lang = '$l') AS $l").mkString(", ")
      s"SELECT source, $cells FROM documents GROUP BY source"
    },
    // Shared spans: q55's gram machinery at n=20 with a df cap, self-join,
    // pair counts
    "q89_shared_spans" ->
      s"""WITH $dkTok,
  shl AS (SELECT doc_id, CASE WHEN len(toks) >= 20
       THEN list_distinct(list_transform(range(0, len(toks)-19),
              i -> ${(1 to 20).map(j => s"toks[i+$j]").mkString(" || ' ' || ")}))
       ELSE [text] END AS sh FROM tok),
  shu AS (SELECT doc_id, unnest(sh) AS span FROM shl),
  ok AS (SELECT span FROM (SELECT span, count(*) AS df FROM shu GROUP BY span) WHERE df <= 100),
  kept AS (SELECT s.doc_id, s.span FROM shu s JOIN ok USING (span)),
  pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_spans
    FROM kept a JOIN kept b ON a.span = b.span AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(n_shared_spans AS BIGINT) AS n_shared_spans
FROM pairs WHERE n_shared_spans >= 1""",
    "q88_tpch_q5" ->
      s"""SELECT n_name,
  CAST(sum($centsE * (100 - $centsD)) AS BIGINT) AS revenue_e4,
  count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
GROUP BY n_name""",
    "q91_cube" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (source, lang)""",
    // Funnel: min time per step, strictly after the previous step's time
    "q92_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
  s1 AS (SELECT user_id, min(t) AS t FROM e WHERE event_type = 'view' GROUP BY user_id),
  s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
         WHERE e.event_type = 'click' AND e.t > s1.t GROUP BY e.user_id),
  s3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s2 USING (user_id)
         WHERE e.event_type = 'purchase' AND e.t > s2.t GROUP BY e.user_id)
SELECT user_id, 1 AS step, t AS step_ts FROM s1
UNION ALL SELECT user_id, 2, t FROM s2
UNION ALL SELECT user_id, 3, t FROM s3""",
    // Retention: cohort = week index of a user's min event time (mirrors the
    // Spark side exactly rather than relying on week-of-min = min-of-week)
    "q93_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
  w AS (SELECT user_id,
          CAST(floor(date_diff('day', DATE '2024-01-01', CAST(t AS DATE)) / 7.0) AS BIGINT) AS w FROM e),
  f AS (SELECT user_id,
          CAST(floor(date_diff('day', DATE '2024-01-01', CAST(min(t) AS DATE)) / 7.0) AS BIGINT) AS cohort_week
        FROM e GROUP BY user_id)
SELECT f.cohort_week, w.w - f.cohort_week AS week_offset, count(DISTINCT w.user_id) AS n_users
FROM w JOIN f USING (user_id) GROUP BY 1, 2""",
    "q94_gap_fill" ->
      """WITH e AS (SELECT user_id,
          CAST(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_idx
        FROM events),
  c AS (SELECT user_id, day_idx, count(*) AS n FROM e GROUP BY 1, 2),
  s AS (SELECT user_id, min(day_idx) AS d0, max(day_idx) AS d1 FROM c GROUP BY user_id),
  d AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day_idx FROM s)
SELECT d.user_id, d.day_idx, COALESCE(c.n, 0) AS n_events
FROM d LEFT JOIN c ON d.user_id = c.user_id AND d.day_idx = c.day_idx""",
    // Gaps-and-islands: run id = difference of the two row_numbers; runs
    // collapse to intervals; lead() closes them. eid0 is the deterministic
    // tie-break for equal valid_from values; g2 drops zero-width runs
    // (same-user ts collisions) keeping the max-eid0 run per (user_id,
    // valid_from) — see EventAnalytics.stateHistory
    "q95_state_history" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t, event_id FROM events),
  r AS (SELECT user_id, event_type, t, event_id,
          row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        - row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS run_id FROM e),
  g AS (SELECT user_id, event_type, run_id, min(t) AS valid_from, min(event_id) AS eid0
        FROM r GROUP BY 1, 2, 3),
  g2 AS (SELECT user_id, event_type, valid_from, eid0 FROM (
          SELECT user_id, event_type, valid_from, eid0,
            row_number() OVER (PARTITION BY user_id, valid_from ORDER BY eid0 DESC) AS rk
          FROM g) WHERE rk = 1)
SELECT user_id, event_type, valid_from,
  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, eid0) AS valid_to
FROM g2""",
    // Z-scores from exact integer moments; one shared double expression tree
    "q96_zscore" ->
      """WITH f AS (SELECT event_id, event_type, CAST(floor(value * 1024.0 + 0.5) AS BIGINT) AS fx FROM events),
  m AS (SELECT event_type, count(*) AS n, sum(fx) AS s, sum(fx * fx) AS ssq FROM f GROUP BY event_type),
  sd AS (SELECT f.event_id, f.event_type, fx, n, s,
          sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS sd
        FROM f JOIN m USING (event_type)),
  z AS (SELECT event_id, event_type,
          CASE WHEN sd <= 0.0 OR isnan(sd) THEN CAST(NULL AS DOUBLE)
               ELSE round((CAST(fx AS DOUBLE) - CAST(s AS DOUBLE) / n) / sd, 6) END AS z
        FROM sd)
SELECT event_id, event_type, z FROM z WHERE abs(z) > 2.0""",
    // Blocking is Spark-side machinery; the oracle states the declarative
    // contract directly: all pairs with similar length AND a close prefix
    "q97_lev_pairs" ->
      """WITH d AS (SELECT doc_id, length(text) AS len, substr(text, 1, 60) AS pfx FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS lev
FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 5
WHERE levenshtein(a.pfx, b.pfx) <= 5""",
    "q98_tfidf" -> dkTfidfSql(Seq("transfer", "credit", "university")),
    // q98's oracle verbatim — the indexed path must return the identical
    // all-docs frame (the q110-vs-q48 equivalence convention)
    "q249_tfidf_indexed" -> dkTfidfSql(Seq("transfer", "credit", "university")),
    // Q12 shape: one CASE-WHEN split aggregate over the order⋈lineitem
    // join, exact integer counts
    "q252_tpch_q12" ->
      """SELECT l_returnflag,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE year(l_shipdate) = 1996
GROUP BY 1 ORDER BY 1""",
    // Mutual information: same cell/marginal CTEs as q118's chi-square,
    // one ln per observed cell over exact integer ratios
    "q253_mutual_info" ->
      """WITH c AS (SELECT source AS a, lang AS b, count(*) AS o
    FROM documents GROUP BY 1, 2),
  r AS (SELECT a, sum(o) AS ra FROM c GROUP BY 1),
  cl AS (SELECT b, sum(o) AS cb FROM c GROUP BY 1),
  t AS (SELECT sum(o) AS n FROM c)
SELECT a AS source, b AS lang, o,
  round(CAST(o AS DOUBLE) / n
    * ln(CAST(o AS DOUBLE) * n / (CAST(ra AS DOUBLE) * cb)), 6) AS mi_cell
FROM c JOIN r USING (a) JOIN cl USING (b) CROSS JOIN t""",
    // Q2 shape: correlated min-cost subquery written as the plain
    // decorrelated CTE chain; integer cents, unique total order under the
    // top-100 (s_name supplier-unique, p_partkey splits same-supplier rows)
    "q250_tpch_q2" ->
      """WITH supreg AS (SELECT s_suppkey, s_name, s_acctbal, n_name AS nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
  dims AS (SELECT p_partkey, p_brand FROM part
    WHERE p_type = 'STANDARD' AND p_size <= 15),
  cost AS (SELECT l_partkey, l_suppkey,
      sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
    FROM lineitem JOIN dims ON l_partkey = p_partkey
    WHERE l_suppkey IN (SELECT s_suppkey FROM supreg)
    GROUP BY 1, 2),
  m AS (SELECT l_partkey AS pk, min(cost_c) AS min_c FROM cost GROUP BY 1)
SELECT s_acctbal, s_name, nation, c.l_partkey AS p_partkey, p_brand,
  CAST(cost_c AS BIGINT) AS cost_c
FROM cost c JOIN m ON c.l_partkey = m.pk AND c.cost_c = m.min_c
JOIN supreg ON c.l_suppkey = s_suppkey
JOIN dims ON c.l_partkey = dims.p_partkey
ORDER BY s_acctbal DESC, nation, s_name, p_partkey
LIMIT 100""",
    // Q20 shape: nested-IN chain as CTEs; mean-relative cross-multiplied
    // integer threshold (qty*n*5 > total*4 i.e. above 0.8x mean)
    "q251_tpch_q20" ->
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
  sh AS (SELECT l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty
    FROM lineitem JOIN pp ON l_partkey = p_partkey
    WHERE year(l_shipdate) = 1995 GROUP BY 1),
  tot AS (SELECT sum(qty) AS tot_q, count(*) AS n_supp FROM sh),
  qual AS (SELECT l_suppkey, CAST(qty AS BIGINT) AS qty FROM sh, tot
    WHERE qty * n_supp * 5 > tot_q * 4)
SELECT s_suppkey, s_name, n_name AS nation, qty
FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  JOIN qual ON s_suppkey = l_suppkey
WHERE r_name = 'ASIA'
ORDER BY s_name""",
    // Bigram LM: c12/c1 exact integer counts, one fixed-point ln per
    // DISTINCT bigram (mirrors TextAnalysis.bigramSurprisal)
    "q99_bigram_lm" ->
      s"""WITH $dkTok,
  o AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
      SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
        ELSE list_transform(range(2, len(toks) + 1),
               i -> struct_pack(w1 := toks[i-1], w2 := toks[i])) END) AS bg
      FROM tok)),
  b2 AS (SELECT w1, w2, count(*) AS c12 FROM o GROUP BY 1, 2),
  b1 AS (SELECT w1, sum(c12) AS c1 FROM b2 GROUP BY 1),
  vv AS (SELECT count(DISTINCT u.t) AS v FROM (SELECT unnest(toks) AS t FROM tok) u),
  fx AS (SELECT b2.w1, b2.w2,
      CAST(floor(-ln((CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v))
        * 1073741824.0 + 0.5) AS BIGINT) AS sfx
    FROM b2 JOIN b1 USING (w1) CROSS JOIN vv)
SELECT o.doc_id, count(*) AS n_bigrams,
  (CAST(sum(sfx) AS DOUBLE) / count(*)) / 1073741824.0 AS bigram_surprisal
FROM o JOIN fx USING (w1, w2) GROUP BY o.doc_id""",
    // c-TF-IDF: per-class token counts x smoothed inverse class frequency;
    // the row_number window is the oracle twin of GroupedTopK's ranks
    "q100_class_topics" ->
      s"""WITH $dkTok,
  occ AS (SELECT d.lang AS cls, unnest(toks) AS token
          FROM tok JOIN documents d USING (doc_id)),
  tfc AS (SELECT cls, token, count(*) AS tf FROM occ GROUP BY 1, 2),
  dfc AS (SELECT token, count(*) AS n_cls FROM tfc GROUP BY 1),
  nc AS (SELECT count(DISTINCT lang) AS total_cls FROM documents),
  scored AS (SELECT cls, token, tf,
      round(CAST(tf AS DOUBLE)
        * ln((CAST(total_cls AS DOUBLE) + 1.0) / (CAST(n_cls AS DOUBLE) + 1.0) + 1.0),
        6) AS score
    FROM tfc JOIN dfc USING (token) CROSS JOIN nc),
  r AS (SELECT cls, token, tf, score,
      CAST(row_number() OVER (PARTITION BY cls ORDER BY score DESC, token ASC) AS INTEGER) AS "rank"
    FROM scored)
SELECT cls AS lang, token, tf, score, "rank" FROM r WHERE "rank" <= 5""",
    "q101_zorder_zonemap" -> {
      val terms = (0 until 21).flatMap(i => Seq(
        s"((l_partkey >> $i) & 1) * ${1L << (2 * i)}",
        s"((l_suppkey >> $i) & 1) * ${1L << (2 * i + 1)}"))
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
    ${terms.mkString("(", " + ", ")")} AS zval FROM lineitem)
SELECT zval // 4096 AS bucket, count(*) AS n_rows,
  min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey,
  min(l_suppkey) AS min_l_suppkey, max(l_suppkey) AS max_l_suppkey
FROM z GROUP BY 1"""
    },
    // The bloom pre-filter is exact-verified Spark-side machinery; the
    // declarative contract is the plain anti-join
    "q102_bloom_decon" ->
      """SELECT doc_id, source FROM documents
WHERE doc_id % 7 <> 0
  AND substr(text, 1, 60) NOT IN
      (SELECT substr(text, 1, 60) FROM documents WHERE doc_id % 7 = 0)""",
    // A-ES keys: u from the first 3 bytes of sha256('ws:' || doc_id),
    // identical double expression on both sides; ranks mirror GroupedTopK
    "q103_weighted_sample" -> {
      val h = "sha256('ws:' || CAST(doc_id AS VARCHAR))"
      val v = s"((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) * 256 + ${dkByte(h, "2")})"
      s"""WITH b AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS w,
    (CAST($v AS BIGINT) + 0.5) / 16777216.0 AS u
  FROM documents WHERE n_chars > 0),
  s AS (SELECT source, doc_id, -ln(u) / w AS es_key FROM b),
  r AS (SELECT source, doc_id, es_key,
    CAST(row_number() OVER (PARTITION BY source ORDER BY es_key ASC, doc_id ASC) AS INTEGER) AS "rank"
  FROM s)
SELECT source, doc_id, round(es_key, 6) AS es_key, "rank" FROM r WHERE "rank" <= 5"""
    },
    // PageRank unrolled 3 iterations, pure integer ops (// is floor-div on
    // the positive fixed-point values, matching Spark's DIV)
    "q104_pagerank" -> {
      val S = "CAST(1073741824 AS BIGINT)"
      def iter(i: Int, prev: String) =
        s"""c$i AS (SELECT u.dst AS node, r.r // r.deg AS c FROM und u JOIN $prev r ON u.src = r.node),
  s$i AS (SELECT node, sum(c) AS sc FROM c$i GROUP BY 1),
  r$i AS (SELECT d.node, d.deg,
      (15 * $S) // 100 + (85 * COALESCE(s.sc, 0)) // 100 AS r
    FROM deg d LEFT JOIN s$i s ON d.node = s.node)"""
      s"""WITH e0 AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
      's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem),
  und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
  deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
  r0 AS (SELECT node, deg, $S AS r FROM deg),
  ${iter(1, "r0")},
  ${iter(2, "r1")},
  ${iter(3, "r2")}
SELECT node, deg, CAST(r AS BIGINT) AS rank_fx FROM r3"""
    },
    "q105_dq_audit" ->
      """SELECT 'lineitem_orphan_orderkey' AS rule, count(*) AS n_violations
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL SELECT 'orders_orphan_custkey', count(*)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL SELECT 'lineitem_nonpositive_qty', count(*)
  FROM lineitem WHERE l_quantity <= 0
UNION ALL SELECT 'lineitem_discount_range', count(*)
  FROM lineitem WHERE l_discount < 0 OR l_discount > 1
UNION ALL SELECT 'part_duplicate_pk', count(*)
  FROM (SELECT p_partkey FROM part GROUP BY 1 HAVING count(*) > 1)
UNION ALL SELECT 'orders_null_custkey', count(*)
  FROM orders WHERE o_custkey IS NULL""",
    "q106_daily_active" ->
      """WITH e AS (SELECT user_id,
      CAST(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d
    FROM events),
  daily AS (SELECT d, count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM e GROUP BY 1),
  nu AS (SELECT d, count(*) AS n_new FROM (SELECT user_id, min(d) AS d FROM e GROUP BY 1) GROUP BY 1)
SELECT daily.d AS day_idx, n_events, n_users, COALESCE(n_new, 0) AS n_new_users,
  CAST(sum(COALESCE(n_new, 0)) OVER (ORDER BY daily.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
FROM daily LEFT JOIN nu ON daily.d = nu.d""",
    "q107_histogram" ->
      """SELECT CAST(floor(((value) - 0.0) / 25.0) AS BIGINT) AS bin, count(*) AS n
FROM events GROUP BY 1""",
    "q108_corr" -> {
      val vars = Seq(
        "qty" -> "CAST(round(l_quantity) AS BIGINT)",
        "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
        "discount" -> "CAST(round(l_discount * 100) AS BIGINT)",
        "tax" -> "CAST(round(l_tax * 100) AS BIGINT)")
      val k = vars.size
      val cols = vars.zipWithIndex.map { case ((_, e), i) => s"$e AS v$i" }.mkString(", ")
      val sums = vars.indices.map(i => s"sum(v$i) AS s$i").mkString(", ")
      val prods = (for (i <- 0 until k; j <- i until k)
        yield s"sum(v$i * v$j) AS p${i}_$j").mkString(", ")
      val pairs = (for (i <- 0 until k; j <- (i + 1) until k) yield {
        val d = s"(n * p${i}_$i - CAST(s$i AS DOUBLE) * s$i)" +
          s" * (n * p${j}_$j - CAST(s$j AS DOUBLE) * s$j)"
        s"""SELECT '${vars(i)._1}' AS var_a, '${vars(j)._1}' AS var_b,
          CASE WHEN $d <= 0.0 THEN CAST(NULL AS DOUBLE)
               ELSE round((n * p${i}_$j - CAST(s$i AS DOUBLE) * s$j) / sqrt($d), 6)
          END AS r FROM m"""
      }).mkString(" UNION ALL ")
      s"""WITH v AS (SELECT $cols FROM lineitem),
  m AS (SELECT CAST(count(*) AS DOUBLE) AS n, $sums, $prods FROM v)
$pairs"""
    },
    "q109_postings" ->
      s"""WITH $dkTok
SELECT u.token, u.doc_id, count(*) AS tf
FROM (SELECT doc_id, unnest(toks) AS token FROM tok) u GROUP BY 1, 2""",
    // q48's full-scan oracle restricted to docs with a term hit — the
    // indexed path must return exactly those rows
    "q110_bm25_indexed" -> {
      val terms = Seq("join", "hash", "customer")
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      s"""WITH $dkTok,
  t AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
  stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM t),
  tf AS (SELECT doc_id, dl, $tfCols FROM t)
SELECT doc_id, dl AS n_tokens,
  ${terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i").mkString(", ")},
  round($score, 6) AS bm25
FROM tf CROSS JOIN stats
WHERE ${terms.indices.map(i => s"tf_$i").mkString(" + ")} > 0"""
    },
    // Streamed-state twin of q110: the two parity waves partition the
    // corpus and the maintained (postings, doclens) state is additive, so
    // BM25 from the state must equal the same full-corpus oracle
    "q258_bm25_stream" -> {
      val terms = Seq("join", "hash", "customer")
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      s"""WITH $dkTok,
  t AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
  stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM t),
  tf AS (SELECT doc_id, dl, $tfCols FROM t)
SELECT doc_id, dl AS n_tokens,
  ${terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i").mkString(", ")},
  round($score, 6) AS bm25
FROM tf CROSS JOIN stats
WHERE ${terms.indices.map(i => s"tf_$i").mkString(" + ")} > 0"""
    },
    "q111_copurchase" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
  p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_groups
        FROM i a JOIN i b ON a.g = b.g AND a.item < b.item
        GROUP BY 1, 2)
SELECT item_a, item_b, n_groups FROM p
ORDER BY n_groups DESC, item_a, item_b LIMIT 20""",
    "q112_grouping_sets" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY GROUPING SETS ((source), (lang), ())""",
    // quantile_cont == Spark's percentile: both interpolate at rank p*(n-1),
    // and on integer cents the arithmetic is exact under f64
    "q113_percentiles" ->
      """SELECT l_returnflag,
  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.25) AS p25,
  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) AS p50,
  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.75) AS p75,
  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.9) AS p90
FROM lineitem GROUP BY l_returnflag""",
    "q114_assoc_rules" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
  n AS (SELECT item, count(*) AS n_item FROM i GROUP BY 1),
  t AS (SELECT count(DISTINCT g) AS n_total FROM i),
  p AS (SELECT a.item AS antecedent, b.item AS consequent, count(*) AS n_joint
        FROM i a JOIN i b ON a.g = b.g AND a.item <> b.item
        GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT antecedent, consequent, n_joint,
  round(CAST(n_joint AS DOUBLE) / na.n_item, 6) AS confidence,
  round((CAST(n_joint AS DOUBLE) / na.n_item) / (CAST(nc.n_item AS DOUBLE) / n_total), 6) AS lift
FROM p JOIN n na ON p.antecedent = na.item
       JOIN n nc ON p.consequent = nc.item
       CROSS JOIN t""",
    "q115_window_suite" ->
      """SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS cents,
  lag(CAST(round(value * 100) AS BIGINT)) OVER w AS prev_cents,
  CAST(round(value * 100) AS BIGINT) - lag(CAST(round(value * 100) AS BIGINT)) OVER w AS delta,
  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
  round(cume_dist() OVER w, 6) AS cdist
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)""",
    // q44's oracle with the query bucket set expanded +-1 per table
    "q116_ann_multiprobe" ->
      s"""WITH $dkRpW,
  qset AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
  ${dkRpBuckets("ib", "embeddings", "vec_id", "embedding")},
  ${dkRpBuckets("qb0", "qset", "query_id", "embedding")},
  qb AS (SELECT query_id, t, bk + d.d AS bk
         FROM qb0 CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d),
  cand AS (SELECT DISTINCT qb.query_id, ib.vec_id FROM ib JOIN qb
    ON ib.t = qb.t AND ib.bk = qb.bk),
  s AS (SELECT c.query_id, c.vec_id,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE)*CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                JOIN qset q ON c.query_id = q.query_id),
  sc AS (SELECT query_id, vec_id,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
    score FROM sc)
SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3""",
    // Per-stratum quality quantile: q54's quality formula + a per-source
    // rank window; keep rank <= floor(n * 0.4 + 0.5)
    "q83_quality_quantile" ->
      s"""WITH $dkTok,
  b AS (SELECT doc_id, text, CAST(len(toks) AS INTEGER) AS n_tokens,
          CAST(len(list_filter(toks, t -> t IN ${stopIn("en")})) AS INTEGER) AS stop_hits,
          CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INTEGER) AS n_punct
        FROM tok),
  q AS (SELECT doc_id,
          round(0.4 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / n_tokens END)
              + 0.4 * least(n_tokens / 100.0, 1.0)
              + 0.2 * (1.0 - n_punct / greatest(length(text), 1)), 6) AS quality
        FROM b),
  r AS (SELECT q.doc_id, d.source, q.quality,
          CAST(row_number() OVER (PARTITION BY d.source ORDER BY q.quality DESC, q.doc_id ASC) AS BIGINT) AS rnk,
          count(*) OVER (PARTITION BY d.source) AS n
        FROM q JOIN documents d USING (doc_id))
SELECT doc_id, source, quality, rnk
FROM r WHERE rnk <= CAST(floor(CAST(n AS DOUBLE) * 0.4 + 0.5) AS BIGINT)""",
    // SemDeDup: the q68 Lloyd chain, then drop any vector with a lower-id
    // same-cell neighbour at cosine >= 0.35 (exact f64 cosines, so the
    // threshold cut reproduces bit-for-bit)
    "q77_semantic_dedup" -> detKmeansOracle(finalSelect = s"""SELECT * FROM (
  WITH ce AS (SELECT a.vec_id, a.cell, e.embedding FROM a_fin a JOIN embeddings e USING (vec_id)),
  pr AS (SELECT b.vec_id FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE (CASE WHEN list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) = 0
                  OR list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) = 0 THEN 0.0
           ELSE list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                 * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) END) >= 0.35)
  SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM a_fin
  WHERE vec_id NOT IN (SELECT vec_id FROM pr))"""),
    // Mixture sampling: per-source counts -> keep thresholds (same double
    // literals and operation order as Sampling.sampleToMixture), q53's hash
    // bucket rule with the 'mix:' prefix
    "q78_mixture_sample" -> {
      val sumW = MixWeights.map(_._2).sum
      val wCase = MixWeights.map { case (st, w) => s"WHEN '$st' THEN $w" }
        .mkString("CASE source ", " ", " ELSE NULL END")
      val h = "sha256('mix:' || CAST(doc_id AS VARCHAR))"
      val b = s"(((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) * 256 + " +
        s"${dkByte(h, "2")}) * 256 + ${dkByte(h, "3")}) % 10000"
      s"""WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
  th AS (SELECT source, n, $wCase AS w FROM cnt),
  th2 AS (SELECT source, CAST(floor(least(1.0, ((w / $sumW) * 60) / n) * 10000 + 0.5) AS BIGINT) AS t
    FROM th WHERE w IS NOT NULL)
SELECT d.doc_id, d.source FROM documents d JOIN th2 USING (source)
WHERE $b < th2.t"""
    },
    // Boilerplate fractions: q55's distinct word-5-gram machinery, plain
    // count(*) as document frequency, one long/long division (exact IEEE on
    // both engines — no rounding)
    "q79_boilerplate" ->
      s"""WITH $dkTok,
  shl AS (SELECT doc_id, CASE WHEN len(toks) >= 5
       THEN list_distinct(list_transform(range(0, len(toks)-4),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]))
       ELSE [text] END AS sh FROM tok),
  shu AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
  dfs AS (SELECT shingle, count(*) AS df FROM shu GROUP BY shingle),
  per AS (SELECT s.doc_id, count(*) AS n_grams,
      CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
    FROM shu s JOIN dfs d USING (shingle) GROUP BY s.doc_id)
SELECT doc_id, n_grams, n_boiler, n_boiler / n_grams AS boiler_frac FROM per""",
    // Mirrors Sampling.samplePerGroup: sha256-hex permutation order per
    // group, first 5 win; lexicographic hex order is engine-neutral
    "q128_class_sample" ->
      """WITH h AS (SELECT source, doc_id,
    sha256('grp:' || CAST(doc_id AS VARCHAR)) AS hh FROM documents),
  r AS (SELECT source, doc_id,
    CAST(row_number() OVER (PARTITION BY source ORDER BY hh ASC) AS INTEGER) AS "rank"
  FROM h)
SELECT source, doc_id, "rank" FROM r WHERE "rank" <= 5""",
    // Mirrors TextAnalysis.booleanSearch(must = hash, join; mustNot = slow)
    "q129_boolean_search" ->
      s"""WITH $dkTok,
  e AS (SELECT doc_id, unnest(toks) AS token FROM tok),
  f AS (SELECT doc_id, token FROM e WHERE token IN ('hash', 'join', 'slow')),
  a AS (SELECT doc_id,
    count(DISTINCT CASE WHEN token IN ('hash', 'join') THEN token END) AS nm,
    CAST(sum(CASE WHEN token IN ('hash', 'join') THEN 1 ELSE 0 END) AS BIGINT) AS tf_must,
    max(CASE WHEN token = 'slow' THEN 1 ELSE 0 END) AS hn
  FROM f GROUP BY 1)
SELECT doc_id, tf_must FROM a WHERE nm = 2 AND hn = 0""",
    // Mirrors TextAnalysis.sparseCosinePairs: fixed-point idf weights
    // (round(ln(N/df)*4096), exact integer dots/norms), df-capped shingle
    // buckets, one shared cosine division rounded at 6
    "q130_sparse_cosine" ->
      s"""WITH $dkTok, $dkShl, $dkShu,
  n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
  kept AS (SELECT shingle, CAST(round(ln(n_docs / df) * 4096) AS BIGINT) AS w
    FROM (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM shu GROUP BY 1) d
    CROSS JOIN n WHERE df <= 100),
  w AS (SELECT s.doc_id, s.shingle, k.w FROM shu s JOIN kept k USING (shingle)),
  norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
  dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
    FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
  c AS (SELECT doc_a, doc_b,
    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) END AS cos_sim
    FROM dot JOIN norms na ON dot.doc_a = na.doc_id
             JOIN norms nb ON dot.doc_b = nb.doc_id)
SELECT doc_a, doc_b, round(cos_sim, 6) AS cos_sim FROM c WHERE cos_sim >= 0.3""",
    // Mirrors EventAnalytics.dedupBursts: per-(user, type) lag, exact
    // integer microsecond gap, ties broken by event_id
    "q131_event_dedup" ->
      """WITH o AS (SELECT event_id, user_id, event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      PARTITION BY user_id, event_type
      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
  FROM events)
SELECT event_id, user_id, event_type, ts_us FROM o
WHERE prev_us IS NULL OR ts_us - prev_us > 3600000000""",
    // Mirrors TextAnalysis.vocabOov(minDf = 100)
    "q132_vocab_oov" ->
      s"""WITH $dkTok,
  e AS (SELECT doc_id, unnest(toks) AS token FROM tok),
  v AS (SELECT token FROM (
      SELECT token, count(DISTINCT doc_id) AS df FROM e GROUP BY 1)
    WHERE df >= 100),
  a AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM e LEFT JOIN v ON e.token = v.token GROUP BY 1)
SELECT doc_id, n_tokens, n_oov,
  round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate FROM a""",
    // Mirrors Similarity.hardNegatives: q23's exact-cosine ranking with the
    // different-label predicate below the ranker
    "q133_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
    FROM embeddings WHERE vec_id < 5),
  s AS (SELECT q.qid AS query_id, e.vec_id, e.label,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN q WHERE e.label <> q.ql),
  sc AS (SELECT query_id, vec_id, label,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id, label,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
    score FROM sc)
SELECT query_id, vec_id, label, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3""",
    // Mirrors TableStats.keySkew over o_custkey % 1000
    "q134_key_skew" ->
      """WITH g AS (SELECT CAST(o_custkey % 1000 AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1),
  t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
    max(n) AS max_key_rows FROM g),
  top AS (SELECT k AS top_key FROM g ORDER BY n DESC, k ASC LIMIT 1)
SELECT n_rows, n_keys, max_key_rows, top_key,
  round(CAST(max_key_rows AS DOUBLE) / (CAST(n_rows AS DOUBLE) / n_keys), 6) AS skew
FROM t CROSS JOIN top""",
    // Mirrors EventAnalytics.lastTouchAttribution: last non-purchase row
    // strictly earlier in the per-user (ts, event_id) total order
    "q135_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
  t AS (SELECT event_id, user_id, event_type, ts_us,
    last_value(CASE WHEN event_type <> 'purchase'
        THEN {'t': ts_us, 'e': event_id, 'y': event_type} END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM e)
SELECT event_id AS conv_event_id, user_id,
  touch.e AS touch_event_id, touch.y AS touch_type,
  ts_us - touch.t AS delay_us
FROM t WHERE event_type = 'purchase'""",
    // Mirrors the q136 snapshot mutation + TableStats.snapshotDiff
    "q136_snapshot_diff" ->
      """WITH cur AS (
    SELECT doc_id, CASE WHEN doc_id % 97 = 0 THEN text || ' v2' ELSE text END AS text
    FROM documents WHERE doc_id % 89 <> 0
    UNION ALL
    SELECT -doc_id - 1, text FROM documents WHERE doc_id % 83 = 0),
  u AS (SELECT doc_id AS id, sha256(text) AS h, 0 AS tag FROM documents
        UNION ALL SELECT doc_id, sha256(text), 1 FROM cur),
  a AS (SELECT id,
    max(CASE WHEN tag = 0 THEN h END) AS base_hash,
    max(CASE WHEN tag = 1 THEN h END) AS current_hash
  FROM u GROUP BY 1),
  s AS (SELECT id, CASE WHEN base_hash IS NULL THEN 'added'
    WHEN current_hash IS NULL THEN 'removed'
    WHEN base_hash <> current_hash THEN 'changed' END AS status,
    base_hash, current_hash FROM a)
SELECT id, status, base_hash, current_hash FROM s WHERE status IS NOT NULL""",
    // Mirrors EventAnalytics.ohlcResample: lexicographic struct min/max
    // carries open/close; 6h buckets; integer cents
    "q137_ohlc" ->
      """WITH e AS (SELECT event_type, event_id,
    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
  b AS (SELECT event_type, event_id, ts_us, cents,
    CAST(floor(ts_us / 21600000000.0) AS BIGINT) AS bucket FROM e)
SELECT event_type, bucket,
  min({'t': ts_us, 'e': event_id, 'c': cents}).c AS open,
  max(cents) AS high, min(cents) AS low,
  max({'t': ts_us, 'e': event_id, 'c': cents}).c AS close,
  CAST(count(*) AS BIGINT) AS n_events
FROM b GROUP BY 1, 2""",
    // Mirrors TextAnalysis.tokenPmi (minPairDocs = 5; the 1024 cap never
    // fires on this corpus, mirroring the Spark default)
    "q138_pmi" ->
      s"""WITH $dkTok,
  it AS (SELECT DISTINCT doc_id AS g, unnest(toks) AS item FROM tok),
  tn AS (SELECT item, CAST(count(*) AS BIGINT) AS n_tok FROM it GROUP BY 1),
  tot AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_total FROM it),
  p AS (SELECT a.item AS tok_a, b.item AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
    FROM it a JOIN it b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2)
SELECT tok_a, tok_b, n_ab,
  round(ln(CAST(n_total AS DOUBLE) * n_ab / (CAST(na.n_tok AS DOUBLE) * nb.n_tok)), 6) AS pmi
FROM p JOIN tn na ON p.tok_a = na.item JOIN tn nb ON p.tok_b = nb.item
CROSS JOIN tot WHERE n_ab >= 5""",
    // Mirrors TableStats.groupRegression: exact integer moments, closed-
    // form OLS ratios in one shared double expression
    "q139_group_regression" ->
      """WITH e AS (SELECT event_type,
    CAST(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS x,
    CAST(round(value * 100) AS BIGINT) AS y FROM events),
  m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM e GROUP BY 1)
SELECT event_type, n,
  round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
    ELSE CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) END, 6) AS slope,
  round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
    ELSE CAST(sy * sxx - sx * sxy AS DOUBLE) / (n * sxx - sx * sx) END, 6) AS intercept
FROM m""",
    // Mirrors Similarity.centroidDrift: fixed-point per-dim sums, counts
    // cancel in cosine, one fixed-order 64-term fold per dot/norm
    "q140_centroid_drift" ->
      """WITH q AS (SELECT label, CAST(vec_id % 2 AS INTEGER) AS grp, di.i,
    CAST(floor(CAST(embedding[di.i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(1, 65) di(i)),
  s AS (SELECT label, grp, i, CAST(sum(qv) AS BIGINT) AS sv FROM q GROUP BY 1, 2, 3),
  v AS (SELECT label, grp, list(sv ORDER BY i) AS sv FROM s GROUP BY 1, 2),
  c AS (SELECT label, CAST(vec_id % 2 AS INTEGER) AS grp, CAST(count(*) AS BIGINT) AS n
    FROM embeddings GROUP BY 1, 2),
  sides AS (SELECT v.label, v.grp, v.sv, c.n FROM v JOIN c USING (label, grp)),
  ab AS (SELECT a.label, a.sv AS sa, a.n AS n_a, b.sv AS sb, b.n AS n_b
    FROM sides a JOIN sides b ON a.label = b.label AND a.grp = 0 AND b.grp = 1)
SELECT label, n_a, n_b,
  round(CASE WHEN list_sum(list_transform(range(1, 65), i -> CAST(sa[i] AS DOUBLE) * sa[i])) = 0.0
          OR list_sum(list_transform(range(1, 65), i -> CAST(sb[i] AS DOUBLE) * sb[i])) = 0.0
    THEN 0.0
    ELSE list_sum(list_transform(range(1, 65), i -> CAST(sa[i] AS DOUBLE) * sb[i]))
       / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(sa[i] AS DOUBLE) * sa[i])))
        * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(sb[i] AS DOUBLE) * sb[i])))) END, 6) AS drift_cos
FROM ab""",
    // Mirrors TableStats.equiDepthHistogram(8): quantile_cont boundaries
    // at i/8, bucket = #boundaries strictly below the value
    "q141_equidepth" -> {
      val v = "CAST(round(l_extendedprice * 100) AS BIGINT)"
      val bs = (1 until 8).map(i =>
        s"quantile_cont($v, ${i / 8.0}) AS b$i").mkString(", ")
      val bucket = (1 until 8).map(i =>
        s"CASE WHEN CAST($v AS DOUBLE) > b$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH bs AS (SELECT $bs FROM lineitem)
SELECT CAST($bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n
FROM lineitem CROSS JOIN bs GROUP BY 1"""
    },
    // Mirrors Graph.sampleNonEdges(k=100) on the part-supplier graph:
    // sha256-derived draws into the (node asc) row_number index, ordered
    // distinct pairs, anti-join, first 100 by draw
    "q142_negative_edges" -> {
      def dr(p: String) = {
        val h = s"sha256('$p' || CAST(i AS VARCHAR))"
        s"(((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) * 256 + " +
          s"${dkByte(h, "2")}) * 256 + ${dkByte(h, "3")}) % (SELECT n FROM nn)"
      }
      s"""WITH e0 AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
      's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem),
  und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
  nodes AS (SELECT DISTINCT src AS node FROM und),
  nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
  idx AS (SELECT node, row_number() OVER (ORDER BY node ASC) - 1 AS idx FROM nodes),
  spine AS (SELECT CAST(r.range AS BIGINT) AS i FROM range(0, 464) r),
  d AS (SELECT i, ${dr("ne:a:")} AS ia, ${dr("ne:b:")} AS ib FROM spine),
  cand AS (SELECT a.node AS node_a, b.node AS node_b, d.i AS draw
    FROM d JOIN idx a ON d.ia = a.idx JOIN idx b ON d.ib = b.idx
    WHERE a.node < b.node),
  fd AS (SELECT node_a, node_b, CAST(min(draw) AS BIGINT) AS draw FROM cand GROUP BY 1, 2),
  ne AS (SELECT f.* FROM fd f WHERE NOT EXISTS (
    SELECT 1 FROM und u WHERE u.src = f.node_a AND u.dst = f.node_b))
SELECT node_a, node_b, draw FROM ne ORDER BY draw LIMIT 100"""
    },
    // Mirrors Similarity.tripletMine: same-label nearest (self excluded)
    // joined with the q133 hard negative at k=1
    "q143_triplets" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
    FROM embeddings WHERE vec_id < 5),
  s AS (SELECT q.qid AS query_id, e.vec_id, e.label, q.ql,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
  sc AS (SELECT query_id, vec_id, label, ql,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  pos AS (SELECT query_id, vec_id AS pos_id, round(score, 4) AS pos_score FROM (
    SELECT query_id, vec_id, score,
      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
    FROM sc WHERE label = ql) WHERE rn = 1),
  neg AS (SELECT query_id, vec_id AS neg_id, round(score, 4) AS neg_score FROM (
    SELECT query_id, vec_id, score,
      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
    FROM sc WHERE label <> ql) WHERE rn = 1)
SELECT p.query_id, p.pos_id, p.pos_score, n.neg_id, n.neg_score
FROM pos p JOIN neg n USING (query_id)""",
    // Mirrors Multimodal.perceptualHash on the stub decode (ASCII corpus:
    // char == byte, ord == byte value — the q28 contract): 8x8 nearest-
    // neighbour grid over the w x h x 3 byte raster, integer gray and
    // mean, LSB-first byte packing to 16 hex chars
    "q144_mm_phash" ->
      s"""WITH mdocs AS (SELECT doc_id, text FROM documents),
  $dkPhash
SELECT media_id, 'raw' AS format, phash FROM ph""",
    // Resize: same stub dims, same nearest-neighbour index math
    // (sy = y*h DIV 4, sx = x*w DIV 4, byte (sy*w+sx)*3+ch mod len)
    "q246_mm_resize" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS len,
    CASE WHEN length(text) > 0 THEN ord(substr(text, 1, 1)) ELSE 0 END AS b0,
    CASE WHEN length(text) > 1 THEN ord(substr(text, 2, 1)) ELSE 0 END AS b1
  FROM documents),
  dims AS (SELECT doc_id, text, len, 64 + len % 512 AS w,
    64 + (b0 * 256 + b1) % 512 AS h FROM base)
SELECT doc_id AS media_id, CAST(4 AS INTEGER) AS width,
  CAST(4 AS INTEGER) AS height, CAST(3 AS INTEGER) AS channels,
  list_aggregate(list_transform(range(0, 48), i ->
    lpad(lower(hex(CASE WHEN len = 0 THEN 0 ELSE
      ord(substr(text,
        ((((i // 12) * h // 4) * w + (((i % 12) // 3) * w // 4)) * 3 + i % 3) % len + 1,
        1)) END)), 2, '0')), 'string_agg', '') AS pixels_hex
FROM dims""",
    // Salted join: the plain join IS the oracle — salting must be
    // result-invariant
    "q245_salted_join" ->
      s"""SELECT o_orderpriority,
  CAST(sum($centsE * (100 - $centsD)) AS BIGINT) AS revenue_e4,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1""",
    // pHash near-dup pairs: same signatures over the same planted-dup
    // union, 4x16-bit bands (pigeonhole-complete at hamming <= 3),
    // per-band XOR popcount verify
    "q244_phash_pairs" ->
      s"""WITH mdocs AS (SELECT doc_id, text FROM documents
    UNION ALL SELECT -doc_id - 1, text FROM documents WHERE doc_id % 100 = 0),
  $dkPhash,
  bands AS (SELECT media_id, phash, k,
      substr(phash, CAST(k * 4 + 1 AS INTEGER), 4) AS band
    FROM ph, (SELECT unnest(range(0, 4)) AS k)),
  cand AS (SELECT DISTINCT a.media_id AS media_a, a.phash AS pa,
      b.media_id AS media_b, b.phash AS pb
    FROM bands a JOIN bands b ON a.k = b.k AND a.band = b.band
      AND a.media_id < b.media_id),
  ham AS (SELECT media_a, media_b,
      CAST(${(0 until 4).map(k =>
        s"""bit_count(xor(CAST('0x' || substr(pa, ${k * 4 + 1}, 4) AS BIGINT),
             CAST('0x' || substr(pb, ${k * 4 + 1}, 4) AS BIGINT)))""").mkString(" + ")}
        AS BIGINT) AS hamming
    FROM cand)
SELECT media_a, media_b, hamming FROM ham WHERE hamming <= 3""",
    // Mirrors TextAnalysis.gopherQuality: word stats from the shared
    // tokenizer, one CASE-guarded division per ratio, int64 keep flag
    "q145_gopher" ->
      s"""WITH $dkTok,
  s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
    round(CASE WHEN len(toks) = 0 THEN 0.0
      ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END, 6) AS mean_word_len,
    round(CASE WHEN len(toks) = 0 THEN 0.0
      ELSE len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) END, 6) AS frac_unique,
    round(CASE WHEN len(toks) = 0 THEN 0.0
      ELSE list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, t -> t = w))))
        / CAST(len(toks) AS DOUBLE) END, 6) AS top_word_frac,
    round(CASE WHEN len(toks) < 2 THEN 0.0
      ELSE 1.0 - len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])))
        / CAST(len(toks) - 1 AS DOUBLE) END, 6) AS dup_bigram_frac
  FROM tok)
SELECT doc_id, n_words, mean_word_len, frac_unique, top_word_frac, dup_bigram_frac,
  CAST(CASE WHEN n_words >= 20 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
    AND frac_unique >= 0.45 AND top_word_frac <= 0.1 AND dup_bigram_frac <= 0.03
    THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s""",
    // Mirrors Pipeline.splitLeakage: the q22 verified-pair chain joined to
    // the q41 hash-split labels, order-normalized split matrix
    "q146_split_leakage" -> {
      val h = "sha256(CAST(doc_id AS VARCHAR))"
      val b = s"(((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) * 256 + " +
        s"${dkByte(h, "2")}) * 256 + ${dkByte(h, "3")}) % 10000"
      s"""WITH $dkTok, $dkShl, $dkShu,
  keep AS (SELECT shingle FROM shu GROUP BY shingle HAVING count(*) <= 1000),
  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           WHERE a.shingle IN (SELECT shingle FROM keep)),
  ver AS (SELECT c.doc_a, c.doc_b,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
          FROM cand c JOIN shl sa ON c.doc_a = sa.doc_id
                      JOIN shl sb ON c.doc_b = sb.doc_id),
  p AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.5),
  sp AS (SELECT doc_id, CASE WHEN $b < 9800 THEN 'train'
           WHEN $b < 9900 THEN 'val' ELSE 'test' END AS split FROM documents),
  lab AS (SELECT least(a.split, b.split) AS split_a,
            greatest(a.split, b.split) AS split_b
          FROM p JOIN sp a ON p.doc_a = a.doc_id JOIN sp b ON p.doc_b = b.doc_id)
SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY 1, 2"""
    },
    // Mirrors Dedup.clusterRepresentatives: the q38 recursive-reach
    // clusters, representative by (len desc, doc_id asc)
    "q151_dup_keep_best" ->
      s"""WITH RECURSIVE $dkTok, $dkShl, $dkShu,
  keep AS (SELECT shingle FROM shu GROUP BY shingle HAVING count(*) <= 1000),
  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           WHERE a.shingle IN (SELECT shingle FROM keep)),
  ver AS (SELECT c.doc_a, c.doc_b,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
          FROM cand c JOIN shl sa ON c.doc_a = sa.doc_id
                      JOIN shl sb ON c.doc_b = sb.doc_id),
  p AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.5),
  edges AS (SELECT doc_a AS a, doc_b AS b FROM p
            UNION ALL SELECT doc_b, doc_a FROM p),
  nodes AS (SELECT DISTINCT a AS n FROM edges),
  reach(n, r) AS (SELECT n, n FROM nodes
    UNION SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.n),
  lab AS (SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n),
  m AS (SELECT lab.cluster, lab.doc_id, CAST(length(d.text) AS BIGINT) AS len
        FROM lab JOIN documents d USING (doc_id)),
  rk AS (SELECT cluster, doc_id,
           row_number() OVER (PARTITION BY cluster ORDER BY len DESC, doc_id ASC) AS rn
         FROM m)
SELECT m.cluster, r.doc_id AS rep_doc_id, CAST(count(*) AS BIGINT) AS n_members
FROM m JOIN rk r ON m.cluster = r.cluster AND r.rn = 1
GROUP BY 1, 2""",
    // Mirrors TextAnalysis.tokenDrift: parity halves, add-1-smoothed
    // union-vocab probabilities, per-token KL(a||b) term
    "q152_token_drift" ->
      s"""WITH $dkTok,
  tu AS (SELECT doc_id % 2 = 0 AS a, unnest(toks) AS token FROM tok),
  c AS (SELECT token,
      CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
    FROM tu GROUP BY 1),
  t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b,
      CAST(count(*) AS BIGINT) AS v FROM c)
SELECT token, n_a, n_b,
  round(CAST(n_a + 1 AS DOUBLE) / (t_a + v), 6) AS p_a,
  round(CAST(n_b + 1 AS DOUBLE) / (t_b + v), 6) AS p_b,
  round(CAST(n_a + 1 AS DOUBLE) / (t_a + v)
    * ln((CAST(n_a + 1 AS DOUBLE) / (t_a + v))
       / (CAST(n_b + 1 AS DOUBLE) / (t_b + v))), 6) AS kl_term
FROM c CROSS JOIN t""",
    // Mirrors TableStats.madOutliers(lang, n_chars, fence=3): exact
    // interpolated medians (quantile_cont), MAD fence, int64 counts
    "q147_mad_outliers" ->
      """WITH v AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v FROM documents),
  med AS (SELECT g, quantile_cont(v, 0.5) AS med FROM v GROUP BY 1),
  dev AS (SELECT v.g, v.v, med.med, abs(v.v - med.med) AS adev FROM v JOIN med USING (g)),
  mad AS (SELECT g, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT dev.g AS lang, CAST(count(*) AS BIGINT) AS n,
  round(min(dev.med), 6) AS med, round(min(mad.mad), 6) AS mad,
  CAST(sum(CASE WHEN mad.mad > 0 AND dev.adev > mad.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (g) GROUP BY 1""",
    // Mirrors EventAnalytics.ewmaDailySpend(32): daily cents rollup,
    // recency rank, 2^(32-rn) integer weight ladder, one exact division
    "q148_ewma" ->
      """WITH daily AS (SELECT user_id,
    CAST(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events GROUP BY 1, 2),
  r AS (SELECT user_id, day_cents,
    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn FROM daily),
  k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
    CAST(sum(day_cents * CAST(pow(2, 32 - rn) AS BIGINT)) AS BIGINT) AS s
  FROM r WHERE rn <= 32 GROUP BY 1)
SELECT user_id, n_days,
  round(CAST(s AS DOUBLE) / CAST(pow(2, 31) AS DOUBLE) / 100.0, 6) AS ewma
FROM k""",
    // Mirrors EventAnalytics.jsonPropsRollup('k'): typed JSON extraction,
    // one rollup, CAST-guarded DuckDB sums (HUGEINT trap)
    "q149_json_props" ->
      """WITH e AS (SELECT event_type,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(count(kv) AS BIGINT) AS n_with_k,
  CAST(coalesce(sum(kv), 0) AS BIGINT) AS sum_k,
  CAST(count(DISTINCT kv) AS BIGINT) AS n_distinct_k,
  round(CASE WHEN count(kv) = 0 THEN NULL ELSE CAST(sum(kv) AS DOUBLE) / count(kv) END, 6) AS avg_k
FROM e GROUP BY 1""",
    // Mirrors TableStats.quantileNormalize: within-group rational rank
    // a/b, global value-at-rank join, h = a*(N-1) exact-integer position
    "q150_quantile_norm" ->
      """WITH v AS (SELECT doc_id AS id, source AS g, CAST(n_chars AS BIGINT) AS v FROM documents),
  nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
  wg AS (SELECT id, g, v,
    CAST(row_number() OVER (PARTITION BY g ORDER BY v, id) - 1 AS BIGINT) AS a,
    CAST(count(*) OVER (PARTITION BY g) - 1 AS BIGINT) AS b FROM v),
  p AS (SELECT wg.*, CASE WHEN b = 0 THEN 0 ELSE a * (n - 1) // b END AS k,
    CASE WHEN b = 0 THEN 0 ELSE a * (n - 1) % b END AS rem FROM wg CROSS JOIN nn),
  r AS (SELECT CAST(row_number() OVER (ORDER BY v) - 1 AS BIGINT) AS rk, v AS xv FROM v)
SELECT p.id AS doc_id, p.g AS source, p.v,
  round(CASE WHEN rem = 0 THEN CAST(lo.xv AS DOUBLE)
    ELSE lo.xv + CAST(rem AS DOUBLE) / b * (coalesce(hi.xv, lo.xv) - lo.xv) END, 6) AS v_norm
FROM p JOIN r lo ON p.k = lo.rk LEFT JOIN r hi ON p.k + 1 = hi.rk""",
    // Mirrors TextAnalysis.vocabOovCurve: frequency rank (count desc,
    // token asc), running mass, boundary row at min(K, V) per cutoff
    "q153_vocab_curve" ->
      s"""WITH $dkTok,
  c AS (SELECT token, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(toks) AS token FROM tok) GROUP BY 1),
  t AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c) AS BIGINT) AS tt FROM c),
  r AS (SELECT token, c,
    CAST(row_number() OVER (ORDER BY c DESC, token ASC) AS BIGINT) AS rank,
    CAST(sum(c) OVER (ORDER BY c DESC, token ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM c),
  ks AS (SELECT CAST(k AS BIGINT) AS vocab_size
    FROM (VALUES (100), (200), (500), (1000), (2000)) AS kv(k))
SELECT ks.vocab_size, r.cum AS covered,
  round(1.0 - CAST(r.cum AS DOUBLE) / t.tt, 6) AS oov_rate
FROM ks CROSS JOIN t JOIN r ON r.rank = least(ks.vocab_size, t.v)""",
    // Mirrors TextAnalysis.tokenDispersion: integer tf moments, zeros
    // implicit, one shared VMR expression
    "q154_dispersion" ->
      s"""WITH $dkTok,
  tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(toks) AS token FROM tok) GROUP BY 1, 2),
  n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
  m AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
    CAST(sum(tf) AS BIGINT) AS tf_total, CAST(sum(tf * tf) AS BIGINT) AS s2
  FROM tf GROUP BY 1)
SELECT token, df, tf_total,
  round((CAST(s2 AS DOUBLE) - CAST(tf_total AS DOUBLE) * tf_total / n.nd)
    / tf_total, 6) AS vmr
FROM m CROSS JOIN n""",
    // Mirrors TextAnalysis.skipGrams(3, 3): nested-list pair generation,
    // exact micro-unit harmonic weights
    "q155_skipgrams" ->
      s"""WITH $dkTok,
  f AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 2),
  p AS (SELECT unnest(flatten(list_transform(range(1, len(toks)), i ->
      list_transform(range(1, least(3, len(toks) - i) + 1), d ->
        {'a': toks[i], 'b': toks[i + d],
         'w6': CAST(round(1000000.0 / d) AS BIGINT)})))) AS s
    FROM f),
  g AS (SELECT s.a AS tok_a, s.b AS tok_b, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(s.w6) AS BIGINT) AS w6 FROM p GROUP BY 1, 2)
SELECT tok_a, tok_b, n_pairs, round(w6 / 1000000.0, 6) AS weight
FROM g WHERE n_pairs >= 3""",
    // Mirrors Graph.triangleCount over the support-2 co-purchase graph:
    // (degree, id)-oriented edges, source-keyed wedges, closing join
    "q156_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
  pc AS (SELECT a.item AS x, b.item AS y, count(*) AS ng
    FROM items a JOIN items b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2),
  e AS (SELECT x AS a, y AS b FROM pc WHERE ng >= 2),
  deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
  o AS (SELECT
      CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS src,
      CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS dst,
      CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN db.d ELSE da.d END AS dd
    FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
  w AS (SELECT e1.dst AS v, e2.dst AS wv FROM o e1 JOIN o e2
    ON e1.src = e2.src AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))),
  tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM w JOIN o ON w.v = o.src AND w.wv = o.dst)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
  (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
  n_triangles,
  round(CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) = 0 THEN 0.0
    ELSE 3.0 * n_triangles / (SELECT sum(d * (d - 1) // 2) FROM deg) END, 6) AS clustering_coeff
FROM tri""",
    // Mirrors EventAnalytics.dowAnomalies: dayIdx mod 7 seasonal baseline,
    // exact integer moments, the q96 z expression
    "q157_dow_anomaly" ->
      """WITH daily AS (SELECT event_type,
    CAST(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events GROUP BY 1, 2),
  dd AS (SELECT event_type, d, ((d % 7) + 7) % 7 AS dow, day_cents FROM daily),
  base AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(day_cents) AS BIGINT) AS s,
    CAST(sum(day_cents * day_cents) AS BIGINT) AS ssq
  FROM dd GROUP BY 1, 2),
  z AS (SELECT dd.event_type, dd.d, dd.dow, dd.day_cents,
    sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS sd,
    CAST(s AS DOUBLE) / n AS mu, n
  FROM dd JOIN base ON dd.event_type = base.event_type AND dd.dow = base.dow)
SELECT event_type, d, dow, day_cents,
  round((day_cents - mu) / sd, 6) AS z
FROM z WHERE sd > 0 AND NOT isnan(sd)
  AND abs(round((day_cents - mu) / sd, 6)) > 1.5""",
    // Mirrors Joins.fuzzyLookup: two-token blocking, length band 2,
    // DuckDB's jaro_winkler_similarity (the expression's reference),
    // rank on the 6-dp rounded score
    "q158_fuzzy_lookup" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS name,
    concat_ws(' ', string_split(p_name, ' ')[1], string_split(p_name, ' ')[2]) AS blk,
    length(p_name) AS ln FROM part),
  pr AS (SELECT * FROM p WHERE id % 403 = 0),
  sc AS (SELECT pr.id AS probe_id, c.id AS cand_id, c.name AS cand_name,
      round(jaro_winkler_similarity(pr.name, c.name), 6) AS score
    FROM pr JOIN p c ON pr.blk = c.blk AND abs(pr.ln - c.ln) <= 2 AND pr.id <> c.id),
  f AS (SELECT * FROM sc WHERE score >= 0.8),
  r AS (SELECT probe_id, cand_id, cand_name, score,
      row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, cand_id ASC) AS rn
    FROM f)
SELECT probe_id, cand_id AS match_id, cand_name AS match_name, score
FROM r WHERE rn <= 2""",
    // Mirrors Pipeline.docEmbeddingProbe(200, 50): 150-stride chunks, per-
    // chunk digest bytes summed as integers, one pooled-mean expression
    "q160_doc_embedding" ->
      s"""WITH g AS (SELECT doc_id, text AS doc_text,
    unnest(range(0, CAST(ceil(length(text)/150.0) AS BIGINT))) AS i FROM documents),
  ch AS (SELECT doc_id, substring(doc_text, CAST(i*150+1 AS INTEGER), 200) AS chunk FROM g),
  hb AS (SELECT doc_id, sha256(chunk) AS hx FROM ch),
  s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      CAST(sum(${dkByte("hx", "0")}) AS BIGINT) AS s0,
      CAST(sum(${dkByte("hx", "13")}) AS BIGINT) AS s13,
      CAST(sum(${dkByte("hx", "31")}) AS BIGINT) AS s31
    FROM hb GROUP BY 1)
SELECT doc_id, n_chunks,
  round(CAST(s0 AS DOUBLE) / n_chunks / 255.0 * 2.0 - 1.0, 6) AS p0,
  round(CAST(s13 AS DOUBLE) / n_chunks / 255.0 * 2.0 - 1.0, 6) AS p13,
  round(CAST(s31 AS DOUBLE) / n_chunks / 255.0 * 2.0 - 1.0, 6) AS p31
FROM s""",
    // Mirrors Multimodal.sceneCuts(48, 1, 48): per-frame stub aHash (the
    // q144 gray/mean math on each 48-byte frame), windowed bit-vector
    // Hamming, threshold flag
    "q159_scene_cuts" ->
      """WITH fr AS (SELECT doc_id, f.f AS frame_idx,
    substr(text, CAST(f.f * 48 AS INTEGER) + 1, 48) AS ft
  FROM documents, unnest(range(0, (length(text) + 47) // 48)) AS f(f)
  WHERE length(text) > 0),
  base AS (SELECT doc_id, frame_idx, ft, length(ft) AS len,
    CASE WHEN length(ft) > 0 THEN ord(substr(ft, 1, 1)) ELSE 0 END AS b0,
    CASE WHEN length(ft) > 1 THEN ord(substr(ft, 2, 1)) ELSE 0 END AS b1 FROM fr),
  dims AS (SELECT doc_id, frame_idx, ft, len,
    64 + len % 512 AS w, 64 + (b0 * 256 + b1) % 512 AS h FROM base),
  grays AS (SELECT doc_id, frame_idx, len,
    CASE WHEN len = 0 THEN list_transform(range(0, 64), j -> 0)
    ELSE list_transform(range(0, 64), j ->
      (ord(substr(ft, ((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + 0) % len + 1, 1))
     + ord(substr(ft, ((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + 1) % len + 1, 1))
     + ord(substr(ft, ((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + 2) % len + 1, 1))) // 3)
    END AS g FROM dims),
  bits AS (SELECT doc_id, frame_idx,
    list_transform(g, x -> CASE WHEN x >= list_sum(g) // 64 THEN 1 ELSE 0 END) AS bv
  FROM grays),
  lagd AS (SELECT doc_id, frame_idx, bv,
    lag(bv) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pv FROM bits),
  h AS (SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
    CAST(len(list_filter(range(0, 64), j -> bv[j + 1] <> pv[j + 1])) AS BIGINT) AS hamming
  FROM lagd WHERE pv IS NOT NULL)
SELECT media_id, frame_idx, hamming,
  CAST(CASE WHEN hamming >= 48 THEN 1 ELSE 0 END AS BIGINT) AS is_cut
FROM h""",
    // Mirrors Dedup.containmentPairs(0.8): the q22 candidate chain,
    // full-set intersect, both directions
    "q164_containment" ->
      s"""WITH $dkTok, $dkShl, $dkShu,
  keep AS (SELECT shingle FROM shu GROUP BY shingle HAVING count(*) <= 1000),
  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM shu a JOIN shu b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           WHERE a.shingle IN (SELECT shingle FROM keep)),
  v AS (SELECT c.doc_a, c.doc_b,
      CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS common,
      len(sa.sh) AS na, len(sb.sh) AS nb
    FROM cand c JOIN shl sa ON c.doc_a = sa.doc_id
                JOIN shl sb ON c.doc_b = sb.doc_id),
  d AS (SELECT doc_a AS contained_doc, doc_b AS container_doc, common,
      common * 1.0 / na AS containment FROM v
    UNION ALL
    SELECT doc_b, doc_a, common, common * 1.0 / nb FROM v)
SELECT contained_doc, container_doc, common, round(containment, 6) AS containment
FROM d WHERE containment >= 0.8""",
    // Mirrors Joins.bucketedRevenueJoin: the bucketing is a physical-layout
    // property — the logical result is exactly the plain equi-join
    "q165_bucketed_join" ->
      """SELECT o_orderpriority, l_returnflag,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2""",
    // Mirrors Sketches.hllDistinct(p=6): identical integer register logic
    // (shared rho CASE tree + folded numerator literal, via Sketches'
    // expression generators); est rounds BEFORE rel_err on both sides
    "q166_hll_distinct" -> {
      val byteAt = (h: String, j: Int) => dkByte(h, j.toString)
      val rho = graft.operators.Sketches.rhoExpr(byteAt, "hx")
      val num = graft.operators.Sketches.hllNumerator(64)
      s"""WITH hh AS (SELECT event_type, user_id,
    sha256('hll:' || CAST(user_id AS VARCHAR)) AS hx FROM events),
  rr AS (SELECT event_type, ${byteAt("hx", 0)} % 64 AS bucket, $rho AS rho FROM hh),
  regs AS (SELECT event_type, bucket, max(rho) AS mrho FROM rr GROUP BY 1, 2),
  ag AS (SELECT event_type,
      CAST(sum(CAST(1 AS BIGINT) << (49 - mrho)) AS BIGINT)
        + (64 - count(*)) * (CAST(1 AS BIGINT) << 49) AS intsum,
      CAST(64 - count(*) AS BIGINT) AS n_zero
    FROM regs GROUP BY 1),
  ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact
    FROM hh GROUP BY 1),
  es AS (SELECT event_type, n_zero, round($num / intsum, 4) AS est FROM ag)
SELECT es.event_type, es.n_zero, es.est, ex.exact,
  round((es.est - ex.exact) / ex.exact, 4) AS rel_err
FROM es JOIN ex ON es.event_type = ex.event_type"""
    },
    // Source overlap: per-source-distinct prefix hashes self-joined
    "q180_source_overlap" ->
      """WITH h AS (SELECT DISTINCT source, sha256(substr(text, 1, 200)) AS hx FROM documents)
SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
FROM h a JOIN h b ON a.hx = b.hx AND a.source < b.source
GROUP BY 1, 2""",
    // Shingle novelty: shared shingle CTEs + first-occurrence min join
    "q181_novelty" ->
      s"""WITH $dkTok, $dkShl, $dkShu,
  f AS (SELECT shingle, min(doc_id) AS first_doc FROM shu GROUP BY 1)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
  round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty
FROM shu s JOIN f USING (shingle) GROUP BY 1""",
    // kNN label-noise: q179's fixed-point cosine idiom, row_number ranks
    // mirror GroupedTopK, integer disagreement counts + one division
    "q182_label_noise" -> {
      val dot = (x: String, y: String) =>
        s"list_sum(list_transform(range(1, 65), i -> CAST($x.embedding[i] AS DOUBLE)*CAST($y.embedding[i] AS DOUBLE)))"
      s"""WITH v AS (SELECT vec_id, embedding, label FROM embeddings),
  s AS (SELECT q.vec_id AS qid, q.label AS qlab, i.vec_id AS vid, i.label AS lab,
      ${dot("q", "i")} AS dot, ${dot("q", "q")} AS na, ${dot("i", "i")} AS nb
    FROM v q CROSS JOIN v i WHERE i.vec_id <> q.vec_id),
  sc AS (SELECT qid, qlab, vid, lab,
      CAST(floor((CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END) * 1073741824.0 + 0.5) AS BIGINT) AS fx FROM s),
  tk AS (SELECT * FROM (SELECT qid, qlab, lab,
      row_number() OVER (PARTITION BY qid ORDER BY fx DESC, vid ASC) AS rn FROM sc) WHERE rn <= 4)
SELECT qid AS vec_id, qlab AS label,
  CAST(sum(CASE WHEN lab <> qlab THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
  round(CAST(sum(CASE WHEN lab <> qlab THEN 1 ELSE 0 END) AS DOUBLE) / 4, 6) AS disagree,
  (sum(CASE WHEN lab <> qlab THEN 1 ELSE 0 END) * 2 > 4) AS suspect
FROM tk GROUP BY 1, 2"""
    },
    // Zipf slope: row_number ranks mirror GroupedTopK (cnt desc, token
    // asc); identical fixed-point ln coordinates and integer OLS moments
    "q183_zipf" ->
      """WITH occ AS (SELECT source AS g, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token FROM documents),
  cnt AS (SELECT g, token, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY 1, 2),
  rk AS (SELECT * FROM (SELECT g, token, cnt,
      row_number() OVER (PARTITION BY g ORDER BY cnt DESC, token ASC) AS rank FROM cnt) WHERE rank <= 1000),
  fx AS (SELECT g,
      CAST(floor(ln(CAST(rank AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS x,
      CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS y FROM rk),
  m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_terms, CAST(sum(x) AS BIGINT) AS sx,
      CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
      CAST(sum(x * x) AS BIGINT) AS sxx FROM fx GROUP BY 1),
  sl AS (SELECT g, n_terms, sx, sy,
      (CAST(n_terms AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (CAST(n_terms AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope
    FROM m WHERE n_terms >= 16)
SELECT g AS source, n_terms, round(slope, 6) AS slope,
  round((CAST(sy AS DOUBLE) - slope * sx) / n_terms / 1048576.0, 6) AS intercept
FROM sl""",
    // Block dedup: 1-based list_slice blocks, two-step lexicographic first
    // occurrence (min doc, then min idx within it), ordered string_agg of
    // kept blocks — coalesced to '' so all-dropped docs hash like Spark's
    // empty array_join
    "q185_block_dedup" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
  nb AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 16.0) AS BIGINT) AS nblk FROM tok WHERE len(toks) > 0),
  blkt AS (SELECT doc_id, i AS idx,
      array_to_string(list_slice(toks, CAST(i * 16 + 1 AS BIGINT), CAST(i * 16 + 16 AS BIGINT)), ' ') AS blk
    FROM (SELECT doc_id, toks, unnest(range(0, nblk)) AS i FROM nb)),
  f1 AS (SELECT blk, min(doc_id) AS fdoc FROM blkt GROUP BY 1),
  f2 AS (SELECT b.blk, b.fdoc, min(t.idx) AS fidx
    FROM f1 b JOIN blkt t ON t.blk = b.blk AND t.doc_id = b.fdoc GROUP BY 1, 2),
  k AS (SELECT t.doc_id, t.idx, t.blk,
      (f.fdoc = t.doc_id AND f.fidx = t.idx) AS kept
    FROM blkt t JOIN f2 f ON f.blk = t.blk)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  sha256(coalesce(string_agg(CASE WHEN kept THEN blk END, ' ' ORDER BY idx), '')) AS clean_sha
FROM k GROUP BY 1""",
    // Readability: same three regex passes, same fixed-point fold of the
    // per-doc Flesch expression, exact integer corpus tallies
    "q187_readability" ->
      """WITH per AS (SELECT source,
      len(list_filter(string_split(text, ' '), t -> t <> '')) AS w,
      greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
      len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
    FROM documents),
  fx AS (SELECT source, w, s, sy,
      CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        - 84.6 * (CAST(sy AS DOUBLE) / w)) * 1048576.0 + 0.5) AS BIGINT) AS f
    FROM per WHERE w > 0)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words,
  CAST(sum(s) AS BIGINT) AS n_sentences, CAST(sum(sy) AS BIGINT) AS n_syllables,
  round(CAST(CAST(sum(f) AS BIGINT) AS DOUBLE) / count(*) / 1048576.0, 6) AS mean_flesch
FROM fx GROUP BY 1""",
    // KS drift: identical integer ECDF-gap numerator |cum1*n2 - cum2*n1|
    // over distinct values, max per type, one double division
    "q188_ks_drift" ->
      """WITH sides AS (SELECT event_type, value AS v,
      CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS h1
    FROM events),
  bv AS (SELECT event_type, v, CAST(sum(h1) AS BIGINT) AS c1,
      CAST(sum(1 - h1) AS BIGINT) AS c2 FROM sides GROUP BY 1, 2),
  tot AS (SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
      CAST(sum(c2) AS BIGINT) AS n2 FROM bv GROUP BY 1),
  cum AS (SELECT event_type, v,
      sum(c1) OVER (PARTITION BY event_type ORDER BY v) AS cum1,
      sum(c2) OVER (PARTITION BY event_type ORDER BY v) AS cum2 FROM bv)
SELECT c.event_type, t.n1, t.n2,
  CAST(max(abs(c.cum1 * t.n2 - c.cum2 * t.n1)) AS BIGINT) AS ks_num,
  round(CAST(CAST(max(abs(c.cum1 * t.n2 - c.cum2 * t.n1)) AS BIGINT) AS DOUBLE)
    / (t.n1 * t.n2), 6) AS ks
FROM cum c JOIN tot t ON c.event_type = t.event_type
GROUP BY 1, 2, 3""",
    // Q17 shape: same decorrelation (per-part integer avg joined back),
    // same integer predicate and cents arithmetic
    "q189_tpch_q17" ->
      """WITH dims AS (SELECT p_partkey, p_brand FROM part
    WHERE p_brand IN ('Brand#2', 'Brand#4')),
  li AS (SELECT l_partkey, p_brand, CAST(l_quantity AS BIGINT) AS q,
      CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem JOIN dims ON l_partkey = p_partkey),
  av AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sum_q,
      CAST(count(*) AS BIGINT) AS n_li FROM li GROUP BY 1)
SELECT li.p_brand, CAST(sum(cents) AS BIGINT) AS rev_cents,
  CAST(count(*) AS BIGINT) AS n_small,
  round(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 / 7.0, 2) AS avg_yearly
FROM li JOIN av ON li.l_partkey = av.l_partkey
WHERE li.q * 5 * av.n_li < av.sum_q
GROUP BY 1""",
    // Winnowing: same packed (hash || 10^9-pos) key, same ROWS 3 PRECEDING
    // window min, same partial-window rule for short docs
    "q190_winnowing" ->
      """WITH g AS (SELECT doc_id, length(text) - 7 AS n_grams,
      unnest(range(1, length(text) - 6)) AS pos, text
    FROM documents WHERE length(text) >= 8),
  h AS (SELECT doc_id, n_grams, pos,
      sha256(substring(text, CAST(pos AS INTEGER), 8))
        || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0') AS key
    FROM g),
  m AS (SELECT doc_id, n_grams, pos,
      min(key) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
    FROM h),
  sel AS (SELECT DISTINCT doc_id, n_grams, mk FROM m
    WHERE pos >= least(4, n_grams)),
  sp AS (SELECT doc_id, n_grams, substring(mk, 1, 64) AS hash,
      1000000000 - CAST(substring(mk, 65, 10) AS BIGINT) AS pos FROM sel)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(count(*) AS BIGINT) AS n_fp,
  round(CAST(count(*) AS DOUBLE) / n_grams, 6) AS density,
  sha256(string_agg(hash, '' ORDER BY pos)) AS fp_sha
FROM sp GROUP BY doc_id, n_grams""",
    // UniMax: same sorted-capacity saturation predicate, same floor
    // divisions, same sha256 shuffle order for the partial epoch
    "q191_unimax" ->
      """WITH sized AS (SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS chars FROM documents),
  pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(chars) AS BIGINT) AS chars_l FROM sized GROUP BY 1),
  pc AS (SELECT lang, n_docs, chars_l, chars_l * 2 AS cap_l FROM pl),
  tot AS (SELECT CAST(sum(chars_l) AS BIGINT) AS total,
      CAST(count(*) AS BIGINT) AS n_langs FROM pc),
  rk AS (SELECT pc.*, t.n_langs, t.total * 2 // 5 AS budget,
      row_number() OVER (ORDER BY pc.cap_l ASC, pc.lang ASC) AS i,
      CAST(coalesce(sum(pc.cap_l) OVER (ORDER BY pc.cap_l ASC, pc.lang ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
    FROM pc CROSS JOIN tot t),
  st AS (SELECT *, (cap_l * (n_langs - i + 1) + cum_prev <= budget) AS sat FROM rk),
  ag AS (SELECT CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT) AS k_sat,
      CAST(sum(CASE WHEN sat THEN cap_l ELSE 0 END) AS BIGINT) AS filled FROM st),
  al AS (SELECT st.lang, st.n_docs, st.chars_l, st.cap_l,
      CAST(CASE WHEN st.sat THEN st.cap_l
        ELSE (st.budget - a.filled) // (st.n_langs - a.k_sat) END AS BIGINT) AS alloc
    FROM st CROSS JOIN ag a),
  a2 AS (SELECT *, CAST(alloc // chars_l AS BIGINT) AS full_epochs,
      CAST(alloc % chars_l AS BIGINT) AS rem_chars FROM al),
  hh AS (SELECT lang, doc_id, chars,
      sha256('unimax:' || CAST(doc_id AS VARCHAR)) AS h FROM sized),
  cm AS (SELECT lang, doc_id, chars,
      CAST(sum(chars) OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS BIGINT) AS cum
    FROM hh),
  fl AS (SELECT c.lang, CAST(count(*) AS BIGINT) AS n_partial,
      CAST(sum(c.chars) AS BIGINT) AS partial_chars,
      sha256(string_agg(CAST(c.doc_id AS VARCHAR), ',' ORDER BY c.doc_id)) AS partial_sha
    FROM cm c JOIN a2 ON c.lang = a2.lang WHERE c.cum <= a2.rem_chars GROUP BY 1)
SELECT a2.lang, a2.n_docs, a2.chars_l, a2.cap_l, a2.alloc, a2.full_epochs, a2.rem_chars,
  CAST(coalesce(f.n_partial, 0) AS BIGINT) AS n_partial,
  CAST(coalesce(f.partial_chars, 0) AS BIGINT) AS partial_chars,
  coalesce(f.partial_sha, sha256('')) AS partial_sha
FROM a2 LEFT JOIN fl f ON a2.lang = f.lang""",
    // Q18 shape: one HAVING aggregate reused, same cents arithmetic and
    // (total_cents desc, orderkey) tie-break
    "q192_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
  CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents, b.sum_qty
FROM big b JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY total_cents DESC, o.o_orderkey ASC LIMIT 100""",
    // Q13 shape: same join-side priority exclusion, same coalesce-to-zero
    "q193_tpch_q13" ->
      """WITH pc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
    FROM orders WHERE o_orderpriority <> '4-NOT SPECIFIED' GROUP BY 1)
SELECT CAST(coalesce(cnt, 0) AS BIGINT) AS c_count,
  CAST(count(*) AS BIGINT) AS custdist
FROM customer LEFT JOIN pc ON c_custkey = o_custkey
GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    // Q14 shape: same e4 fixed point, same month formatting, one division
    "q194_tpch_q14" ->
      """WITH li AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_partkey,
    CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4 FROM lineitem)
SELECT ship_month,
  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) AS BIGINT) AS promo_rev_e4,
  CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) AS DOUBLE)
    / CAST(sum(rev_e4) AS DOUBLE), 6) AS promo_share
FROM li JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 1""",
    // Q22 shape: exact integer cross-multiplied average predicate, NOT
    // EXISTS mirrors the engine's left-anti join
    "q195_tpch_q22" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment,
    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
    FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')),
  av AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_sum,
    CAST(count(*) AS BIGINT) AS pos_n FROM cust WHERE bal_cents > 0)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
  CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
FROM cust CROSS JOIN av
WHERE bal_cents * pos_n > pos_sum
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1""",
    // Q10 shape: same quarter bounds, per-order partial agg, cents/e4
    // arithmetic and (revenue desc, custkey) tie-break
    "q196_tpch_q10" ->
      """WITH li AS (SELECT l_orderkey,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_e4,
    CAST(count(*) AS BIGINT) AS n_ret
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
  oc AS (SELECT o_custkey, CAST(sum(rev_e4) AS BIGINT) AS revenue_e4,
    CAST(sum(n_ret) AS BIGINT) AS n_returned
    FROM orders JOIN li ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01' GROUP BY 1)
SELECT c_custkey, c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
  revenue_e4, n_returned
FROM oc JOIN customer ON o_custkey = c_custkey
ORDER BY revenue_e4 DESC, c_custkey ASC LIMIT 20""",
    // JSD: same shared-terms decomposition, same 2^40 fixed-point per-term
    // contributions, same closed-form ln2 single-side remainder
    "q197_jsd_sources" ->
      """WITH occ AS (SELECT source AS g,
    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token FROM documents),
  cnt AS (SELECT g, token, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2),
  tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
  a AS (SELECT cnt.g AS ga, token, c AS ca, n AS na FROM cnt JOIN tot ON cnt.g = tot.g),
  b AS (SELECT cnt.g AS gb, token, c AS cb, n AS nb FROM cnt JOIN tot ON cnt.g = tot.g),
  sh AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_shared_terms,
      CAST(sum(ca) AS BIGINT) AS sh_ca, CAST(sum(cb) AS BIGINT) AS sh_cb,
      CAST(sum(CAST(floor(CAST(ca AS DOUBLE) / na
        * ln(2.0 * ca * nb / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
        * 1099511627776.0 + 0.5) AS BIGINT)) AS BIGINT) AS sfa,
      CAST(sum(CAST(floor(CAST(cb AS DOUBLE) / nb
        * ln(2.0 * cb * na / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
        * 1099511627776.0 + 0.5) AS BIGINT)) AS BIGINT) AS sfb
    FROM a JOIN b ON a.token = b.token AND ga < gb GROUP BY 1, 2),
  pr AS (SELECT t1.g AS ga, t1.n AS na, t2.g AS gb, t2.n AS nb
    FROM tot t1 CROSS JOIN tot t2 WHERE t1.g < t2.g)
SELECT pr.ga AS src_a, pr.gb AS src_b,
  CAST(coalesce(sh.n_shared_terms, 0) AS BIGINT) AS n_shared_terms,
  round(0.5 * ((CAST(coalesce(sfa, 0) AS DOUBLE) + CAST(coalesce(sfb, 0) AS DOUBLE))
      / 1099511627776.0
    + ln(2.0) * (CAST(na - coalesce(sh_ca, 0) AS DOUBLE) / na
               + CAST(nb - coalesce(sh_cb, 0) AS DOUBLE) / nb)), 6) AS jsd
FROM pr LEFT JOIN sh ON pr.ga = sh.ga AND pr.gb = sh.gb
ORDER BY src_a, src_b""",
    // Entropy: same fixed-point ln of integer counts, exact moments
    "q198_entropy" ->
      """WITH occ AS (SELECT source AS g,
    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token FROM documents),
  cnt AS (SELECT g, token, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2),
  ag AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
      CAST(count(*) AS BIGINT) AS n_types,
      CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
    FROM cnt GROUP BY 1)
SELECT g AS source, n_tokens, n_types,
  round(ln(CAST(n_tokens AS DOUBLE)) - CAST(s AS DOUBLE) / n_tokens / 1048576.0, 6) AS entropy,
  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr
FROM ag ORDER BY source""",
    // AUC: same fixed-point score buckets, same two running sums over the
    // distinct-score frame, same exact 2U midrank arithmetic
    "q199_auc" -> dkAucSql,
    // Streamed-state twin of q199: the per-vector probe score is a pure
    // row function, so AUC from the two-wave maintained scored state must
    // equal the same full-corpus ground truth
    "q260_auc_stream" -> dkAucSql,
    // Temperature mix: sqrt is correctly rounded on both engines, same 2^20
    // fixed point, same floor-integer allocation
    "q200_temperature_mix" ->
      """WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(length(text)) AS BIGINT) AS chars_l FROM documents GROUP BY 1),
  fxt AS (SELECT *, CAST(floor(sqrt(CAST(chars_l AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS fx
    FROM pl),
  nm AS (SELECT CAST(sum(fx) AS BIGINT) AS sfx FROM fxt)
SELECT lang, n_docs, chars_l,
  round(CAST(fx AS DOUBLE) / sfx, 6) AS weight,
  CAST((1000000 * fx) // sfx AS BIGINT) AS alloc_chars,
  round(CAST(1000000 AS DOUBLE) * fx / sfx / chars_l, 6) AS epochs
FROM fxt CROSS JOIN nm ORDER BY lang""",
    // Prototypes: same 2^10 component quantization, same integer
    // common-denominator distance, row_number mirrors GroupedTopK
    "q201_prototypes" ->
      """WITH q AS (SELECT vec_id, label, di.i,
    CAST(floor(CAST(embedding[di.i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
    FROM embeddings CROSS JOIN range(1, 65) di(i)),
  cent AS (SELECT label, i, CAST(sum(q) AS BIGINT) AS s,
      CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
  d2 AS (SELECT q.vec_id, q.label, cent.n,
      CAST(sum((q.q * cent.n - cent.s) * (q.q * cent.n - cent.s)) AS BIGINT) AS d2s
    FROM q JOIN cent ON q.label = cent.label AND q.i = cent.i
    GROUP BY 1, 2, 3),
  rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY label
      ORDER BY d2s DESC, vec_id ASC) AS INTEGER) AS rank FROM d2)
SELECT label, rank, vec_id, n AS n_label,
  round(CAST(d2s AS DOUBLE) / n / n / 1048576.0, 6) AS dist2
FROM rk WHERE rank <= 3 ORDER BY label, rank""",
    // Q19 shape: same three (brand, size, quantity) conjunctions
    "q202_tpch_q19" ->
      """SELECT p_brand,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
    AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
    AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
    AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 50)
GROUP BY 1 ORDER BY 1""",
    // Q7 shape: same nation pair, ship-year window, e4 arithmetic
    "q203_tpch_q7" ->
      """WITH nat AS (SELECT n_nationkey, n_name FROM nation
    WHERE n_name IN ('NATION_1', 'NATION_2')),
  sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
    JOIN nat ON s_nationkey = n_nationkey),
  cn AS (SELECT c_custkey, n_name AS cust_nation FROM customer
    JOIN nat ON c_nationkey = n_nationkey),
  onn AS (SELECT o_orderkey, cust_nation FROM orders
    JOIN cn ON o_custkey = c_custkey)
SELECT supp_nation, cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN sn ON l_suppkey = s_suppkey
JOIN onn ON l_orderkey = o_orderkey
WHERE year(l_shipdate) BETWEEN 1996 AND 1997
  AND supp_nation <> cust_nation
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // RFM: same integer day/cent metrics, same ntile tie-breaks
    "q204_rfm" ->
      """WITH p AS (SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'),
  pu AS (SELECT user_id, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS frequency,
      CAST(sum(cents) AS BIGINT) AS monetary_cents FROM p GROUP BY 1),
  an AS (SELECT max(ts) AS anchor_ts FROM p),
  sc AS (SELECT pu.*, CAST(date_diff('day', CAST(last_ts AS DATE),
      CAST(anchor_ts AS DATE)) AS BIGINT) AS recency_days FROM pu CROSS JOIN an),
  qq AS (SELECT user_id, recency_days, frequency, monetary_cents,
      CAST(ntile(4) OVER (ORDER BY recency_days DESC, user_id ASC) AS INTEGER) AS r_q,
      CAST(ntile(4) OVER (ORDER BY frequency ASC, user_id ASC) AS INTEGER) AS f_q,
      CAST(ntile(4) OVER (ORDER BY monetary_cents ASC, user_id ASC) AS INTEGER) AS m_q
    FROM sc)
SELECT *, CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR) AS segment
FROM qq ORDER BY user_id""",
    // Q15 shape: same quarter bounds, exact-integer equality with the max
    "q205_tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_e4,
    CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1),
  mx AS (SELECT max(total_e4) AS max_e4 FROM rev)
SELECT s_suppkey, s_name, total_e4, n_items
FROM rev CROSS JOIN mx JOIN supplier ON l_suppkey = s_suppkey
WHERE total_e4 = max_e4 ORDER BY s_suppkey""",
    // Q4 shape: same EXISTS lateness predicate (calendar-day datediff)
    "q206_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
    AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90)
GROUP BY 1 ORDER BY 1""",
    // Fertility: same token/subtoken regexes, exact tallies, one division
    "q207_fertility" ->
      s"""WITH d AS (SELECT lang,
    len(list_filter(string_split(text, ' '), t -> t <> '')) AS w,
    len(regexp_extract_all(lower(text), '${TextAnalysis.subtokenRegex}')) AS st
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(w) AS BIGINT) AS n_words, CAST(sum(st) AS BIGINT) AS n_subtokens,
  round(CAST(sum(st) AS DOUBLE) / sum(w), 6) AS fertility
FROM d WHERE w > 0 GROUP BY 1 ORDER BY 1""",
    // Importance reweighting: same 2^14 fixed-point floor-division weights,
    // same exact integer ESS moments
    "q208_importance" ->
      """WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(length(text)) AS BIGINT) AS chars_l FROM documents GROUP BY 1),
  tt AS (SELECT CAST(sum(chars_l) AS BIGINT) AS total,
    CAST(count(*) AS BIGINT) AS n_langs FROM pl),
  w AS (SELECT pl.*, tt.total,
    CAST((tt.total * 16384) // (tt.n_langs * pl.chars_l) AS BIGINT) AS w_fx
    FROM pl CROSS JOIN tt),
  mo AS (SELECT CAST(sum(n_docs * w_fx) AS BIGINT) AS s1,
    CAST(sum(n_docs * w_fx * w_fx) AS BIGINT) AS s2 FROM w)
SELECT lang, n_docs, chars_l,
  round(CAST(chars_l AS DOUBLE) / total, 6) AS share,
  round(CAST(w_fx AS DOUBLE) / 16384, 6) AS weight,
  round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(s2 AS DOUBLE), 6) AS ess
FROM w CROSS JOIN mo ORDER BY lang""",
    // Latency banding: same calendar-day datediff, bands, and one division
    "q209_ship_latency" ->
      """WITH j AS (SELECT o_orderpriority,
    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lat
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
  b AS (SELECT o_orderpriority,
    CASE WHEN lat <= 30 THEN '00-30' WHEN lat <= 60 THEN '31-60'
      WHEN lat <= 90 THEN '61-90' ELSE '90+' END AS band FROM j),
  c AS (SELECT o_orderpriority, band, CAST(count(*) AS BIGINT) AS n_items
    FROM b GROUP BY 1, 2)
SELECT o_orderpriority, band, n_items,
  CAST(sum(n_items) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS prio_total,
  round(CAST(n_items AS DOUBLE)
    / sum(n_items) OVER (PARTITION BY o_orderpriority), 6) AS share
FROM c ORDER BY o_orderpriority, band""",
    // Energy VAD: same big-endian s16 stub decode (ASCII text, so ord =
    // byte), integer energies, cross-multiplied above-mean predicate
    "q210_energy_vad" ->
      """WITH d AS (SELECT doc_id, text,
    CAST((length(text) // 2) // 16 AS BIGINT) AS n_frames FROM documents),
  fidx AS (SELECT doc_id, text, n_frames, unnest(range(0, n_frames)) AS fi
    FROM d WHERE n_frames >= 1),
  samp AS (SELECT doc_id, n_frames, fi,
      CAST(ord(substr(text, CAST((fi * 16 + j.j) * 2 + 1 AS INTEGER), 1)) * 256
         + ord(substr(text, CAST((fi * 16 + j.j) * 2 + 2 AS INTEGER), 1))
         - 32768 AS BIGINT) AS s
    FROM fidx, range(0, 16) j(j)),
  fe AS (SELECT doc_id, n_frames, fi, CAST(sum(s * s) AS BIGINT) AS e
    FROM samp GROUP BY 1, 2, 3),
  tot AS (SELECT doc_id, CAST(sum(e) AS BIGINT) AS total FROM fe GROUP BY 1),
  act AS (SELECT fe.doc_id, fe.n_frames, fe.fi,
      (fe.e * fe.n_frames > t.total) AS a, t.total
    FROM fe JOIN tot t ON fe.doc_id = t.doc_id),
  lg AS (SELECT *, lag(a) OVER (PARTITION BY doc_id ORDER BY fi) AS pa FROM act)
SELECT doc_id AS media_id, n_frames,
  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
  CAST(sum(CASE WHEN a AND (pa IS NULL OR NOT pa) THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
  round(CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE) / n_frames, 6) AS active_ratio,
  CAST(max(total) // n_frames AS BIGINT) AS mean_energy
FROM lg GROUP BY 1, 2""",
    // Poisson-bootstrap CI: same per-item sha digests, same 16-bit
    // per-replica uniform windows, same inverse-CDF thresholds
    // floor(cdf*2^16), replica
    // weighted means as one IEEE double division of exact integer sums
    "q211_bootstrap_ci" -> {
      // mirrors EventAnalytics.bootstrapCi EXACTLY: per-ITEM digest = 3
      // concatenated sha256('pb:'||g||':{0,1,2}:'||id) hex strings (192
      // chars = 48 independent 16-bit uniforms); replica r reads the 4 hex
      // chars at offset (r-1)*4 as base-16; the eight thresholds are
      // floor(P(Poisson(1) <= k) * 2^16) for k = 0..7
      val u = "(" + (0 until 4).map { j =>
        val mult = Seq(4096, 256, 16, 1)(j)
        s"(strpos('$hexDigits', substr(it.dg, CAST((r.r - 1) * 4 + ${j + 1}" +
          s" AS INTEGER), 1)) - 1) * $mult"
      }.mkString(" + ") + ")"
      s"""WITH it AS (SELECT event_type AS g, event_id,
    CAST(round(value * 100) AS BIGINT) AS cents,
    sha256('pb:' || event_type || ':0:' || CAST(event_id AS VARCHAR))
      || sha256('pb:' || event_type || ':1:' || CAST(event_id AS VARCHAR))
      || sha256('pb:' || event_type || ':2:' || CAST(event_id AS VARCHAR))
      AS dg FROM events),
  nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS total FROM it GROUP BY 1),
  wt AS (SELECT it.g AS g, CAST(r.r AS BIGINT) AS r, it.cents AS cents,
      CAST(CASE WHEN $u < 24109 THEN 0
           WHEN $u < 48218 THEN 1
           WHEN $u < 60273 THEN 2
           WHEN $u < 64291 THEN 3
           WHEN $u < 65296 THEN 4
           WHEN $u < 65497 THEN 5
           WHEN $u < 65530 THEN 6
           WHEN $u < 65535 THEN 7
           ELSE 8 END AS BIGINT) AS w
    FROM it, range(1, 41) r(r)),
  sm AS (SELECT g, r, CAST(sum(w * cents) AS BIGINT) AS s,
      CAST(sum(w) AS BIGINT) AS wsum FROM wt GROUP BY 1, 2),
  mm AS (SELECT sm.g AS g, sm.r AS r,
      CASE WHEN sm.wsum > 0 THEN CAST(sm.s AS DOUBLE) / CAST(sm.wsum AS DOUBLE)
           ELSE CAST(nn.total AS DOUBLE) / CAST(nn.n AS DOUBLE) END AS m
    FROM sm JOIN nn ON sm.g = nn.g),
  rk AS (SELECT g, r, m,
      row_number() OVER (PARTITION BY g ORDER BY m ASC, r ASC) AS k FROM mm)
SELECT nn.g AS event_type, nn.n,
  round(CAST(nn.total AS DOUBLE) / nn.n, 6) AS mean_cents,
  round(lo.m, 6) AS ci_lo,
  round(hi.m, 6) AS ci_hi
FROM nn JOIN rk lo ON nn.g = lo.g AND lo.k = 3
JOIN rk hi ON nn.g = hi.g AND hi.k = 38
ORDER BY 1"""
    },
    // Coreset: the same Gonzalez greedy unrolled step by step — identical
    // 2^10 quantization, integer distances, (mind2 desc, vec_id) argmax
    "q212_coreset" -> {
      def d2(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> ($a.qv[i] - $b.qv[i]) * ($a.qv[i] - $b.qv[i])))"
      val steps = (3 to 4).map { j =>
        s"""c$j AS (SELECT c${j - 1}.vec_id, c${j - 1}.qv,
    least(c${j - 1}.mind2, ${d2(s"c${j - 1}", s"s${j - 1}")}) AS mind2
  FROM c${j - 1}, s${j - 1} WHERE c${j - 1}.vec_id <> s${j - 1}.vec_id),
  s$j AS (SELECT vec_id, qv, mind2 FROM c$j
    ORDER BY mind2 DESC, vec_id ASC LIMIT 1)"""
      }.mkString(",\n  ")
      s"""WITH q AS (SELECT vec_id, list_transform(range(1, 65),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qv
    FROM embeddings),
  s1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id ASC LIMIT 1),
  c2 AS (SELECT q.vec_id, q.qv, ${d2("q", "s1")} AS mind2
    FROM q, s1 WHERE q.vec_id <> s1.vec_id),
  s2 AS (SELECT vec_id, qv, mind2 FROM c2
    ORDER BY mind2 DESC, vec_id ASC LIMIT 1),
  $steps
SELECT CAST(1 AS INTEGER) AS rank, vec_id, 0.0 AS dist2 FROM s1
UNION ALL SELECT CAST(2 AS INTEGER), vec_id,
  round(CAST(mind2 AS DOUBLE) / 1048576.0, 6) FROM s2
UNION ALL SELECT CAST(3 AS INTEGER), vec_id,
  round(CAST(mind2 AS DOUBLE) / 1048576.0, 6) FROM s3
UNION ALL SELECT CAST(4 AS INTEGER), vec_id,
  round(CAST(mind2 AS DOUBLE) / 1048576.0, 6) FROM s4
ORDER BY rank"""
    },
    // Daily bands: same nearest-rank integer arithmetic, same tie-break
    "q213_daily_bands" ->
      """WITH b AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, event_id,
    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
  r AS (SELECT day, event_type, cents,
      CAST(row_number() OVER (PARTITION BY day, event_type
        ORDER BY cents ASC, event_id ASC) AS BIGINT) AS rn,
      CAST(count(*) OVER (PARTITION BY day, event_type) AS BIGINT) AS n
    FROM b)
SELECT day, event_type, max(n) AS n,
  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT) AS p50_cents,
  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS BIGINT) AS p90_cents,
  CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS BIGINT) AS p99_cents
FROM r GROUP BY 1, 2 ORDER BY 1, 2""",
    // Q21 shape: same lateness predicate and per-order distinct counts
    "q214_tpch_q21" ->
      """WITH po AS (SELECT l_orderkey,
    CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
    CAST(count(DISTINCT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
      CAST(l_shipdate AS DATE)) > 90 THEN l_suppkey END) AS BIGINT) AS n_late_supp,
    max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
      CAST(l_shipdate AS DATE)) > 90 THEN l_suppkey END) AS late_supp
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM po JOIN supplier ON late_supp = s_suppkey
WHERE n_late_supp = 1 AND n_supp > 1
GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey ASC LIMIT 20""",
    // Benford: same fixed-point constants and per-digit re-fixed terms
    "q215_benford" ->
      """WITH dg AS (SELECT event_type,
    CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
    FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0),
  c AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS o FROM dg GROUP BY 1, 2),
  nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY 1),
  grid AS (SELECT nn.event_type, nn.n, CAST(dd.d AS INTEGER) AS d
    FROM nn, range(1, 10) dd(d)),
  t AS (SELECT g.event_type, g.n, g.d, CAST(coalesce(c.o, 0) AS BIGINT) AS o,
      CAST(floor(ln(1.0 + 1.0 / g.d) / ln(10.0) * 1024.0 + 0.5) AS BIGINT) AS pfx
    FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.d = c.d),
  f AS (SELECT event_type, n,
      CAST(floor(
        CAST((o * 1024 - n * pfx) AS DOUBLE) * (o * 1024 - n * pfx)
        / (CAST(n AS DOUBLE) * pfx * 1024.0)
        * 1048576.0 + 0.5) AS BIGINT) AS term_fx
    FROM t)
SELECT event_type, max(n) AS n,
  round(CAST(sum(term_fx) AS DOUBLE) / 1048576.0, 6) AS chi2
FROM f GROUP BY 1 ORDER BY 1""",
    // Lift: same fixed-point probe score, ntile floor distribution, exact
    // counts with one division per column
    "q216_lift" ->
      """WITH d AS (SELECT vec_id, label,
    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm,
    CAST(embedding[1] AS DOUBLE) AS e1 FROM embeddings),
  sc AS (SELECT vec_id, label, CAST(floor(CASE WHEN nrm = 0.0 THEN 0.0
      ELSE e1 / sqrt(nrm) END * 1073741824.0 + 0.5) AS BIGINT) AS f FROM d),
  dec AS (SELECT label, CAST(ntile(10) OVER (ORDER BY f DESC, vec_id ASC) AS INTEGER) AS decile
    FROM sc),
  per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
    FROM dec GROUP BY 1),
  tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n, CAST(sum(n_pos) AS BIGINT) AS tot_pos
    FROM per),
  cum AS (SELECT per.*, CAST(sum(n_pos) OVER (ORDER BY decile
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos FROM per)
SELECT decile, n, n_pos,
  round(CAST(n_pos AS DOUBLE) / n, 6) AS rate,
  CASE WHEN tot_pos = 0 THEN CAST(NULL AS DOUBLE)
    ELSE round(CAST(n_pos AS DOUBLE) * tot_n / n / tot_pos, 6) END AS lift,
  CASE WHEN tot_pos = 0 THEN CAST(NULL AS DOUBLE)
    ELSE round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) END AS cum_gain
FROM cum CROSS JOIN tot ORDER BY decile""",
    // Q6 shape: same round-cent integer band and quantity cap
    "q217_tpch_q6" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
  AND CAST(l_quantity AS BIGINT) < 24""",
    // Q8 shape: same region/type/nation constants, conditional aggregate
    "q218_tpch_q8" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
    CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4
    FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_type = 'PROMO'),
  ords AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year
    FROM orders WHERE o_custkey IN (SELECT c_custkey
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')),
  tgt AS (SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_2')
SELECT o_year,
  CAST(sum(CASE WHEN l_suppkey IN (SELECT s_suppkey FROM tgt)
    THEN rev_e4 ELSE 0 END) AS BIGINT) AS nation_e4,
  CAST(sum(rev_e4) AS BIGINT) AS total_e4,
  CAST(count(*) AS BIGINT) AS n_items,
  round(CAST(sum(CASE WHEN l_suppkey IN (SELECT s_suppkey FROM tgt)
    THEN rev_e4 ELSE 0 END) AS DOUBLE) / sum(rev_e4), 6) AS mkt_share
FROM li JOIN ords ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1""",
    // Q11 shape: same exact cross-multiplied mean-relative threshold
    "q219_part_value_share" ->
      """WITH pp AS (SELECT l_partkey,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS value_e4,
    CAST(count(*) AS BIGINT) AS n_items FROM lineitem GROUP BY 1),
  t AS (SELECT CAST(sum(value_e4) AS BIGINT) AS total_e4,
    CAST(count(*) AS BIGINT) AS n_parts FROM pp)
SELECT l_partkey, value_e4, n_items,
  round(CAST(value_e4 AS DOUBLE) / total_e4, 6) AS share
FROM pp CROSS JOIN t WHERE value_e4 * n_parts * 4 > total_e4 * 5
ORDER BY value_e4 DESC, l_partkey""",
    // Q16 shape: same NOT-predicates and acctbal-floor NOT IN
    "q220_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size NOT IN (3, 14, 23, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // Calibration: same fixed-point probe score, integer equal-width bins
    "q221_calibration" ->
      """WITH d AS (SELECT vec_id, label,
    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm,
    CAST(embedding[1] AS DOUBLE) AS e1 FROM embeddings),
  sc AS (SELECT label, CAST(floor(CASE WHEN nrm = 0.0 THEN 0.0
      ELSE e1 / sqrt(nrm) END * 1073741824.0 + 0.5) AS BIGINT) AS f FROM d),
  b AS (SELECT label, f, CAST(least(9, greatest(0,
      ((f + 1073741824) * 10) // 2147483649)) AS INTEGER) AS bin FROM sc),
  g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(f) AS BIGINT) AS f_sum,
      CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
    FROM b GROUP BY 1)
SELECT bin, n, n_pos,
  round((CAST(f_sum AS DOUBLE) / n / 1073741824.0 + 1.0) / 2.0, 6) AS pred,
  round(CAST(n_pos AS DOUBLE) / n, 6) AS rate,
  round(CAST(n_pos AS DOUBLE) / n
    - (CAST(f_sum AS DOUBLE) / n / 1073741824.0 + 1.0) / 2.0, 6) AS gap
FROM g ORDER BY bin""",
    // Join-size estimate: same sha-derived CMS cells, exact keyed audit
    "q222_join_size_est" -> {
      val h = "sha256('cms' || CAST(j.j AS VARCHAR) || ':' || CAST(key AS VARCHAR))"
      val cell = s"((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) % 65536)"
      s"""WITH lc AS (SELECT CAST(l_orderkey AS VARCHAR) AS key,
    CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
  rc AS (SELECT CAST(o_orderkey AS VARCHAR) AS key,
    CAST(count(*) AS BIGINT) AS cnt FROM orders GROUP BY 1),
  ga AS (SELECT CAST(j.j AS INTEGER) AS j, $cell AS cell,
      CAST(sum(cnt) AS BIGINT) AS cellsum
    FROM lc, range(0, 4) j(j) GROUP BY 1, 2),
  gb AS (SELECT CAST(j.j AS INTEGER) AS j, $cell AS cell,
      CAST(sum(cnt) AS BIGINT) AS cellsum
    FROM rc, range(0, 4) j(j) GROUP BY 1, 2),
  dots AS (SELECT ga.j, CAST(sum(ga.cellsum * gb.cellsum) AS BIGINT) AS dot
    FROM ga JOIN gb ON ga.j = gb.j AND ga.cell = gb.cell GROUP BY 1),
  est AS (SELECT CAST(min(dot) AS BIGINT) AS est_pairs FROM dots),
  ex AS (SELECT CAST(coalesce(sum(lc.cnt * rc.cnt), 0) AS BIGINT) AS exact_pairs
    FROM lc JOIN rc ON lc.key = rc.key)
SELECT CAST(4 AS INTEGER) AS d, CAST(65536 AS INTEGER) AS w, est_pairs,
  exact_pairs,
  round(CASE WHEN exact_pairs = 0 THEN CAST(NULL AS DOUBLE)
    ELSE CAST(est_pairs - exact_pairs AS DOUBLE) / exact_pairs END, 6) AS rel_err
FROM est CROSS JOIN ex"""
    },
    // Covariance audit: same 2^10 quantization, exact integer moments,
    // IEEE-exact sqrt/division, same (|corr| desc, i, j) cut
    "q223_embed_cov" ->
      """WITH q AS (SELECT vec_id, CAST(di.i - 1 AS INTEGER) AS i,
    CAST(floor(CAST(embedding[di.i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS qv
    FROM embeddings CROSS JOIN range(1, 65) di(i)),
  m AS (SELECT i, CAST(sum(qv) AS BIGINT) AS sq,
      CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
  pr AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS s
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2),
  diag AS (SELECT pr.i AS di, CAST(m.n * pr.s - m.sq * m.sq AS BIGINT) AS var_num,
      m.sq, m.n FROM pr JOIN m ON pr.i = m.i AND pr.j = pr.i),
  o AS (SELECT p.i, p.j,
      CAST(da.n * p.s - da.sq * db.sq AS BIGINT) AS cov_num,
      CASE WHEN da.var_num = 0 OR db.var_num = 0 THEN CAST(NULL AS DOUBLE)
        ELSE round(CAST(da.n * p.s - da.sq * db.sq AS DOUBLE)
          / (sqrt(CAST(da.var_num AS DOUBLE)) * sqrt(CAST(db.var_num AS DOUBLE))),
          6) END AS corr
    FROM pr p JOIN diag da ON p.i = da.di JOIN diag db ON p.j = db.di
    WHERE p.j > p.i)
SELECT * FROM o ORDER BY abs(corr) DESC NULLS LAST, i, j LIMIT 20""",
    // Hubness: same fixed-count hash-ordered query sample (first 256
    // vec_ids by sha256('hubq:' id) — identical hex strings on both
    // engines), same cosine + (score desc, vec_id) rank, self excluded,
    // top-20 by (k_occ desc, vec_id)
    "q224_hubness" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
    ORDER BY sha256('hubq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
  s AS (SELECT q.qid AS query_id, e.vec_id,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, 65), i -> CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
  sc AS (SELECT query_id, vec_id,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk
    FROM sc),
  knn AS (SELECT query_id, vec_id FROM r WHERE rnk <= 5),
  occ AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS k_occ FROM knn GROUP BY 1),
  t AS (SELECT CAST(count(*) AS BIGINT) AS n_slots FROM knn)
SELECT vec_id, k_occ, round(CAST(k_occ AS DOUBLE) / n_slots, 6) AS slot_share
FROM occ CROSS JOIN t ORDER BY k_occ DESC, vec_id LIMIT 20""",
    // Matryoshka: same probe set, both arms ranked (score desc, vec_id),
    // overlap counted on the (query, vec) equi-join
    "q225_matryoshka" -> {
      def arm(n: Int) =
        s"""SELECT q.qid AS query_id, e.vec_id,
    list_sum(list_transform(range(1, ${n + 1}), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS dot,
    list_sum(list_transform(range(1, ${n + 1}), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) AS na,
    list_sum(list_transform(range(1, ${n + 1}), i -> CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE))) AS nb
  FROM embeddings e CROSS JOIN q"""
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
  sf AS (${arm(64)}), st AS (${arm(16)}),
  rf AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END DESC,
        vec_id ASC) AS rnk FROM sf),
  rt AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END DESC,
        vec_id ASC) AS rnk FROM st),
  ov AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM (SELECT * FROM rf WHERE rnk <= 5) f
    JOIN (SELECT * FROM rt WHERE rnk <= 5) t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id GROUP BY 1)
SELECT q.qid AS query_id, CAST(5 AS INTEGER) AS k,
  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
  round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 5, 6) AS overlap_frac
FROM q LEFT JOIN ov ON q.qid = ov.query_id ORDER BY 1"""
    },
    // Windowed funnel: same greedy-earliest transitions under the same
    // 7-day gap, same step-frame conversion divisions
    "q226_windowed_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
  f1 AS (SELECT user_id, min(t) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
  f2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN f1 ON e.user_id = f1.user_id
    WHERE e.event_type = 'click' AND e.t > f1.t
      AND e.t <= f1.t + INTERVAL 604800 SECOND GROUP BY 1),
  f3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN f2 ON e.user_id = f2.user_id
    WHERE e.event_type = 'purchase' AND e.t > f2.t
      AND e.t <= f2.t + INTERVAL 604800 SECOND GROUP BY 1),
  c AS (SELECT CAST(1 AS INTEGER) AS step, CAST(count(*) AS BIGINT) AS n_users FROM f1
    UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM f2
    UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM f3),
  x AS (SELECT step, n_users,
      lag(n_users) OVER (ORDER BY step) AS prev,
      first_value(n_users) OVER (ORDER BY step
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS frst FROM c)
SELECT step, n_users,
  round(CAST(n_users AS DOUBLE) / coalesce(prev, n_users), 6) AS conv_prev,
  round(CAST(n_users AS DOUBLE) / frst, 6) AS conv_first
FROM x ORDER BY step""",
    // Cohort LTV: same anchor-week indexing as q93, exact cents, the
    // cumulative window over the cohort x offset frame
    "q227_cohort_ltv" ->
      """WITH e AS (SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS t FROM events),
  f AS (SELECT user_id,
      CAST(floor(date_diff('day', DATE '2024-01-01', CAST(min(t) AS DATE)) / 7.0) AS BIGINT) AS cohort_week
    FROM e GROUP BY 1),
  sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users FROM f GROUP BY 1),
  p AS (SELECT e.user_id, f.cohort_week,
      CAST(floor(date_diff('day', DATE '2024-01-01', CAST(e.t AS DATE)) / 7.0) AS BIGINT)
        - f.cohort_week AS week_offset,
      CAST(round(e.value * 100) AS BIGINT) AS cents
    FROM e JOIN f ON e.user_id = f.user_id WHERE e.event_type = 'purchase'),
  cells AS (SELECT cohort_week, week_offset, CAST(sum(cents) AS BIGINT) AS revenue_cents,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers FROM p GROUP BY 1, 2),
  cum AS (SELECT *, CAST(sum(revenue_cents) OVER (PARTITION BY cohort_week
      ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_cents FROM cells)
SELECT cum.cohort_week, week_offset, revenue_cents, n_buyers, cum_cents,
  sz.cohort_users,
  round(CAST(cum_cents AS DOUBLE) / sz.cohort_users, 6) AS ltv_cents_per_user
FROM cum JOIN sz ON cum.cohort_week = sz.cohort_week
ORDER BY 1, 2""",
    // Group split: same sha-derived group bucket, same cuts, same audit
    "q228_group_split" -> {
      val h = "sha256('grp:' || CAST(user_id AS VARCHAR))"
      val b = s"((((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) * 256 + " +
        s"${dkByte(h, "2")}) * 256 + ${dkByte(h, "3")}) % 10000)"
      s"""WITH t AS (SELECT user_id,
    CASE WHEN $b < 8000 THEN 'train' WHEN $b < 9000 THEN 'val'
      ELSE 'test' END AS split FROM events),
  ps AS (SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_groups FROM t GROUP BY 1),
  st AS (SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS straddle_groups
    FROM (SELECT user_id, count(DISTINCT split) AS ns FROM t GROUP BY 1)),
  tt AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows FROM ps)
SELECT split, n_rows, n_groups,
  round(CAST(n_rows AS DOUBLE) / total_rows, 6) AS row_share, straddle_groups
FROM ps CROSS JOIN tt CROSS JOIN st ORDER BY split"""
    },
    // Welch t: same exact integer moments, same IEEE chain (left-assoc
    // division order mirrored term for term)
    "q229_welch_ttest" ->
      """WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
    FROM events WHERE event_type IN ('purchase', 'click')),
  m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS s2
    FROM c GROUP BY 1),
  a AS (SELECT n AS n_a, s AS s_a, s2 AS s2_a FROM m WHERE event_type = 'purchase'),
  b AS (SELECT n AS n_b, s AS s_b, s2 AS s2_b FROM m WHERE event_type = 'click'),
  x AS (SELECT *,
      CASE WHEN n_a < 2 THEN CAST(NULL AS DOUBLE)
        ELSE CAST(n_a * s2_a - s_a * s_a AS DOUBLE) / n_a / (n_a - 1) END AS va,
      CASE WHEN n_b < 2 THEN CAST(NULL AS DOUBLE)
        ELSE CAST(n_b * s2_b - s_b * s_b AS DOUBLE) / n_b / (n_b - 1) END AS vb
    FROM a CROSS JOIN b),
  y AS (SELECT *, va / n_a + vb / n_b AS se2 FROM x)
SELECT 'purchase' AS type_a, 'click' AS type_b, n_a, n_b,
  round(CAST(s_a AS DOUBLE) / n_a, 6) AS mean_a,
  round(CAST(s_b AS DOUBLE) / n_b, 6) AS mean_b,
  CASE WHEN se2 IS NULL OR se2 = 0 THEN CAST(NULL AS DOUBLE)
    ELSE round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
      / sqrt(se2), 6) END AS t_stat,
  CASE WHEN se2 IS NULL OR se2 = 0 THEN CAST(NULL AS DOUBLE)
    ELSE round(se2 * se2 / (va * va / n_a / n_a / (n_a - 1)
      + vb * vb / n_b / n_b / (n_b - 1)), 6) END AS df
FROM y""",
    // Seasonal naive: same day indexing, same 2^20 re-fixed APE terms
    "q230_seasonal_naive" ->
      """WITH daily AS (SELECT event_type,
    CAST(date_diff('day', DATE '2024-01-01',
      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_idx,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS actual
  FROM events GROUP BY 1, 2),
  j AS (SELECT d.event_type, d.day_idx, d.actual, f.actual AS fc
    FROM daily d JOIN daily f
      ON d.event_type = f.event_type AND d.day_idx = f.day_idx + 7)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
  CAST(sum(CASE WHEN actual > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
  CASE WHEN sum(CASE WHEN actual > 0 THEN 1 ELSE 0 END) = 0
    THEN CAST(NULL AS DOUBLE)
    ELSE round(CAST(sum(CASE WHEN actual > 0 THEN CAST(floor(
        CAST(abs(actual - fc) AS DOUBLE) * 1048576.0 / actual + 0.5) AS BIGINT)
      ELSE 0 END) AS DOUBLE) / 1048576.0
      / sum(CASE WHEN actual > 0 THEN 1 ELSE 0 END), 6) END AS mape,
  round(CAST(sum(fc - actual) AS DOUBLE) / count(*), 6) AS bias_cents
FROM j GROUP BY 1 ORDER BY 1""",
    // Q9 shape: same pattern filter, same e4 profit arithmetic
    "q231_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT))
    - CAST(round(p_retailprice * 100) AS BIGINT)
      * CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS profit_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%rod%'
GROUP BY 1, 2 ORDER BY 1, 2""",
    // k-anonymity: the QI day-of-week conventions differ by a constant
    // shift across engines — irrelevant, the mapping stays injective and
    // only GROUP SIZES reach the output
    "q232_k_anonymity" ->
      """WITH g AS (SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) AS q1,
    CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS q2,
    CAST(count(*) AS BIGINT) AS cnt,
    CAST(count(DISTINCT CAST(round(value * 100) AS BIGINT) // 1000) AS BIGINT) AS n_sens
  FROM events GROUP BY 1, 2, 3)
SELECT CAST(5 AS INTEGER) AS k, CAST(sum(cnt) AS BIGINT) AS n_rows,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
  CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT) AS rows_at_risk,
  round(CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS DOUBLE)
    / sum(cnt), 6) AS risk_frac,
  CAST(sum(CASE WHEN n_sens = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous_groups,
  round(CAST(sum(CASE WHEN n_sens = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / count(*), 6) AS homogeneous_frac
FROM g""",
    // Compaction plan: same FFD sort, same start-of-prefix bin rule
    "q233_compaction_plan" ->
      """WITH f AS (SELECT source AS part, doc_id AS id,
    CAST(n_chars AS BIGINT) AS bytes,
    CAST(sum(n_chars) OVER (PARTITION BY source
      ORDER BY n_chars DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM documents),
  b AS (SELECT part, CAST((cum - bytes) // 65536 AS INTEGER) AS bin,
      bytes FROM f)
SELECT part, bin, CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(bytes) AS BIGINT) AS bytes,
  round(CAST(sum(bytes) AS DOUBLE) / 65536, 6) AS fill_frac
FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    // Dedup recall: both arms are the q22/q26 oracle constructions
    // verbatim (df-capped exact candidates; banded LSH candidates; the
    // shared jac verification), counts over their thresholded pair sets
    "q234_dedup_recall" -> dedupRecallAuditOracle(dkJaccard),
    // q262: the SAME audit over the sha-sampled half corpus (tok CTE
    // filtered exactly as the engine's sampleHex=8 predicate)
    "q262_dedup_recall_sampled" ->
      dedupRecallAuditOracle(dkJaccardFrom(dkTokSampled)),
    // kNN confusion: same fixed-point neighbourhoods as q182, majority
    // vote tie-broken (votes desc, label asc), row-normalized cells
    "q235_knn_confusion" -> {
      val dot = (x: String, y: String) =>
        s"list_sum(list_transform(range(1, 65), i -> CAST($x.embedding[i] AS DOUBLE)*CAST($y.embedding[i] AS DOUBLE)))"
      s"""WITH v AS (SELECT vec_id, embedding, label FROM embeddings),
  q0 AS (SELECT vec_id, embedding, label FROM v
    ORDER BY sha256('knnq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 4096),
  s AS (SELECT q.vec_id AS qid, q.label AS qlab, i.vec_id AS vid, i.label AS lab,
      ${dot("q", "i")} AS dot, ${dot("q", "q")} AS na, ${dot("i", "i")} AS nb
    FROM q0 q CROSS JOIN v i WHERE i.vec_id <> q.vec_id),
  sc AS (SELECT qid, qlab, vid, lab,
      CAST(floor((CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END) * 1073741824.0 + 0.5) AS BIGINT) AS fx FROM s),
  tk AS (SELECT * FROM (SELECT qid, qlab, lab,
      row_number() OVER (PARTITION BY qid ORDER BY fx DESC, vid ASC) AS rn FROM sc) WHERE rn <= 4),
  votes AS (SELECT qid, qlab, lab, CAST(count(*) AS BIGINT) AS votes
    FROM tk GROUP BY 1, 2, 3),
  pred AS (SELECT * FROM (SELECT qid, qlab, lab,
      row_number() OVER (PARTITION BY qid ORDER BY votes DESC, lab ASC) AS pr
    FROM votes) WHERE pr = 1),
  cells AS (SELECT qlab AS actual, lab AS predicted,
      CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
  rt AS (SELECT actual, CAST(sum(n) AS BIGINT) AS row_n FROM cells GROUP BY 1)
SELECT c.actual, c.predicted, c.n,
  round(CAST(c.n AS DOUBLE) / rt.row_n, 6) AS row_frac
FROM cells c JOIN rt ON c.actual = rt.actual
ORDER BY 1, 2"""
    },
    // Cluster sizes: the q38 recursive-components construction verbatim,
    // folded to the size histogram
    "q238_cluster_sizes" ->
      s"""WITH RECURSIVE $dkTok, $dkShl, $dkShu, $dkClusters,
  sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS size FROM lab GROUP BY 1)
SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
  CAST(size * count(*) AS BIGINT) AS n_docs
FROM sz GROUP BY size ORDER BY size""",
    // Batch MMR: the q65 per-query greedy chains replicated per batch
    // query (suffixed CTEs), same float constants, unioned selections
    "q248_mmr_batch" -> {
      val lam = 0.7
      val om = 1.0 - lam
      val simAB = s"${dkDot("a.emb", "b.emb")} / (sqrt(${dkDot("a.emb", "a.emb")}) * sqrt(${dkDot("b.emb", "b.emb")}))"
      val chains = QBatch.zipWithIndex.map { case (q, qi) =>
        val steps = (2 to 5).map { i =>
          val prev = (1 until i).map(j => s"SELECT id FROM s${qi}_$j").mkString(" UNION ALL ")
          s"""  s${qi}_$i AS (SELECT c.id, c.source, c.score,
      $lam * c.score - $om * greatest(0.0,
        (SELECT max(sim) FROM sims_$qi WHERE sims_$qi.ia = c.id AND sims_$qi.ib IN ($prev))) AS mmr
    FROM short_$qi c WHERE c.id NOT IN ($prev)
    ORDER BY mmr DESC, id ASC LIMIT 1)"""
        }.mkString(",\n")
        s"""  qq_$qi AS (SELECT ${dkVec(s"sha256('${sqlLit(q)}')")} AS qv),
  scored_$qi AS (SELECT c.id, c.source, c.emb,
      ${dkDot("c.emb", s"qq_$qi.qv")} / (sqrt(${dkDot("c.emb", "c.emb")}) * sqrt(${dkDot(s"qq_$qi.qv", s"qq_$qi.qv")})) AS score
    FROM cvec c CROSS JOIN qq_$qi WHERE length(c.text) > 0),
  short_$qi AS (SELECT * FROM scored_$qi ORDER BY score DESC, id ASC LIMIT 20),
  sims_$qi AS (SELECT a.id AS ia, b.id AS ib, $simAB AS sim
    FROM short_$qi a JOIN short_$qi b ON a.id <> b.id),
  s${qi}_1 AS (SELECT id, source, score, $lam * score AS mmr FROM short_$qi
    ORDER BY mmr DESC, id ASC LIMIT 1),
$steps"""
      }.mkString(",\n")
      val sel = QBatch.zipWithIndex.flatMap { case (q, qi) =>
        (1 to 5).map(i =>
          s"""SELECT '${sqlLit(q)}' AS query, $i AS "rank", id, source, score, mmr FROM s${qi}_$i""")
      }.mkString("\n  UNION ALL ")
      s"""WITH $dkChunks,
  chex AS (SELECT id, source, text, sha256(text) AS hx FROM chunks),
  cvec AS (SELECT id, source, text, ${dkVec("hx")} AS emb FROM chex),
$chains,
  all_sel AS ($sel)
SELECT query, CAST("rank" AS INTEGER) AS "rank", id, source,
  round(score, 4) AS relevance, round(mmr, 6) AS mmr FROM all_sel"""
    },
    // Dedup materialization: same components, keep the min-id canonical
    // per cluster plus every unpaired doc
    "q247_dedup_materialize" ->
      s"""WITH RECURSIVE $dkTok, $dkShl, $dkShu, $dkClusters
SELECT d.doc_id, d.source, d.lang FROM documents d
LEFT JOIN lab ON d.doc_id = lab.doc_id
WHERE lab.cluster IS NULL OR lab.cluster = d.doc_id
ORDER BY 1""",
    // Markov stationary: same lead-window transitions, same 2^20 floor
    // fixed point, three unrolled p·P iterations
    "q239_markov_stationary" -> {
      def step(prev: String, out: String) =
        s"""$out AS (SELECT t.to_type AS s,
      CAST(sum(p.p_fx * t.t_fx) // 1048576 AS BIGINT) AS p_fx
    FROM $prev p JOIN t ON p.s = t.from_type GROUP BY 1)"""
      s"""WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
  nx AS (SELECT event_type AS from_type,
      lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM e),
  pr AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
    FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
  ft AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM pr GROUP BY 1),
  t AS (SELECT pr.from_type, pr.to_type,
      CAST(pr.n * 1048576 // ft.n_from AS BIGINT) AS t_fx
    FROM pr JOIN ft ON pr.from_type = ft.from_type),
  states AS (SELECT DISTINCT s FROM (SELECT from_type AS s FROM t
    UNION SELECT to_type FROM t)),
  k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
  p0 AS (SELECT s, CAST(1048576 // k AS BIGINT) AS p_fx FROM states CROSS JOIN k),
  ${step("p0", "p1")},
  ${step("p1", "p2")},
  ${step("p2", "p3")}
SELECT s AS event_type, p_fx,
  round(CAST(p_fx AS DOUBLE) / 1048576.0, 6) AS p
FROM p3 ORDER BY 1"""
    },
    // Spectral probe: the q223 moment CTEs, the covariance numerators
    // mirrored to the full matrix, 2^20 pre-scale by max |entry|
    // (sign-safe floor division through HUGEINT — Spark routes the same
    // multiply through DECIMAL(38,0)), three unrolled power-iteration
    // steps, top-5 by (|loading| desc, dim)
    "q240_spectral_probe" -> {
      def scale(v: String, m: String) =
        s"""CASE WHEN $m = 0 THEN 0
          WHEN $v < 0 THEN -CAST(CAST(-($v) AS HUGEINT) * 1048576 // $m AS BIGINT)
          ELSE CAST(CAST($v AS HUGEINT) * 1048576 // $m AS BIGINT) END"""
      def step(xin: String, y: String, my: String, xout: String) =
        s"""$y AS (SELECT cx.i, CAST(sum(cx.cfx * $xin.xv) AS BIGINT) AS y
    FROM cx JOIN $xin ON cx.j = $xin.jj GROUP BY 1),
  $my AS (SELECT CAST(coalesce(max(abs(y)), 0) AS BIGINT) AS mv FROM $y),
  $xout AS (SELECT i AS jj, ${scale("y", "mv")} AS xv
    FROM $y CROSS JOIN $my)"""
      s"""WITH q AS (SELECT vec_id, CAST(di.i - 1 AS INTEGER) AS i,
    CAST(floor(CAST(embedding[di.i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS qv
    FROM embeddings CROSS JOIN range(1, 65) di(i)),
  m AS (SELECT i, CAST(sum(qv) AS BIGINT) AS sq,
      CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
  pr AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS s
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2),
  cu AS (SELECT p.i, p.j, CAST(ma.n * p.s - ma.sq * mb.sq AS BIGINT) AS c
    FROM pr p JOIN m ma ON p.i = ma.i JOIN m mb ON p.j = mb.i),
  cf AS (SELECT i, j, c FROM cu
    UNION ALL SELECT j, i, c FROM cu WHERE j > i),
  mc AS (SELECT CAST(coalesce(max(abs(c)), 0) AS BIGINT) AS mv FROM cf),
  cx AS (SELECT i, j, ${scale("c", "mv")} AS cfx FROM cf CROSS JOIN mc),
  x0 AS (SELECT i AS jj, CAST(1048576 AS BIGINT) AS xv FROM m),
  ${step("x0", "y1", "m1", "x1")},
  ${step("x1", "y2", "m2", "x2")},
  ${step("x2", "y3", "m3", "x3")},
  t AS (SELECT CAST(coalesce(sum(abs(xv)), 0) AS BIGINT) AS t FROM x3)
SELECT CAST(jj AS INTEGER) AS dim, xv AS loading_fx,
  CASE WHEN t = 0 THEN CAST(NULL AS DOUBLE)
    ELSE round(CAST(abs(xv) AS DOUBLE) / t, 6) END AS share
FROM x3 CROSS JOIN t ORDER BY abs(xv) DESC, dim LIMIT 5"""
    },
    // MAD outliers: same (n+1)//2 nearest-rank medians over the
    // (value, event_id) total order, same integer madK rule
    "q241_mad_outliers" ->
      """WITH i AS (SELECT event_type AS g, event_id,
      CAST(round(value * 100) AS BIGINT) AS cents FROM events),
  n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1),
  r AS (SELECT g, cents,
      row_number() OVER (PARTITION BY g ORDER BY cents, event_id) AS rk FROM i),
  med AS (SELECT r.g, r.cents AS med_cents
    FROM r JOIN n ON r.g = n.g AND r.rk = (n.n + 1) // 2),
  d AS (SELECT i.g, i.event_id, i.cents, med.med_cents,
      abs(i.cents - med.med_cents) AS adev
    FROM i JOIN med ON i.g = med.g),
  r2 AS (SELECT g, adev,
      row_number() OVER (PARTITION BY g ORDER BY adev, event_id) AS rk FROM d),
  mad AS (SELECT r2.g, r2.adev AS mad_cents
    FROM r2 JOIN n ON r2.g = n.g AND r2.rk = (n.n + 1) // 2)
SELECT d.g AS event_type, CAST(count(*) AS BIGINT) AS n,
  min(d.med_cents) AS med_cents, min(mad.mad_cents) AS mad_cents,
  CAST(sum(CASE WHEN d.adev > 3 * mad.mad_cents THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers,
  round(CAST(sum(CASE WHEN d.adev > 3 * mad.mad_cents THEN 1 ELSE 0 END)
    AS DOUBLE) / count(*), 6) AS outlier_frac
FROM d JOIN mad ON d.g = mad.g
GROUP BY 1 ORDER BY 1""",
    // Trimmed mean: same floor(n*p) rank cuts over the same total order
    "q242_trimmed_mean" ->
      """WITH i AS (SELECT event_type AS g, event_id,
      CAST(round(value * 100) AS BIGINT) AS cents FROM events),
  n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1),
  r AS (SELECT g, cents,
      row_number() OVER (PARTITION BY g ORDER BY cents, event_id) AS rk FROM i),
  k AS (SELECT r.g, n.n, r.cents
    FROM r JOIN n ON r.g = n.g
    WHERE r.rk > n.n * 1 // 10 AND r.rk <= n.n - n.n * 1 // 10)
SELECT g AS event_type, min(n) AS n, CAST(count(*) AS BIGINT) AS n_kept,
  round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS trimmed_mean_cents
FROM k GROUP BY 1 ORDER BY 1""",
    // Gini: same ascending (total, user_id) ranks, same exact rank-moment
    // numerator, NULL on zero-total types
    "q243_gini" ->
      """WITH u AS (SELECT event_type AS g, user_id,
      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events GROUP BY 1, 2),
  r AS (SELECT g, x,
      CAST(row_number() OVER (PARTITION BY g ORDER BY x, user_id) AS BIGINT) AS rk
    FROM u)
SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_users,
  CAST(sum(x) AS BIGINT) AS total_cents,
  CASE WHEN sum(x) = 0 THEN CAST(NULL AS DOUBLE)
    ELSE round(CAST(2 * sum(rk * x) - (count(*) + 1) * sum(x) AS DOUBLE)
      / (CAST(count(*) AS DOUBLE) * sum(x)), 6) END AS gini
FROM r GROUP BY 1 ORDER BY 1""",
    // Dup coverage: the q185 block construction verbatim, rolled up to
    // sources through the doc join
    "q236_dup_coverage" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
  nb AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 16.0) AS BIGINT) AS nblk FROM tok WHERE len(toks) > 0),
  blkt AS (SELECT doc_id, i AS idx,
      array_to_string(list_slice(toks, CAST(i * 16 + 1 AS BIGINT), CAST(i * 16 + 16 AS BIGINT)), ' ') AS blk
    FROM (SELECT doc_id, toks, unnest(range(0, nblk)) AS i FROM nb)),
  f1 AS (SELECT blk, min(doc_id) AS fdoc FROM blkt GROUP BY 1),
  f2 AS (SELECT b.blk, b.fdoc, min(t.idx) AS fidx
    FROM f1 b JOIN blkt t ON t.blk = b.blk AND t.doc_id = b.fdoc GROUP BY 1, 2),
  k AS (SELECT t.doc_id,
      (f.fdoc = t.doc_id AND f.fidx = t.idx) AS kept
    FROM blkt t JOIN f2 f ON f.blk = t.blk),
  per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
      CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM k GROUP BY 1)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(p.n_blocks) AS BIGINT) AS n_blocks,
  CAST(sum(p.n_blocks - p.n_kept) AS BIGINT) AS n_dup_blocks,
  round(CAST(sum(p.n_blocks - p.n_kept) AS DOUBLE) / sum(p.n_blocks), 6) AS dup_frac
FROM per p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY 1 ORDER BY 1""",
    // PSI: same bands, same Laplace-smoothed rationals over the observed
    // band union, same 2^20 re-fixed terms
    "q237_psi_drift" ->
      """WITH b AS (SELECT event_type,
    CAST(round(value * 100) AS BIGINT) // 500 AS band,
    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS h1
  FROM events),
  c AS (SELECT event_type, band, CAST(sum(h1) AS BIGINT) AS c1,
      CAST(sum(1 - h1) AS BIGINT) AS c2 FROM b GROUP BY 1, 2),
  t AS (SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
      CAST(sum(c2) AS BIGINT) AS n2, CAST(count(*) AS BIGINT) AS n_bands
    FROM c GROUP BY 1),
  f AS (SELECT c.event_type, t.n1, t.n2, t.n_bands,
      CAST(floor(
        (CAST(c.c1 + 1 AS DOUBLE) / (t.n1 + t.n_bands)
         - CAST(c.c2 + 1 AS DOUBLE) / (t.n2 + t.n_bands))
        * ln(CAST(c.c1 + 1 AS DOUBLE) * (t.n2 + t.n_bands)
             / (CAST(c.c2 + 1 AS DOUBLE) * (t.n1 + t.n_bands)))
        * 1048576.0 + 0.5) AS BIGINT) AS term_fx
    FROM c JOIN t ON c.event_type = t.event_type)
SELECT event_type, n1, n2, n_bands,
  round(CAST(sum(term_fx) AS DOUBLE) / 1048576.0, 6) AS psi
FROM f GROUP BY 1, 2, 3, 4 ORDER BY 1""",
    // Burstiness: exact cf/df integer counts, one division, ranked cut
    "q184_burstiness" ->
      """WITH occ AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token FROM documents),
  st AS (SELECT token, CAST(count(*) AS BIGINT) AS cf,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM occ GROUP BY 1)
SELECT token, cf, df, round(CAST(cf AS DOUBLE) / df, 6) AS burstiness
FROM st WHERE df >= 5
ORDER BY burstiness DESC, cf DESC, token ASC LIMIT 20""",
    // Mutual-kNN margin mining: same 64-dim dot idiom as q24, row_number
    // ranks mirror GroupedTopK, fixed-point cosine sums, one division
    "q179_mutual_knn" -> {
      val dot = (x: String, y: String) =>
        s"list_sum(list_transform(range(1, 65), i -> CAST($x.embedding[i] AS DOUBLE)*CAST($y.embedding[i] AS DOUBLE)))"
      s"""WITH av AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
  bv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
  s AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      ${dot("a", "b")} AS dot, ${dot("a", "a")} AS na, ${dot("b", "b")} AS nb
    FROM av a CROSS JOIN bv b),
  sc AS (SELECT va, vb,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(sqrt(na)*sqrt(nb)) END AS score FROM s),
  fx AS (SELECT va, vb, score,
      CAST(floor(score * 1073741824.0 + 0.5) AS BIGINT) AS f FROM sc),
  tab AS (SELECT * FROM (SELECT va, vb, score, f,
      row_number() OVER (PARTITION BY va ORDER BY score DESC, vb ASC) AS rn FROM fx) WHERE rn <= 4),
  tba AS (SELECT * FROM (SELECT va, vb, f,
      row_number() OVER (PARTITION BY vb ORDER BY score DESC, va ASC) AS rn FROM fx) WHERE rn <= 4),
  sa AS (SELECT va, CAST(sum(f) AS BIGINT) AS sfa FROM tab GROUP BY 1),
  sb AS (SELECT vb, CAST(sum(f) AS BIGINT) AS sfb FROM tba GROUP BY 1),
  mu AS (SELECT t1.va, t1.vb, t1.score, t1.f
    FROM tab t1 JOIN tba t2 ON t1.va = t2.va AND t1.vb = t2.vb)
SELECT m.va AS vec_a, m.vb AS vec_b, round(m.score, 4) AS score,
  round(CAST(m.f AS DOUBLE) * 8.0 / (s1.sfa + s2.sfb), 6) AS margin
FROM mu m JOIN sa s1 ON m.va = s1.va JOIN sb s2 ON m.vb = s2.vb"""
    },
    // Data card: exact integer rollups + single final divisions
    "q178_data_card" ->
      """WITH h AS (SELECT source, lang,
    len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_toks,
    length(text) AS n_chars, sha256(text) AS hx FROM documents),
  dh AS (SELECT hx, count(*) AS n_same FROM h GROUP BY 1),
  j AS (SELECT h.source, h.lang, h.n_toks, h.n_chars, d.n_same FROM h JOIN dh d ON h.hx = d.hx),
  a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_toks) AS BIGINT) AS total_tokens,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
    FROM j GROUP BY 1)
SELECT source, n_docs, total_tokens, total_chars,
  round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS mean_doc_tokens,
  round(CAST(n_en AS DOUBLE) / n_docs, 6) AS en_share,
  round(CAST(n_dup AS DOUBLE) / n_docs, 6) AS dup_rate
FROM a""",
    // RM3 PRF: first pass = dkScored top-5, expansion mining and the
    // fixed-point BM25 re-score mirror Engine.searchPrf term for term
    // (everything CAST AS DOUBLE before the 2.2/1.2/0.25/0.75 literals,
    // the dkBm25Parts convention)
    "q177_prf_search" ->
      s"""$dkScored,
  fb AS (SELECT id FROM scored ORDER BY score DESC, id ASC LIMIT 5),
  ctok AS (SELECT id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM chunks),
  occ AS (SELECT id, unnest(toks) AS token FROM ctok),
  dlt AS (SELECT id, len(toks) AS dl FROM ctok),
  st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dlt),
  dft AS (SELECT token, CAST(count(*) AS DOUBLE) AS dfv
    FROM (SELECT DISTINCT id, token FROM occ) GROUP BY 1),
  fbtf AS (SELECT token, CAST(count(*) AS DOUBLE) AS ftf
    FROM occ JOIN fb USING (id) GROUP BY 1),
  expw AS (SELECT token, w FROM (
      SELECT f.token,
        f.ftf * ln((s.n_docs - d.dfv + 0.5) / (d.dfv + 0.5) + 1.0) AS w,
        row_number() OVER (
          ORDER BY f.ftf * ln((s.n_docs - d.dfv + 0.5) / (d.dfv + 0.5) + 1.0) DESC,
            f.token ASC) AS rn
      FROM fbtf f JOIN dft d USING (token) CROSS JOIN st s
      WHERE f.token NOT IN ('transfer', 'credits')
        AND regexp_full_match(f.token, '[a-z0-9]+'))
    WHERE rn <= 10),
  mx AS (SELECT max(w) AS max_w FROM expw),
  termw AS (SELECT token, CAST(1.0 AS DOUBLE) AS tw
      FROM (VALUES ('transfer'), ('credits')) q(token)
    UNION ALL
    SELECT e.token, 0.5 * e.w / m.max_w AS tw FROM expw e CROSS JOIN mx m),
  ts2 AS (SELECT t.token, t.tw, COALESCE(d.dfv, 0.0) AS dfv
    FROM termw t LEFT JOIN dft d USING (token)),
  tfc AS (SELECT id, token, CAST(count(*) AS DOUBLE) AS tf FROM occ GROUP BY 1, 2),
  contrib AS (SELECT c.id,
      CAST(floor(t.tw * ln((s.n_docs - t.dfv + 0.5) / (t.dfv + 0.5) + 1.0)
        * (c.tf * 2.2) / (c.tf + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))
        * 1048576.0 + 0.5) AS BIGINT) AS cfx
    FROM tfc c JOIN ts2 t USING (token) JOIN dlt l USING (id) CROSS JOIN st s),
  sc2 AS (SELECT id, CAST(sum(cfx) AS BIGINT) AS sfx FROM contrib GROUP BY 1)
SELECT s.id, ch.source, round(CAST(s.sfx AS DOUBLE) / 1048576.0, 6) AS prf_score
FROM sc2 s JOIN chunks ch ON ch.id = s.id
ORDER BY s.sfx DESC, s.id ASC LIMIT 5""",
    // PIT lookup via the CONTAINMENT formulation (valid_from <= ts <
    // valid_to), cross-checking the Spark side's as-of machinery; runs
    // CTE chain shared with q95
    "q176_pit_join" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t, event_id FROM events),
  r AS (SELECT user_id, event_type, t, event_id,
          row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        - row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS run_id FROM e),
  g AS (SELECT user_id, event_type, run_id, min(t) AS valid_from, min(event_id) AS eid0
        FROM r GROUP BY 1, 2, 3),
  g2 AS (SELECT user_id, event_type, valid_from, eid0 FROM (
          SELECT user_id, event_type, valid_from, eid0,
            row_number() OVER (PARTITION BY user_id, valid_from ORDER BY eid0 DESC) AS rk
          FROM g) WHERE rk = 1),
  runs AS (SELECT user_id, event_type, valid_from,
      lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, eid0) AS valid_to FROM g2),
  facts AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events WHERE event_id % 10 = 0)
SELECT f.user_id, f.event_id, f.ts, r.valid_from, r.event_type AS state
FROM facts f JOIN runs r ON r.user_id = f.user_id
  AND r.valid_from <= f.ts AND (r.valid_to IS NULL OR f.ts < r.valid_to)""",
    // KMV overlap: same 6-byte sha256 hash, row_number rank mirrors
    // GroupedTopK's (h asc) heaps, same CASE estimators rounded 4dp.
    // e-notation forces DOUBLE literals — a plain `281474976710656.0`
    // parses as DECIMAL(16,1) in DuckDB and the k_used=256 branch then
    // overflows DECIMAL multiplication at sf0.1 (sf0.01's unions stay
    // under k, so the branch never ran there)
    "q175_kmv_overlap" -> {
      val h = "sha256('kmv:' || CAST(user_id AS VARCHAR))"
      val v6 = (0 to 5).map(j => dkByte(h, j.toString))
        .reduce((a, b) => s"($a) * 256 + ($b)")
      val uMax = s"${1L << 48}e0"
      s"""WITH uh AS (SELECT DISTINCT event_type AS g, CAST($v6 AS BIGINT) AS h FROM events),
  sk AS (SELECT g, h FROM (SELECT g, h,
      row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM uh) WHERE rn <= 256),
  ty AS (SELECT DISTINCT g FROM sk),
  pairs AS (SELECT a.g AS g_a, b.g AS g_b FROM ty a JOIN ty b ON a.g < b.g),
  cand AS (SELECT g_a, g_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
      SELECT p.g_a, p.g_b, s.h, 1 AS in_a, 0 AS in_b FROM pairs p JOIN sk s ON s.g = p.g_a
      UNION ALL
      SELECT p.g_a, p.g_b, s.h, 0 AS in_a, 1 AS in_b FROM pairs p JOIN sk s ON s.g = p.g_b)
    GROUP BY 1, 2, 3),
  un AS (SELECT * FROM (SELECT g_a, g_b, h, in_a, in_b,
      row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rn FROM cand) WHERE rn <= 256),
  es AS (SELECT g_a, g_b, CAST(count(*) AS BIGINT) AS k_used, max(h) AS theta,
      CAST(sum(in_a * in_b) AS BIGINT) AS n_both FROM un GROUP BY 1, 2),
  kt AS (SELECT DISTINCT event_type AS g, user_id AS key FROM events),
  ex AS (SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS exact_inter
    FROM kt a JOIN kt b ON a.key = b.key AND a.g < b.g GROUP BY 1, 2),
  fin AS (SELECT es.g_a, es.g_b, es.k_used,
      round(CASE WHEN es.k_used < 256 THEN CAST(es.k_used AS DOUBLE)
        ELSE (CAST(256 AS DOUBLE) - 1.0) * $uMax / es.theta END, 4) AS union_est,
      round(CAST(es.n_both AS DOUBLE) / es.k_used, 4) AS jaccard,
      round((CAST(es.n_both AS DOUBLE) / es.k_used) *
        (CASE WHEN es.k_used < 256 THEN CAST(es.k_used AS DOUBLE)
          ELSE (CAST(256 AS DOUBLE) - 1.0) * $uMax / es.theta END), 4) AS inter_est,
      COALESCE(ex.exact_inter, 0) AS exact_inter
    FROM es LEFT JOIN ex ON es.g_a = ex.g_a AND es.g_b = ex.g_b)
SELECT g_a, g_b, k_used, union_est, jaccard, inter_est, exact_inter,
  round(CASE WHEN exact_inter = 0 THEN CAST(NULL AS DOUBLE)
    ELSE (inter_est - exact_inter) / exact_inter END, 4) AS rel_err FROM fin"""
    },
    // Daily HLL registers + 7-day rolling register-max merge; dense
    // (day x bucket) spine makes ROWS BETWEEN equal RANGE on both sides
    "q174_hll_daily" -> {
      val byteAt = (h: String, j: Int) => dkByte(h, j.toString)
      val rho = graft.operators.Sketches.rhoExpr(byteAt, "hx")
      val num = graft.operators.Sketches.hllNumerator(64)
      s"""WITH hh AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
    sha256('hll:' || CAST(user_id AS VARCHAR)) AS hx FROM events),
  rr AS (SELECT day, ${byteAt("hx", 0)} % 64 AS bucket, $rho AS rho FROM hh),
  regs AS (SELECT day, bucket, max(rho) AS mrho FROM rr GROUP BY 1, 2),
  bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM regs),
  days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
  buckets AS (SELECT unnest(range(0, 64)) AS bucket),
  dense AS (SELECT d.day, b.bucket, COALESCE(r.mrho, 0) AS mrho
    FROM days d CROSS JOIN buckets b
    LEFT JOIN regs r ON r.day = d.day AND r.bucket = b.bucket),
  roll AS (SELECT day, bucket,
      max(mrho) OVER (PARTITION BY bucket ORDER BY day
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rw FROM dense),
  ag AS (SELECT day,
      CAST(sum(CAST(1 AS BIGINT) << (49 - rw)) AS BIGINT) AS intsum,
      CAST(sum(CASE WHEN rw = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM roll GROUP BY 1)
SELECT day, n_zero, round($num / intsum, 4) AS est FROM ag"""
    },
    // Mirrors Sketches.cmsTopK(d=4, w=1024): same per-row cells from
    // sha256("cms" || j || ":" || token), same weighted build and min-probe
    "q167_cms_topk" -> {
      val cell = (h: String) => s"(${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) % 1024"
      s"""WITH $dkTok,
  tc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(toks) AS token FROM tok) GROUP BY 1),
  pr AS (SELECT token, cnt, j,
      ${cell("sha256('cms' || CAST(j AS VARCHAR) || ':' || token)")} AS cell
    FROM tc CROSS JOIN (VALUES (0), (1), (2), (3)) jt(j)),
  cells AS (SELECT j, cell, CAST(sum(cnt) AS BIGINT) AS cellsum FROM pr GROUP BY 1, 2),
  es AS (SELECT p.token, CAST(min(c.cellsum) AS BIGINT) AS est,
      CAST(min(p.cnt) AS BIGINT) AS exact
    FROM pr p JOIN cells c ON p.j = c.j AND p.cell = c.cell GROUP BY 1)
SELECT token, est, exact, est - exact AS overestimate
FROM es ORDER BY est DESC, token ASC LIMIT 20"""
    },
    // Mirrors Sketches.merkleManifest(64): leaves concatenated in doc_id
    // order per bucket, bucket digests in bucket order for the root
    "q168_merkle" ->
      """WITH l AS (SELECT CAST(doc_id % 64 AS INTEGER) AS bucket, doc_id,
    sha256(CAST(doc_id AS VARCHAR) || ':' || sha256(text)) AS leaf FROM documents),
  b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
    sha256(string_agg(leaf, '' ORDER BY doc_id)) AS digest FROM l GROUP BY 1),
  r AS (SELECT sha256(string_agg(digest, '' ORDER BY bucket)) AS root FROM b)
SELECT bucket, n_docs, digest, root FROM b CROSS JOIN r""",
    // Mirrors Bpe.bpeMerges(8): unrolled merge rounds — same sentinel-
    // wrapped representation, same (cnt desc, lhs, rhs) argmax, same
    // leftmost-greedy replace
    "q170_bpe_merges" -> bpeOracle(8,
      "SELECT * FROM (" +
        (1 to 8).map(k => s"SELECT $k AS iter, lhs, rhs, cnt AS n FROM b$k")
          .mkString(" UNION ALL ") + ")"),
    // Mirrors Bpe.bpeTokenize(8, 20): the q170 trajectory applied, top-20
    // words by (n desc, word)
    "q171_bpe_tokenize" -> bpeOracle(8,
      """SELECT word, n, array_to_string(a, ' ') AS tokens,
  CAST(len(a) AS INTEGER) AS n_symbols
FROM (SELECT word, n,
    list_filter(string_split(replace(sym, chr(1), ''), chr(2)), x -> x <> '') AS a
  FROM s8)
ORDER BY n DESC, word ASC LIMIT 20"""),
    // Per-doc counts under the s8 symbolization; non-vocab words (the
    // printable-ASCII filter) fall out of the left join -> 1 symbol each
    "q186_bpe_token_count" -> bpeOracle(8,
      """, ns AS (SELECT word,
    CAST(len(list_filter(string_split(replace(sym, chr(1), ''), chr(2)), x -> x <> '')) AS BIGINT) AS n_sym
  FROM s8),
  dw AS (SELECT doc_id, unnest(toks) AS word FROM tok)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(coalesce(ns.n_sym, 1)) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN ns.n_sym IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
FROM dw d LEFT JOIN ns ON ns.word = d.word
GROUP BY 1"""),
    // DSIR importance selection: sha256-bucketed unigram models over the
    // en/non-en split, one fixed-point ln per bucket (the q82 recipe),
    // Gumbel-top-k keys from hash uniforms (the q103 recipe, log space)
    "q172_dsir" -> {
      val h = "sha256(token)"
      val feat = s"CAST((${dkByte(h, "0")} * 256 + ${dkByte(h, "1")}) % 256 AS BIGINT)"
      val h2 = "sha256('dsir:' || CAST(doc_id AS VARCHAR))"
      val v = s"((${dkByte(h2, "0")} * 256 + ${dkByte(h2, "1")}) * 256 + ${dkByte(h2, "2")})"
      s"""WITH occr AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
    FROM documents WHERE lang <> 'en'),
  occt AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
    FROM documents WHERE lang = 'en'),
  fr AS (SELECT doc_id, $feat AS feature FROM occr),
  ft AS (SELECT $feat AS feature FROM occt),
  cr AS (SELECT feature, count(*) AS cnt_r FROM fr GROUP BY 1),
  ct AS (SELECT feature, count(*) AS cnt_t FROM ft GROUP BY 1),
  tr AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r FROM cr),
  tt AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t FROM ct),
  fx AS (SELECT cr.feature,
      CAST(floor(ln((CAST(COALESCE(ct.cnt_t, 0) + 1 AS DOUBLE) * CAST(tot_r + 256 AS DOUBLE)) /
        (CAST(cr.cnt_r + 1 AS DOUBLE) * CAST(tot_t + 256 AS DOUBLE))) * 1073741824.0 + 0.5) AS BIGINT) AS sfx
    FROM cr LEFT JOIN ct ON cr.feature = ct.feature CROSS JOIN tr CROSS JOIN tt),
  per AS (SELECT f.doc_id, count(*) AS n_tokens, CAST(sum(x.sfx) AS BIGINT) AS ssfx
    FROM fr f JOIN fx x ON f.feature = x.feature GROUP BY 1),
  g AS (SELECT doc_id, n_tokens,
      CAST(ssfx AS DOUBLE) / 1073741824.0 AS logw,
      CAST(ssfx AS DOUBLE) / 1073741824.0 + (-ln(-ln(u))) AS gkey
    FROM (SELECT doc_id, n_tokens, ssfx,
        (CAST($v AS BIGINT) + 0.5) / 16777216.0 AS u FROM per))
SELECT doc_id, n_tokens, round(logw, 6) AS logw, round(gkey, 6) AS gkey
FROM g ORDER BY gkey DESC, doc_id ASC LIMIT 50"""
    },
    // DDSketch quantiles: same Scala-computed ln(gamma)/gamma literals as
    // the operator (the hllNumerator trick), integer bucket/rank walk,
    // HUGEINT window sums cast back to BIGINT
    "q173_ddsketch" -> {
      val alpha = 0.01
      val gamma = (1.0 + alpha) / (1.0 - alpha)
      val lnG = String.format(java.util.Locale.ROOT, "%.17e", Double.box(math.log(gamma)))
      val g = String.format(java.util.Locale.ROOT, "%.17e", Double.box(gamma))
      s"""WITH c AS (SELECT l_returnflag, CAST(ceil(ln(CAST(l_extendedprice AS DOUBLE)) / $lnG) AS BIGINT) AS bucket, count(*) AS cnt
    FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2),
  cc AS (SELECT l_returnflag, bucket,
      CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS BIGINT) AS cum,
      CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n FROM c),
  qs AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q),
  pr AS (SELECT l_returnflag, q, min(bucket) AS bucket, min(n) AS n
    FROM cc CROSS JOIN qs
    WHERE cum >= CAST(floor(q * (n - 1)) AS BIGINT) + 1 GROUP BY 1, 2)
SELECT l_returnflag, q, bucket, n,
  round(2.0 * power($g, bucket) / ($g + 1.0), 4) AS est FROM pr""".stripMargin
    },
    // Mirrors the q169 TPC-H-Q3-shape plan: the hints/broadcasts are
    // physical — the logical result is the three-table join + top-10
    "q169_tpch_q3" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM customer
  JOIN orders ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue_e4 DESC, o_orderkey ASC
LIMIT 10""",
    // Mirrors Rerank.lateInteractionTopK: per-distinct-token hash embeds,
    // MaxSim per query token, list-ordered sum, rank <= 5
    "q163_late_interaction" -> {
      val qrows = Seq("hash join throughput", "vector scan latency").flatMap { q =>
        q.split(" ").filter(_.nonEmpty).distinct.zipWithIndex
          .map { case (t, i) => s"('${q}', $i, '$t')" }
      }.mkString(", ")
      s"""WITH $dkTok,
  dt AS (SELECT DISTINCT doc_id, unnest(list_distinct(toks)) AS token FROM tok),
  ve AS (SELECT token, ${dkVec("sha256(token)")} AS e
    FROM (SELECT DISTINCT token FROM dt)),
  qt(query, qidx, qtok) AS (VALUES $qrows),
  qe AS (SELECT query, qidx, ${dkVec("sha256(qtok)")} AS qv FROM qt),
  cs AS (SELECT d.doc_id, q.query, q.qidx,
      CASE WHEN ${dkDot("v.e", "v.e")} = 0.0 OR ${dkDot("q.qv", "q.qv")} = 0.0 THEN 0.0
        ELSE ${dkDot("v.e", "q.qv")} / (sqrt(${dkDot("v.e", "v.e")}) * sqrt(${dkDot("q.qv", "q.qv")})) END AS c
    FROM dt d JOIN ve v ON d.token = v.token CROSS JOIN qe q),
  mx AS (SELECT doc_id, query, qidx, max(c) AS m FROM cs GROUP BY 1, 2, 3),
  sc AS (SELECT doc_id, query,
      round(list_sum(list(m ORDER BY qidx)), 4) AS score
    FROM mx GROUP BY 1, 2),
  r AS (SELECT query, doc_id, score,
      CAST(row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
    FROM sc)
SELECT query, rank, doc_id, score FROM r WHERE rank <= 5"""
    },
    // Mirrors TableStats.winsorizedMean(0.05, 0.95): quantile_cont fences,
    // identical fixed-point clip expression, one division per mean
    "q162_winsorized" ->
      """WITH v AS (SELECT l_returnflag AS g,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
  f AS (SELECT g, quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi
    FROM v GROUP BY 1),
  a AS (SELECT v.g, CAST(count(*) AS BIGINT) AS n, CAST(sum(v.v) AS BIGINT) AS s,
      CAST(sum(CAST(floor((CASE WHEN CAST(v.v AS DOUBLE) < f.lo THEN f.lo
        WHEN CAST(v.v AS DOUBLE) > f.hi THEN f.hi
        ELSE CAST(v.v AS DOUBLE) END) * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS wfx,
      round(min(f.lo), 6) AS lo_fence, round(min(f.hi), 6) AS hi_fence
    FROM v JOIN f USING (g) GROUP BY 1)
SELECT g AS l_returnflag, n, lo_fence, hi_fence,
  round(CAST(s AS DOUBLE) / n, 6) AS mean_raw,
  round(CAST(wfx AS DOUBLE) / 1048576.0 / n, 6) AS mean_winsorized
FROM a""",
    // Mirrors Similarity.annRecall(3): the q69 IVF chain joined against
    // the q23 exact chain, per-query overlap over the probe set
    "q161_ann_recall" -> detKmeansOracle(finalSelect = s"""SELECT * FROM (
  WITH qn AS (SELECT vec_id AS query_id, embedding, nv FROM nv_q),
  cs AS (SELECT q.query_id, cc.cell,
      CASE WHEN cc.nc = 0.0 THEN 0.0
           ELSE list_sum(list_transform(range(1, 65), i -> q.nv[i] * cc.c[i])) / cc.nc END AS cscore
    FROM qn q CROSS JOIN (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x * x))) AS nc FROM cents3) cc),
  probes AS (SELECT query_id, cell FROM (SELECT query_id, cell,
      row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, cell ASC) AS pr FROM cs) WHERE pr <= 3),
  cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN a_fin a ON a.cell = p.cell),
  s AS (SELECT c.query_id, c.vec_id,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS dot,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS na,
      list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                JOIN qn q ON c.query_id = q.query_id),
  sc AS (SELECT query_id, vec_id,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS score FROM s),
  ivf AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk FROM sc)
    WHERE rnk <= 3),
  xs AS (SELECT q.query_id, e.vec_id,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS dot,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS na,
      list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM embeddings e CROSS JOIN qn q),
  xsc AS (SELECT query_id, vec_id,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS score FROM xs),
  ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk FROM xsc)
    WHERE rnk <= 3),
  ov AS (SELECT ivf.query_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM ivf JOIN ex ON ivf.query_id = ex.query_id AND ivf.vec_id = ex.vec_id GROUP BY 1)
  SELECT q.query_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
    round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 3, 6) AS recall
  FROM (SELECT DISTINCT query_id FROM qn) q LEFT JOIN ov ON q.query_id = ov.query_id)"""),
    "q69_det_ivf" -> detKmeansOracle(finalSelect = s"""SELECT * FROM (
  WITH qn AS (SELECT vec_id AS query_id, embedding, nv FROM nv_q),
  cs AS (SELECT q.query_id, cc.cell,
      CASE WHEN cc.nc = 0.0 THEN 0.0
           ELSE list_sum(list_transform(range(1, 65), i -> q.nv[i] * cc.c[i])) / cc.nc END AS cscore
    FROM qn q CROSS JOIN (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x * x))) AS nc FROM cents3) cc),
  probes AS (SELECT query_id, cell FROM (SELECT query_id, cell,
      row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, cell ASC) AS pr FROM cs) WHERE pr <= 3),
  cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN a_fin a ON a.cell = p.cell),
  s AS (SELECT c.query_id, c.vec_id,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS dot,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS na,
      list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                JOIN qn q ON c.query_id = q.query_id),
  sc AS (SELECT query_id, vec_id,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
      score FROM sc)
  SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3)"""),
    // q261: the PERSISTED two-wave IVF lifecycle, stage for stage. The
    // Lloyd chain fits on the even-id wave only (fitSrc = nv0), so a_fin
    // IS the saved wave-0 assignment table; the save step rounds the f64
    // centroids to f32 (c32 — CAST to FLOAT and back mirrors
    // detIvfIndex's `.toFloat` exactly), upsertIvfAt assigns the odd wave
    // against those frozen f32 centroids in exact f64 arithmetic
    // (assignCells), and ivfProbe scores f32-rounded normalized queries
    // against the f32 stored centroids (CosineSimilarity: dot/na/nb over
    // float-widened doubles, zero-norm -> 0.0), probes the top-3 cells
    // (cscore DESC, cell ASC), and re-ranks candidates with exact cosine
    // over the RAW stored embeddings.
    "q261_ann_ivf_persisted" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = persistedIvfProbeSql()),
    // q287: the q261 lifecycle EXTENDED by the erasure leg — deleteIvfAt
    // drops every vec_id % 5 == 3 from the saved assignment partitions
    // (centroids frozen, no refit), so the serving table the probe reads
    // is a_all minus the deleted ids
    "q287_ann_ivf_deleted" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = persistedIvfProbeSql(serveFilter = "vec_id % 5 <> 3")),
    // q296: per-cell counts/shares of the maintained index — its content
    // equals q261's merged assignment table (a_all), whatever the upsert
    // history or file layout
    "q296_ivf_cell_stats" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = s"""SELECT * FROM (
  WITH $persistedIvfAssignCtes,
  tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM a_all)
  SELECT cell, count(*) AS n_vectors,
    round(count(*) / any_value(t.n), 6) AS share
  FROM a_all CROSS JOIN tot t GROUP BY cell)"""),
    // q297: the ≥3-wave + compacted lifecycle must reproduce q261's
    // two-wave oracle verbatim (same fit wave, same frozen centroids,
    // per-vector assignment — history-invariant by construction)
    "q297_ann_ivf_maintained" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = persistedIvfProbeSql()),
    // q301: the retrain leg — deterministic Lloyd refit over the FULL
    // stored corpus (fitSrc = nv, not the wave-0 half), so the serve
    // table is the from-scratch assignment a_fin and the probed centroids
    // are the f32-rounded full-corpus fit. Proves the generation swap
    // landed the moved geometry: this oracle differs from q261/q297's
    // frozen-wave-0 one, and only a genuinely retrained index matches it
    "q301_ann_ivf_retrained" -> detKmeansOracle(
      finalSelect = persistedIvfProbeSql(serveSrc = "a_fin")),
    // q282: the PERSISTED IVF-PQ lifecycle, stage for stage — q261's
    // two-wave coarse chain (Lloyd fit on the even wave, f32-rounded save,
    // odd-wave upsert against the frozen f32 centroids, f32 probe)
    // composed with the q76 PQ chain whose FIT SAMPLE is also bounded to
    // the even wave (fitIds = nv0: codebooks fit on wave 0, FROZEN; the
    // full-corpus encode against them equals wave-0 encode + wave-1
    // upsertPqAt), ADC restricted to the probed cells of the merged
    // assignment table, exact re-rank over the raw stored embeddings.
    "q282_ann_ivfpq_persisted" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = s"""SELECT * FROM (
  WITH ${persistedIvfPqCtes()},
$pqRerankTail)"""),
    // q295: the q282 lifecycle + the erasure leg on both saved artifacts —
    // deleteIvfAt purges the ids from the coarse assignments (candidate +
    // re-rank store) and deletePqAt from the codes, so the probe's serve
    // table is the merged assignments minus the deleted ids
    "q295_ann_ivfpq_deleted" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = s"""SELECT * FROM (
  WITH ${persistedIvfPqCtes(serveFilter = "vec_id % 5 <> 3")},
$pqRerankTail)"""),
    // q292: the END-TO-END maintained-stack serving oracle — the q282
    // persisted-IVF-PQ probe chain ranked to nLeg=10 as the vector leg,
    // the q258 full-scan BM25 twin per query term set as the lexical leg
    // (bm25Indexed over the streamed compacted lex state returns exactly
    // the full-scan rows with >= 1 term hit — the StreamingSpec parity
    // contract), fused with q51's RRF tail per query
    "q292_hybrid_serving" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = hybridServingSelect()),
    // q298: right-to-erasure on the LEXICAL maintained state — the q258
    // full-scan twin restricted to the surviving corpus. The state keeps
    // raw doc-keyed rows and derives df/N/avgdl at read time, so the
    // post-delete reader must equal the oracle over doc_id % 5 <> 3
    // INCLUDING the shifted global statistics (n_docs, avgdl, every df)
    "q298_bm25_lex_deleted" -> {
      val terms = Seq("join", "hash", "customer")
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      s"""WITH $dkTok,
  t AS (SELECT doc_id, toks, len(toks) AS dl FROM tok WHERE doc_id % 5 <> 3),
  stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM t),
  tf AS (SELECT doc_id, dl, $tfCols FROM t)
SELECT doc_id, dl AS n_tokens,
  ${terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i").mkString(", ")},
  round($score, 6) AS bm25
FROM tf CROSS JOIN stats
WHERE ${terms.indices.map(i => s"tf_$i").mkString(" + ")} > 0"""
    },
    // q305: band-state erasure — a pair's jaccard and band keys depend
    // only on its two docs, so pairs over the surviving corpus equal the
    // full-corpus pairs with both endpoints surviving: the batch q259
    // oracle wrapped with the survivor cut on doc_a AND doc_b
    "q305_minhash_pairs_deleted" ->
      s"""SELECT * FROM (
$dkMinhashPairsSql
) WHERE doc_a % 5 <> 3 AND doc_b % 5 <> 3""",
    // q299: the END-TO-END TAKEDOWN serving oracle — q292's composition
    // over the surviving corpus only: the vector leg's serve table is the
    // merged assignments minus the deleted ids (q295's cut) and the
    // lexical leg's corpus statistics shift to the survivors (q298's cut);
    // the fused top-k must contain no deleted id through EITHER leg
    "q299_hybrid_takedown" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = hybridServingSelect(
        serveFilter = "vec_id % 5 <> 3", docFilter = "doc_id % 5 <> 3")),
    // q302: the readmit identity on the lexical state — q258's
    // never-deleted full-corpus oracle VERBATIM: delete + re-ingest of the
    // same docs must be unobservable to every reader
    "q302_bm25_lex_readmitted" -> {
      val terms = Seq("join", "hash", "customer")
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      s"""WITH $dkTok,
  t AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
  stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM t),
  tf AS (SELECT doc_id, dl, $tfCols FROM t)
SELECT doc_id, dl AS n_tokens,
  ${terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i").mkString(", ")},
  round($score, 6) AS bm25
FROM tf CROSS JOIN stats
WHERE ${terms.indices.map(i => s"tf_$i").mkString(" + ")} > 0"""
    },
    // q303: the readmit identity on the FULL serving stack — q292's
    // never-deleted composition verbatim: takedown + reingest across all
    // three stores round-trips to the identity
    "q303_hybrid_readmit" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = hybridServingSelect()),
    // q300: history-invariance of the maintained IVF-PQ — the >=3-wave +
    // compacted lifecycle must reproduce q282's two-wave oracle verbatim
    // (both trained artifacts frozen on the same even wave; assignment
    // and encoding are per-vector, so upsert count and file layout
    // cannot change the probe)
    "q300_ann_ivfpq_maintained" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = s"""SELECT * FROM (
  WITH ${persistedIvfPqCtes()},
$pqRerankTail)"""),
    // q304: the retrained IVF-PQ — BOTH artifacts refit over the full
    // stored corpus (fitSrc = nv for the coarse Lloyd, fitIds = nv for
    // the codebook fit sample), so the serve table is the from-scratch
    // assignment a_fin and the ADC codes are the full-corpus encode.
    // Differs from q282/q300's frozen-wave-0 oracle: only a genuinely
    // retrained generation matches
    "q304_ann_ivfpq_retrained" -> detKmeansOracle(
      finalSelect = s"""SELECT * FROM (
  WITH ${persistedIvfPqCtes(serveSrc = "a_fin", fitIds = "nv")},
$pqRerankTail)"""),
    // q306: the TEXT-IN serving oracle — q292's composition with the
    // query side DERIVED from the literal fixture strings IN SQL: the
    // embedding is sha256(qtext) cycled to 64 f32 values (the reference's
    // hash-embed, main.py:139-147, dimensioned to the persisted index)
    // and normalized exactly like the corpus side; the keyword sets come
    // from the SAME Engine.keywordTerms call the Spark query makes. Both
    // legs then run the q292 chains against the derived query frame
    "q306_hybrid_serving_text" -> detKmeansOracle(
      fitSrc = "nv0",
      extraCtes = "nv0 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 0)",
      finalSelect = hybridServingSelect(
        termsByQuery = ServingTextTerms, prefixCtes = textQueryCtes,
        qnvSrc = "qnv", qEmbSrc = "qemb",
        nProbe = TextServingNProbe, shortlist = TextServingShortlist)),
    // q307: the cross-store takedown audit — all leak counts are
    // identically 0 (no deleted id may survive in ANY maintained store,
    // and every code row's (vec_id, cell) must appear in the coarse
    // assignments), while n_ids proves each store holds EXACTLY the
    // surviving ids: both vector stores carry every surviving embedding,
    // and both doc-keyed states carry every surviving document (the lex
    // state keeps a doc-length row per doc even for zero-token text; the
    // band state's shingle fallback gives every doc >= 1 shingle)
    "q307_takedown_audit" ->
      """WITH ne AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings WHERE vec_id % 5 <> 3),
  nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE doc_id % 5 <> 3)
SELECT * FROM (
  SELECT 'band_state' AS store, CAST(0 AS BIGINT) AS n_leaked, n AS n_ids FROM nd
  UNION ALL SELECT 'coarse_assignments', CAST(0 AS BIGINT), n FROM ne
  UNION ALL SELECT 'codes_vs_assignments', CAST(0 AS BIGINT), n FROM ne
  UNION ALL SELECT 'lex_state', CAST(0 AS BIGINT), n FROM nd
  UNION ALL SELECT 'pq_codes', CAST(0 AS BIGINT), n FROM ne
) ORDER BY store""",

    // q308: the hot-cell-split audit — every violation count is 0 by the
    // split invariants (children partition the parent, untouched cells
    // byte-identical, total preserved, both children non-empty, max
    // share strictly dropped); n_ids is the corpus size, proving the
    // audited stores were complete
    "q308_ivf_split_audit" ->
      """WITH ne AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
SELECT * FROM (
  SELECT 'balance_regressions' AS store, CAST(0 AS BIGINT) AS n_leaked, n AS n_ids FROM ne
  UNION ALL SELECT 'children_missing', CAST(0 AS BIGINT), n FROM ne
  UNION ALL SELECT 'split_partition_breaks', CAST(0 AS BIGINT), n FROM ne
  UNION ALL SELECT 'total_count_drift', CAST(0 AS BIGINT), n FROM ne
  UNION ALL SELECT 'untouched_cell_changes', CAST(0 AS BIGINT), n FROM ne
) ORDER BY store""",

    // q309: the maintained lex corpus stats vs a from-scratch count/avg
    // over the tokenized corpus (the q258 dl derivation)
    "q309_lex_corpus_stats" -> s"""WITH $dkTok,
  t AS (SELECT len(toks) AS dl FROM tok)
SELECT CAST(count(*) AS DOUBLE) AS n_docs, round(avg(dl), 6) AS avgdl FROM t""",

    // q310: the maintained state's per-bucket postings stats vs a
    // from-scratch re-derivation — postings are distinct (doc, token)
    // pairs over the q258 tokenization, and the bucket is the SAME
    // sha-derived assignment the lex state partitions by (first two
    // SHA-256 bytes of the token, mod 64 — TextAnalysis.tokenBucket)
    "q310_lex_bucket_stats" -> s"""WITH $dkTok,
  p AS (SELECT doc_id, unnest(toks) AS token FROM tok),
  pt AS (SELECT DISTINCT doc_id, token FROM p),
  ph AS (SELECT token, sha256(token) AS hx FROM pt),
  pb AS (SELECT CAST((${dkByte("hx", "0")} * 256 + ${dkByte("hx", "1")}) % 64 AS BIGINT) AS pbk, token FROM ph),
  tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pb)
SELECT pbk, count(*) AS n_postings, count(DISTINCT token) AS n_terms,
  round(count(*) / any_value(t.n), 6) AS share
FROM pb CROSS JOIN tot t GROUP BY pbk ORDER BY pbk""")

  /** The q292/q299 serving-composition SELECT (appended to the
    * detKmeansOracle chain with fitSrc = nv0): the persisted-IVF-PQ probe
    * chain ranked to nLeg=10 as the vector leg, the q258 full-scan BM25
    * twin per ServingTerms entry as the lexical leg, fused with q51's RRF
    * tail per query. `serveFilter` cuts the vector leg's merged assignment
    * table and `docFilter` the lexical leg's corpus (q299's takedown
    * twins: both legs see only the surviving ids, and the lexical
    * statistics shift with the survivors). */
  /** The q306 query-side CTEs: the fixture strings as literal VALUES, the
    * reference's hash-embedding DERIVED in SQL (sha256 of the literal,
    * bytes cycled to 64 f32 values — main.py:139-147 at dim 64), then the
    * same normalize chain the corpus side uses. Exposes
    * `qemb(vec_id, embedding)` (the raw f32 query vectors — the re-rank
    * side) and `qnv(vec_id, embedding, nv)` (the normalized f64 form the
    * probe and lookup-table chains read). */
  private def textQueryCtes: String = {
    val vals = ServingTextQueries.zipWithIndex.map { case (q, i) =>
      s"($i, '${q.replace("'", "''")}')"
    }.mkString(", ")
    s"""qstr(query_id, qtext) AS (VALUES $vals),
  qh AS (SELECT query_id, sha256(qtext) AS hx FROM qstr),
  qemb AS (SELECT CAST(query_id AS BIGINT) AS vec_id,
      list_transform(range(0, 64), j -> CAST(CAST(${dkByte("hx", "j%32")} AS DOUBLE)/255.0*2.0-1.0 AS FLOAT)) AS embedding
    FROM qh),
  qnrm AS (SELECT vec_id, embedding,
      sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM qemb),
  qnv AS (SELECT vec_id, embedding,
      CASE WHEN nrm = 0.0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
           ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) END AS nv FROM qnrm)"""
  }

  private def hybridServingSelect(serveFilter: String = "",
                                  docFilter: String = "",
                                  termsByQuery: Seq[(Long, Seq[String])] =
                                    ServingTerms,
                                  prefixCtes: String = "",
                                  qnvSrc: String = "nv_q",
                                  qEmbSrc: String = "embeddings",
                                  nProbe: Int = 3,
                                  shortlist: Int = PqShortlist): String = {
    val tSrc = if (docFilter.isEmpty) "tok" else s"tok WHERE $docFilter"
    // a query whose terms all miss the corpus still needs its (empty)
    // lex CTE chain; a query with NO terms at all contributes no chain
    val withTerms = termsByQuery.filter(_._2.nonEmpty)
    val lexCtes = withTerms.map { case (qid, terms) =>
      val (dfCols, tfCols, score) = dkBm25Parts(terms)
      val anyHit = terms.indices.map(i => s"tf_$i").mkString(" + ")
      s"""  stats_$qid AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols FROM t),
  tf_$qid AS (SELECT doc_id, dl, $tfCols FROM t),
  sc_$qid AS (SELECT doc_id, round($score, 6) AS bm25
    FROM tf_$qid CROSS JOIN stats_$qid WHERE $anyHit > 0),
  lx_$qid AS (SELECT doc_id, bm25 FROM sc_$qid WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 10),
  lr_$qid AS (SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
      CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rnk_lex FROM lx_$qid)"""
    }.mkString(",\n")
    val lexUnion = withTerms
      .map { case (qid, _) => s"SELECT * FROM lr_$qid" }
      .mkString(" UNION ALL ")
    val prefix = if (prefixCtes.isEmpty) "" else s"$prefixCtes,\n  "
    s"""SELECT * FROM (
  WITH $prefix${persistedIvfPqCtes(serveFilter, qnvSrc = qnvSrc,
      nProbe = nProbe)},
${pqRerankCtesFrom(qEmbSrc, shortlist = shortlist)},
  vecleg AS (SELECT query_id, vec_id AS doc_id, rnk AS rnk_vec FROM xr WHERE rnk <= 10),
  $dkTok,
  t AS (SELECT doc_id, toks, len(toks) AS dl FROM $tSrc),
$lexCtes,
  lexleg AS ($lexUnion),
  legs AS (SELECT query_id, doc_id, rnk_vec, CAST(NULL AS INTEGER) AS rnk_lex FROM vecleg
    UNION ALL SELECT query_id, doc_id, CAST(NULL AS INTEGER) AS rnk_vec, rnk_lex FROM lexleg),
  fusedg AS (SELECT query_id, doc_id, min(rnk_vec) AS rnk_vec, min(rnk_lex) AS rnk_lex
    FROM legs GROUP BY query_id, doc_id),
  fr AS (SELECT query_id, doc_id, rnk_vec, rnk_lex,
      coalesce(CAST(1.0 AS DOUBLE) / (60 + rnk_vec), 0.0)
        + coalesce(CAST(1.0 AS DOUBLE) / (60 + rnk_lex), 0.0) AS rrf FROM fusedg),
  frk AS (SELECT query_id, doc_id, rnk_vec, rnk_lex, rrf,
      row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rr FROM fr)
  SELECT query_id, doc_id, rnk_vec, rnk_lex, round(rrf, 6) AS rrf FROM frk WHERE rr <= 5)"""
  }

  /** The persisted-IVF-PQ probe chain shared by q282 and q292's vector
    * leg (appended to the detKmeansOracle chain with fitSrc = nv0): the
    * q261 two-wave coarse chain (f32-rounded save, odd-wave upsert against
    * the frozen f32 centroids, f32 probe) composed with the q76 PQ chain
    * whose fit sample is bounded to the even wave, ending in `adc`
    * (query_id, vec_id, adc) over the probed cells of the merged
    * assignment table — callers append [[pqRerankCtes]]/[[pqRerankTail]].
    * `serveFilter` restricts the merged assignment table the probe reads
    * (q295's erasure twin: deleteIvfAt + deletePqAt leave only survivors
    * as candidates; the oracle needs just the candidate cut, because the
    * ADC and re-rank stages only ever touch candidate rows). */
  private def persistedIvfPqCtes(serveFilter: String = "",
                                 serveSrc: String = "a_all",
                                 fitIds: String = "nv0",
                                 qnvSrc: String = "nv_q",
                                 nProbe: Int = 3): String = {
    val serve = if (serveFilter.isEmpty) serveSrc
      else s"(SELECT * FROM $serveSrc WHERE $serveFilter)"
    // a_all needs the two-wave merge CTEs; a retrained pair (q304) serves
    // the from-scratch full-corpus assignment a_fin and needs only the
    // f32 rounding of the saved centroids
    val assignCtes = if (serveSrc == "a_all") persistedIvfAssignCtes
      else "c32 AS (SELECT cell, list_transform(c, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS c FROM cents3)"
    s"""${pqChainCtes("nv", qnvSrc, fitIds = fitIds)},
  $assignCtes,
  q32 AS (SELECT vec_id AS query_id, list_transform(nv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS q FROM $qnvSrc),
  pcs AS (SELECT q.query_id, cc.cell,
      list_sum(list_transform(range(1, 65), i -> q.q[i] * cc.c[i])) AS dot,
      list_sum(list_transform(range(1, 65), i -> q.q[i] * q.q[i])) AS na,
      list_sum(list_transform(range(1, 65), i -> cc.c[i] * cc.c[i])) AS nb
    FROM q32 q CROSS JOIN c32 cc),
  pcsc AS (SELECT query_id, cell,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cscore FROM pcs),
  probes AS (SELECT query_id, cell FROM (SELECT query_id, cell,
      row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, cell ASC) AS pr FROM pcsc) WHERE pr <= $nProbe),
  cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN $serve a ON a.cell = p.cell),
  adc AS (SELECT x.query_id, x.vec_id,
      list_sum(list_transform(range(1, ${PqM + 1}), s -> q.lt[s][c.codes[s] + 1])) AS adc
    FROM cand x JOIN codes c ON x.vec_id = c.vec_id
                JOIN qlt q ON x.query_id = q.query_id)"""
  }

  /** The persisted-IVF probe tail shared by q261/q287 (appended to the
    * detKmeansOracle chain with fitSrc = nv0): f32-round the saved
    * centroids (c32 — the `.toFloat` of IvfIndex.save), assign the odd
    * wave against them in exact f64 (a1u — upsertIvfAt), union with the
    * wave-0 assignments (a_all — the saved table), optionally restricted
    * by `serveFilter` (q287's deleteIvfAt leg), then the ivfProbe chain:
    * f32-rounded normalized queries against c32, top-3 cells
    * (cscore DESC, cell ASC), exact cosine over the raw stored
    * embeddings of candidate cells. */
  /** The merged-assignment construction shared by the persisted-IVF
    * oracles (q261/q287/q296/q297): f32-round the saved centroids (c32 —
    * the `.toFloat` of IvfIndex.save), assign the odd wave against them
    * in exact f64 (a1u — upsertIvfAt), union with the wave-0 assignments
    * into `a_all` — the saved table's content, however many upsert waves
    * delivered it. */
  private def persistedIvfAssignCtes: String =
    s"""c32 AS (SELECT cell, list_transform(c, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS c FROM cents3),
  nv1 AS (SELECT vec_id, nv FROM nv WHERE vec_id % 2 = 1),
  d1u AS (SELECT n.vec_id, cc.cell,
      list_sum(list_transform(range(1, 65), i -> (n.nv[i] - cc.c[i]) * (n.nv[i] - cc.c[i]))) AS d2
    FROM nv1 n CROSS JOIN c32 cc),
  a1u AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn FROM d1u) WHERE rn = 1),
  a_all AS (SELECT vec_id, cell FROM a_fin UNION ALL SELECT vec_id, cell FROM a1u)"""

  private def persistedIvfProbeSql(serveFilter: String = "",
                                   serveSrc: String = "a_all"): String = {
    val serve = if (serveFilter.isEmpty) serveSrc
      else s"(SELECT * FROM $serveSrc WHERE $serveFilter)"
    // a_all needs the two-wave merge CTEs; a retrained index (q301) serves
    // the from-scratch full-corpus assignment a_fin directly and needs
    // only the f32 rounding of the saved centroids
    val assignCtes = if (serveSrc == "a_all") persistedIvfAssignCtes
      else "c32 AS (SELECT cell, list_transform(c, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS c FROM cents3)"
    s"""SELECT * FROM (
  WITH $assignCtes,
  q32 AS (SELECT vec_id AS query_id, list_transform(nv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS q FROM nv_q),
  cs AS (SELECT q.query_id, cc.cell,
      list_sum(list_transform(range(1, 65), i -> q.q[i] * cc.c[i])) AS dot,
      list_sum(list_transform(range(1, 65), i -> q.q[i] * q.q[i])) AS na,
      list_sum(list_transform(range(1, 65), i -> cc.c[i] * cc.c[i])) AS nb
    FROM q32 q CROSS JOIN c32 cc),
  csc AS (SELECT query_id, cell,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cscore FROM cs),
  probes AS (SELECT query_id, cell FROM (SELECT query_id, cell,
      row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, cell ASC) AS pr FROM csc) WHERE pr <= 3),
  cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN $serve a ON a.cell = p.cell),
  s AS (SELECT c.query_id, c.vec_id,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS dot,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS na,
      list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                JOIN nv_q q ON c.query_id = q.vec_id),
  sc AS (SELECT query_id, vec_id,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS score FROM s),
  r AS (SELECT query_id, vec_id,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
      score FROM sc)
  SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM r WHERE rnk <= 3)"""
  }

  /** The product-quantization CTE chain (q76, mirrors Similarity.pqTopK
    * defaults m=16 ksub=16 iters=2 shortlist=64): per-subspace deterministic
    * Lloyd over the 4-dim `nv` slices — first-16-by-id init, strict argmin
    * (ties to the lowest cell), fixed-point integer-sum means, empty cells
    * keep their centroid — then codes and per-query ADC lookup tables as
    * ORDERED lists, so the ADC total folds subspace-ascending exactly like
    * the Spark `aggregate(sequence(1, m), ...)`, an (adc desc, vec_id)
    * shortlist, and an exact-cosine re-rank. */
  private val PqM = 16; private val PqKsub = 16
  private val PqIters = 2; private val PqDsub = 4
  private val PqShortlist = 64

  /** The PQ CTE chain (everything after `nv`): the hash-ordered fit sample
    * (mirrors `Similarity.PqFitRows` — Lloyd trains on the sample, the
    * final assignment encodes the full corpus), 16 per-subspace Lloyd
    * chains, per-query lookup values, and the assembled ordered `codes` /
    * `qlt` lists. Expects an `nv` CTE (vec_id, nv) in scope; shared by q76
    * (standalone WITH) and q80 (nested inside the detKMeans chain). */
  private def pqChainCtes: String = pqChainCtes("nv", "nv")

  /** `src` is the table the codebooks model and encode (the normalized
    * corpus for plain PQ, the residual frame for IVFADC); `qsrc` is where
    * query subvectors come from — ALWAYS the raw normalized vectors (an
    * ADC query is never residual-encoded). Both expose (vec_id, nv).
    * `fitIds` bounds the hash-ordered Lloyd fit sample's id pool — the
    * full corpus by default, the even-id wave for the persisted q282
    * lifecycle (codebooks fit on wave 0, frozen for wave 1's encode). */
  private def pqChainCtes(src: String, qsrc: String,
                          fitIds: String = "nv"): String = {
    val m = PqM; val ksub = PqKsub; val iters = PqIters; val dsub = PqDsub
    val d2 = (nvE: String, cE: String) =>
      s"list_sum(list_transform(range(1, ${dsub + 1}), i -> ($nvE[i] - $cE[i]) * ($nvE[i] - $cE[i])))"
    val subChains = (0 until m).map { s =>
      val off = s * dsub
      val sv = s"list_transform(range(${off + 1}, ${off + dsub + 1}), i -> nv[i])"
      val iterCtes = (1 to iters).map { t =>
        s"""  d_${s}_$t AS (SELECT n.vec_id, cc.cell, ${d2("n.sv", "cc.c")} AS d2
    FROM svf_$s n CROSS JOIN cents_${s}_${t - 1} cc),
  a_${s}_$t AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn FROM d_${s}_$t) WHERE rn = 1),
  s_${s}_$t AS (SELECT a.cell, di.i AS dim,
      sum(CAST(floor(n.sv[di.i] * 1048576.0 + 0.5) AS BIGINT)) AS sfx, count(*) AS cnt
    FROM a_${s}_$t a JOIN svf_$s n USING (vec_id) CROSS JOIN range(1, ${dsub + 1}) di(i)
    GROUP BY a.cell, di.i),
  cents_${s}_$t AS (SELECT p.cell, list(
      CASE WHEN s.sfx IS NULL THEN p.c[di.i]
           ELSE (CAST(s.sfx AS DOUBLE) / CAST(s.cnt AS DOUBLE)) / 1048576.0 END
      ORDER BY di.i) AS c
    FROM cents_${s}_${t - 1} p CROSS JOIN range(1, ${dsub + 1}) di(i)
    LEFT JOIN s_${s}_$t s ON s.cell = p.cell AND s.dim = di.i
    GROUP BY p.cell)"""
      }.mkString(",\n")
      s"""  sv_$s AS (SELECT vec_id, $sv AS sv FROM $src),
  svf_$s AS (SELECT f.vec_id, v.sv FROM pqfit f JOIN sv_$s v USING (vec_id)),
  cents_${s}_0 AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, sv AS c
    FROM svf_$s ORDER BY vec_id ASC LIMIT $ksub),
$iterCtes,
  af_$s AS (SELECT vec_id, cell FROM (SELECT n.vec_id, cc.cell,
      row_number() OVER (PARTITION BY n.vec_id ORDER BY ${d2("n.sv", "cc.c")} ASC, cc.cell ASC) AS rn
    FROM sv_$s n CROSS JOIN cents_${s}_$iters cc) WHERE rn = 1),
  sv_q_$s AS (SELECT vec_id, $sv AS sv FROM $qsrc WHERE vec_id < 5),
  lt_$s AS (SELECT q.vec_id AS query_id, cc.cell,
      list_sum(list_transform(range(1, ${dsub + 1}), i -> q.sv[i] * cc.c[i])) AS val
    FROM sv_q_$s q CROSS JOIN cents_${s}_$iters cc)"""
    }
    val unionAf = (0 until m)
      .map(s => s"SELECT $s AS sub, vec_id, cell FROM af_$s").mkString(" UNION ALL ")
    val unionLt = (0 until m)
      .map(s => s"SELECT $s AS sub, query_id, cell, val FROM lt_$s").mkString(" UNION ALL ")
    s"""  pqfit AS (SELECT vec_id FROM $fitIds
    ORDER BY sha256(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 4096),
${subChains.mkString(",\n")},
  af AS ($unionAf),
  lt AS ($unionLt),
  codes AS (SELECT vec_id, list(cell ORDER BY sub) AS codes FROM af GROUP BY vec_id),
  qlt0 AS (SELECT query_id, sub, list(val ORDER BY cell) AS lrow FROM lt GROUP BY query_id, sub),
  qlt AS (SELECT query_id, list(lrow ORDER BY sub) AS lt FROM qlt0 GROUP BY query_id)"""
  }

  /** ADC shortlist + exact-cosine re-rank CTEs (shared by q76/q80/q282 and
    * the q292 vector leg): rank `adc` (query_id, vec_id, adc) per query,
    * keep the top `PqShortlist`, re-rank with exact cosine into `xr`
    * (query_id, vec_id, rnk, score). Callers append their own final
    * SELECT over `xr`. */
  private def pqRerankCtes: String = pqRerankCtesFrom()

  /** [[pqRerankCtes]] with the QUERY embedding source parameterized —
    * the corpus `embeddings` table for the vec_id-keyed probes, the
    * derived `qemb` CTE for q306's text queries. */
  private def pqRerankCtesFrom(qEmbSrc: String = "embeddings",
                               shortlist: Int = PqShortlist): String =
    s"""  short AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS srn FROM adc) WHERE srn <= $shortlist),
  xs AS (SELECT sh.query_id, sh.vec_id,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS dot,
      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS na,
      list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS nb
    FROM short sh JOIN embeddings e ON sh.vec_id = e.vec_id
                  JOIN $qEmbSrc q ON sh.query_id = q.vec_id),
  xsc AS (SELECT query_id, vec_id,
      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS score FROM xs),
  xr AS (SELECT query_id, vec_id,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rnk,
      score FROM xsc)"""

  /** [[pqRerankCtes]] closed with the top-3 probe SELECT (q76/q80/q282). */
  private def pqRerankTail: String =
    s"""$pqRerankCtes
SELECT query_id, vec_id, rnk, round(score, 4) AS score FROM xr WHERE rnk <= 3"""

  private def pqOracle: String =
    s"""WITH nvz AS (SELECT vec_id, embedding,
      sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings),
  nv AS (SELECT vec_id,
      CASE WHEN nrm = 0.0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
           ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) END AS nv
    FROM nvz),
$pqChainCtes,
  adc AS (SELECT q.query_id, c.vec_id,
      list_sum(list_transform(range(1, ${PqM + 1}), s -> q.lt[s][c.codes[s] + 1])) AS adc
    FROM codes c CROSS JOIN qlt q),
$pqRerankTail"""

  /** q90: residual IVF-PQ (IVFADC) — the q69 probe chain, PQ chains over
    * the RESIDUAL frame `rv = nv - cents3(cell)`, ADC = per-cell base dot
    * + residual lookups, exact re-rank. */
  private def ivfPqResidualOracle: String = detKmeansOracle(finalSelect =
    s"""SELECT * FROM (
  -- MATERIALIZED: DuckDB inlines CTEs by default, and rv is referenced by
  -- every per-subspace chain — each inline would re-run the entire outer
  -- Lloyd chain (a_fin/cents3), turning seconds into hours
  WITH rv AS MATERIALIZED (SELECT n.vec_id, list_transform(range(1, 65), i -> n.nv[i] - c.c[i]) AS nv
    FROM nv n JOIN a_fin a USING (vec_id) JOIN cents3 c ON c.cell = a.cell),
  ${pqChainCtes("rv", "nv")},
  qn AS (SELECT vec_id AS query_id, nv FROM nv_q),
  pcs AS (SELECT q.query_id, cc.cell,
      CASE WHEN cc.nc = 0.0 THEN 0.0
           ELSE list_sum(list_transform(range(1, 65), i -> q.nv[i] * cc.c[i])) / cc.nc END AS cscore
    FROM qn q CROSS JOIN (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x * x))) AS nc FROM cents3) cc),
  probes AS (SELECT query_id, cell FROM (SELECT query_id, cell,
      row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, cell ASC) AS pr FROM pcs) WHERE pr <= 3),
  bs AS (SELECT q.query_id, cc.cell,
      list_sum(list_transform(range(1, 65), i -> q.nv[i] * cc.c[i])) AS bdot
    FROM qn q CROSS JOIN cents3 cc),
  cand AS (SELECT p.query_id, a.vec_id, a.cell FROM probes p JOIN a_fin a ON a.cell = p.cell),
  adc AS (SELECT x.query_id, x.vec_id,
      b.bdot + list_sum(list_transform(range(1, ${PqM + 1}), s -> q.lt[s][c.codes[s] + 1])) AS adc
    FROM cand x JOIN codes c ON x.vec_id = c.vec_id
                JOIN qlt q ON x.query_id = q.query_id
                JOIN bs b ON b.query_id = x.query_id AND b.cell = x.cell),
$pqRerankTail)""")

  /** q80: the q69 probe chain (nProbe=3 cells against the exact detKMeans
    * centroids) composed with the q76 ADC chain, restricted to candidate
    * cells — IVF-PQ. */
  private def ivfPqOracle: String = detKmeansOracle(finalSelect =
    s"""SELECT * FROM (
  WITH $pqChainCtes,
  qn AS (SELECT vec_id AS query_id, nv FROM nv_q),
  pcs AS (SELECT q.query_id, cc.cell,
      CASE WHEN cc.nc = 0.0 THEN 0.0
           ELSE list_sum(list_transform(range(1, 65), i -> q.nv[i] * cc.c[i])) / cc.nc END AS cscore
    FROM qn q CROSS JOIN (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x * x))) AS nc FROM cents3) cc),
  probes AS (SELECT query_id, cell FROM (SELECT query_id, cell,
      row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, cell ASC) AS pr FROM pcs) WHERE pr <= 3),
  cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN a_fin a ON a.cell = p.cell),
  adc AS (SELECT x.query_id, x.vec_id,
      list_sum(list_transform(range(1, ${PqM + 1}), s -> q.lt[s][c.codes[s] + 1])) AS adc
    FROM cand x JOIN codes c ON x.vec_id = c.vec_id
                JOIN qlt q ON x.query_id = q.query_id),
$pqRerankTail)""")

  /** The deterministic-KMeans CTE chain (shared by q68/q69): nv, cents0
    * (first-8-by-id init), 3x (assign, fixed-point-mean update), final
    * assignment `a_fin`; `nv_q` is the normalized query subset. The caller
    * appends its own final SELECT over these CTEs.
    *
    * `fitSrc` (default the full normalized corpus `nv`) is the frame the
    * Lloyd chain trains on AND `a_fin` assigns — q261 fits on the even-id
    * wave only (`nv0`, injected via `extraCtes`) and upserts the odd wave
    * against the frozen persisted centroids in its own final chain. */
  private def detKmeansOracle(finalSelect: String, fitSrc: String = "nv",
                              extraCtes: String = ""): String = {
    val iters = 3
    val d2 = (nvExpr: String, cExpr: String) =>
      s"list_sum(list_transform(range(1, 65), i -> ($nvExpr[i] - $cExpr[i]) * ($nvExpr[i] - $cExpr[i])))"
    val iterCtes = (1 to iters).map { t =>
      s"""  d$t AS (SELECT n.vec_id, cc.cell, ${d2("n.nv", "cc.c")} AS d2
    FROM $fitSrc n CROSS JOIN cents${t - 1} cc),
  a$t AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn FROM d$t) WHERE rn = 1),
  s$t AS (SELECT a.cell, di.i AS dim,
      sum(CAST(floor(n.nv[di.i] * 1048576.0 + 0.5) AS BIGINT)) AS sfx,
      count(*) AS cnt
    FROM a$t a JOIN $fitSrc n USING (vec_id) CROSS JOIN range(1, 65) di(i)
    GROUP BY a.cell, di.i),
  cents$t AS (SELECT p.cell, list(
      CASE WHEN s.sfx IS NULL THEN p.c[di.i]
           ELSE (CAST(s.sfx AS DOUBLE) / CAST(s.cnt AS DOUBLE)) / 1048576.0 END
      ORDER BY di.i) AS c
    FROM cents${t - 1} p CROSS JOIN range(1, 65) di(i)
    LEFT JOIN s$t s ON s.cell = p.cell AND s.dim = di.i
    GROUP BY p.cell)"""
    }.mkString(",\n")
    s"""WITH nvz AS (SELECT vec_id, embedding,
      sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings),
  nv AS (SELECT vec_id,
      CASE WHEN nrm = 0.0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
           ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) END AS nv
    FROM nvz),
  nv_q AS (SELECT z.vec_id, z.embedding, n.nv FROM nvz z JOIN nv n USING (vec_id) WHERE z.vec_id < 5),
${if (extraCtes.nonEmpty) s"  $extraCtes,\n" else ""}  cents0 AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, nv AS c
    FROM $fitSrc ORDER BY vec_id ASC LIMIT 8),
$iterCtes,
  d_fin AS (SELECT n.vec_id, cc.cell, ${d2("n.nv", "cc.c")} AS d2
    FROM $fitSrc n CROSS JOIN cents$iters cc),
  a_fin AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn FROM d_fin) WHERE rn = 1)
$finalSelect"""
  }
}
