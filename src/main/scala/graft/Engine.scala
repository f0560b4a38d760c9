package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions.{chunk_text, cosine_similarity, hash_embed, term_counts}
import graft.functions.{ChunkText, HashEmbed}

/** The engine façade — the reference's five API verbs re-expressed as
  * DataFrame transformations (SURVEY §3, §7.0):
  *
  *   ingest  = documents → chunk → embed → index table   (main.py:255-312)
  *   search  = index → cosine score → top-k              (main.py:314-333)
  *   stats   = aggregations over the index               (main.py:340-360)
  *   upsert  = replace-by-id merge                       (main.py:172)
  *   context = rank-ordered string aggregation           (main.py:324)
  *
  * All plans are declarative: scoring is a projection, top-k is
  * `orderBy(desc).limit(k)` (physical `TakeOrderedAndProject` — per-partition
  * partial top-k, only k rows cross to the driver, no full sort/shuffle), and
  * the embedded query is a foldable expression evaluated once at plan time.
  */
object Engine {

  /** Chunk documents into the canonical `chunks` table (SURVEY §1.3):
    * (id, source, doc_id, chunk_idx, text). Chunk id is
    * `{source}_{doc_id}_{chunk_idx}` — the reference's `{pdf_title}_{i}`
    * (main.py:163) with the document identity added, because the driver's
    * corpus reuses `source` across documents (the reference's basename
    * collision quirk, SURVEY §1.4.2, is a bug we do not reproduce).
    */
  def chunks(docs: DataFrame,
             size: Int = ChunkText.DefaultSize,
             overlap: Int = ChunkText.DefaultOverlap): DataFrame = {
    // pdf_path metadata (main.py:167): kept verbatim when the corpus carries
    // a real path (PdfCorpusSource.extract); synthesized `pdfs/<source>.pdf`
    // for path-less document tables so the metadata contract always holds.
    val withPath =
      if (docs.columns.contains("pdf_path")) docs
      else if (docs.columns.contains("path")) docs.withColumn("pdf_path", col("path"))
      else docs.withColumn("pdf_path", concat(lit("pdfs/"), col("source"), lit(".pdf")))
    withPath
      .select(col("doc_id"), col("source"), col("pdf_path"),
        chunk_text(col("text"), size, overlap))
      .select(
        concat_ws("_", col("source"), col("doc_id"), col("chunk_idx")).as("id"),
        col("source"), col("pdf_path"), col("doc_id"), col("chunk_idx"),
        col("chunk").as("text"))
  }

  /** Add the deterministic hash embedding (main.py:159-170 record build). */
  def embedChunks(chunksDf: DataFrame, dim: Int = HashEmbed.DefaultDim): DataFrame =
    chunksDf.withColumn("embedding", hash_embed(col("text"), dim))

  /** Full ingest pipeline: documents → embedded chunk index. Map-only — no
    * shuffle; scales linearly with input splits. */
  def ingest(docs: DataFrame,
             size: Int = ChunkText.DefaultSize,
             overlap: Int = ChunkText.DefaultOverlap,
             dim: Int = HashEmbed.DefaultDim): DataFrame =
    embedChunks(chunks(docs, size, overlap), dim)

  /** Replace-by-id upsert (main.py:172): rows of `incoming` win over rows of
    * `existing` with the same id. `new UNION ALL (old ANTI JOIN new)`.
    * At scale both sides shuffle on id once; with a bucketed index table the
    * anti-join co-locates and the shuffle disappears.
    */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    incoming.unionByName(
      existing.join(incoming.select("id"), Seq("id"), "left_anti"))

  /** S4 (main.py:26-62): idempotent index bootstrap — create the partitioned
    * parquet index table iff absent. mode("ignore") is the CREATE TABLE IF
    * NOT EXISTS of the path-based world. */
  /** Canonical index-table schema (SURVEY §1.3). */
  val indexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("doc_id", LongType, nullable = false),
      StructField("chunk_idx", IntegerType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("pdf_path", StringType, nullable = false),
      StructField("source", StringType, nullable = false)))
  }

  def createIndexIfMissing(spark: SparkSession, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexSchema)
      .write.mode("ignore").partitionBy("source").parquet(path)

  /** S5 physical write (main.py:172): re-ingesting a document set replaces
    * exactly the `source` partitions present in the batch (dynamic partition
    * overwrite) — the reference's replace-by-id for whole-document re-ingest,
    * without rewriting untouched partitions. Partitioning by `source` also
    * gives partition pruning for per-source search (SURVEY §4). */
  def writeIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite")
      // writer-scoped (NOT session conf): only this write replaces
      // partitions dynamically; other writes keep Spark's static default
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("source").parquet(path)

  /** Load the index table back (partition-pruned on source filters). The
    * schema is supplied explicitly so a freshly-bootstrapped (empty) index
    * reads cleanly. INVARIANT: `indexSchema` is an ENGINE-OWNED format —
    * every file under `path` was written by `writeIndex`/`createIndexIfMissing`
    * above, so forcing the schema is safe; driver-fixture reads must go
    * through `Tables` (drift-tolerant, covered by FixtureSanitySpec). */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(indexSchema).parquet(path)

  /** The versioned-index store: `v=N` dirs behind a `_LATEST` pointer,
    * committed, served and pruned by the one generation protocol
    * ([[graft.operators.GenDir]]). */
  private val versions = new graft.operators.GenDir("_LATEST", "v=")

  /** The index version a versioned root serves: the `_LATEST` pointer
    * (healed from its staged `.tmp` mid-flip), else the highest `v=N`
    * dir; None before the first commit. */
  def latestVersion(spark: SparkSession, root: String): Option[Int] =
    versions.servingGen(spark, root)

  /** Zero-downtime reindex: write the new index as the NEXT `v=<n>`
    * directory while readers keep serving the current one, then flip the
    * tiny `_LATEST` pointer (staged + rename — the cheap-to-make-atomic
    * step; on HDFS/object stores with atomic rename the flip is atomic,
    * and a failed build never corrupts the serving version because it
    * never touched it). A partial `v=<n>` left by a crashed earlier write
    * is cleared before this one writes there, so none of its partitions
    * can leak into the committed version. Returns the committed version
    * number. */
  def writeIndexVersioned(index: DataFrame, root: String): Int =
    versions.rewrite(index.sparkSession, root)(writeIndex(index, _))._1

  /** Read the latest committed version of a versioned index (a specific
    * older version stays readable as `readIndex(spark, s"$root/v=$n")` —
    * pinning for reproducible reruns). */
  def readIndexLatest(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed index version under $root"))
    readIndex(spark, s"$root/v=$v")
  }

  /** Drop all but `keep` versions (reclaim space after reindexes); never
    * touches the serving version, and with `keep >= 2` never the version
    * it replaced (stamped at commit time), so a crashed uncommitted
    * `v=<n>` above the serving one is dropped before the genuine
    * predecessor. Returns the dropped versions. */
  def pruneIndexVersions(spark: SparkSession, root: String,
                         keep: Int = 2): Seq[Int] =
    versions.pruneGens(spark, root, keep)

  /** Compact the index's small files: every `source=` partition holding more
    * than `maxFiles` data files is rewritten as ONE file (a source partition
    * is one document's chunks — always small; the file count grows by one
    * per upsert batch, and reader overhead at 100 TB is per-FILE, not
    * per-byte). Only oversized partitions are touched. The rewrite stages
    * through a temp dir (same durability argument as `upsertIvfAt`), and
    * `repartition(col("source"))` hash-routes each source's rows to a single
    * task, so dynamic overwrite emits exactly one file per source.
    * Returns the compacted source names. */
  def compactIndexAt(spark: SparkSession, path: String,
                     maxFiles: Int = 1): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oversized = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
      .filter(s => fs.listStatus(s.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")) > maxFiles)
      .map(_.getPath.getName.stripPrefix("source="))
    if (oversized.nonEmpty) {
      val rows = readIndex(spark, path)
        .filter(col("source").isin(oversized: _*))
      val tmp = s"$path/__compact_staging"
      rows.write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp)
        .repartition(col("source"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source").parquet(path)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    oversized
  }

  /** Score every chunk against an already-embedded query vector. */
  def score(index: DataFrame, queryVec: Column): DataFrame =
    index.withColumn("score", cosine_similarity(col("embedding"), queryVec))

  /** Flagship search (main.py:176-216): embed the query (foldable — computed
    * once at plan time), cosine-score all chunks, deterministic top-k with
    * total order (score desc, id asc) — SURVEY §2.5 Q2/Q3. Empty-text chunks
    * are dropped post-scoring (main.py:208).
    */
  def search(index: DataFrame, query: String, k: Int = 5,
             dim: Int = HashEmbed.DefaultDim,
             sourceFilter: Option[String] = None): DataFrame = {
    require(query.trim.nonEmpty, "Query cannot be empty") // main.py:317-318
    // Optional metadata predicate (the reference's vector store supports
    // query-time metadata filters but the reference never passes one —
    // SURVEY §2.2 "absent"; here it's free, and on a source-partitioned
    // index table it prunes partitions before the scan).
    val base = sourceFilter.fold(index)(s => index.filter(col("source") === s))
    score(base, hash_embed(lit(query), dim))
      .filter(length(col("text")) > 0)
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      // P3 defensive defaults (main.py:195-206): the reference's store can
      // return matches with missing metadata; our schema is non-null by
      // construction, but the projection preserves the contract.
      .select(
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("source"), lit("Unknown")).as("source"),
        coalesce(col("score"), lit(0.0)).as("score"),
        coalesce(col("id"), lit("")).as("id"))
  }

  /** Context string (main.py:324): `[Source: {s}]\n{t}` blocks joined by
    * `\n\n---\n\n` in rank order. k is small (≤~100), so the deterministic
    * plan-level form — sort_array over collected structs — is cheap; the sort
    * key (negated score, id) reproduces (score desc, id asc).
    */
  def contextColumn: Column =
    array_join(
      transform(
        sort_array(collect_list(struct(
          (-col("score")).as("neg_score"), col("id"), col("source"), col("text")))),
        m => format_string("[Source: %s]\n%s", m.getField("source"), m.getField("text"))),
      "\n\n---\n\n")

  /** Per-chunk result list (main.py:328 `chunks=chunks`): the ranked matches
    * as an array of SearchResult structs (text, source, score, id), in the
    * same (score desc, id asc) order as the context blocks. Scores round to
    * 4 digits like every surfaced score. */
  def chunksColumn: Column =
    transform(
      sort_array(collect_list(struct(
        (-col("score")).as("neg_score"), col("id"), col("source"),
        col("text"), col("score")))),
      m => struct(
        m.getField("text").as("text"),
        m.getField("source").as("source"),
        round(m.getField("score"), 4).as("score"),
        m.getField("id").as("id")))

  /** QueryResponse shape (main.py:326-331): one row
    * (query, chunks, total_results, context). */
  def searchResponse(index: DataFrame, query: String, k: Int = 5): DataFrame =
    search(index, query, k)
      .agg(count(lit(1)).as("total_results"), chunksColumn.as("chunks"),
        contextColumn.as("context"))
      .select(lit(query).as("query"), col("chunks"), col("total_results"),
        col("context"))

  /** Batch multi-query search (SURVEY §2.7): the flagship search over a SET
    * of queries at once. Queries embed once each on their own (tiny) side,
    * broadcast against the index — the corpus never shuffles — and per-query
    * top-k runs through the custom GroupedTopK operator (bounded heaps, no
    * full sort). Output: (query, rank, id, source, text, score). */
  def searchMany(index: DataFrame, queries: Seq[String], k: Int = 5,
                 dim: Int = HashEmbed.DefaultDim): DataFrame = {
    require(queries.nonEmpty && queries.forall(_.trim.nonEmpty))
    val spark = index.sparkSession
    import spark.implicits._
    // duplicates would double their rows into GroupedTopK and interleave
    // ranks; results are keyed by query string, so dedup is result-neutral
    val q = queries.distinct.toDF("query")
      .withColumn("qvec", hash_embed(col("query"), dim))
    val scored = index.crossJoin(broadcast(q))
      .withColumn("score", cosine_similarity(col("embedding"), col("qvec")))
      .filter(length(col("text")) > 0)
      .select(col("query"), col("id"), col("source"), col("text"), col("score"))
    graft.plans.GroupedTopK(scored,
        Seq(col("query")), Seq(desc("score"), asc("id")), k)
      .select(col("query"), col("rank"), col("id"), col("source"),
        col("text"), col("score"))
  }

  /** Metadata-filtered search: the flagship search with an arbitrary
    * query-time predicate applied BELOW scoring — the filter sits between
    * the scan and the per-partition top-k, so Catalyst pushes it into the
    * parquet scan (partition pruning for `source` predicates on a persisted
    * index, PushedFilters for data columns) and only surviving rows are
    * ever embedded-scored. The reference's vector store accepts query-time
    * metadata filters that the service layer never exercises (SURVEY §2.2
    * "absent"); this is that contract made real. */
  def searchWhere(index: DataFrame, query: String, predicate: Column,
                  k: Int = 5, dim: Int = HashEmbed.DefaultDim): DataFrame =
    search(index.filter(predicate), query, k, dim)

  /** Paginated search: page `page` (0-based) of the ranking, `pageSize` rows
    * per page — the scroll-through-results API shape. offset+limit compile
    * into one TakeOrderedAndProject (each partition keeps only
    * offset+pageSize candidate rows; only that many cross to the driver), so
    * deep pages cost O(offset+pageSize), never a full sort. */
  def searchPage(index: DataFrame, query: String, page: Int, pageSize: Int = 5,
                 dim: Int = HashEmbed.DefaultDim): DataFrame = {
    require(query.trim.nonEmpty, "Query cannot be empty")
    require(page >= 0 && pageSize > 0, s"bad page spec: page=$page size=$pageSize")
    score(index, hash_embed(lit(query), dim))
      .filter(length(col("text")) > 0)
      .orderBy(desc("score"), asc("id"))
      .offset(page * pageSize).limit(pageSize)
      .select(col("id"), col("source"), col("text"), col("score"))
  }

  /** Diversified search: at most `perSource` chunks per source may appear in
    * the final ranking — the "don't return five chunks of the same document"
    * result mode. Per-source winners come from the GroupedTopK physical
    * operator (bounded per-source heaps — no global window, no full sort);
    * the cross-source final top-k is TakeOrderedAndProject. Total order:
    * (score desc, id asc) at both levels. */
  def searchDiverse(index: DataFrame, query: String, k: Int = 5,
                    perSource: Int = 1,
                    dim: Int = HashEmbed.DefaultDim): DataFrame = {
    require(query.trim.nonEmpty, "Query cannot be empty")
    val scored = score(index, hash_embed(lit(query), dim))
      .filter(length(col("text")) > 0)
      .select(col("id"), col("source"), col("text"), col("score"))
    graft.plans.GroupedTopK(scored, Seq(col("source")),
        Seq(desc("score"), asc("id")), perSource)
      .orderBy(desc("score"), asc("id")).limit(k)
      .select(col("id"), col("source"), col("text"), col("score"))
  }

  /** Range (radius) search: every chunk scoring at least `minScore` against
    * the query — the thresholded twin of top-k (vector stores expose both;
    * "give me all matches above 0.8", unbounded k). The plan is scan →
    * score → filter: no sort, no shuffle, output size is the matches
    * themselves. Callers needing ranks compose a top-k on the result. */
  def searchRadius(index: DataFrame, query: String, minScore: Double,
                   dim: Int = HashEmbed.DefaultDim): DataFrame = {
    require(query.trim.nonEmpty, "Query cannot be empty")
    score(index, hash_embed(lit(query), dim))
      .filter(length(col("text")) > 0 && col("score") >= minScore)
      .select(col("id"), col("source"), col("score"))
  }

  /** Facet counts over the candidate set: per-source hit count and best
    * score among the query's top `n` candidates — the "group results by
    * document" sidebar of a search UI. Top-n is TakeOrderedAndProject (only
    * n rows cross the exchange at any corpus size); the facet aggregation
    * then runs over those n rows alone. */
  def searchFacets(index: DataFrame, query: String, n: Int = 100,
                   dim: Int = HashEmbed.DefaultDim): DataFrame = {
    require(query.trim.nonEmpty, "Query cannot be empty")
    score(index, hash_embed(lit(query), dim))
      .filter(length(col("text")) > 0)
      .orderBy(desc("score"), asc("id")).limit(n)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_hits"), round(max(col("score")), 4).as("best_score"))
  }

  /** Delete every chunk of the given sources — the document-removal half of
    * the index lifecycle (ingest/upsert put rows in; this takes them out).
    * In-memory form: a partition-prunable NOT-IN filter. */
  def deleteBySource(index: DataFrame, sources: Seq[String]): DataFrame = {
    require(sources.nonEmpty, "no sources to delete")
    index.filter(!col("source").isin(sources: _*))
  }

  /** Delete-by-id: broadcast anti-join against the id set — replace-by-id
    * upsert's other half, for chunk-granular removal. */
  def deleteByIds(index: DataFrame, ids: DataFrame): DataFrame =
    index.join(broadcast(ids.select("id")), Seq("id"), "left_anti")

  /** Persisted delete: drop a source's partition directory from the
    * source-partitioned index table — O(1) file-system metadata work, no
    * rewrite of surviving rows (the same reason `writeIndex` partitions by
    * source in the first place). */
  def deleteSourceAt(spark: SparkSession, path: String, source: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/source=$source")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** RM3-style pseudo-relevance-feedback expanded search: run the flagship
    * vector search, mine expansion terms from the top `fbDocs` chunks
    * (feedback tf x BM25 idf, query terms excluded, top `fbTerms` by
    * weight), then re-score the WHOLE index with BM25 over the expanded
    * term set — query terms at weight 1, expansion terms at 0.5 x their
    * normalized mined weight. The classic fix for vocabulary mismatch: a
    * query phrased one way retrieves chunks phrased another.
    *
    * Determinism recipe: per-(chunk, term) BM25 contributions are
    * fixed-pointed (floor(x * 2^20 + 0.5) as LONG) before the per-chunk
    * sum, so the data-dependent term set cannot introduce f64
    * summation-order drift, and the final ranking orders on the exact
    * integer sum. Scale shape: one tokenize pass (memoized), a vocab-sized
    * df aggregate, a broadcast term table (<= |query| + fbTerms rows)
    * that filters occurrences to the expanded terms' postings, and two
    * SHUFFLE_HASH id joins — never a corpus sort; the final top-k is a
    * TakeOrderedAndProject. Output: (id, source, prf_score) top-k by
    * (exact fixed-point score desc, id). */
  def searchPrf(index: DataFrame, query: String, k: Int = 5, fbDocs: Int = 5,
                fbTerms: Int = 10): DataFrame = {
    require(query.trim.nonEmpty, "Query cannot be empty")
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.forall(_.matches("[a-z0-9]+")),
      "query terms must be plain lowercase words (SQL-literal safe)")
    val spark = index.sparkSession
    import spark.implicits._
    val tokd = graft.operators.PlanCache.memo(
      index.select(col("id"),
        expr(graft.operators.TextAnalysis.tokensExpr).as("toks")))
    val occ = tokd.select(col("id"), explode(col("toks")).as("token"))
    val dl = tokd.select(col("id"), size(col("toks")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs_l"), avg("dl").as("avgdl"))
    val fb = search(index, query, fbDocs).select(col("id"))
    // memoized: both the expansion ranking and the candidate-term set
    // below read it, and each evaluation is a corpus-token pass
    val fbTf = graft.operators.PlanCache.memo(occ.join(broadcast(fb), Seq("id"))
      .groupBy("token").agg(count(lit(1)).as("ftf_l")))
    // df restricted to the terms the query can ever probe (the fb docs'
    // tokens plus the query's own): the full-vocab distinct+groupBy was
    // this query's dominant shuffle — and both its consumers re-ran it.
    // Every consumer joins dfT on a candidate token, so the restricted
    // table returns identical df values; memoized (<= |cand| rows).
    val cand = fbTf.select("token")
      .unionByName(qTerms.toDF("token")).distinct()
    val dfT = graft.operators.PlanCache.memo(
      occ.join(broadcast(cand), Seq("token"))
        .distinct().groupBy("token").agg(count(lit(1)).as("df_l")))
    val idfExpr = "ln((CAST(n_docs_l AS DOUBLE) - CAST(df_l AS DOUBLE) + 0.5)" +
      " / (CAST(df_l AS DOUBLE) + 0.5) + 1.0)"
    val expTerms = fbTf
      .filter(!col("token").isin(qTerms: _*) && col("token").rlike("^[a-z0-9]+$"))
      .join(dfT, Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("w", expr(s"CAST(ftf_l AS DOUBLE) * $idfExpr"))
      .orderBy(desc("w"), asc("token"))
      .limit(fbTerms)
      .select("token", "w")
    val maxW = expTerms.agg(max("w").as("max_w"))
    val termW = qTerms.toDF("token").withColumn("tw", lit(1.0))
      .unionByName(expTerms.crossJoin(broadcast(maxW))
        .select(col("token"), expr("0.5 * w / max_w").as("tw")))
    val termStats = termW.join(dfT, Seq("token"), "left")
      .na.fill(0L, Seq("df_l"))
      .select("token", "tw", "df_l")
    // the term filter runs BEFORE the (id, token) tf aggregation: the
    // optimizer will not push a join below an aggregate itself, and the
    // unfiltered form shuffled every distinct (id, token) pair of the
    // corpus to score <= |query| + fbTerms terms. Inner-joining the
    // distinct-token termStats then grouping is exactly the old
    // group-then-join: same groups survive, same counts.
    val contrib = occ.join(broadcast(termStats.select("token")), Seq("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf_l"))
      .join(broadcast(termStats), Seq("token"))
      .join(dl.hint("SHUFFLE_HASH"), Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("cfx", expr(
        s"CAST(floor(tw * $idfExpr" +
          " * (CAST(tf_l AS DOUBLE) * 2.2) / (CAST(tf_l AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))" +
          " * 1048576.0 + 0.5) AS BIGINT)"))
    contrib.groupBy("id").agg(sum("cfx").as("sfx"))
      .join(index.select("id", "source").hint("SHUFFLE_HASH"), Seq("id"))
      .orderBy(desc("sfx"), asc("id"))
      .limit(k)
      .select(col("id"), col("source"),
        expr("round(CAST(sfx AS DOUBLE) / 1048576.0, 6)").as("prf_score"))
  }

  /** Hybrid search: reciprocal-rank fusion of the vector leg (flagship
    * cosine top-k) and a BM25 lexical leg over the same index — the hybrid
    * retrieval mode production vector stores pair with pure ANN (keyword
    * precision + semantic recall). Each leg ranks its top `nLeg`
    * independently (TakeOrderedAndProject / GroupedTopK shapes — only
    * 2 x nLeg rows survive to the fusion join, which is trivially
    * broadcastable at any corpus size), then
    * `rrf = 1/(kRrf + rank_vec) + 1/(kRrf + rank_lex)` with a missing leg
    * contributing 0 — fixed-order f64, fully oracle-checkable.
    * Output: (id, rnk_vec, rnk_lex, rrf) top-k by (rrf desc, id). */
  def hybridSearch(index: DataFrame, query: String, k: Int = 5, nLeg: Int = 20,
                   kRrf: Int = 60, dim: Int = HashEmbed.DefaultDim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = keywordTerms(query)
    // ranking k already-limited rows: literal partition key as in searchRanked
    val w1 = Window.partitionBy(lit(1))
    val vec = search(index, query, nLeg, dim)
      .withColumn("rnk_vec",
        row_number().over(w1.orderBy(desc("score"), asc("id"))))
      .select(col("id"), col("rnk_vec"))
      .withColumn("rnk_lex", lit(null).cast("int"))
    val legs =
      if (terms.isEmpty) vec
      else {
        val lex = graft.operators.TextAnalysis.bm25(
            index.select(col("id"), col("text")), terms, idCol = "id")
          .filter(col("bm25") > 0)
          .orderBy(desc("bm25"), asc("id")).limit(nLeg)
          .withColumn("rnk_lex",
            row_number().over(w1.orderBy(desc("bm25"), asc("id"))))
          .select(col("id"), col("rnk_lex"))
        // fuse by union + tiny groupBy rather than a FULL OUTER join (the
        // only full-outer physical strategy is a sort-merge join; the union
        // aggregates the same <= 2 x nLeg rows with no join at all)
        vec.unionByName(lex.withColumn("rnk_vec", lit(null).cast("int")))
      }
    legs
      .groupBy("id")
      .agg(min("rnk_vec").as("rnk_vec"), min("rnk_lex").as("rnk_lex"))
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("rnk_vec")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rnk_lex")), lit(0.0)))
      .orderBy(desc("rrf"), asc("id")).limit(k)
      .select(col("id"), col("rnk_vec"), col("rnk_lex"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** Recommendation search — query by example instead of by text: the
    * query vector is `mean(positive embeddings) - mean(negative
    * embeddings)`, the classic collaborative "more like these, less like
    * those" vector-store API. The example set is a handful of ids, so the
    * vector assembles driver-side (sorted-id sequential f64 sums —
    * deterministic and tiny); scoring then runs the standard corpus-scan
    * cosine with the example ids excluded from results. Output:
    * (id, source, score) top-k by (score desc, id asc). */
  def recommend(index: DataFrame, positiveIds: Seq[String],
                negativeIds: Seq[String] = Nil, k: Int = 5): DataFrame = {
    require(positiveIds.nonEmpty, "need at least one positive example id")
    val ids = (positiveIds ++ negativeIds).distinct
    val embs = index.filter(col("id").isin(ids: _*))
      .select(col("id"), col("embedding")).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    require(positiveIds.forall(embs.contains),
      s"positive ids missing from index: ${positiveIds.filterNot(embs.contains)}")
    val dim = embs(positiveIds.head).length
    def mean(of: Seq[String]): Array[Double] = {
      val arr = new Array[Double](dim)
      val present = of.distinct.sorted.filter(embs.contains)
      for (id <- present) {
        val e = embs(id)
        var i = 0
        while (i < dim) { arr(i) += e(i).toDouble; i += 1 }
      }
      if (present.nonEmpty) { var i = 0; while (i < dim) { arr(i) /= present.size; i += 1 } }
      arr
    }
    val p = mean(positiveIds)
    val n = mean(negativeIds)
    // CAST each element: a bare numeric literal parses as DECIMAL in Spark
    // SQL, and cosine_similarity requires float/double arrays
    val qvSql = p.indices.map(i => s"CAST(${p(i) - n(i)} AS DOUBLE)")
      .mkString("array(", ", ", ")")
    index.filter(!col("id").isin(ids: _*))
      .filter(length(col("text")) > 0)
      .withColumn("score", cosine_similarity(col("embedding"), expr(qvSql)))
      .orderBy(desc("score"), asc("id")).limit(k)
      .select(col("id"), col("source"), round(col("score"), 4).as("score"))
  }

  /** Batch QueryResponse: `searchResponse` over a query SET — one row per
    * query (query, chunks, total_results, context), aggregated from
    * `searchMany`'s ranked hits with one tiny groupBy over <= k x |queries|
    * rows. A query whose every candidate was filtered out produces no row
    * (the single-query form returns a 0-count row instead) — with a
    * non-empty index the shapes agree, and EngineSpec pins the parity. */
  def searchResponseMany(index: DataFrame, queries: Seq[String], k: Int = 5,
                         dim: Int = HashEmbed.DefaultDim): DataFrame =
    searchMany(index, queries, k, dim)
      .groupBy(col("query"))
      .agg(count(lit(1)).as("total_results"), chunksColumn.as("chunks"),
        contextColumn.as("context"))
      .select(col("query"), col("chunks"), col("total_results"), col("context"))

  /** Index consistency report (fsck): one row of integrity counters —
    * duplicate ids (replace-by-id upserts must keep ids unique), missing or
    * wrong-dimension embeddings, empty text, null sources. One map-side-
    * combined aggregation pass; run it after bulk loads or before flipping
    * `_LATEST` to a freshly-built version. */
  def indexFsck(index: DataFrame, dim: Int = HashEmbed.DefaultDim): DataFrame =
    index.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("id")).as("n_distinct_ids"),
      (count(lit(1)) - countDistinct(col("id"))).as("n_duplicate_ids"),
      sum(when(col("embedding").isNull || expr(s"size(embedding) != $dim"), 1L)
        .otherwise(0L)).as("n_bad_embeddings"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("n_empty_text"),
      sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_null_source"))

  /** Weighted-blend hybrid search — the other standard fusion, beside
    * rank-based RRF (`hybridSearch`): each leg's kept scores are min-max
    * normalized within the leg, then combined as
    * `alpha * nvec + (1 - alpha) * nlex` (relative-score fusion). A doc
    * missing from a leg contributes 0 for it; a leg whose kept scores are
    * all equal normalizes to 1.0. Everything after the two ranked legs
    * (TakeOrderedAndProject shapes) touches <= 2 x nLeg rows, so the fusion
    * is corpus-size-independent. Deterministic f64 end-to-end — the q70
    * oracle reproduces the normalization and blend exactly. */
  def hybridSearchBlend(index: DataFrame, query: String, k: Int = 5,
                        nLeg: Int = 20, alpha: Double = 0.5,
                        dim: Int = HashEmbed.DefaultDim): DataFrame = {
    require(query.trim.nonEmpty, "Query cannot be empty")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    val terms = query.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
      .map(_.replaceAll("[^a-z0-9]", "")).filter(_.nonEmpty).distinct
    val vec0 = score(index, hash_embed(lit(query), dim))
      .filter(length(col("text")) > 0)
      .orderBy(desc("score"), asc("id")).limit(nLeg)
      .select(col("id"), col("score").as("s"))
    val vstat = vec0.agg(min("s").as("mn"), max("s").as("mx"))
    val vec = vec0.crossJoin(broadcast(vstat))
      .withColumn("nvec", when(col("mx") > col("mn"),
        (col("s") - col("mn")) / (col("mx") - col("mn"))).otherwise(lit(1.0)))
      .select(col("id"), col("nvec"))
      .withColumn("nlex", lit(null).cast("double"))
    val legs =
      if (terms.isEmpty) vec
      else {
        val lex0 = graft.operators.TextAnalysis.bm25(
            index.select(col("id"), col("text")), terms, idCol = "id")
          .filter(col("bm25") > 0)
          .orderBy(desc("bm25"), asc("id")).limit(nLeg)
          .select(col("id"), col("bm25"))
        val lstat = lex0.agg(min("bm25").as("lmn"), max("bm25").as("lmx"))
        val lex = lex0.crossJoin(broadcast(lstat))
          .withColumn("nlex", when(col("lmx") > col("lmn"),
            (col("bm25") - col("lmn")) / (col("lmx") - col("lmn"))).otherwise(lit(1.0)))
          .select(col("id"), col("nlex"))
          .withColumn("nvec", lit(null).cast("double"))
        vec.unionByName(lex.select("id", "nvec", "nlex"))
      }
    legs.groupBy("id")
      .agg(max("nvec").as("nvec"), max("nlex").as("nlex"))
      .withColumn("blend",
        lit(alpha) * coalesce(col("nvec"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("nlex"), lit(0.0)))
      .orderBy(desc("blend"), asc("id")).limit(k)
      .select(col("id"), round(col("nvec"), 6).as("nvec"),
        round(col("nlex"), 6).as("nlex"), round(col("blend"), 6).as("blend"))
  }

  /** Keyword snippets for the top-k hits: each result carries the first
    * matching query keyword (in query order), its 1-based position, and a
    * fixed-length text window starting `before` characters earlier — the
    * highlight payload a search UI renders. Map-only over k rows; the CASE
    * chain unrolls the (small, sanitized) keyword list. A hit matching no
    * keyword — or a keyword-less query — carries a null term and an empty
    * snippet. */
  def searchSnippets(index: DataFrame, query: String, k: Int = 5,
                     before: Int = 40, len: Int = 120,
                     dim: Int = HashEmbed.DefaultDim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = query.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
      .map(_.replaceAll("[^a-z0-9]", "")).filter(_.nonEmpty).distinct
    val hits = search(index, query, k)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(desc("score"), asc("id"))))
    val withMatch =
      if (terms.isEmpty)
        hits.withColumn("term", lit(null).cast("string"))
          .withColumn("pos", lit(null).cast("int"))
      else {
        val termCase = terms.map(t =>
          s"WHEN locate('$t', lower(text)) > 0 THEN '$t'").mkString(" ")
        val posCase = terms.map(t =>
          s"WHEN locate('$t', lower(text)) > 0 THEN locate('$t', lower(text))").mkString(" ")
        hits.withColumn("term", expr(s"CASE $termCase ELSE NULL END"))
          .withColumn("pos", expr(s"CAST(CASE $posCase ELSE NULL END AS INT)"))
      }
    withMatch
      .withColumn("snippet", expr(
        s"IF(pos IS NULL, '', substring(text, greatest(1, pos - $before), $len))"))
      .select(col("rnk"), col("id"), col("term"), col("pos"), col("snippet"))
  }

  /** Batch hybrid search: `hybridSearch` over a SET of queries in one plan —
    * the production shape (RRF over a query batch) without a driver loop.
    *
    * Vector leg: `searchMany` (queries embed once, broadcast; the corpus
    * never shuffles; GroupedTopK ranks). Lexical leg: ONE BM25 stats pass
    * over the UNION of every query's keywords (exact-integer avgdl +
    * per-term dfs pivoted into a single broadcast row — corpus passes stay
    * O(1) in the number of queries), per-query scores as fixed-order f64
    * expressions over the shared tf columns, exploded map-side to
    * (query, id, bm25) rows and ranked per query through GroupedTopK.
    * Fusion: union + groupBy keyed on (query, id) — never a full-outer
    * join — over <= 2 x nLeg x |queries| rows. Keyword-less queries keep
    * their vector leg only, like `hybridSearch`. Per-query results are
    * IDENTICAL to single-query `hybridSearch` (EngineSpec pins this).
    * Output: (query, rank, id, rnk_vec, rnk_lex, rrf), top-k per query by
    * (rrf desc, id asc). */
  def hybridSearchMany(index: DataFrame, queries: Seq[String], k: Int = 5,
                       nLeg: Int = 20, kRrf: Int = 60,
                       dim: Int = HashEmbed.DefaultDim): DataFrame = {
    require(queries.nonEmpty && queries.forall(_.trim.nonEmpty))
    // dedup for the same reason as searchMany: a repeated query string would
    // feed duplicated leg rows into the per-query rankers
    val norm = queries.distinct.map(q => q -> keywordTerms(q))
    val allTerms = norm.flatMap(_._2).distinct
    val vec = searchMany(index, queries, nLeg, dim)
      .select(col("query"), col("id"), col("rank").as("rnk_vec"))
      .withColumn("rnk_lex", lit(null).cast("int"))
    val legs =
      if (allTerms.isEmpty) vec
      else {
        // memoized: the tokenized frame feeds BOTH the stats aggregate and
        // the per-doc tf scoring pass — without the persist each one
        // re-chunks and re-tokenizes the corpus from the raw documents
        // (the chunk generator + regex tokenizer dominate this query's
        // cost; round-5 bench measured the duplicated subtree at ~0.5 s of
        // q57's 2.0 s at sf0.1)
        val toksed = graft.operators.PlanCache.memo(
          index.select(col("id"), col("text"))
            .withColumn("toks", expr(graft.operators.TextAnalysis.tokensExpr))
            .withColumn("dl", expr("size(toks)")))
        val statAggs =
          count(lit(1)).cast("double").as("n_docs") +:
            avg(col("dl")).as("avgdl") +:
            allTerms.zipWithIndex.map { case (t, i) =>
              sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
                .cast("double").as(s"df_$i")
            }
        val stats = toksed.agg(statAggs.head, statAggs.tail: _*)
        val idx = allTerms.zipWithIndex.toMap
        // ONE codegen'd token scan for the whole union term set (term_counts)
        // instead of |terms| interpreted filter() HOFs each re-walking the
        // token array; the select boundary below is what CollapseProject
        // preserves, so the scan runs once per row, not once per tf column
        val withTf = toksed.crossJoin(broadcast(stats))
          .withColumn("__tc", term_counts(col("toks"), allTerms))
          .select(col("*") +: allTerms.indices.map(i =>
            expr(s"CAST(element_at(__tc, ${i + 1}) AS DOUBLE)").as(s"tf_$i")): _*)
        // per-query score: the SAME fixed term order (the query's own,
        // first-appearance) and constants as TextAnalysis.bm25, referencing
        // the union-indexed shared df/tf columns — f64 addition order stays
        // deterministic per query, so the oracle reproduces it
        val (k1, b) = (1.2, 0.75)
        val scored = withTf.select(col("id"),
            explode(array(norm.filter(_._2.nonEmpty).map { case (q, ts) =>
              val score = ts.map { t =>
                val i = idx(t)
                s"""(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
                    * (tf_$i * ${k1 + 1.0}) / (tf_$i + $k1 * (${1.0 - b} + $b * dl / avgdl)))"""
              }.mkString(" + ")
              struct(lit(q).as("query"), expr(s"round($score, 6)").as("bm25"))
            }: _*)).as("qs"))
          .select(col("id"), col("qs.query").as("query"), col("qs.bm25").as("bm25"))
          .filter(col("bm25") > 0)
        val lex = graft.plans.GroupedTopK(scored,
            Seq(col("query")), Seq(desc("bm25"), asc("id")), nLeg)
          .select(col("query"), col("id"), col("rank").as("rnk_lex"))
          .withColumn("rnk_vec", lit(null).cast("int"))
        vec.unionByName(lex.select("query", "id", "rnk_vec", "rnk_lex"))
      }
    val fused = legs.groupBy("query", "id")
      .agg(min("rnk_vec").as("rnk_vec"), min("rnk_lex").as("rnk_lex"))
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("rnk_vec")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rnk_lex")), lit(0.0)))
    graft.plans.GroupedTopK(fused,
        Seq(col("query")), Seq(desc("rrf"), asc("id")), k)
      .select(col("query"), col("rank"), col("id"), col("rnk_vec"),
        col("rnk_lex"), round(col("rrf"), 6).as("rrf"))
  }

  /** Hybrid search served ENTIRELY from maintained artifacts — the
    * composition a production deployment actually runs at 100 TB, where
    * neither leg can afford a from-scratch build at query time:
    *
    *   - vector leg: [[graft.operators.Similarity.ivfPqProbe]] over a
    *     PERSISTED IVF-PQ index (frozen coarse centroids + codebooks,
    *     loaded from storage — the `ensurePersistedIvfPq` lifecycle);
    *   - lexical leg: ONE pre-scored (query_id, doc_id, bm25) frame for
    *     the whole batch over a MAINTAINED inverted index (the streamed,
    *     compacted lex state's fused `bm25StreamedBatchAt` reader — passed
    *     in as a frame so this serving façade does not depend on the
    *     streaming module): one postings pass for the batch, never a
    *     filter+2-aggregation subtree per query;
    *   - fusion: ONE per-query step ([[fuseQuery]]) over the two legs
    *     cogrouped by query_id — each leg ranked to its top `nLeg`, then
    *     `rrf = 1/(kRrf + rnk_vec) + 1/(kRrf + rnk_lex)` with a missing
    *     leg contributing 0, top `k` by (rrf desc, doc_id asc). Both legs
    *     arrive hash-partitioned by query_id, so the fusion adds no
    *     exchange; it is a grouped operator, never a global window.
    *
    * The two legs address one catalog: `vec_id` in the vector index and
    * `doc_id` in the lexical index name the same document. Per-query cost
    * is (corpus/nLists × nProbe) code rows + the query terms' postings —
    * nothing is refit and the corpus never shuffles. Building the frame
    * runs no Spark job when the query frame is a local relation, and a
    * batch runs at most 6 jobs (EngineSpec pins both). Deterministic
    * end-to-end (detKMeans cells, fixed-order ADC folds, integer-exact
    * BM25 stats), so the whole serving path is hash-oracled.
    * `batchSize` is the request's query count, held to
    * [[MaxServingBatch]]. Output: (query_id, doc_id, rnk_vec, rnk_lex,
    * rrf) top-k per query by (rrf desc, doc_id asc). */
  def hybridServingScored(coarse: graft.operators.Similarity.IvfIndex,
                          pq: graft.operators.Similarity.PqIndex,
                          queries: DataFrame, batchSize: Int,
                          lexScored: DataFrame,
                          k: Int = 5, nLeg: Int = 10, kRrf: Int = 60,
                          nProbe: Int = 3, shortlist: Int = 64): DataFrame = {
    require(batchSize >= 1 && batchSize <= MaxServingBatch,
      s"serving batch of $batchSize outside [1, MaxServingBatch=" +
        s"$MaxServingBatch] — split the request into smaller batches")
    val spark = queries.sparkSession
    import spark.implicits._
    val vec = graft.operators.Similarity
      .ivfPqProbe(coarse, pq, queries, nLeg, nProbe, shortlist)
      .select(col("query_id").cast("long").as("query_id"),
        col("vec_id").cast("long").as("doc_id"), col("rnk"))
      .groupBy("query_id").as[Long, VecRank]
    val lex = lexScored.filter(col("bm25") > 0)
      .select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"), col("bm25").cast("double").as("bm25"))
      .groupBy("query_id").as[Long, LexScore]
    vec.cogroup(lex)(fuseQuery(k, nLeg, kRrf)).toDF()
      .select(col("query_id"), col("doc_id"), col("rnk_vec"), col("rnk_lex"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** One vector-leg row: a query's candidate and its 1-based rank. */
  final case class VecRank(query_id: Long, doc_id: Long, rnk: Int)

  /** One lexical-leg row: a query's matched document and its BM25 score. */
  final case class LexScore(query_id: Long, doc_id: Long, bm25: Double)

  /** One fused row, `rrf` unrounded. */
  final case class Fused(query_id: Long, doc_id: Long, rnk_vec: Option[Int],
                         rnk_lex: Option[Int], rrf: Double)

  /** The per-query fusion of [[hybridServingScored]]: rank the lexical
    * rows by (bm25 desc in Spark's double order, doc_id asc) and keep the
    * top `nLeg`, take each document's best rank per leg, score
    * `1.0 / (kRrf + rank)` per present leg (vector first, as the SQL
    * `coalesce(...) + coalesce(...)` adds them), and keep the top `k` by
    * (rrf desc, doc_id asc). */
  private def fuseQuery(k: Int, nLeg: Int, kRrf: Int)
                       (qid: Long, vec: Iterator[VecRank],
                        lex: Iterator[LexScore]): Iterator[Fused] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val lexTop = scala.collection.mutable.PriorityQueue.empty[LexScore](
      Ordering.fromLessThan[LexScore] { (a, b) =>
        val c = compareDoubles(a.bm25, b.bm25)
        c > 0 || (c == 0 && a.doc_id < b.doc_id)
      })
    lex.foreach { l =>
      lexTop.enqueue(l)
      if (lexTop.size > nLeg) lexTop.dequeue()
    }
    val ranks = scala.collection.mutable.Map.empty[Long, (Option[Int], Option[Int])]
    def best(r: Option[Int], n: Int) = Some(r.fold(n)(math.min(_, n)))
    vec.foreach { v =>
      val (rv, rl) = ranks.getOrElse(v.doc_id, (None, None))
      ranks(v.doc_id) = (best(rv, v.rnk), rl)
    }
    lexTop.dequeueAll[LexScore].reverse.zipWithIndex.foreach { case (l, i) =>
      val (rv, rl) = ranks.getOrElse(l.doc_id, (None, None))
      ranks(l.doc_id) = (rv, best(rl, i + 1))
    }
    def rrf(r: Option[Int]) = r.fold(0.0)(n => 1.0 / (kRrf + n))
    ranks.toSeq
      .map { case (d, (rv, rl)) => Fused(qid, d, rv, rl, rrf(rv) + rrf(rl)) }
      .sortWith { (a, b) =>
        val c = compareDoubles(a.rrf, b.rrf)
        c > 0 || (c == 0 && a.doc_id < b.doc_id)
      }
      .take(k).iterator
  }

  /** The hybrid-search keyword normalization, shared by every text-in
    * hybrid entry point (hybridSearch / hybridSearchMany / the q306
    * text-in serving query and its oracle): lowercase, whitespace-split,
    * strip punctuation from each token ("credits!" becomes the keyword
    * credits, not a dropped term), drop what's left empty, dedupe. A
    * query with NO plain keyword (e.g. "!!!") degrades to the vector leg
    * alone — the reference accepts any non-empty query (main.py:317-318)
    * and serves it from the vector store, so hybrid must not be stricter
    * than search. */
  def keywordTerms(query: String): Seq[String] =
    query.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
      .map(_.replaceAll("[^a-z0-9]", "")).filter(_.nonEmpty).distinct

  /** Largest per-request query batch [[hybridServingScored]] accepts. It
    * validates outside input: a serving request is a handful of queries,
    * and a bulk scoring job belongs to `hybridSearchMany`'s grouped form,
    * so a request past the bound is refused instead of served. */
  val MaxServingBatch = 64

  /** GET /health equivalent (main.py:228-253): "healthy" with index stats
    * when the index table is readable, "degraded" with the error otherwise
    * (the reference's missing-index / stats-failure path). */
  def health(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    try {
      val n = readIndex(spark, indexPath).count()
      Seq(("healthy", indexPath, n, null: String))
        .toDF("status", "index", "total_vector_count", "error")
    } catch {
      case e: Exception =>
        Seq(("degraded", indexPath, 0L, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          .toDF("status", "index", "total_vector_count", "error")
    }
  }

  /** Index stats (main.py:240, main.py:350): per-source vector counts. */
  def statsBySource(index: DataFrame): DataFrame =
    index.groupBy("source").agg(count(lit(1)).as("vector_count"))

  /** Index stats: one-row total (vector count + dimension). */
  def statsTotal(index: DataFrame, dim: Int = HashEmbed.DefaultDim): DataFrame =
    index.agg(count(lit(1)).as("total_vector_count"))
      .select(col("total_vector_count"), lit(dim).as("dimension"))
}
