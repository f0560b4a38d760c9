package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, from exact to
  * approximate:
  *
  *  - exact:   hash-groupBy on a content key (one shuffle on the hash)
  *  - n-gram:  exact Jaccard over word-shingle sets. Pairs are generated
  *             per shingle bucket (groupBy shingle -> doc list -> in-bucket
  *             pairs), not via a row-level self-join: one scan, one shuffle
  *             on shingle, one shuffle on the pair key.
  *  - MinHash: 16 signature words taken as the 8 32-bit hex words of two
  *             SHA-256 digests per shingle, min'd per doc — computed by the
  *             codegen'd `MinHashSig` expression as a map-only projection
  *             over the shingle arrays (no explode, no shuffle). Banded 4x4
  *             into LSH bucket keys; candidate pairs from a streamed band
  *             equi-join; exact-Jaccard verification on candidates only. At
  *             100 TB this is the only shape that works: cost ~ candidates,
  *             never ~ pairs.
  *  - SimHash: 32-bit sign-of-sum signature per document (map-only).
  *
  * All hashes are SHA-256-derived: bit-identical across engines, and
  * string-min over fixed-width hex is order-isomorphic to numeric min — so
  * every stage is reproducible in the DuckDB oracle.
  */
object Dedup {

  /** Exact duplicate groups keyed by SHA-256 of a normalization of the text
    * (here: the raw text; callers can pre-normalize). */
  def exactGroups(docs: DataFrame, keyExpr: String = "text"): DataFrame =
    docs.groupBy(expr(s"sha2($keyExpr, 256)").as("content_hash"))
      .agg(min("doc_id").as("canonical_doc"), count(lit(1)).as("n_docs"))

  /** Distinct word-3-gram shingles per document, as an array column;
    * documents with < 3 tokens fall back to a single whole-text shingle.
    * Codegen'd custom expression (one pass); the DuckDB oracle runs the
    * equivalent list_filter/list_transform/list_distinct SQL. */
  def shingleArrays(docs: DataFrame): DataFrame =
    TextAnalysis.spreadForCompute(docs).select(col("doc_id"),
      graft.GraftFunctions.word_shingles(col("text"), 3).as("sh"))

  /** One row per (doc, shingle). */
  def shingles(docs: DataFrame): DataFrame =
    shingleArrays(docs).select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** In-bucket pair generation: explode each bucket's sorted doc list into
    * (a < b) pairs. `ds` is an aggregate attribute, so the nested transform
    * reads a materialized array (no re-evaluation). */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets.filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
             i -> transform(sequence(i + 1, size(ds) - 1),
                    j -> struct(ds[i] AS a, ds[j] AS b))))""")).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))

  /** Candidate pairs from the inverted shingle index, with a document-
    * frequency cap: shingles appearing in more than `maxShingleDf` documents
    * are dropped BEFORE bucket-pair generation. Without the cap, one
    * boilerplate shingle shared by m documents materializes an O(m) bucket
    * array and an O(m^2) pair explosion — the one all-pairs-shaped cost in
    * this pipeline at corpus scale. A shingle that frequent carries no
    * near-duplicate signal (it cannot discriminate pairs at any useful
    * threshold), so dropping it loses only pairs whose ENTIRE overlap is
    * boilerplate. Capped buckets are bounded (<= maxShingleDf elements), so
    * the in-bucket pair explode is safe by construction. */
  def jaccardCandidates(docs: DataFrame, maxShingleDf: Int): DataFrame =
    bucketPairs(
      shingles(docs).groupBy("shingle")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) <= maxShingleDf)).distinct()

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against the
    * full shingle sets: `common` and `jaccard` are computed on the complete
    * arrays (array_intersect), independent of how candidates were generated.
    * Cost ~ candidates, never ~ all pairs. */
  private def verifiedJaccard(candidates: DataFrame, sets: DataFrame,
                              threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("SHUFFLE_HASH"), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("SHUFFLE_HASH"), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("common"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Directed shingle CONTAINMENT pairs — the sub-document dedup measure
    * Jaccard misses: a short doc fully embedded in a long one (a wire
    * reprint inside a roundup page, a quoted chunk inside a scrape) has
    * |A∩B|/|A| ~ 1 while its Jaccard drowns in the big doc's size. Same
    * df-capped candidate machinery as `jaccardPairs` (never corpus²); each
    * surviving candidate verifies BOTH directions against the full
    * shingle arrays (one intersect computes both scores). Output (DIRECTED
    * rows where containment >= threshold, either direction):
    * (contained_doc, container_doc, common, containment). */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
                       maxShingleDf: Int = 1000): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    // the jaccardPairs split: when neither doc dropped a frequent shingle
    // (the whole corpus, typically), common_kept IS the exact intersection
    // and both directed scores compute from COUNTS alone — no set-array
    // join; candidates where the cap bit touched both docs get the exact
    // array_intersect verification, bounded above so no pair is lost
    val stats = pairStats(docs, maxShingleDf)
    def directed(df: DataFrame, common: Column) = {
      val ab = df.select(col("doc_a").as("contained_doc"),
        col("doc_b").as("container_doc"), common.as("common"),
        (common / col("na")).as("containment"))
      val ba = df.select(col("doc_b").as("contained_doc"),
        col("doc_a").as("container_doc"), common.as("common"),
        (common / col("nb")).as("containment"))
      ab.unionByName(ba).filter(col("containment") >= threshold)
        .select(col("contained_doc"), col("container_doc"), col("common"),
          round(col("containment"), 6).as("containment"))
    }
    val exact = directed(stats.filter(least(col("fa"), col("fb")) === 0),
      col("common_kept"))
    val fuzzyCand = stats.filter(least(col("fa"), col("fb")) > 0)
      .withColumn("upper", col("common_kept") + least(col("fa"), col("fb")))
      .filter(col("upper") / col("na") >= threshold ||
        col("upper") / col("nb") >= threshold)
    val sets = shingleArrays(docs)
    val verified = directed(fuzzyCand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("SHUFFLE_HASH"), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("SHUFFLE_HASH"), Seq("doc_b"))
      .withColumn("__common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")),
      col("__common"))
    exact.unionByName(verified)
  }

  /** Exact n-gram Jaccard near-duplicate pairs, in bounded stages:
    *
    *  1. df-capped candidate counting: in-bucket pairs over KEPT (df <=
    *     maxShingleDf) shingles, aggregated to a per-pair `common_kept`.
    *     Shingle sets are distinct per doc, so common_kept IS the exact
    *     intersection size whenever neither doc dropped a frequent shingle.
    *  2. per-doc stats join: set size `n_sh` and dropped-shingle count
    *     `n_freq` (zero unless the cap triggered) — one row per doc, so
    *     corpus-proportional: two SHUFFLE_HASH joins, never broadcast.
    *  3. split on `least(fa, fb)`:
    *     - == 0 (the whole corpus when no shingle exceeds the cap): the pair
    *       needs NO set intersection — jaccard computes from counts alone;
    *     - > 0: true common <= common_kept + min(fa, fb); pairs whose upper
    *       bound misses the threshold are discarded, the near-threshold
    *       rest get exact array_intersect verification. Since upper >= true,
    *       no qualifying pair is lost.
    *
    * The expensive set-array join therefore runs only on pairs where BOTH
    * docs dropped boilerplate shingles — typically none. Output:
    * (doc_a, doc_b, common, jaccard) for true jaccard >= threshold, among
    * pairs sharing at least one non-frequent shingle. */
  /** The shared candidate-pair statistics frame behind `jaccardPairs` and
    * `containmentPairs`: df-capped in-bucket pair counts joined with the
    * per-doc set size / dropped-shingle counts. One memoized plan — both
    * consumers (and both branches within each) read the SAME cached
    * pipeline. Columns: (doc_a, doc_b, common_kept, na, fa, nb, fb). */
  private def pairStats(docs: DataFrame, maxShingleDf: Int): DataFrame = {
    // The BUCKET table is cached: post-aggregation it is small (one row per
    // distinct shingle), it feeds both the pair counting and the per-doc
    // stats, and caching it means the corpus is shingled exactly once on
    // the hot path. (MEMORY_AND_DISK via PlanCache.memo; release with
    // PlanCache.releaseAll.)
    val buckets = PlanCache.memo(
      shingleArrays(docs).select(col("doc_id"), explode(col("sh")).as("shingle"))
        .groupBy("shingle")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds")))
    val partial = bucketPairs(buckets.filter(size(col("ds")) <= maxShingleDf))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common_kept"))
    // Per-doc stats straight from the bucket table: a doc's distinct-shingle
    // count = how many buckets contain it; its dropped count = how many of
    // those buckets are over-cap. One row per doc — tiny, cached, and
    // broadcast to both join sides.
    val docStats = PlanCache.memo(buckets
      .select(explode(col("ds")).as("doc_id"),
        (size(col("ds")) > maxShingleDf).as("freq"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("freq"), 1L).otherwise(0L)).as("n_freq")))
    // docStats is one row per DOC — corpus-proportional — so the join is
    // pinned SHUFFLE_HASH: letting AQE broadcast it when it happens to fit
    // at test SF makes the plan depend on broadcastability it will not
    // have at 100 TB (the round-13 broadcast-pricer rule).
    // The joined frame is memoized: the exact and fuzzy branches BOTH read
    // it, and without the cache the whole pair-count pipeline runs twice
    // just for the fuzzy side to (typically) come up empty — the r2 bench
    // paid exactly that (q22 2.5 s -> 5.2 s).
    PlanCache.memo(partial
      .join(docStats.select(col("doc_id").as("doc_a"),
        col("n_sh").as("na"), col("n_freq").as("fa")).hint("SHUFFLE_HASH"),
        Seq("doc_a"))
      .join(docStats.select(col("doc_id").as("doc_b"),
        col("n_sh").as("nb"), col("n_freq").as("fb")).hint("SHUFFLE_HASH"),
        Seq("doc_b")))
  }

  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxShingleDf: Int = 1000): DataFrame = {
    // `sets` (the raw shingle arrays) is deliberately NOT cached: re-running
    // the codegen'd shingling measures ~35% faster than materializing the
    // large array column through the block manager.
    val sets = shingleArrays(docs)
    val stats = pairStats(docs, maxShingleDf)
    val exact = stats.filter(least(col("fa"), col("fb")) === 0)
      .withColumn("jaccard",
        col("common_kept") / (col("na") + col("nb") - col("common_kept")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("common_kept").as("common"),
        round(col("jaccard"), 6).as("jaccard"))
    val fuzzy = stats.filter(least(col("fa"), col("fb")) > 0)
      .withColumn("upper", col("common_kept") + least(col("fa"), col("fb")))
      .filter(col("upper") / (col("na") + col("nb") - col("upper")) >= threshold)
      .select("doc_a", "doc_b")
    exact.unionByName(verifiedJaccard(fuzzy, sets, threshold))
  }

  /** MinHash signature columns m0..m15: the 8 32-bit hex words of
    * sha256(shingle) and of sha256('x:' || shingle), min'd per doc.
    * Computed by the codegen'd `MinHashSig` expression as a map-only
    * PROJECTION over the per-doc shingle arrays — no shingle explosion and
    * no aggregation shuffle (the previous groupBy/16-min formulation, which
    * the DuckDB oracle still runs, cost one exchange plus 16 interpreted
    * substr-min aggregates). Values are bit-identical to that formulation. */
  def minhashSig(docs: DataFrame): DataFrame = {
    val sig = shingleArrays(docs).select(col("doc_id"),
      graft.GraftFunctions.minhash_sig(col("sh")).as("sig"))
    sig.select(col("doc_id") +:
      (0 until 16).map(j => element_at(col("sig"), j + 1).as(s"m$j")): _*)
  }

  /** Band `b`'s LSH key from a 16-word signature array column: sha2 of
    * the 4 concatenated signature words. The ONE definition behind
    * [[minhashBands]] (q25), [[minhashBucketsWithSets]] (q26/q259), and
    * — mirrored in SQL — the oracle's `dkBandKey`; any change here must
    * change all three together or the batch↔banded↔streamed parity
    * breaks silently. */
  private def bandKeyFromSig(sig: Column, b: Int): Column =
    sha2(concat((0 until 4).map(j => element_at(sig, 4 * b + j + 1)): _*), 256)

  /** Banded signatures: 4 band keys, each hashing 4 signature words. */
  def minhashBands(docs: DataFrame): DataFrame =
    shingleArrays(docs)
      .select(col("doc_id"),
        graft.GraftFunctions.minhash_sig(col("sh")).as("sig"))
      .select(col("doc_id") +:
        (0 until 4).map(b => bandKeyFromSig(col("sig"), b).as(s"band$b")): _*)

  /** One row per (doc, band): the LSH bucket table. */
  /** Near-dup cluster-size histogram — the report a dedup run ships with:
    * how many duplicate clusters exist at each size, and how many
    * documents they cover (size 2 = simple pairs; a long tail of large
    * clusters means template/boilerplate families that deserve their own
    * rule). Derived from [[duplicateClusters]]' labels by two keyed
    * aggregations — cluster frame, then the |distinct sizes|-row
    * histogram. Output: (size, n_clusters, n_docs) ordered by size. */
  def clusterSizeHistogram(pairs: DataFrame): DataFrame =
    duplicateClusters(pairs)
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"))
      .orderBy("size")

  /** Dedup-recall audit — the near-dup sibling of `Similarity.annRecall`:
    * precision/recall of the MinHash-banded candidate path against the
    * exhaustive shingle-join pair set at the same Jaccard threshold. The
    * number a pipeline operator actually needs before trusting banded
    * dedup at scale: banding trades recall for never enumerating
    * corpus² — this measures what that trade costs ON THIS CORPUS (the
    * band/row operating point tunes against it). Both arms are the
    * production operators themselves; the overlap is one pair-keyed semi
    * join of two already-thresholded pair sets, and the three 1-row
    * counts broadcast into a single summary row.
    *
    * `sampleHex` makes the 100 TB operating mode real code, not a doc
    * comment: the exhaustive arm's pair space is the one part of this
    * audit that cannot run over a full production corpus, so BOTH arms
    * restrict to the documents whose sha256("drs:" + doc_id) leading hex
    * digit falls in the first `sampleHex` of "0123456789abcdef" — a
    * deterministic, engine-independent ~sampleHex/16 sample (recall and
    * precision are pair-set ratios, unbiased under a uniform doc sample
    * of both arms; the oracle mirrors the same predicate in DuckDB).
    * Default 16 admits everything — the plan (and q234's hash) is
    * unchanged. */
  def dedupRecallAudit(docs: DataFrame, threshold: Double = 0.5,
                       sampleHex: Int = 16): DataFrame = {
    require(sampleHex >= 1 && sampleHex <= 16,
      s"sampleHex must be in [1, 16], got $sampleHex")
    val base =
      if (sampleHex >= 16) docs
      else {
        val allowed = "0123456789abcdef".take(sampleHex).map(_.toString)
        docs.filter(substring(
          sha2(concat(lit("drs:"), col("doc_id").cast("string")), 256),
          1, 1).isin(allowed: _*))
      }
    // memoized: each arm is consumed twice (its own count + the overlap
    // semi-join), and each evaluation re-runs the full pair miner —
    // without the persist both the exhaustive and the banded generators
    // run twice per audit. Pairs-sized state, bounded by the dup volume.
    val exact = PlanCache.memo(
      jaccardPairs(base, threshold).select("doc_a", "doc_b"))
    val lsh = PlanCache.memo(
      minhashPairs(base, threshold).select("doc_a", "doc_b"))
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val nl = lsh.agg(count(lit(1)).as("n_lsh"))
    val nc = exact.join(lsh.hint("SHUFFLE_HASH"), Seq("doc_a", "doc_b"),
        "left_semi")
      .agg(count(lit(1)).as("n_common"))
    ne.join(broadcast(nl)).join(broadcast(nc))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        expr("""round(CASE WHEN n_exact = 0 THEN CAST(NULL AS DOUBLE)
          ELSE CAST(n_common AS DOUBLE) / n_exact END, 6)""").as("recall"),
        expr("""round(CASE WHEN n_lsh = 0 THEN CAST(NULL AS DOUBLE)
          ELSE CAST(n_common AS DOUBLE) / n_lsh END, 6)""").as("precision"))
  }

  /** Duplicated-block coverage per source — the "what would block dedup
    * save" statistic that justifies (or kills) a dedup pass before anyone
    * runs one: the fraction of each source's 16-token blocks that are
    * corpus-level duplicates (i.e. would be dropped by [[blockDedup]]).
    * Derived entirely from the dedup operator's own per-doc output plus
    * one doc-keyed join back to the source column and a per-source
    * rollup — exact integers, one division. Output: (source, n_docs,
    * n_blocks, n_dup_blocks, dup_frac) ordered by source. */
  def duplicateCoverage(docs: DataFrame, blockTokens: Int = 16): DataFrame = {
    val per = blockDedup(docs, blockTokens)
      .select("doc_id", "n_blocks", "n_kept")
    per.join(docs.select("doc_id", "source").hint("SHUFFLE_HASH"),
        Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_blocks").as("n_blocks"),
        sum(expr("n_blocks - n_kept")).as("n_dup_blocks"))
      .withColumn("dup_frac", expr(
        "round(CAST(n_dup_blocks AS DOUBLE) / n_blocks, 6)"))
      .orderBy("source")
  }

  def minhashBuckets(docs: DataFrame): DataFrame =
    minhashBands(docs).select(col("doc_id"), posexplode(
      array((0 until 4).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "band_key")))

  /** [[minhashBuckets]] carrying the shingle array through the explode —
    * the pair-join shape (`Similarity.rpBucketTableWithVec`): verification
    * rides the one (band_idx, band_key) shuffle, 4 copies per doc, so no
    * candidate-pair re-join against the corpus is ever needed. Band keys
    * are byte-identical to [[minhashBands]]' (same sha2-of-concat over the
    * same signature words). */
  private[graft] def minhashBucketsWithSets(docs: DataFrame): DataFrame =
    shingleArrays(docs)
      .select(col("doc_id"), col("sh"),
        graft.GraftFunctions.minhash_sig(col("sh")).as("sig"))
      .select(col("doc_id"), col("sh"), posexplode(
        array((0 until 4).map(b => bandKeyFromSig(col("sig"), b)): _*))
        .as(Seq("band_idx", "band_key")))

  /** The verify-inside-band-join pair step over a (doc_id, sh, band_idx,
    * band_key) bucket table — shared by [[minhashPairs]] (which builds the
    * table map-only from the docs) and the streaming reader
    * (`Streams.minhashPairsStreamedAt`, which reads it from the maintained
    * band index; the table is a pure per-doc projection, so persisting it
    * IS the production shape — re-banding the corpus per dedup run is the
    * thing that doesn't scale). */
  private[graft] def pairsFromBandBuckets(bk: DataFrame,
                                          threshold: Double): DataFrame =
    bk.as("x").join(bk.as("y").hint("SHUFFLE_HASH"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sh").as("sh_a"), col("y.sh").as("sh_b"))
      .withColumn("common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("common"),
        round(col("jaccard"), 6).as("jaccard"))
      .distinct()

  /** MinHash-LSH near-duplicate pairs: candidates = docs sharing any band
    * bucket, generated by a streamed self-equi-join on (band_idx, band_key)
    * — no per-bucket array materialization, so a massive duplicate cluster
    * costs its pair count but never buffers a bucket in memory (the
    * `simhashPairs` shape). Exact Jaccard is verified INSIDE the band
    * join, BEFORE distinct (the `rpNearDupPairs` shape): the shingle
    * arrays ride the one (band_idx, band_key) shuffle, a pair colliding
    * in several bands re-intersects once per collision — cheap in-join
    * work — and the dedup shuffle carries only THRESHOLD SURVIVORS. The
    * previous join-back form shuffled the corpus-keyed shingle payload
    * twice more (once per pair side) plus a candidate-pair distinct. */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame =
    pairsFromBandBuckets(minhashBucketsWithSets(docs), threshold)

  /** Connected components over a near-duplicate pair graph: every document
    * that appears in `pairs` gets a `cluster` id = the minimum doc_id
    * reachable through shared pairs. This is the step every dedup pipeline
    * needs after ANY pair join (jaccardPairs / minhashPairs / simhashPairs /
    * lshNearDupPairs): pairs say "these two match", clusters say "keep one
    * of these n".
    *
    * Algorithm: iterative min-label propagation — labels start as doc_id,
    * each round every node takes min(own, neighbours') label, until a
    * fixpoint. Rounds ~ cluster diameter (near-dup clusters are shallow;
    * a star around the true original is the common shape). Each round is
    * one equi-join + one groupBy keyed on doc id — no quadratic step — and
    * `localCheckpoint` truncates lineage so plans don't grow with rounds.
    * Each round also pointer-jumps (adopts the label of its label), which
    * halves chain height per round, so rounds are O(log diameter) even for
    * pathological chain-shaped graphs — near-dup clusters themselves are
    * usually shallow stars/cliques around an original. Deterministic: the
    * fixpoint (min doc_id per component) is unique regardless of order.
    *
    * Checkpoint mode: by default each round truncates lineage with
    * `localCheckpoint` — blocks live on executors, fast, but they die with
    * an executor, which on a real cluster means a lost-executor event
    * mid-iteration fails the job. Passing `checkpointDir` switches every
    * round barrier to a reliable `checkpoint` into that (HDFS/S3) directory
    * — the robust form for long iterative jobs at cluster scale, at the cost
    * of a filesystem write per round. Storage contract: per-round checkpoint
    * files persist until the caller deletes the directory (the returned
    * frame reads the LAST of them; set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` for GC-driven
    * cleanup of the earlier rounds). An application-level checkpoint dir, if
    * already configured on the context, is left untouched.
    *
    * The fixed-point loop runs actions per round (a checkpoint plus the
    * convergence probe), so the converged labels are a fit: rebuilding the
    * same clustering over the same file-backed pairs serves the memoized
    * frame ([[Memo.fit]]), whose content is the final checkpointed blocks.
    * In-memory pairs always run the loop. */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 50,
                        checkpointDir: Option[String] = None): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    checkpointDir.foreach(d => if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d))
    ccFits.fit(pairs, s"cc|$maxRounds")(clusterLabels(pairs, maxRounds, checkpointDir))
  }

  private val ccFits = new Memo(Memo.FitCap)

  private def clusterLabels(pairs: DataFrame, maxRounds: Int,
                            checkpointDir: Option[String]): DataFrame = {
    def barrier(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    val edges = barrier(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    var labels = barrier(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // One fused join+groupBy per round (r19: the previous form spent 4
      // joins per round — neighbour min, left-join merge, pointer-jump
      // self-join, changed-flag join). Min labels propagate along the
      // graph edges AND both directions of the current pointer edges:
      //  - (v -> label(v)) delivers label(label(v)) to v — the pointer
      //    jump (short-cutting) that keeps rounds O(log diameter);
      //  - (label(v) -> v) hooks the parent onto its children's labels.
      // Pointer edges stay inside v's component (label(v) is always
      // reachable from v), so the unique fixpoint — min doc_id per
      // component — is exactly the previous formulation's.
      val ptr = labels.filter(col("cluster") =!= col("doc_id"))
      val aug = edges
        .unionByName(ptr.select(col("doc_id").as("src"), col("cluster").as("dst")))
        .unionByName(ptr.select(col("cluster").as("src"), col("doc_id").as("dst")))
      val nbrMin = aug
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("cluster").as("nbr_min"))
      // carry the changed flag through the checkpoint so the convergence
      // probe scans materialized blocks instead of re-running the joins
      val updated = barrier(labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"),
          (coalesce(col("nbr_min"), col("cluster")) < col("cluster")).as("chg")))
      converged = updated.filter(col("chg")).isEmpty
      labels = updated.drop("chg")
      round += 1
    }
    labels.select("doc_id", "cluster")
  }

  /** Which document SURVIVES each near-dup cluster — the keep/drop decision
    * dedup actually ships (clusters alone don't shrink a corpus). The
    * representative is deterministic: longest text first (the
    * keep-the-fullest-copy heuristic), doc_id ascending on ties — via one
    * struct-min aggregate over the cluster-keyed labels joined to doc
    * lengths (SHUFFLE_HASH on doc_id; never a window sort over the
    * corpus). Output per cluster: (cluster, rep_doc_id, n_members) —
    * drop-set = members minus reps, derivable with one anti-join. */
  def clusterRepresentatives(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val labels = duplicateClusters(jaccardPairs(docs, threshold))
    labels
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("__len"))
        .hint("SHUFFLE_HASH"), Seq("doc_id"))
      .groupBy("cluster")
      .agg(min(struct((-col("__len")).as("nl"), col("doc_id").as("id"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("__best.id").as("rep_doc_id"), col("n_members"))
  }

  /** Apply clustering: keep one canonical document (the minimum doc_id) per
    * duplicate cluster, plus every document that was in no pair. The
    * materialization step of dedup — `docs` minus the non-canonical cluster
    * members. SHUFFLE_HASH, not broadcast and not a sort-merge: the label
    * table is per-PAIRED-doc, which a duplicate-heavy corpus makes
    * corpus-proportional, and an equi-join on a unique key needs no sort. */
  def dedupByCluster(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(clusters.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
      .drop("cluster")

  /** SimHash near-duplicate pairs via banded Hamming-distance LSH: slice the
    * 32-bit signature into `maxHamming + 1` bit bands; any pair within
    * Hamming distance `maxHamming` must agree on at least one band
    * (pigeonhole), so the band join finds ALL such pairs — complete for any
    * threshold; verification counts the xor popcount exactly. Shuffle is
    * keyed on (band, value) — never the quadratic pair space. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    val nBands = maxHamming + 1
    // band b covers bits [32*b/nBands, 32*(b+1)/nBands)
    val bandExprs = (0 until nBands).map { b =>
      val lo = 32 * b / nBands
      val hi = 32 * (b + 1) / nBands
      val mask = (1L << (hi - lo)) - 1
      s"(shiftright(simhash, $lo) & $mask)"
    }
    // repartition = a hard materialization barrier: the signature (16 bytes
    // per doc) crosses one exchange ONCE; without it the interpreted
    // aggregate expression is re-inlined into the Generate/join and
    // re-evaluated tens of times per row.
    val sig = simhash(docs).repartition(col("doc_id"))
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(expr(s"array(${bandExprs.mkString(", ")})"))
        .as(Seq("band_idx", "band_val")))
    // Signatures cluster on real corpora (shared vocabulary), so band
    // buckets are skewed and the candidate space is large. Stream candidates
    // through an equi-join (no per-bucket array materialization) and verify
    // the Hamming distance BEFORE the distinct, so the dedup shuffle only
    // carries surviving pairs.
    banded.as("x").join(banded.as("y").hint("SHUFFLE_HASH"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Eval-set decontamination: training documents sharing at least one word
    * `n`-gram shingle with ANY eval document — the contamination check every
    * pretraining pipeline runs before training on scraped data (eval
    * answers leaking into the corpus). The join is keyed on shingle (the
    * inverted-index shape): eval shingles are DISTINCT (the eval set is
    * small — typically broadcastable), so cost ~ train shingles x hit rate,
    * never doc x doc. Shingles are per-doc distinct (WordShingles), so the
    * per-doc count needs no distinct aggregation. Output: (doc_id,
    * n_shared) for contaminated training docs. */
  def contaminated(train: DataFrame, eval: DataFrame, n: Int = 5): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.GraftFunctions.word_shingles(col("text"), n)).as("shingle"))
    val evalSh = sh(eval).select("shingle").distinct()
    sh(train).join(evalSh, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** 32-bit SimHash over whitespace tokens (token hash bits from SHA-256;
    * bit b of the signature = sign of the sum of (2*bit_b(token) - 1)).
    * Map-only, one pass, no shuffle; the custom codegen'd `SimHash`
    * expression replaces a ~50x-slower interpreted HOF formulation (the
    * DuckDB oracle keeps the equivalent pure-SQL form). */
  def simhash(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(TextAnalysis.tokensExpr))
      .select(col("doc_id"),
        graft.GraftFunctions.simhash_sig(col("toks")).as("simhash"))

  /** Exact shared-span pair detection — the tractable Spark form of
    * exact-substring dedup (suffix-array pipelines find char-level repeats;
    * sharded corpora use exactly this windowed-token form): two documents
    * pair iff they share at least `minShared` DISTINCT word `n`-grams at a
    * long window (default 20 tokens — long enough that sharing one is
    * essentially never chance). Spans with document frequency above
    * `dfCap` are excluded: they are corpus boilerplate (the
    * `boilerplateStats` signal), carry no copy evidence, and their pair
    * fan-out is df² — the cap is what keeps the join linear-ish at 100 TB
    * (the `jaccardPairs` df-cap argument). One span-keyed count, one
    * span-keyed self-equi-join over surviving spans, one pair-keyed count.
    * Output: (doc_a, doc_b, n_shared_spans). */
  def sharedSpanPairs(docs: DataFrame, n: Int = 20, minShared: Int = 1,
                      dfCap: Int = 100): DataFrame = {
    require(n >= 1 && minShared >= 1 && dfCap >= 2)
    // spans are pure EQUALITY keys here (never output, never ordered), so
    // they shuffle as a 128-bit hash pair instead of the ~n-word string:
    // the df aggregation and both span-keyed joins carry 16 bytes/row
    // where they carried the raw window text. Two independently salted
    // 64-bit halves make a colliding span pair a 2^-128 event — the same
    // accept-a-crypto-collision stance as the minhash band keys (which
    // ride sha256); xxhash64 because the key needs speed, not stability
    // across engines (the oracle recomputes from the raw spans).
    val sh = docs.select(col("doc_id"),
      explode(graft.GraftFunctions.word_shingles(col("text"), n)).as("raw"))
      .select(col("doc_id"), struct(xxhash64(col("raw")).as("h1"),
        xxhash64(lit("b"), col("raw")).as("h2")).as("span"))
    val ok = sh.groupBy("span").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("span")
    // SHUFFLE_HASH on both joins: the keys are span-valued with per-key
    // population bounded (<= dfCap after the filter), so the hash builds
    // are bounded and the corpus-wide sorts an SMJ would pay buy nothing
    // (the semanticDedup argument; PlanAudit pins no-SMJ)
    val kept = sh.join(ok.hint("SHUFFLE_HASH"), Seq("span"))
    kept.as("a").join(kept.hint("SHUFFLE_HASH").as("b"),
        col("a.span") === col("b.span") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .filter(col("n_shared_spans") >= minShared)
  }

  /** SemDeDup-style semantic deduplication over an embedding column
    * (cluster first, then compare only WITHIN clusters — the embedding-
    * space analogue of the shingle-bucket trick): deterministic KMeans
    * cells (`Similarity.detKMeans`, so the whole pipeline is reproducible
    * and hash-checkable — q77), then an intra-cell cosine pair scan; a
    * vector is dropped iff some LOWER-id vector in its cell scores
    * >= `threshold` against it (lowest id is the kept canonical, the
    * exact-dedup convention). Returns the KEPT rows (vec_id, cell).
    *
    * Scale shape: the pair join is a cell-keyed self-equi-join — shuffle
    * on `cell`, per-cell work quadratic in CELL size (that bound is the
    * SemDeDup contract: k is chosen so corpus/k stays bounded, e.g. tens
    * of thousands of cells at 100 TB), never corpus-quadratic. Cross-cell
    * near-dups are deliberately out of model — the recall/cost trade the
    * method is defined by. */
  def semanticDedup(items: DataFrame, threshold: Double, k: Int = 8,
                    iters: Int = 3): DataFrame = {
    val (_, assigned) = Similarity.detKMeans(items, k, iters)
    val cells = assigned.join(items.select("vec_id", "embedding"), Seq("vec_id"))
    // SHUFFLE_HASH, not sort-merge: the join key is `cell`, whose per-key
    // row count is exactly what SemDeDup bounds (corpus/k), so the hash
    // build is bounded and the corpus-wide sort SMJ would pay buys nothing
    val dropped = cells.as("a").join(cells.hint("SHUFFLE_HASH").as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(graft.GraftFunctions.cosine_similarity(
        col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    // anti-join builds its hash from the dropped-id side — bounded by the
    // near-dup count, so SHUFFLE_HASH again beats a corpus-wide sort
    assigned.join(dropped.hint("SHUFFLE_HASH"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** Per-document shingle novelty — the "what does this doc actually add"
    * measure for incremental corpus curation, with doc_id order standing
    * in for arrival order: the fraction of a doc's distinct shingles whose
    * FIRST corpus occurrence (min doc_id over the whole corpus) is this
    * doc. 1.0 = all-new content; 0.0 = every shingle already seen in an
    * earlier document (the containment-dedup signal aggregated corpus-wide
    * instead of pairwise — a crawl pipeline thresholds this to skip
    * recombination/syndication docs that q164's pairwise containment would
    * have to enumerate pairs to find).
    *
    * Scale shape: distinct per-doc shingles -> one shingle-keyed
    * min(doc_id) aggregation (map-side combined) -> SHUFFLE_HASH join back
    * -> doc-keyed count aggregation. Linear in shingle volume, never
    * pairwise; no df cap needed because nothing ever enumerates a bucket.
    * Output: (doc_id, n_shingles, n_novel, novelty rounded 6dp). */
  def shingleNovelty(docs: DataFrame): DataFrame = {
    // shingleArrays distinct-ifies per doc, so each (doc, shingle) is unique
    val sh = shingles(docs)
    val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    sh.join(first.hint("SHUFFLE_HASH"), Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("round(CAST(n_novel AS DOUBLE) / n_shingles, 6)").as("novelty"))
  }

  /** Corpus-wide block dedup with doc rewrite — the C4/RefinedWeb "remove
    * duplicated passages, keep the first occurrence" pass, on fixed
    * `blockTokens`-token segments (the delimiter-free analog of line-level
    * dedup; the fixture corpus has no sentence boundaries). Every doc
    * splits into non-overlapping token blocks (last block partial); a
    * block survives iff its FIRST corpus occurrence — lexicographic min
    * over (doc_id, block_idx), one struct-min aggregate — is this one.
    * Output materializes the rewrite as a digest rather than the
    * re-joined text (row size stays bounded): (doc_id, n_blocks, n_kept,
    * clean_sha = sha256 of the kept blocks re-joined in order).
    *
    * Scale shape: block table ~ corpus tokens / blockTokens rows; one
    * block-keyed struct-min aggregation (map-side combined), one
    * SHUFFLE_HASH join back, one doc-keyed agg whose per-doc state is the
    * doc's own kept blocks. Linear, never pairwise — this REWRITES what
    * q181's novelty only scores. */
  def blockDedup(docs: DataFrame, blockTokens: Int = 16): DataFrame = {
    require(blockTokens >= 2 && blockTokens <= 4096,
      s"blockTokens must be in [2, 4096]: $blockTokens")
    val bt = blockTokens
    val blocks = docs
      .select(col("doc_id"), expr(graft.operators.TextAnalysis.tokensExpr).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST(ceil(size(toks) / $bt.0) AS INT) - 1),
              i -> named_struct('idx', CAST(i AS BIGINT),
                                'blk', array_join(slice(toks, i * $bt + 1, $bt), ' ')))"""))
        .as("b"))
      .select(col("doc_id"), col("b.idx").as("idx"), col("b.blk").as("blk"))
    val first = blocks.groupBy("blk")
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    blocks.join(first.hint("SHUFFLE_HASH"), Seq("blk"))
      .withColumn("kept", col("f.doc_id") === col("doc_id") && col("f.idx") === col("idx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls of non-kept rows; sort_array orders
        // the struct list by idx (first field) — the doc reassembles in
        // original block order regardless of partitioning
        sha2(array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN kept THEN struct(idx, blk) END)), s -> s.blk)"),
          " "), 256).as("clean_sha"))
  }

  /** Bloom-filter anti-join: corpus rows whose `keyCol` does NOT appear in
    * `exclude` — the decontamination / already-ingested-skip membership
    * check, done so the 100 TB side never shuffles. A Bloom filter built
    * from the exclude side (one aggregate into a 2^mBits-bit array held as
    * a word-index->bits map, ~mBits/8 bytes) broadcasts to every corpus
    * partition; rows failing any of the k probes are DEFINITE non-members
    * (Bloom filters have no false negatives) and pass through map-only.
    * Only the maybe-hits — |exclude| x fp-rate of the corpus — reach the
    * exact anti-join that removes false positives, so the result is
    * EXACTLY the plain anti-join (which is what the oracle declares), at a
    * fraction of its shuffle.
    *
    * Spark's AQE injects a similar runtime bloom under a shuffle join on
    * its own; the explicit operator exists because the filter is REUSABLE
    * (build once per eval set / ingest ledger, apply to every batch) and
    * its result feeds non-join consumers. Hash family: xxhash64(key, i)
    * for probe i — same literal on build and probe side by construction. */
  def bloomAntiJoin(corpus: DataFrame, exclude: DataFrame, keyCol: String,
                    mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    require(mBits >= 64 && Integer.bitCount(mBits) == 1, "mBits must be a power of two >= 64")
    require(k >= 1 && k <= 16)
    val posSql = (1 to k).map(i => s"pmod(xxhash64($keyCol, $i), $mBits)")
    val bloomRow = exclude
      .select(explode(array(posSql.map(expr): _*)).as("pos"))
      .select(expr("pos DIV 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bm"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bm")))).as("bloom"))
    val probe = posSql.map { p =>
      s"(coalesce(try_element_at(bloom, $p DIV 64), 0L)" +
        s" & shiftleft(CAST(1 AS BIGINT), CAST($p % 64 AS INT))) <> 0"
    }.mkString(" AND ")
    val tagged = corpus.crossJoin(broadcast(bloomRow))
      .withColumn("__maybe", expr(probe))
    val definite = tagged.filter(!col("__maybe")).drop("__maybe", "bloom")
    val verified = tagged.filter(col("__maybe")).drop("__maybe", "bloom")
      .join(exclude.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definite.unionByName(verified)
  }

  /** Edit-distance near-duplicate pairs: documents of similar length whose
    * opening `prefixLen` chars are within `maxDist` Levenshtein edits — the
    * fuzzy-key dedup (typo'd titles, re-OCR'd openings) that shingle/hash
    * methods miss because a single in-window edit changes every overlapping
    * shingle.
    *
    * Lossless blocking: lev(a,b) >= |len(a)-len(b)|, so any qualifying pair
    * has |len diff| <= maxDist and its floor(len/maxDist) bands differ by
    * at most 1. Each doc emits its band and band+1; the band-keyed
    * self-equi-join therefore sees every qualifying pair (no recall loss —
    * this is blocking, not LSH), at most twice. The banded-DP `levenshtein`
    * with a threshold (O(len*maxDist), early -1 exit) verifies BEFORE the
    * `distinct`, so the dedup shuffle carries only true pairs (q45's
    * verify-before-distinct move).
    *
    * Scale: shuffle is band-keyed; band population is corpus/|length range|
    * per width-maxDist slice — skew from a popular length band is AQE's
    * skew-join case, and the per-pair cost is capped by prefixLen*maxDist. */
  def levenshteinPairs(docs: DataFrame, maxDist: Int = 5,
                       prefixLen: Int = 60, saltParts: Int = 16): DataFrame = {
    require(maxDist >= 1 && prefixLen >= 1 && saltParts >= 1)
    val d = docs.select(col("doc_id"), length(col("text")).as("len"),
      expr(s"substring(text, 1, $prefixLen)").as("pfx"))
    val bands = expr(s"array(len DIV $maxDist, len DIV $maxDist + 1)")
    // Band cardinality is |length range| / maxDist — few enough keys that a
    // bare band-keyed self-join serializes onto that many tasks while each
    // does quadratic work. Salting restores parallelism losslessly: the
    // LEFT row keeps one sub-block (doc_id mod saltParts), the RIGHT side
    // replicates to all of them, so pair (a, b) with a.doc_id < b.doc_id
    // meets exactly at (band, a.sub) and the key space grows by saltParts
    // at a bounded (skinny-projection) duplication cost.
    val left = d.select(col("doc_id"), col("len"), col("pfx"),
      explode(bands).as("band"), pmod(col("doc_id"), lit(saltParts)).as("sub"))
    val right = d.select(col("doc_id"), col("len"), col("pfx"),
        explode(bands).as("band"))
      .select(col("doc_id"), col("len"), col("pfx"), col("band"),
        explode(expr(s"sequence(0, ${saltParts - 1})")).as("sub"))
    // The DP predicate goes LAST in one inline conjunct chain: a separate
    // .filter(lev >= 0) gets pushed into the join condition AHEAD of the
    // cheap length/id checks (measured: every hash-matched candidate paid
    // the full DP — 36 s at sf0.1; cheap-first ordering + the O(len*d)
    // banded threshold DP cuts it to ~2 s). The tiny survivor set recomputes
    // lev once more in the output projection — noise.
    left.as("a").join(right.as("b").hint("SHUFFLE_HASH"),
        col("a.band") === col("b.band") && col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= maxDist &&
          expr(s"levenshtein(a.pfx, b.pfx, $maxDist)") >= 0) // -1 past maxDist
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr(s"levenshtein(a.pfx, b.pfx, $maxDist)").as("lev"))
      .distinct()
  }
}
