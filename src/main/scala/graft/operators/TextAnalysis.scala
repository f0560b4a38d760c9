package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization stats, quality scoring, heuristic language ID, and document
  * fingerprinting. All are pure projections over `documents` — map-only, no
  * shuffle, codegen'd built-ins — so they scale linearly with input splits.
  *
  * Every formula is also expressible in ANSI/DuckDB SQL (integer or
  * single-division arithmetic), which is what makes them oracle-checkable.
  */
object TextAnalysis {

  /** Non-empty whitespace tokens. Defined once so Spark and the oracle agree
    * on the edge case: `split('', ' ')` yields `['']`, filtered to `[]`. */
  val tokensExpr = "filter(split(text, ' '), t -> t <> '')"

  /** Spread a scan across the cluster before a compute-heavy map stage
    * WHEN the source yields fewer partitions than cores — the small-files
    * / single-row-group case, where per-row compute (per-position hashing,
    * per-doc dynamic programming) would otherwise run on one task. A no-op
    * whenever the scan is already parallel (the 100 TB case: thousands of
    * splits), so the shuffle is only ever paid when it buys parallelism
    * that the scan itself cannot provide. */
  private[operators] def spreadForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Language-ID stopword profiles, alphabetical by language code. Tiny,
    * deterministic n-gram-free heuristic: most stopword hits wins, ties break
    * alphabetically. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit", "von", "zu", "den"),
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "se"),
    "fr" -> Seq("le", "la", "de", "et", "un", "pour", "que", "dans", "ce", "il"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "人", "这"))

  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  private def hitsExpr(ws: Seq[String]): String =
    s"size(filter(toks, t -> t IN (${sqlList(ws)})))"

  /** BPE-ish subword tokenizer regex: runs of letters, runs of digits, or a
    * single other non-space char — the pre-tokenization split GPT-style BPE
    * vocabularies assume. */
  val subtokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Token counting: whitespace tokens (total / distinct / total length) and
    * BPE-ish subword count (all integers — exactly comparable across
    * engines). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(tokensExpr)).selectExpr(
      "doc_id",
      "size(toks) AS n_tokens",
      "size(array_distinct(toks)) AS n_uniq_tokens",
      "aggregate(toks, 0, (acc, t) -> acc + length(t)) AS sum_token_len",
      s"size(regexp_extract_all(text, '$subtokenRegex', 0)) AS n_subtokens")

  /** Quality scoring: stopword ratio, punctuation ratio, and a bounded
    * composite score — the length/punct/stopword heuristics a pretraining
    * pipeline uses for corpus filtering. `passthrough` columns ride along
    * unchanged so pipelines can compose column-wise instead of self-joining
    * the corpus back to its own scores. */
  def qualityScore(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val en = stopwords.toMap.apply("en")
    docs.withColumn("toks", expr(tokensExpr))
      .withColumn("n_tokens", expr("size(toks)"))
      .withColumn("stop_hits", expr(hitsExpr(en)))
      .withColumn("n_punct",
        expr("length(text) - length(regexp_replace(text, '[^a-z0-9 ]', ''))"))
      .selectExpr(
        Seq("doc_id", "n_tokens", "stop_hits", "n_punct",
          "round(IF(n_tokens = 0, 0.0, stop_hits / n_tokens), 6) AS stop_ratio",
          "round(n_punct / greatest(length(text), 1), 6) AS punct_ratio",
          """round(0.4 * IF(n_tokens = 0, 0.0, stop_hits / n_tokens)
               + 0.4 * least(n_tokens / 100.0, 1.0)
               + 0.2 * (1.0 - n_punct / greatest(length(text), 1)), 6) AS quality""")
          ++ passthrough: _*)
  }

  /** Gopher-style repetition/diversity quality rules (Rae et al. 2021,
    * "Scaling Language Models" §A1.1 — public paper): per-document word
    * statistics and the keep/drop verdict a pretraining pipeline applies
    * before anything expensive touches the doc. All five signals come from
    * array expressions over the whitespace tokens — map-only, codegen'd, no
    * shuffle, so the filter runs at scan speed on 100 TB and feeds partition
    * pruning for every downstream stage.
    *
    * Signals (all ratios rounded to 6 so the oracle agrees):
    *   - n_words, mean_word_len — length bounds (the classic 50..100k /
    *     3..10 Gopher bounds, here n_words >= 20 for the synthetic corpus);
    *   - frac_unique — distinct words / words (low = repetitive doc);
    *   - top_word_frac — most frequent word's share (high = degenerate);
    *   - dup_bigram_frac — 1 - distinct bigrams / bigrams (boilerplate
    *     loops). Per-doc cost is O(distinct x words) string compares on
    *     <= a-few-hundred-word docs — cheaper than one shuffle would be. */
  def gopherQuality(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(tokensExpr))
      .withColumn("n_words", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("mean_word_len", expr(
        """round(IF(n_words = 0, 0.0,
             aggregate(toks, 0, (a, t) -> a + length(t)) / CAST(n_words AS DOUBLE)), 6)"""))
      .withColumn("frac_unique", expr(
        "round(IF(n_words = 0, 0.0, size(array_distinct(toks)) / CAST(n_words AS DOUBLE)), 6)"))
      .withColumn("top_word_frac", expr(
        """round(IF(n_words = 0, 0.0,
             array_max(transform(array_distinct(toks), w -> size(filter(toks, t -> t = w))))
               / CAST(n_words AS DOUBLE)), 6)"""))
      .withColumn("dup_bigram_frac", expr(
        """round(IF(n_words < 2, 0.0,
             1.0 - size(array_distinct(transform(sequence(1, CAST(n_words AS INT) - 1),
                 i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))))
               / CAST(n_words - 1 AS DOUBLE)), 6)"""))
      .selectExpr("doc_id", "n_words", "mean_word_len", "frac_unique",
        "top_word_frac", "dup_bigram_frac",
        """CAST(IF(n_words >= 20 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND frac_unique >= 0.45 AND top_word_frac <= 0.1
             AND dup_bigram_frac <= 0.03, 1, 0) AS BIGINT) AS keep""")

  /** Heuristic language ID: stopword-profile voting with deterministic
    * alphabetical tie-break (first language whose score >= all later ones). */
  def langId(docs: DataFrame): DataFrame = {
    val langs = stopwords.map(_._1)
    withLangScores(docs).selectExpr(
      "doc_id" +: langs.map(l => s"s_$l") :+ s"$langPredictExpr AS predicted_lang": _*)
  }

  /** The per-language stopword-hit score columns (s_<lang>) — langId's
    * map-only scoring stage, shared with the confusion audit. */
  private def withLangScores(docs: DataFrame): DataFrame =
    stopwords.foldLeft(docs.withColumn("toks", expr(tokensExpr))) {
      case (df, (lang, ws)) => df.withColumn(s"s_$lang", expr(hitsExpr(ws)))
    }

  /** The argmax-with-alphabetical-tie-break CASE over the score columns. */
  private def langPredictExpr: String = {
    val langs = stopwords.map(_._1)
    langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"s_$r")
      val bound = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $bound THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
  }

  /** Language-ID quality audit: confusion counts of the stored `lang`
    * label vs the heuristic prediction, plus each cell's share of its
    * label's documents (the per-label recall when lang == predicted).
    * The scoring stays map-only on the corpus pass (same projection as
    * `langId` — no self-join back to the label); the confusion frame is
    * |langs|²-bounded, its marginal broadcast back. Exact integer counts,
    * one rounded division per cell. */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val cells = PlanCache.memo(withLangScores(docs)
      .selectExpr("lang", s"$langPredictExpr AS predicted_lang")
      .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n_docs")))
    val perLabel = cells.groupBy("lang").agg(sum("n_docs").as("label_total"))
    cells.join(broadcast(perLabel), Seq("lang"))
      .select(col("lang"), col("predicted_lang"), col("n_docs"),
        expr("round(CAST(n_docs AS DOUBLE) / label_total, 6)").as("label_share"))
      .orderBy("lang", "predicted_lang")
  }

  /** Token-distribution drift between two corpus halves (here: doc_id
    * parity, the q140 snapshot convention): per-token counts on each side,
    * add-1-smoothed probabilities over the UNION vocabulary, and the
    * per-token KL(a||b) contribution — the distribution-shift audit run
    * before accepting a new corpus version (a token whose mass moved
    * carries a large |kl_term|). One token-keyed aggregate builds both
    * sides (map-side combined); the two scalar totals broadcast back; the
    * probability/KL arithmetic is a single double expression over exact
    * int64 counts, rounded at 6. Output per token:
    * (token, n_a, n_b, p_a, p_b, kl_term). */
  def tokenDrift(docs: DataFrame): DataFrame = {
    val sides = docs
      .select((col("doc_id") % 2 === 0).as("__a"), explode(expr(tokensExpr)).as("token"))
      .groupBy("token")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"))
    val memoed = PlanCache.memo(sides)
    val totals = memoed.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"),
      count(lit(1)).as("v"))
    memoed.crossJoin(broadcast(totals))
      .selectExpr("token", "n_a", "n_b",
        "round(CAST(n_a + 1 AS DOUBLE) / (t_a + v), 6) AS p_a",
        "round(CAST(n_b + 1 AS DOUBLE) / (t_b + v), 6) AS p_b",
        """round(CAST(n_a + 1 AS DOUBLE) / (t_a + v)
             * ln((CAST(n_a + 1 AS DOUBLE) / (t_a + v))
                / (CAST(n_b + 1 AS DOUBLE) / (t_b + v))), 6) AS kl_term""")
  }

  /** Vocabulary-coverage curve: for each candidate vocab size K, the token
    * mass a top-K-by-frequency vocabulary covers and the OOV rate a
    * tokenizer trained at that size would pay — the audit behind "is 32k
    * enough for this corpus". Token ranks and cumulative mass use the
    * distributed-rank shape (range repartition on (count desc, token) +
    * per-partition running sums + broadcast prefix offsets — the vocab is
    * never sorted through one task). Only |cutoffs| boundary rows leave the
    * frame. Output per cutoff: (vocab_size, covered, oov_rate). */
  def vocabOovCurve(docs: DataFrame,
                    cutoffs: Seq[Int] = Seq(100, 200, 500, 1000, 2000)): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.forall(_ >= 1) && cutoffs.distinct == cutoffs)
    val spark = docs.sparkSession
    val counts = PlanCache.memo(docs
      .select(explode(expr(tokensExpr)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c")))
    val Row(vocabV: Long, totalT: Long) =
      counts.agg(count(lit(1)), sum("c")).head()
    val ranged = counts.repartitionByRange(32, desc("c"), asc("token"))
      .withColumn("__pid", spark_partition_id())
    val wl = Window.partitionBy("__pid").orderBy(desc("c"), asc("token"))
    val local = PlanCache.memo(ranged
      .withColumn("__rn", row_number().over(wl).cast("long"))
      .withColumn("__run", sum("c").over(wl)))
    val offs = local.groupBy("__pid")
      .agg(count(lit(1)).as("__n"), sum("c").as("__s"))
      .withColumn("__offN", coalesce(sum("__n").over(Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__offS", coalesce(sum("__s").over(Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__offN", "__offS")
    val targets = cutoffs.map(k => math.min(k.toLong, vocabV)).distinct
    val boundary = local.join(broadcast(offs), Seq("__pid"))
      .withColumn("rank", col("__rn") + col("__offN"))
      .withColumn("cum", col("__run") + col("__offS"))
      .filter(col("rank").isin(targets: _*))
      .select("rank", "cum")
    import spark.implicits._
    val wanted = cutoffs.map(k => k.toLong -> math.min(k.toLong, vocabV))
      .toDF("vocab_size", "rank")
    wanted.join(broadcast(boundary), Seq("rank"))
      .select(col("vocab_size"),
        col("cum").as("covered"),
        expr(s"round(1.0 - CAST(cum AS DOUBLE) / ${totalT}L, 6)").as("oov_rate"))
  }

  /** Token dispersion (burstiness): variance-to-mean ratio of a token's
    * per-document term frequency over the WHOLE corpus (absent docs count
    * as tf = 0 — that's what separates a bursty topic word, VMR >> 1, from
    * an evenly spread function word, VMR ~ 1; the Poisson baseline). Two
    * integer moment sums per token (zeros drop out of both), one shared
    * double expression for the ratio. df/tf integers, VMR rounded at 6.
    * Output: (token, df, tf_total, vmr). */
  def tokenDispersion(docs: DataFrame): DataFrame = {
    val nDocs = docs.count()
    docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"),
        sum(expr("tf * tf")).as("s2"))
      .select(col("token"), col("df"), col("tf_total"),
        expr(s"""round((CAST(s2 AS DOUBLE) - CAST(tf_total AS DOUBLE) * tf_total / ${nDocs}L)
                   / tf_total, 6)""").as("vmr"))
  }

  /** Skip-gram pair extraction with harmonic distance weights — the
    * word2vec/GloVe co-occurrence prep: for every ordered position pair at
    * distance d <= `window` inside a doc, emit (center, context) with
    * weight 1/d, aggregated corpus-wide. Pair generation is a pure nested
    * array expression (map-only, per-doc cost n x window — no self-join,
    * no shuffle until the final pair-keyed aggregate). The harmonic weight
    * is summed as round(1e6/d) MICRO-UNITS — exact int64, so the sum is
    * partition-order-invariant where a float 1/3 accumulation is not —
    * and divided once at the boundary. Output (pairs with n >= minCount):
    * (tok_a, tok_b, n_pairs, weight). */
  def skipGrams(docs: DataFrame, window: Int = 3, minCount: Long = 3): DataFrame = {
    require(window >= 1 && window <= 16)
    // i <= size-1 keeps the inner sequence non-empty (size - i >= 1); the
    // size >= 2 filter below keeps the outer one well-formed
    val pairsExpr =
      s"""flatten(transform(sequence(1, size(toks) - 1),
            i -> transform(sequence(1, least($window, size(toks) - i)),
              d -> struct(element_at(toks, i) AS a, element_at(toks, i + d) AS b,
                          CAST(round(1000000.0 / d) AS BIGINT) AS w6))))"""
    spreadForCompute(docs).withColumn("toks", expr(tokensExpr))
      .filter(expr("size(toks) >= 2"))
      .select(explode(expr(pairsExpr)).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_pairs"), sum("p.w6").as("w6"))
      .filter(col("n_pairs") >= minCount)
      .select(col("tok_a"), col("tok_b"), col("n_pairs"),
        // 1e6 (double), NOT 1000000.0: Spark parses the latter literal as
        // DECIMAL and the division would come back decimal-typed
        expr("round(CAST(w6 AS DOUBLE) / 1e6, 6)").as("weight"))
  }

  /** Email shape: local@domain.tld (no lookarounds — portable across Java
    * regex and RE2, so the oracle runs the identical pattern). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone shape: optional +, then >= 8 digits with ()/-/space separators. */
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Text normalization for training corpora: lowercase, collapse runs of
    * whitespace to single spaces, trim. Map-only projection. */
  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r]+", " ")).as("norm_text"))
      .withColumn("n_chars", length(col("norm_text")))

  /** PII scrubbing: redact email addresses and phone numbers with typed
    * placeholders, and count the hits (counts run against the ORIGINAL text,
    * so n_emails/n_phones survive the rewrite). Map-only projection. */
  def redactPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("redacted"))

  /** Corpus vocabulary report: the `k` most frequent tokens with occurrence
    * and document frequencies — the heavy-hitters view every corpus audit
    * starts from. One token-keyed aggregation (map-side partial sums; the
    * distinct-doc count shuffles (token, doc) pairs once), then the global
    * top-k is TakeOrderedAndProject: only k rows cross to the driver.
    * Deterministic total order (count desc, token asc). */
  def topTokens(docs: DataFrame, k: Int = 20): DataFrame =
    docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(desc("n_occurrences"), asc("token")).limit(k)

  /** Sketch-based corpus statistics for the 100 TB regime: HyperLogLog++
    * distinct counts (`approx_count_distinct`, mergeable, constant state)
    * and t-digest-style quantiles (`percentile_approx`) instead of exact
    * DISTINCT / sort-based percentiles, whose state grows with cardinality.
    * Rows-only vs an oracle (sketches are engine-specific); accuracy is
    * gated in TextAnalysisSpec against exact computations. */
  def corpusSketch(docs: DataFrame, relativeSD: Double = 0.02): DataFrame =
    docs.withColumn("toks", expr(tokensExpr))
      .select(col("doc_id"), explode(col("toks")).as("token"),
        length(col("token")).as("token_len"))
      .agg(
        approx_count_distinct(col("token"), relativeSD).as("approx_distinct_tokens"),
        count(lit(1)).as("n_tokens"),
        percentile_approx(col("token_len"), lit(0.5), lit(10000)).as("p50_token_len"),
        percentile_approx(col("token_len"), lit(0.99), lit(10000)).as("p99_token_len"))

  /** BM25 keyword scoring over the corpus for a fixed (small) term set — the
    * lexical retrieval twin of the embedding search, and the hybrid-search
    * second leg every production vector store grows. One pass computes the
    * corpus stats (N, avgdl — exact integer sum / count, so the double is
    * bit-identical across engines — and per-term document frequencies via
    * conditional aggregates pivoted into ONE row); that row broadcasts onto
    * the corpus and the score is a fixed-order per-row expression — no
    * per-doc aggregation, so double addition order is deterministic and the
    * result oracle-checkable. Map-side cost ~ |terms| x tokens/doc. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "terms must be plain lowercase words (SQL-literal safe)")
    // memoized: the tokenized frame feeds both the stats aggregate and the
    // per-doc scoring scan; PlanCache.memo persists MEMORY_AND_DISK, so
    // at corpus scale an evicted block is a local disk read, not a second
    // tokenize pass (the hybridSearchMany shared-subtree rule)
    val toksed = PlanCache.memo(docs.withColumn("toks", expr(tokensExpr))
      .withColumn("dl", expr("size(toks)")))
    val statAggs =
      count(lit(1)).cast("double").as("n_docs") +:
        avg(col("dl")).as("avgdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
            .cast("double").as(s"df_$i")
        }
    val stats = toksed.agg(statAggs.head, statAggs.tail: _*)
    // one codegen'd token scan for all terms (term_counts) — the oracle
    // keeps the per-term list_filter form; counts are integer-exact
    val withTf = toksed.crossJoin(broadcast(stats))
      .withColumn("__tc", graft.GraftFunctions.term_counts(col("toks"), terms))
      .select(col("*") +: terms.indices.map(i =>
        expr(s"CAST(element_at(__tc, ${i + 1}) AS DOUBLE)").as(s"tf_$i")): _*)
    // fixed term order — never a sum aggregate — keeps f64 addition
    // deterministic and engine-portable
    val score = terms.indices.map { i =>
      s"""(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
          * (tf_$i * ${k1 + 1.0}) / (tf_$i + $k1 * (${1.0 - b} + $b * dl / avgdl)))"""
    }.mkString(" + ")
    withTf.selectExpr(
      idCol +: "dl AS n_tokens" +:
        terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i") :+
        s"round($score, 6) AS bm25": _*)
  }

  /** Hashing-trick featurizer: sparse bag-of-words vectors with index =
    * (first 4 hex chars of sha256(token)) mod `dims` — the fixed-size,
    * vocabulary-free text vectorizer (a la HashingTF / scikit's
    * HashingVectorizer), except the hash is the repo's engine-neutral
    * sha256 convention so the features are ORACLE-CHECKABLE (xxhash64 /
    * murmur differ per engine). Long-form output (doc_id, feature, n) —
    * the natural sparse layout; map-side-combined single aggregate. */
  def hashFeatures(docs: DataFrame, dims: Int = 256): DataFrame = {
    require(dims >= 2 && dims <= 65536)
    docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
      .withColumn("feature", expr(
        s"cast(conv(substr(sha2(token, 256), 1, 4), 16, 10) AS BIGINT) % $dims"))
      .groupBy("doc_id", "feature").agg(count(lit(1)).as("n"))
  }

  /** Boolean retrieval: documents containing ALL `must` terms and NONE of
    * the `mustNot` terms — the AND/NOT query form lexical search engines
    * answer from the inverted index. One explode + an immediate token-set
    * filter (only query terms survive the map side) + one doc-keyed
    * conditional aggregate; cost ~ matching postings, never corpus x terms.
    * Output: (doc_id, tf_must = total occurrences of must-terms) — exact
    * integers, deterministic. */
  def booleanSearch(docs: DataFrame, must: Seq[String],
                    mustNot: Seq[String] = Nil): DataFrame = {
    require(must.nonEmpty && (must ++ mustNot).forall(_.matches("[a-z0-9]+")),
      "terms must be plain lowercase words (SQL-literal safe)")
    val mustD = must.distinct
    val notD = mustNot.distinct
    val all = (mustD ++ notD).distinct
    val hitNot =
      if (notD.isEmpty) lit(0)
      else max(when(col("token").isin(notD: _*), 1).otherwise(0))
    docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
      .filter(col("token").isin(all: _*))
      .groupBy("doc_id")
      .agg(
        countDistinct(when(col("token").isin(mustD: _*), col("token"))).as("__nm"),
        sum(when(col("token").isin(mustD: _*), 1L).otherwise(0L)).as("tf_must"),
        hitNot.as("__hn"))
      .filter(col("__nm") === mustD.size && col("__hn") === 0)
      .select(col("doc_id"), col("tf_must"))
  }

  /** Vocabulary build + out-of-vocabulary audit — the tokenizer-prep step
    * of a training pipeline: the vocabulary is every token appearing in at
    * least `minDf` documents, and each document reports how much of its
    * token stream falls outside it (high OOV = noise/junk signal, and the
    * corpus-level rate sizes the UNK bucket). Two aggregates over one
    * memoized explode (df needs per-doc distinct, the rate needs raw
    * instances) + one token-keyed membership join — all keyed shuffles,
    * map-side combined, exact integers; the rate is one division.
    * Output: (doc_id, n_tokens, n_oov, oov_rate). */
  def vocabOov(docs: DataFrame, minDf: Int = 3): DataFrame = {
    require(minDf >= 1)
    val toks = PlanCache.memo(
      docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token")))
    val vocab = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("token"), lit(1L).as("__iv"))
    toks.join(vocab.hint("SHUFFLE_HASH"), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", expr("round(CAST(n_oov AS DOUBLE) / n_tokens, 6)"))
  }

  /** Sparse IDF-weighted shingle-cosine pairs through the inverted index —
    * the lexical near-duplicate/same-topic pair miner (the embedding-free
    * sibling of `Similarity.cosinePairs`, and the weighted refinement of
    * `Dedup.jaccardPairs`: Jaccard counts shared shingles, this one also
    * DISCOUNTS common ones). Document vectors are binary over the distinct
    * word-3-gram shingle space (`Dedup.shingles`), restricted to
    * DISCRIMINATIVE shingles with df <= `maxDf` (a frequent shingle carries
    * no pair signal — the `jaccardCandidates` cap argument — so dropping it
    * bounds every per-shingle bucket at maxDf docs BY CONSTRUCTION; pair
    * generation is bucket², never corpus²). Weights are FIXED-POINT idf:
    * w = round(ln(N/df) * 4096) — integer, so dots and norms are exact
    * integer sums (order-independent, engine-neutral) and the only float op
    * is the final cosine division, one shared expression rounded at 6. The
    * 2^-12 idf quantization shifts cosines by < 1e-3 relative — immaterial
    * to pair mining, essential to reproducibility (the `Graph.pageRank`
    * fixed-point argument).
    *
    * Shape: distinct shingles -> df filter -> per-shingle sorted bucket ->
    * in-bucket pair dot contributions -> (a, b)-keyed sum -> two doc-keyed
    * norm joins. Output: (doc_a, doc_b, cos_sim >= threshold). */
  def sparseCosinePairs(docs: DataFrame, threshold: Double,
                        maxDf: Int = 100): DataFrame = {
    require(threshold >= 0 && threshold <= 1 && maxDf >= 2)
    // shingles are pure EQUALITY keys here (never output, never ordered):
    // the df aggregation, the weight join and the bucket groupBy shuffle a
    // 128-bit hash pair instead of the raw 3-word shingle string — the
    // sharedSpanPairs convention (two independently salted xxhash64 halves;
    // a colliding shingle pair is a 2^-128 event, the same stance as the
    // sha256 minhash band keys; the oracle recomputes from raw shingles).
    val sh = Dedup.shingles(docs).select(col("doc_id"),
      struct(xxhash64(col("shingle")).as("h1"),
        xxhash64(lit("b"), col("shingle")).as("h2")).as("token"))
    val nDocs = docs.select(count(lit(1)).cast("double").as("n_docs"))
    val kept = sh.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .select(col("token"),
        expr("CAST(round(ln(n_docs / df) * 4096) AS BIGINT)").as("w"))
    // memoized: the weighted postings feed the norms, and both sides of the
    // in-bucket pair generation
    val w = PlanCache.memo(
      sh.join(kept.hint("SHUFFLE_HASH"), Seq("token"))
        .select(col("token"), col("doc_id"), col("w")))
    val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val buckets = w.groupBy("token")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("w")))).as("ds"))
      .filter(size(col("ds")) > 1)
    val dots = buckets
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
             i -> transform(sequence(i + 1, size(ds) - 1),
                    j -> struct(ds[i].doc_id AS a, ds[j].doc_id AS b,
                                ds[i].w * ds[j].w AS ww))))""")).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(sum("p.ww").as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na"))
        .hint("SHUFFLE_HASH"), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb"))
        .hint("SHUFFLE_HASH"), Seq("doc_b"))
      .withColumn("cos_sim", expr(
        """CASE WHEN na = 0 OR nb = 0 THEN 0.0
           ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END"""))
      .filter(col("cos_sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Token PMI collocations: pointwise mutual information of token pairs
    * co-occurring in documents — ln(N * n_ab / (n_a * n_b)) over exact
    * document-frequency integers (positive = the pair attracts, the
    * collocation-mining signal). The pair space is per-document distinct-
    * token pairs — `Graph.cappedItems`' ENFORCED basket cap bounds it at
    * maxDocTokens² per doc, never vocab² — and marginals broadcast onto the
    * pair counts (the `associationRules` shape; PMI is ln(lift) computed
    * from the raw integers in one shared double expression). Output:
    * (tok_a, tok_b, n_ab, pmi) for pairs in >= `minPairDocs` docs,
    * a < b. */
  def tokenPmi(docs: DataFrame, minPairDocs: Long = 5,
               maxDocTokens: Int = 1024): DataFrame = {
    require(minPairDocs >= 1)
    val toks = spreadForCompute(docs)
      .select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
    val items = PlanCache.memo(
      Graph.cappedItems(toks, "doc_id", "token", maxDocTokens))
    val tokN = items.groupBy("item").agg(count(lit(1)).as("n_tok"))
    val total = items.select(countDistinct("g").as("n_total"))
    items.as("a").join(items.hint("SHUFFLE_HASH").as("b"),
        col("a.g") === col("b.g") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("tok_a"), col("b.item").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
      .join(broadcast(tokN.withColumnRenamed("item", "tok_a")
        .withColumnRenamed("n_tok", "n_a")), Seq("tok_a"))
      .join(broadcast(tokN.withColumnRenamed("item", "tok_b")
        .withColumnRenamed("n_tok", "n_b")), Seq("tok_b"))
      .crossJoin(broadcast(total))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        expr("round(ln(CAST(n_total AS DOUBLE) * n_ab / (CAST(n_a AS DOUBLE) * n_b)), 6)")
          .as("pmi"))
  }

  /** Inverted-index build: the postings table (token, doc_id, tf) — the
    * data structure that makes lexical retrieval corpus-scan-free. One
    * explode + one (token, doc_id)-keyed count; persist it partitioned (or
    * bucketed) BY TOKEN so a query's terms prune to their partitions. */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))

  /** Per-document token lengths — the second (doc-keyed) index artifact
    * BM25 needs; its single-row aggregate supplies (N, avgdl). */
  def docLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(s"size($tokensExpr)").as("dl"))

  /** Positional inverted index: (token, doc_id, pos) — the structure phrase
    * and proximity queries need, where the plain `postings` table can only
    * answer bag-of-words. One posexplode; persist bucketed by token like
    * `writeLexIndex` when a corpus outgrows recomputation. */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(expr(tokensExpr)).as(Seq("pos", "token")))

  /** Exact phrase search over the positional index: occurrences of the
    * consecutive token sequence `phrase`, counted per document. The classic
    * adjacency chain — the i-th term's postings join the first term's on
    * (doc_id, pos + i) — so per-query cost is bounded by the RAREST term's
    * postings after Catalyst reorders the n-1 equi-joins, never a corpus
    * scan (and never a regex over text, which could not use an index).
    * Deterministic integers end-to-end. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two tokens")
    require(phrase.forall(_.nonEmpty))
    val pp = positionalPostings(docs)
    val base = pp.filter(col("token") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.tail.zipWithIndex.foldLeft(base) { case (acc, (t, i)) =>
      acc.join(
        pp.filter(col("token") === t)
          .select(col("doc_id"), (col("pos") - (i + 1)).as("pos"))
          .hint("SHUFFLE_HASH"),
        Seq("doc_id", "pos"))
    }
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
  }

  /** Sha-derived partition bucket for a token — the persisted-postings
    * layout key. 64 buckets: few enough directories for any filesystem,
    * many enough that a 3-term query prunes ~95% of the index bytes. */
  private[graft] def tokenBucketExpr(tokenCol: String): String =
    s"cast(conv(substr(sha2($tokenCol, 256), 1, 4), 16, 10) AS BIGINT) % 64"

  def tokenBucket(token: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(token.getBytes("UTF-8"))
    (((d(0) & 0xffL) * 256 + (d(1) & 0xffL)) % 64)
  }

  /** Persist the inverted index partitioned by token bucket, plus the
    * doc-lengths table beside it — the lexical twin of the vector index
    * lifecycle (`Engine.writeIndex`). A query's terms map to a handful of
    * buckets, so the postings read is PARTITION-PRUNED at the source
    * (pinned in TextAnalysisSpec), not filtered after a full scan. */
  def writeLexIndex(docs: DataFrame, path: String): Unit = {
    postings(docs)
      .withColumn("pbk", expr(tokenBucketExpr("token")))
      .write.mode("overwrite").partitionBy("pbk").parquet(s"$path/postings")
    docLengths(docs).write.mode("overwrite").parquet(s"$path/doclens")
  }

  /** BM25 over the PERSISTED index: prunes the postings scan to the query
    * terms' buckets before the token filter, then scores via
    * `bm25Indexed`. Per-query I/O ~ index-bytes * |buckets| / 64. */
  def bm25IndexedAt(spark: org.apache.spark.sql.SparkSession, path: String,
                    terms: Seq[String], k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    val buckets = terms.map(tokenBucket).distinct
    val p = spark.read.parquet(s"$path/postings")
      .filter(col("pbk").isin(buckets: _*))
      .select("token", "doc_id", "tf")
    bm25Indexed(p, spark.read.parquet(s"$path/doclens"), terms, k1, b)
  }

  /** BM25 over the inverted index: score the SAME formula as `bm25`, but
    * per-query cost is bounded by the query terms' document frequencies —
    * the postings scan prunes to |terms| tokens (a partition-pruned read
    * when the postings are persisted by token), term dfs collapse to a
    * |terms|-row broadcast, and only MATCHED docs join their lengths. The
    * full-scan `bm25` is the oracle twin: this returns exactly its rows
    * with at least one term hit. */
  def bm25Indexed(postings: DataFrame, docLens: DataFrame, terms: Seq[String],
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "terms must be plain lowercase words (SQL-literal safe)")
    val stats = docLens.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val hits = postings.filter(col("token").isin(terms: _*))
    // pivot the (few) term postings into one row per matched doc
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, col("tf")).otherwise(0L))
        .cast("double").as(s"tf_$i")
    }
    val perDoc = hits.groupBy("doc_id").agg(tfAggs.head, tfAggs.tail: _*)
      .join(docLens.hint("SHUFFLE_HASH"), Seq("doc_id"))
    bm25ScoreTail(perDoc, hits, stats, terms, k1, b)
  }

  /** [[bm25Indexed]] over postings that CARRY the document length — the
    * serving-path scorer for the `(epoch, pbk)`-partitioned maintained
    * lex state, where every postings row rides its doc's `dl` and the
    * corpus statistics fold from tiny additive partials instead of a
    * full doc-length pass. Same formula, same fixed term order, same
    * `round(_, 6)` — rows are byte-identical to [[bm25Indexed]] on the
    * equivalent (postings, docLens) pair (the shared [[bm25ScoreTail]]
    * makes drift impossible), but per-query cost drops the corpus-sized
    * doc-length SHUFFLE_HASH join AND the per-call `n_docs`/`avgdl`
    * recompute — the two 100 TB growth terms of the lexical serving leg.
    * `postings`: (token, doc_id, tf, dl); `stats`: one row
    * (n_docs double, avgdl double), e.g. the maintained state's folded
    * `(n_docs, sum_dl)` partials (`sum_dl / n_docs` equals Spark's
    * `avg(dl)` exactly — integer-valued double sums are exact far past
    * any real corpus size). */
  def bm25CarriedDl(postings: DataFrame, stats: DataFrame,
                    terms: Seq[String], k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "terms must be plain lowercase words (SQL-literal safe)")
    val hits = postings.filter(col("token").isin(terms: _*))
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, col("tf")).otherwise(0L))
        .cast("double").as(s"tf_$i")
    }
    // max(dl): every row of a doc carries the same length (the partial
    // builder joins it on), so any deterministic pick works
    val perDoc = hits.groupBy("doc_id")
      .agg(tfAggs.head, tfAggs.tail :+ max(col("dl")).as("dl"): _*)
    bm25ScoreTail(perDoc, hits, stats, terms, k1, b)
  }

  /** The shared BM25 scoring tail: per-matched-doc tf pivots + df counts
    * + the corpus stats row → scored frame. ONE definition so the
    * full-join scorer and the carried-dl scorer cannot drift — their
    * byte-identical output is what lets the maintained-state readers
    * reuse the batch oracles. `perDoc` must carry (doc_id, tf_0..n, dl);
    * `stats` one row (n_docs, avgdl). */
  private def bm25ScoreTail(perDoc: DataFrame, hits: DataFrame,
                            stats: DataFrame, terms: Seq[String],
                            k1: Double, b: Double): DataFrame = {
    val dfs = hits.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
    val dfRow = dfs.groupBy().pivot("token", terms).agg(first("df")).na.fill(0.0)
      .toDF(terms.indices.map(i => s"df_$i"): _*)
    val score = terms.indices.map(bm25TermExpr(_, k1, b)).mkString(" + ")
    perDoc
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfRow))
      .selectExpr(
        "doc_id" +: "dl AS n_tokens" +:
          terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i") :+
          s"round($score, 6) AS bm25": _*)
  }

  /** The term-i BM25 contribution as SQL text — ONE definition feeding
    * [[bm25ScoreTail]] and [[bm25CarriedDlBatch]], so the per-leg and
    * batched scorers evaluate the byte-identical f64 expression. */
  private def bm25TermExpr(i: Int, k1: Double, b: Double): String =
    s"""(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
        * (tf_$i * ${k1 + 1.0}) / (tf_$i + $k1 * (${1.0 - b} + $b * dl / avgdl)))"""

  /** [[bm25CarriedDl]] for a WHOLE serving batch in one plan — the fused
    * lexical leg. The per-leg reader built one filter+2-aggregation
    * subtree per query (86 Exchanges in q292's captured plan at batch 5);
    * this scores every (query, doc) pair through ONE postings pass: hits
    * join a broadcast (query_id, token, idx) relation, tf/df pivot by the
    * term's index WITHIN ITS OWN query, and each query's score evaluates
    * its own terms in their declared order.
    *
    * Bit-exactness vs the per-leg scorer (what keeps the hybrid oracle
    * hashes unchanged): queries are padded to the batch's max term count,
    * and a padded slot contributes tf_i = 0, df_i = 0, whose term value is
    * `idf * 0.0 / positive = +0.0`; every real contribution is >= 0 (the
    * +1.0 inside ln keeps idf non-negative), and IEEE-754 `x + 0.0 = x`
    * for x >= 0 — so the padded fixed-order sum is bit-identical to the
    * leg's shorter one. tf/df/dl inputs are integer-exact either way, and
    * the per-term expression text is shared ([[bm25TermExpr]]).
    * `postings`: (token, doc_id, tf, dl); `stats`: one (n_docs, avgdl)
    * row. Output: (query_id, doc_id, bm25) for docs matching >= 1 of the
    * query's terms. */
  def bm25CarriedDlBatch(postings: DataFrame, stats: DataFrame,
                         termsByQuery: Seq[(Long, Seq[String])],
                         k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(termsByQuery.nonEmpty, "need at least one (query_id, terms) set")
    termsByQuery.foreach { case (_, ts) =>
      require(ts.nonEmpty && ts.forall(_.matches("[a-z0-9]+")),
        "terms must be plain lowercase words (SQL-literal safe)")
      require(ts.distinct.size == ts.size,
        "terms within one query must be distinct (tf would double-count)")
    }
    val spark = postings.sparkSession
    import spark.implicits._
    val maxN = termsByQuery.map(_._2.size).max
    val termsRel = termsByQuery.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (qid, t, i) }
    }.toDF("query_id", "token", "idx")
    val allTerms = termsByQuery.flatMap(_._2).distinct
    val hits = postings.filter(col("token").isin(allTerms: _*))
      .join(broadcast(termsRel), Seq("token"))
    val tfAggs = (0 until maxN).map(i =>
      sum(when(col("idx") === i, col("tf")).otherwise(0L))
        .cast("double").as(s"tf_$i"))
    val perDoc = hits.groupBy("query_id", "doc_id")
      .agg(tfAggs.head, tfAggs.tail :+ max(col("dl")).as("dl"): _*)
    // df_i = postings rows carrying query i's term, counted once per
    // (query, token) — identical to the per-leg groupBy(token) count
    val dfAggs = (0 until maxN).map(i =>
      sum(when(col("idx") === i, 1L).otherwise(0L))
        .cast("double").as(s"df_$i"))
    val dfs = hits.groupBy("query_id").agg(dfAggs.head, dfAggs.tail: _*)
    val score = (0 until maxN).map(bm25TermExpr(_, k1, b)).mkString(" + ")
    perDoc
      .join(broadcast(dfs), Seq("query_id"))
      .crossJoin(broadcast(stats))
      .selectExpr("query_id", "doc_id", s"round($score, 6) AS bm25")
  }

  /** TF-IDF over the inverted index: returns exactly `tfidf(docs, terms)`'s
    * rows — INCLUDING zero-hit documents (tf=0, score 0.0), because the
    * vector-space consumer wants the whole corpus weighted, unlike
    * `bm25Indexed`'s matched-only retrieval frame. Per-query cost is still
    * df-bounded on the postings side: the term filter prunes to |terms|
    * tokens (partition-pruned when persisted by token bucket), dfs collapse
    * to one broadcast row, and the only corpus-sized input is the doc-length
    * table the scorer needs anyway for n_tokens — a LEFT join from lengths
    * to matched-doc tf pivots, one doc_id-keyed hash shuffle. df counts one
    * postings row per (token, doc) — identical to the full-scan
    * `array_contains` df under the index's append-only contract (a doc's
    * postings live in exactly one epoch/partition, never split).
    * Determinism: same fixed-order f64 sum and add-1-smoothed idf as
    * `tfidf`, so the rows are byte-identical, which is what lets q98's
    * oracle hash-check this variant too. */
  def tfidfIndexed(postings: DataFrame, docLens: DataFrame,
                   terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "terms must be plain lowercase words (SQL-literal safe)")
    val stats = docLens.agg(count(lit(1)).cast("double").as("n_docs"))
    val hits = postings.filter(col("token").isin(terms: _*))
    val dfs = hits.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, col("tf")).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = hits.groupBy("doc_id").agg(tfAggs.head, tfAggs.tail: _*)
    val dfRow = dfs.groupBy().pivot("token", terms).agg(first("df")).na.fill(0.0)
      .toDF(terms.indices.map(i => s"df_$i"): _*)
    val score = terms.indices
      .map(i => s"(CAST(tf_$i AS DOUBLE) * ln((n_docs + 1.0) / (df_$i + 1.0)))")
      .mkString(" + ")
    docLens.join(perDoc.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .na.fill(0L, terms.indices.map(i => s"tf_$i"))
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfRow))
      .selectExpr(
        "doc_id" +: "dl AS n_tokens" +:
          terms.indices.map(i => s"tf_$i") :+
          s"round($score, 6) AS tfidf": _*)
  }

  /** Gopher-style repetition signals per document: the fraction of duplicate
    * lines and of duplicate word 2-/3-grams — the boilerplate/looping-text
    * filters a pretraining pipeline applies after exact dedup. Map-only
    * projection (array_distinct is O(n) per doc); every ratio is a single
    * int/int division, exactly comparable across engines. */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(tokensExpr))
      .withColumn("lines", expr(
        "filter(transform(split(text, '\n'), l -> trim(l)), l -> l <> '')"))
      .withColumn("g2", expr(
        """IF(size(toks) < 2, array(),
             transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i])))"""))
      .withColumn("g3", expr(
        """IF(size(toks) < 3, array(),
             transform(sequence(2, size(toks) - 1), i -> concat(toks[i-2], ' ', toks[i-1], ' ', toks[i])))"""))
      .selectExpr(
        "doc_id",
        "size(lines) AS n_lines",
        "size(g2) AS n_2grams",
        "round(IF(size(lines) = 0, 0.0, 1.0 - size(array_distinct(lines)) / size(lines)), 6) AS dup_line_frac",
        "round(IF(size(g2) = 0, 0.0, 1.0 - size(array_distinct(g2)) / size(g2)), 6) AS dup_2gram_frac",
        "round(IF(size(g3) = 0, 0.0, 1.0 - size(array_distinct(g3)) / size(g3)), 6) AS dup_3gram_frac")

  /** Document fingerprint: minimum SHA-256 over all 8-char grams — an
    * order-invariant rolling-window fingerprint (winnowing with window = whole
    * doc). Identical prefix-shifted texts collide; unrelated texts don't.
    * Codegen'd custom expression; the SQL twin
    * `array_min(transform(sequence(...), i -> sha2(substring(text,i,8),256)))`
    * is what the DuckDB oracle runs. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.GraftFunctions.min_gram_hash(col("text"), 8).as("fingerprint"))

  /** Winnowing fingerprints (the MOSS local document-fingerprinting
    * algorithm): hash every `k`-char gram, slide a window of `w`
    * consecutive positions, and keep each window's minimal hash with the
    * RIGHTMOST-position tie-break — guaranteeing any match of length
    * >= k+w-1 between two documents shares a selected fingerprint while
    * storing only ~2/(w+1) of the gram hashes. `fingerprint` (q20) is the
    * degenerate whole-doc window; this is the positional form plagiarism /
    * near-dup span detection needs.
    *
    * The min-with-rightmost-tie order is packed into ONE sortable string —
    * hash hex (64 chars) || zero-padded (10^9 - pos) — so the rolling
    * selection is a plain window `min` both engines implement identically.
    * Docs shorter than `k` have no grams and are absent; docs with fewer
    * than `w` grams select from the partial window at the last position.
    *
    * Shape at scale: the whole selection is LOCAL to a document, so it
    * runs entirely inside per-row array expressions — zero shuffles, zero
    * window exchanges, a pure map over the corpus splits (the earlier
    * formulation windowed 64-bytes-per-gram rows through an exchange +
    * sort + distinct + groupBy, 4 wide stages for a per-doc computation;
    * at sf0.1 that was the slowest query in the suite at ~11 s, this form
    * is a few hundred ms). Per-position sha256 is the oracle-parity
    * choice; a production 100 TB run swaps in a codegen'd rolling
    * polynomial hash (`MinGramHash` is the existing codegen'd cousin)
    * without changing the selection algebra. */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && k <= 256 && w >= 1 && w <= 1024, s"bad winnow params k=$k w=$w")
    spreadForCompute(docs)
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), expr(s"length(text) - ${k - 1}").as("n_grams"),
        // the packed sortable key per gram position: hash || 10^9 - pos
        expr(s"""transform(sequence(1, length(text) - ${k - 1}),
            i -> concat(sha2(substring(text, i, $k), 256),
                        lpad(CAST(1000000000 - i AS STRING), 10, '0')))""")
          .as("keys"))
      // rolling min over the last `w` positions, partial window only at
      // the final position of short docs (pos >= least(w, n_grams))
      .select(col("doc_id"), col("n_grams"),
        expr(s"""array_distinct(transform(
            sequence(least($w, n_grams), n_grams),
            i -> array_min(slice(keys, greatest(1, i - ${w - 1}),
                                 i - greatest(1, i - ${w - 1}) + 1))))""")
          .as("sel"))
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_fp"),
        expr("round(CAST(size(sel) AS DOUBLE) / n_grams, 6)").as("density"),
        sha2(expr(
          """array_join(transform(array_sort(transform(sel,
               mk -> struct(1000000000 - CAST(substring(mk, 65, 10) AS BIGINT) AS pos,
                            substring(mk, 1, 64) AS hash))),
             s -> s.hash), '')"""), 256).as("fp_sha"))
  }

  /** Cross-document boilerplate fractions: the share of each document's
    * DISTINCT word `n`-grams that occur in >= `minDocs` distinct documents
    * (headers, footers, licence blocks, templated spans — the inter-document
    * complement of `repetitionStats`' intra-document filters; C4/RefinedWeb
    * drop or strip high-boilerplate docs). Grams are `word_shingles` (one
    * codegen'd pass, distinct per doc, whole-text fallback for short docs,
    * so every doc appears in the output and the fraction is never 0/0).
    *
    * Shape: one gram-keyed count (distinct-per-doc grams make plain
    * `count(*)` the document frequency — no distinct aggregation), one
    * gram-keyed join back, one doc-keyed count. Cost ~ total grams ~ corpus
    * tokens; no pair space anywhere. `boiler_frac` is a single long/long
    * division — exact IEEE on both engines, so no rounding is needed. */
  /** Unigram-LM surprisal scoring (the CCNet/perplexity-filter heuristic
    * without an external model: the corpus IS the language model): train a
    * unigram LM over the corpus's own token frequencies, then score each
    * document by its mean token surprisal `-ln(cnt_t / total)`. Low = made
    * of common words (boilerplate-ish), high = rare-token soup (noise);
    * both tails are the usual filter targets.
    *
    * Summation uses the fixed-point trick (`floor(s * 2^30 + 0.5)` as LONG
    * per token occurrence, integer sums commute) so the per-doc mean is
    * identical under any partitioning/aggregation order — what makes a
    * transcendental-scoring pass hash-checkable at all (ln itself matches
    * the oracle engine bit-for-bit on these inputs, as q48's BM25 idf
    * established). Shape: one token-keyed count (the corpus LM), a
    * broadcast 1-row total, one token-keyed join back, one doc-keyed
    * integer agg — cost ~ corpus tokens, the `boilerplateStats` shape.
    * Docs with zero tokens have no defined mean and are omitted (both
    * engines agree). */
  def surprisalScore(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
    val lm = occ.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = lm.agg(sum("cnt").as("total"))
    val fx = lm.crossJoin(broadcast(total))
      .withColumn("sfx", expr(
        "CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1073741824.0 + 0.5) AS BIGINT)"))
      .select("token", "sfx")
    occ.join(fx, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("sfx").as("ssfx"))
      .withColumn("surprisal",
        expr("(CAST(ssfx AS DOUBLE) / n_tokens) / 1073741824.0"))
      .select("doc_id", "n_tokens", "surprisal")
  }

  /** TF-IDF keyword scoring for a fixed (small) term set — the vector-space
    * ancestor of `bm25`, kept alongside it because downstream rankers often
    * want the raw tf*idf weights rather than BM25's saturated form. Same
    * scale shape as bm25: ONE stats pass pivoted into one broadcast row
    * (exact integer document frequencies), then a map-only fixed-term-order
    * score expression — f64 addition order is fixed, so the result is
    * engine-exact. idf is add-1-smoothed: ln((N + 1) / (df + 1)). */
  def tfidf(docs: DataFrame, terms: Seq[String], idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "terms must be plain lowercase words (SQL-literal safe)")
    val toksed = docs.withColumn("toks", expr(tokensExpr))
    val statAggs =
      count(lit(1)).cast("double").as("n_docs") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
            .cast("double").as(s"df_$i")
        }
    val stats = toksed.agg(statAggs.head, statAggs.tail: _*)
    val withTf = toksed.crossJoin(broadcast(stats))
      .withColumn("__tc", graft.GraftFunctions.term_counts(col("toks"), terms))
      .select(col("*") +: terms.indices.map(i =>
        expr(s"CAST(element_at(__tc, ${i + 1}) AS DOUBLE)").as(s"tf_$i")): _*)
    val score = terms.indices
      .map(i => s"(tf_$i * ln((n_docs + 1.0) / (df_$i + 1.0)))").mkString(" + ")
    withTf.selectExpr(
      idCol +: "size(toks) AS n_tokens" +:
        terms.indices.map(i => s"CAST(tf_$i AS BIGINT) AS tf_$i") :+
        s"round($score, 6) AS tfidf": _*)
  }

  /** Bigram-LM surprisal: `surprisalScore`'s second-order form — the corpus
    * trains an add-one-smoothed bigram model P(w2|w1) = (c12+1)/(c1+V), and
    * each document is scored by its mean bigram surprisal -ln P. The
    * KenLM-style perplexity filter a pretraining pipeline runs, without an
    * external model. Same determinism recipe as `surprisalScore`: the one
    * transcendental is evaluated per DISTINCT bigram and the per-doc mean
    * sums 2^30-fixed-point longs, so partitioning cannot flip bits.
    *
    * Shape: bigram occurrences (~tokens) are aggregated once (c12), rolled
    * up once (c1 — the count of bigrams starting with w1), and joined back
    * on the bigram key; the vocab size V is one broadcast row. Documents
    * with fewer than two tokens have no bigrams and are omitted (both
    * engines agree). */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val toksed = docs.select(col("doc_id"), expr(tokensExpr).as("toks"))
    val occ = toksed.select(col("doc_id"), explode(expr(
        """IF(size(toks) < 2, array(),
             transform(sequence(1, size(toks) - 1),
               i -> struct(toks[i-1] AS w1, toks[i] AS w2)))""")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = occ.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = toksed.select(explode(col("toks")).as("t"))
      .agg(countDistinct("t").as("v"))
    // c1 is one row per unigram and fx one per bigram — both vocabulary-
    // proportional (Heaps' law), so both hops pin SHUFFLE_HASH
    val fx = c12.join(c1.hint("SHUFFLE_HASH"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("sfx", expr(
        """CAST(floor(-ln((CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v))
          | * 1073741824.0 + 0.5) AS BIGINT)""".stripMargin))
      .select("w1", "w2", "sfx")
    occ.join(fx.hint("SHUFFLE_HASH"), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("sfx").as("s"))
      .withColumn("bigram_surprisal",
        expr("(CAST(s AS DOUBLE) / n_bigrams) / 1073741824.0"))
      .select("doc_id", "n_bigrams", "bigram_surprisal")
  }

  /** c-TF-IDF topic terms: the top-k most characteristic tokens per class
    * (BERTopic's cluster-labelling step — run it on `lang`, a source tag, or
    * a detKMeans cell id to name clusters). score = tf_class *
    * ln((C+1)/(df_class+1) + 1) with C = total classes, df_class = classes
    * containing the token; ties break token-ascending.
    *
    * Shape: one (class, token) aggregate (~distinct tokens per class), one
    * token-keyed rollup for df_class, one broadcast class count, and the
    * top-k ranks through GroupedTopK's bounded heaps — never a
    * row_number window, so a million-cluster run holds k rows per class. */
  def classTopTerms(docs: DataFrame, classCol: String = "lang", k: Int = 5): DataFrame = {
    require(k >= 1)
    val occ = docs.select(col(classCol).as("cls"), explode(expr(tokensExpr)).as("token"))
    val tfc = occ.groupBy("cls", "token").agg(count(lit(1)).as("tf"))
    val dfc = tfc.groupBy("token").agg(count(lit(1)).as("n_cls"))
    val ncls = docs.agg(countDistinct(col(classCol)).as("total_cls"))
    // tfc and dfc are both ~|vocab| rows — vocabulary grows with the
    // corpus (Heaps' law), so the token join is pinned SHUFFLE_HASH
    val scored = tfc.join(dfc.hint("SHUFFLE_HASH"), Seq("token"))
      .crossJoin(broadcast(ncls))
      .withColumn("score", expr(
        """round(CAST(tf AS DOUBLE)
          | * ln((CAST(total_cls AS DOUBLE) + 1.0) / (CAST(n_cls AS DOUBLE) + 1.0) + 1.0),
          | 6)""".stripMargin))
    graft.plans.GroupedTopK(
        scored.select(col("cls"), col("token"), col("tf"), col("score")),
        Seq(col("cls")), Seq(desc("score"), asc("token")), k)
      .select(col("cls").as(classCol), col("token"), col("tf"), col("score"),
        col("rank"))
  }

  /** Zipf-slope corpus health per group: OLS slope of ln(term frequency)
    * against ln(rank) over each group's `topRanks` most frequent terms —
    * natural text sits near -1; a flattened slope flags heavy duplication
    * or template text, a steepened one flags vocabulary collapse
    * (synthetic/generated corpora). One of the cheap whole-corpus
    * statistics a data card wants next to the q145 vocabulary curve.
    *
    * Determinism recipe: ranks come from GroupedTopK (bounded heaps, never
    * a per-group window sort over the full vocabulary); both regression
    * coordinates are fixed-pointed ONCE (floor(ln * 2^20 + 0.5) as LONG —
    * the searchPrf scale), so the OLS moment sums are exact integers under
    * any partitioning, and the slope/intercept are single double
    * expressions over those integers (identical bit patterns in any
    * engine). The 2^20 scale cancels in the slope; the intercept divides
    * it back out. Output: (group, n_terms, slope, intercept), 6dp. */
  def zipfSlope(docs: DataFrame, groupCol: String = "source",
                topRanks: Int = 1000, minTerms: Int = 16): DataFrame =
    zipfSlopeFromCounts(groupTermCounts(docs, groupCol), groupCol,
      topRanks, minTerms)

  /** The (g, token, c) per-group term-count aggregate that `zipfSlope`,
    * `sourceEntropy`, and `jsdSources` all consume — also the additive
    * state the streaming maintainer folds (counts merge by sum; the state
    * is vocab×groups-bounded, not corpus-bounded). */
  def groupTermCounts(docs: DataFrame, groupCol: String = "source"): DataFrame =
    docs.select(col(groupCol).as("g"), explode(expr(tokensExpr)).as("token"))
      .groupBy("g", "token").agg(count(lit(1)).as("c"))

  /** `zipfSlope` from a pre-built (g, token, c) count table (batch or
    * folded streaming state). */
  def zipfSlopeFromCounts(counts: DataFrame, groupCol: String = "source",
                          topRanks: Int = 1000,
                          minTerms: Int = 16): DataFrame = {
    require(topRanks >= minTerms && minTerms >= 2,
      s"need topRanks >= minTerms >= 2: $topRanks, $minTerms")
    val cnt = counts.select(col("g"), col("token"), col("c").as("cnt"))
    val ranked = graft.plans.GroupedTopK(cnt,
      Seq(col("g")), Seq(desc("cnt"), asc("token")), topRanks)
    val fx = ranked.select(col("g"),
      expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT)").as("x"),
      expr("CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT)").as("y"))
    fx.groupBy("g")
      .agg(count(lit(1)).as("n_terms"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .filter(col("n_terms") >= minTerms)
      .withColumn("slope", expr(
        """(CAST(n_terms AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n_terms AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"""))
      .select(col("g").as(groupCol), col("n_terms"),
        round(col("slope"), 6).as("slope"),
        round(expr("(CAST(sy AS DOUBLE) - slope * sx) / n_terms / 1048576.0"), 6)
          .as("intercept"))
  }

  /** Term burstiness: collection frequency over document frequency per
    * term — cf/df near 1 means a term is spread thin (function words,
    * well-mixed topics); a high ratio means it CLUMPS into few documents
    * (named entities, boilerplate runs, template artifacts — the terms a
    * stopword list misses but a dedup/quality pass should look at). Exact
    * integer counts, one division, global top-k via TakeOrderedAndProject;
    * `minDf` silences singleton noise. Output: (token, cf, df, burstiness),
    * ranked (burstiness desc, cf desc, token asc). */
  def termBurstiness(docs: DataFrame, minDf: Int = 5, k: Int = 20): DataFrame = {
    require(minDf >= 1 && k >= 1)
    val occ = docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
    occ.groupBy("token")
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .withColumn("burstiness", expr("round(CAST(cf AS DOUBLE) / df, 6)"))
      .orderBy(desc("burstiness"), desc("cf"), asc("token"))
      .limit(k)
  }

  /** Per-source readability report (Flesch-reading-ease family): words are
    * the shared whitespace tokens, sentences are `[.!?]+` runs (clamped to
    * >= 1 so fragments still score), syllables are `[aeiouy]+` vowel-group
    * runs over the lowercased text — the standard dictionary-free syllable
    * heuristic. The per-doc score `206.835 - 1.015*(w/s) - 84.6*(sy/w)` is
    * folded to 2^20 fixed point before the per-source mean so the sum
    * commutes under any partitioning (the zipfSlope/surprisal convention);
    * the corpus-level word/sentence/syllable tallies stay exact integers.
    *
    * Shape at scale: one map-only projection (three regex passes per doc,
    * all codegen'd built-ins), one partial-aggregated shuffle on the group
    * key — the cheapest possible corpus-health pass, same plan as
    * `tokenStats`. */
  def readability(docs: DataFrame, groupCol: String = "source"): DataFrame =
    docs.select(col(groupCol),
        expr(s"size($tokensExpr)").as("w"),
        expr("greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)").as("s"),
        expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))").as("sy"))
      .filter(col("w") > 0)
      .withColumn("fx", expr(
        """CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
          |  - 84.6 * (CAST(sy AS DOUBLE) / w)) * 1048576.0 + 0.5) AS BIGINT)""".stripMargin))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast("long")).as("n_words"),
        sum(col("s").cast("long")).as("n_sentences"),
        sum(col("sy").cast("long")).as("n_syllables"),
        sum("fx").as("sfx"))
      .withColumn("mean_flesch",
        expr("round(CAST(sfx AS DOUBLE) / n_docs / 1048576.0, 6)"))
      .drop("sfx")

  /** Per-source unigram entropy + lexical diversity — the corpus-health
    * companion to [[zipfSlope]]: low entropy or low type-token ratio flags
    * template/synthetic/duplicated text the Zipf slope alone can miss.
    *
    * Exactness: H = ln(N) - (1/N)·Σ c·ln(c) over term counts c, so the only
    * non-integer per-term quantity is ln(c) of an INTEGER — held in 2^20
    * fixed point (the zipfSlope convention), with c·fx products and their
    * sum exact BIGINTs. One final division + one final ln(N) per source.
    *
    * Shape at scale: explode → (source, token) partial-aggregated count →
    * (source) partial-aggregated rollup. Two shuffles, both map-side
    * combined; never holds a vocabulary in memory. Output per source:
    * (n_tokens, n_types, entropy [nats], ttr), ordered by source. */
  def sourceEntropy(docs: DataFrame, groupCol: String = "source"): DataFrame =
    sourceEntropyFromCounts(groupTermCounts(docs, groupCol), groupCol)

  /** `sourceEntropy` from a pre-built (g, token, c) count table — the
    * streaming reader's form. */
  def sourceEntropyFromCounts(counts: DataFrame,
                              groupCol: String = "source"): DataFrame = {
    counts
      .withColumn("fx",
        expr("CAST(floor(ln(CAST(c AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT)"))
      .groupBy("g")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr("c * fx")).as("s"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_types"),
        expr("""round(ln(CAST(n_tokens AS DOUBLE))
                - CAST(s AS DOUBLE) / n_tokens / 1048576.0, 6)""").as("entropy"),
        expr("round(CAST(n_types AS DOUBLE) / n_tokens, 6)").as("ttr"))
      .orderBy(groupCol)
  }

  /** Per-language subword fertility — BPE-style subtokens per whitespace
    * word (the tokenizer-equity metric: a language paying 3x the subtokens
    * per word gets 3x less content into the same context window, the
    * signal behind byte-fallback/vocab-rebalance decisions). Uses the
    * repo's [[subtokenRegex]] pre-tokenization so it measures the same
    * subword stream `tokenizeWithVocab` consumes.
    *
    * Shape at scale: two codegen'd regex counts per doc, one
    * partial-aggregated shuffle to a row per language; exact integer
    * tallies, one division per output column. */
  def subwordFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        expr(s"size($tokensExpr)").as("w"),
        expr(s"size(regexp_extract_all(lower(text), '$subtokenRegex', 0))").as("st"))
      .filter(col("w") > 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast("long")).as("n_words"),
        sum(col("st").cast("long")).as("n_subtokens"))
      .withColumn("fertility",
        expr("round(CAST(n_subtokens AS DOUBLE) / n_words, 6)"))
      .orderBy("lang")

  /** Pairwise Jensen-Shannon divergence between per-source unigram
    * distributions — the mixture-design distance: which sources are
    * near-duplicates of each other (syndication, mirrors) and which add
    * genuinely new text. 0 = identical distributions, ln 2 = disjoint.
    *
    * Shape at scale — the key trick is that JSD decomposes over SHARED
    * terms only:
    *   JSD(P,Q) = ½·Σ_t [ p·ln(2·cP·NQ/u) + q·ln(2·cQ·NP/u) ],
    *   u = cP·NQ + cQ·NP,
    * and a term in only one side contributes exactly p·ln2. So the engine
    * needs ONE equi-self-join of the (source, token, count) aggregate on
    * `token` (hash-partitioned by token — never |V|² and never a full
    * outer join), plus exact shared-mass sums to account for the
    * single-side remainder in closed form. Per-source totals are a tiny
    * broadcast; the S×S pair frame (S sources) is driver-small by
    * construction.
    *
    * Exactness: u, cP·NQ, shared-count sums are exact BIGINTs; each shared
    * term's p·ln(ratio) is held in 2^40 fixed point (|value| ≤ p·ln 2, so
    * the pair sum is ≤ ln 2 · 2^40 ≈ 7.6e11 — no overflow); final
    * assembly is one expression of exact integers + ln(2). */
  def jsdSources(docs: DataFrame, groupCol: String = "source"): DataFrame =
    jsdSourcesFromCounts(groupTermCounts(docs, groupCol))

  /** `jsdSources` from a pre-built (g, token, c) count table — the
    * streaming reader's form. */
  def jsdSourcesFromCounts(cnt: DataFrame): DataFrame = {
    val tot = cnt.groupBy("g").agg(sum("c").as("n"))
    val a = cnt.toDF("ga", "token", "ca")
      .join(broadcast(tot.toDF("ga", "na")), "ga")
    val b = cnt.toDF("gb", "token_b", "cb")
      .join(broadcast(tot.toDF("gb", "nb")), "gb")
    // fixed-point per-term KL contributions toward the mixture, shared terms
    val fxA = """CAST(floor(CAST(ca AS DOUBLE) / na
      * ln(2.0 * ca * nb / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
      * 1099511627776.0 + 0.5) AS BIGINT)"""
    val fxB = """CAST(floor(CAST(cb AS DOUBLE) / nb
      * ln(2.0 * cb * na / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
      * 1099511627776.0 + 0.5) AS BIGINT)"""
    val shared = a.join(b.hint("SHUFFLE_HASH"),
        col("token") === col("token_b") && col("ga") < col("gb"))
      .select(col("ga"), col("gb"), col("ca"), col("cb"),
        expr(fxA).as("fa"), expr(fxB).as("fb"))
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("n_shared_terms"),
        sum("ca").as("sh_ca"), sum("cb").as("sh_cb"),
        sum("fa").as("sfa"), sum("fb").as("sfb"))
    // all source pairs (driver-small), so disjoint pairs surface as ln 2
    val pairs = tot.toDF("ga", "na").crossJoin(tot.toDF("gb", "nb"))
      .filter(col("ga") < col("gb"))
    // `shared` has at most one row per source pair after its aggregate —
    // broadcast it so the driver-small pair frame never sort-merges
    pairs.join(broadcast(shared), Seq("ga", "gb"), "left")
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        coalesce(col("n_shared_terms"), lit(0L)).as("n_shared_terms"),
        expr("""round(0.5 * (
            (CAST(coalesce(sfa, 0) AS DOUBLE) + CAST(coalesce(sfb, 0) AS DOUBLE))
              / 1099511627776.0
            + ln(2.0) * (CAST(na - coalesce(sh_ca, 0) AS DOUBLE) / na
                       + CAST(nb - coalesce(sh_cb, 0) AS DOUBLE) / nb)), 6)""")
          .as("jsd"))
      .orderBy("src_a", "src_b")
  }

  def boilerplateStats(docs: DataFrame, n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 1)
    val grams = docs.select(col("doc_id"),
      explode(graft.GraftFunctions.word_shingles(col("text"), n)).as("gram"))
    val dfs = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    // the gram-frequency table is one row per DISTINCT shingle — grows with
    // the corpus, so the join back is pinned SHUFFLE_HASH, never broadcast
    grams.join(dfs.hint("SHUFFLE_HASH"), Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac", col("n_boiler") / col("n_grams"))
  }
}
