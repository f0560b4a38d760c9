package graft.operators

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the vocabulary
  * induction step of every LLM data pipeline, run as a sequence of Spark
  * aggregations.
  *
  * Scale shape: the corpus is scanned ONCE to build the distinct-word
  * frequency table; every merge round after that runs over the vocab table
  * only (bounded by distinct words, not corpus bytes — at 100 TB the vocab
  * is millions of rows while the corpus is trillions of tokens). Each round
  * is: adjacent-pair counts weighted by word frequency (one vocab-sized
  * partial-aggregated shuffle), a 1-row argmax to the driver (the merge
  * decision is O(1) state — the detKMeans/PageRank fixed-point pattern),
  * and a map-only merge apply. Determinism: the argmax tie-breaks on
  * (count desc, lhs asc, rhs asc), and the merge apply is leftmost
  * non-overlapping — both engine-portable, so the whole merge table is
  * hash-exact reproducible.
  *
  * Representation: a word's symbolization wraps every symbol in \u0001 / \u0002
  * sentinels plus the standard end-of-word marker, e.g. "the" ->
  * ␁t␂␁h␂␁e␂␁</w>␂. Wrapping makes "replace pair (a,b) with ab" a plain
  * literal string replace — ␁a␂␁b␂ -> ␁ab␂ — whose leftmost-first,
  * resume-after-replacement semantics are exactly greedy BPE merging and
  * are identical across engines (Java Matcher.replaceAll with a quoted
  * pattern here, DuckDB replace() in the oracle). Words are restricted to
  * printable ASCII so per-character splitting agrees across engines (JVM
  * code-UNIT splits diverge from codePOINT splits on astral chars), and
  * the sentinels can never collide with word content.
  *
  * Reference scope: the reference chunks text by characters (main.py:118)
  * and never tokenizes; BPE is part of the training-pipeline extension.
  */
object Bpe {

  private val L = "\u0001"
  private val R = "\u0002"
  val Eow = "</w>"

  /** (word, n) over printable-ASCII whitespace tokens — the ONLY full
    * corpus scan in BPE training; every merge round runs on this table. */
  private def wordCounts(docs: DataFrame): DataFrame = docs
    .select(explode(expr(TextAnalysis.tokensExpr)).as("word"))
    .filter(col("word").rlike("^[ -~]+$"))
    .groupBy("word").agg(count(lit(1)).as("n"))

  /** Initial symbolization column: each char wrapped, EOW appended. */
  private def initSym: Column = concat(
    concat_ws("",
      transform(
        filter(split(col("word"), ""), c => c =!= ""),
        c => concat(lit(L), c, lit(R)))),
    lit(L + Eow + R))

  /** Adjacent (lhs, rhs) symbol pairs of `sym`, weighted by `n`, summed. */
  private def pairCounts(syms: DataFrame): DataFrame = syms
    .withColumn("__a",
      filter(split(regexp_replace(col("sym"), Pattern.quote(L), ""),
        Pattern.quote(R)), c => c =!= ""))
    // sequence(1, size) sliced to size-1 entries: Spark's sequence(1, 0)
    // would be DESCENDING [1, 0], so a fully-merged single-symbol word
    // must not reach it
    .select(col("n"),
      explode(expr(
        "transform(slice(sequence(1, size(__a)), 1, size(__a) - 1), " +
          "i -> named_struct('lhs', __a[i-1], 'rhs', __a[i]))"))
        .as("p"))
    .select(col("n"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
    .groupBy("lhs", "rhs").agg(sum("n").as("cnt"))

  /** One merge applied to `sym`: ␁lhs␂␁rhs␂ -> ␁lhsrhs␂, leftmost-first. */
  private def applyMerge(sym: Column, l: String, r: String): Column =
    regexp_replace(sym,
      Pattern.quote(L + l + R + L + r + R),
      Matcher.quoteReplacement(L + l + r + R))

  /** Run `merges` BPE merge rounds over the corpus vocabulary; returns the
    * merge table (iter, lhs, rhs, n) — iter is 1-based rank, n the weighted
    * adjacent-pair count at selection time. */
  def bpeMerges(docs: DataFrame, merges: Int = 8): DataFrame =
    bpeMergesFromVocab(wordCounts(docs), merges)

  /** Merge-trajectory memo ([[Memo.fit]]): saves the repeated 8-round
    * training when `bpeMerges` and `bpeTokenize` run in one session (q170 +
    * q171, bench reps). New data at the same path writes new part files,
    * so the key rotates. An in-memory vocab has no input files and always
    * trains: its canonicalized plan does not carry its rows, so two
    * same-schema in-memory corpora would share a key. */
  private val bpeFits = new Memo(Memo.FitCap)

  /** The merge trajectory from an ALREADY-BUILT (word, n) vocab table:
    * training cost is bounded by the vocab, never by the corpus. */
  private def bpeMergesFromVocab(vocab: DataFrame, merges: Int = 8): DataFrame = {
    require(merges >= 1 && merges <= 64, s"merges must be in [1, 64]: $merges")
    val spark = vocab.sparkSession
    import spark.implicits._
    val trajectory = bpeFits.fit(vocab, s"bpe|$merges") {
      var syms = vocab.withColumn("sym", initSym)
        .select("word", "n", "sym")
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var iter = 0
      var exhausted = false
      while (iter < merges && !exhausted) {
        iter += 1
        val best = pairCounts(syms)
          .orderBy(desc("cnt"), asc("lhs"), asc("rhs"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, c) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          out += ((iter, l, r, c))
          // chained merge applies stay one narrow map stage per round
          syms = syms.withColumn("sym", applyMerge(col("sym"), l, r))
        }
      }
      out.result()
    }
    trajectory.toDF("iter", "lhs", "rhs", "n")
  }

  /** Per-document token count under the TRAINED tokenizer — the budget
    * number token-budget sampling/packing should use instead of whitespace
    * word counts (they diverge exactly where it matters: long/rare words
    * explode into many symbols). The symbolization table is vocab-bounded
    * (bpeTokenize's shape over ALL words — merges are memoized, the corpus
    * is scanned once for the vocab and once for the per-doc join);
    * per-doc cost is one word-keyed SHUFFLE_HASH join + one doc-keyed sum.
    * Words outside the trainable alphabet (non-printable-ASCII — excluded
    * from the vocab by `wordCounts`) count 1 symbol each (the single-UNK
    * convention) and are reported in `n_unk`. Output: (doc_id, n_words,
    * n_tokens, n_unk). */
  def bpeTokenCount(docs: DataFrame, merges: Int = 8): DataFrame = {
    val mergeRows = bpeMerges(docs, merges).collect()
    var syms = wordCounts(docs).withColumn("sym", initSym)
    mergeRows.sortBy(_.getInt(0)).foreach { m =>
      syms = syms.withColumn("sym",
        applyMerge(col("sym"), m.getString(1), m.getString(2)))
    }
    val nsym = syms.select(col("word"),
      size(filter(split(regexp_replace(col("sym"), Pattern.quote(L), ""),
        Pattern.quote(R)), c => c =!= "")).cast("long").as("n_sym"))
    docs
      .select(col("doc_id"), explode(expr(TextAnalysis.tokensExpr)).as("word"))
      .join(nsym.hint("SHUFFLE_HASH"), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sym"), lit(1L))).as("n_tokens"),
        sum(when(col("n_sym").isNull, 1L).otherwise(0L)).as("n_unk"))
  }

  /** Final symbolization of the `topK` most frequent words after `merges`
    * rounds — the "what does the tokenizer do now" probe (space-joined
    * symbols). Shares the merge trajectory with [[bpeMerges]]. */
  def bpeTokenize(docs: DataFrame, merges: Int = 8, topK: Int = 20): DataFrame = {
    val mergeRows = bpeMerges(docs, merges).collect()
    var syms = wordCounts(docs).withColumn("sym", initSym)
    mergeRows.sortBy(_.getInt(0)).foreach { m =>
      syms = syms.withColumn("sym",
        applyMerge(col("sym"), m.getString(1), m.getString(2)))
    }
    syms
      .withColumn("toks",
        filter(split(regexp_replace(col("sym"), Pattern.quote(L), ""),
          Pattern.quote(R)), c => c =!= ""))
      .select(col("word"), col("n"),
        concat_ws(" ", col("toks")).as("tokens"),
        size(col("toks")).as("n_symbols"))
      .orderBy(desc("n"), asc("word"))
      .limit(topK)
  }
}
