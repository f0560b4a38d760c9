package graft

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

import graft.functions.{Adc, ByteDot, ChunkText, CosineSimilarity, DotTable, HashEmbed, HilbertIndex, JaroWinkler, L2Normalize, MinGramHash, MinHashSig, NearestCell, PqEncode, RandProjBuckets, Residual, SignSketch, SimHash, SqDist, TermCounts, VecTables, WordShingles}

/** Column-API + SQL-registry surface for the custom Catalyst expressions.
  *
  * Everything else in the engine is stock `org.apache.spark.sql.functions`;
  * these are the operators Spark's built-ins cannot express efficiently
  * (SURVEY §2.12, §7.3), each a codegen'd expression in `graft.functions`.
  * `GraftExtensions.functionSpecs` lists the ones also registered for
  * SQL; the vector-quantization kernels take a driver-side table
  * ([[VecTables]]) and have a Column form only.
  */
object GraftFunctions {

  private def col(e: Expression): Column = GraftSqlBridge.column(e)
  private def ex(c: Column): Expression = GraftSqlBridge.expression(c)

  /** SHA-256-derived deterministic embedding (reference main.py:129-147). */
  def hash_embed(text: Column, dim: Int = HashEmbed.DefaultDim): Column =
    col(HashEmbed(ex(text), dim))

  /** Cosine similarity of two vectors (reference index metric, main.py:34). */
  def cosine_similarity(a: Column, b: Column): Column =
    col(CosineSimilarity(ex(a), ex(b)))

  /** Squared euclidean distance — MLlib `Vectors.sqdist`'s exact dense
    * kernel as a codegen'd expression (the LSH radius cut). */
  def sq_dist(a: Column, b: Column): Column =
    col(SqDist(ex(a), ex(b)))

  /** Overlapping window chunker generator → (chunk_idx, chunk) rows
    * (reference main.py:118-126). Use inside `select`. */
  def chunk_text(text: Column,
                 size: Int = ChunkText.DefaultSize,
                 overlap: Int = ChunkText.DefaultOverlap): Column =
    col(ChunkText(ex(text), Literal(size), Literal(overlap)))

  /** 32-bit SimHash signature of a token array (Dedup extension). */
  def simhash_sig(tokens: Column, bits: Int = 32): Column =
    col(SimHash(ex(tokens), bits))

  /** 16-word MinHash signature of a shingle array (Dedup extension). */
  def minhash_sig(shingles: Column): Column =
    col(MinHashSig(ex(shingles)))

  /** Deterministic random-projection LSH bucket ids (Similarity extension). */
  def rand_proj_buckets(embedding: Column, numTables: Int = 6,
                        bucketLength: Double = 1.0): Column =
    col(RandProjBuckets(ex(embedding), numTables, bucketLength))

  /** Integer dot product of int8 code arrays (quantized ANN extension). */
  def byte_dot(a: Column, b: Column): Column =
    col(ByteDot(ex(a), ex(b)))

  /** Packed sign bits of hash-derived random projections — the 8-byte
    * binary-quantization sketch (Similarity extension). */
  def sign_sketch(embedding: Column, numBits: Int = 63): Column =
    col(SignSketch(ex(embedding), numBits))

  /** Jaro-Winkler similarity with the 0.7 boost threshold (record-linkage
    * extension; matches DuckDB's jaro_winkler_similarity). */
  def jaro_winkler(a: Column, b: Column): Column =
    col(JaroWinkler(ex(a), ex(b)))

  /** Hilbert curve index of two integral columns (Layout extension). */
  def hilbert_index(a: Column, b: Column, bits: Int = 16): Column =
    col(HilbertIndex(ex(a), ex(b), bits))

  /** Min-SHA-256-over-grams document fingerprint (TextAnalysis extension). */
  def min_gram_hash(text: Column, gram: Int = 8): Column =
    col(MinGramHash(ex(text), gram))

  /** Distinct word n-gram shingles (Dedup extension). */
  def word_shingles(text: Column, n: Int = 3): Column =
    col(WordShingles(ex(text), n))

  /** Occurrence counts of a fixed term list in a token array — one codegen'd
    * pass instead of a per-term interpreted `filter` (BM25/TF-IDF extension). */
  def term_counts(tokens: Column, terms: Seq[String]): Column =
    col(TermCounts(ex(tokens), terms))

  /** L2-normalize a vector in f64; a zero vector passes through widened. */
  def l2_normalize(v: Column): Column = col(L2Normalize(ex(v)))

  /** Cell id of the nearest centroid of a single-table `cells`. */
  def nearest_cell(nv: Column, cells: VecTables): Column =
    col(NearestCell(ex(nv), cells))

  /** PQ codes (`array<int>`) of a vector against per-subspace codebooks. */
  def pq_encode(nv: Column, books: VecTables): Column =
    col(PqEncode(ex(nv), books))

  /** Dots (or, with `cosine`, cosines) of a vector with a table's rows. */
  def dot_table(v: Column, table: VecTables, cosine: Boolean = false): Column =
    col(DotTable(ex(v), table, cosine))

  /** A vector minus row `pos` (0-based) of a centroid table. */
  def residual(nv: Column, pos: Column, cents: VecTables): Column =
    col(Residual(ex(nv), ex(pos), cents))

  /** The ADC score: `lt[s][codes[s]]` summed subspace-ascending. */
  def adc(lt: Column, codes: Column): Column = col(Adc(ex(lt), ex(codes)))

  /** Register every custom expression as a temp SQL function in an existing
    * session. Idempotent. (Sessions created from config should prefer
    * `spark.sql.extensions=graft.GraftExtensions`, which injects the same
    * builders plus the GroupedTopK planner strategy.) */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.functionSpecs.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
