package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic, hash-checkable sketches for the 100 TB regime.
  *
  * Spark's built-in HLL++ / t-digest sketches (`approx_count_distinct`,
  * `percentile_approx`) are engine-specific (rows-only vs an oracle). The
  * sketches here are built from sha256-derived hashes and pure integer
  * arithmetic, so the SAME construction runs in any engine and the full
  * register/counter state — and the estimate itself — is hash-exact
  * reproducible. That buys two things at scale:
  *
  *  - the sketch state is *auditable*: a 1000-executor run and a
  *    laptop run produce bit-identical registers, so a corrupted
  *    partition or a nondeterministic source shows up as a digest
  *    mismatch, not a silent estimate drift;
  *  - the state is *mergeable* (max per register / sum per counter), so
  *    partial sketches combine map-side and shuffle O(m) per group, never
  *    the raw keys.
  *
  * Reference scope: the reference (main.py:219-233) exposes only exact
  * index stats; sketches are part of the scale extension surface.
  */
object Sketches {

  /** Leading-zero count of one byte b in 0..255 within its 8-bit window —
    * pure comparisons, no log2/bit_length (portable + exact). */
  private def lzByte(b: String): String =
    s"(CASE WHEN $b >= 128 THEN 0 WHEN $b >= 64 THEN 1 WHEN $b >= 32 THEN 2" +
      s" WHEN $b >= 16 THEN 3 WHEN $b >= 8 THEN 4 WHEN $b >= 4 THEN 5" +
      s" WHEN $b >= 2 THEN 6 WHEN $b >= 1 THEN 7 ELSE 8 END)"

  /** rho = 1 + leading zeros over the 48-bit string formed by bytes 1..6 of
    * the hex digest `h` (bytes read by `byteAt(h, j)`), capped at 49 when
    * all 48 bits are zero. Identical integer logic on the Spark and oracle
    * sides — only the hex-byte accessor differs per engine. */
  def rhoExpr(byteAt: (String, Int) => String, h: String): String = {
    val bs = (1 to 6).map(j => byteAt(h, j))
    val cases = bs.zipWithIndex.map { case (b, i) =>
      s"WHEN $b > 0 THEN ${8 * i + 1} + ${lzByte(b)}"
    }.mkString(" ")
    s"(CASE $cases ELSE 49 END)"
  }

  /** Spark-side accessor: byte j (0-based) of a 64-char hex digest. */
  def sparkByteAt(h: String, j: Int): String =
    s"cast(conv(substr($h, ${j * 2 + 1}, 2), 16, 10) AS INT)"

  /** Bias-correction constant alpha_m of standard HyperLogLog. */
  def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  /** The literal numerator alpha_m * m^2 * 2^49 — folded to ONE double
    * literal shared with the oracle so the estimate is a single f64
    * division on both sides (bit-identical). */
  def hllNumerator(m: Int): String =
    String.format(java.util.Locale.ROOT, "%.17e",
      Double.box(hllAlpha(m) * m.toDouble * m.toDouble * math.pow(2.0, 49)))

  /** Deterministic HyperLogLog distinct-count per group.
    *
    * One map-only pass computes (bucket, rho) per row from
    * sha256("hll:" || key): bucket = byte0 mod m (m = 2^p <= 256 registers),
    * rho = 1 + leading zeros of bytes 1..6 (48 bits, capped at 49). The
    * only shuffle is the partial-aggregated register table — at most
    * groups x m rows regardless of input size. The estimate is the
    * classic alpha_m * m^2 / sum(2^-M[j]), computed EXACTLY: the register
    * sum is scaled by 2^49 so every term 2^(49-rho) is an integer (max
    * 256 * 2^49 < 2^63 — no f64 rounding), and the final division is one
    * f64 op. Zero registers contribute 2^49 (rho = 0). The small-range
    * linear-counting correction needs ln() (not engine-portable) — the
    * operator instead emits `n_zero` so callers can apply it; `exact`
    * and `rel_err` columns audit the estimate at test scale (production
    * drops them — computing exact distinct is what the sketch avoids).
    *
    * Cross-cluster determinism is the point: max() is order-free, so the
    * registers — and therefore the estimate — are partition-invariant.
    */
  def hllDistinct(df: DataFrame, groupCol: String, keyCol: String,
                  p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 8, s"p must be in [4, 8] (16..256 registers), got $p")
    val m = 1 << p
    val h = s"sha2(concat('hll:', cast($keyCol AS STRING)), 256)"
    val rho = rhoExpr(sparkByteAt, "__h")
    val regs = df
      .withColumn("__h", expr(h))
      .withColumn("__bucket", expr(s"${sparkByteAt("__h", 0)} % $m"))
      .withColumn("__rho", expr(rho))
      .groupBy(col(groupCol), col("__bucket"))
      .agg(max("__rho").as("__mrho"))
    val est = regs.groupBy(groupCol)
      .agg(
        expr(s"sum(shiftleft(1L, 49 - __mrho))" +
          s" + (${m}L - count(1)) * ${1L << 49}L").as("__intsum"),
        expr(s"${m}L - count(1)").as("n_zero"))
      .withColumn("est", round(expr(s"${hllNumerator(m)} / __intsum"), 4))
    val exact = df.groupBy(groupCol)
      .agg(countDistinct(col(keyCol)).as("exact"))
    est.join(exact, Seq(groupCol))
      .withColumn("rel_err", round(expr("(est - exact) / exact"), 4))
      .select(col(groupCol), col("n_zero"), col("est"), col("exact"),
        col("rel_err"))
  }

  /** Rolling-window distinct counts from DAILY HLL register tables — the
    * canonical sketch-reuse pattern at scale: pre-aggregate one m-register
    * HLL per day (the only pass over raw events), then answer ANY
    * `windowDays`-day rolling distinct-count by merging `windowDays`
    * register rows per bucket (register max — HLL's merge op) instead of
    * re-scanning the window's events. A 365-day dashboard over 100 TB of
    * events touches 365 x m integer rows after the one daily pass.
    *
    * Same register recipe as [[hllDistinct]] (bit-identical buckets/rho),
    * so a day's registers equal the one-shot sketch of that day and the
    * merged window registers equal the one-shot sketch of the window's
    * union — the SketchesSpec identity. The (day x bucket) spine is
    * densified so the rolling frame sees an absent (day, bucket) as a zero
    * register; ROWS BETWEEN then equals RANGE and ports verbatim to the
    * oracle. Output: (day, n_zero, est) per day, est covering the trailing
    * `windowDays` window. */
  def hllDailyRolling(events: DataFrame, keyCol: String = "user_id",
                      tsCol: String = "ts", p: Int = 6,
                      windowDays: Int = 7): DataFrame = {
    require(p >= 4 && p <= 8, s"p must be in [4, 8], got $p")
    require(windowDays >= 1 && windowDays <= 365, s"bad windowDays: $windowDays")
    val m = 1 << p
    val h = s"sha2(concat('hll:', cast($keyCol AS STRING)), 256)"
    val daily = events
      .withColumn("__h", expr(h))
      .select(expr(s"CAST(date_trunc('DAY', $tsCol) AS DATE)").as("day"),
        expr(s"${sparkByteAt("__h", 0)} % $m").as("bucket"),
        expr(rhoExpr(sparkByteAt, "__h")).as("rho"))
      .groupBy("day", "bucket").agg(max("rho").as("mrho"))
    val spine = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .crossJoin(broadcast(events.sparkSession.range(m)
        .select(col("id").cast("int").as("bucket"))))
    val dense = spine.join(daily, Seq("day", "bucket"), "left")
      .withColumn("mrho", coalesce(col("mrho"), lit(0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("day")
      .rowsBetween(-(windowDays - 1), 0)
    dense.withColumn("rr", max("mrho").over(w))
      .groupBy("day")
      .agg(expr("sum(shiftleft(1L, 49 - rr))").as("__intsum"),
        expr("sum(CASE WHEN rr = 0 THEN 1L ELSE 0L END)").as("n_zero"))
      .withColumn("est", round(expr(s"${hllNumerator(m)} / __intsum"), 4))
      .select(col("day"), col("n_zero"), col("est"))
  }

  /** Distinct-set OVERLAP between groups from k-minimum-values sketches
    * (Bar-Yossef et al. 2002; the Theta-sketch family's intersection
    * estimate) — "how many distinct users did BOTH A and B", answered from
    * two k-row sketches instead of a distinct-intersection join over raw
    * events.
    *
    * Per group the sketch is the k SMALLEST distinct values of a uniform
    * hash h(key) in [0, 2^48) (first 6 bytes of sha256("kmv:" || key)) —
    * ranked through GroupedTopK's bounded heaps, never a window sort. For
    * a group pair, the k smallest of the merged sketches form the UNION
    * sketch: theta = its kth value gives |A u B| ~ (k-1) * 2^48 / theta,
    * the fraction of union-sketch members present in BOTH input sketches
    * estimates Jaccard, and their product estimates the intersection.
    * When the union sketch holds fewer than k values it IS the exact
    * distinct union (small groups degrade to exact — no estimator bias).
    *
    * Determinism: the hash is the repo's engine-neutral sha256 convention,
    * sketch contents are exact integer ranks of distinct hash values, and
    * the estimates are one division each, rounded 4dp — fully
    * hash-oracled. Scale shape: one distinct-(group, hash) aggregation
    * over events, k-bounded sketches per group, pair space bounded by
    * (distinct groups)^2 x k rows — group counts are small by contract
    * (event types, sources, splits).
    *
    * `exactAudit` (default OFF) joins in the exact distinct-key
    * intersection per pair — precisely the computation the sketch exists
    * to avoid, so it is test/oracle wiring only (q175's hash oracle and
    * SketchesSpec's error gate); production callers keep the default and
    * get exact_inter = 0 / rel_err = null placeholders.
    *
    * Output: (g_a, g_b, k_used, union_est, jaccard, inter_est,
    * exact_inter, rel_err) for each unordered pair g_a < g_b. */
  def kmvOverlap(events: DataFrame, groupCol: String = "event_type",
                 keyCol: String = "user_id", k: Int = 256,
                 exactAudit: Boolean = false): DataFrame =
    kmvOverlapFromSketches(kmvSketch(events, groupCol, keyCol, k), k,
      exactFrom = if (exactAudit) Some((events, groupCol, keyCol)) else None)

  /** The per-group KMV sketch: the k smallest distinct hash values, as
    * (g, h) rows. MERGEABLE — the sketch of a union is the k smallest of
    * the concatenated sketches, so slice sketches fold through one more
    * GroupedTopK (`Streams.streamingKmvSketch` maintains exactly this). */
  def kmvSketch(events: DataFrame, groupCol: String, keyCol: String,
                k: Int = 256): DataFrame = {
    require(k >= 16 && k <= 65536, s"k must be in [16, 65536]: $k")
    val uh = events.select(col(groupCol).as("g"),
        expr(s"cast(conv(substr(sha2(concat('kmv:', cast($keyCol AS STRING)), 256), 1, 12), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct()
    graft.plans.GroupedTopK(uh, Seq(col("g")), Seq(asc("h")), k)
      .select("g", "h")
  }

  /** Pairwise overlap estimates from an already-built (g, h) sketch table
    * — the tail shared by the one-shot and incrementally-maintained paths.
    * `exactFrom` adds the test-scale exact audit columns; production
    * passes None (exact intersection is what the sketch avoids) and gets
    * exact_inter = 0 / rel_err = null placeholders. */
  def kmvOverlapFromSketches(sk: DataFrame, k: Int = 256,
                             exactFrom: Option[(DataFrame, String, String)] = None)
      : DataFrame = {
    require(k >= 16 && k <= 65536, s"k must be in [16, 65536]: $k")
    val uMax = 1L << 48
    val types = sk.select(col("g")).distinct()
    val pairs = types.as("ta").join(types.as("tb"),
        col("ta.g") < col("tb.g"))
      .select(col("ta.g").as("g_a"), col("tb.g").as("g_b"))
    // candidate rows: each pair's two sketches, flagged by side; a hash in
    // both sketches collapses to one row with both flags set
    val cand = pairs.join(sk.as("sa"), col("g_a") === col("sa.g"))
      .select(col("g_a"), col("g_b"), col("sa.h").as("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
      .unionByName(
        pairs.join(sk.as("sb"), col("g_b") === col("sb.g"))
          .select(col("g_a"), col("g_b"), col("sb.h").as("h"),
            lit(0).as("in_a"), lit(1).as("in_b")))
      .groupBy("g_a", "g_b", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    val unionSk = graft.plans.GroupedTopK(cand,
        Seq(col("g_a"), col("g_b")), Seq(asc("h")), k)
      .select("g_a", "g_b", "h", "in_a", "in_b")
    val est = unionSk.groupBy("g_a", "g_b")
      .agg(count(lit(1)).as("k_used"), max("h").as("theta"),
        sum(expr("in_a * in_b")).as("n_both"))
      .withColumn("union_est", round(expr(
        s"CASE WHEN k_used < $k THEN CAST(k_used AS DOUBLE) " +
          s"ELSE (CAST($k AS DOUBLE) - 1.0) * ${uMax}.0 / theta END"), 4))
      .withColumn("jaccard", round(expr("CAST(n_both AS DOUBLE) / k_used"), 4))
      .withColumn("inter_est", round(expr(
        s"(CAST(n_both AS DOUBLE) / k_used) * (CASE WHEN k_used < $k THEN CAST(k_used AS DOUBLE) " +
          s"ELSE (CAST($k AS DOUBLE) - 1.0) * ${uMax}.0 / theta END)"), 4))
    // exact audit (test scale): distinct keys present under both groups
    val exact = exactFrom match {
      case Some((events, groupCol, keyCol)) =>
        val kt = events.select(col(groupCol).as("g"), col(keyCol).as("key")).distinct()
        kt.as("xa").join(kt.as("xb"),
            col("xa.key") === col("xb.key") && col("xa.g") < col("xb.g"))
          .groupBy(col("xa.g").as("g_a"), col("xb.g").as("g_b"))
          .agg(count(lit(1)).as("exact_inter"))
      case None =>
        est.select(col("g_a"), col("g_b")).limit(0)
          .withColumn("exact_inter", lit(0L))
    }
    // pairs^2-bounded audit frame: broadcast, or the left join sort-merges
    est.join(broadcast(exact), Seq("g_a", "g_b"), "left")
      .na.fill(0L, Seq("exact_inter"))
      .withColumn("rel_err", round(expr(
        "CASE WHEN exact_inter = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE (inter_est - exact_inter) / exact_inter END"), 4))
      .select(col("g_a"), col("g_b"), col("k_used"), col("union_est"),
        col("jaccard"), col("inter_est"), col("exact_inter"), col("rel_err"))
  }

  /** Count-min-sketch heavy hitters over the corpus token stream.
    *
    * Exact per-token counts feed the sketch BUILD (d x w integer counters:
    * cell_j(t) = (byte0 || byte1 of sha256("cms" || j || ":" || t)) mod w,
    * counter[j][cell] = sum of colliding token counts), then every distinct
    * token is point-estimated as min_j counter[j][cell_j(t)] and the top-k
    * by (estimate desc, token asc) are returned with their exact counts and
    * the collision overestimate. Pure integer arithmetic end-to-end —
    * hash-exact in any engine.
    *
    * Scale shape: the counter table is d*w rows TOTAL (fixed bytes,
    * broadcastable) no matter the corpus size; building it shuffles only
    * the distinct-token counts (map-side combined), and the probe is a
    * broadcast join of the counter cells onto distinct tokens. At 100 TB
    * the exact `cnt` audit column is replaced by the sketch itself — the
    * build then consumes a pre-aggregated (token, count) table or merges
    * per-partition d x w partials, never re-scanning raw text.
    */
  def cmsTopK(docs: DataFrame, d: Int = 4, w: Int = 1024, k: Int = 20)
      : DataFrame = {
    val tcnt = tokenCounts(docs)
    cmsProbe(cmsGrid(tcnt, d, w), tcnt, d, w, k)
  }

  /** Exact per-token corpus counts — the CMS build/probe input. */
  def tokenCounts(docs: DataFrame): DataFrame = docs
    .select(explode(expr(TextAnalysis.tokensExpr)).as("token"))
    .groupBy("token").agg(count(lit(1)).as("cnt"))

  private def cellOf(j: Int, w: Int): String = cellOfCol(j, w, "token")

  /** CMS cell of hash row `j` for an arbitrary (string-castable) key
    * column — byte0||byte1 of sha256("cms" || j || ":" || key) mod w,
    * the same derivation [[cmsGrid]] uses for tokens. */
  def cellOfCol(j: Int, w: Int, keyCol: String): String = {
    val h = s"sha2(concat('cms', '$j', ':', CAST($keyCol AS STRING)), 256)"
    s"(${sparkByteAt(h, 0)} * 256 + ${sparkByteAt(h, 1)}) % $w"
  }

  /** CMS counter grid (j, cell, cellsum) from a (token, cnt) table: melt
    * each token over the d rows, sum colliding counts per cell. The grid is
    * ADDITIVE — grids of disjoint corpus slices merge by per-cell sum —
    * which is what `Streams.streamingCmsGrid` maintains incrementally. */
  def cmsGrid(tokenCounts: DataFrame, d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && d <= 8 && w >= 2 && w <= 65536, s"bad CMS shape d=$d w=$w")
    tokenCounts
      .select(col("token"), col("cnt"),
        posexplode(array((0 until d).map(j => expr(cellOf(j, w))): _*))
          .as(Seq("j", "cell")))
      .groupBy("j", "cell").agg(sum("cnt").as("cellsum"))
  }

  /** Probe a CMS grid with candidate tokens: min over the d cells = the CMS
    * point estimate; top-k by (estimate desc, token asc) with the exact
    * count and collision overestimate as audit columns. */
  def cmsProbe(grid: DataFrame, tokenCounts: DataFrame,
               d: Int = 4, w: Int = 1024, k: Int = 20): DataFrame = {
    require(d >= 1 && d <= 8 && w >= 2 && w <= 65536, s"bad CMS shape d=$d w=$w")
    val probes = tokenCounts.select(col("token"), col("cnt"),
      posexplode(array((0 until d).map(j => expr(cellOf(j, w))): _*))
        .as(Seq("j", "cell")))
    probes.join(broadcast(grid), Seq("j", "cell"))
      .groupBy("token")
      .agg(min("cellsum").as("est"), min("cnt").as("exact"))
      .withColumn("overestimate", col("est") - col("exact"))
      .orderBy(desc("est"), asc("token"))
      .limit(k)
  }

  /** CMS inner-product join-cardinality estimate (the AMS/CMS F₂-style
    * estimator, Cormode & Muthukrishnan §4.2): |A ⋈ B| on a key equals
    * Σ_k f_A(k)·f_B(k) — the inner product of the two frequency vectors —
    * and the CMS estimate is min_j Σ_cell gridA[j][cell]·gridB[j][cell].
    * This is what a planner consults BEFORE committing to a join order at
    * 100 TB: two d×w counter grids (fixed bytes, maintainable
    * incrementally like [[cmsGrid]]) answer the sizing question without
    * touching either fact table again.
    *
    * Deterministic end-to-end: the cells are the [[cellOfCol]] sha-derived
    * buckets and every counter is an exact BIGINT, so the ESTIMATE itself
    * is hash-reproducible in any engine — the DuckDB oracle rebuilds the
    * same grids from the same hashes. The exact inner product rides along
    * as the audit arm (a keyed count-join — linear, never the
    * materialized join), mirroring the kmvOverlap convention: at scale
    * the audit is the thing you're avoiding, here it grades the sketch.
    *
    * Shape: per side, one partial-aggregated shuffle to (key, cnt), one
    * d-way melt to the d×w grid (d·w rows TOTAL); the grid⋈grid dot is a
    * broadcast join of two tiny frames; the audit is one SHUFFLE_HASH
    * count-join. Output: 1 row (d, w, est_pairs, exact_pairs, rel_err). */
  def cmsJoinSizeEstimate(left: DataFrame, right: DataFrame,
                          leftKey: String, rightKey: String,
                          d: Int = 4, w: Int = 65536,
                          exactAudit: Boolean = true): DataFrame = {
    // the estimate's additive bias is E[est − exact] = F1(A)·F1(B)/w
    // (every non-matching row pair collides with prob 1/w per hash row;
    // min over d rows trims the tail, not the mean) — so w must be sized
    // against the PRODUCT of stream lengths over the tolerable absolute
    // error, not against distinct keys as in the point-query cmsTopK.
    // 65536 is the 2-byte-cell ceiling: d·w = 256k counters, still a
    // trivially broadcastable grid, and the largest w this cell
    // derivation supports — beyond it, widen the cell to 3 bytes.
    require(d >= 1 && d <= 8 && w >= 2 && w <= 65536, s"bad CMS shape d=$d w=$w")
    // keys normalize to STRING (not a numeric cast — a string-keyed join
    // would silently null out): the equality join and the sha cells then
    // agree for any key type, and numeric keys render canonically
    // memoized when the audit arm rides along (both the grid and the
    // exact inner product consume the keyed counts): a paired A/B at
    // sf0.1 reads 1.84 -> 1.66 s min-of-5 — modest, because the melt +
    // (j,cell) aggregation dominates, but strictly less work (one scan +
    // key shuffle per side instead of two). MEMORY_AND_DISK with
    // recompute fallback, the same distinct-keys-sized state class as the
    // postings/cappedItems memos; the estimate-only path
    // (exactAudit=false) has a single consumer per side and skips it
    def counts(df: DataFrame, key: String) = {
      val kc = df.select(col(key).cast("string").as("key"))
        .groupBy("key").agg(count(lit(1)).as("cnt"))
      if (exactAudit) PlanCache.memo(kc) else kc
    }
    def grid(kc: DataFrame) = kc
      .select(col("cnt"),
        posexplode(array((0 until d).map(j =>
          expr(cellOfCol(j, w, "key"))): _*)).as(Seq("j", "cell")))
      .groupBy("j", "cell").agg(sum("cnt").as("cellsum"))
    val lc = counts(left, leftKey)
    val rc = counts(right, rightKey)
    val est = grid(lc).join(broadcast(grid(rc)
        .withColumnRenamed("cellsum", "cellsum_b")), Seq("j", "cell"))
      .groupBy("j").agg(sum(expr("cellsum * cellsum_b")).as("dot"))
      .agg(min("dot").as("est_pairs"))
    val base = est.select(lit(d).as("d"), lit(w).as("w"), col("est_pairs"))
    if (!exactAudit) base
    else {
      val exact = lc.join(rc.withColumnRenamed("cnt", "cnt_b")
          .hint("SHUFFLE_HASH"), "key")
        .agg(coalesce(sum(expr("cnt * cnt_b")), lit(0L)).as("exact_pairs"))
      base.join(broadcast(exact))
        .withColumn("rel_err", round(expr(
          "CASE WHEN exact_pairs = 0 THEN CAST(NULL AS DOUBLE) " +
            "ELSE CAST(est_pairs - exact_pairs AS DOUBLE) / exact_pairs END"), 6))
    }
  }

  /** Merkle integrity manifest of a corpus: per-bucket content digests plus
    * a corpus root, so two copies of a 100 TB corpus (or the same corpus
    * before/after a migration) compare by 64 digests instead of a row diff,
    * and a corrupted partition localizes to its bucket.
    *
    * leaf = sha256(doc_id || ':' || sha256(text)); bucket = doc_id mod
    * `buckets`; bucket digest = sha256 of the bucket's leaves concatenated
    * in doc_id order; root = sha256 of the bucket digests in bucket order.
    * Hashing is map-only; the shuffle carries one 64-char leaf per row
    * clustered into `buckets` groups, and the root is a `buckets`-row
    * aggregate. Incremental maintenance re-hashes only buckets whose rows
    * changed. The in-bucket sort is explicit (sort_array by doc_id), so the
    * digest is partition- and order-invariant — the determinism audit this
    * sketch family exists for.
    */
  def merkleManifest(docs: DataFrame, buckets: Int = 64): DataFrame =
    merkleFromLeaves(merkleLeaves(docs, buckets))

  /** The manifest's maintained state: one (bucket, doc_id, leaf) row per
    * document. Leaf derivation is map-only and CONTENT-CONVERGENT — leaf is
    * a pure function of (doc_id, text), so re-deriving a row writes the
    * identical value, which is what makes incremental maintenance
    * (`Streams.streamingMerkleLeaves`) retry-safe. */
  def merkleLeaves(docs: DataFrame, buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    docs.select(
      pmod(col("doc_id"), lit(buckets)).cast("int").as("bucket"),
      col("doc_id"),
      sha2(concat(col("doc_id").cast("string"), lit(":"),
        sha2(col("text"), 256)), 256).as("leaf"))
  }

  /** DDSketch-style deterministic quantile sketch per group (Masson et al.,
    * VLDB 2019): log-spaced buckets with RELATIVE-error guarantee alpha —
    * the quantile member of this sketch family (HLL = distinct,
    * CMS = frequency, Merkle = integrity).
    *
    * bucket(x) = ceil(ln(x) / ln(gamma)) with gamma = (1+alpha)/(1-alpha);
    * estimate for a bucket b is 2*gamma^b/(gamma+1), within alpha of any
    * value the bucket holds. Bucket counts are ADDITIVE integers, so
    * sketches of corpus slices merge by per-bucket sum (the CMS-grid
    * property), and state per group is O(ln(max/min)/alpha) buckets no
    * matter the row count — the 100 TB answer to exact percentiles' global
    * sort (this repo's q113/q127 exact and GK paths).
    *
    * Engine-portability: ln(gamma) is folded to ONE Scala-computed literal
    * shared with the oracle (the `hllNumerator` trick), so the bucket index
    * is ceil(ln(x) / literal) — only ln(x) crosses engines (bit-parity
    * established by q48/q82) and everything after is integer logic. The
    * quantile walk is rank = floor(q*(n-1)) + 1 over the ascending
    * cumulative bucket counts — pure integers; the final estimate is one
    * pow + division, rounded 4dp on both sides.
    *
    * Non-positive values are excluded (standard DDSketch keeps a separate
    * negative/zero store; the fixture columns sketched here are positive
    * prices). Output: (group, q, bucket, n, est). */
  def ddSketchQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                        qs: Seq[Double] = Seq(0.5, 0.95, 0.99),
                        alpha: Double = 0.01): DataFrame =
    ddQuantilesFromBuckets(ddBuckets(df, groupCol, valueCol, alpha),
      groupCol, qs, alpha)

  /** The DDSketch's maintained state: (group, bucket, cnt) — ADDITIVE
    * integer counts, so slice sketches merge by per-bucket sum
    * (`Streams.streamingDdBuckets` maintains exactly this). */
  def ddBuckets(df: DataFrame, groupCol: String, valueCol: String,
                alpha: Double = 0.01): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5): $alpha")
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    val lnGamma = String.format(java.util.Locale.ROOT, "%.17e", Double.box(math.log(gamma)))
    df.filter(expr(s"$valueCol > 0"))
      .select(col(groupCol),
        expr(s"CAST(ceil(ln(CAST($valueCol AS DOUBLE)) / $lnGamma) AS BIGINT)").as("bucket"))
      .groupBy(groupCol, "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** The quantile walk over a (group, bucket, cnt) table — the tail shared
    * by the one-shot and incrementally-maintained paths. */
  def ddQuantilesFromBuckets(counts: DataFrame, groupCol: String,
                             qs: Seq[Double] = Seq(0.5, 0.95, 0.99),
                             alpha: Double = 0.01): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5): $alpha")
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"bad quantiles: $qs")
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    val gammaLit = String.format(java.util.Locale.ROOT, "%.17e", Double.box(gamma))
    // ascending cumulative counts per group: the only window, partitioned
    // by the group key (bounded buckets per partition)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("bucket")
    val cum = counts
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy(groupCol)))
    val probe = cum.crossJoin(broadcast(
        counts.sparkSession.range(1).select(
          explode(array(qs.map(lit): _*)).as("q"))))
      .withColumn("rank", expr("CAST(floor(q * (n - 1)) AS BIGINT) + 1"))
      .filter(col("cum") >= col("rank"))
      .groupBy(groupCol, "q")
      .agg(min("bucket").as("bucket"), min("n").as("n"))
    probe.withColumn("est",
        round(expr(s"2.0 * power($gammaLit, bucket) / ($gammaLit + 1.0)"), 4))
      .select(col(groupCol), col("q"), col("bucket"), col("n"), col("est"))
  }

  /** Fold a leaf table into the (bucket, n_docs, digest, root) manifest —
    * the aggregation tail shared by the one-shot and incremental paths. */
  def merkleFromLeaves(leaves: DataFrame): DataFrame = {
    val perBucket = leaves
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sha2(expr(
          "array_join(transform(array_sort(collect_list(struct(doc_id, leaf))), x -> x.leaf), '')"),
          256).as("digest"))
    val root = perBucket
      .agg(sha2(expr(
        "array_join(transform(array_sort(collect_list(struct(bucket, digest))), x -> x.digest), '')"),
        256).as("root"))
    perBucket.join(broadcast(root))
      .select(col("bucket"), col("n_docs"), col("digest"), col("root"))
  }
}
