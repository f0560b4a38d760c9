package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-profiling operator — the `ANALYZE TABLE`-style audit pass every
  * warehouse ships: per-column null counts, exact distinct counts, and
  * min/max, emitted in long format (one row per column).
  *
  * Shape: nulls/min/max come from ONE narrow scan (column-pruned to the
  * profiled list, map-side combined). Each exact distinct count is its own
  * single-COLUMN scan + partial-distinct aggregation — the shuffle carries
  * only per-partition distinct values (bounded by column cardinality),
  * where the one-pass `Expand` rewrite Spark uses for multi-distinct
  * aggregates would shuffle rows x (columns + 1) regardless of
  * cardinality. Profiling is the distinct-heavy extreme, so the
  * per-column form wins at scale; the cost knob is the profiled-column
  * COUNT (one narrow columnar scan each), visible and deliberate. min/max
  * surface as strings so one long schema covers heterogeneous column
  * types (the usual profiling-output convention). */
object TableStats {

  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val baseAggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__n_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"))) :+ count(lit(1)).as("__total")
    val stackArgs = cols.map(c =>
      s"'$c', __total - __n_$c, __min_$c, __max_$c").mkString(", ")
    val base = df.agg(baseAggs.head, baseAggs.tail: _*).selectExpr(
      s"stack(${cols.size}, $stackArgs) AS (column, n_nulls, min_value, max_value)")
    val distincts = cols.map { c =>
      df.select(col(c)).filter(col(c).isNotNull).distinct()
        .agg(count(lit(1)).as("n_distinct"))
        .select(lit(c).as("column"), col("n_distinct"))
    }.reduce(_ unionByName _)
    base.join(distincts, Seq("column"))
      .select("column", "n_nulls", "n_distinct", "min_value", "max_value")
  }

  // ------------------------------------------------------ data-quality audit

  /** Rows of `child` whose NON-NULL `childKey` has no match in
    * `parent.parentKey` — the referential-integrity violation set. NULL
    * keys are excluded by definition (count them with their own null-rule,
    * as q105 does): this also keeps the operator's semantics aligned with
    * the `NOT IN` form a SQL oracle writes, where a NULL child key is
    * silently dropped rather than counted as an orphan (left_anti alone
    * would KEEP it — the one row the two phrasings disagree on). Anti-join
    * against the distinct key list: the build side is bounded by
    * parent-key cardinality, so Spark broadcasts it long before size
    * forces a shuffle. */
  def orphans(child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      // the distinct parent-key frame is |parent|-proportional, so the
      // anti join hash-builds it per partition (SHUFFLE_HASH), never
      // broadcasts a whole dimension's key set through the driver
      .join(parent.select(col(parentKey).as(childKey)).distinct()
          .hint("SHUFFLE_HASH"),
        Seq(childKey), "left_anti")

  /** Key values appearing more than once — primary-key violations. */
  def duplicateKeys(df: DataFrame, key: String): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n")).filter(col("n") > 1)

  /** Declarative data-quality audit (the dbt-test / expectations shape):
    * each named rule contributes its violation count as one output row, so
    * the audit of a whole warehouse is a single union of tiny aggregates —
    * each rule plans independently (anti-joins hash-build their keyed
    * frames per partition, predicates push into scans) and the result is
    * a fixed-size report regardless of data
    * volume. Zero counts are emitted (a clean audit must SAY it checked). */
  def dqAudit(rules: Seq[(String, DataFrame)]): DataFrame = {
    require(rules.nonEmpty, "audit at least one rule")
    rules.map { case (name, violations) =>
      violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    }.reduce(_ unionByName _)
  }

  /** Incremental rollup maintenance: merge a delta batch into an existing
    * additive aggregate table WITHOUT rescanning history — the materialized
    * -view refresh every warehouse runs on arrival. Works for any algebraic
    * aggregate whose merge is a sum (counts, sums, fixed-point moments);
    * min/max merge the same way via their own combiners. The merged table
    * EQUALS the full recompute over base-inputs + delta-inputs (q125's
    * oracle states exactly that), because sum-merge is associative — the
    * same property Spark's own partial aggregation relies on.
    *
    * Shape: aggregate ONLY the delta (small), then one key-grouped merge of
    * two agg tables whose size is bounded by key cardinality, not history
    * row count. Persist partitioned by a key column and the write is a
    * touched-partition dynamic overwrite (the `Engine.writeIndex`
    * machinery). */
  def mergeRollup(baseAgg: DataFrame, deltaAgg: DataFrame,
                  keyCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && sumCols.nonEmpty)
    baseAgg.select((keyCols ++ sumCols).map(col): _*)
      .unionByName(deltaAgg.select((keyCols ++ sumCols).map(col): _*))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)
  }

  /** Fixed-width histogram of a numeric expression: bin = floor((x - lo) /
    * width), one count per occupied bin (empty bins are absent — join a
    * `sequence` spine if a dense axis is needed, the `gapFillDaily` move).
    * One map-side-combined aggregate; bin arithmetic is a single double
    * expression shared with the oracle, so bucketing is engine-exact. */
  def histogram(df: DataFrame, valueExpr: String,
                lo: Double, width: Double): DataFrame = {
    require(width > 0)
    df.select(expr(s"CAST(floor((($valueExpr) - $lo) / $width) AS BIGINT)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** Robust outlier audit per group: median / MAD (median absolute
    * deviation) fences, the heavy-tail-safe alternative to z-scores (one
    * wild value drags a mean+stddev fence, not a median+MAD one). Two
    * exact percentile aggregates with the 5-row group frame broadcast back
    * between them — the deviation pass streams the corpus a second time
    * but never buffers more than one group's values per aggregate (same
    * contract as `percentilesBy`; swap in `approx_percentile` for the hot-
    * group scale path). Integer-valued `valueExpr` keeps the interpolated
    * medians engine-exact. Output per group: n, med, mad, n_outliers
    * (|x - med| > fence * mad; mad = 0 flags nothing — degenerate groups
    * are a DQ signal, not an outlier storm). */
  def madOutliers(df: DataFrame, groupCol: String, valueExpr: String,
                  fence: Double = 3.0): DataFrame = {
    require(fence > 0)
    val vals = PlanCache.memo(
      df.select(col(groupCol).as("g"), expr(valueExpr).cast("long").as("v")))
    val med = vals.groupBy("g").agg(expr("percentile(v, 0.5)").as("med"))
    val dev = vals.join(broadcast(med), Seq("g"))
      .withColumn("adev", abs(col("v") - col("med")))
    val mad = dev.groupBy("g").agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        expr("round(first(med), 6)").as("med"),
        expr("round(first(mad), 6)").as("mad"),
        sum(when(col("mad") > 0 && col("adev") > col("mad") * fence, 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumnRenamed("g", groupCol)
  }

  /** Exact interpolated percentiles per group over an INTEGER-valued
    * expression. `percentile` sorts within the aggregate — exact, not a
    * sketch — and on integer inputs the linear interpolation
    * ((1-f)*lo + f*hi at rank p*(n-1)) is closed under doubles below 2^53,
    * so the result is engine-exact (the reason the input contract is
    * integer cents/units, mirroring `corrMatrix`). Over huge groups the
    * scale path is a sketch (`percentile_approx`, t-digest); this is the
    * exact small-group complement. */
  def percentilesBy(df: DataFrame, groupCol: String, valueExpr: String,
                    ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    // ONE percentile aggregate over the array of ps — one per-group buffer
    // and sort serving every quantile, where separate aggregates paid the
    // sort per quantile (measured 3.9 s -> the array form at sf0.1)
    val arr = ps.map(p => s"CAST($p AS DOUBLE)").mkString("array(", ", ", ")")
    df.groupBy(groupCol)
      .agg(expr(s"percentile($valueExpr, $arr)").as("__ps"))
      .select(col(groupCol) +: ps.zipWithIndex.map { case (p, i) =>
        expr(s"__ps[$i]").as(s"p${(p * 100).round}") }: _*)
  }

  /** The scale path for `percentilesBy`: `approx_percentile` (Greenwald-
    * Khanna, bounded sketch state) instead of the exact aggregate's
    * buffer-every-value-per-group sort. The exact form is the oracle twin
    * (q113) but one hot group at 100 TB is an executor OOM — the sketch's
    * per-group state is O(1/accuracy) regardless of group size, which is
    * the variant a cluster pipeline should run. `accuracy` is Spark's
    * 1/accuracy-relative-rank-error knob (default 10000 — rank error
    * <= n/10000 per group). Same output schema as `percentilesBy`;
    * TableStatsSpec gates the sketch against the exact form at tolerance
    * on real data. GK results are merge-order-independent per Spark's
    * implementation contract, but NOT cross-engine-defined, so this
    * variant is deliberately not hash-oracled (the q29/q30 rows-only
    * precedent). */
  def percentilesByApprox(df: DataFrame, groupCol: String, valueExpr: String,
                          ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9),
                          accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    require(accuracy >= 100, s"accuracy $accuracy too coarse to gate")
    val arr = ps.map(p => s"CAST($p AS DOUBLE)").mkString("array(", ", ", ")")
    df.groupBy(groupCol)
      .agg(expr(s"approx_percentile($valueExpr, $arr, $accuracy)").as("__ps"))
      .select(col(groupCol) +: ps.zipWithIndex.map { case (p, i) =>
        expr(s"CAST(__ps[$i] AS DOUBLE)").as(s"p${(p * 100).round}") }: _*)
  }

  /** Key-distribution skew audit — the diagnostic a shuffle-heavy pipeline
    * runs BEFORE a groupBy/join melts an executor: row count, distinct
    * keys, the heaviest key and its row count, and the skew factor
    * max/avg. The group table is aggregated map-side; the heaviest key is
    * a deterministic (count desc, key asc) top-1 via TakeOrderedAndProject,
    * cross-joined back as a broadcast single row. All counts exact; the two
    * ratios are single divisions rounded at 6. Output one row:
    * (n_rows, n_keys, max_key_rows, top_key, skew). */
  def keySkew(df: DataFrame, keyExpr: String): DataFrame = {
    // memoized: the per-key count table feeds the aggregate and the top-1
    val groups = PlanCache.memo(
      df.select(expr(keyExpr).cast("string").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")))
    val totals = groups.agg(sum("n").as("n_rows"), count(lit(1)).as("n_keys"),
      max("n").as("max_key_rows"))
    val top = groups.orderBy(desc("n"), asc("k")).limit(1)
      .select(col("k").as("top_key"))
    totals.crossJoin(broadcast(top))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"), col("top_key"),
        expr("round(CAST(max_key_rows AS DOUBLE) / (CAST(n_rows AS DOUBLE) / n_keys), 6)")
          .as("skew"))
  }

  /** Snapshot diff — the corpus-versioning primitive: which ids were added,
    * removed, or content-changed between two snapshots (by `hashExpr`, e.g.
    * sha2(text)). NEVER a full-outer join (Spark's only full-outer physical
    * strategy is a sort-merge join): both sides union into one frame and a
    * single id-keyed aggregate reconstructs each side's hash — one shuffle,
    * map-side combined, the hybrid-fusion trick applied to diffing.
    * Unchanged ids are filtered out (the diff, not the join). Output:
    * (id, status in added|removed|changed, base_hash, current_hash). */
  def snapshotDiff(base: DataFrame, current: DataFrame, idCol: String,
                   hashExpr: String): DataFrame = {
    def side(df: DataFrame, tag: Int) = df.select(
      col(idCol).as("id"), expr(hashExpr).cast("string").as("__h"),
      lit(tag).as("__tag"))
    side(base, 0).unionByName(side(current, 1))
      .groupBy("id")
      .agg(max(when(col("__tag") === 0, col("__h"))).as("base_hash"),
        max(when(col("__tag") === 1, col("__h"))).as("current_hash"))
      .withColumn("status", expr(
        """CASE WHEN base_hash IS NULL THEN 'added'
           WHEN current_hash IS NULL THEN 'removed'
           WHEN base_hash <> current_hash THEN 'changed' END"""))
      .filter(col("status").isNotNull)
      .select(col("id"), col("status"), col("base_hash"), col("current_hash"))
  }

  /** Equi-depth histogram: `nBuckets` buckets holding ~equal row counts —
    * the selectivity-estimation histogram (equal-width `histogram` is
    * useless under skew; this one is the optimizer's shape). Boundaries
    * are the EXACT interpolated percentiles at i/n over the integer-valued
    * expression, but computed WITHOUT the single-task `percentile` buffer:
    * range-repartition on the value gives a global total order, a
    * partition-local row_number plus broadcast prefix offsets gives exact
    * global ranks (the `selectByTokenBudget` shape; value ties make any
    * rank assignment among equals interchangeable), and only the <= 2(n-1)
    * boundary-rank ROWS come back to the driver — aggregate-bounded, never
    * the column. Interpolation is the same (1-g)*lo + g*hi the exact
    * `percentile` aggregate computes, so results equal `percentilesBy`'s
    * boundaries exactly. bucket(x) = #boundaries where x > boundary, one
    * shared integer-vs-double comparison chain. Output: (bucket, n). */
  def equiDepthHistogram(df: DataFrame, valueExpr: String,
                         nBuckets: Int = 8, nPartitions: Int = 32): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000 && nPartitions >= 1)
    val xs = df.select(expr(valueExpr).cast("long").as("x"))
    val n = xs.count()
    require(n > 0, "cannot bucket an empty input")
    val ranged = xs.repartitionByRange(nPartitions, col("x"))
      .withColumn("__pid", spark_partition_id())
    val wl = Window.partitionBy("__pid").orderBy("x")
    // memoized: BOTH the offsets aggregate and the rank fetch must read the
    // SAME materialization of (__pid, __rn) — two lazy evaluations of the
    // range exchange can sample DIFFERENT partition boundaries (observed
    // when a cache upstream broke exchange reuse), which silently
    // misaligns offsets against row numbers
    val local = PlanCache.memo(ranged.withColumn("__rn", row_number().over(wl).cast("long")))
    val offs = local.groupBy("__pid").agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum("__c").over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    val ranks = (1 until nBuckets).flatMap { i =>
      val r = i.toDouble / nBuckets * (n - 1)
      Seq(math.floor(r).toLong, math.ceil(r).toLong)
    }.distinct
    val at = local.join(broadcast(offs), Seq("__pid"))
      .withColumn("__rk", col("__rn") - 1 + col("__off"))
      .filter(col("__rk").isin(ranks: _*))
      .select("__rk", "x").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bounds = (1 until nBuckets).map { i =>
      val r = i.toDouble / nBuckets * (n - 1)
      val (lo, hi) = (at(math.floor(r).toLong), at(math.ceil(r).toLong))
      lo + (hi - lo) * (r - math.floor(r))
    }
    val bucketExpr = bounds
      .map(b => s"IF(CAST($valueExpr AS DOUBLE) > ${b}D, 1, 0)")
      .mkString(" + ")
    df.select(expr(s"CAST($bucketExpr AS BIGINT)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** Winsorized mean per group: clip values at the exact [pLo, pHi]
    * interpolated percentiles, then average — the robust location estimate
    * that keeps sample size (unlike trimming) while bounding any single
    * row's influence. One percentile aggregate for the fences (array form,
    * one sort per group), broadcast back; the clip-and-average pass is
    * map-side combined. Integer-valued `valueExpr` keeps the fences
    * engine-exact; clipped values (which can be fractional fence doubles)
    * are summed as 2^20 FIXED-POINT int64 — the detKMeans rule — so the
    * aggregate is partition-order-invariant where a raw double sum is
    * not. Contract: |v| x 2^20 x group size < 2^63. Output per group:
    * (group, n, lo_fence, hi_fence, mean_raw, mean_winsorized). */
  def winsorizedMean(df: DataFrame, groupCol: String, valueExpr: String,
                     pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi)
    val vals = PlanCache.memo(
      df.select(col(groupCol).as("g"), expr(valueExpr).cast("long").as("v")))
    val fences = vals.groupBy("g")
      .agg(expr(s"percentile(v, array(CAST($pLo AS DOUBLE), CAST($pHi AS DOUBLE)))").as("__ps"))
      .select(col("g"), expr("__ps[0]").as("lo_fence"), expr("__ps[1]").as("hi_fence"))
    vals.join(broadcast(fences), Seq("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        expr("round(first(lo_fence), 6)").as("lo_fence"),
        expr("round(first(hi_fence), 6)").as("hi_fence"),
        sum("v").as("__s"),
        sum(expr(
          "CAST(floor((CASE WHEN CAST(v AS DOUBLE) < lo_fence THEN lo_fence " +
            "WHEN CAST(v AS DOUBLE) > hi_fence THEN hi_fence " +
            "ELSE CAST(v AS DOUBLE) END) * 1048576.0 + 0.5) AS BIGINT)")).as("__wfx"))
      .select(col("g").as(groupCol), col("n"), col("lo_fence"), col("hi_fence"),
        expr("round(CAST(__s AS DOUBLE) / n, 6)").as("mean_raw"),
        expr("round(CAST(__wfx AS DOUBLE) / 1048576.0 / n, 6)").as("mean_winsorized"))
  }

  /** Cross-group quantile normalization: re-express each row's value as
    * the GLOBAL distribution's value at the row's within-group percent
    * rank — the distribution-alignment step that makes per-source quality
    * scores comparable before a corpus-wide quality cut (source A's 0.9
    * and source B's 0.9 mean the same thing afterwards). Within-group
    * percent rank is the exact rational a/b (rank-1 over n_g - 1, id
    * tie-broken); the global value-at-rank uses the SAME distributed-rank
    * machinery as `equiDepthHistogram` (range repartition + local
    * row_number + broadcast prefix offsets — never a single-task sort),
    * and the lo/hi interpolation rows arrive by two SHUFFLE_HASH joins on
    * the dense rank index (uniform key, no skew; never sort-merge).
    *
    * Determinism: the interpolation position is the exact integer
    * h = a * (N - 1) with k = h div b, rem = h mod b — no floating
    * floor-of-product to disagree on; the single double expression
    * x_lo + rem/b * (x_hi - x_lo) runs on exact int64 inputs. Contract:
    * n_g * N < 2^63 (wraps at ~3e9 rows squared; beyond that swap the
    * rank frame for an approx_percentile inverse lookup). Output:
    * (id, group, v, v_norm). */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
                        valueExpr: String, nPartitions: Int = 32): DataFrame = {
    val vals = PlanCache.memo(df.select(col(idCol).as("id"),
      col(groupCol).as("g"), expr(valueExpr).cast("long").as("v")))
    val n = vals.count()
    require(n > 0, "cannot normalize an empty input")
    // within-group exact rational rank a/b
    val wg = Window.partitionBy("g").orderBy("v", "id")
    val withP = vals
      .withColumn("a", row_number().over(wg).cast("long") - 1)
      .withColumn("b", count(lit(1)).over(Window.partitionBy("g")).cast("long") - 1)
      .withColumn("k", expr(s"CASE WHEN b = 0 THEN 0L ELSE a * ${n - 1}L DIV b END"))
      .withColumn("rem", expr(s"CASE WHEN b = 0 THEN 0L ELSE a * ${n - 1}L % b END"))
    // global value-at-rank frame (0-based, exact): the equiDepth machinery
    val ranged = vals.select("v").repartitionByRange(nPartitions, col("v"))
      .withColumn("__pid", spark_partition_id())
    val local = PlanCache.memo(ranged
      .withColumn("__rn", row_number().over(Window.partitionBy("__pid").orderBy("v")).cast("long")))
    val offs = local.groupBy("__pid").agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum("__c").over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    val rankFrame = PlanCache.memo(local.join(broadcast(offs), Seq("__pid"))
      .select((col("__rn") - 1 + col("__off")).as("rk"), col("v").as("xv")))
    val lo = rankFrame.select(col("rk").as("k"), col("xv").as("x_lo"))
    val hi = rankFrame.select((col("rk") - 1).as("k"), col("xv").as("x_hi"))
    withP
      .join(lo.hint("SHUFFLE_HASH"), Seq("k"))
      .join(hi.hint("SHUFFLE_HASH"), Seq("k"), "left") // k+1 absent at the top rank
      .select(col("id").as(idCol), col("g").as(groupCol), col("v"),
        expr("""round(CASE WHEN rem = 0 THEN CAST(x_lo AS DOUBLE)
                ELSE x_lo + CAST(rem AS DOUBLE) / b * (coalesce(x_hi, x_lo) - x_lo) END, 6)""")
          .as("v_norm"))
  }

  /** Chi-square contingency audit over two categorical columns: per cell,
    * the observed count, the independence-model expectation e = (row total
    * x column total) / N, and the cell's chi-square contribution
    * (o - e)^2 / e. All inputs to the double expressions are exact integer
    * counts, so every cell (and the summed statistic the caller can take)
    * is engine-exact — the dependence-screening pass a feature audit runs
    * before trusting a categorical split.
    *
    * Shape: one (a, b) aggregate; marginals derived from it (tiny) and
    * broadcast back. Output cardinality = |a| x |b| cells. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chiSquareFromCells(contingencyCells(df, aCol, bCol), aCol, bCol)

  /** The (a, b, o) contingency-cell aggregate both `chiSquare` and
    * `mutualInformation` consume — also the additive state the streaming
    * maintainer folds (counts merge by sum). Memoized: the cell table
    * feeds marginals, the total, and the output join — four input scans
    * otherwise (PlanCache lifecycle). */
  def contingencyCells(df: DataFrame, aCol: String, bCol: String): DataFrame =
    PlanCache.memo(df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o")))

  /** `chiSquare` from a pre-built (a, b, o) cell table (batch or folded
    * streaming state) — marginals and total derive from the cells, so no
    * corpus access. */
  def chiSquareFromCells(cells: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    val rowT = cells.groupBy("a").agg(sum("o").as("ra"))
    val colT = cells.groupBy("b").agg(sum("o").as("cb"))
    val total = cells.agg(sum("o").as("n"))
    cells.join(broadcast(rowT), Seq("a")).join(broadcast(colT), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a").as(aCol), col("b").as(bCol), col("o"),
        expr("round(CAST(ra AS DOUBLE) * cb / n, 6)").as("expected"),
        expr("""round(pow(CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * cb / n, 2)
                / (CAST(ra AS DOUBLE) * cb / n), 6)""").as("chi2_cell"))
  }

  /** Mutual information between two categorical columns — `chiSquare`'s
    * information-theoretic sibling: per observed cell, the joint count and
    * its MI contribution (o/n)·ln(o·n / (ra·cb)) in nats; the summed
    * column IS I(A;B), the association strength a curation audit reads
    * next to the chi-square screen (e.g. how much source determines
    * language). Zero-count cells contribute exactly 0 and are absent from
    * the observed-cell frame, so omitting them loses nothing.
    *
    * Same shape and determinism as `chiSquare`: one (a, b) aggregate
    * (memoized — it feeds marginals, total, and the output), broadcast
    * marginals, every ln argument an exact integer ratio, one rounded
    * double per cell. Output cardinality = observed |a|x|b| cells. */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame =
    mutualInformationFromCells(contingencyCells(df, aCol, bCol), aCol, bCol)

  /** `mutualInformation` from a pre-built (a, b, o) cell table — the
    * streaming reader's form. */
  def mutualInformationFromCells(cells: DataFrame, aCol: String,
                                 bCol: String): DataFrame = {
    val rowT = cells.groupBy("a").agg(sum("o").as("ra"))
    val colT = cells.groupBy("b").agg(sum("o").as("cb"))
    val total = cells.agg(sum("o").as("n"))
    cells.join(broadcast(rowT), Seq("a")).join(broadcast(colT), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a").as(aCol), col("b").as(bCol), col("o"),
        expr("""round(CAST(o AS DOUBLE) / n
                * ln(CAST(o AS DOUBLE) * n / (CAST(ra AS DOUBLE) * cb)), 6)""")
          .as("mi_cell"))
  }

  /** Per-group simple linear regression from EXACT integer moments (the
    * `corrMatrix` determinism recipe applied to OLS): both `xExpr` and
    * `yExpr` must be integer-valued; ONE aggregate computes n, Sx, Sy,
    * Sxy, Sxx exactly, and slope/intercept are closed-form EXACT-integer
    * ratios evaluated in one shared double expression each —
    * slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx²),
    * intercept = (Sy*Sxx - Sx*Sxy) / (n*Sxx - Sx²) — so the fit is engine-
    * and partitioning-exact. Degenerate groups (constant x → zero
    * denominator) emit nulls rather than ±inf. The caller keeps sums inside
    * a long: |n * Sxy| < 2^63. Output: (key, n, slope, intercept). */
  def groupRegression(df: DataFrame, keyCol: String, xExpr: String,
                      yExpr: String): DataFrame =
    df.select(col(keyCol), expr(xExpr).cast("long").as("x"),
        expr(yExpr).cast("long").as("y"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col(keyCol), col("n"),
        expr("""round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) END, 6)""")
          .as("slope"),
        expr("""round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(sy * sxx - sx * sxy AS DOUBLE) / (n * sxx - sx * sx) END, 6)""")
          .as("intercept"))

  /** Pairwise Pearson correlations from EXACT integer moments: every input
    * is an integer-valued expression (cents/units — the caller picks scales
    * that keep sum(x*y) inside a long), ONE aggregate computes n, all sums
    * and all cross-products exactly, and each pair's r is one shared double
    * formula over those integers — so the matrix is engine- and
    * partitioning-exact, unlike `corr()` whose running-moment f64 updates
    * depend on row order. Output long-form: (var_a, var_b, r).
    *
    * Shape: one scan, one single-row aggregate (map-side combined),
    * O(k^2) columns for k variables — the warehouse correlation-audit
    * shape, never a per-pair pass. */
  def corrMatrix(df: DataFrame, vars: Seq[(String, String)]): DataFrame = {
    require(vars.size >= 2, "need at least two variables")
    val k = vars.size
    val aggs =
      (count(lit(1)).cast("double").as("n") +:
        vars.zipWithIndex.map { case ((_, e), i) => sum(expr(e)).as(s"s$i") }) ++
        (for (i <- 0 until k; j <- i until k) yield
          sum(expr(s"(${vars(i)._2}) * (${vars(j)._2})")).as(s"p${i}_$j"))
    val m = df.agg(aggs.head, aggs.tail: _*)
    // constant variables have zero variance: r is undefined -> NULL (the
    // guard also keeps ANSI mode from raising DIVIDE_BY_ZERO)
    val pairRows = for (i <- 0 until k; j <- (i + 1) until k) yield {
      val d = s"(n * p${i}_$i - CAST(s$i AS DOUBLE) * s$i)" +
        s" * (n * p${j}_$j - CAST(s$j AS DOUBLE) * s$j)"
      s"""'${vars(i)._1}', '${vars(j)._1}',
         CASE WHEN $d <= 0.0 THEN CAST(NULL AS DOUBLE)
              ELSE round((n * p${i}_$j - CAST(s$i AS DOUBLE) * s$j) / sqrt($d), 6)
         END"""
    }
    m.selectExpr(
      s"stack(${pairRows.size}, ${pairRows.mkString(", ")}) AS (var_a, var_b, r)")
  }
}
