package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-layout operators for data skipping at the 100 TB regime.
  *
  * Z-ordering (bit-interleaved Morton codes) is THE standard answer to
  * "my table is filtered on two dimensions but sorted on at most one":
  * sorting by the interleaved code clusters rows so that a contiguous
  * z-range covers a small axis-aligned box in (a, b) space, which turns
  * parquet row-group min/max statistics into an effective 2-D index —
  * a box predicate prunes all but O(perimeter) of the row groups, where a
  * 1-D sort prunes only on its leading column. The reference engine has no
  * layout control at all (Pinecone hides physical layout entirely); this is
  * the Spark-native extension every lakehouse engine (Delta OPTIMIZE
  * ZORDER BY, Iceberg sort orders) ships.
  *
  * Everything here is integer bit arithmetic — engine-exact, so the zone
  * maps are fully oracle-checkable. The z-value expression is a flat sum of
  * non-overlapping bit terms: codegen-friendly (one projection, no UDF).
  */
object Layout {

  /** Spark SQL expression for the Morton code of the low `bits` bits of two
    * non-negative integer columns: a's bit i lands at position 2i, b's at
    * 2i+1. Flat +-chain of disjoint bit terms — whole-stage-codegen'd.
    *
    * Coordinate contract (both curves): the caller picks `bits` to cover
    * max(a, b) — values are masked to the low `bits` bits so the transforms
    * stay well-defined, but out-of-range keys then COLLIDE with faraway
    * cells and the zone-map envelopes widen until skipping stops paying
    * (the stats remain correct; the locality does not). Size bits for the
    * key range at target scale — the fixture queries use 21 (2M keys),
    * not the minimal 16 that sf0.1 alone would need. */
  def zValueSql(a: String, b: String, bits: Int = 16): String = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).flatMap { i =>
      Seq(s"(shiftright(CAST($a AS BIGINT), $i) & 1) * ${1L << (2 * i)}L",
        s"(shiftright(CAST($b AS BIGINT), $i) & 1) * ${1L << (2 * i + 1)}L")
    }.mkString("(", " + ", ")")
  }

  /** Append the z-value column. */
  def withZValue(df: DataFrame, a: String, b: String, bits: Int = 16): DataFrame =
    df.withColumn("zval", expr(zValueSql(a, b, bits)))

  /** Hilbert curve index of two non-negative `bits`-bit integers — Z-order's
    * better-locality sibling: consecutive Hilbert values are always
    * Manhattan-adjacent cells (no Z-shaped jumps), so range reads along the
    * curve touch tighter (a, b) boxes and zone maps prune harder. The
    * classic bit transform (per level: quadrant digit (3*rx)^ry, then
    * flip-within-s + swap rotation) runs as one codegen'd custom
    * expression (`functions.HilbertIndex`), and the SAME arithmetic
    * renders as the oracle's unrolled CTE chain, so the index is
    * hash-checkable like every other layout op here (LayoutSpec proves the
    * bijection + unit-step adjacency that define the curve). */
  def withHilbert(df: DataFrame, a: String, b: String, bits: Int = 16): DataFrame =
    // a codegen'd custom expression, not chained projections: the unrolled
    // form's per-level (hx, hy) substitutions doubled the collapsed
    // expression tree per level (6.4 s at bits=21, nearly all of it
    // analysis/codegen); the expression is O(bits) work, O(1) tree
    df.withColumn("hval",
      graft.GraftFunctions.hilbert_index(col(a).cast("long"), col(b).cast("long"), bits))

  /** `zZoneMap`'s Hilbert twin: bucket envelope audit of the
    * Hilbert-ordered space. */
  def hZoneMap(df: DataFrame, a: String, b: String,
               bits: Int = 16, bucketBits: Int = 12): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 2 * bits)
    withHilbert(df, a, b, bits)
      .withColumn("bucket", expr(s"hval DIV ${1L << bucketBits}L"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(a).as(s"min_$a"), max(a).as(s"max_$a"),
        min(b).as(s"min_$b"), max(b).as(s"max_$b"))
  }

  /** Deterministic zone-map audit of a fixed-width z-bucket layout: one row
    * per occupied bucket (zval DIV 2^bucketBits) with row count and the
    * min/max envelope of both dimensions — exactly the statistics a scan
    * planner would consult to skip buckets for a box predicate. One
    * bucket-keyed aggregate; output cardinality is bounded by 2^(2*bits -
    * bucketBits), independent of row count. */
  def zZoneMap(df: DataFrame, a: String, b: String,
               bits: Int = 16, bucketBits: Int = 12): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 2 * bits)
    withZValue(df, a, b, bits)
      .withColumn("bucket", expr(s"zval DIV ${1L << bucketBits}L"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(a).as(s"min_$a"), max(a).as(s"max_$a"),
        min(b).as(s"min_$b"), max(b).as(s"max_$b"))
  }

  /** Compaction (small-file bin-packing) planner — the OPTIMIZE step of
    * a table-maintenance loop: given a file inventory (partition, file,
    * bytes), assign files to target-size compaction bins and report each
    * bin's fill. At 100 TB the small-file problem IS the read-amplification
    * problem; planning which files merge into which output is a pure
    * metadata computation and must not touch data bytes.
    *
    * Packing rule: within each partition, files order by (bytes desc,
    * id asc) — first-fit-decreasing's sort — and a file joins the bin
    * where its prefix-sum STARTS (bin = (cumsum − bytes) DIV target), a
    * next-fit-with-overflow that a single window expresses exactly; fills
    * may exceed the target by at most one file, the standard tolerance.
    * Deterministic integers end-to-end.
    *
    * Shape at scale: the inventory is metadata (one row per FILE, not per
    * data row); the window partitions by table-partition, so no global
    * sort; output is one row per planned bin. */
  def compactionPlan(files: DataFrame, partCol: String, idCol: String,
                     bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"bad target: $targetBytes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy(desc("bytes"), asc("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    files
      .select(col(partCol).as("part"), col(idCol).as("id"),
        col(bytesCol).cast("long").as("bytes"))
      .withColumn("cum", sum("bytes").over(w))
      .withColumn("bin", expr(s"CAST((cum - bytes) DIV $targetBytes AS INT)"))
      .groupBy("part", "bin")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes"))
      .withColumn("fill_frac", expr(
        s"round(CAST(bytes AS DOUBLE) / $targetBytes, 6)"))
      .orderBy("part", "bin")
  }
}
