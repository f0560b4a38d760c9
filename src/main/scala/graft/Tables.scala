package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import scala.util.Try

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §B).
  * All reads go through here so filters/projections written downstream get
  * pushed into the parquet scan by Catalyst.
  */
object Tables {
  /** Base-table read, its driver-side listing/footer-inference work
    * memoized per file content stamp ([[graft.operators.Memo]]):
    * every query re-planning the same immutable fixture table should not
    * re-read the parquet footer per invocation. The data is NOT cached —
    * the memoized frame is a lazy plan whose every execution re-scans the
    * file; a regenerated fixture changes the stamp and reads fresh. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    graft.operators.Memo.loads(spark,
      s"tbl|$path|${graft.operators.Memo.dirStamp(spark, path)}")(
      spark.read.parquet(path))
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Fixture-drift-tolerant events loader. The driver has regenerated
    * `events.parquet` with different physical types across rounds — parquet
    * TIMESTAMP(NANOS) originally, TIMESTAMP(MICROS) now — so this read must
    * never hard-code the physical type (the reference's read paths tolerate
    * schema drift the same way: main.py:195-206 defaults missing metadata).
    *
    * Strategy: let Spark infer the schema. If `ts` infers as a native
    * timestamp type (the µs form, natively supported), read as-is — casting
    * any TIMESTAMP_NTZ to session-TZ TIMESTAMP so downstream window/session
    * arithmetic sees one type regardless of the writer's isAdjustedToUTC
    * flag. If inference rejects the file (Spark refuses TIMESTAMP(NANOS)
    * unless `legacy.parquet.nanosAsLong` is set) or yields a non-timestamp
    * `ts`, fall back to the forced-BIGINT nanos read and truncate ns→µs,
    * matching a `CAST(ts AS TIMESTAMP)` of the same data in engines that
    * keep the ns. FixtureSanitySpec asserts the loaded range lands in
    * 2024-2030, so a future physical-type change fails a test instead of
    * silently corrupting every event-time query. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    // same stamp-keyed memo as `table` — doubly worth it here because the
    // drift-tolerant probe below reads the footer up to twice per call
    graft.operators.Memo.loads(spark,
      s"tblevents|$path|${graft.operators.Memo.dirStamp(spark, path)}")(
      eventsUncached(spark, path))
  }

  private def eventsUncached(spark: SparkSession, path: String): DataFrame = {
    val inferred = Try(spark.read.parquet(path)).filter(df =>
      df.schema.fieldNames.contains("ts") && (df.schema("ts").dataType match {
        case TimestampType | TimestampNTZType => true
        case _                                => false
      }))
    inferred
      .map { df =>
        if (df.schema("ts").dataType == TimestampNTZType)
          df.withColumn("ts", expr("cast(ts as timestamp)"))
        else df
      }
      .getOrElse {
        // Legacy fixture: parquet TIMESTAMP(NANOS). Force BIGINT nanos
        // (sidestepping inference; no session-conf mutation) and truncate.
        spark.read
          .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
            "value DOUBLE, props STRING")
          .parquet(path)
          .withColumn("ts", expr("timestamp_micros(cast(ts div 1000 AS bigint))"))
      }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
}
