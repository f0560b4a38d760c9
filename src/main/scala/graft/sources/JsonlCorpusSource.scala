package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSONL document-corpus source — the other format a training-data
  * pipeline actually receives at scale (one JSON object per line: crawl
  * dumps, API exports, labeling-tool output). The reference reads only
  * PDFs (`/root/reference/main.py:262-302`); this extends the same
  * error-tolerant ingest boundary to line-delimited JSON with the same
  * contract as [[PdfCorpusSource]]: keep every parseable row, surface —
  * never drop silently — every malformed one.
  *
  * Scale rules baked in:
  *  - the SCHEMA IS EXPLICIT. `spark.read.json` without a schema runs a
  *    full inference pass over the data first — a second 100 TB scan
  *    before the first real one; callers pass the expected shape
  *    (default: the documents-table shape) and parse exactly it.
  *  - parsing is `from_json` over a text scan, NOT the native JSON file
  *    source: the native reader's corrupt-record column carries the
  *    QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction — even a plain
  *    `count()` after a corrupt-null filter prunes the scan down to the
  *    corrupt column alone and throws — while the expression form has
  *    the identical PERMISSIVE semantics (malformed or uncoercible line
  *    → raw text captured, parseable fields kept) with no such trap.
  *  - JSONL is line-splittable, so the text scan parallelizes by input
  *    split; blank lines are skipped like the native reader does.
  */
object JsonlCorpusSource {

  /** The documents-table shape JSONL corpora default to. */
  val documentsSchema: String =
    "doc_id BIGINT, text STRING, lang STRING, source STRING"

  private val corruptCol = "__corrupt_record"

  /** Read a JSONL corpus under `path` (file or directory; `*.jsonl`
    * glob for directories) as `schema` columns plus a `__corrupt_record`
    * column holding the raw line where parsing or coercion failed (null
    * on clean rows). Raises on an empty glob — the S2 "404 on empty"
    * contract. */
  def read(spark: SparkSession, path: String,
           schema: String = documentsSchema): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = if (fs.exists(p)) Option(fs.getFileStatus(p)) else None
    val isDir = status.exists(_.isDirectory)
    val matched = status match {
      case Some(s) if s.isDirectory =>
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(path, "*.jsonl")))
          .toSeq.flatten
      case Some(s) => Seq(s)
      case None => Seq.empty
    }
    if (matched.isEmpty)
      throw new IllegalArgumentException(s"No JSONL files found in $path")
    val reader = spark.read
    val lines =
      (if (isDir) reader.option("pathGlobFilter", "*.jsonl").text(path)
       else reader.text(path))
    parseLines(lines, schema)
  }

  /** The PERMISSIVE parse shared by the batch [[read]] and the streaming
    * ingest (`Streams.streamingJsonlIngest`): blank lines skipped, every
    * other line either parses into `schema`'s columns or lands verbatim
    * in `__corrupt_record` — identical semantics on both paths by
    * construction. `lines` must carry the text source's `value` column;
    * works on batch and streaming frames alike (narrow ops only). */
  def parseLines(lines: DataFrame,
                 schema: String = documentsSchema): DataFrame = {
    val parsed = StructType.fromDDL(s"$schema, $corruptCol STRING")
    val dataCols = StructType.fromDDL(schema).fieldNames.toSeq
    lines
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), parsed, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptCol)).as("j"))
      .select(dataCols.map(f => col(s"j.$f")) :+ col(s"j.$corruptCol"): _*)
  }

  /** The parseable rows of [[read]]'s output, corrupt capture dropped. */
  def valid(raw: DataFrame): DataFrame =
    raw.filter(col(corruptCol).isNull).drop(corruptCol)

  /** Materialize the deterministic planted-corrupt JSONL fixture that
    * drives the q256 end-to-end oracle check: every `documents` row
    * serializes to one (id, lang, source) JSON line — built with plain
    * string concat so the DuckDB oracle reproduces the bytes exactly —
    * and rows with `doc_id % 97 == 0` are prefixed `CORRUPT ` (>= 1 such
    * row at every SF), which [[read]] must capture, count, and sample.
    * Idempotent per (sfDir, tag) (content is a pure function of the
    * table): written once to a tmpdir keyed by the corpus path, then
    * reused, so bench reps measure the SOURCE, not the fixture write.
    * `tag` keys VARIANT fixtures (the q257 two-wave split passes a
    * filtered `documents` frame — without a distinct tag the cache would
    * collide with the full fixture). Returns the fixture directory
    * (exercising the `*.jsonl` glob path). */
  def ensureFixture(spark: SparkSession, documents: DataFrame,
                    sfDir: String, tag: String = ""): String = {
    // keyed by the SOURCE parquet's stamp, not just the path: a
    // regenerated testdata dir must not serve a fixture that silently
    // diverges from the oracle's rebuild
    val base = graft.TmpCache.ensure(spark,
        "jsonl-fixture" + (if (tag.nonEmpty) "-" + tag else ""), tag,
        Seq(s"$sfDir/documents.parquet")) { base =>
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staging = new Path(base, "staging")
      documents.selectExpr(
          s"""CASE WHEN doc_id % 97 = 0 THEN concat('CORRUPT ', $lineExpr)
              ELSE $lineExpr END AS value""")
        .write.mode("overwrite").text(staging.toString)
      val dst = new Path(base, "fixture")
      fs.mkdirs(dst)
      Option(fs.globStatus(new Path(staging, "part-*")))
        .toSeq.flatten.zipWithIndex.foreach { case (st, i) =>
          require(fs.rename(st.getPath, new Path(dst, s"part-$i.jsonl")),
            s"fixture rename failed: ${st.getPath}")
        }
      fs.delete(staging, true)
    }
    s"$base/fixture"
  }

  /** The JSON-line serialization both engines build character-for-
    * character (no engine to_json involved — key order and spacing are
    * pinned by the concat itself). */
  val lineExpr: String =
    """concat('{"doc_id": ', CAST(doc_id AS STRING),
       ', "lang": "', lang, '", "source": "', source, '"}')"""

  /** The A2-style ingest fold over a raw [[read]] frame: one row of
    * (n_valid, n_corrupt, corrupt_sample) — corrupt lines COUNTED and
    * sampled (the `sampleK` first lines in CONTENT order — a
    * TakeOrderedAndProject; file-line order does not survive the parallel
    * text scan, content order is deterministic in any engine) — mirroring
    * the PDF path's continue-on-failure report rather than silently
    * dropping rows. Counts coalesce to 0 on an empty input (sum over zero
    * rows is NULL — the r11 advisor note). The sample is ONE
    * newline-joined string, not an array: the driver's compare harness
    * cannot hash complex-typed columns (the r13 q256 failure), and JSONL
    * lines cannot themselves contain a raw newline, so the join is
    * lossless. Empty sample → empty string (both engines). */
  def ingestReport(raw: DataFrame, sampleK: Int = 5): DataFrame =
    raw.agg(
        coalesce(sum(when(col(corruptCol).isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_valid"),
        coalesce(sum(when(col(corruptCol).isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_corrupt"))
      .crossJoin(raw.filter(col(corruptCol).isNotNull)
        .select(col(corruptCol).as("line"))
        .orderBy("line").limit(sampleK)
        .agg(array_join(sort_array(collect_list("line")), "\n")
          .as("corrupt_sample")))
}
