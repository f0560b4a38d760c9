package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PdfCorpusSource

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def mkCorpus(): String = {
    val dir = Files.createTempDirectory("graft-corpus")
    Files.write(dir.resolve("AA_UF.pdf"), "university of florida transfer credits agreement".getBytes)
    Files.write(dir.resolve("AA_GaTech.pdf"), "georgia tech articulation agreement details".getBytes)
    Files.write(dir.resolve("notes.txt"), "not a pdf".getBytes)
    dir.toString
  }

  test("S2 glob source: only *.pdf files, titles from basename") {
    val dir = mkCorpus()
    val files = PdfCorpusSource.corpusDir(spark, dir)
    assert(files.count() == 2)
    val ex = PdfCorpusSource.extract(files)
    val sources = ex.select("source").as[String].collect().sorted
    assert(sources.toSeq == Seq("AA_GaTech", "AA_UF"))
    assert(ex.filter($"error".isNotNull).count() == 0)
  }

  test("S2: empty corpus dir raises (404 semantics)") {
    val empty = Files.createTempDirectory("graft-empty").toString
    intercept[IllegalArgumentException] {
      PdfCorpusSource.corpusDir(spark, empty)
    }
  }

  test("S3: single file; missing file raises") {
    val dir = mkCorpus()
    val one = PdfCorpusSource.singleFile(spark, s"$dir/AA_UF.pdf")
    assert(one.count() == 1)
    intercept[IllegalArgumentException] {
      PdfCorpusSource.singleFile(spark, s"$dir/nope.pdf")
    }
  }

  test("A2 fold: per-file failure tolerated, report aggregates both sides") {
    val dir = mkCorpus()
    val failing: PdfCorpusSource.TextExtractor = bytes => {
      val s = new String(bytes, "UTF-8")
      if (s.startsWith("georgia")) throw new RuntimeException("corrupt PDF")
      s
    }
    val ex = PdfCorpusSource.extract(PdfCorpusSource.corpusDir(spark, dir), failing)
    assert(ex.filter($"error".isNotNull).count() == 1)
    val report = PdfCorpusSource.ingestReport(ex).collect()(0)
    assert(report.getAs[Long]("ingested_count") == 1L) // one short doc -> one chunk
    assert(report.getAs[scala.collection.Seq[String]]("pdfs_processed").toSeq == Seq("AA_UF"))
    assert(report.getAs[Long]("n_failed") == 1L)
    assert(report.getAs[scala.collection.Seq[String]]("failed_sources").toSeq == Seq("AA_GaTech"))
    // main.py:304-306 message format, including the failure suffix
    assert(report.getAs[String]("message") ==
      "Successfully ingested 1 PDF(s) with 1 total chunks. 1 PDF(s) failed to ingest.")
  }

  /** Assemble a minimal two-page text PDF: page 1's content stream is
    * FlateDecode-compressed, page 2's is raw. Exercises Tj, a TJ kerning
    * array, escaped parens/octal, a hex string, and Td line positioning. */
  def mkTextPdf(): Array[Byte] = {
    import java.util.zip.Deflater
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new Deflater(); d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val content1 =
      """BT /F1 12 Tf 72 720 Td (Transfer credit agreement) Tj
        |0 -14 Td [(between )(the )(institutions)] TJ
        |0 -14 Td (Appendix \(A\) \110ere) Tj ET""".stripMargin
    val content2 = "BT /F1 12 Tf 72 720 Td <48656C6C6F> Tj 0 -14 Td (page two) Tj ET"
    val c1 = deflate(content1.getBytes("ISO-8859-1"))
    val sb = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = sb.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 5 0 R >> endobj\n")
    w("4 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n")
    w(s"5 0 obj << /Length ${c1.length} /Filter /FlateDecode >> stream\n")
    sb.write(c1)
    w("\nendstream endobj\n")
    w(s"6 0 obj << /Length ${content2.length} >> stream\n")
    w(content2)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    sb.toByteArray
  }

  test("S1 golden: JDK-only extractor reads a real two-page text PDF") {
    val expected =
      "Transfer credit agreement\nbetween the institutions\nAppendix (A) Here\n" + // page 1 + \n
        "Hello\npage two\n" // page 2 + \n
    val got = graft.sources.PdfTextExtractor.extract(mkTextPdf())
    assert(got == expected, s"got: ${got.replace("\n", "\\n")}")
  }

  /** A one-page PDF whose text uses a CID (Identity-H) font: 2-byte hex
    * codes that are meaningless in Latin-1 and only decode through the
    * /ToUnicode CMap (bfchar singles + both bfrange forms, including a
    * non-BMP-trivial accented char). Resources ride an indirect ref and the
    * font dict is inline — the resolution paths mkTextPdf doesn't cover. */
  def mkCidPdf(): Array[Byte] = {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0001> <0048>
        |<0002> <00E9>
        |endbfchar
        |2 beginbfrange
        |<0003> <0005> <006C>
        |<0010> <0011> [<0057 006F> <0072 006C 0064>]
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end end""".stripMargin
    // codes: 0001 0002 0003 0004 0005 -> H e' l m n ... wait: bfrange
    // <0003>-<0005> base 006C increments: 0003->l 0004->m 0005->n;
    // 0010 -> "Wo", 0011 -> "rld"
    val content = "BT /F7 11 Tf <00010002000300040005> Tj 0 -14 Td <00100011> Tj ET"
    val sb = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = sb.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources 7 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content)
    w("\nendstream endobj\n")
    w("7 0 obj << /Font << /F7 5 0 R >> >> endobj\n")
    w("5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Fake-Identity-H " +
      "/Encoding /Identity-H /ToUnicode 6 0 R >> endobj\n")
    w(s"6 0 obj << /Length ${cmap.length} >> stream\n")
    w(cmap)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    sb.toByteArray
  }

  test("S1 golden: CID/Identity-H font text decodes through its ToUnicode CMap") {
    val got = graft.sources.PdfTextExtractor.extract(mkCidPdf())
    assert(got == "Hélmn\nWorld\n", s"got: ${got.replace("\n", "\\n")}")
  }

  test("ToUnicode CMap parser: codespace widths, bfchar, both bfrange forms") {
    val cm = graft.sources.PdfTextExtractor.parseToUnicode(
      """1 begincodespacerange <00> <FF> endcodespacerange
        |2 beginbfchar <41> <0058 0059> <42> <58> endbfchar
        |1 beginbfrange <61> <63> <007A> endbfrange""".stripMargin)
    // 1-byte codespace: 'A' -> "XY", 'a'..'c' -> 'z','{','|', others identity
    assert(cm.mapString("A") == "XY")
    assert(cm.mapString("abc") == "z{|")
    assert(cm.mapString("Q") == "Q")
    // short (malformed-but-common) destination <58>: a VALUE, zero-extended
    // on the left -> U+0058 'X', never U+5800
    assert(cm.mapString("B") == "X")
  }

  test("S1 default extractor: PDF header routes to the PDF parser, other bytes pass through") {
    assert(PdfCorpusSource.pdfOrPassthrough(mkTextPdf()).startsWith("Transfer credit"))
    assert(PdfCorpusSource.pdfOrPassthrough("plain text".getBytes) == "plain text")
    // a page stripped of text operators (image-only shape) yields no text
    // (page 2's stream is raw, so cleartext replacement reaches it)
    val imgOnly = new String(mkTextPdf(), "ISO-8859-1")
      .replace("<48656C6C6F> Tj", "").replace("(page two) Tj", "")
    assert(!graft.sources.PdfTextExtractor.extract(imgOnly.getBytes("ISO-8859-1"))
      .contains("page two"))
  }

  test("S1 end-to-end: a PDF corpus file ingests its extracted text") {
    val dir = Files.createTempDirectory("graft-pdfcorpus")
    Files.write(dir.resolve("AA_State.pdf"), mkTextPdf())
    val ex = PdfCorpusSource.extract(PdfCorpusSource.corpusDir(spark, dir.toString))
    val row = ex.collect()(0)
    assert(row.getAs[String]("error") == null)
    assert(row.getAs[String]("source") == "AA_State")
    assert(row.getAs[String]("text").contains("between the institutions"))
  }

  test("S4/S5: create-if-missing idempotent; dynamic overwrite replaces only re-ingested sources") {
    val path = Files.createTempDirectory("graft-index").toString + "/index"
    Engine.createIndexIfMissing(spark, path)
    Engine.createIndexIfMissing(spark, path) // idempotent
    assert(Engine.readIndex(spark, path).count() == 0)

    val v1 = Engine.ingest(Seq(
      (0L, "alpha " * 10, "srcA"), (1L, "beta " * 10, "srcB")
    ).toDF("doc_id", "text", "source"))
    Engine.writeIndex(v1, path)
    assert(Engine.readIndex(spark, path).count() == 2)

    // re-ingest only srcA with different content: srcB rows must survive
    val v2 = Engine.ingest(Seq((0L, "gamma " * 10, "srcA")).toDF("doc_id", "text", "source"))
    Engine.writeIndex(v2, path)
    val after = Engine.readIndex(spark, path)
    assert(after.count() == 2)
    val texts = after.select($"source", $"text").as[(String, String)].collect().toMap
    assert(texts("srcA").startsWith("gamma"))
    assert(texts("srcB").startsWith("beta"))
    // partition pruning: source filter reads one partition directory
    val pruned = after.filter($"source" === "srcA")
    // exactly the production filter: SparkEntry.tune excludes
    // InferFiltersFromConstraints, so no inferred isnotnull rides along
    val plan = pruned.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[\(source#\d+ = srcA\)\]""".r.findFirstIn(plan).isDefined, plan)
  }

  test("health: healthy with a readable index, degraded when missing") {
    val path = Files.createTempDirectory("graft-health").toString + "/idx"
    Engine.writeIndex(Engine.ingest(
      Seq((0L, "alpha " * 10, "srcA")).toDF("doc_id", "text", "source")), path)
    val ok = Engine.health(spark, path).collect()(0)
    assert(ok.getAs[String]("status") == "healthy")
    assert(ok.getAs[Long]("total_vector_count") == 1L)
    val bad = Engine.health(spark, "/nonexistent/graft/index").collect()(0)
    assert(bad.getAs[String]("status") == "degraded")
    assert(bad.getAs[String]("error") != null)
  }

  test("JSONL source: explicit schema, corrupt lines counted not dropped, empty glob raises") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl")
    val f = tmp.resolve("corpus.jsonl")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      """{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "s1"}""",
      """{"doc_id": 2, "text": "gamma", "lang": "de", "source": "s2"}""",
      """this is not json at all""",
      """{"doc_id": 3, "text": "delta", "lang": "en", "source": "s1"}""",
      """{"broken": """))
    val raw = graft.sources.JsonlCorpusSource.read(spark, tmp.toString)
    val ok = graft.sources.JsonlCorpusSource.valid(raw)
    assert(ok.count() == 3)
    assert(ok.columns.toSeq == Seq("doc_id", "text", "lang", "source"))
    assert(ok.filter($"lang" === "en").count() == 2)
    val report = graft.sources.JsonlCorpusSource.ingestReport(raw)
      .as[(Long, Long, String)].collect().head
    assert(report._1 == 3L && report._2 == 2L)
    assert(report._3.split('\n').length == 2 &&
      report._3.contains("this is not json at all"))
    // empty glob: the S2 404 contract
    val empty = java.nio.file.Files.createTempDirectory("graft-jsonl-empty")
    intercept[IllegalArgumentException] {
      graft.sources.JsonlCorpusSource.read(spark, empty.toString)
    }
    intercept[IllegalArgumentException] {
      graft.sources.JsonlCorpusSource.read(spark, s"$empty/absent.jsonl")
    }
  }

  test("JSONL ingestReport on an empty frame: zero counts, not NULLs") {
    // sum() over zero rows is NULL; the report must coalesce to 0L (the
    // r11 advisor note) — build an empty raw frame with the read shape
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl-zero")
    java.nio.file.Files.write(tmp.resolve("corpus.jsonl"),
      java.util.Arrays.asList("""{"doc_id": 1, "text": "x", "lang": "en", "source": "s"}"""))
    val raw = graft.sources.JsonlCorpusSource.read(spark, tmp.toString)
      .filter($"doc_id" === -999) // empty, same schema/lineage
    val r = graft.sources.JsonlCorpusSource.ingestReport(raw)
      .as[(Long, Long, String)].collect().head
    assert(r == ((0L, 0L, "")))
  }

  test("JSONL fixture builder: deterministic, idempotent, >=1 corrupt line, source-stamp keyed") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val d1 = graft.sources.JsonlCorpusSource.ensureFixture(
      spark, docs, TestSpark.sf0001)
    val d2 = graft.sources.JsonlCorpusSource.ensureFixture(
      spark, docs, TestSpark.sf0001)
    assert(d1 == d2) // marker short-circuits the rewrite
    val raw = graft.sources.JsonlCorpusSource.read(
      spark, d1, "doc_id BIGINT, lang STRING, source STRING")
    val rep = graft.sources.JsonlCorpusSource.ingestReport(raw)
      .as[(Long, Long, String)].collect().head
    val expectCorrupt = docs.filter($"doc_id" % 97 === 0).count()
    assert(expectCorrupt >= 1 && rep._2 == expectCorrupt)
    assert(rep._1 == docs.count() - expectCorrupt)
    assert(rep._3.split('\n').forall(_.startsWith("CORRUPT ")))
  }

  test("end-to-end: corpus dir -> extract -> ingest -> search finds the right doc") {
    val dir = mkCorpus()
    val ex = PdfCorpusSource.extract(PdfCorpusSource.corpusDir(spark, dir))
      .filter($"error".isNull)
      .withColumn("doc_id", monotonically_increasing_id())
      .select($"doc_id", $"source", $"text")
    val index = Engine.ingest(ex)
    val exact = "university of florida transfer credits agreement"
    val hits = Engine.search(index, exact, 1).collect()
    assert(hits.length == 1)
    assert(hits(0).getAs[String]("source") == "AA_UF")
    assert(math.abs(hits(0).getAs[Double]("score") - 1.0) < 1e-12)
  }
}
