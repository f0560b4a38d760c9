package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{Engine, GraftFunctions, SparkEntry, Tables}
import graft.operators.{Dedup, Similarity}
import graft.streaming.Streams

/** One benchmark run in one JVM: build the workload's stores once per
  * set-up repetition, then drive the workload's closed loop (one client)
  * for the configured time and print one JSON line of results.
  *
  * Usage: Harness <config.json>, written by perfbench/run.py. */
object Harness {

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new java.io.File(args(0)))
    val cores = cfg.get("cores").asInt
    val scratch = cfg.get("scratch").asText
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.tune(spark)
    GraftFunctions.register(spark)
    val out =
      try new Run(spark, cfg).execute()
      finally spark.stop()
    println(new ObjectMapper().writeValueAsString(out))
  }
}

/** Latency split of one request: the read part, the write part, how many
  * user-level items (documents or queries) it served, and whether the run
  * had already served the same input. */
final case class Req(read: Double, write: Double, items: Int, repeat: Boolean = false) {
  def total: Double = read + write
}

final class Run(spark: SparkSession, cfg: JsonNode) {
  import spark.implicits._

  private val workload = cfg.get("workload").asText
  private val seconds = cfg.get("seconds").asDouble
  private val traced = cfg.get("trace").asBoolean
  private val cores = cfg.get("cores").asInt
  private val scratch = cfg.get("scratch").asText
  private val setupReps = cfg.get("setup_reps").asInt
  private val minSamples = cfg.get("min_samples").asInt
  private val maxSeconds = cfg.get("max_seconds").asDouble
  private val warmup = cfg.get("warmup").asInt
  private val plantFailure = cfg.get("plant_failure").asBoolean

  private val tr = new Trace(spark.sparkContext)
  if (traced) spark.sparkContext.addSparkListener(tr)

  // ---- operation and check accounting ----

  private var attempted = 0L
  private var failed = 0L
  private val checkFailures = mutable.ArrayBuffer.empty[String]
  private var checksRun = 0L

  /** Run one operation; a throw counts it as failed and yields None. */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $what failed: $e")
        None
    }
  }

  private def check(ok: Boolean, what: => String): Unit = {
    checksRun += 1
    if (!ok && checkFailures.size < 50) checkFailures += what
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def progress(what: String): Unit = System.err.println(
    f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $what")

  // ---- inputs ----

  private val dataDir = cfg.get("data").asText
  private val plan = new ObjectMapper().readTree(new java.io.File(s"$dataDir/plan.json"))

  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq
  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private def rank1Of(n: JsonNode): Map[Int, Long] =
    n.fields().asScala.map(e => e.getKey.toInt -> e.getValue.asLong).toMap

  // ---- store listing, from outside the program ----

  private final case class Listing(files: Map[String, (Long, Long)]) {
    def bytes: Long = files.values.map(_._1).sum
    def count: Int = files.size
    /** Bytes in files that are new or changed relative to `before`. */
    def writtenSince(before: Listing): Long =
      files.iterator.collect {
        case (p, v @ (len, _)) if !before.files.get(p).contains(v) => len
      }.sum
  }

  private def listing(roots: String*): Listing = Listing(roots.flatMap { r =>
    val root = Paths.get(r)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList
      finally s.close()
    }
  }.toMap)

  /** Snapshot dirs on disk: index generations (`gen=N`), cell-store and
    * index versions (`v=N`). */
  private def generations(roots: String*): Int = roots.map { r =>
    val root = Paths.get(r)
    if (!Files.exists(root)) 0
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isDirectory(p) && (n.startsWith("gen=") || n.startsWith("v="))
      }
      finally s.close()
    }
  }.sum

  // ---- serving, shared by serve and churn ----

  private var ivfRoot = ""
  private var lexRoot = ""

  private def buildServingStores(): Double = {
    val dir = s"$dataDir/corpus"
    val t0 = System.nanoTime()
    ivfRoot = Similarity.ensurePersistedIvfPq(spark,
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), dir)
    val t1 = System.nanoTime()
    lexRoot = Streams.ensureLexState(spark, Tables.documents(spark, dir), dir)
    System.err.println(f"perfbench: set-up: IVF-PQ fit ${(t1 - t0) / 1e9}%.2f s, " +
      f"lex state ${secs(t1)}%.2f s")
    secs(t0)
  }

  private def termsOf(queries: Seq[String]): Seq[(Long, Seq[String])] =
    queries.zipWithIndex.map { case (q, i) => i.toLong -> Engine.keywordTerms(q) }

  private def queryFrame(queries: Seq[String]): DataFrame =
    queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("query_id", "qtext")
      .select(col("query_id"),
        GraftFunctions.hash_embed(col("qtext"), 64).as("query_embedding"))

  private val nLeg = 10
  private val k = 5
  private var partialFlushes = 0L

  /** One text-in hybrid batch, served as the engine's q306 serves it. */
  private def serveBatch(queries: Seq[String]): Array[Row] = {
    val (coarse, pq) =
      tr.span("Similarity.load")(Similarity.loadIvfPqAt(spark, ivfRoot))
    val lex = tr.span("Streams.lex_build")(
      Streams.bm25StreamedBatchAt(spark, lexRoot, termsOf(queries)))
    val df = tr.span("Engine.build")(
      Engine.hybridServingScored(coarse, pq, queryFrame(queries), queries.size,
        lex, k = k, nLeg = nLeg, nProbe = 5, shortlist = 128))
    tr.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = tr.span("spark.exec")(df.collect())
    if (tr.enabled) partialFlushes += PlanMetrics.sum(
      df.queryExecution.executedPlan, "partialFlushes")
    rows
  }

  /** Each query has k distinct rows in (rrf desc, doc_id asc) order, each
    * rrf equals the RRF of its two leg ranks, every planted query has its
    * document at rank 1, and no forbidden id appears. */
  private def checkBatch(tag: String, queries: Seq[String], rows: Array[Row],
                         rank1: Map[Int, Long], forbidden: Long => Boolean): Unit = {
    val byQ = rows.toSeq.groupBy(_.getLong(0))
    queries.indices.foreach { qi =>
      val rs = byQ.getOrElse(qi.toLong, Nil)
      check(rs.size == k, s"$tag q$qi: ${rs.size} rows, want $k")
      check(rs.map(_.getLong(1)).distinct.size == rs.size, s"$tag q$qi: repeated doc")
      rs.foreach { r =>
        val rv = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getInt(2))
        val rl = if (r.isNullAt(3)) 0.0 else 1.0 / (60 + r.getInt(3))
        check(math.abs(r.getDouble(4) - (rv + rl)) < 1e-6,
          s"$tag q$qi doc ${r.getLong(1)}: rrf ${r.getDouble(4)} != ${rv + rl}")
        check(!forbidden(r.getLong(1)), s"$tag q$qi: deleted doc ${r.getLong(1)} served")
      }
      rs.sliding(2).foreach {
        case Seq(a, b) =>
          check(a.getDouble(4) > b.getDouble(4) ||
            (a.getDouble(4) == b.getDouble(4) && a.getLong(1) < b.getLong(1)),
            s"$tag q$qi: rows not in (rrf desc, doc_id asc) order")
        case _ =>
      }
      rank1.get(qi).foreach { want =>
        check(rs.headOption.exists(_.getLong(1) == want),
          s"$tag q$qi: rank 1 is ${rs.headOption.map(_.getLong(1))}, want $want")
      }
    }
  }

  // ---- workloads ----

  private trait Workload {
    /** Set-up repetition `rep`: builds the workload's stores from the
      * inputs; returns the seconds its engine calls took. */
    def setup(rep: Int): Double
    def request(i: Int): Req
    /** Bytes on disk per live user byte of the workload's store. */
    def spaceAmp: Double
    def layerMetrics: Map[String, Double]
  }

  private object Ingest extends Workload {
    private var root = ""
    private val shards = plan.get("shards").elements().asScala.toIndexedSeq
    private val ampSamples = mutable.ArrayBuffer.empty[Double]
    private var chunks, pairs, files, bytesWritten, inputBytes = 0L
    private var tracedRounds = 0

    private def checkChunks(tag: String, version: String, sh: JsonNode): Unit = {
      val n = Engine.readIndex(spark, version).count()
      check(n == sh.get("chunks").asLong, s"$tag: $n chunks, want ${sh.get("chunks").asLong}")
    }

    /** A fresh index's first version, written from the set-up shard; the
      * rounds then write into the last repetition's index. */
    def setup(rep: Int): Double = {
      root = s"$scratch/index-$rep"
      val sh = plan.get("bootstrap")
      val t0 = System.nanoTime()
      val v = Engine.writeIndexVersioned(
        Engine.ingest(spark.read.parquet(s"$dataDir/${sh.get("path").asText}")), root)
      val s = secs(t0)
      checkChunks(s"ingest set-up $rep", s"$root/v=$v", sh)
      s
    }

    def request(i: Int): Req = {
      val sh = shards(i % shards.size)
      val docs = spark.read.parquet(s"$dataDir/${sh.get("path").asText}")
      val t0 = System.nanoTime()
      val (v, found) = tr.span("round") {
        val v =
          if (tr.enabled) {
            // forced one step at a time, so the write's self time is the write
            val c = tr.span("Engine.chunk") {
              val c = Engine.chunks(docs).persist()
              chunks += c.count()
              c
            }
            val e = tr.span("functions.embed") {
              val e = Engine.embedChunks(c).persist()
              e.count()
              e
            }
            val v = tr.span("Engine.write")(Engine.writeIndexVersioned(e, root))
            e.unpersist()
            c.unpersist()
            v
          } else Engine.writeIndexVersioned(Engine.ingest(docs), root)
        val found = tr.span("Dedup.pairs")(
          Dedup.minhashPairs(docs, 0.7).select("doc_a", "doc_b").collect())
        (v, found)
      }
      val lat = secs(t0)
      val tag = s"ingest round $i"
      checkChunks(tag, s"$root/v=$v", sh)
      val got = found.map(r => (r.getLong(0), r.getLong(1))).toSet
      sh.get("exact_pairs").elements().asScala.foreach { p =>
        val pair = (p.get(0).asLong, p.get(1).asLong)
        check(got(pair), s"$tag: exact duplicate pair $pair not found")
      }
      val written = listing(s"$root/v=$v")
      val textBytes = sh.get("text_bytes").asLong
      ampSamples += written.bytes.toDouble / textBytes
      if (tr.enabled) {
        tracedRounds += 1
        pairs += found.length
        files += written.count
        bytesWritten += written.bytes
        inputBytes += textBytes
      }
      Req(0.0, lat, sh.get("docs").asInt)
    }

    def spaceAmp: Double = median(ampSamples.toSeq)

    def layerMetrics: Map[String, Double] = {
      val n = math.max(tracedRounds, 1).toDouble
      Map(
        "functions.chunks" -> chunks / n,
        "Dedup.pairs" -> pairs / n,
        "store.files" -> files / n,
        "store.bytes_per_input_byte" -> ratio(bytesWritten, inputBytes),
        "store.generations" -> generations(root).toDouble)
    }
  }

  private object Serve extends Workload {
    private val batches = plan.get("batches").elements().asScala.toIndexedSeq
    private val served = mutable.Set.empty[Seq[String]]

    def setup(rep: Int): Double = buildServingStores()

    def request(i: Int): Req = {
      val b = batches(i % batches.size)
      val queries = strings(b.get("queries"))
      val t0 = System.nanoTime()
      val rows = tr.span("batch")(serveBatch(queries))
      val lat = secs(t0)
      checkBatch(s"serve batch $i", queries, rows, rank1Of(b.get("rank1")), _ => false)
      Req(lat, 0.0, queries.size, repeat = !served.add(queries))
    }

    def spaceAmp: Double =
      listing(ivfRoot, lexRoot).bytes.toDouble /
        plan.get("corpus").get("live_user_bytes").asDouble

    def layerMetrics: Map[String, Double] = Map(
      "store.files" -> listing(ivfRoot, lexRoot).count.toDouble,
      "store.bytes_per_input_byte" -> spaceAmp,
      "store.generations" -> generations(ivfRoot, lexRoot).toDouble)
  }

  private object Churn extends Workload {
    private val steps = plan.get("steps").elements().asScala.toIndexedSeq
    private val deleted = mutable.Set.empty[Long]
    private val ampSamples = mutable.ArrayBuffer.empty[Double]
    private var bytesWritten, userBytes = 0L

    def setup(rep: Int): Double = buildServingStores()

    private def write(st: JsonNode): Unit = st.get("op").asText match {
      case "upsert" =>
        val wave = spark.read.parquet(s"$dataDir/${st.get("wave").asText}")
        tr.span("Similarity.upsert") {
          val g = Similarity.resolveIndexDir(spark, ivfRoot)
          val delta = wave.select(col("doc_id").as("vec_id"), col("embedding"))
          Similarity.upsertIvfAt(spark, s"$g/coarse", delta)
          Similarity.upsertCellPqAt(spark, s"$g/pq",
            Similarity.loadIvfIndex(spark, s"$g/coarse").assignments, delta)
        }
        tr.span("Streams.upsert")(
          Streams.upsertDocsAt(spark, lexRoot, wave.select("doc_id", "text")))
      case "delete" =>
        val ids = longs(st.get("ids"))
        tr.span("Similarity.delete") {
          val g = Similarity.resolveIndexDir(spark, ivfRoot)
          val del = ids.toDF("vec_id")
          Similarity.deleteIvfAt(spark, s"$g/coarse", del)
          Similarity.deletePqAt(spark, s"$g/pq", del)
        }
        tr.span("Streams.delete")(
          Streams.deleteLexDocsAt(spark, lexRoot, col("doc_id").isin(ids: _*)))
      case "maintain" =>
        tr.span("Similarity.compact") {
          Similarity.compactIvfPqAt(spark, ivfRoot)
          Similarity.pruneGens(spark, ivfRoot)
        }
        tr.span("Streams.compact") {
          Streams.compactLexIndexAt(spark, lexRoot)
          Similarity.pruneGens(spark, lexRoot)
        }
    }

    /** After a delete commits, neither leg may reach a deleted id, even for
      * the deleted documents' own texts probed across every cell. */
    private def checkLegs(tag: String, texts: Seq[String], ids: Set[Long]): Unit = {
      val (coarse, pq) = Similarity.loadIvfPqAt(spark, ivfRoot)
      // nProbe = ensurePersistedIvfPq's 8 cells: every cell
      val vec = Similarity.ivfPqProbe(coarse, pq, queryFrame(texts), nLeg,
        nProbe = 8, shortlist = 128).select("vec_id").as[Long].collect()
      val lex = Streams.bm25StreamedBatchAt(spark, lexRoot, termsOf(texts))
        .filter(col("bm25") > 0).select("doc_id").as[Long].collect()
      check(!vec.exists(ids), s"$tag: deleted id reachable on the vector leg")
      check(!lex.exists(ids), s"$tag: deleted id reachable on the lexical leg")
    }

    def request(i: Int): Req = {
      require(i < steps.size, s"churn schedule exhausted after ${steps.size} steps")
      val st = steps(i)
      // a traced run traces every write, so every write kind is covered;
      // the reads alternate, and trace_overhead compares them
      val traceRead = tr.enabled
      tr.enabled = traced
      val before = if (traced) listing(ivfRoot, lexRoot) else null
      val tw = System.nanoTime()
      tr.span("write")(write(st))
      val wLat = secs(tw)
      tr.enabled = traceRead
      val after = listing(ivfRoot, lexRoot)
      if (before != null) {
        bytesWritten += after.writtenSince(before)
        userBytes += st.get("user_bytes").asLong
      }
      val tag = s"churn step $i (${st.get("op").asText})"
      if (st.get("op").asText == "delete") {
        val ids = longs(st.get("ids"))
        deleted ++= ids
        checkLegs(tag, strings(st.get("deleted_texts")), ids.toSet)
      }
      val queries = strings(st.get("queries"))
      val tr0 = System.nanoTime()
      val rows = tr.span("read")(serveBatch(queries))
      val rLat = secs(tr0)
      checkBatch(tag, queries, rows, rank1Of(st.get("rank1")), deleted)
      ampSamples += after.bytes.toDouble / st.get("live_user_bytes").asDouble
      Req(rLat, wLat, queries.size)
    }

    def spaceAmp: Double = median(ampSamples.toSeq)

    def layerMetrics: Map[String, Double] = {
      val end = listing(ivfRoot, lexRoot)
      Map(
        "store.files" -> end.count.toDouble,
        "store.bytes_per_input_byte" ->
          (if (ampSamples.isEmpty) 0.0 else ampSamples.last),
        "store.bytes_written_per_user_byte" -> ratio(bytesWritten, userBytes),
        "store.generations" -> generations(ivfRoot, lexRoot).toDouble)
    }
  }

  // ---- the run ----

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def execute(): java.util.Map[String, Any] = {
    val wl: Workload = workload match {
      case "ingest" => Ingest
      case "serve"  => Serve
      case "churn"  => Churn
    }
    // the JVM's and Spark's own first-job costs stay out of set-up time
    spark.range(100000).selectExpr("sum(id)").collect()
    progress("spark up")
    val buildSeconds = (0 until setupReps).map { rep =>
      val t0 = System.nanoTime()
      attempt(s"set-up $rep")(wl.setup(rep)).getOrElse(secs(t0))
    }
    progress("set-up done")
    if (plantFailure)
      attempt("planted failure")(
        Engine.readIndexLatest(spark, s"$scratch/no-such-index").count())
    // warm-up: JIT and codegen of the request path. A fixed request count,
    // not a time, so a slow host does not start measuring less warmed up
    var i = 0
    while (i < warmup) {
      attempt(s"warm-up $i")(wl.request(i))
      i += 1
    }
    progress(s"warm-up done ($warmup requests)")
    val plain = mutable.ArrayBuffer.empty[Req]
    val withTrace = mutable.ArrayBuffer.empty[Req]
    val loop0 = System.nanoTime()
    def elapsed = secs(loop0)
    while ((elapsed < seconds || plain.size + withTrace.size < minSamples) &&
      elapsed < maxSeconds) {
      tr.enabled = traced && (i - warmup) % 2 == 0
      val on = tr.enabled
      attempt(s"request $i")(wl.request(i)).foreach { r =>
        if (on) withTrace += r else plain += r
      }
      tr.enabled = false
      i += 1
    }
    progress(s"measured ${i - warmup} requests")
    val samples = (plain ++ withTrace).toSeq
    val totals = samples.map(_.total)
    val e2e = new java.util.LinkedHashMap[String, Any]()
    // latency of the requests whose input the run had not served before
    // (every ingest round; serve's fresh batches), so reuse of repeated
    // input cannot hide a slower path for new input
    e2e.put("fresh_p50_s", median(samples.filterNot(_.repeat).map(_.total)))
    // throughput over the whole mix, repeats included; the benchmark's own
    // checks between requests are left out
    e2e.put("items_per_s", ratio(samples.map(_.items).sum, totals.sum))
    e2e.put("space_amp", wl.spaceAmp)
    e2e.put("peak_rss_mb", peakRssMb)

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("attempted", attempted)
    out.put("failed", failed)
    out.put("checks_run", checksRun)
    out.put("check_failures", checkFailures.asJava)
    out.put("build_s", buildSeconds.asJava)
    out.put("samples", samples.size)
    out.put("repeats", samples.count(_.repeat))
    out.put("latencies_s", totals.asJava)
    out.put("end_to_end", e2e)
    if (traced) out.put("per_layer", layerMetrics(wl, plain.toSeq, withTrace.toSeq).asJava)
    out
  }

  private val StoreDefaults = Seq("functions.chunks", "Dedup.pairs",
    "store.files", "store.bytes_per_input_byte", "store.generations")
    .map(_ -> 0.0).toMap

  /** Per-layer metrics from the traced requests; every layer metric is
    * present for every workload, 0 where the workload never enters it. */
  private def layerMetrics(wl: Workload, plain: Seq[Req],
                           withTrace: Seq[Req]): Map[String, Double] = {
    tr.drain()
    val self = tr.selfNanos
    val spans = tr.spans.toSeq
    val tops = spans.filter(_.parent < 0)
    def named(n: String) = spans.filter(_.name == n)
    def selfS(n: String): Double = named(n).map(s => self(s.id)).sum / 1e9
    def per(n: String): Double = {
      val c = named(n).size
      if (c == 0) 0.0 else selfS(n) / c
    }
    val all = new tr.Counts
    spans.foreach(s => all.add(tr.countsFor(s.id)))
    /** Mean over `ops` of the Spark work in each one's span subtree. */
    def subtreeMean(ops: Seq[tr.Span], f: tr.Counts => Double): Double =
      if (ops.isEmpty) 0.0
      else ops.flatMap(o => tr.subtree(o.id)).map(s => f(tr.countsFor(s.id))).sum / ops.size
    // Spark work per request: the mean per top-level operation of each kind
    // (round, batch; churn: write and read), summed over the kinds
    def perRequest(f: tr.Counts => Double): Double =
      tops.groupBy(_.name).values.map(subtreeMean(_, f)).sum
    val jobs = (c: tr.Counts) => c.jobs.toDouble
    val reads = math.max(named("spark.exec").size, 1).toDouble
    val topWall = tops.map(_.dur).sum / 1e9
    val lat = (plain ++ withTrace)
    Map(
      "Engine.chunk_s" -> per("Engine.chunk"),
      "functions.embed_s" -> per("functions.embed"),
      "Engine.write_s" -> per("Engine.write"),
      "Dedup.pairs_s" -> per("Dedup.pairs"),
      "Similarity.load_s" -> per("Similarity.load"),
      "Streams.lex_build_s" -> per("Streams.lex_build"),
      "Engine.build_s" -> per("Engine.build"),
      "Engine.build_jobs" -> subtreeMean(named("Engine.build"), jobs),
      "spark.plan_s" -> per("spark.plan"),
      "spark.exec_s" -> per("spark.exec"),
      "GroupedTopK.partial_flushes" -> partialFlushes / reads,
      "Similarity.upsert_s" -> per("Similarity.upsert"),
      "Similarity.delete_s" -> per("Similarity.delete"),
      "Similarity.compact_s" -> per("Similarity.compact"),
      "Streams.upsert_s" -> per("Streams.upsert"),
      "Streams.delete_s" -> per("Streams.delete"),
      "Streams.compact_s" -> per("Streams.compact"),
      "spark.jobs_per_write" -> subtreeMean(named("write"), jobs),
      "spark.jobs" -> perRequest(jobs),
      "spark.stages" -> perRequest(_.stages.toDouble),
      "spark.tasks" -> perRequest(_.tasks.toDouble),
      "spark.task_s" -> perRequest(_.taskMs / 1e3),
      "spark.core_util" -> ratio(all.taskMs / 1e3, topWall * cores),
      "spark.shuffle_read_bytes" -> perRequest(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> perRequest(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> perRequest(_.spill.toDouble),
      "spark.failed_tasks" -> all.failedTasks.toDouble,
      "read_p50_s" -> median(lat.filter(_.read > 0).map(_.read)),
      "write_p50_s" -> median(lat.filter(_.write > 0).map(_.write)),
      // the other class of serve batch beside the end-to-end fresh_p50_s
      "repeat_p50_s" -> median(lat.filter(_.repeat).map(_.total)),
      // churn traces every write and alternates only its reads, so its
      // overhead compares the reads
      "trace_overhead" -> (if (lat.forall(r => r.read > 0 && r.write > 0))
        ratio(median(withTrace.map(_.read)), median(plain.map(_.read)))
      else ratio(median(withTrace.map(_.total)), median(plain.map(_.total)))),
      "trace_unattributed_share" ->
        ratio(tops.map(s => self(s.id)).sum / 1e9, topWall)
    ) ++ StoreDefaults ++ wl.layerMetrics
  }
}

/** SQL metrics of an executed plan, AQE query stages included. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  def sum(plan: org.apache.spark.sql.execution.SparkPlan, metric: String): Long = {
    var total = 0L
    foreach(plan)(p => p.metrics.get(metric).foreach(m => total += m.value))
    total
  }
}
