package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** 1-minute system load average from /proc/loadavg ("-1" if unreadable).
    * Recorded at start and end so a run taken under co-load (compiles, a
    * second Spark JVM) is self-evident from the artifact alone — per-query
    * timings on a loaded machine are not comparable across rounds. */
  private def loadavg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(0)
    catch { case _: Throwable => "-1" }

  /** Class name and message of `e` as JSON-safe text: a quote, backslash
    * or newline (or a null message) must not break a diag line. */
  private def describe(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage))
      .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)

  /** Run an untimed warm-up of `name`; a throw is reported on stderr (the
    * timed reps then record the query as failed), never swallowed. */
  private def warm(name: String)(body: => Unit): Unit =
    try body
    catch { case e: Throwable => System.err.println(s"bench: warm-up of $name failed: ${describe(e)}") }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = loadavg
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.tune(spark)
    // Untimed warmup: JIT + codegen + parquet reader paths, so the first
    // timed query doesn't absorb JVM startup cost.
    warm("spark.range")(spark.range(100000).selectExpr("sum(id)").collect())
    Seq("q01_chunk", "q12_tpch_agg").foreach(n =>
      warm(n)(SparkEntry.queries(n)(spark, sfDir).count()))
    // Untimed state warmup: every state-backed query (streamed-state
    // readers, persisted indexes, the JSONL fixture) runs once BEFORE the
    // timed loop so its build-once ensure* work (stream runs, index fits,
    // compactions) lands outside every timed rep — otherwise the first
    // sweep's timings absorb the builds and, worse, a replay leg's
    // builds bleed into the paired comparison as a uniform shift (the
    // r15 replay measured ~4% of exactly this). Name-pattern keyed so new
    // state-backed queries warm automatically. Repeat calls short-circuit
    // on the cache markers, so the timed reps measure only the READ.
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.contains("_stream") || n.contains("_persisted") ||
        n.contains("_deleted") || n.contains("_serving") ||
        n.contains("_maintained") || n.contains("_takedown") ||
        n.contains("_retrained") || n.contains("_readmit") ||
        n.contains("_cell_stats") || n == "q256_jsonl_ingest")
      .foreach(n => warm(n)(SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()))
    // Three timed reps per query, keep the min: single-JVM local[n] timings
    // carry heavy run-to-run noise (GC/JIT/page-cache/co-load — r7 vs r8 ran
    // identical code and differed 1.8x in total), and the per-query min is
    // the standard noise-floor estimator of steady-state throughput.
    val reps = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").trim.toInt)
        .getOrElse(3))
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Reps are INTERLEAVED (sweep every query once per rep, reps as the
    // outer loop) rather than back-to-back per query: a transient co-load
    // burst then inflates one sweep's worth of timings while the other
    // sweeps still capture clean minima — back-to-back reps would let the
    // same burst contaminate every rep of whichever queries it overlapped.
    val sweepLoads = collection.mutable.Buffer.empty[String]
    val attemptsByQuery =
      collection.mutable.Map.empty[String, Vector[(Boolean, Double)]].withDefaultValue(Vector())
    val lastError = collection.mutable.Map.empty[String, String]
    (1 to reps).foreach { _ =>
      sweepLoads += loadavg
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        // toRdd forces evaluation of every output column — a bare
        // DataFrame.count() lets Catalyst prune computed columns away and
        // under-measures projection-heavy queries.
        val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable => lastError(name) = describe(e); false }
        attemptsByQuery(name) = attemptsByQuery(name) :+ ((ok, (System.nanoTime() - t0) / 1e9))
      }
    }
    // a fast FAILED rep must not mask a slow successful one: min over
    // successes; a query whose every rep failed has no time at all — it
    // is listed on the "failed" diag line, left out of every time and of
    // the total, and the run exits non-zero
    val failed = names.filter(n => attemptsByQuery(n).forall(!_._1))
    val results = names.filterNot(failed.contains).map { name =>
      val attempts = attemptsByQuery(name)
      name -> (attempts.filter(_._1).map(_._2).min, attempts.map(_._2))
    }.toMap
    // The driver's artifact keeps only the final ~2000 output characters;
    // full query names over 90 queries are ~2300 chars of JSON on their own
    // (BENCH_r03/r04 recorded parsed:null from exactly this overflow). The
    // machine-readable line therefore keys on the qNN prefix (~12 chars per
    // entry, <1300 chars at 100 queries); the qNN->full-name mapping is
    // unambiguous and the diag line above carries full names per rep.
    // the bare number, not qNN: at 157 queries the q prefix alone is ~160
    // chars of the ~2000-char tail budget (epilogue included)
    val shortKey = (k: String) => k.split("_")(0).stripPrefix("q")
    // two query names sharing a qNN prefix would silently emit duplicate
    // JSON keys and the driver's parse would keep only one — fail loudly
    val dupKeys = results.keys.groupBy(shortKey).filter(_._2.size > 1)
    require(dupKeys.isEmpty, s"non-unique bench keys: $dupKeys")
    // trailing-zero-stripped 2-dp values ("0.40" -> "0.4", "1.00" -> "1"):
    // still valid JSON numbers, ~100 chars back from the tail budget
    val fmt = (v: Double) =>
      f"$v%.2f".stripSuffix("0").stripSuffix("0").stripSuffix(".")
    val qs = results.map { case (k, (v, _)) => s"\"" + shortKey(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-rep times per query: a contaminated run shows as wide rep spreads
    // (healthy: < 30% per query) without needing a rerun to diagnose.
    // Diagnostics go on their OWN line (and scroll out of the driver's tail
    // window) so the machine-readable line below stays parseable.
    val repsJson = results.map { case (k, (_, ts)) =>
      s"\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2._1).sum else 0.0
    val avail = Runtime.getRuntime.availableProcessors
    val loadEnd = loadavg
    val sweepLoadsJson = sweepLoads.mkString("[", ",", "]")
    println(s"""{"diag":"bench","rep_times":$repsJson,"loadavg_start":$loadStart,"loadavg_per_sweep":$sweepLoadsJson,"loadavg_end":$loadEnd,"avail_cpus":$avail,"spark_cpus":"$cpus"}""")
    // Per-query minima on their OWN diagnostic line: at 180 queries the map
    // alone is ~2000 chars, which overflowed the driver's tail window in r9
    // (BENCH_r09 recorded parsed:null with the {"metric":... prefix truncated
    // away). The map scrolls out; the short total line below stays parseable.
    val sfLabel = sfDir.split("/").filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    println(s"""{"diag":"per_query","queries":$qs,"sf":"$sfLabel"}""")
    // The driver's ~2000-char tail window cannot hold the per-query map any
    // more (r9: 180 queries; r11: only 168/255 entries survived truncation),
    // so the FULL map is also persisted as a repo artifact — committed each
    // round as BENCH_DETAIL.json — keyed by full query name with per-rep
    // times, so round-over-round regressions stay auditable for every query.
    try {
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
        "BENCH_DETAIL.json")
      val minJson = results.toSeq.sortBy(_._1).map { case (k, (v, _)) =>
        s"\"" + k + "\":" + f"$v%.3f"
      }.mkString("{", ",", "}")
      val detail =
        s"""{"written_at":"${java.time.Instant.now()}","sf":"$sfLabel","reps":$reps,"agg":"min","n_queries":${results.size},"loadavg_start":$loadStart,"loadavg_per_sweep":$sweepLoadsJson,"loadavg_end":$loadEnd,"spark_cpus":"$cpus","query_secs":$minJson,"rep_times":$repsJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      println(s"""{"diag":"bench_detail_write_failed","err":"${describe(e)}"}""")
    }
    if (failed.nonEmpty)
      println(failed.map(n => s"\"$n\":\"${lastError.getOrElse(n, "")}\"")
        .mkString("""{"diag":"failed","queries":{""", ",", "}}"))
    graft.operators.PlanCache.releaseAll(spark)
    spark.stop()
    // printed LAST, after spark.stop(), so nothing lands between this line
    // and the end of the program's stdout. Deliberately short (~170 chars):
    // it must fit inside the driver's ~2000-char tail window together with
    // sbt's epilogue, with generous headroom even if the query count doubles.
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"sf":"$sfLabel","reps":$reps,"agg":"min","loadavg_start":$loadStart,"loadavg_end":$loadEnd}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
