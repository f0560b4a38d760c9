package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** The lex state build: a fresh `ensureLexState` against the partial that
  * joined postings to doc lengths and the compaction that folded in three
  * shuffles (both kept here as the reference), with its job budget, its
  * listing jobs and its per-wave codegen compiles pinned. */
class LexBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The reference partial: two tokenizations, postings joined to doc
    * lengths through a shuffle-hash join. */
  private def refPartial(b: DataFrame): DataFrame = {
    val ta = graft.operators.TextAnalysis
    val dls = ta.docLengths(b).select(col("doc_id"), col("dl").cast("long").as("dl"))
    val p = ta.postings(b)
      .withColumn("pbk", expr(ta.tokenBucketExpr("token")))
      .join(dls.hint("SHUFFLE_HASH"), Seq("doc_id"))
      .select(lit("p").as("kind"), col("token"), col("doc_id"),
        col("tf"), col("pbk"), col("dl"))
    val d = dls
      .select(lit("d").as("kind"), lit(null).cast("string").as("token"),
        col("doc_id"), lit(null).cast("long").as("tf"),
        lit(-1L).as("pbk"), col("dl"))
    val s = d.agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl"))
      .select(lit("s").as("kind"), lit(null).cast("string").as("token"),
        lit(null).cast("long").as("doc_id"), col("n").as("tf"),
        lit(-2L).as("pbk"), col("sdl").as("dl"))
    p.unionByName(d).unionByName(s)
  }

  /** The reference compaction fold: postings and stat rows each grouped
    * through their own shuffle, then one more shuffle by bucket. */
  private def refFold(st: DataFrame): DataFrame = {
    val cols = Seq("kind", "token", "doc_id", "tf", "pbk", "dl")
    val p = st.filter(col("kind") === "p")
      .groupBy("kind", "token", "doc_id", "pbk")
      .agg(sum("tf").as("tf"), max("dl").as("dl")).select(cols.map(col): _*)
    val s = st.filter(col("kind") === "s")
      .groupBy("kind", "token", "doc_id", "pbk")
      .agg(sum("tf").as("tf"), sum("dl").as("dl")).select(cols.map(col): _*)
    p.unionByName(st.filter(col("kind") === "d").select(cols.map(col): _*))
      .unionByName(s).repartition(col("pbk"))
  }

  /** The reference epoch write: `epoch` as a literal column under dynamic
    * partition overwrite. */
  private def refWrite(df: DataFrame, epoch: Long, dir: String): Unit =
    df.withColumn("epoch", lit(epoch)).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch", "pbk").parquet(dir)

  /** A copy of sf0.001's documents under a fresh dir, so its source stamp
    * is new and the state builds from scratch. */
  private def freshCopy(): String = {
    val dir = Files.createTempDirectory("graft-lex-build").toString
    Files.copy(Paths.get(s"${TestSpark.sf0001}/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    Files.setLastModifiedTime(Paths.get(s"$dir/documents.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    dir
  }

  private def rmrf(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Data files per `epoch=e/pbk=b` dir under `dir`. */
  private def filesPerBucket(dir: String): Map[String, Int] = {
    def kids(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    def visible(p: Path) = { val n = p.getFileName.toString; !n.startsWith("_") && !n.startsWith(".") }
    (for {
      e <- kids(Paths.get(dir)) if e.getFileName.toString.startsWith("epoch=")
      b <- kids(e) if b.getFileName.toString.startsWith("pbk=")
    } yield s"${e.getFileName}/${b.getFileName}" ->
      kids(b).count(f => Files.isRegularFile(f) && visible(f))).toMap
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(col("kind"), col("token"), col("doc_id"), col("tf"),
        col("pbk").cast("long"), col("dl"), col("epoch").cast("long"))
      .collect().map(_.toString).sorted.toSeq

  test("a fresh lex state build runs at most 24 Spark jobs, no listing job and no wave 2-4 recompiles, and stores what the join partial and three-shuffle fold store") {
    val src = freshCopy()
    val ref = Files.createTempDirectory("graft-lex-ref").toString
    val base = TmpCache.dir(spark, "docstream-lex", "lex-w4-c2",
      Seq(s"$src/documents.parquet"))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    // (wall ms, compile count) at every change, sampled by a poller: the
    // stream's own end is known only as a timestamp in its progress
    val samples = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var polling = true
    val poller = new Thread(() => {
      var last = -1L
      while (polling) {
        val c = compiles.getCount
        if (c != last) samples.synchronized { samples += ((System.currentTimeMillis(), c)) }
        last = c
        Thread.sleep(1)
      }
    })
    poller.setDaemon(true)
    try {
      val docs = Tables.documents(spark, src)
      val jobs = mutable.ArrayBuffer.empty[(String, String)]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
          jobs += ((e.stageInfos.maxBy(_.stageId).name,
            Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")))
        }
      }
      // per stream run: compile count at its start (the started event is
      // delivered on the stream's own thread) and its last batch's end
      val starts = mutable.ArrayBuffer.empty[(java.util.UUID, Long)]
      val ends = mutable.Map.empty[java.util.UUID, Long]
      val streams = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
          starts.synchronized { starts += ((e.runId, compiles.getCount)) }
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val end = Instant.parse(p.timestamp).toEpochMilli +
            Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          ends.synchronized { ends(p.runId) = math.max(ends.getOrElse(p.runId, 0L), end) }
        }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      val sc = spark.sparkContext
      org.apache.spark.SparkTestHooks.drainListeners(sc)
      sc.addSparkListener(listener)
      spark.streams.addListener(streams)
      poller.start()
      val root = try {
        val r = Streams.ensureLexState(spark, docs, src)
        org.apache.spark.SparkTestHooks.drainListeners(sc)
        r
      } finally {
        sc.removeSparkListener(listener)
        spark.streams.removeListener(streams)
        polling = false
        poller.join()
      }
      def countAt(ms: Long): Long =
        samples.filter(_._1 <= ms).lastOption.map(_._2).getOrElse(0L)
      val perWave = starts.toSeq.map { case (run, c0) => countAt(ends(run)) - c0 }
      // sf0.001's epochs hold 30 bucket dirs, under the listing threshold;
      // the wide-state case below reads them at a real epoch's width
      val listing = jobs.filter { case (s, d) =>
        d.startsWith("Listing leaf files") || s.contains("HadoopFSUtils") }

      // the reference: the join partial per wave, epochs 0 and 1 folded
      // into epoch -1, then epochs 2 and 3 beside it
      def wave(w: Int) = refPartial(docs.filter(pmod(col("doc_id"), lit(4)) === w).coalesce(1))
      refWrite(wave(0), 0, s"$ref/pre")
      refWrite(wave(1), 1, s"$ref/pre")
      refFold(spark.read.parquet(s"$ref/pre")).withColumn("epoch", lit(-1L))
        .write.partitionBy("epoch", "pbk").parquet(s"$ref/state")
      refWrite(wave(2), 2, s"$ref/state")
      refWrite(wave(3), 3, s"$ref/state")
      val g = Streams.resolveStateDir(spark, root)
      val (got, want) = (filesPerBucket(g), filesPerBucket(s"$ref/state"))

      info(s"${jobs.size} Spark jobs; codegen compiles per wave: ${perWave.mkString(", ")}; " +
        s"${got.size} (epoch, pbk) dirs")
      assert(jobs.size <= 24,
        s"a fresh lex state build ran ${jobs.size} Spark jobs, budget 24:\n${jobs.mkString("\n")}")
      assert(listing.isEmpty, s"listing jobs:\n${listing.mkString("\n")}")
      assert(starts.size == 4, s"${starts.size} stream runs")
      assert(perWave.drop(1).sum <= 12,
        s"waves 2-4 compiled ${perWave.drop(1).sum} classes (per wave ${perWave.mkString(", ")})")
      assert(rows(spark.read.parquet(g)) == rows(spark.read.parquet(s"$ref/state")))
      assert(got == want, s"files per (epoch, pbk): ${got.toSeq.sorted} vs ${want.toSeq.sorted}")
      assert(got.keySet.map(_.takeWhile(_ != '/')) == Set("epoch=-1", "epoch=2", "epoch=3"))
    } finally Seq(src, ref, base, s"$base.lock").foreach(rmrf)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val jobs = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += e.stageInfos.maxBy(_.stageId).name }
    }
    val sc = spark.sparkContext
    org.apache.spark.SparkTestHooks.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.SparkTestHooks.drainListeners(sc)
      (a, jobs.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("a state whose epoch dirs hold more bucket dirs than the parallel-discovery threshold reads with no Spark job before its scan") {
    val tmp = Files.createTempDirectory("graft-lex-wide").toString
    try {
      // 65 bucket dirs per epoch (the width of a real lex epoch), more
      // than the threshold of 32 above which Spark lists in a job
      val st = spark.range(0, 650).select(lit("p").as("kind"),
        concat(lit("t"), col("id").cast("string")).as("token"), col("id").as("doc_id"),
        lit(1L).as("tf"), (pmod(col("id"), lit(65)) - 2).as("pbk"), lit(3L).as("dl"))
      Seq(0, 1).foreach(e => st.filter(pmod(col("doc_id"), lit(2)) === e)
        .write.partitionBy("pbk").parquet(s"$tmp/epoch=$e"))
      def same(got: DataFrame, want: DataFrame): Unit = {
        assert(got.schema == want.schema)
        assert(rows(got) == rows(want))
      }
      // the pre-generation layout: epoch dirs at the root
      val (pre, preJobs) = jobsDuring(Streams.epochsAt(spark, tmp))
      assert(preJobs.isEmpty, s"jobs while reading the epoch dirs:\n${preJobs.mkString("\n")}")
      same(pre, spark.read.option("basePath", tmp).parquet(s"$tmp/epoch=0", s"$tmp/epoch=1"))
      assert(rows(pre).size == 650)
      // the generation layout a compaction leaves: gen=N/epoch=-1/pbk=*
      Streams.compactLexIndexAt(spark, tmp)
      val (gen, genJobs) = jobsDuring(Streams.epochsAt(spark, tmp))
      assert(genJobs.isEmpty, s"jobs while reading the generation:\n${genJobs.mkString("\n")}")
      same(gen, spark.read.parquet(Streams.resolveStateDir(spark, tmp)))
      assert(rows(gen).size == 650)
    } finally rmrf(tmp)
  }
}
