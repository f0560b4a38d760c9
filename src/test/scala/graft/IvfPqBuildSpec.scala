package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftFunctions.{l2_normalize, nearest_cell, pq_encode}
import graft.functions.VecTables
import graft.operators.{CellStore, GenDir, Similarity}

/** The IVF-PQ store build: the one-job Lloyd iterations against the
  * posexplode/groupBy iteration they replaced (kept here as the
  * reference), and a fresh q282 build's job budget and stored content
  * against the per-table write and upsert sequence. */
class IvfPqBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Fixed-point scale of the deterministic Lloyd means. */
  private val Fx = 1048576.0

  /** The reference `detKMeans` centroid fit: first `k` by vec_id, then per
    * iteration every vector posexploded into (cell, dim, x) rows and
    * summed through a (cell, dim) groupBy. */
  private def refDetKMeans(items: DataFrame, k: Int, iters: Int): Seq[(Int, Array[Double])] = {
    val nv = items.select(col("vec_id"), l2_normalize(col("embedding")).as("__nv"))
    var cents: Seq[(Int, Array[Double])] = nv.orderBy("vec_id").limit(k)
      .select("__nv").collect().map(_.getSeq[Double](0).toArray).zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
    for (_ <- 1 to iters) {
      val sums = nv.withColumn("cell", nearest_cell(col("__nv"), VecTables.cells(cents)))
        .select(col("cell"), posexplode(col("__nv")).as(Seq("dim", "x")))
        .withColumn("fx", expr(s"CAST(floor(x * $Fx + 0.5) AS BIGINT)"))
        .groupBy("cell", "dim")
        .agg(sum("fx").as("sfx"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.map { case (cell, old) =>
        byCell.get(cell) match {
          case Some(rows) =>
            val arr = new Array[Double](old.length)
            rows.foreach { r =>
              arr(r.getInt(1)) = (r.getLong(2).toDouble / r.getLong(3).toDouble) / Fx
            }
            (cell, arr)
          case None => (cell, old)
        }
      }
    }
    cents
  }

  /** The reference `pqIndex` codebook fit: the SHA-256-ordered training
    * sample, first `ksub` by vec_id, then per iteration a (sub, cell, dim)
    * posexplode and groupBy. */
  private def refPqBooks(items: DataFrame, m: Int, ksub: Int, iters: Int,
                         dsub: Int): Seq[Seq[Array[Double]]] = {
    val fit = items.select(col("vec_id"), l2_normalize(col("embedding")).as("__nv"))
      .withColumn("__h", expr("sha2(CAST(vec_id AS STRING), 256)"))
      .orderBy(col("__h"), col("vec_id")).limit(Similarity.PqFitRows)
      .select(col("vec_id"), col("__nv")).cache()
    try {
      val init = fit.orderBy("vec_id").limit(ksub).select("__nv").collect()
        .map(_.getSeq[Double](0).toArray)
      var cbs: Seq[Seq[Array[Double]]] =
        (0 until m).map(s => init.map(_.slice(s * dsub, (s + 1) * dsub)).toSeq)
      for (_ <- 1 to iters) {
        val byKey = fit
          .select(col("__nv"), posexplode(pq_encode(col("__nv"), VecTables.books(cbs)))
            .as(Seq("sub", "cell")))
          .select(col("sub"), col("cell"),
            posexplode(slice(col("__nv"), col("sub") * dsub + 1, lit(dsub))).as(Seq("dim", "x")))
          .withColumn("fx", expr(s"CAST(floor(x * $Fx + 0.5) AS BIGINT)"))
          .groupBy("sub", "cell", "dim")
          .agg(sum("fx").as("sfx"), count(lit(1)).as("n"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), (r.getLong(3), r.getLong(4)))).toMap
        cbs = cbs.zipWithIndex.map { case (cb, s) =>
          cb.zipWithIndex.map { case (old, cell) =>
            if (byKey.contains((s, cell, 0)))
              Array.tabulate(dsub) { d =>
                val (sfx, n) = byKey((s, cell, d))
                (sfx.toDouble / n.toDouble) / Fx
              }
            else old
          }
        }
      }
      cbs
    } finally fit.unpersist()
  }

  private def bits(a: Array[Double]): Seq[Long] = a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def assertSameCentroids(got: Seq[(Int, Array[Double])], want: Seq[(Int, Array[Double])]): Unit = {
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((c, g), (_, w)) =>
      assert(bits(g) == bits(w), s"cell $c: ${g.toSeq} vs ${w.toSeq}")
    }
  }

  private def assertSameBooks(got: Seq[Seq[Array[Double]]], want: Seq[Seq[Array[Double]]]): Unit = {
    assert(got.size == want.size)
    got.zip(want).zipWithIndex.foreach { case ((g, w), s) =>
      assert(g.map(bits) == w.map(bits), s"subspace $s differs")
    }
  }

  /** sf0.001 embeddings, file-backed (the lifecycle's input shape). */
  private def embeddings = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")

  test("one-job Lloyd iterations are bit-identical to the posexplode/groupBy iteration") {
    val items = embeddings
    assertSameCentroids(Similarity.detKMeans(items, 8, 3)._1, refDetKMeans(items, 8, 3))
    assertSameBooks(Similarity.pqIndex(items, 16, 16, 2).codebooks,
      refPqBooks(items, 16, 16, 2, 4))
  }

  test("one-job Lloyd iterations stay bit-identical when a planted duplicate leaves a cell empty") {
    // vec_ids 0 and 1 share one vector, so the first k rows by vec_id seed
    // two identical centroids (and two identical codebook rows in every
    // subspace): every tie goes to the lower one and the other stays empty
    val rows = embeddings.orderBy("vec_id").collect()
    val dup = rows.head.getSeq[Float](1)
    val planted = rows.map(r => if (r.getLong(0) == 1L) Row(1L, dup) else r)
    val items = spark.createDataFrame(java.util.Arrays.asList(planted: _*), embeddings.schema)
    // after one iteration the duplicated seed has won no vector, so it
    // keeps its centroid (later iterations may move cell 0 away from it)
    val seed = items.filter(col("vec_id") === 1L)
      .select(l2_normalize(col("embedding"))).head().getSeq[Double](0).toArray
    val oneKm = refDetKMeans(items, 8, 1)
    assert(bits(oneKm(1)._2) == bits(seed), "planted duplicate must leave cell 1 empty")
    assertSameCentroids(Similarity.detKMeans(items, 8, 1)._1, oneKm)
    val onePq = refPqBooks(items, 16, 16, 1, 4)
    onePq.zipWithIndex.foreach { case (cb, s) =>
      assert(bits(cb(1)) == bits(seed.slice(s * 4, s * 4 + 4)),
        s"planted duplicate must leave row 1 of codebook $s empty")
    }
    assertSameBooks(Similarity.pqIndex(items, 16, 16, 1).codebooks, onePq)
    assertSameCentroids(Similarity.detKMeans(items, 8, 3)._1, refDetKMeans(items, 8, 3))
    assertSameBooks(Similarity.pqIndex(items, 16, 16, 2).codebooks,
      refPqBooks(items, 16, 16, 2, 4))
  }

  /** A copy of sf0.001's embeddings under a fresh dir, so its source stamp
    * is new and the store builds from scratch. */
  private def freshCopy(): String = {
    val dir = Files.createTempDirectory("graft-ivfpq-build").toString
    Files.copy(Paths.get(s"${TestSpark.sf0001}/embeddings.parquet"),
      Paths.get(s"$dir/embeddings.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    Files.setLastModifiedTime(Paths.get(s"$dir/embeddings.parquet"),
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

  test("a fresh q282 build runs at most 24 Spark jobs and stores what the per-table sequence stores") {
    val src = freshCopy()
    val ref = Files.createTempDirectory("graft-ivfpq-ref").toString
    val base = TmpCache.dir(spark, "ivfpq", Similarity.Lifecycle.q282.toString,
      Seq(s"$src/embeddings.parquet"))
    try {
      val items = spark.read.parquet(s"$src/embeddings.parquet").select("vec_id", "embedding")
      val jobs = mutable.ArrayBuffer.empty[String]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
          jobs += e.stageInfos.maxBy(_.stageId).name
        }
      }
      val sc = spark.sparkContext
      org.apache.spark.SparkTestHooks.drainListeners(sc)
      sc.addSparkListener(listener)
      val root = try {
        val r = Similarity.ensurePersisted(spark, items, src, Similarity.Lifecycle.q282)
        org.apache.spark.SparkTestHooks.drainListeners(sc)
        r
      } finally sc.removeSparkListener(listener)
      info(s"${jobs.size} Spark jobs")
      assert(jobs.size <= 24,
        s"a fresh q282 build ran ${jobs.size} Spark jobs, budget 24:\n${jobs.mkString("\n")}")
      // the reference: coarse and PQ tables written one after the other,
      // then the odd wave upserted table by table
      val even = items.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = items.filter(pmod(col("vec_id"), lit(2)) === 1)
      GenDir.rewrite(spark, ref) { g =>
        Similarity.detIvfIndex(even, 8, 3).save(s"$g/coarse")
        val pq = Similarity.pqIndex(even, 16, 16, 2)
        CellStore.write(pq.codes.join(CellStore.read(spark, s"$g/coarse/assignments")
          .select("vec_id", "cell"), Seq("vec_id")), s"$g/pq/codes")
        import spark.implicits._
        pq.codebooks.zipWithIndex.flatMap { case (cb, s) =>
          cb.zipWithIndex.map { case (c, cell) => (s, cell, c.toSeq) }
        }.toDF("sub", "cell", "centroid").coalesce(1).write.parquet(s"$g/pq/codebooks")
      }
      val rg = Similarity.resolveIndexDir(spark, ref)
      Similarity.upsertIvfAt(spark, s"$rg/coarse", odd)
      Similarity.upsertCellPqAt(spark, s"$rg/pq",
        CellStore.read(spark, s"$rg/coarse/assignments"), odd)
      val g = Similarity.resolveIndexDir(spark, root)
      def rows(dir: String, cols: String*): Seq[String] =
        CellStore.read(spark, dir).select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      def table(dir: String): Seq[String] =
        spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
      assert(rows(s"$g/coarse/assignments", "vec_id", "embedding", "cell") ==
        rows(s"$rg/coarse/assignments", "vec_id", "embedding", "cell"))
      assert(rows(s"$g/pq/codes", "vec_id", "codes", "cell") ==
        rows(s"$rg/pq/codes", "vec_id", "codes", "cell"))
      Seq("coarse/assignments", "pq/codes").foreach { t =>
        assert(CellStore.manifest(spark, s"$g/$t") == CellStore.manifest(spark, s"$rg/$t"), t)
        assert(CellStore.manifest(spark, s"$g/$t").exists(_.nonEmpty), t)
        assert(CellStore.cellFileStats(spark, s"$g/$t").map(c => (c._1, c._2)) ==
          CellStore.cellFileStats(spark, s"$rg/$t").map(c => (c._1, c._2)), s"$t files per cell")
      }
      // the loaders take their schemas from the footers: what inference gives
      val (coarse, pq) = Similarity.loadIvfPqAt(spark, root)
      def inferred(t: String) = spark.read.option("basePath", s"$g/$t")
        .parquet(CellStore.manifest(spark, s"$g/$t").get.toSeq.sorted
          .map { case (c, v) => s"$g/$t/cell=$c/v=$v" }: _*).drop("v").schema
      assert(coarse.assignments.schema == inferred("coarse/assignments"))
      assert(pq.codes.schema == inferred("pq/codes"))
      assert(coarse.centroids.schema == spark.read.parquet(s"$g/coarse/centroids").schema)
      assert(table(s"$g/coarse/centroids") == table(s"$rg/coarse/centroids"))
      assert(table(s"$g/pq/codebooks") == table(s"$rg/pq/codebooks"))
    } finally Seq(src, ref, base, s"$base.lock").foreach(rmrf)
  }
}
