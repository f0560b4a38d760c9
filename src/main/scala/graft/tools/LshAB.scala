package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: paired A/B of the q34 LSH pair-join formulations under the
  * exact Bench session shape. Reps INTERLEAVE the two arms (A,B,A,B,…) so
  * host-load drift hits both equally — the full-bench sweeps could not
  * separate the r19 slim-shuffle rewrite from loadavg noise (opt1 3.05 s on
  * a quiet host vs final 4.43 s on a loaded one). Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_REPS=5 \
  *     sbt "runMain graft.tools.LshAB"
  */
object LshAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.tune(spark)
    spark.range(100000).selectExpr("sum(id)").collect()

    val threshold = 0.3
    // Optional octave: replicate the corpus k-fold with shifted ids (the
    // REHEARSAL.json octave convention) so the two formulations' SHUFFLE cost can
    // be compared where it matters — both arms see the identical pair set,
    // so the delta isolates bytes-moved, not pair volume.
    val k = sys.env.getOrElse("SPARK_GRAFT_LSH_K", "1").toInt
    val base = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    val items = if (k <= 1) base else
      (0 until k).map(i => base.withColumn("vec_id",
        col("vec_id") + lit(i * 1000000L))).reduce(_ unionByName _)

    // Arm A: the pre-r19 formulation — MLlib approxSimilarityJoin, full
    // struct(*) rows through the bucket exchange and candidate distinct.
    def mllibArm(): DataFrame = {
      import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, Normalizer}
      import org.apache.spark.ml.functions.array_to_vector
      val radius = math.sqrt(math.max(2.0 - 2.0 * threshold, 0.0)) + 1e-9
      val ni = graft.operators.PlanCache.memo(
        new Normalizer().setInputCol("vec").setOutputCol("nvec").setP(2.0)
          .transform(items.withColumn("vec",
            array_to_vector(col("embedding").cast("array<double>")))))
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("nvec").setOutputCol("hashes")
        .setBucketLength(0.5).setNumHashTables(6).setSeed(42L)
      lsh.fit(ni).approxSimilarityJoin(ni, ni, radius, "l2dist")
        .filter(col("datasetA.vec_id") < col("datasetB.vec_id"))
        .select(col("datasetA.vec_id").as("vec_a"),
          col("datasetB.vec_id").as("vec_b"),
          col("datasetA.embedding").as("ea"),
          col("datasetB.embedding").as("eb"))
        .withColumn("score",
          graft.GraftFunctions.cosine_similarity(col("ea"), col("eb")))
        .filter(col("score") >= threshold)
        .select(col("vec_a"), col("vec_b"), round(col("score"), 4).as("score"))
        .distinct()
    }
    // Arm B: the r19 slim-shuffle rewrite as declared on the board.
    def slimArm(): DataFrame =
      graft.operators.Similarity.lshNearDupPairs(items, threshold)

    // Arm C: in-join verify (the minhashPairs/rpNearDupPairs house shape) —
    // normalized vectors RIDE the bucket exchange (8 KB/row vs MLlib's
    // 25 KB struct(*)), the strict radius cut runs INSIDE the band join
    // before distinct, and only threshold SURVIVORS get the raw-embedding
    // payload re-attached. Unlike arm B this never shuffles
    // candidate-volume x payload (arm B's second re-attach join does).
    def injoinArm(): DataFrame = {
      import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, Normalizer}
      import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
      val radius = math.sqrt(math.max(2.0 - 2.0 * threshold, 0.0)) + 1e-9
      val ni = graft.operators.PlanCache.memo(
        new Normalizer().setInputCol("vec").setOutputCol("nvec").setP(2.0)
          .transform(items.withColumn("vec",
            array_to_vector(col("embedding").cast("array<double>")))))
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("nvec").setOutputCol("hashes")
        .setBucketLength(0.5).setNumHashTables(6).setSeed(42L)
      val model = lsh.fit(ni)
      val hashed = model.transform(ni)
        .select(col("vec_id"), posexplode(col("hashes")).as(Seq("entry", "h")),
          vector_to_array(col("nvec")).as("na"))
        .select(col("vec_id"), col("entry"),
          element_at(vector_to_array(col("h")), 1).as("bucket"), col("na"))
      val surv = hashed
        .join(hashed.select(col("vec_id").as("vec_b"), col("entry"),
            col("bucket"), col("na").as("nb")).hint("SHUFFLE_HASH"),
          Seq("entry", "bucket"))
        .filter(col("vec_id") < col("vec_b"))
        .filter(sqrt(graft.GraftFunctions.sq_dist(col("na"), col("nb"))) <
          lit(radius))
        .select(col("vec_id").as("vec_a"), col("vec_b"))
        .distinct()
      val sideA = ni.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val sideB = ni.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      surv
        .join(sideA.hint("SHUFFLE_HASH"), Seq("vec_a"))
        .join(sideB.hint("SHUFFLE_HASH"), Seq("vec_b"))
        .withColumn("score",
          graft.GraftFunctions.cosine_similarity(col("ea"), col("eb")))
        .filter(col("score") >= threshold)
        .select(col("vec_a"), col("vec_b"), round(col("score"), 4).as("score"))
        .distinct()
    }

    def time(mk: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      mk().queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // sanity: all three arms must return the identical row multiset
    val ref = mllibArm().collect().map(_.toString).sorted.toSeq
    require(slimArm().collect().map(_.toString).sorted.toSeq == ref, "slim != mllib")
    require(injoinArm().collect().map(_.toString).sorted.toSeq == ref, "injoin != mllib")
    println(s"ROWS ${ref.size} (all arms identical)")
    // warm each arm once (fits, memo fill) before the timed interleave
    time(mllibArm); time(slimArm); time(injoinArm)
    val trips = (1 to reps).map { i =>
      val a = time(mllibArm); val b = time(slimArm); val c = time(injoinArm)
      println(f"rep$i%d mllib=$a%6.2fs slim=$b%6.2fs injoin=$c%6.2fs")
      (a, b, c)
    }
    def stats(xs: Seq[Double]) =
      f"min=${xs.min}%.2f med=${xs.sorted.apply(xs.size / 2)}%.2f"
    println(s"MLLIB  ${stats(trips.map(_._1))}")
    println(s"SLIM   ${stats(trips.map(_._2))}")
    println(s"INJOIN ${stats(trips.map(_._3))}")
    graft.operators.PlanCache.releaseAll(spark)
    spark.stop()
  }
}
