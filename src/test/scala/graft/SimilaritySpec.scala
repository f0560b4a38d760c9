package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CosineSimilarity
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, TestSpark.sf0001)
    .select("vec_id", "embedding").cache()
  lazy val queries = Tables.embeddings(spark, TestSpark.sf0001)
    .filter($"vec_id" < 5)
    .select($"vec_id".as("query_id"), $"embedding".as("query_embedding")).cache()

  /** `pq` with each code row's coarse cell, the codes table
    * `savePqCellPartitioned` writes. */
  def withCells(pq: Similarity.PqIndex, assignments: org.apache.spark.sql.DataFrame): Similarity.PqIndex =
    pq.copy(codes = pq.codes.join(assignments.select("vec_id", "cell"), Seq("vec_id")))

  /** (name, mtime) of one cell's SERVING files under the versioned cell
    * store — the manifest-pinned version dir, not a raw listing (which
    * would also see the retained previous version). */
  def servingCellStamp(table: String, cell: Int): Set[(String, Long)] = {
    val v = graft.operators.CellStore.manifest(spark, table).get(cell)
    new java.io.File(s"$table/cell=$cell/v=$v").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
  }

  test("mutualTopKPairs: driver-side recompute parity; mutuality; partition-invariant") {
    val k = 4
    val a = emb.filter($"vec_id" % 2 === 0)
    val b = emb.filter($"vec_id" % 2 === 1)
    val got = Similarity.mutualTopKPairs(a, b, k)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got.nonEmpty)
    // full recompute in plain Scala with the same fixed-point recipe
    val av = a.as[(Long, Array[Float])].collect()
    val bv = b.as[(Long, Array[Float])].collect()
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var (d, nx, ny) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
        i += 1
      }
      if (nx == 0.0 || ny == 0.0) 0.0 else d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val scores = for (x <- av; y <- bv) yield (x._1, y._1, cos(x._2, y._2))
    def fx(s: Double) = math.floor(s * 1073741824.0 + 0.5).toLong
    val topAB = scores.groupBy(_._1).view.mapValues(
      _.sortBy(t => (-t._3, t._2)).take(k).toSeq).toMap
    val topBA = scores.groupBy(_._2).view.mapValues(
      _.sortBy(t => (-t._3, t._1)).take(k).toSeq).toMap
    val sfa = topAB.view.mapValues(_.map(t => fx(t._3)).sum).toMap
    val sfb = topBA.view.mapValues(_.map(t => fx(t._3)).sum).toMap
    val want = (for {
      (va, rows) <- topAB.toSeq
      (_, vb, s) <- rows
      if topBA(vb).exists(_._1 == va)
    } yield (va, vb,
        math.rint(s * 1e4) / 1e4,
        math.rint(fx(s) * 2.0 * k / (sfa(va) + sfb(vb)) * 1e6) / 1e6)).toSet
    assert(got == want, s"sizes got=${got.size} want=${want.size}")
    // every emitted pair is mutual by construction; margins positive
    assert(got.forall(_._4 > 0.0))
    // partition invariance (fixed-point sums + deterministic ranks)
    val got2 = Similarity.mutualTopKPairs(a.repartition(9), b.repartition(5), k)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got2 == got)
  }

  test("bruteForceTopK: rank-1 is the query itself with score 1; ranks contiguous") {
    val top = Similarity.bruteForceTopK(emb, queries, 3)
      .as[(Long, Long, Int, Double)].collect()
    assert(top.length == 15)
    for (qid <- 0L until 5L) {
      val mine = top.filter(_._1 == qid).sortBy(_._3)
      assert(mine.map(_._3).toSeq == Seq(1, 2, 3))
      assert(mine.head._2 == qid) // self at rank 1
      assert(mine.head._4 == 1.0)
      assert(mine(0)._4 >= mine(1)._4 && mine(1)._4 >= mine(2)._4)
    }
  }

  test("bruteForceTopK matches driver-side exhaustive ranking") {
    val all = emb.as[(Long, Array[Float])].collect()
    val qs = queries.as[(Long, Array[Float])].collect()
    val got = Similarity.bruteForceTopK(emb, queries, 3)
      .as[(Long, Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    for ((qid, qv) <- qs) {
      val expected = all.map { case (id, e) => (id, CosineSimilarity.cosine(e, qv)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
      assert(got(qid) == expected, s"query $qid")
    }
  }

  test("broadcast hint present: corpus side does not shuffle") {
    val plan = Similarity.cosineScores(emb, queries).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("knnLabelNoise: planted mislabel flagged suspect, clean clusters pass; partition-invariant") {
    // two tight cosine clusters; m carries cluster-A's label but sits in
    // cluster B — the one row the audit must route to re-annotation
    val vecs = Seq(
      (1L, Array(1.00f, 0.01f), 0L), (2L, Array(0.99f, 0.02f), 0L),
      (3L, Array(1.00f, 0.03f), 0L),
      (10L, Array(0.01f, 1.00f), 1L), (11L, Array(0.02f, 0.98f), 1L),
      (12L, Array(0.03f, 0.97f), 1L),
      (99L, Array(0.01f, 0.99f), 0L) // mislabeled: A's label, B's region
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelNoise(vecs, 3)
      .select($"vec_id", $"n_disagree", $"suspect")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(99L)._2, "planted mislabel must be suspect")
    assert(got(99L)._1 == 3L, "all 3 neighbors of the mislabel disagree")
    for (id <- Seq(1L, 2L, 3L, 10L, 11L, 12L))
      assert(!got(id)._2, s"clean vector $id flagged suspect")
    // partition invariance (fixed-point ranks, integer counts)
    val re = Similarity.knnLabelNoise(vecs.repartition(7), 3)
      .select($"vec_id", $"n_disagree", $"suspect")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(re == got)
    // real-fixture sanity: every count in [0, k], disagree = n/k
    val fx = Similarity.knnLabelNoise(
        Tables.embeddings(spark, TestSpark.sf0001), 4)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(fx.nonEmpty)
    for ((_, _, n, frac, susp) <- fx) {
      assert(n >= 0 && n <= 4)
      assert(math.abs(frac - n / 4.0) < 1e-9)
      assert(susp == (n * 2 > 4))
    }
  }

  test("hardNegatives: same-label vectors never appear; ranking matches label-filtered exhaustive") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").cache()
    val q = Tables.embeddings(spark, TestSpark.sf0001).filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"),
        $"label".as("query_label")).cache()
    val got = Similarity.hardNegatives(e, q, 3)
      .as[(Long, Long, Int, Int, Double)].collect()
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val all = e.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val qs = q.select($"query_id", $"query_embedding").as[(Long, Array[Float])].collect()
    assert(got.length == 15)
    for ((qid, vid, lbl, _, _) <- got) {
      assert(lbl == labels(vid))
      assert(lbl != labels(qid), s"query $qid got same-label negative $vid")
    }
    for ((qid, qv) <- qs) {
      val expected = all.filter { case (id, _) => labels(id) != labels(qid) }
        .map { case (id, ev) => (id, CosineSimilarity.cosine(ev, qv)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
      val mine = got.filter(_._1 == qid).sortBy(_._4).map(_._2).toSeq
      assert(mine == expected, s"query $qid")
    }
    e.unpersist(); q.unpersist()
  }

  test("tripletMine: positive same-label non-self argmax, negative different-label argmax") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").cache()
    val q = Tables.embeddings(spark, TestSpark.sf0001).filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"),
        $"label".as("query_label")).cache()
    val got = Similarity.tripletMine(e, q)
      .as[(Long, Long, Double, Long, Double)].collect().map(r => r._1 -> r).toMap
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val all = e.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val qs = q.select($"query_id", $"query_embedding").as[(Long, Array[Float])].collect()
    for ((qid, qv) <- qs) {
      val (_, posId, _, negId, _) = got(qid)
      assert(labels(posId) == labels(qid) && posId != qid)
      assert(labels(negId) != labels(qid))
      def best(pred: Long => Boolean) =
        all.filter { case (id, _) => id != qid && pred(id) }
          .map { case (id, ev) => (id, CosineSimilarity.cosine(ev, qv)) }
          .sortBy { case (id, s) => (-s, id) }.head._1
      assert(posId == best(id => labels(id) == labels(qid)), s"pos for $qid")
      assert(negId == best(id => labels(id) != labels(qid)), s"neg for $qid")
    }
    e.unpersist(); q.unpersist()
  }

  test("centroidDrift: identical halves cos 1, opposed halves cos -1, counts per half") {
    def vec(scale: Float) = Array.tabulate(64)(i => (i + 1) * 0.01f * scale)
    val rows =
      // label 0: both halves identical distribution -> drift 1.0
      Seq((0L, vec(1f), 0), (1L, vec(1f), 0), (2L, vec(1f), 0), (3L, vec(1f), 0)) ++
      // label 1: half B is the negation -> drift -1.0
      Seq((10L, vec(1f), 1), (11L, vec(-1f), 1), (12L, vec(1f), 1), (13L, vec(-1f), 1))
    val e = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(e)
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(0) == ((0, 2L, 2L, 1.0)))
    assert(got(1) == ((1, 2L, 2L, -1.0)))
  }

  test("cosinePairs: symmetric-free (a<b), respects threshold") {
    val pairs = Similarity.cosinePairs(emb, 0.3).as[(Long, Long, Double)].collect()
    assert(pairs.forall(p => p._1 < p._2))
    assert(pairs.forall(_._3 >= 0.3))
  }

  test("ivfTopK: self retrieved at rank 1; results subset of probed-cell scoring") {
    val ivf = Similarity.ivfTopK(emb, queries, 3)
      .as[(Long, Long, Int, Double)].collect()
    val byQ = ivf.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet)
    for ((qid, rows) <- byQ) {
      val r1 = rows.minBy(_._3)
      assert(r1._2 == qid, s"query $qid should retrieve itself from its own cell")
      assert(r1._4 == 1.0)
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // deterministic across runs (fixed seed)
    val again = Similarity.ivfTopK(emb, queries, 3)
      .as[(Long, Long, Int, Double)].collect()
    assert(again.toSet == ivf.toSet)
  }

  test("lshNearDupPairs: subset of exact pairs, every pair satisfies threshold") {
    val exact = Similarity.cosinePairs(emb, 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val lsh = Similarity.lshNearDupPairs(emb, 0.3)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    for ((a, b, s) <- lsh) {
      assert(exact.contains((a, b)), s"($a,$b) not in exact set")
      assert(s >= 0.3 && math.abs(exact((a, b)) - s) < 1e-9)
    }
  }

  test("lshNearDupPairs: slim-shuffle formulation is row-identical to MLlib's approxSimilarityJoin") {
    // r19 optimization: the exploded self-join carries (table, bucket,
    // vec_id) instead of MLlib's full-struct rows. This pins the rewrite
    // to the original formulation — same candidate buckets, same strict
    // keyDistance radius, same scores — so the q34 gate (pair-set
    // jaccard) cannot drift.
    import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, Normalizer}
    import org.apache.spark.ml.functions.array_to_vector
    val threshold = 0.3
    val radius = math.sqrt(math.max(2.0 - 2.0 * threshold, 0.0)) + 1e-9
    // independent recompute of the operator's normalization recipe
    val ni = new Normalizer().setInputCol("vec").setOutputCol("nvec").setP(2.0)
      .transform(emb.withColumn("vec",
        array_to_vector($"embedding".cast("array<double>"))))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("nvec").setOutputCol("hashes")
      .setBucketLength(0.5).setNumHashTables(6).setSeed(42L)
    val want = lsh.fit(ni).approxSimilarityJoin(ni, ni, radius, "l2dist")
      .filter($"datasetA.vec_id" < $"datasetB.vec_id")
      .select($"datasetA.vec_id".as("vec_a"), $"datasetB.vec_id".as("vec_b"),
        $"datasetA.embedding".as("ea"), $"datasetB.embedding".as("eb"))
      .withColumn("score",
        graft.GraftFunctions.cosine_similarity($"ea", $"eb"))
      .filter($"score" >= threshold)
      .select($"vec_a", $"vec_b", round($"score", 4).as("score"))
      .distinct()
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val got = Similarity.lshNearDupPairs(emb, threshold)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  // ---- quantitative recall gates: approximate paths vs the exact baseline —
  // a recall regression (bad bucket width, broken banding, degenerate cells)
  // fails red here instead of silently degrading result quality.

  private def embAt(sf: String) = Tables.embeddings(spark, sf)
    .select("vec_id", "embedding")
  private def queriesAt(sf: String) = Tables.embeddings(spark, sf)
    .filter($"vec_id" < 5)
    .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))

  private def topkIds(rows: Array[(Long, Long, Int, Double)]): Map[Long, Set[Long]] =
    rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def meanRecall(approx: Map[Long, Set[Long]],
                         exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
    per.sum / per.size
  }

  for (sf <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
    val tag = sf.split('/').last
    test(s"recall@3 gate [$tag]: lshTopK and ivfTopK >= 0.9 vs bruteForceTopK") {
      val e = embAt(sf).cache()
      val q = queriesAt(sf).cache()
      val exact = topkIds(Similarity.bruteForceTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val lsh = topkIds(Similarity.lshTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val ivf = topkIds(Similarity.ivfTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val rp = topkIds(Similarity.rpTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val sq = topkIds(Similarity.sqTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val bq = topkIds(Similarity.bqTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val rpsq = topkIds(Similarity.rpSqTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val divf = topkIds(Similarity.detIvfTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val pq = topkIds(Similarity.pqTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val ivfpq = topkIds(Similarity.ivfPqTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val ivfpqr = topkIds(Similarity.ivfPqResidualTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val lshR = meanRecall(lsh, exact)
      val ivfR = meanRecall(ivf, exact)
      val rpR = meanRecall(rp, exact)
      val sqR = meanRecall(sq, exact)
      val bqR = meanRecall(bq, exact)
      val rpsqR = meanRecall(rpsq, exact)
      assert(lshR >= 0.9, s"lshTopK recall@3 = $lshR < 0.9")
      assert(ivfR >= 0.9, s"ivfTopK recall@3 = $ivfR < 0.9")
      assert(rpR >= 0.9, s"rpTopK recall@3 = $rpR < 0.9")
      assert(sqR >= 0.9, s"sqTopK recall@3 = $sqR < 0.9")
      assert(bqR >= 0.9, s"bqTopK recall@3 = $bqR < 0.9")
      assert(rpsqR >= 0.9, s"rpSqTopK recall@3 = $rpsqR < 0.9")
      val divfR = meanRecall(divf, exact)
      assert(divfR >= 0.9, s"detIvfTopK recall@3 = $divfR < 0.9")
      // multi-probe recall is monotone vs rpTopK: superset candidates,
      // exact scoring -> per-query recall can only improve
      val mp = topkIds(Similarity.rpTopKMultiProbe(e, q, 3)
        .as[(Long, Long, Int, Double)].collect())
      val mpR = meanRecall(mp, exact)
      assert(mpR >= rpR, s"multi-probe recall $mpR < single-probe $rpR")
      assert(mpR >= 0.9, s"rpTopKMultiProbe recall@3 = $mpR < 0.9")
      val pqR = meanRecall(pq, exact)
      assert(pqR >= 0.9, s"pqTopK recall@3 = $pqR < 0.9")
      val ivfpqR = meanRecall(ivfpq, exact)
      assert(ivfpqR >= 0.9, s"ivfPqTopK recall@3 = $ivfpqR < 0.9")
      val ivfpqrR = meanRecall(ivfpqr, exact)
      assert(ivfpqrR >= 0.9, s"ivfPqResidualTopK recall@3 = $ivfpqrR < 0.9")
      e.unpersist(); q.unpersist()
    }

    test(s"detKMeans [$tag]: run-to-run identical; assignments are the argmin of the final centroids") {
      val e = embAt(sf).cache()
      val (c1, a1) = Similarity.detKMeans(e, 8, 3)
      val (c2, a2) = Similarity.detKMeans(e, 8, 3)
      // no RNG, fixed-point means: two builds are bit-identical
      assert(c1.map { case (i, c) => (i, c.toSeq) } ==
             c2.map { case (i, c) => (i, c.toSeq) })
      val m1 = a1.as[(Long, Int)].collect().toMap
      assert(m1 == a2.as[(Long, Int)].collect().toMap)
      assert(m1.size == e.count())
      assert(m1.values.toSet.subsetOf((0 until 8).toSet))
      // driver-side argmin over the final centroids reproduces every cell
      val vecs = e.as[(Long, Array[Float])].collect()
      for ((vid, emb0) <- vecs.take(50)) {
        val nrm = math.sqrt(emb0.map(x => x.toDouble * x.toDouble).sum)
        val nv = if (nrm == 0.0) emb0.map(_.toDouble)
                 else emb0.map(_.toDouble / nrm)
        val best = c1.sortBy(_._1).minBy { case (_, c) =>
          nv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
        }._1
        assert(m1(vid) == best, s"vec $vid assigned ${m1(vid)}, argmin $best")
      }
      e.unpersist()
    }

    test(s"composite rp+sq [$tag]: candidates from the coarse stage, scores from the int8 stage") {
      val e = embAt(sf).cache()
      val q = queriesAt(sf).cache()
      // every composite hit must also be an rp candidate (same coarse
      // stage as rpTopK at a much larger k bound)...
      val rpAll = topkIds(Similarity.rpTopK(e, q, 1000)
        .as[(Long, Long, Int, Double)].collect())
      val got = Similarity.rpSqTopK(e, q, 3)
        .as[(Long, Long, Int, Double)].collect()
      for ((qid, vid, _, _) <- got)
        assert(rpAll(qid).contains(vid), s"($qid,$vid) not an rp candidate")
      // ...and carry the int8 score sqTopK computes for the same pair
      val sqScores = Similarity.sqTopK(e, q, 1000)
        .as[(Long, Long, Int, Double)].collect()
        .map(r => (r._1, r._2) -> r._4).toMap
      for ((qid, vid, _, s) <- got)
        assert(sqScores((qid, vid)) == s, s"score mismatch at ($qid,$vid)")
      e.unpersist(); q.unpersist()
    }

    test(s"pair-recall gate [$tag]: lshNearDupPairs and rpNearDupPairs >= 0.9 vs cosinePairs") {
      val e = embAt(sf).cache()
      val exact = Similarity.cosinePairs(e, 0.3)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val lsh = Similarity.lshNearDupPairs(e, 0.3)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val rp = Similarity.rpNearDupPairs(e, 0.3)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      assert(exact.nonEmpty, "baseline produced no pairs — gate vacuous")
      val recall = lsh.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.9, s"lshNearDupPairs pair-recall = $recall < 0.9")
      // symmetric Jaccard overlap: bounds false POSITIVES too (recall alone
      // would pass a generator that emits every pair) — the q34 evidence
      // gate, since the MLlib path is rows-only at the driver's oracle
      val lshJac = lsh.intersect(exact).size.toDouble / lsh.union(exact).size
      assert(lshJac >= 0.9, s"lshNearDupPairs pair-set Jaccard = $lshJac < 0.9")
      assert(rp.subsetOf(exact), "rp pairs must be exactly verified")
      val rpRecall = rp.intersect(exact).size.toDouble / exact.size
      assert(rpRecall >= 0.9, s"rpNearDupPairs pair-recall = $rpRecall < 0.9")
      e.unpersist()
    }
  }

  test("rpCrossNearDupPairs: subset of the exact cross pairs, recall >= 0.9, no intra-side pairs") {
    val e = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val newSide = e.filter($"vec_id" % 10 === 0)
    val oldSide = e.filter($"vec_id" % 10 =!= 0)
    // exact cross baseline, driver-side
    val nv = newSide.as[(Long, Array[Float])].collect()
    val ov = oldSide.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double =
      CosineSimilarity.cosine(a, b)
    val exact = (for ((ni, nvv) <- nv; (oi, ovv) <- ov if cos(nvv, ovv) >= 0.3)
      yield (ni, oi)).toSet
    val got = Similarity.rpCrossNearDupPairs(newSide, oldSide, 0.3)
      .select("vec_new", "vec_old").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "baseline produced no pairs — gate vacuous")
    assert(got.subsetOf(exact), "every returned pair must be exactly verified")
    assert(got.forall { case (n, o) => n % 10 == 0 && o % 10 != 0 })
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"cross pair-recall = $recall < 0.9")
  }

  test("IvfIndex save/load roundtrip: persisted index probes identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    val built = Similarity.ivfIndex(emb, 8)
    built.save(dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val a = Similarity.ivfProbe(built, queries, 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    val b = Similarity.ivfProbe(loaded, queries, 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
    // cell-partitioned layout: a per-cell read prunes partitions
    val pruned = loaded.assignments.filter($"cell" === 0)
    // pinned: a non-empty PartitionFilters entry on cell; the redundant
    // isnotnull conjunct comes and goes with optimizer session state
    val pp = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell#\\d+".r.findFirstIn(pp).isDefined, pp)
  }

  test("sq index roundtrip: saved+loaded index probes identically to direct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sq").toString
    val idx = Similarity.sqIndex(emb)
    Similarity.saveSqIndex(idx, dir)
    val loaded = Similarity.loadSqIndex(spark, dir)
    val a = Similarity.sqProbe(idx, queries, 3)
      .collect().map(_.toString).sorted
    val b = Similarity.sqProbe(loaded, queries, 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(a.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("upsertIvf: assignCells reproduces the fitted model's cells; removed-then-upserted delta probes identically") {
    val full = Similarity.ivfIndex(emb, 8)
    // the frozen-centroid assignment rule must reproduce what the fitted
    // KMeans model itself assigned (same centroids, same argmin-Euclidean)
    val re = Similarity.assignCells(emb, full.centroids)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val orig = full.assignments.select($"vec_id", $"cell")
      .as[(Long, Int)].collect().toMap
    assert(re == orig, "assignCells diverges from the model's own assignment")
    // remove a slice, upsert it back with frozen centroids: the index is
    // bit-for-bit restored, so any probe is identical
    val delta = emb.filter($"vec_id" % 5 === 0)
    val partial = Similarity.IvfIndex(
      full.assignments.join(delta.select("vec_id"), Seq("vec_id"), "left_anti"),
      full.centroids)
    val upserted = Similarity.upsertIvf(partial, delta)
    val a = Similarity.ivfProbe(full, queries, 3).collect().map(_.toString).sorted
    val b = Similarity.ivfProbe(upserted, queries, 3).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("upsertSq / upsertBq: upserting a delta equals a full rebuild") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val delta = emb.filter($"vec_id" % 5 === 0)
    val sqUp = Similarity.upsertSq(Similarity.sqIndex(base), delta)
    val sqFull = Similarity.sqIndex(emb)
    assert(Similarity.sqProbe(sqUp, queries, 3).collect().map(_.toString).sorted
      .sameElements(Similarity.sqProbe(sqFull, queries, 3).collect().map(_.toString).sorted))
    val bqUp = Similarity.upsertBq(Similarity.bqIndex(base), delta)
    val bqFull = Similarity.bqIndex(emb)
    // per-vector encodings: the upserted index equals the rebuild row-for-row
    assert(bqUp.collect().map(_.toString).sorted
      .sameElements(bqFull.collect().map(_.toString).sorted))
    assert(bqUp.count() == emb.count())
  }

  test("upsertIvfAt: persisted upsert rewrites only the touched cell partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-up").toString + "/idx"
    val built = Similarity.ivfIndex(emb, 8)
    built.save(dir)
    def partFiles(): Map[String, Set[String]] = {
      // the SERVING snapshot per cell: manifest-pinned version dirs (the
      // versioned cell store keeps the replaced version for in-flight
      // readers, so a raw dir listing would see both)
      val man = graft.operators.CellStore
        .manifest(spark, s"$dir/assignments").get
      man.map { case (c, v) =>
        s"cell=$c" -> new java.io.File(s"$dir/assignments/cell=$c/v=$v")
          .listFiles().map(_.getName).toSet
      }
    }
    val before = partFiles()
    // a 2-vector replace-by-id delta: same ids, same embeddings — probe
    // must be unchanged, and only its cells' partitions may be rewritten
    val delta = emb.filter($"vec_id".isin(1L, 2L))
    val touched = Similarity.assignCells(delta, built.centroids)
      .select($"cell").as[Int].collect().toSet.map((c: Int) => s"cell=$c")
    assert(touched.size < before.size, "fixture must leave untouched cells")
    Similarity.upsertIvfAt(spark, dir, delta)
    val after = partFiles()
    for ((cell, files) <- before if !touched.contains(cell))
      assert(after(cell) == files, s"untouched partition $cell was rewritten")
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.assignments.count() == emb.count(), "replace-by-id must not duplicate ids")
    val a = Similarity.ivfProbe(built, queries, 3).collect().map(_.toString).sorted
    val b = Similarity.ivfProbe(loaded, queries, 3).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("upsertIvfAt: a delta whose new embedding moves to a DIFFERENT cell replaces the stale row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-mv").toString + "/idx"
    val built = Similarity.ivfIndex(emb, 8)
    built.save(dir)
    val cellOf = built.assignments.select($"vec_id", $"cell")
      .as[(Long, Int)].collect().toMap
    // pick a donor id living in a different cell than vec 1, and give vec 1
    // the donor's embedding — the re-assigned delta lands in the donor's
    // cell, while vec 1's stale row sits in its OLD cell's partition
    val donor = cellOf.find { case (id, c) => id != 1L && c != cellOf(1L) }.get._1
    val donorEmb = emb.filter($"vec_id" === donor)
      .select($"embedding").as[Array[Float]].head()
    val delta = Seq((1L, donorEmb)).toDF("vec_id", "embedding")
    Similarity.upsertIvfAt(spark, dir, delta)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    // replace-by-id: total count constant, exactly ONE row for the id, and
    // it lives in the donor's cell — the old cell holds no stale duplicate
    assert(loaded.assignments.count() == emb.count(), "stale row left in the old cell")
    val rows = loaded.assignments.filter($"vec_id" === 1L)
      .select($"cell").as[Int].collect()
    assert(rows.toSeq == Seq(cellOf(donor)), s"expected one row in cell ${cellOf(donor)}, got ${rows.toSeq}")
    // and the persisted result equals the (globally anti-joining) in-memory form
    val mem = Similarity.upsertIvf(built, delta)
    val a = mem.assignments.select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val b = loaded.assignments.select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    assert(a == b)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("detKMeans: invariant to input partitioning and row order (fixed-point means)") {
    val (c1, a1) = Similarity.detKMeans(emb, 8, 3)
    // different partition count AND reversed within-partition order: f64
    // summation order would flip low bits here; integer fixed-point cannot
    val shuffled = emb.repartition(7).sortWithinPartitions(desc("vec_id"))
    val (c2, a2) = Similarity.detKMeans(shuffled, 8, 3)
    assert(c1.map { case (i, c) => (i, c.toSeq) } ==
           c2.map { case (i, c) => (i, c.toSeq) })
    assert(a1.as[(Long, Int)].collect().toMap == a2.as[(Long, Int)].collect().toMap)
  }

  test("detIvfIndex: bit-identical rebuilds; save/load/probe/upsert reuse the IVF machinery") {
    val dir = java.nio.file.Files.createTempDirectory("graft-divf").toString + "/idx"
    val built = Similarity.detIvfIndex(emb, 8)
    built.save(dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val a = Similarity.ivfProbe(built, queries, 3).collect().map(_.toString).sorted
    val b = Similarity.ivfProbe(loaded, queries, 3).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    // two independent builds are bit-identical (assignments AND centroids)
    val again = Similarity.detIvfIndex(emb, 8)
    assert(again.centroids.collect().map(_.toString).sorted
      .sameElements(built.centroids.collect().map(_.toString).sorted))
    // incremental maintenance applies unchanged: remove + upsert restores
    val delta = emb.filter($"vec_id" % 7 === 0)
    val partial = Similarity.IvfIndex(
      built.assignments.join(delta.select("vec_id"), Seq("vec_id"), "left_anti"),
      built.centroids)
    val upserted = Similarity.upsertIvf(partial, delta)
    val c = Similarity.ivfProbe(upserted, queries, 3).collect().map(_.toString).sorted
    assert(c.sameElements(a))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("ensurePersistedDetIvf: two-wave persisted lifecycle equals the in-memory twin; build-once") {
    val dir = Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q261)
    val g = Similarity.resolveIndexDir(spark, dir)
    val loaded = Similarity.loadIvfAt(spark, dir)
    // the saved index carries BOTH waves (fit wave + upserted wave)
    assert(loaded.assignments.count() == emb.count())
    assert(loaded.assignments.filter($"vec_id" % 2 === 1).count() ==
      emb.filter($"vec_id" % 2 === 1).count())
    // probe-from-storage equals the same lifecycle run in memory:
    // detIvfIndex on the even wave (with centroids f32-rounded, as save()
    // persists them) + upsertIvf of the odd wave
    val w0 = emb.filter($"vec_id" % 2 === 0)
    val w1 = emb.filter($"vec_id" % 2 === 1)
    val mem = Similarity.upsertIvf(Similarity.detIvfIndex(w0, 8), w1)
    val a = Similarity.ivfProbe(loaded, queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted
    val b = Similarity.ivfProbe(mem, queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    // build-once: a repeat ensure returns the same path and leaves the
    // stored assignment files untouched (marker short-circuit)
    val files = new java.io.File(s"$g/assignments").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    assert(Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q261) == dir)
    val after = new java.io.File(s"$g/assignments").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    assert(after == files)
  }

  test("lifecycle table: every declared store has its own cache dir, and a copy differing in any one field maps elsewhere") {
    import Similarity._
    // every declared value, found by reflection so a new one is covered
    val declared = Lifecycle.getClass.getMethods.toSeq
      .filter(m => m.getReturnType == classOf[Lifecycle] &&
        m.getParameterCount == 0 && m.getName.matches("q\\d+"))
      .map(m => m.getName -> m.invoke(Lifecycle).asInstanceOf[Lifecycle])
    assert(declared.size == 14, declared.map(_._1).sorted)
    val src = Seq(s"${TestSpark.sf0001}/embeddings.parquet")
    def dirOf(lc: Lifecycle) = TmpCache.dir(spark,
      lc.codec.productPrefix.toLowerCase, lc.toString, src)
    // the scaffold keys ensurePersisted's store by exactly this rendering
    assert(ensurePersisted(spark, emb, TestSpark.sf0001, Lifecycle.q261) ==
      dirOf(Lifecycle.q261) + "/index")
    val dirs = declared.map { case (_, lc) => dirOf(lc) }
    assert(dirs.distinct.size == dirs.size, declared)
    def codecEdits(c: Codec): Seq[Codec] = c match {
      case DetIvf(n, i) => Seq(DetIvf(n + 1, i), DetIvf(n, i + 1), Sq)
      case IvfPq(n, k, m, q, p) => Seq(IvfPq(n + 1, k, m, q, p),
        IvfPq(n, k + 1, m, q, p), IvfPq(n, k, m + 1, q, p),
        IvfPq(n, k, m, q + 1, p), IvfPq(n, k, m, q, p + 1), DetIvf(n, k))
      case Sq => Seq(Bq(63))
      case Bq(b) => Seq(Bq(b + 1), Sq)
    }
    def stepEdits(st: Step): Seq[Step] = st match {
      case Upsert(m, r) => Seq(Upsert(m + 1, r), Upsert(m, r + 1), Delete(m, r))
      case Delete(m, r) => Seq(Delete(m + 1, r), Delete(m, r + 1), Upsert(m, r))
      case Retrain => Seq(Compact)
      case Compact => Seq(Retrain)
      case SplitHottest => Seq(Retrain)
    }
    declared.foreach { case (name, lc) =>
      val copies = codecEdits(lc.codec).map(c => Lifecycle(c, lc.steps: _*)) ++
        lc.steps.indices.flatMap { i =>
          stepEdits(lc.steps(i)).map(v => Lifecycle(lc.codec, lc.steps.updated(i, v): _*)) :+
            Lifecycle(lc.codec, lc.steps.patch(i, Nil, 1): _*)
        }
      copies.foreach(c => assert(dirOf(c) != dirOf(lc), s"$name vs $c"))
    }
    // equal values render (and so key) equally however their steps were built
    assert(dirOf(Lifecycle(DetIvf(8, 3), List(Upsert(2, 1)): _*)) ==
      dirOf(Lifecycle.q261))
  }

  test("ensurePersistedSq (q290): two-wave persisted codes equal a one-shot full-corpus encode; build-once") {
    val dir = Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q290)
    val g = Similarity.resolveIndexDir(spark, dir)
    val loaded = Similarity.loadSqIndex(spark, g)
    // the upsert contract THROUGH storage: wave-0-save + wave-1-upsert
    // codes equal a fresh one-shot encode of the full corpus
    def codeMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Byte], Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val oneShot = codeMap(Similarity.sqIndex(emb))
    assert(codeMap(loaded) == oneShot)
    // probe from storage only (integer-dot cosine over stored codes)
    val a = Similarity.sqProbe(loaded, queries, 3).collect().map(_.toString).sorted
    val b = Similarity.sqTopK(emb, queries, 3).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    // build-once: marker short-circuit leaves the stored files untouched
    val files = new java.io.File(g).listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    assert(Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q290) == dir)
    assert(new java.io.File(g).listFiles()
      .map(f => (f.getName, f.lastModified)).toSet == files)
  }

  test("ensurePersistedBq (q291): two-wave persisted sign codes equal a one-shot encode; probe parity; build-once") {
    val dir = Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q291)
    val loaded = Similarity.loadBqIndex(
      spark, Similarity.resolveIndexDir(spark, dir))
    val oneShot = Similarity.bqIndex(emb).as[(Long, Long)].collect().toMap
    assert(loaded.as[(Long, Long)].collect().toMap == oneShot)
    val a = Similarity.bqProbe(loaded, emb, queries, 3)
      .collect().map(_.toString).sorted
    val b = Similarity.bqTopK(emb, queries, 3).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    assert(Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q291) == dir)
  }

  test("compactIvfAt + ivfCellStats (q296/q297): multi-upsert fragmentation observed, compaction to one file per cell, probes byte-identical") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfmnt").toString + "/idx"
    // fit on the even wave, then two separate upsert waves — each appends
    // its own file generation into the touched cell partitions
    Similarity.detIvfIndex(emb.filter($"vec_id" % 2 === 0), 8).save(dir)
    Similarity.upsertIvfAt(spark, dir, emb.filter($"vec_id" % 4 === 1))
    Similarity.upsertIvfAt(spark, dir, emb.filter($"vec_id" % 4 === 3))
    val before = Similarity.ivfCellStats(spark, dir).collect()
    assert(before.nonEmpty)
    // the monitor sees the fragmentation a compactor exists to fix
    assert(before.exists(_.getAs[Int]("n_files") > 1),
      "multi-wave upserts must leave multi-file cells for the monitor to report")
    // shares sum to 1 and counts cover the corpus
    assert(before.map(_.getAs[Long]("n_vectors")).sum == emb.count())
    val probeBefore = Similarity.ivfProbe(
      Similarity.loadIvfAt(spark, dir), queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted
    // a reader loaded BEFORE the compaction keeps serving: the compacted
    // table lands as a NEW generation and the old files are retained
    // (pruneGens keep=2), so this pre-flip plan stays readable mid-swap
    val preFlip = Similarity.loadIvfAt(spark, dir)
    Similarity.compactIvfAt(spark, dir)
    val after = Similarity.ivfCellStats(spark, dir).collect()
    // one file per cell, content untouched (counts AND probe results)
    assert(after.forall(_.getAs[Int]("n_files") == 1),
      s"compaction must leave one file per cell: ${after.mkString(",")}")
    assert(after.map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_vectors"))).toSeq.sorted ==
      before.map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_vectors"))).toSeq.sorted)
    val probeAfter = Similarity.ivfProbe(
      Similarity.loadIvfAt(spark, dir), queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted
    assert(probeAfter.sameElements(probeBefore) && probeAfter.nonEmpty)
    // the pointer flipped to a generation dir; the pre-flip reader's scan
    // still answers (zero-downtime: no live table was deleted under it)
    assert(Similarity.currentGen(spark, dir).nonEmpty)
    assert(Similarity.ivfProbe(preFlip, queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted.sameElements(probeBefore))
    FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
  }

  test("deleteSqAt/deleteBqAt/deletePqAt (q293-q295): quantized erasure — codes physically purged, probes never return deleted ids, empty-index refused") {
    import org.apache.commons.io.FileUtils
    val toDelete = emb.filter($"vec_id" % 5 === 3).select("vec_id")
    val delIds = toDelete.as[Long].collect().toSet
    assert(delIds.nonEmpty)
    // SQ8: purge, then the stored table equals a fresh encode of survivors
    val sqDir = java.nio.file.Files.createTempDirectory("graft_sqdel").toString + "/idx"
    Similarity.saveSqIndex(Similarity.sqIndex(emb), sqDir)
    Similarity.deleteSqAt(spark, sqDir, toDelete)
    val sqLoaded = Similarity.loadSqIndex(spark, sqDir)
    assert(sqLoaded.filter($"vec_id".isin(delIds.toSeq: _*)).count() == 0)
    val sqFresh = Similarity.sqIndex(emb.filter($"vec_id" % 5 =!= 3))
    assert(sqLoaded.count() == sqFresh.count())
    val sqHits = Similarity.sqProbe(sqLoaded, queries, 3)
      .select("vec_id").as[Long].collect().toSet
    assert(sqHits.nonEmpty && sqHits.intersect(delIds).isEmpty)
    // a delete of EVERYTHING is refused, and the index stays loadable
    intercept[IllegalArgumentException](
      Similarity.deleteSqAt(spark, sqDir, emb.select("vec_id")))
    assert(Similarity.loadSqIndex(spark, sqDir).count() == sqFresh.count())
    FileUtils.deleteQuietly(new java.io.File(sqDir).getParentFile)
    // BQ: purge, Hamming shortlist can only see survivors
    val bqDir = java.nio.file.Files.createTempDirectory("graft_bqdel").toString + "/idx"
    Similarity.saveBqIndex(Similarity.bqIndex(emb), bqDir)
    Similarity.deleteBqAt(spark, bqDir, toDelete)
    val bqLoaded = Similarity.loadBqIndex(spark, bqDir)
    assert(bqLoaded.filter($"vec_id".isin(delIds.toSeq: _*)).count() == 0)
    val bqHits = Similarity.bqProbe(bqLoaded, emb, queries, 3)
      .select("vec_id").as[Long].collect().toSet
    assert(bqHits.nonEmpty && bqHits.intersect(delIds).isEmpty)
    FileUtils.deleteQuietly(new java.io.File(bqDir).getParentFile)
    // PQ: codes purged from the CELL-PARTITIONED store (the IVFADC
    // layout), codebooks untouched (frozen trained state), and the
    // rewrite is partition-pruned — cells holding no deleted id keep
    // their files byte-for-byte
    val pqDir = java.nio.file.Files.createTempDirectory("graft_pqdel").toString + "/idx"
    val coarseForPq = Similarity.detIvfIndex(emb, 8)
    Similarity.savePqCellPartitioned(
      withCells(Similarity.pqIndex(emb), coarseForPq.assignments), pqDir)
    val bookStamp = new java.io.File(s"$pqDir/codebooks").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    val delCells = coarseForPq.assignments
      .join(toDelete, Seq("vec_id")).select("cell")
      .as[Int].collect().toSet
    val untouchedCells = coarseForPq.assignments.select("cell").distinct()
      .as[Int].collect().toSet -- delCells
    val untouchedStamp = untouchedCells.map(c =>
      c -> servingCellStamp(s"$pqDir/codes", c)).toMap
    Similarity.deletePqAt(spark, pqDir, toDelete)
    val pqLoaded = Similarity.loadPqIndex(spark, pqDir)
    assert(pqLoaded.codes.columns.contains("cell"))
    assert(pqLoaded.codes.filter($"vec_id".isin(delIds.toSeq: _*)).count() == 0)
    assert(pqLoaded.codes.count() == emb.count() - delIds.size)
    assert(new java.io.File(s"$pqDir/codebooks").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet == bookStamp,
      "codebooks must not be rewritten by a codes delete")
    untouchedStamp.foreach { case (c, stamp) =>
      assert(servingCellStamp(s"$pqDir/codes", c) == stamp,
        s"codes cell $c rewritten by a delete that touched no id in it")
    }
    FileUtils.deleteQuietly(new java.io.File(pqDir).getParentFile)
  }

  test("deleteIvfAt (q287): erasure leg — deleted ids unretrievable, untouched cells unrewritten, emptied cells removed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfdel").toString + "/idx"
    Similarity.detIvfIndex(emb, 8).save(dir)
    val before = Similarity.loadIvfIndex(spark, dir)
    val nBefore = before.assignments.count()
    // pick one whole cell to ERASE (the emptied-partition edge: dynamic
    // overwrite alone would leave its stale rows serving) plus a few ids
    // from another cell (the partial-rewrite path)
    val cells = before.assignments.select("cell", "vec_id").collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    val (wholeCell, wholeIds) = cells.head
    val (otherCell, otherIds) = cells.find(_._1 != wholeCell).get
    val untouched = cells.keys.filterNot(c => c == wholeCell || c == otherCell)
    val untouchedStamp = untouched.map(c =>
      c -> servingCellStamp(s"$dir/assignments", c)).toMap
    val toDelete = wholeIds ++ otherIds.take(2)
    import spark.implicits._
    Similarity.deleteIvfAt(spark, dir, toDelete.toSeq.toDF("vec_id"))
    val after = Similarity.loadIvfIndex(spark, dir)
    assert(after.assignments.count() == nBefore - toDelete.size)
    // deleted ids are GONE from the stored table...
    assert(after.assignments.join(toDelete.toSeq.toDF("vec_id"), Seq("vec_id"))
      .count() == 0)
    // ...the emptied cell is dropped from the serving manifest (its old
    // version dir stays on disk for in-flight readers — the reader-safe
    // twin of the old explicit dir removal)...
    assert(!graft.operators.CellStore
      .manifest(spark, s"$dir/assignments").get.contains(wholeCell))
    assert(after.assignments.filter($"cell" === wholeCell).count() == 0)
    // ...untouched cell partitions were not rewritten (partition-pruned)...
    untouchedStamp.foreach { case (c, stamp) =>
      assert(servingCellStamp(s"$dir/assignments", c) == stamp,
        s"cell $c rewritten")
    }
    // ...and a probe from storage never returns a deleted id
    val hits = Similarity.ivfProbe(after, queries, 3, nProbe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(hits.nonEmpty && hits.intersect(toDelete.toSet).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("ensurePersistedIvfPq (q282): frozen-codebook two-wave lifecycle; probe from storage only; build-once") {
    val dir = Similarity.ensurePersistedIvfPq(spark, emb, TestSpark.sf0001)
    val g = Similarity.resolveIndexDir(spark, dir)
    val (coarse, pq) = Similarity.loadIvfPqAt(spark, dir)
    // both saved artifacts carry BOTH waves (fit wave + upserted wave)...
    assert(coarse.assignments.count() == emb.count())
    assert(pq.codes.count() == emb.count())
    // ...but the codebooks are the WAVE-0 fit, frozen: bit-identical to an
    // in-memory fit on the even wave alone (no drift from the wave-1 upsert)
    val w0 = emb.filter($"vec_id" % 2 === 0)
    assert(pq.codes.select("codes").head().getSeq[Int](0).size == pq.m)
    assert(pq.codebooks.map(_.map(_.toSeq)) ==
      Similarity.pqIndex(w0).codebooks.map(_.map(_.toSeq)))
    // the wave-1 codes equal a fresh encode against the frozen books
    // (upsertPq's contract), so probing the persisted pair reproduces the
    // same lifecycle run in memory against the LOADED coarse index
    val w1 = emb.filter($"vec_id" % 2 === 1)
    val memPq = Similarity.upsertPq(Similarity.pqIndex(w0), w1)
    val a = Similarity.ivfPqProbe(coarse, pq, queries, 3)
      .collect().map(_.toString).sorted
    val b = Similarity.ivfPqProbe(coarse, memPq, queries, 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    // serving sanity on the stored-files-only path: each corpus-member
    // query retrieves itself at rank 1 with cosine 1.0
    val self = Similarity.ivfPqProbe(coarse, pq, queries, 3)
      .filter($"rnk" === 1).select("query_id", "vec_id", "score")
      .as[(Long, Long, Double)].collect()
    assert(self.nonEmpty && self.forall(r => r._1 == r._2 && r._3 == 1.0))
    // build-once: a repeat ensure returns the same path, codes untouched
    val files = new java.io.File(s"$g/pq/codes").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    assert(Similarity.ensurePersistedIvfPq(spark, emb, TestSpark.sf0001) == dir)
    assert(new java.io.File(s"$g/pq/codes").listFiles()
      .map(f => (f.getName, f.lastModified)).toSet == files)
  }

  test("retrainIvfAt (q301): refit lands as a NEW generation; a concurrent reader keeps serving the old one across the flip") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfrtr").toString + "/idx"
    // q261's lifecycle: wave-0 fit, wave-1 upsert against frozen centroids
    val w0 = emb.filter($"vec_id" % 2 === 0)
    Similarity.detIvfIndex(w0, 8).save(dir)
    Similarity.upsertIvfAt(spark, dir, emb.filter($"vec_id" % 2 === 1))
    val centsBefore = spark.read.parquet(s"$dir/centroids")
      .collect().map(_.toString).sorted
    // a PRE-RETRAIN reader: loads (and probes once) before the swap, then
    // probes again WHILE the new generation is live — it must keep
    // answering from its resolved (old) tables, which the swap never
    // deletes (the legacy dir stays; gen swaps retain keep=2 gens)
    val preFlip = Similarity.loadIvfAt(spark, dir)
    val preProbe = Similarity.ivfProbe(preFlip, queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted
    Similarity.retrainIvfAt(spark, dir)
    // the retrained generation equals a from-scratch deterministic fit on
    // the FULL corpus — both the saved centroids and every assignment —
    // and readers reach it ONLY through the flipped _GEN pointer
    val fresh = Similarity.detIvfIndex(emb, 8)
    val g = Similarity.resolveIndexDir(spark, dir)
    assert(g != dir && Similarity.currentGen(spark, dir).nonEmpty,
      "retrain must land behind the generation pointer")
    val centsAfter = spark.read.parquet(s"$g/centroids")
      .collect().map(_.toString).sorted
    assert(centsAfter.sameElements(
      fresh.centroids.collect().map(_.toString).sorted))
    // geometry genuinely moved: the frozen wave-0 fit is not the
    // full-corpus fit (otherwise this test proves nothing)
    assert(!centsAfter.sameElements(centsBefore))
    val loaded = Similarity.loadIvfAt(spark, dir)
    assert(loaded.assignments.select("vec_id", "cell").collect().map(_.toString).sorted
      .sameElements(fresh.assignments.select("vec_id", "cell")
        .collect().map(_.toString).sorted))
    // zero-downtime: the pre-flip reader still probes its old generation
    assert(Similarity.ivfProbe(preFlip, queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted.sameElements(preProbe))
    // crash-before-flip convergence: plant a PARTIAL next generation
    // (what a crashed retrain leaves) — the retried call must clear it
    // and rebuild, never serve it
    val partial = s"$dir/gen=${Similarity.currentGen(spark, dir).get + 1}"
    new java.io.File(s"$partial/assignments").mkdirs()
    Similarity.retrainIvfAt(spark, dir)
    val healed = Similarity.loadIvfAt(spark, dir)
    assert(healed.centroids.collect().map(_.toString).sorted
      .sameElements(centsAfter))
    assert(healed.assignments.count() == emb.count())
    FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
  }

  test("zero-downtime: probes running CONCURRENTLY with a retrain swap never fail and always see one complete generation") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfzdt").toString + "/idx"
    val w0 = emb.filter($"vec_id" % 2 === 0)
    Similarity.detIvfIndex(w0, 8).save(dir)
    Similarity.upsertIvfAt(spark, dir, emb.filter($"vec_id" % 2 === 1))
    val oldProbe = Similarity.ivfProbe(Similarity.loadIvfAt(spark, dir),
      queries, 3, nProbe = 3).collect().map(_.toString).sorted.toSeq
    // the post-retrain answer, computed on a THROWAWAY COPY so the probe
    // thread races the real swap, not a pre-run of it
    val copy = java.nio.file.Files.createTempDirectory("graft_ivfzdtc").toString + "/idx"
    FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(copy))
    Similarity.retrainIvfAt(spark, copy)
    val newProbe = Similarity.ivfProbe(Similarity.loadIvfAt(spark, copy),
      queries, 3, nProbe = 3).collect().map(_.toString).sorted.toSeq
    assert(newProbe != oldProbe, "fixture must move geometry or the race proves nothing")
    // probe in a loop on another thread WHILE the retrain runs against
    // the live dir: every iteration must succeed and equal either the
    // old or the new generation — never throw, never mix
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try results.add(Similarity.ivfProbe(Similarity.loadIvfAt(spark, dir),
          queries, 3, nProbe = 3).collect().map(_.toString).sorted.toSeq)
        catch { case t: Throwable => errors.add(t); stop.set(true) }
      }
    })
    prober.start()
    try Similarity.retrainIvfAt(spark, dir)
    finally { stop.set(true); prober.join(60000) }
    assert(errors.isEmpty, s"concurrent probe failed mid-swap: ${errors.peek()}")
    assert(!results.isEmpty, "prober never completed an iteration")
    results.forEach { r =>
      assert(r == oldProbe || r == newProbe,
        s"mid-swap probe saw a mixed generation:\n$r")
    }
    // after the swap, the live index answers the new generation
    assert(Similarity.ivfProbe(Similarity.loadIvfAt(spark, dir),
      queries, 3, nProbe = 3).collect().map(_.toString).sorted.toSeq == newProbe)
    FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
    FileUtils.deleteQuietly(new java.io.File(copy).getParentFile)
  }

  test("retrained ensure rebuild resets the root: a crashed build's partial generation cannot leak into the rebuilt index") {
    val dir = Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q301)
    def probe() = Similarity.ivfProbe(
      Similarity.loadIvfAt(spark, dir), queries, 3, nProbe = 3)
      .collect().map(_.toString).sorted
    val want = probe()
    // simulate a PREVIOUS build crashing mid-retrain: a partial next
    // generation dir left beside the serving one, plus a stale pointer,
    // with the ready marker missing (the ensure retry rebuilds from scratch).
    // The reset-then-rebuild rule must wipe all of it — if any planted
    // state survived into the rebuilt index, the probe would differ
    val staleGen = Similarity.currentGen(spark, dir).get + 1
    val w0 = emb.filter($"vec_id" % 2 === 0)
    Similarity.detIvfIndex(w0, 8).centroids.write.mode("overwrite")
      .parquet(s"$dir/gen=$staleGen/centroids")
    val marker = new java.io.File(new java.io.File(dir).getParentFile,
      graft.TmpCache.ReadyMarker)
    assert(marker.delete())
    assert(Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q301) == dir)
    assert(!new java.io.File(s"$dir/gen=$staleGen/centroids").exists()
        || Similarity.currentGen(spark, dir).contains(staleGen),
      "planted partial generation must not survive the reset")
    assert(probe().sameElements(want),
      "rebuilt index must equal the retrained generation, not a mix")
  }

  test("generation deletes: refused empty delete leaves the pointer and serving table untouched; upserts/deletes flip generations") {
    import org.apache.commons.io.FileUtils
    val sqDir = java.nio.file.Files.createTempDirectory("graft_sqgen").toString + "/idx"
    // gen-layout build through the public lifecycle ops
    Similarity.saveSqIndex(Similarity.sqIndex(emb.filter($"vec_id" % 2 === 0)), sqDir)
    Similarity.upsertSqAt(spark, sqDir, emb.filter($"vec_id" % 2 === 1))
    // the upsert landed as a generation behind the pointer
    val g1 = Similarity.currentGen(spark, sqDir)
    assert(g1.nonEmpty, "flat upsert must flip to a generation layout")
    val before = Similarity.loadSqIndex(
      spark, Similarity.resolveIndexDir(spark, sqDir))
    assert(before.count() == emb.count())
    // a delete of EVERYTHING is refused — pointer unmoved, table intact
    intercept[IllegalArgumentException](
      Similarity.deleteSqAt(spark, sqDir, emb.select("vec_id")))
    assert(Similarity.currentGen(spark, sqDir) == g1,
      "refused delete must not move the generation pointer")
    assert(Similarity.loadSqIndex(
      spark, Similarity.resolveIndexDir(spark, sqDir)).count() == emb.count())
    // a real delete flips to the next generation; survivors only
    val del = emb.filter($"vec_id" % 5 === 3).select("vec_id")
    Similarity.deleteSqAt(spark, sqDir, del)
    assert(Similarity.currentGen(spark, sqDir).get > g1.get)
    val healed = Similarity.loadSqIndex(
      spark, Similarity.resolveIndexDir(spark, sqDir))
    assert(healed.count() == emb.count() - del.count())
    assert(healed.filter(pmod($"vec_id", lit(5)) === 3).count() == 0)
    FileUtils.deleteQuietly(new java.io.File(sqDir).getParentFile)
  }

  test("upsertCellPqAt: rewrites only the delta's cell partitions; codes stay consistent with the coarse assignments") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_pqcup").toString + "/idx"
    val w0 = emb.filter($"vec_id" % 2 === 0)
    Similarity.detIvfIndex(w0, 8).save(s"$dir/coarse")
    Similarity.savePqCellPartitioned(withCells(Similarity.pqIndex(w0),
      graft.operators.CellStore
        .read(spark, s"$dir/coarse/assignments")), s"$dir/pq")
    // a tiny 2-id delta; its cells come from the coarse assignment rule
    val delta = emb.filter($"vec_id".isin(1L, 3L))
    Similarity.upsertIvfAt(spark, s"$dir/coarse", delta)
    val assigned = graft.operators.CellStore
      .read(spark, s"$dir/coarse/assignments")
    val touched = assigned.join(delta.select("vec_id"), Seq("vec_id"))
      .select("cell").as[Int].collect().toSet
    val untouched = assigned.select("cell").distinct()
      .as[Int].collect().toSet -- touched
    assert(untouched.nonEmpty, "fixture must leave untouched cells")
    val stamp = untouched.map(c =>
      c -> servingCellStamp(s"$dir/pq/codes", c)).toMap
    Similarity.upsertCellPqAt(spark, s"$dir/pq", assigned, delta)
    stamp.foreach { case (c, st) =>
      assert(servingCellStamp(s"$dir/pq/codes", c) == st,
        s"codes cell $c rewritten by an upsert that touched no id in it")
    }
    // layout invariant: every code row's cell equals its coarse cell, ids
    // exactly cover the assignments (no dup, no stale row)
    val pq = Similarity.loadPqIndex(spark, s"$dir/pq")
    assert(pq.codes.count() == assigned.count())
    assert(pq.codes.select("vec_id", "cell")
      .except(assigned.select("vec_id", "cell")).count() == 0)
    // probe parity: the cell-pruned serving path equals the flat-codes
    // legacy path over the same logical index
    val coarse = Similarity.loadIvfIndex(spark, s"$dir/coarse")
    val flat = Similarity.PqIndex(
      pq.codes.select("vec_id", "codes"), pq.codebooks, pq.dsub)
    val a = Similarity.ivfPqProbe(coarse, pq, queries, 3)
      .collect().map(_.toString).sorted
    val b = Similarity.ivfPqProbe(coarse, flat, queries, 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
  }

  test("retrainIvfPqAt (q304): both artifacts refit from the stored corpus as ONE generation; probe equals a from-scratch full-corpus pair") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpqrtr").toString + "/idx"
    val w0 = emb.filter($"vec_id" % 2 === 0)
    val w1 = emb.filter($"vec_id" % 2 === 1)
    Similarity.detIvfIndex(w0, 8).save(s"$dir/coarse")
    Similarity.savePqCellPartitioned(withCells(Similarity.pqIndex(w0),
      graft.operators.CellStore
        .read(spark, s"$dir/coarse/assignments")), s"$dir/pq")
    Similarity.upsertIvfAt(spark, s"$dir/coarse", w1)
    Similarity.upsertCellPqAt(spark, s"$dir/pq",
      graft.operators.CellStore
        .read(spark, s"$dir/coarse/assignments"), w1)
    Similarity.retrainIvfPqAt(spark, dir)
    // the flipped-in generation equals a from-scratch fit of BOTH
    // artifacts on the full corpus: codebooks bit-identical, probe
    // row-identical — and all four tables live behind ONE pointer flip
    assert(Similarity.currentGen(spark, dir).nonEmpty)
    val freshPq = Similarity.pqIndex(emb)
    val (loadedCoarse, loadedPq) = Similarity.loadIvfPqAt(spark, dir)
    assert(loadedPq.codebooks.map(_.map(_.toSeq)) ==
      freshPq.codebooks.map(_.map(_.toSeq)))
    // the retrained codes are cell-partitioned against the NEW geometry:
    // every code row's cell equals its coarse assignment
    assert(loadedPq.codes.columns.contains("cell"))
    assert(loadedPq.codes.select("vec_id", "cell")
      .except(loadedCoarse.assignments.select("vec_id", "cell")).count() == 0)
    val got = Similarity.ivfPqProbe(loadedCoarse, loadedPq,
      queries, 3).collect().map(_.toString).sorted
    val want = Similarity.ivfPqProbe(
      Similarity.detIvfIndex(emb, 8), freshPq, queries, 3)
      .collect().map(_.toString).sorted
    assert(got.sameElements(want) && got.nonEmpty)
    FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
  }

  test("ensurePersistedIvfPqMaintained (q300): >=3-wave + compacted lifecycle is history-invariant and one file per coarse cell") {
    val dir = Similarity.ensurePersisted(spark, emb, TestSpark.sf0001, Similarity.Lifecycle.q300)
    val g = Similarity.resolveIndexDir(spark, dir)
    val (coarse, pq) = Similarity.loadIvfPqAt(spark, dir)
    // all three waves landed in both artifacts
    assert(coarse.assignments.count() == emb.count())
    assert(pq.codes.count() == emb.count())
    // compactIvfPqAt left exactly one data file per cell partition in
    // BOTH fragmenting tables (coarse assignments AND the cell codes)
    Seq(s"$g/coarse/assignments", s"$g/pq/codes").foreach { table =>
      val man = graft.operators.CellStore.manifest(spark, table).get
      assert(man.nonEmpty)
      man.foreach { case (c, v) =>
        val parts = new java.io.File(s"$table/cell=$c/v=$v").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        assert(parts.length == 1,
          s"$table/cell=$c has ${parts.length} files after compaction")
      }
    }
    // history-invariance: assignment and encoding are per-vector against
    // the SAME frozen wave-0 artifacts, so the probe equals the two-wave
    // q282 index row for row — upsert count and file layout cannot leak
    val twoWave = Similarity.ensurePersistedIvfPq(spark, emb, TestSpark.sf0001)
    val (c2, p2) = Similarity.loadIvfPqAt(spark, twoWave)
    val a = Similarity.ivfPqProbe(coarse, pq, queries, 3, nProbe = 3,
      shortlist = 64).collect().map(_.toString).sorted
    val b = Similarity.ivfPqProbe(c2, p2, queries, 3,
      nProbe = 3, shortlist = 64).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("pq index: partition-invariant bit-identical rebuilds; save/load roundtrip; self at rank 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/idx"
    val idx = Similarity.pqIndex(emb)
    // different partition count AND reversed within-partition order (also a
    // different plan, so the build memo cannot serve the second call): the
    // fixed-point subspace means make the codebooks AND codes bit-identical
    val shuffled = emb.repartition(7).sortWithinPartitions(desc("vec_id"))
    val again = Similarity.pqIndex(shuffled)
    assert(idx.codebooks.map(_.map(_.toSeq)) == again.codebooks.map(_.map(_.toSeq)))
    assert(idx.codes.as[(Long, Array[Int])].collect().map(p => (p._1, p._2.toSeq)).toMap ==
      again.codes.as[(Long, Array[Int])].collect().map(p => (p._1, p._2.toSeq)).toMap)
    // save/load roundtrip probes identically
    idx.save(dir)
    val loaded = Similarity.loadPqIndex(spark, dir)
    assert(loaded.m == idx.m && loaded.dsub == idx.dsub)
    val a = Similarity.pqProbe(idx, emb, queries, 3).collect().map(_.toString).sorted
    val b = Similarity.pqProbe(loaded, emb, queries, 3).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
    // exact re-rank over a shortlist that covers this corpus: self at rank 1
    val byQ = Similarity.pqProbe(idx, emb, queries, 3)
      .as[(Long, Long, Int, Double)].collect().groupBy(_._1)
    for ((qid, rows) <- byQ) {
      val r1 = rows.minBy(_._3)
      assert(r1._2 == qid && r1._4 == 1.0, s"query $qid should retrieve itself at rank 1")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("pq degenerate inputs: zero vectors code to the lowest cell; tiny corpus still probes") {
    // ksub = corpus size (the minimum legal); a zero vector's distances tie
    // across every cell -> strict-< argmin keeps the lowest (the assignCells
    // rule), and the whole path still returns ranked results
    val vecs = Seq(
      0L -> Array.fill(8)(0f),
      1L -> Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f))
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.pqIndex(df, m = 2, ksub = 4, iters = 1, inDim = 8)
    val codes = idx.codes.as[(Long, Array[Int])].collect()
      .map(p => (p._1, p._2.toSeq)).toMap
    assert(codes.size == 4 && codes.values.forall(_.length == 2))
    // the zero vector's subvectors are zero in every subspace: its cell is
    // the argmin over centroids by |c|^2 alone — ties to the LOWEST cell id
    val zeroCells = codes(0L)
    val cb = idx.codebooks
    for (s <- 0 until 2) {
      val d2 = cb(s).map(c => c.map(x => x * x).sum)
      val expect = d2.zipWithIndex.reduceLeft((a, b) => if (b._1 < a._1) b else a)._2
      assert(zeroCells(s) == expect, s"sub $s: got ${zeroCells(s)}, argmin $expect")
    }
    val q = Seq(1L -> Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
      .toDF("query_id", "query_embedding")
    val hits = Similarity.pqProbe(idx, df, q, 2, shortlist = 4).collect()
    assert(hits.length == 2)
  }

  test("upsertPq: frozen-codebook upsert equals a fresh encode of the merged corpus") {
    val full = Similarity.pqIndex(emb)
    val delta = emb.filter($"vec_id" % 5 === 0)
    val partial = Similarity.PqIndex(
      full.codes.join(delta.select("vec_id"), Seq("vec_id"), "left_anti"),
      full.codebooks, full.dsub)
    val upserted = Similarity.upsertPq(partial, delta)
    assert(upserted.codes.as[(Long, Array[Int])].collect()
      .map(p => (p._1, p._2.toSeq)).toMap ==
      full.codes.as[(Long, Array[Int])].collect()
        .map(p => (p._1, p._2.toSeq)).toMap)
    assert(upserted.codes.count() == emb.count())
    // and therefore probes identically
    val a = Similarity.pqProbe(full, emb, queries, 3).collect().map(_.toString).sorted
    val b = Similarity.pqProbe(upserted, emb, queries, 3).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("bq index roundtrip: saved+loaded index probes identically to direct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bq").toString
    val idx = Similarity.bqIndex(emb)
    Similarity.saveBqIndex(idx, dir)
    val loaded = Similarity.loadBqIndex(spark, dir)
    val a = Similarity.bqProbe(idx, emb, queries, 3)
      .collect().map(_.toString).sorted
    val b = Similarity.bqProbe(loaded, emb, queries, 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(a.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("reduceDim: exact dot against driver-side weights; map-only plan") {
    val reduced = Similarity.reduceDim(emb, outDim = 8)
    val w = graft.functions.RandProjBuckets.weights(8, 64)
    val rows = reduced.select($"vec_id", $"embedding", $"reduced")
      .as[(Long, Array[Float], Array[Double])].collect()
    for ((_, e, r) <- rows.take(20)) {
      assert(r.length == 8)
      for (j <- 0 until 8) {
        var dot = 0.0
        for (i <- 0 until 64) dot += e(i).toDouble * w(j)(i)
        assert(r(j) == dot, s"dim $j expected $dot got ${r(j)}")
      }
    }
    val p = reduced.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"reduceDim must be map-only:\n$p")
  }

  test("annRecall: per-query overlap equals recomputing from the two arms; every probe covered") {
    val got = Similarity.annRecall(emb, queries, 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == (0L until 5L).toSet) // zero-overlap queries still report
    val ivf = Similarity.detIvfTopK(emb, queries, 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, queries, 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    for (qid <- 0L until 5L) {
      val n = (ivf.filter(_._1 == qid).map(_._2) intersect
        exact.filter(_._1 == qid).map(_._2)).size.toLong
      assert(got(qid)._2 == n, s"query $qid")
      assert(got(qid)._3 ==
        BigDecimal(n / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("lshTopK: recovers the exact top-1 (self) and plausible neighbours") {
    val lsh = Similarity.lshTopK(emb, queries, 3)
      .as[(Long, Long, Int, Double)].collect()
    val byQ = lsh.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet)
    for ((qid, rows) <- byQ) {
      val r1 = rows.minBy(_._3)
      assert(r1._2 == qid, s"query $qid should retrieve itself")
      assert(r1._4 == 1.0)
    }
  }

  test("separabilityAuc: separable labels hit 1.0/0.0, all-tied scores hit 0.5") {
    // score = first component / L2 norm; label 1 strictly above label 0
    val sep = Seq(
      (0L, Array(0f, 1f), 0), (1L, Array(-0.8f, 0.6f), 0),
      (2L, Array(1f, 0f), 1), (3L, Array(0.6f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.separabilityAuc(sep)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0, 2L, 2L, 0.0), (1, 2L, 2L, 1.0)))
    // identical vectors -> every pair tied -> midrank AUC exactly 1/2
    val tied = Seq(
      (0L, Array(0.5f, 0.5f), 0), (1L, Array(0.5f, 0.5f), 1),
      (2L, Array(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    val gt = Similarity.separabilityAuc(tied)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(gt == Seq((0, 1L, 2L, 0.5), (1, 2L, 1L, 0.5)))
    // fixture: aucs in [0,1], pos+neg = total, partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label")
    val fxr = Similarity.separabilityAuc(emb)
      .as[(Int, Long, Long, Double)].collect().toSeq
    val n = emb.count()
    assert(fxr.forall(r => r._4 >= 0.0 && r._4 <= 1.0 && r._2 + r._3 == n))
    assert(Similarity.separabilityAuc(emb.repartition(7))
      .as[(Int, Long, Long, Double)].collect().toSeq == fxr)
  }

  test("liftTable: perfectly separated classes concentrate in the top buckets") {
    // 4 vectors, 2 buckets: positives (label 0) carry the high scores
    val df = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.8f, 0.6f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(-1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.liftTable(df, buckets = 2)
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq((1, 2L, 2L, 1.0, 2.0, 1.0), (2, 2L, 0L, 0.0, 0.0, 1.0)))
    // absent positive class: NULL lift/gain, never an ANSI divide error
    val noPos = Similarity.liftTable(df, positiveLabel = 9, buckets = 2)
      .selectExpr("lift IS NULL", "cum_gain IS NULL")
      .as[(Boolean, Boolean)].collect().toSeq
    assert(noPos == Seq((true, true), (true, true)))
    // fixture: counts partition the corpus, cumulative gain ends at 1,
    // partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label")
    val fxr = Similarity.liftTable(emb)
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
    assert(fxr.map(_._2).sum == emb.count())
    assert(fxr.last._6 == 1.0)
    assert(Similarity.liftTable(emb.repartition(7))
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq == fxr)
  }

  test("kCenterCoreset: greedy selection order and exact distances on a crafted line") {
    val df = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0.1f, 0f)),
      (2L, Array(1f, 0f)), (3L, Array(0.5f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(df, k = 4)
      .as[(Int, Long, Double)].collect().toSeq
    // seed 0; farthest 2 (d²=1.0); then 3 (0.25); then 1 (102²/2^20)
    assert(got == Seq((1, 0L, 0.0), (2, 2L, 1.0), (3, 3L, 0.25),
      (4, 1L, 0.009922)))
    // fixture: distinct exemplars, min-distances non-increasing (the FPS
    // monotonicity), partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
    val fxr = Similarity.kCenterCoreset(emb).as[(Int, Long, Double)].collect().toSeq
    assert(fxr.map(_._2).distinct.length == fxr.length)
    assert(fxr.drop(1).map(_._3).sliding(2).forall(p => p.head >= p.last))
    assert(Similarity.kCenterCoreset(emb.repartition(7))
      .as[(Int, Long, Double)].collect().toSeq == fxr)
  }

  test("prototypeOutliers: the planted far vector ranks first with the exact distance") {
    val df = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),
      (2L, Array(1f, 0f), 0), (3L, Array(-1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.prototypeOutliers(df, k = 2)
      .as[(Int, Int, Long, Long, Double)].collect().toSeq
    // centroid sum = (2048, 0) at 2^10 fixed point, n = 4:
    // vec 3: (−4096·... d2s = 6144² -> 2.25; others: 2048² -> 0.25
    assert(got == Seq((0, 1, 3L, 4L, 2.25), (0, 2, 0L, 4L, 0.25)))
    // fixture: k rows per label, rank 1 distance maximal, partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label")
    val fxr = Similarity.prototypeOutliers(emb)
      .as[(Int, Int, Long, Long, Double)].collect().toSeq
    val byLabel = fxr.groupBy(_._1)
    assert(byLabel.values.forall(_.length == 3))
    assert(byLabel.values.forall(rs =>
      rs.sortBy(_._2).map(_._5).sliding(2).forall(p => p.head >= p.last)))
    assert(Similarity.prototypeOutliers(emb.repartition(7))
      .as[(Int, Int, Long, Long, Double)].collect().toSeq == fxr)
  }

  test("hubnessTopHubs: planted hub collects every sampled slot it can; self excluded") {
    // the fixed-count sample takes the first maxQueries ids by
    // sha256('hubq:' id): over {0,1,2,3} that hash order is [2,1,0,3],
    // so maxQueries=2 samples queries {2, 1}
    val df = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0.9f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.hubnessTopHubs(df, k = 2, maxQueries = 2, maxHubs = 10)
      .as[(Long, Long, Double)].collect().toSeq
    // queries 1 and 2; each list has 2 slots -> 4 slots total. Query 1's
    // top-2: vec 0 (cos 1), vec 3 (0.9939); query 2's top-2 by cosine to
    // the y-axis: vec 3 (0.1105), then ties at 0 -> vec 0 by id.
    // Occurrences: v0:2, v3:2
    assert(got == Seq((0L, 2L, 0.5), (3L, 2L, 0.5)))
    // fixture: no self rows, shares sum to <= 1, partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
    val fxr = Similarity.hubnessTopHubs(emb)
      .as[(Long, Long, Double)].collect().toSeq
    assert(fxr.nonEmpty && fxr.map(_._3).sum <= 1.0 + 1e-6)
    assert(fxr.map(_._2).sliding(2).forall(p => p.head >= p.last))
    assert(Similarity.hubnessTopHubs(emb.repartition(7))
      .as[(Long, Long, Double)].collect().toSeq == fxr)
  }

  test("matryoshkaOverlap: identical prefixes give full overlap; orthogonal tails break it") {
    // 4-dim vectors, truncate to 2: a/b tie on the prefix but diverge on
    // the tail, so full-dim ranks (q, b, a) while 2-dim ranks tie-broken
    // by id — overlap stays 3/3 here (same SET, different order)
    val df = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 1f, 0f)),
      (2L, Array(1f, 0f, 0f, 1f)), (3L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaOverlap(df, dims = 2, k = 3, nQueries = 1)
      .as[(Long, Int, Long, Double)].collect().toSeq
    // full top-3 of q0: 0 (1.0), then 1 and 2 (0.7071); 2-dim top-3:
    // 0, 1, 2 (all cos 1 on the prefix, id tie-break) -> overlap 3
    assert(got == Seq((0L, 3, 3L, 1.0)))
    // fixture: overlaps in [0, k], every probe reported, partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
    val fxr = Similarity.matryoshkaOverlap(emb)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(fxr.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(fxr.forall(r => r._3 >= 0L && r._3 <= 5L))
    assert(Similarity.matryoshkaOverlap(emb.repartition(7))
      .as[(Long, Int, Long, Double)].collect().toSeq == fxr)
  }

  test("knnConfusion: clean clusters sit on the diagonal; planted mislabel routes off it") {
    // two 3-member clusters on opposite axes (3 members so leave-one-out
    // still finds a same-label MAJORITY at k=2); vec 6 carries cluster-0
    // geometry but label 1 -> its row predicts 0 (off-diagonal)
    val df = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0f, 1f), 1), (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.05f, 0.95f), 1),
      (6L, Array(0.97f, 0.02f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnConfusion(df, k = 2)
      .as[(Int, Int, Long, Double)].collect().toSeq
    // actual 0: the planted vec 6 enters x-cluster top-2 lists, forcing
    // 1-1 vote ties that break (votes desc, label asc) -> still 0.
    // actual 1: vecs 3,4,5 vote pure label 1; vec 6 predicts 0
    assert(got == Seq((0, 0, 3L, 1.0), (1, 0, 1L, 0.25), (1, 1, 3L, 0.75)))
    // fixture: rows partition the corpus, fracs sum to 1 per actual,
    // partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label")
    val fxr = Similarity.knnConfusion(emb)
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(fxr.map(_._3).sum == emb.count())
    fxr.groupBy(_._1).values.foreach(rs =>
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-4))
    assert(Similarity.knnConfusion(emb.repartition(7))
      .as[(Int, Int, Long, Double)].collect().toSeq == fxr)
  }

  test("calibrationTable: hand-checked bins; fixture bins partition the corpus") {
    // scores: (1,0)->+1 (bin 9), (-1,0)->-1 (bin 0), (0,1)->0 (bin 5)
    val df = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 1),
      (2L, Array(-1f, 0f), 1), (3L, Array(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.calibrationTable(df)
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
    // bin 0: score -1 -> pred 0, one negative -> rate 0, gap 0
    // bin 4: score 0 -> (2^30·10) DIV (2^31+1) = 4 (the +1 denominator
    //        nudges the exact midpoint down); pred 0.5, rate 1, gap 0.5
    // bin 9: score +1 -> pred 1, one of two positive -> rate 0.5, gap -0.5
    assert(got == Seq((0, 1L, 0L, 0.0, 0.0, 0.0), (4, 1L, 1L, 0.5, 1.0, 0.5),
      (9, 2L, 1L, 1.0, 0.5, -0.5)))
    // fixture: bins partition the corpus, gap = rate - pred everywhere,
    // partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label")
    val fxr = Similarity.calibrationTable(emb)
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
    assert(fxr.map(_._2).sum == emb.count())
    fxr.foreach { r => assert(math.abs(r._6 - (r._5 - r._4)) < 2e-6) }
    assert(Similarity.calibrationTable(emb.repartition(7))
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq == fxr)
  }

  test("embeddingCovariance: exact moments on a crafted 3-dim set; partition-invariant") {
    // dims: x = [1,2,3], y = [2,4,6] (perfectly correlated with x),
    // z = [5,5,5] (zero variance -> corr NaN, never ranked first)
    val df = Seq(
      (0L, Array(1f, 2f, 5f)), (1L, Array(2f, 4f, 5f)), (2L, Array(3f, 6f, 5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingCovariance(df, k = 3)
      .as[(Int, Int, Long, Option[Double])].collect().toSeq
    // q scale 1024: x=[1024,2048,3072], y=[2048,4096,6144]
    // cov_num(x,y) = 3*Σxy − Σx·Σy = 3·29360128 − 6144·12288 = 12582912
    // z pairs: zero variance -> NULL corr (ranked last), exact 0 numerator
    assert(got == Seq((0, 1, 12582912L, Some(1.0)), (0, 2, 0L, None),
      (1, 2, 0L, None)))
    // fixture: |corr| <= 1 for defined rows, ranked non-increasing,
    // partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("embedding")
    val fxr = Similarity.embeddingCovariance(emb)
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(fxr.length == 20)
    assert(fxr.forall(r => math.abs(r._4) <= 1.0 + 1e-9))
    assert(fxr.map(r => math.abs(r._4)).sliding(2).forall(p => p.head >= p.last))
    assert(Similarity.embeddingCovariance(emb.repartition(7))
      .as[(Int, Int, Long, Double)].collect().toSeq == fxr)
  }

  test("dominantEigenProbe: variance-dominant dim carries the max loading; partition-invariant") {
    // dim 0 holds nearly all the variance (±4 spread, zero mean), dim 1 a
    // correlated ±1 ripple: the leading eigen-direction must put its
    // max-normalized loading (2^20) on dim 0, a smaller same-sign-ratio
    // loading on dim 1, and shares must sum to 1
    val df = Seq(
      (0L, Array(4f, 1f)), (1L, Array(-4f, -1f)),
      (2L, Array(2f, 1f)), (3L, Array(-2f, -1f)))
      .toDF("vec_id", "embedding").select("embedding")
    val got = Similarity.dominantEigenProbe(df)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(got.length == 2)
    assert(got.head._1 == 0 && got.head._2 == 1048576L)
    assert(math.abs(got.head._2) >= math.abs(got(1)._2) && got(1)._2 > 0)
    assert(math.abs(got.map(_._3.get).sum - 1.0) < 2e-6)
    // zero-variance corpus: loadings collapse to 0, share undefined (NULL)
    val flat = Seq((0L, Array(1f, 1f)), (1L, Array(1f, 1f)))
      .toDF("vec_id", "embedding").select("embedding")
    val z = Similarity.dominantEigenProbe(flat)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(z.map(_._2).forall(_ == 0L) && z.forall(_._3.isEmpty))
    // fixture: top-5 rows, shares in (0, 1], partition-invariant
    val emb = Tables.embeddings(spark, TestSpark.sf0001).select("embedding")
    val fxr = Similarity.dominantEigenProbe(emb)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(fxr.length == 5)
    assert(fxr.forall(r => r._3.exists(s => s > 0 && s <= 1)))
    assert(Similarity.dominantEigenProbe(emb.repartition(7))
      .as[(Int, Long, Option[Double])].collect().toSeq == fxr)
  }

  test("zero-downtime in-place mutations: probes racing upsertIvfAt and deleteIvfAt never fail and see one complete snapshot") {
    // the r18 verdict's reader-isolation ask, cell-table half: the old
    // dynamic-overwrite upsert/delete deleted files a concurrent probe's
    // plan had already listed. Under the versioned cell store, touched
    // cells land as NEW version dirs and the manifest flips atomically —
    // a probe loop racing the mutation must answer exactly the pre- or
    // post-mutation index on every iteration: never throw, never mix.
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfrace").toString + "/idx"
    Similarity.detIvfIndex(emb, 8).save(dir)
    def probe(d: String) = Similarity.ivfProbe(
        Similarity.loadIvfAt(spark, d), queries, 3, nProbe = 8)
      .collect().map(_.toString).sorted.toSeq
    val before = probe(dir)
    // the upsert delta REPLACES ids 1,2 with different embeddings (id 3's
    // and id 4's), so the probe answer genuinely moves
    val delta = emb.filter($"vec_id".isin(3L, 4L))
      .select(($"vec_id" - 2L).as("vec_id"), $"embedding")
    // post-states computed on a THROWAWAY COPY so the probe thread races
    // the real mutations, not a pre-run of them
    val copy = java.nio.file.Files.createTempDirectory("graft_ivfracec").toString + "/idx"
    FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(copy))
    Similarity.upsertIvfAt(spark, copy, delta)
    val afterUpsert = probe(copy)
    import spark.implicits._
    // delete ids that actually SERVE (each query's rank-2 hit after the
    // upsert), so the post-delete answer genuinely moves
    val delIds = Similarity.ivfProbe(
        Similarity.loadIvfAt(spark, copy), queries, 3, nProbe = 8)
      .filter($"rnk" === 2).select("vec_id").distinct()
      .as[Long].collect().toSeq.toDF("vec_id")
    Similarity.deleteIvfAt(spark, copy, delIds)
    val afterDelete = probe(copy)
    assert(before != afterUpsert && afterUpsert != afterDelete,
      "fixture must move the probe answer or the race proves nothing")
    // ONE mutation per race (the keep-2 rule: a reader survives one
    // concurrent rewrite per cell; racing two back-to-back would test a
    // window the contract explicitly does not cover)
    def race(preState: Seq[String], postState: Seq[String])
            (mutate: => Unit): Unit = {
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val prober = new Thread(() => {
        while (!stop.get()) {
          try results.add(probe(dir))
          catch { case t: Throwable => errors.add(t); stop.set(true) }
        }
      })
      prober.start()
      try mutate
      finally { stop.set(true); prober.join(60000) }
      assert(errors.isEmpty, s"concurrent probe failed mid-mutation: ${errors.peek()}")
      assert(!results.isEmpty, "prober never completed an iteration")
      results.forEach { r =>
        assert(r == preState || r == postState,
          s"mid-mutation probe saw a mixed snapshot:\n${r.take(5).mkString("\n")}")
      }
      assert(probe(dir) == postState)
    }
    race(before, afterUpsert)(Similarity.upsertIvfAt(spark, dir, delta))
    race(afterUpsert, afterDelete)(Similarity.deleteIvfAt(spark, dir, delIds))
    FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
    FileUtils.deleteQuietly(new java.io.File(copy).getParentFile)
  }

  test("splitIvfCellAt (q308): hot cell divided without a refit — content equals the expected local sub-fit, balance restored, unaffected probes identical") {
    import org.apache.commons.io.FileUtils
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsplit").toString + "/idx"
    Similarity.detIvfIndex(emb, 4).save(dir)
    val before = Similarity.loadIvfAt(spark, dir)
    val beforeAsg = before.assignments.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    val beforeCounts = beforeAsg.groupBy(_._2).view.mapValues(_.size).toMap
    val queriesWide = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val probeBefore = Similarity.ivfProbe(before, queriesWide, 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.toString)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val (parent, child) = Similarity.splitHottestIvfCellAt(spark, dir)
    assert(parent == beforeCounts.toSeq.sortBy { case (c, n) => (-n, c) }.head._1)
    val after = Similarity.loadIvfAt(spark, dir)
    // the split is CONTENT-exact: the new store equals the in-memory
    // expected construction — untouched rows and centroids byte-identical,
    // the hot cell replaced by a deterministic local 2-means of its own
    // vectors remapped to (parent, child)
    val hot = before.assignments.filter($"cell" === parent)
      .select("vec_id", "embedding")
    val sub = Similarity.detIvfIndex(hot, 2)
    val remap = when($"cell" === 0, lit(parent)).otherwise(lit(child)).as("cell")
    val expectedAsg = before.assignments.filter($"cell" =!= parent)
      .select($"vec_id", $"embedding", $"cell")
      .unionByName(sub.assignments.select($"vec_id", $"embedding", remap))
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    assert(after.assignments.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap == expectedAsg)
    val expectedCents = before.centroids.filter($"cell" =!= parent)
      .unionByName(sub.centroids.select(remap, $"centroid"))
      .collect().map(_.toString).sorted.toSeq
    assert(after.centroids.collect().map(_.toString).sorted.toSeq == expectedCents)
    // both children carry rows and the max share strictly dropped — the
    // skew the monitor flagged is remediated
    val afterCounts = expectedAsg.groupBy(_._2).view.mapValues(_.size).toMap
    assert(afterCounts(parent) > 0 && afterCounts(child) > 0)
    assert(afterCounts.values.max < beforeCounts.values.max,
      s"split did not reduce the max cell share: $beforeCounts -> $afterCounts")
    // queries whose probe sets touch neither the parent nor the children
    // answer bit-identically across the split
    val probeAfter = Similarity.ivfProbe(after, queriesWide, 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.toString)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val unaffected = probeBefore.keys.filter(q => probeBefore(q) == probeAfter(q))
    assert(unaffected.nonEmpty,
      "fixture must leave some queries' probe sets untouched by the split")
    // and the monitor shows the child in the stats
    val cells = Similarity.ivfCellStats(spark, dir)
      .select("cell").as[Int].collect().toSet
    assert(cells.contains(parent) && cells.contains(child))
    FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
  }
}
