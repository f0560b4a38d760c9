package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // crafted corpus: 1&2 exact dups, 3 near-dup of 1 (one word changed), 4 unrelated
  lazy val crafted = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "the quick brown fox jumps over the lazy cat again and again today"),
    (4L, "completely different content with nothing shared at all here now then")
  ).toDF("doc_id", "text")

  test("exactGroups: identical texts collapse to one group") {
    val g = Dedup.exactGroups(crafted).as[(String, Long, Long)].collect()
    assert(g.length == 3)
    val dup = g.find(_._3 == 2L).get
    assert(dup._2 == 1L) // canonical = min doc_id
  }

  test("jaccardPairs: exact dup pair scores 1.0; near-dup high; unrelated absent") {
    val pairs = Dedup.jaccardPairs(crafted, 0.3)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("shingleNovelty: copy scores 0, originals score 1, partial overlap exact; driver parity") {
    // crafted: doc 2 copies doc 1 (novelty 0); doc 3 shares a prefix run
    // with doc 1; doc 4 is all-new. doc_id order = arrival order.
    val n = Dedup.shingleNovelty(crafted)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(n(1L)._3 == 1.0, "first doc is all-novel")
    assert(n(2L) == ((n(1L)._1, 0L, 0.0)), "exact copy adds nothing")
    assert(n(3L)._3 > 0.0 && n(3L)._3 < 1.0, "near-dup is partially novel")
    assert(n(4L)._3 == 1.0, "unrelated doc is all-novel")
    // driver-side recompute on real docs (shingles via the same expression)
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(200).cache()
    val sh = Dedup.shingles(docs).as[(Long, String)].collect()
    val firstDoc = sh.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._1).min }
    val expect = sh.groupBy(_._1).map { case (d, rs) =>
      val novel = rs.count(r => firstDoc(r._2) == d)
      d -> ((rs.length.toLong, novel.toLong,
        BigDecimal(novel.toDouble / rs.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val got = Dedup.shingleNovelty(docs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expect && got.nonEmpty)
    docs.unpersist()
  }

  test("blockDedup: duplicate blocks drop, rewrite digest exact, all-dropped doc hashes empty") {
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val b1 = (1 to 16).map(i => s"t$i").mkString(" ")
    val b2 = (17 to 32).map(i => s"t$i").mkString(" ")
    val b3 = (1 to 5).map(i => s"x$i").mkString(" ") // partial last block
    val d = Seq(
      (1L, s"$b1 $b2"), // 2 blocks, both first occurrences
      (2L, s"$b1 $b2"), // exact copy: every block dropped
      (3L, s"$b1 $b3")  // block 1 seen in doc 1; partial block 2 novel
    ).toDF("doc_id", "text")
    val got = Dedup.blockDedup(d)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 2L, sha(s"$b1 $b2"))))
    assert(got(2L) == ((2L, 0L, sha(""))))
    assert(got(3L) == ((2L, 1L, sha(b3))))
    // driver-side parity + partition invariance on real docs
    val docs = Tables.documents(spark, TestSpark.sf0001).cache()
    val toks = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }
      .filter(_._2.nonEmpty)
    val blocks = toks.flatMap { case (id, ts) =>
      ts.grouped(16).zipWithIndex.map { case (b, i) => (id, i.toLong, b.mkString(" ")) } }
    val first = blocks.groupBy(_._3).map { case (b, rs) =>
      b -> rs.map(r => (r._1, r._2)).min }
    val expect = blocks.groupBy(_._1).map { case (id, rs) =>
      val kept = rs.filter(r => first(r._3) == ((r._1, r._2))).sortBy(_._2)
      id -> ((rs.length.toLong, kept.length.toLong, sha(kept.map(_._3).mkString(" "))))
    }
    val fx = Dedup.blockDedup(docs)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(fx == expect && fx.nonEmpty)
    assert(Dedup.blockDedup(docs.repartition(7))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap == fx)
    docs.unpersist()
  }

  test("jaccard matches a driver-side set computation on real docs") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val got = Dedup.jaccardPairs(docs, 0.5)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    def sh(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(t)
    }
    val local = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> sh(t) }
    val expected = (for {
      (a, sa) <- local; (b, sb) <- local if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(got.keySet == expected.keySet)
    for ((k, j) <- expected)
      assert(math.abs(got(k) - j) < 1e-6, s"pair $k")
  }

  test("jaccardPairs df cap: planted stop-shingle no longer explodes candidates") {
    // 60 docs all share a boilerplate prefix (the stop-shingle source); docs
    // 0 and 1 additionally share distinctive content (a true near-dup).
    val docs = (0 until 60).map { i =>
      val tail =
        if (i <= 1) "identical distinctive payload content here"
        else s"unique tail t$i alpha$i beta$i gamma$i delta$i"
      (i.toLong, s"shared boiler plate prefix $tail")
    }.toDF("doc_id", "text")
    // Uncapped: the boilerplate buckets pair every doc with every other.
    assert(Dedup.jaccardPairs(docs, 0.0, maxShingleDf = Int.MaxValue)
      .count() == 60L * 59 / 2)
    // Capped: frequent buckets are dropped before pair generation; only the
    // docs sharing distinctive (low-df) shingles remain candidates.
    assert(Dedup.jaccardPairs(docs, 0.0, maxShingleDf = 5).count() < 60)
    // The true near-dup still surfaces, verified on its FULL shingle sets.
    val pairs = Dedup.jaccardPairs(docs, 0.5, maxShingleDf = 5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("MinHashSig expression is bit-identical to the SQL groupBy/min formulation") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // The legacy formulation — still what the DuckDB oracle runs for q25/q26.
    val hashed = Dedup.shingles(docs).select($"doc_id",
      sha2($"shingle", 256).as("h1"),
      sha2(concat(lit("x:"), $"shingle"), 256).as("h2"))
    val mins =
      (0 until 8).map(j => min(expr(s"substr(h1, ${j * 8 + 1}, 8)")).as(s"m$j")) ++
        (0 until 8).map(j => min(expr(s"substr(h2, ${j * 8 + 1}, 8)")).as(s"m${8 + j}"))
    val legacy = hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (0 to 16).map(i => r.get(i)).mkString("|"))
    assert(rows(Dedup.minhashSig(docs)).sameElements(rows(legacy)))
  }

  test("minhash: exact dups share all bands; LSH pairs recover high-jaccard pairs") {
    val bands = Dedup.minhashBands(crafted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until 4).map(b => r.getAs[String](s"band$b"))).toMap
    assert(bands(1L) == bands(2L))
    assert(bands(1L) != bands(4L))
    val pairs = Dedup.minhashPairs(crafted, 0.3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("minhashPairs subset-of jaccardPairs and finds the planted near-dups on real docs") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val exact = Dedup.jaccardPairs(docs, 0.5).select($"doc_a", $"doc_b")
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashPairs(docs, 0.5).select($"doc_a", $"doc_b")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) assert(lsh.nonEmpty) // high-sim pairs should collide in >=1 band
  }

  test("simhashPairs: exact dups found with hamming 0; complete for d<=3 (vs exhaustive)") {
    val pairs = Dedup.simhashPairs(crafted, 3)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 0)
    // banded-LSH completeness: compare against exhaustive hamming on real docs
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val sigs = Dedup.simhash(docs).as[(Long, Long)].collect()
    val exhaustive = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h).toMap
    val lsh = Dedup.simhashPairs(docs, 3)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(lsh == exhaustive)
    // generalized banding stays complete for a larger threshold (6 bands)
    val ex5 = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 5
    } yield (a, b) -> h).toMap
    val lsh5 = Dedup.simhashPairs(docs, 5)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(lsh5 == ex5)
  }

  test("duplicateClusters: transitive chains collapse to min-id components") {
    // components: {1,2,3,4} via chain, {7,9}, pair order irrelevant
    val pairs = Seq((1L, 2L), (3L, 4L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("duplicateClusters: 200-node chain collapses via pointer jumping (O(log) rounds)") {
    // a pure chain is the diameter worst case: plain propagation needs 200
    // rounds (> maxRounds), pointer jumping ~log2(200)
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect()
    assert(got.length == 200)
    assert(got.forall(_._2 == 0L), "every chain node must resolve to the min id")
  }

  test("duplicateClusters: file-backed builds memoize; distinct inputs never collide") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_memo").toString
    try {
      Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
        .write.parquet(s"$dir/a")
      Seq((5L, 6L)).toDF("doc_a", "doc_b").write.parquet(s"$dir/b")
      val first = Dedup.duplicateClusters(spark.read.parquet(s"$dir/a"))
      val second = Dedup.duplicateClusters(spark.read.parquet(s"$dir/a"))
      // the repeat build over the same file-backed input serves from the
      // fit memo (the ivfIndex/detKMeans contract): same frame, not a re-run
      assert(second eq first, "repeat file-backed build must hit the memo")
      assert(first.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
      // a different file-backed input (same schema) keys separately
      val other = Dedup.duplicateClusters(spark.read.parquet(s"$dir/b"))
      assert(other.as[(Long, Long)].collect().toMap == Map(5L -> 5L, 6L -> 5L))
      // in-memory frames skip the memo entirely (no input files): two
      // same-schema locals must each compute their own fixpoint
      val m1 = Dedup.duplicateClusters(Seq((1L, 4L)).toDF("doc_a", "doc_b"))
      val m2 = Dedup.duplicateClusters(Seq((2L, 8L)).toDF("doc_a", "doc_b"))
      assert(m1.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 4L -> 1L))
      assert(m2.as[(Long, Long)].collect().toMap == Map(2L -> 2L, 8L -> 2L))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("duplicateClusters: reliable checkpoint mode matches the default") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val pairs = Seq((1L, 2L), (3L, 4L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
      val got = Dedup.duplicateClusters(pairs, checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
      // the reliable barrier actually wrote RDD checkpoints into the dir
      assert(new java.io.File(dir).listFiles() != null &&
        new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("dedupByCluster keeps one canonical doc per cluster plus unpaired docs") {
    val pairs = Dedup.jaccardPairs(crafted, 0.5)
    val clusters = Dedup.duplicateClusters(pairs)
    val kept = Dedup.dedupByCluster(crafted, clusters)
      .select($"doc_id").as[Long].collect().toSet
    // crafted at 0.5: {1,2,3} one cluster (near-dup 3 joins via jaccard
    // 8/14), 4 unpaired -> keep the canonical 1 and the unpaired 4
    assert(kept == Set(1L, 4L))
    // idempotent: dedup of the deduped set removes nothing
    val again = Dedup.dedupByCluster(
      crafted.filter($"doc_id".isin(kept.toSeq: _*)),
      Dedup.duplicateClusters(Dedup.jaccardPairs(
        crafted.filter($"doc_id".isin(kept.toSeq: _*)), 0.5)))
    assert(again.count() == kept.size)
  }

  test("contaminated: flags train docs sharing a 5-gram with eval, counts shared shingles") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 5-grams with eval 100
      (2L, "completely unrelated training content lives here today"),
      (3L, "the quick brown fox jumps high")               // shares exactly one 5-gram
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix words the quick brown fox jumps over the lazy dog suffix")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminated(train, eval, n = 5)
      .as[(Long, Long)].collect().toMap
    assert(!got.contains(2L))
    assert(got(3L) == 1L) // "the quick brown fox jumps"
    assert(got(1L) == 5L) // 9 tokens -> 5 shingles, all inside eval's text
  }

  test("sharedSpanPairs: exact 20-token overlaps found; df cap silences boilerplate spans") {
    val w = (1 to 25).map(i => s"w$i")
    val doc1 = w.mkString(" ")                                  // w1..w25
    val doc3 = (w.drop(5) ++ (1 to 5).map(i => s"x$i")).mkString(" ") // w6..w25 x1..x5
    val d = Seq(
      (1L, doc1), (2L, doc1),                                   // full dup: 6 shared spans
      (3L, doc3),                                               // shares exactly w6..w25
      (4L, (1 to 25).map(i => s"z$i").mkString(" "))            // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.sharedSpanPairs(d)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 6L)
    assert(got((1L, 3L)) == 1L && got((2L, 3L)) == 1L)
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // the w6..w25 span has df=3: capping at 2 removes it everywhere — the
    // doc3 pairs vanish and the dup pair keeps its other 5 spans
    val capped = Dedup.sharedSpanPairs(d, dfCap = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(capped((1L, 2L)) == 5L)
    assert(!capped.contains((1L, 3L)) && !capped.contains((2L, 3L)))
  }

  test("semanticDedup: exact-duplicate embeddings collapse to the lowest id") {
    // 1&2&3 identical embeddings (cos = 1 in any cell assignment: identical
    // vectors always share a cell), the rest mutually near-orthogonal
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(1f, 0f, 0f, 0f),
      3L -> Array(1f, 0f, 0f, 0f), 4L -> Array(0f, 1f, 0f, 0f),
      5L -> Array(0f, 0f, 1f, 0f), 6L -> Array(0f, 0f, 0f, 1f),
      7L -> Array(0f, 0.8f, 0f, 0.6f), 8L -> Array(0.6f, 0f, 0.8f, 0f))
    val kept = Dedup.semanticDedup(vecs.toDF("vec_id", "embedding"), 0.95, k = 4, iters = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L))
    assert(Set(4L, 5L, 6L).subsetOf(kept))
  }

  test("semanticDedup: drops EXACTLY the vectors with a lower-id same-cell neighbour above threshold") {
    val e = Tables.embeddings(spark, TestSpark.sf0001).select("vec_id", "embedding")
    val thr = 0.3
    val kept = Dedup.semanticDedup(e, thr).select("vec_id").as[Long].collect().toSet
    val cellOf = graft.operators.Similarity.detKMeans(e, 8, 3)._2
      .as[(Long, Int)].collect().toMap
    val vecs = e.as[(Long, Array[Float])].collect().sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectedDropped = vecs.filter { case (id, v) =>
      vecs.exists { case (jd, u) =>
        jd < id && cellOf(jd) == cellOf(id) && cos(u, v) >= thr
      }
    }.map(_._1).toSet
    assert(expectedDropped.nonEmpty, "fixture must actually drop something")
    assert(kept == vecs.map(_._1).toSet -- expectedDropped)
  }

  test("simhash: identical text -> identical signature; near-dup closer than unrelated") {
    val sig = Dedup.simhash(crafted).as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(3L)) <= ham(sig(1L), sig(4L)))
    assert(sig(1L) >= 0 && sig(1L) < (1L << 32))
  }

  test("levenshteinPairs: blocking is lossless vs brute force at sf0.001") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val maxDist = 20; val pfxLen = 60
    val got = Dedup.levenshteinPairs(docs, maxDist, pfxLen)
      .as[(Long, Long, Int)].collect().toSet
    val local = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => (id, t.length, t.take(pfxLen)) }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val want = (for {
      (ia, la, pa) <- local; (ib, lb, pb) <- local
      if ia < ib && math.abs(la - lb) <= maxDist
      d = lev(pa, pb) if d <= maxDist
    } yield (ia, ib, d)).toSet
    assert(got == want)
    assert(want.nonEmpty) // fixture plants near-dup prefixes
  }

  test("bloomAntiJoin: exactly the plain anti-join, tiny filter to force false positives") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .withColumn("fp", expr("substring(text, 1, 60)"))
    val corpus = docs.filter($"doc_id" % 7 =!= 0)
    val eval_ = docs.filter($"doc_id" % 7 === 0).select("fp")
    // mBits=1024 over ~70 keys -> real false-positive traffic through the
    // verify join; result must STILL equal the exact anti-join
    val got = Dedup.bloomAntiJoin(corpus, eval_, "fp", mBits = 1024, k = 3)
      .select("doc_id").as[Long].collect().toSet
    val want = corpus.join(eval_.distinct(), Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(want.size < corpus.count()) // fixture has real removals
  }

  test("levenshteinPairs: identical short docs pair at distance 0; unrelated lengths blocked") {
    val crafted = Seq(
      (1L, "the same exact text"), (2L, "the same exact text"),
      (3L, "the same exakt text"), // 1 substitution away
      (4L, "x" * 200)              // length-blocked from the rest
    ).toDF("doc_id", "text")
    val got = Dedup.levenshteinPairs(crafted, maxDist = 5, prefixLen = 60)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1)))
  }

  test("containmentPairs: embedded sub-document scores 1.0 one-way where Jaccard misses it") {
    val words = (1 to 60).map(i => s"w$i")
    val big = words.mkString(" ")
    val small = words.take(20).mkString(" ") // shingles a strict subset
    val docs = Seq((1L, small), (2L, big), (3L, "totally different content here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 0.8)
      .as[(Long, Long, Long, Double)].collect()
    // 18 shingles of small, all inside big's 58
    assert(got.toSeq == Seq((1L, 2L, 18L, 1.0)))
    // the reverse direction (58 -> 18/58) and unrelated docs stay out
    assert(!got.exists(r => r._1 == 2L))
    // Jaccard at the standard 0.5 threshold never sees this pair
    val jac = Dedup.jaccardPairs(docs, 0.5).as[(Long, Long, Long, Double)].collect()
    assert(jac.isEmpty)
  }

  test("clusterRepresentatives: longest text wins, doc_id breaks ties, member counts exact") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val got = Dedup.clusterRepresentatives(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val labels = Dedup.duplicateClusters(Dedup.jaccardPairs(docs, 0.5))
      .as[(Long, Long)].collect()
    val lens = docs.select($"doc_id", length($"text").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expect = labels.groupBy(_._2).map { case (c, ms) =>
      val ids = ms.map(_._1)
      c -> ((c, ids.minBy(id => (-lens(id), id)), ids.length.toLong))
    }
    assert(got == expect)
    assert(got.nonEmpty && got.values.forall(_._3 >= 2)) // clusters are real
  }

  test("duplicateCoverage: a verbatim copy's blocks are all duplicates; fixture rollup consistent") {
    // src b's doc 11 copies doc 10 (src a) verbatim -> all of 11's blocks
    // are corpus duplicates; 12 is unique
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (10L, text, "a"), (11L, text, "b"),
      (12L, (1 to 40).map(i => s"other$i").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.duplicateCoverage(df)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // 40 tokens -> 3 blocks/doc (16+16+8)
    assert(got == Seq(("a", 1L, 3L, 0L, 0.0), ("b", 2L, 6L, 3L, 0.5)))
    // fixture: rollup matches an independent recompute from blockDedup
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val fxr = Dedup.duplicateCoverage(docs)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    val srcOf = docs.select("doc_id", "source").as[(Long, String)].collect().toMap
    val per = Dedup.blockDedup(docs).select("doc_id", "n_blocks", "n_kept")
      .as[(Long, Long, Long)].collect()
    val want = per.groupBy(r => srcOf(r._1)).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._2).sum, rs.map(r => r._2 - r._3).sum)
    }.toSeq.map { case (s, (d, b, du)) => (s, d, b, du) }.sortBy(_._1)
    assert(fxr.map(r => (r._1, r._2, r._3, r._4)) == want && fxr.nonEmpty)
  }

  test("clusterSizeHistogram: crafted components; fixture covers exactly the labeled docs") {
    // components: {1,2,3} (chain), {4,5} -> sizes 3 and 2
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterSizeHistogram(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 2L), (3L, 1L, 3L)))
    // fixture: n_docs across the histogram equals the labeled-doc count
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val fxr = Dedup.clusterSizeHistogram(Dedup.jaccardPairs(docs, 0.5))
      .as[(Long, Long, Long)].collect().toSeq
    val labeled = Dedup.duplicateClusters(Dedup.jaccardPairs(docs, 0.5)).count()
    assert(fxr.map(_._3).sum == labeled && fxr.nonEmpty)
    assert(fxr.forall(_._1 >= 2)) // every cluster has at least a pair
  }

  test("dedupRecallAudit: overlap bounded by both arms; independent recompute; partition-invariant") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val got = Dedup.dedupRecallAudit(docs, 0.5)
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(got.length == 1)
    val (ne, nl, nc, rec, prec) = got.head
    assert(nc <= math.min(ne, nl) && ne > 0 && nl > 0)
    assert(rec.exists(r => r >= 0.0 && r <= 1.0))
    assert(prec.exists(p => p >= 0.0 && p <= 1.0))
    // independent recompute of the overlap from the two pair operators
    val e = Dedup.jaccardPairs(docs, 0.5).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val l = Dedup.minhashPairs(docs, 0.5).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert((ne, nl, nc) == ((e.size.toLong, l.size.toLong, (e & l).size.toLong)))
    assert(Dedup.dedupRecallAudit(docs.repartition(7), 0.5)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq == got)
  }

  test("dedupRecallAudit sampleHex: sampled run equals the audit of the pre-filtered corpus; 16 is the identity") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // sampleHex = 16 must be plan-identical to the unsampled default
    // (q234's hash depends on it): no sampling filter is injected at all
    assert(!Dedup.dedupRecallAudit(docs, 0.5, sampleHex = 16)
      .queryExecution.optimizedPlan.toString.contains("drs:"))
    assert(Dedup.dedupRecallAudit(docs, 0.5, sampleHex = 8)
      .queryExecution.optimizedPlan.toString.contains("drs:"))
    // the sampled audit IS the full audit over the deterministically
    // sampled sub-corpus (both arms restricted identically)
    val pred = substring(
      sha2(concat(lit("drs:"), col("doc_id").cast("string")), 256), 1, 1)
      .isin("0123456789abcdef".take(8).map(_.toString): _*)
    val sampled = Dedup.dedupRecallAudit(docs, 0.5, sampleHex = 8)
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().toSeq
    val manual = Dedup.dedupRecallAudit(docs.filter(pred), 0.5)
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(sampled == manual)
    // the sample genuinely shrinks the exhaustive arm's input (~half), and
    // the sampled pair sets are subsets of the full-corpus ones
    val nSample = docs.filter(pred).count().toDouble / docs.count()
    assert(nSample > 0.3 && nSample < 0.7, s"sample fraction $nSample")
    val full = Dedup.dedupRecallAudit(docs, 0.5)
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().head
    assert(sampled.head._1 <= full._1 && sampled.head._2 <= full._2)
  }
}
