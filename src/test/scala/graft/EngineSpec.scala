package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ChunkText, CosineSimilarity, HashEmbed}

class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val index = Engine.ingest(Tables.documents(spark, TestSpark.sf0001)).cache()

  test("driver entry: flagship query returns k rows on sf0.001") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Double]("score") > 0))
  }

  test("chunker scales linearly: 2MB document chunks in one pass") {
    val big = Seq((0L, "z" * 2000000, "bulk")).toDF("doc_id", "text", "source")
    val chunks = Engine.chunks(big)
    assert(chunks.count() == 2500) // ceil(2e6 / 800)
    val lens = chunks.selectExpr("min(length(text))", "max(length(text))").collect()(0)
    assert(lens.getInt(1) == 1000)
  }

  test("ingest: chunk count per doc = ceil(n_chars/800); ids unique") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val perDoc = index.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val expected = docs.select($"doc_id", $"n_chars").as[(Long, Long)].collect()
      .map { case (id, n) => id -> (if (n == 0) 0L else (n + 799) / 800) }.toMap
    for ((id, n) <- expected if n > 0) assert(perDoc(id) == n, s"doc $id")
    assert(index.select("id").distinct().count() == index.count())
  }

  test("searchPrf: matches a driver-side recompute of the full RM3 pipeline; partition-invariant") {
    // The embeddings are deterministic hash stand-ins with no semantics,
    // so the spec checks MECHANISM, not retrieval quality: the whole
    // pipeline (feedback top-k, term mining, weighting, fixed-point BM25
    // re-score) recomputed in plain Scala over the collected fixture must
    // reproduce the operator's output exactly.
    val (qTerms, fbDocs, fbTerms, k) = (Seq("transfer", "credits"), 5, 10, 5)
    val got = Engine.searchPrf(index, "transfer credits", k, fbDocs, fbTerms)
      .select($"id", $"prf_score").as[(String, Double)].collect().toSeq
    val chunks = index.select($"id", $"text").as[(String, String)].collect()
    val toks = chunks.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
    val nDocs = toks.size.toDouble
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / nDocs
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toDouble).toMap
    def idf(df: Double) = math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    val fbIds = Engine.search(index, "transfer credits", fbDocs)
      .select($"id").as[String].collect().toSet
    val ftf = fbIds.toSeq.flatMap(toks(_)).groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val expansion = ftf.toSeq
      .filter { case (t, _) => !qTerms.contains(t) && t.matches("[a-z0-9]+") }
      .map { case (t, f) => (t, f * idf(dfm(t))) }
      .sortBy { case (t, w) => (-w, t) }.take(fbTerms)
    val maxW = expansion.map(_._2).max
    val termW = qTerms.map(_ -> 1.0) ++ expansion.map { case (t, w) => t -> 0.5 * w / maxW }
    val want = toks.toSeq.map { case (id, ts) =>
      val tf = ts.groupBy(identity).view.mapValues(_.size.toDouble).toMap
      val dl = ts.size.toDouble
      val present = termW.exists { case (t, _) => tf.contains(t) }
      val sfx = termW.map { case (t, tw) =>
        tf.get(t).fold(0L) { f =>
          math.floor(tw * idf(dfm.getOrElse(t, 0.0)) * (f * 2.2) /
            (f + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1048576.0 + 0.5).toLong
        }
      }.sum
      (id, sfx, present)
    }.filter(_._3) // mirror the operator's inner join: only docs with a matched term
      .map { case (id, s, _) => (id, s) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .map { case (id, s) => (id, math.rint(s / 1048576.0 * 1e6) / 1e6) }
    assert(got == want, s"got $got, want $want")
    assert(got.nonEmpty && got.map(_._2).forall(_ > 0.0))
    // exact fixed-point sums — identical under repartitioning
    val got2 = Engine.searchPrf(index.repartition(7), "transfer credits", k, fbDocs, fbTerms)
      .select($"id", $"prf_score").as[(String, Double)].collect().toSeq
    assert(got2 == got)
  }

  test("search: top-k deterministic, exact-duplicate text scores 1.0 first") {
    // Take a real chunk's text as the query => its own chunk must rank #1 with score 1.0
    val probe = index.orderBy("id").select($"id", $"text").as[(String, String)].head()
    val hits = Engine.search(index, probe._2, k = 5).collect()
    assert(hits.length == 5)
    val top = hits.head
    assert(math.abs(top.getAs[Double]("score") - 1.0) < 1e-12)
    // all chunks with identical text score 1.0 and sort by id asc among ties
    val ties = hits.takeWhile(r => math.abs(r.getAs[Double]("score") - 1.0) < 1e-12)
    assert(ties.map(_.getAs[String]("id")).contains(probe._1))
    assert(ties.map(_.getAs[String]("id")).toSeq ==
      ties.map(_.getAs[String]("id")).toSeq.sorted)
  }

  test("search plan uses TakeOrderedAndProject (partial top-k, no full sort)") {
    val plan = Engine.search(index, "transfer credits", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("searchResponse: context format byte-exact per main.py:324") {
    val hits = Engine.search(index, "transfer credits", 3)
      .orderBy(desc("score"), asc("id"))
      .select("source", "text", "score", "id").collect()
    val expected = hits.map(r =>
      s"[Source: ${r.getAs[String]("source")}]\n${r.getAs[String]("text")}")
      .mkString("\n\n---\n\n")
    val resp = Engine.searchResponse(index, "transfer credits", 3).collect()(0)
    assert(resp.getAs[String]("query") == "transfer credits")
    assert(resp.getAs[Long]("total_results") == 3L)
    assert(resp.getAs[String]("context") == expected)
    // chunks array (main.py:328): same hits, rank order, 4-digit scores
    val chunks = resp.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("chunks")
    assert(chunks.length == 3)
    assert(chunks.map(_.getAs[String]("id")) == hits.map(_.getAs[String]("id")).toSeq)
    chunks.zip(hits).foreach { case (c, h) =>
      assert(c.getAs[String]("text") == h.getAs[String]("text"))
      assert(c.getAs[String]("source") == h.getAs[String]("source"))
      assert(c.getAs[Double]("score") ==
        math.round(h.getAs[Double]("score") * 1e4) / 1e4)
    }
  }

  test("search with source filter restricts candidates") {
    val hits = Engine.search(index, "transfer credits", 5, sourceFilter = Some("src3"))
      .collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getAs[String]("source") == "src3"))
  }

  test("stale-tail divergence documented: re-ingesting a SHRUNK document leaves no stale chunks") {
    // The reference never deletes: re-ingesting a doc that shrank from 3 to 1
    // chunks leaves title_1, title_2 behind (SURVEY §1.4.2). Our upsert is
    // replace-by-id, so the shrunken re-ingest REPLACES id _0 but also leaves
    // _1/_2 unless callers re-ingest whole sources via writeIndex (dynamic
    // partition overwrite), which removes them. Assert both behaviors.
    val big = Engine.ingest(Seq((0L, "x" * 1800, "srcZ")).toDF("doc_id", "text", "source"))
    val small = Engine.ingest(Seq((0L, "y" * 100, "srcZ")).toDF("doc_id", "text", "source"))
    assert(big.count() == 3 && small.count() == 1)
    // id-level upsert: stale tail SURVIVES (reference-compatible quirk)
    val merged = Engine.upsert(big, small)
    assert(merged.count() == 3)
    assert(merged.filter($"id" === "srcZ_0_0").select("text").as[String].head() == "y" * 100)
    // source-level re-ingest (writeIndex dynamic overwrite): tail REMOVED
    val path = java.nio.file.Files.createTempDirectory("graft-tail").toString + "/idx"
    Engine.writeIndex(big, path)
    Engine.writeIndex(small, path)
    assert(Engine.readIndex(spark, path).count() == 1)
  }

  test("upsert: replace-by-id, no stale survivors for replaced ids") {
    val existing = Seq(
      ("a_0", "srcA", 0L, 0, "old0"), ("a_1", "srcA", 0L, 1, "old1"),
      ("b_0", "srcB", 1L, 0, "keep")).toDF("id", "source", "doc_id", "chunk_idx", "text")
    val incoming = Seq(
      ("a_0", "srcA", 0L, 0, "new0")).toDF("id", "source", "doc_id", "chunk_idx", "text")
    val merged = Engine.upsert(existing, incoming)
      .select($"id", $"text").as[(String, String)].collect().toMap
    assert(merged == Map("a_0" -> "new0", "a_1" -> "old1", "b_0" -> "keep"))
  }

  test("searchMany: per-query results equal single-query search") {
    val qs = Seq("transfer credits", "spark window agg")
    val batch = Engine.searchMany(index, qs, 3)
      .select($"query", $"rank", $"id").as[(String, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for (q <- qs) {
      val single = Engine.search(index, q, 3).orderBy(desc("score"), asc("id"))
        .select($"id").as[String].collect().toSeq
      assert(batch(q) == single, s"query '$q'")
    }
  }

  test("searchMany / hybridSearchMany: duplicate query strings do not corrupt ranks") {
    val qs = Seq("transfer credits", "transfer credits", "spark window agg")
    val dup = Engine.searchMany(index, qs, 3).collect().map(_.toString).sorted
    val uniq = Engine.searchMany(index, qs.distinct, 3).collect().map(_.toString).sorted
    assert(dup.sameElements(uniq))
    val hDup = Engine.hybridSearchMany(index, qs, 3).collect().map(_.toString).sorted
    val hUniq = Engine.hybridSearchMany(index, qs.distinct, 3).collect().map(_.toString).sorted
    assert(hDup.sameElements(hUniq))
  }

  test("searchWhere: equals search over the pre-filtered index; never returns filtered-out rows") {
    val pred = col("doc_id") % 3 === 0
    val got = Engine.searchWhere(index, "transfer credits", pred, 5)
      .collect().map(_.toString)
    val ref = Engine.search(index.filter(pred), "transfer credits", 5)
      .collect().map(_.toString)
    assert(got.sameElements(ref) && got.length == 5)
    val okIds = index.filter(pred).select("id").as[String].collect().toSet
    val gotRows = Engine.searchWhere(index, "transfer credits", pred, 5)
      .select("id").as[String].collect()
    assert(gotRows.forall(okIds.contains))
  }

  test("searchWhere on a persisted index: source predicate prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sw").toString + "/idx"
    Engine.writeIndex(index, dir)
    val plan = Engine.searchWhere(Engine.readIndex(spark, dir),
        "transfer credits", col("source") === "src3", 5)
      .queryExecution.executedPlan.toString
    // pinned: a PartitionFilters entry on source (file-level pruning);
    // the redundant isnotnull conjunct comes and goes with optimizer
    // session state, so match the pruning itself, not its spelling
    assert("PartitionFilters: \\[[^\\]]*source#\\d+".r.findFirstIn(plan).isDefined, plan)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("searchDiverse: at most one chunk per source; equals window-based reference") {
    val got = Engine.searchDiverse(index, "transfer credits", 5)
      .select($"id", $"source", $"score").as[(String, String, Double)].collect()
    assert(got.map(_._2).distinct.length == got.length, "duplicate source in diversified top-k")
    import org.apache.spark.sql.expressions.Window
    val scored = Engine.score(index, GraftFunctions.hash_embed(lit("transfer credits"), 1024))
      .filter(length($"text") > 0)
    val ref = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy(desc("score"), asc("id"))))
      .filter($"rn" === 1)
      .orderBy(desc("score"), asc("id")).limit(5)
      .select($"id", $"source", $"score").as[(String, String, Double)].collect()
    assert(got.toSeq == ref.toSeq)
  }

  test("searchRadius: exactly the rows at or above the threshold; no sort in the plan") {
    val t = 0.2
    val got = Engine.searchRadius(index, "transfer credits", t)
    val rows = got.select($"id", $"score").as[(String, Double)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 >= t))
    val full = Engine.score(index, GraftFunctions.hash_embed(lit("transfer credits"), 1024))
      .filter(length($"text") > 0)
      .select($"id", $"score").as[(String, Double)].collect()
    assert(rows.map(_._1).toSet == full.filter(_._2 >= t).map(_._1).toSet)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("Exchange"), plan)
  }

  test("searchFacets: per-source counts over top-n sum to n; best_score matches top hit") {
    val n = 50
    val facets = Engine.searchFacets(index, "transfer credits", n)
      .as[(String, Long, Double)].collect()
    assert(facets.map(_._2).sum == n)
    val top1 = Engine.search(index, "transfer credits", 1).collect()(0)
    val bestSrc = top1.getAs[String]("source")
    val bestScore = BigDecimal(top1.getAs[Double]("score"))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(facets.find(_._1 == bestSrc).get._3 == bestScore)
  }

  test("deleteBySource / deleteByIds: removal halves of the lifecycle") {
    val deleted = Engine.deleteBySource(index, Seq("src3"))
    assert(deleted.filter($"source" === "src3").count() == 0)
    assert(deleted.count() == index.count() - index.filter($"source" === "src3").count())
    val ids = index.filter($"doc_id" === 0L).select("id")
    val byId = Engine.deleteByIds(index, ids)
    assert(byId.count() == index.count() - ids.count())
    assert(byId.join(ids, Seq("id")).count() == 0)
  }

  test("deleteSourceAt: drops exactly one partition directory from a persisted index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-del").toString + "/idx"
    Engine.writeIndex(index, dir)
    val before = Engine.readIndex(spark, dir).count()
    val srcCount = Engine.readIndex(spark, dir).filter($"source" === "src5").count()
    assert(srcCount > 0)
    Engine.deleteSourceAt(spark, dir, "src5")
    val after = Engine.readIndex(spark, dir)
    assert(after.count() == before - srcCount)
    assert(after.filter($"source" === "src5").count() == 0)
    assert(!new java.io.File(s"$dir/source=src5").exists())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("searchPage: pages tile the ranking exactly; offset folds into TakeOrderedAndProject") {
    val all = Engine.search(index, "transfer credits", 15)
      .select($"id").as[String].collect().toSeq
    val paged = (0 until 3).flatMap { p =>
      Engine.searchPage(index, "transfer credits", p, 5)
        .select($"id").as[String].collect()
    }
    assert(paged == all, "pages must tile the top-15 ranking")
    val plan = Engine.searchPage(index, "transfer credits", 2, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("compactIndexAt: oversized partitions collapse to one file; rows identical; small ones untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/idx"
    // a many-shuffle-partition write scatters each source across files
    Engine.writeIndex(index.repartition(8), dir)
    def files(src: String): Set[String] = {
      val d = new java.io.File(s"$dir/source=$src")
      d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    assert(files("src1").size > 1, "fixture must start fragmented")
    val before = Engine.readIndex(spark, dir).collect().map(_.toString).sorted
    // one source is pre-compacted to a single file and must not be rewritten
    Engine.compactIndexAt(spark, dir)
    val onceFiles = files("src2")
    assert(onceFiles.size == 1)
    // re-fragment every OTHER source by upserting them back fragmented
    val refrag = Engine.readIndex(spark, dir).filter($"source" =!= "src2").repartition(8)
    refrag.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("source").parquet(dir)
    assert(files("src1").size > 1)
    val compacted = Engine.compactIndexAt(spark, dir)
    assert(!compacted.contains("src2"), "already-compact partition rewritten")
    assert(files("src2") == onceFiles, "untouched partition's files changed")
    assert(files("src1").size == 1)
    val after = Engine.readIndex(spark, dir).collect().map(_.toString).sorted
    assert(after.sameElements(before), "compaction altered the data")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("hybridSearchBlend: normalized scores in [0,1]; alpha=1 reduces to the vector ranking") {
    val got = Engine.hybridSearchBlend(index, "transfer credits", 5)
      .as[(String, Option[Double], Option[Double], Double)].collect()
    assert(got.length == 5)
    for ((_, nv, nl, b) <- got) {
      nv.foreach(v => assert(v >= 0.0 && v <= 1.0))
      nl.foreach(v => assert(v >= 0.0 && v <= 1.0))
      assert(b >= 0.0 && b <= 1.0)
    }
    val alphaOne = Engine.hybridSearchBlend(index, "transfer credits", 5, alpha = 1.0)
      .select($"id").as[String].collect().toSeq
    val vecOnly = Engine.search(index, "transfer credits", 5)
      .select($"id").as[String].collect().toSeq
    assert(alphaOne == vecOnly, "alpha=1 must rank exactly like the vector leg")
  }

  test("searchSnippets: snippet window contains the matched term at the right offset") {
    val rows = Engine.searchSnippets(index, "transfer credits", 5)
      .as[(Int, String, Option[String], Option[Int], String)].collect()
    assert(rows.length == 5)
    val texts = index.select($"id", $"text").as[(String, String)].collect().toMap
    for ((_, id, term, pos, snippet) <- rows) {
      (term, pos) match {
        case (Some(t), Some(p)) =>
          assert(texts(id).toLowerCase.indexOf(t) == p - 1, s"pos off for $id")
          assert(snippet.toLowerCase.contains(t), s"snippet for $id misses '$t'")
          assert(snippet.length <= 120)
        case (None, None) => assert(snippet.isEmpty)
        case other => fail(s"inconsistent match fields: $other")
      }
    }
    // keyword-less query: hits still come back, with empty highlight fields
    val bare = Engine.searchSnippets(index, "!!!", 3)
      .as[(Int, String, Option[String], Option[Int], String)].collect()
    assert(bare.length == 3 && bare.forall(r => r._3.isEmpty && r._5.isEmpty))
  }

  test("recommend: examples excluded; single-positive case matches driver-side cosine ranking") {
    val all = index.select($"id", $"embedding").as[(String, Array[Float])]
      .collect().toMap
    val seed = all.keys.min
    val got = Engine.recommend(index, Seq(seed), Nil, 5)
      .as[(String, String, Double)].collect()
    assert(got.length == 5 && !got.exists(_._1 == seed), "seed id must be excluded")
    // with one positive and no negatives the query vector IS the seed's
    // embedding (as f64), so ranking must equal plain cosine-to-seed
    val qv = all(seed).map(_.toDouble)
    val want = all.toSeq.filter(_._1 != seed)
      .map { case (id, e) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < e.length) {
          dot += e(i).toDouble * qv(i); na += e(i).toDouble * e(i).toDouble
          nb += qv(i) * qv(i); i += 1
        }
        (id, if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb)))
      }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got.map(_._1).toSeq == want)
    // a negative example must also be excluded and must shift the ranking
    val neg = all.keys.max
    val withNeg = Engine.recommend(index, Seq(seed), Seq(neg), 5)
      .as[(String, String, Double)].collect()
    assert(!withNeg.exists(r => r._1 == seed || r._1 == neg))
  }

  test("searchResponseMany: per-query rows equal single-query searchResponse") {
    val qs = Seq("transfer credits", "spark window agg")
    val many = Engine.searchResponseMany(index, qs, 3)
      .collect().map(r => r.getAs[String]("query") -> r.toString).toMap
    for (q <- qs) {
      val single = Engine.searchResponse(index, q, 3).collect()(0).toString
      assert(many(q) == single, s"query '$q'")
    }
  }

  test("indexFsck: clean index reports zeros; planted defects are counted") {
    val clean = Engine.indexFsck(index).collect()(0)
    assert(clean.getAs[Long]("n_duplicate_ids") == 0)
    assert(clean.getAs[Long]("n_bad_embeddings") == 0)
    assert(clean.getAs[Long]("n_empty_text") == 0)
    assert(clean.getAs[Long]("n_null_source") == 0)
    assert(clean.getAs[Long]("n_rows") == index.count())
    val someId = index.orderBy("id").select($"id").as[String].head()
    val bad = Seq(
      (someId, null: String, "", Array.fill(1024)(0.0f)),
      ("odd_dim", "srcZ", "x", Array.fill(3)(0.5f)))
      .toDF("id", "source", "text", "embedding")
    val report = Engine.indexFsck(
      index.select("id", "source", "text", "embedding").unionByName(bad)).collect()(0)
    assert(report.getAs[Long]("n_duplicate_ids") == 1)
    assert(report.getAs[Long]("n_bad_embeddings") == 1)
    assert(report.getAs[Long]("n_empty_text") == 1)
    assert(report.getAs[Long]("n_null_source") == 1)
  }

  test("versioned index: commit/flip/prune — readers pin or follow _LATEST") {
    val root = java.nio.file.Files.createTempDirectory("graft-ver").toString + "/idx"
    assert(Engine.latestVersion(spark, root).isEmpty)
    val v1 = Engine.writeIndexVersioned(index, root)
    assert(v1 == 1 && Engine.latestVersion(spark, root).contains(1))
    assert(Engine.readIndexLatest(spark, root).count() == index.count())
    // reindex with fewer rows: v2 becomes latest, v1 stays pinned-readable
    val v2 = Engine.writeIndexVersioned(index.filter($"source" =!= "src1"), root)
    assert(v2 == 2 && Engine.latestVersion(spark, root).contains(2))
    val latest = Engine.readIndexLatest(spark, root)
    assert(latest.filter($"source" === "src1").count() == 0)
    assert(Engine.readIndex(spark, s"$root/v=1").count() == index.count())
    // a third commit, then prune to 2 versions: only v1 drops
    Engine.writeIndexVersioned(index, root)
    val dropped = Engine.pruneIndexVersions(spark, root, keep = 2)
    assert(dropped == Seq(1))
    assert(!new java.io.File(s"$root/v=1").exists())
    assert(Engine.latestVersion(spark, root).contains(3))
    assert(Engine.readIndexLatest(spark, root).count() == index.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("versioned index: a crashed writer's partial next version is never served") {
    val root = java.nio.file.Files.createTempDirectory("graft-ver").toString + "/idx"
    Engine.writeIndexVersioned(index, root)
    // a writer that died mid-write left one partition of v=2 behind
    Engine.writeIndex(index.limit(1).withColumn("source", lit("stale")), s"$root/v=2")
    val src = index.select("source").as[String].head()
    val batch = index.filter($"source" === src)
    Engine.writeIndexVersioned(batch, root)
    val served = Engine.readIndexLatest(spark, root)
    assert(served.filter($"source" === "stale").count() == 0)
    assert(served.count() == batch.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("versioned index: prune keeps the genuine predecessor, drops a crashed version above it") {
    val root = java.nio.file.Files.createTempDirectory("graft-ver").toString + "/idx"
    Engine.writeIndexVersioned(index, root)
    Engine.writeIndexVersioned(index, root)
    // a crashed, never-committed v=3 above the serving v=2
    Engine.writeIndex(index.limit(1), s"$root/v=3")
    assert(Engine.pruneIndexVersions(spark, root, keep = 2) == Seq(3))
    assert(new java.io.File(s"$root/v=1").exists())
    assert(!new java.io.File(s"$root/v=3").exists())
    assert(Engine.latestVersion(spark, root).contains(2))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("versioned index: readers racing 40 back-to-back commits always see a committed version") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
    val root = java.nio.file.Files.createTempDirectory("graft-ver").toString + "/idx"
    val src = index.select("source").as[String].head()
    val batch = index.filter($"source" === src).coalesce(1)
    val committed = new AtomicInteger(Engine.writeIndexVersioned(batch, root))
    val done = new AtomicBoolean(false)
    val reads = new AtomicLong(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val servedVersion = "/v=(\\d+)/".r
    def reader(read: () => Int): Thread = {
      val t = new Thread(() =>
        while (!done.get) {
          try {
            val v = read()
            // read the counter AFTER the version: the writer bumps it only
            // once its commit returned, so a committed v is at most one
            // ahead of it
            val c = committed.get
            if (v < 1 || v > c + 1) failures.add(s"served v=$v with $c committed")
          } catch { case e: Throwable => failures.add(e.toString) }
          reads.incrementAndGet()
        })
      t.start()
      t
    }
    val readers = Seq(
      reader(() => Engine.latestVersion(spark, root).getOrElse(-1)),
      reader(() => servedVersion.findFirstMatchIn(
        Engine.readIndexLatest(spark, root).inputFiles.head).get.group(1).toInt))
    try (1 to 40).foreach(_ => committed.set(Engine.writeIndexVersioned(batch, root)))
    finally {
      done.set(true)
      readers.foreach(_.join())
    }
    assert(failures.isEmpty,
      s"${failures.size} of ${reads.get} reads failed, e.g. ${failures.peek()}")
    assert(reads.get > 40)
    assert(Engine.latestVersion(spark, root).contains(41))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("stats: per-source counts sum to total; dimension constant") {
    val bySource = Engine.statsBySource(index).as[(String, Long)].collect().toMap
    val total = Engine.statsTotal(index).collect()(0)
    assert(bySource.values.sum == total.getAs[Long]("total_vector_count"))
    assert(total.getAs[Int]("dimension") == 1024)
    assert(bySource.size == 20)
  }

  test("empty query / empty index edge behavior") {
    val empty = index.filter(lit(false))
    assert(Engine.search(empty, "q", 5).count() == 0)
    val resp = Engine.searchResponse(empty, "q", 5).collect()(0)
    assert(resp.getAs[Long]("total_results") == 0L)
    assert(resp.getAs[String]("context") == "")
  }

  test("hybridSearch: RRF fuses both legs; single-leg hits carry one term") {
    val hits = Engine.hybridSearch(index, "transfer credits", k = 10, nLeg = 20)
      .collect()
    assert(hits.nonEmpty && hits.length <= 10)
    // rrf descends and matches the fused formula for every returned row
    val rrfs = hits.map(_.getAs[Double]("rrf"))
    assert(rrfs.sameElements(rrfs.sortBy(-_)))
    for (r <- hits) {
      val rv = Option(r.getAs[Integer]("rnk_vec")).map(_.toInt)
      val rl = Option(r.getAs[Integer]("rnk_lex")).map(_.toInt)
      assert(rv.nonEmpty || rl.nonEmpty)
      val expect = rv.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rl.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-6)
    }
    // a doc in BOTH legs outranks the same ranks taken singly: both-leg rrf
    // 1/(60+a)+1/(60+b) > max single-leg 1/(60+min(a,b))
    val both = hits.filter(r => r.get(1) != null && r.get(2) != null)
    if (both.nonEmpty) assert(hits.head.get(1) != null || hits.head.get(2) != null)
    // determinism
    val again = Engine.hybridSearch(index, "transfer credits", k = 10, nLeg = 20)
      .collect().map(_.toString)
    assert(again.sameElements(hits.map(_.toString)))
    // a query whose keywords match nothing still returns the vector leg
    // (lexical leg empty; rnk_lex all null)
    val noLex = Engine.hybridSearch(index, "zzzqqqxxx", k = 5).collect()
    assert(noLex.nonEmpty)
    assert(noLex.forall(_.get(2) == null))
    assert(noLex.forall(_.get(1) != null))
    // punctuation strips from keywords rather than dropping the term: the
    // lexical leg of "table!?" still matches docs containing table
    // (the raw query embeds differently, so only the lex leg is comparable)
    val punct = Engine.hybridSearch(index, "table!?", k = 10).collect()
    assert(punct.exists(_.get(2) != null),
      "punctuated keyword must still drive the lexical leg")
  }

  test("hybridSearch: keyword-less query degrades to the vector leg") {
    // the reference accepts any non-empty query (main.py:317-318) — "!!!"
    // has no alphanumeric keyword, so hybrid serves the vector leg alone
    // instead of failing
    val hits = Engine.hybridSearch(index, "!!!", k = 5).collect()
    assert(hits.length == 5)
    assert(hits.forall(_.get(2) == null), "no lexical ranks for a keyword-less query")
    assert(hits.forall(_.get(1) != null), "every hit must come from the vector leg")
    // ranking equals the pure vector search's ranking for the same query
    val vec = Engine.search(index, "!!!", 5).collect().map(_.getAs[String]("id"))
    assert(hits.map(_.getAs[String]("id")).sameElements(vec))
    // the truly-empty query still rejects, as in the reference
    intercept[IllegalArgumentException](Engine.hybridSearch(index, "  ", 5).collect())
  }

  test("hybridSearchMany: per-query results equal single-query hybridSearch") {
    val batch = Seq("transfer credits", "customer order batch", "!!!")
    val many = Engine.hybridSearchMany(index, batch, k = 5)
      .collect().groupBy(_.getAs[String]("query"))
    assert(many.keySet == batch.toSet)
    for (q <- batch) {
      val got = many(q).sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[String]("id"), r.get(3), r.get(4), r.getAs[Double]("rrf")))
      val single = Engine.hybridSearch(index, q, k = 5).collect()
        .map(r => (r.getAs[String]("id"), r.get(1), r.get(2), r.getAs[Double]("rrf")))
      assert(got.sameElements(single), s"batch result for '$q' diverges from hybridSearch")
    }
    // the keyword-less member rides the vector leg only
    assert(many("!!!").forall(_.get(4) == null))
    // no WindowExec in the ranking path — GroupedTopK ranks both legs
    val plan = Engine.hybridSearchMany(index, batch, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") || !plan.contains("No Partition Defined"),
      "batch ranking must not global-sort")
  }

  test("embedding column is not carried past the projection (column pruning)") {
    val plan = Engine.search(index, "q", 5).queryExecution.optimizedPlan.toString
    // final output has no embedding column
    assert(!Engine.search(index, "q", 5).columns.contains("embedding"))
    assert(plan.nonEmpty)
  }

  test("hybridServingScored: RRF fusion of a persisted-IVF-PQ probe and a pre-scored lex frame equals a hand fusion") {
    import graft.operators.{Similarity, TextAnalysis}
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val dir = Similarity.ensurePersistedIvfPq(spark, emb, TestSpark.sf0001)
    val (coarse, pq) = Similarity.loadIvfPqAt(spark, dir)
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_embedding"))
    val termsBy = Seq(0L -> Seq("join", "hash"), 1L -> Seq("customer"))
    val (k, nLeg, kRrf) = (4, 5, 60)
    // the batch's lexical side as ONE scored (query_id, doc_id, bm25) frame
    val lexScored = termsBy.map { case (qid, ts) =>
      TextAnalysis.bm25(docs, ts)
        .select(lit(qid).as("query_id"), col("doc_id"), col("bm25"))
    }.reduce(_ unionByName _)
    def serve(batchSize: Int) = Engine.hybridServingScored(coarse, pq,
      queries, batchSize, lexScored, k = k, nLeg = nLeg)
    val got = serve(termsBy.size)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int]), r.getDouble(4)))
    assert(got.nonEmpty)
    // hand fusion from the two legs' own outputs
    val vecRnk = Similarity.ivfPqProbe(coarse, pq, queries, nLeg)
      .select("query_id", "vec_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val lexRnk = termsBy.flatMap { case (qid, ts) =>
      TextAnalysis.bm25(docs, ts).filter(col("bm25") > 0)
        .select("doc_id", "bm25").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, s) => (-s, id) }.take(nLeg).zipWithIndex
        .map { case ((id, _), i) => (qid, id) -> (i + 1) }
    }.toMap
    val expected = (vecRnk.keySet ++ lexRnk.keySet).toSeq.map { key =>
      val rv = vecRnk.get(key); val rl = lexRnk.get(key)
      val rrf = rv.map(r => 1.0 / (kRrf + r)).getOrElse(0.0) +
        rl.map(r => 1.0 / (kRrf + r)).getOrElse(0.0)
      (key._1, key._2, rv, rl, rrf)
    }.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._5, r._2)).take(k)
    }.map(r => (r._1, r._2, r._3, r._4,
      BigDecimal(r._5).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got.sorted.sameElements(expected.sorted),
      s"fusion diverges: got=${got.toSeq.sorted} expected=${expected.sorted}")
    // both legs contributed somewhere, and a missing leg reads as null
    assert(got.exists(_._3.isEmpty) || got.exists(_._4.isEmpty))
    assert(got.exists(r => r._3.nonEmpty && r._4.nonEmpty) ||
      got.exists(_._3.nonEmpty))
    // ranking path is GroupedTopK, never a global window
    val plan = serve(termsBy.size).queryExecution.optimizedPlan
    assert(graft.tools.PlanAudit.globalWindowFindings(plan).isEmpty,
      "hybridServingScored must not plan a SinglePartition window")
    // the request size is outside input, so the bound is ENFORCED, not
    // documented: an oversized or empty batch is rejected before any plan
    // is built
    for (n <- Seq(Engine.MaxServingBatch + 1, 0)) {
      val err = intercept[IllegalArgumentException](serve(n))
      assert(err.getMessage.contains("MaxServingBatch"))
    }
  }

  test("hybridServingScored: q306's serving frame builds with 0 Spark jobs and collects in at most 6") {
    // a session of its own: the declared queries tune their session's
    // optimizer settings, which must not leak into later suites
    val session = spark.newSession()
    val q306 = SparkEntry.queries("q306_hybrid_serving_text")
    // the first call builds both stores and fills the per-snapshot memos
    // (centroid rows, codebooks, lex corpus stats); a served batch starts
    // from there
    val want = q306(session, TestSpark.sf0001).collect().map(_.toSeq).toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val df = q306(session, TestSpark.sf0001)
      org.apache.spark.SparkTestHooks.drainListeners(sc)
      val built = jobs.get()
      val got = df.collect().map(_.toSeq).toSet
      org.apache.spark.SparkTestHooks.drainListeners(sc)
      val ran = jobs.get() - built
      assert(built == 0, s"building q306's frame ran $built Spark jobs")
      assert(ran <= 6, s"collecting q306's frame ran $ran Spark jobs, budget 6")
      assert(got == want && got.nonEmpty)
    } finally sc.removeSparkListener(listener)
  }
}
