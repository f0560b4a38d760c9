package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Tables.documents(spark, TestSpark.sf0001).cache()

  test("topTokens: heavy hitters match a driver-side count; deterministic tie order") {
    val k = 15
    val got = TextAnalysis.topTokens(docs, k)
      .as[(String, Long, Long)].collect().toSeq
    val local = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (id, t) => t.split(" ").filter(_.nonEmpty).map(id -> _) }
    val byTok = local.groupBy(_._2).view
      .mapValues(ps => (ps.length.toLong, ps.map(_._1).distinct.length.toLong))
    val want = byTok.toSeq.map { case (t, (n, d)) => (t, n, d) }
      .sortBy { case (t, n, _) => (-n, t) }.take(k)
    assert(got == want)
  }

  test("zipfSlope: crafted geometric corpus matches a driver-side OLS; fixture slope negative") {
    // one source, term counts 8/4/2/1 -> ranks 1..4; recompute the exact
    // fixed-point OLS driver-side
    val crafted = Seq(
      (1L, ("a " * 8 + "b " * 4 + "c " * 2 + "d").trim, "s0")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.zipfSlope(crafted, "source", minTerms = 2)
      .as[(String, Long, Double, Double)].collect()
    assert(got.length == 1 && got(0)._1 == "s0" && got(0)._2 == 4L)
    val cnts = Seq(8L, 4L, 2L, 1L)
    val fx = (v: Double) => math.floor(math.log(v) * 1048576.0 + 0.5).toLong
    val (xs, ys) = (cnts.indices.map(i => fx(i + 1.0)), cnts.map(c => fx(c.toDouble)))
    val n = xs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val slope = (n * sxy - sx.toDouble * sy) / (n * sxx - sx.toDouble * sx)
    val icept = (sy.toDouble - slope * sx) / n / 1048576.0
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0)._3 == r6(slope) && got(0)._4 == r6(icept))
    // real fixture: every source's slope is negative (frequencies decay in
    // rank) and the result is partition-invariant
    val fxr = TextAnalysis.zipfSlope(docs)
      .as[(String, Long, Double, Double)].collect().toSet
    assert(fxr.nonEmpty && fxr.forall(_._3 < 0))
    assert(TextAnalysis.zipfSlope(docs.repartition(7))
      .as[(String, Long, Double, Double)].collect().toSet == fxr)
  }

  test("readability: crafted doc matches driver-side Flesch; fixture partition-invariant") {
    val crafted = Seq((1L, "Hello world. It is sunny!", "s0"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.readability(crafted)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    // tokens 5, sentence runs 2, vowel groups 7 (he-llo wo-rld i-t i-s su-nny)
    assert(got.length == 1)
    val (src, nd, w, s, sy, f) = got(0)
    assert((src, nd, w, s, sy) == (("s0", 1L, 5L, 2L, 7L)))
    val flesch = 206.835 - 1.015 * (5.0 / 2) - 84.6 * (7.0 / 5)
    val fx = math.floor(flesch * 1048576.0 + 0.5).toLong
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(f == r6(fx.toDouble / 1 / 1048576.0))
    // sentence clamp: fragment with no terminator scores against 1 sentence
    val frag = Seq((1L, "just a fragment", "s0")).toDF("doc_id", "text", "source")
    val fr = TextAnalysis.readability(frag)
      .as[(String, Long, Long, Long, Long, Double)].collect()(0)
    assert(fr._4 == 1L && fr._3 == 3L)
    val fxr = TextAnalysis.readability(docs)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(fxr.nonEmpty)
    assert(TextAnalysis.readability(docs.repartition(7))
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet == fxr)
  }

  test("winnowFingerprints: matches a driver-side winnow; shared spans share a fingerprint") {
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def winnow(text: String, k: Int = 8, w: Int = 4): Seq[(Long, String)] = {
      val keys = (1 to text.length - k + 1).map(p =>
        (p.toLong, sha(text.substring(p - 1, p - 1 + k)) + f"${1000000000L - p}%010d"))
      val n = keys.length
      keys.indices.filter(i => i + 1 >= math.min(w, n)).map { i =>
        keys.slice(math.max(0, i - w + 1), i + 1).map(_._2).min
      }.distinct.map(mk => (1000000000L - mk.substring(64).toLong, mk.substring(0, 64)))
        .sortBy(_._1)
    }
    val t1 = "the quick brown fox jumps over the lazy dog"
    val t2 = "filler quick brown fox jumps pad" // shares an 11+ char span with t1
    val short = "abcdefghij"                   // 3 grams < w -> one fingerprint
    val crafted = Seq((1L, t1, "s0"), (2L, t2, "s0"), (3L, short, "s0"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.winnowFingerprints(crafted)
      .as[(Long, Long, Long, Double, String)].collect().map(r => r._1 -> r).toMap
    for ((id, t) <- Seq(1L -> t1, 2L -> t2, 3L -> short)) {
      val want = winnow(t)
      assert(got(id)._2 == t.length - 7L && got(id)._3 == want.length.toLong)
      assert(got(id)._5 == sha(want.map(_._2).mkString))
    }
    assert(got(3L)._3 == 1L)
    assert(winnow(t1).map(_._2).toSet.intersect(winnow(t2).map(_._2).toSet).nonEmpty)
    val fxr = TextAnalysis.winnowFingerprints(docs)
      .as[(Long, Long, Long, Double, String)].collect().toSet
    assert(fxr.nonEmpty && fxr.forall(r => r._3 > 0 && r._3 <= r._2))
    assert(TextAnalysis.winnowFingerprints(docs.repartition(7))
      .as[(Long, Long, Long, Double, String)].collect().toSet == fxr)
  }

  test("termBurstiness: clumped term ranks above spread term; counts exact") {
    val crafted = (1 to 6).map(i => (i.toLong, "spread filler" +
        (if (i <= 2) " clump clump clump clump clump clump" else ""), "s0"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.termBurstiness(crafted, minDf = 2, k = 5)
      .as[(String, Long, Long, Double)].collect()
    val byTok = got.map(r => r._1 -> r).toMap
    assert(byTok("clump") == (("clump", 12L, 2L, 6.0)))
    assert(byTok("spread") == (("spread", 6L, 6L, 1.0)))
    assert(got.head._1 == "clump", "clumped term must rank first")
    // fixture sanity: ratios >= 1, ranked desc, df >= minDf
    val fxr = TextAnalysis.termBurstiness(docs)
      .as[(String, Long, Long, Double)].collect()
    assert(fxr.nonEmpty && fxr.forall(r => r._4 >= 1.0 && r._3 >= 5))
    assert(fxr.map(_._4).sameElements(fxr.map(_._4).sortBy(-_)))
  }

  test("tokenStats: counts match a driver-side split") {
    val got = TextAnalysis.tokenStats(docs)
      .as[(Long, Int, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    val local = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val subRe = TextAnalysis.subtokenRegex.r
    for ((id, text) <- local) {
      val toks = text.split(" ").filter(_.nonEmpty)
      val (_, n, uniq, sumLen, nSub) = got(id)
      assert(n == toks.length, s"doc $id n_tokens")
      assert(uniq == toks.distinct.length, s"doc $id uniq")
      assert(sumLen == toks.map(_.length).sum, s"doc $id sumlen")
      assert(nSub == subRe.findAllIn(text).length, s"doc $id subtokens")
    }
    // BPE-ish split: mixed content
    val crafted = Seq((1L, "abc123 de-f 9")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenStats(crafted).as[(Long, Int, Int, Int, Int)].head()
    assert(r._5 == 6) // abc,123,de,-,f,9
  }

  test("quality: ratios bounded, zero-token docs score without NaN") {
    val rows = TextAnalysis.qualityScore(docs).collect()
    assert(rows.length == docs.count())
    for (r <- rows) {
      val q = r.getAs[Double]("quality")
      val sr = r.getAs[Double]("stop_ratio")
      assert(!q.isNaN && q >= 0.0 && q <= 1.0)
      assert(sr >= 0.0 && sr <= 1.0)
    }
    // synthetic check on a crafted frame incl. empty text
    val crafted = Seq((1L, "the the xx"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityScore(crafted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("n_tokens") == 3)
    assert(out(1L).getAs[Int]("stop_hits") == 2)
    assert(out(2L).getAs[Double]("stop_ratio") == 0.0)
  }

  test("langId: deterministic, word-salad docs classify as en") {
    val out = TextAnalysis.langId(docs)
    val langs = out.groupBy("predicted_lang").count().as[(String, Long)].collect().toMap
    // the corpus vocabulary contains 'the'/'a' -> en dominates
    assert(langs.keySet.contains("en"))
    assert(langs("en") > docs.count() / 2)
    // crafted per-language fixtures
    val crafted = Seq(
      (1L, "der hund und die katze ist ein tier"),
      (2L, "el perro y la casa de que un por"),
      (3L, "le chien et la maison pour que dans"),
      (4L, "的 是 在 了 和")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(crafted).select($"doc_id", $"predicted_lang")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "de", 2L -> "es", 3L -> "fr", 4L -> "zh"))
  }

  test("normalizeText: lowercases, collapses whitespace runs, trims") {
    val crafted = Seq(
      (1L, "  Hello\t\tWorld \n NEXT  line  "),
      (2L, "already clean")).toDF("doc_id", "text")
    val got = TextAnalysis.normalizeText(crafted)
      .select($"doc_id", $"norm_text", $"n_chars")
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ("hello world next line", 21))
    assert(got(2L) == ("already clean", 13))
  }

  test("redactPii: emails and phones replaced with typed placeholders, counted") {
    val crafted = Seq(
      (1L, "contact bob.smith+x@example.co.uk or call +1 (555) 123-4567 now"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(crafted)
      .select($"doc_id", $"n_emails", $"n_phones", $"redacted")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1)
    assert(got(1L)._3.contains("<EMAIL>") && got(1L)._3.contains("<PHONE>"))
    assert(!got(1L)._3.contains("example.co.uk") && !got(1L)._3.contains("555"))
    assert(got(2L) == (0, 0, "no pii here at all"))
  }

  test("bm25: tf/idf behave; rarer term dominates equal tf; empty doc scores 0") {
    val crafted = Seq(
      (1L, "transfer credit transfer policy"),
      (2L, "credit policy notes"),
      (3L, "unrelated words entirely here"),
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(crafted, Seq("transfer", "credit"))
      .select($"doc_id", $"tf_0", $"tf_1", $"bm25")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 2 && got(1L)._3 == 1) // tf counts
    assert(got(3L)._4 == 0.0 && got(4L)._4 == 0.0)
    assert(got(1L)._4 > got(2L)._4) // more matches, higher score
    // 'transfer' (df=1) carries more idf weight than 'credit' (df=2):
    // a doc with only the rare term outscores one with only the common term
    val single = TextAnalysis.bm25(Seq(
        (1L, "transfer x"), (2L, "credit x"), (3L, "credit y")
      ).toDF("doc_id", "text"), Seq("transfer", "credit"))
      .select($"doc_id", $"bm25").as[(Long, Double)].collect().toMap
    assert(single(1L) > single(2L))
  }

  test("repetitionStats: crafted duplicate lines and n-grams") {
    val crafted = Seq(
      (1L, "a b a b"),            // g2 = [a b, b a, a b] -> dup 1/3
      (2L, "x\ny\nx\n"),          // lines [x, y, x] -> dup 1/3
      (3L, "all distinct words"), // no repetition
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(crafted)
      .select($"doc_id", $"n_lines", $"n_2grams",
        $"dup_line_frac", $"dup_2gram_frac", $"dup_3gram_frac")
      .as[(Long, Int, Int, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 3 && math.abs(got(1L)._5 - 1.0 / 3).abs < 1e-6)
    assert(got(2L)._2 == 3 && math.abs(got(2L)._4 - 1.0 / 3) < 1e-6)
    assert(got(3L)._4 == 0.0 && got(3L)._5 == 0.0 && got(3L)._6 == 0.0)
    assert(got(4L) == ((4L, 0, 0, 0.0, 0.0, 0.0)))
    // g3 duplicate: "a b c a b c a b c" -> g3 x7, distinct 3 -> 4/7
    val g3 = TextAnalysis.repetitionStats(
        Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text"))
      .select($"dup_3gram_frac").as[Double].collect()(0)
    assert(math.abs(g3 - 4.0 / 7) < 1e-6)
  }

  test("surprisalScore: matches a driver-side unigram LM; rare-token docs score higher") {
    val d = Seq(
      (1L, "a a a a"),      // all common tokens
      (2L, "a a a rare"),   // one rare token
      (3L, "a b b a")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.surprisalScore(d)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // driver-side: counts a=9, b=2, rare=1, total=12
    val cnt = Map("a" -> 9L, "b" -> 2L, "rare" -> 1L)
    val total = 12.0
    def fx(t: String): Long =
      math.floor(-math.log(cnt(t) / total) * 1073741824.0 + 0.5).toLong
    def score(toks: Seq[String]): Double =
      (toks.map(fx).sum.toDouble / toks.size) / 1073741824.0
    assert(got(1L)._2 == 4L)
    assert(math.abs(got(1L)._3 - score(Seq("a", "a", "a", "a"))) == 0.0)
    assert(math.abs(got(2L)._3 - score(Seq("a", "a", "a", "rare"))) == 0.0)
    assert(math.abs(got(3L)._3 - score(Seq("a", "b", "b", "a"))) == 0.0)
    assert(got(2L)._3 > got(1L)._3, "rare token must raise surprisal")
  }

  test("boilerplateStats: shared-gram fractions, unique docs at zero, short-doc fallback") {
    val d = Seq(
      (1L, "a b c d e f"),  // grams "a b c d e" (shared with 2), "b c d e f"
      (2L, "a b c d e x"),
      (3L, "p q r s t u"),  // all grams unique
      (4L, "short one"),    // < 5 tokens -> whole-text fallback gram
      (5L, "short one")     // same fallback gram -> boilerplate
    ).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateStats(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 2L, 1L, 0.5)))
    assert(got(3L) == ((3L, 2L, 0L, 0.0)))
    assert(got(4L) == ((4L, 1L, 1L, 1.0)))
    assert(got(5L) == ((5L, 1L, 1L, 1.0)))
    // higher minDocs bar: the 2-doc gram stops counting
    val strict = TextAnalysis.boilerplateStats(d, minDocs = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(strict(1L) == 0L && strict(4L) == 0L)
  }

  test("fingerprint: equal for identical text, stable under prefix padding semantics") {
    val crafted = Seq(
      (1L, "abcdefgh12345678"), (2L, "abcdefgh12345678"), (3L, "completely other")
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(crafted).as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    // empty text still yields a fingerprint (sha of empty substring)
    val e = TextAnalysis.fingerprint(Seq((9L, "")).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    assert(e(9L).nonEmpty)
  }

  test("tfidf: rarer term dominates equal tf; absent terms score 0; tf counts exact") {
    val crafted = Seq(
      (1L, "alpha alpha beta"), (2L, "alpha gamma"), (3L, "alpha delta"), (4L, "other words")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfidf(crafted, Seq("alpha", "beta"))
      .select($"doc_id", $"tf_0", $"tf_1", $"tfidf")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(r(1L)._2 == 2L && r(1L)._3 == 1L)
    assert(r(4L)._2 == 0L && r(4L)._3 == 0L && r(4L)._4 == 0.0)
    // beta (df=1) outweighs one alpha (df=3) at equal tf=1
    val idfAlpha = math.log(5.0 / 4.0); val idfBeta = math.log(5.0 / 2.0)
    val expect1 = BigDecimal(2 * idfAlpha + 1 * idfBeta)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(1L)._4 == expect1)
    assert(idfBeta > idfAlpha)
  }

  test("bigramSurprisal: repeated bigrams score low, novel bigrams high; <2-token docs omitted") {
    val crafted = Seq(
      (1L, "a b a b a b a b"), (2L, "a b a b a b a b"), // common bigrams
      (3L, "x y"),                                       // one novel bigram
      (4L, "solo")                                       // no bigrams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bigramSurprisal(crafted)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(!r.contains(4L))
    assert(r(1L)._2 == 7L && r(3L)._2 == 1L)
    assert(r(3L)._3 > r(1L)._3) // novel bigram is more surprising
  }

  test("hashFeatures: per-doc feature counts sum to token count; index in range; stable") {
    val f = TextAnalysis.hashFeatures(docs, 256).cache()
    val sums = f.groupBy("doc_id").sum("n")
      .as[(Long, Long)].collect().toMap
    val toks = docs.selectExpr("doc_id",
        s"size(${TextAnalysis.tokensExpr}) AS n")
      .as[(Long, Int)].collect().toMap
    assert(toks.forall { case (id, n) => sums.getOrElse(id, 0L) == n.toLong })
    val feats = f.select($"feature").as[Long].collect()
    assert(feats.forall(x => x >= 0 && x < 256))
    f.unpersist()
  }

  test("phraseSearch: consecutive-only matches, overlapping occurrences counted, 3-gram chain") {
    val crafted = Seq(
      (1L, "the quick brown fox"),
      (2L, "quick the brown"),       // words present, order wrong
      (3L, "a the quick b the quick"), // two occurrences
      (4L, "a a a")                  // overlapping self-phrase
    ).toDF("doc_id", "text")
    val two = TextAnalysis.phraseSearch(crafted, Seq("the", "quick"))
      .as[(Long, Long)].collect().toMap
    assert(two == Map(1L -> 1L, 3L -> 2L))
    val three = TextAnalysis.phraseSearch(crafted, Seq("the", "quick", "brown"))
      .as[(Long, Long)].collect().toMap
    assert(three == Map(1L -> 1L))
    val overlap = TextAnalysis.phraseSearch(crafted, Seq("a", "a"))
      .as[(Long, Long)].collect().toMap
    assert(overlap == Map(4L -> 2L)) // positions 0-1 and 1-2
  }

  test("bm25Indexed: equals full-scan bm25 on its hit rows; miss terms contribute zero df") {
    val terms = Seq("join", "hash", "zzznoterm")
    val p = TextAnalysis.postings(docs)
    val dl = TextAnalysis.docLengths(docs)
    val got = TextAnalysis.bm25Indexed(p, dl, terms)
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSet
    val want = TextAnalysis.bm25(docs, terms)
      .filter($"tf_0" + $"tf_1" + $"tf_2" > 0)
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("booleanSearch: AND requires every must-term, NOT excludes, tf exact") {
    val d = Seq(
      (1L, "hash join hash scan"),   // both musts, tf 3
      (2L, "hash scan filter"),      // missing 'join'
      (3L, "join hash slow"),        // musts present but NOT-term hits
      (4L, "join join hash"),        // both musts, tf 3
      (5L, "merge sort"))            // neither
      .toDF("doc_id", "text")
    val got = TextAnalysis.booleanSearch(d, Seq("hash", "join"), Seq("slow"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 4L -> 3L))
    // duplicate must terms don't change the required distinct count
    assert(TextAnalysis.booleanSearch(d, Seq("hash", "hash", "join"), Seq("slow"))
      .as[(Long, Long)].collect().toMap == Map(1L -> 3L, 4L -> 3L))
    // empty mustNot: pure AND
    assert(TextAnalysis.booleanSearch(d, Seq("hash", "join"))
      .as[(Long, Long)].collect().toMap == Map(1L -> 3L, 3L -> 2L, 4L -> 3L))
  }

  test("vocabOov: df threshold splits vocab; rates match a driver-side count") {
    // 'common' in 3 docs, 'mid' in 2, 'rare' in 1
    val d = Seq(
      (1L, "common mid rare rare"),
      (2L, "common mid"),
      (3L, "common"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabOov(d, 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 2L, 0.5)))   // rare x2 OOV of 4
    assert(got(2L) == ((2L, 2L, 0L, 0.0)))
    assert(got(3L) == ((3L, 1L, 0L, 0.0)))
    // minDf = 3: only 'common' stays in-vocab
    val strict = TextAnalysis.vocabOov(d, 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(strict == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("sparseCosinePairs: identical docs hit 1.0; df cap silences boilerplate-only overlap") {
    // docs 1/2 identical; 3 shares only the boilerplate shingle chain with
    // them; 4 unrelated. 7+ tokens -> every doc has >= 5 distinct shingles.
    val boiler = "terms of service apply to all users"
    val d = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"alpha beta gamma delta $boiler"),
      (3L, s"omega psi chi phi $boiler"),
      (4L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val all = TextAnalysis.sparseCosinePairs(d, 0.0, maxDf = 4)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(all((1L, 2L)) == 1.0) // identical vectors
    // 3 shares only df=3 boilerplate shingles with 1/2 -> nonzero but small
    assert(all.get((1L, 3L)).exists(c => c > 0 && c < 0.8))
    assert(!all.keys.exists { case (a, b) => a == 4L || b == 4L }) // no shared shingle
    // df cap at 2: the 3-doc boilerplate shingles leave the vector space,
    // so (1,3) loses its only overlap; (1,2) still 1.0 on their own terms
    val capped = TextAnalysis.sparseCosinePairs(d, 0.0, maxDf = 2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(capped((1L, 2L)) == 1.0)
    assert(!capped.contains((1L, 3L)))
    // threshold filters
    assert(TextAnalysis.sparseCosinePairs(d, 0.99, maxDf = 4)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
  }

  test("tokenPmi: attracted pair positive, independent pair ~0, counts exact") {
    // 'salt pepper' always together (4 docs); 'salt water' once; 'bread'
    // co-occurs with salt in 2 of 4 salt docs
    val d = Seq(
      (1L, "salt pepper"), (2L, "salt pepper"),
      (3L, "salt pepper bread"), (4L, "salt pepper bread water"),
      (5L, "water bread"), (6L, "water"), (7L, "bread"), (8L, "iron"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenPmi(d, 1)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // n=8 docs; salt:4 pepper:4 joint:4 -> pmi = ln(8*4/(4*4)) = ln 2
    val (nAb, pmi) = got(("pepper", "salt"))
    assert(nAb == 4L)
    assert(pmi == math.rint(math.log(2.0) * 1e6) / 1e6)
    // bread:4, water:3, joint:2 -> ln(8*2/(4*3)) = ln(4/3)
    assert(got(("bread", "water"))._2 == math.rint(math.log(4.0 / 3) * 1e6) / 1e6)
    // minPairDocs filters
    assert(!TextAnalysis.tokenPmi(d, 3)
      .as[(String, String, Long, Double)].collect()
      .exists(r => (r._1, r._2) == ("bread", "water")))
  }

  test("classTopTerms: class-exclusive token outranks shared token; k rows per class") {
    val crafted = Seq(
      (1L, "shared shared unique1", "c1"), (2L, "shared shared unique2", "c2")
    ).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.classTopTerms(crafted, "lang", 2)
      .select($"lang", $"token", $"rank").as[(String, String, Int)].collect()
    assert(r.count(_._1 == "c1") == 2 && r.count(_._1 == "c2") == 2)
    // tf(shared)=2 vs tf(unique)=1 but unique is class-exclusive; with C=2:
    // shared: 2*ln(3/3+1)=2ln2 ~ 1.386; unique: 1*ln(3/2+1)=ln2.5 ~ 0.916
    // so shared still wins on tf here — ranks are deterministic either way
    val c1 = r.filter(_._1 == "c1").sortBy(_._3).map(_._2).toSeq
    assert(c1 == Seq("shared", "unique1"))
  }

  test("gopherQuality: crafted stats exact; degenerate repetition drops, diverse text keeps") {
    val diverse = (1 to 25).map(i => s"word$i").mkString(" ") // 25 unique words
    val looped = Seq.fill(20)("spam spam").mkString(" ") // 40 words, 1 distinct
    val crafted = Seq((1L, diverse), (2L, looped), (3L, "ab cd ab cd"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(crafted)
      .as[(Long, Long, Double, Double, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 25L, 5.64, 1.0, 0.04, 0.0, 1L)))
    // looped: mwl=4, frac_unique=1/40, top=40/40, dup_bigram 1-1/39
    assert(got(2L) == ((2L, 40L, 4.0, 0.025, 1.0, 0.974359, 0L)))
    // 4 words, 2 distinct; bigrams: "ab cd","cd ab","ab cd" -> 1/3 dup
    assert(got(3L) == ((3L, 4L, 2.0, 0.5, 0.5, 0.333333, 0L)))
    assert(got(4L) == ((4L, 0L, 0.0, 0.0, 0.0, 0.0, 0L))) // empty: all-zero, dropped
  }

  test("gopherQuality on the fixture: keep verdict matches recomputing the rules by hand") {
    val got = TextAnalysis.gopherQuality(docs)
      .as[(Long, Long, Double, Double, Double, Double, Long)].collect()
    assert(got.exists(_._7 == 1L) && got.exists(_._7 == 0L), "thresholds must split the corpus")
    for (r <- got) {
      val expect = r._2 >= 20 && r._3 >= 3.0 && r._3 <= 10.0 &&
        r._4 >= 0.45 && r._5 <= 0.1 && r._6 <= 0.03
      assert(r._7 == (if (expect) 1L else 0L), s"doc ${r._1}")
    }
  }

  test("tokenDrift: smoothed probabilities and KL terms match a driver-side model") {
    val crafted = Seq(
      (0L, "x x y"), (2L, "x z"), // side a (even ids): x:3 y:1 z:1, t_a=5
      (1L, "x y y"), (3L, "w")) // side b: x:1 y:2 w:1, t_b=4
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenDrift(crafted)
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set("x", "y", "z", "w"))
    val v = 4
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((tok, na, nb) <- Seq(("x", 3L, 1L), ("y", 1L, 2L), ("z", 1L, 0L), ("w", 0L, 1L))) {
      val pa = (na + 1).toDouble / (5 + v)
      val pb = (nb + 1).toDouble / (4 + v)
      val row = got(tok)
      assert((row._2, row._3) == ((na, nb)), tok)
      assert(row._4 == r6(pa) && row._5 == r6(pb), tok)
      assert(row._6 == r6(pa * math.log(pa / pb)), tok)
    }
    // mass that moved a -> b carries positive KL(a||b); the reverse negative
    assert(got("x")._6 > 0 && got("w")._6 < 0)
  }

  test("vocabOovCurve: covered mass and OOV at crafted cutoffs; oversize cutoff clamps to full vocab") {
    // freqs: a:5, b:3, c:1 -> T=9, V=3; ranks a(5), b(8), c(9)
    val crafted = Seq((1L, "a a a b b c"), (2L, "a a b")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabOovCurve(crafted, Seq(1, 2, 5))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 5L, 0.444444)))
    assert(got(2L) == ((2L, 8L, 0.111111)))
    assert(got(5L) == ((5L, 9L, 0.0))) // clamped to V=3: everything covered
  }

  test("vocabOovCurve: monotone on the fixture and consistent with topTokens mass") {
    val got = TextAnalysis.vocabOovCurve(docs, Seq(10, 50, 100))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).sliding(2).forall(p => p.head <= p.last))
    assert(got.map(_._3).sliding(2).forall(p => p.head >= p.last))
    val top10 = TextAnalysis.topTokens(docs, 10)
      .as[(String, Long, Long)].collect().map(_._2).sum
    assert(got.head._2 == top10, "covered@10 equals the top-10 token mass")
  }

  test("tokenDispersion: bursty token VMR high, evenly spread token VMR 0") {
    // x: tf 4 in one of 3 docs -> vmr = (16 - 16/3)/4; y: tf 1 in all 3 -> 0
    val crafted = Seq((1L, "x x x x y"), (2L, "y"), (3L, "y z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenDispersion(crafted)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val vmrX = BigDecimal((16.0 - 16.0 / 3) / 4)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("x") == (("x", 1L, 4L, vmrX)))
    assert(got("y") == (("y", 3L, 3L, 0.0)))
    assert(got("z") == (("z", 1L, 1L, 0.666667))) // (1 - 1/3) / 1
  }

  test("skipGrams: pair set, counts and harmonic micro-unit weights on a crafted doc") {
    val crafted = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.skipGrams(crafted, window = 3, minCount = 1)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got == Map(
      ("a", "b") -> ((1L, 1.0)), ("a", "c") -> ((1L, 0.5)),
      ("a", "d") -> ((1L, 0.333333)), ("b", "c") -> ((1L, 1.0)),
      ("b", "d") -> ((1L, 0.5)), ("c", "d") -> ((1L, 1.0))))
    // repetition accumulates: "a b a b" -> (a,b) at d=1 (twice) and d=3
    val rep = TextAnalysis.skipGrams(Seq((1L, "a b a b")).toDF("doc_id", "text"), 3, 1)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(rep(("a", "b")) == ((3L, 2.333333))) // 1 + 1 + 1/3
    assert(rep(("b", "a")) == ((1L, 1.0)))
    assert(rep(("a", "a")) == ((1L, 0.5)) && rep(("b", "b")) == ((1L, 0.5)))
  }

  test("sourceEntropy: crafted counts match the fixed-point formula; fixture invariants") {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fx(v: Double) = math.floor(math.log(v) * 1048576.0 + 0.5).toLong
    // counts 2,2 over N=4: H = ln4 − (2·fx(ln2)+2·fx(ln2))/4/2^20, TTR = 1/2
    val crafted = Seq((1L, "a a b b", "s0")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceEntropy(crafted)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    val h = r6(math.log(4.0) - (4 * fx(2.0)).toDouble / 4 / 1048576.0)
    assert(got == Seq(("s0", 4L, 2L, h, 0.5)))
    // uniform singletons maximize entropy at ln N exactly (fx(ln 1) = 0)
    val uni = Seq((1L, "a b c d", "s0")).toDF("doc_id", "text", "source")
    assert(TextAnalysis.sourceEntropy(uni)
      .as[(String, Long, Long, Double, Double)].collect().toSeq ==
      Seq(("s0", 4L, 4L, r6(math.log(4.0)), 1.0)))
    // fixture: 0 <= H <= ln(n_tokens), 0 < ttr <= 1, partition-invariant
    val fxr = TextAnalysis.sourceEntropy(docs)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(fxr.nonEmpty && fxr.forall(r =>
      r._4 >= 0.0 && r._4 <= math.log(r._2.toDouble) + 1e-6 &&
      r._5 > 0.0 && r._5 <= 1.0))
    assert(TextAnalysis.sourceEntropy(docs.repartition(7))
      .as[(String, Long, Long, Double, Double)].collect().toSeq == fxr)
  }

  test("subwordFertility: crafted counts exact; fixture fertility >= 1 and partition-invariant") {
    // "ab2 cd!" -> 2 words; subtokens: ab, 2, cd, ! -> 4; plus a
    // words-only doc in another language
    val crafted = Seq((1L, "ab2 cd!", "xx", "s0"), (2L, "ab cd", "yy", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.subwordFertility(crafted)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("xx", 1L, 2L, 4L, 2.0), ("yy", 1L, 2L, 2L, 1.0)))
    // fixture: every whitespace word yields >= 1 subtoken, so fertility >= 1
    val fxr = TextAnalysis.subwordFertility(docs)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(fxr.nonEmpty && fxr.forall(_._5 >= 1.0))
    assert(TextAnalysis.subwordFertility(docs.repartition(7))
      .as[(String, Long, Long, Long, Double)].collect().toSeq == fxr)
  }

  test("jsdSources: identical distributions -> 0, disjoint -> ln 2; fixture invariants") {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val same = Seq((1L, "x y", "sA"), (2L, "x y", "sB"))
      .toDF("doc_id", "text", "source")
    assert(TextAnalysis.jsdSources(same)
      .as[(String, String, Long, Double)].collect().toSeq ==
      Seq(("sA", "sB", 2L, 0.0)))
    val disjoint = Seq((1L, "x x", "sA"), (2L, "y y", "sB"))
      .toDF("doc_id", "text", "source")
    assert(TextAnalysis.jsdSources(disjoint)
      .as[(String, String, Long, Double)].collect().toSeq ==
      Seq(("sA", "sB", 0L, r6(math.log(2.0)))))
    // fixture: all S·(S−1)/2 ordered pairs, values in [0, ln 2],
    // partition-invariant
    val fxr = TextAnalysis.jsdSources(docs)
      .as[(String, String, Long, Double)].collect().toSeq
    val s = docs.select("source").distinct().count()
    assert(fxr.length == s * (s - 1) / 2)
    assert(fxr.forall(r => r._1 < r._2 && r._4 >= 0.0 &&
      r._4 <= math.log(2.0) + 1e-6))
    assert(TextAnalysis.jsdSources(docs.repartition(7))
      .as[(String, String, Long, Double)].collect().toSeq == fxr)
  }

  test("langIdConfusion: cells reproduce a langId-label rollup; shares sum to 1 per label") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val got = TextAnalysis.langIdConfusion(docs)
      .as[(String, String, Long, Double)].collect().toSeq
    val pred = TextAnalysis.langId(docs).select("doc_id", "predicted_lang")
      .as[(Long, String)].collect().toMap
    val lab = docs.select("doc_id", "lang").as[(Long, String)].collect()
    val want = lab.groupBy(r => (r._2, pred(r._1))).view
      .mapValues(_.length.toLong).toMap
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == want && got.nonEmpty)
    assert(got.map(_._3).sum == lab.length) // every doc lands in one cell
    got.groupBy(_._1).values.foreach { rs =>
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-4) }
    // output is deterministically ordered
    assert(got == got.sortBy(r => (r._1, r._2)))
  }
}
