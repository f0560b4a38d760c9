package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Straight-line reference BPE on an in-memory vocab: symbol vectors,
    * adjacent-pair counting (every position, overlaps included), argmax by
    * (count desc, lhs, rhs), greedy leftmost non-overlapping merge. */
  private def refBpe(vocab: Map[String, Long], merges: Int)
      : Seq[(Int, String, String, Long)] = {
    var syms: Map[Vector[String], Long] =
      vocab.map { case (w, n) => (w.map(_.toString).toVector :+ Bpe.Eow) -> n }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (it <- 1 to merges) {
      val counts = collection.mutable.Map[(String, String), Long]()
      for ((s, n) <- syms; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + n
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((it, l, r, c))
        syms = syms.groupMapReduce { case (s, _) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += s(i); i += 1 }
          }
          b.result()
        }(_._2)(_ + _)
      }
    }
    out.result()
  }

  private val corpus = Seq(
    "low low low low low lower lower newest newest newest",
    "newest newest newest widest widest widest",
    "the the the the a a b repeat repeat aaa aaa aaa")

  test("bpeMerges matches a straight-line reference implementation") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val vocab = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val want = refBpe(vocab, 10)
    val got = Bpe.bpeMerges(docs, 10)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === want)
  }

  test("same-schema in-memory corpora with the same merges each get their own trajectory") {
    // in-memory frames carry no input files and canonicalize alike whatever
    // their rows, so the merge memo must never serve one for the other
    Seq("aaaa aaaa aaaa bbbb", "xyxy xyxy zzzz qqqq").foreach { text =>
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val vocab = text.split(" ").groupBy(identity)
        .map { case (w, ws) => w -> ws.size.toLong }
      val got = Bpe.bpeMerges(docs, 2)
        .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
      assert(got === refBpe(vocab, 2), s"corpus '$text'")
    }
  }

  test("overlapping pairs merge greedily left-to-right (aaa -> aa + a)") {
    val docs = Seq((1L, "aa aaa aaaa")).toDF("doc_id", "text")
    // pair (a,a) counts every adjacency: 1 + 2 + 3 = 6
    val m = Bpe.bpeMerges(docs, 1).as[(Int, String, String, Long)].head()
    assert(m === ((1, "a", "a", 6L)))
    val tok = Bpe.bpeTokenize(docs, 1, 10)
      .select("word", "tokens").as[(String, String)].collect().toMap
    assert(tok("aa") === "aa </w>")
    assert(tok("aaa") === "aa a </w>", "greedy: first two merge, tail stays")
    assert(tok("aaaa") === "aa aa </w>")
  }

  test("tokenize output is consistent with the merge table's trajectory") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = Bpe.bpeTokenize(docs, 8, 50).collect()
    rows.foreach { r =>
      val word = r.getString(0)
      val toks = r.getString(2).split(" ")
      assert(toks.mkString("") === word + Bpe.Eow,
        s"symbols must reassemble '$word'")
      assert(r.getInt(3) === toks.length)
    }
  }

  test("non-ascii words are excluded from the vocab, ascii ones survive") {
    val docs = Seq((1L, "café cafe cafe")).toDF("doc_id", "text")
    val m = Bpe.bpeMerges(docs, 2).as[(Int, String, String, Long)].collect()
    assert(m.forall { case (_, l, r, _) => (l + r).forall(c => c >= ' ' && c <= '~') })
  }

  test("bpeTokenCount: per-doc sums equal the per-word symbolization; UNK words count 1") {
    val docs = Seq(
      (1L, "aa aaa aa"),        // all-vocab words
      (2L, "aa café aaa"))      // café: non-ascii -> UNK, 1 symbol
      .toDF("doc_id", "text")
    // per-word symbol counts from the (already trajectory-consistent)
    // tokenize probe
    val nsym = Bpe.bpeTokenize(docs, 2, 100)
      .select("word", "n_symbols").as[(String, Int)].collect().toMap
    val got = Bpe.bpeTokenCount(docs, 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val d1 = 2L * nsym("aa") + nsym("aaa")
    assert(got(1L) == ((3L, d1, 0L)))
    assert(got(2L) == ((3L, nsym("aa") + nsym("aaa") + 1L, 1L)))
    // fixture: n_tokens >= n_words always (a word is >= 1 symbol), and
    // whitespace counts genuinely diverge from tokenizer counts somewhere
    val real = Tables.documents(spark, TestSpark.sf0001)
    val fx = Bpe.bpeTokenCount(real, 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(fx.nonEmpty && fx.forall(r => r._3 >= r._2 && r._4 >= 0))
    assert(fx.exists(r => r._3 > r._2))
  }
}
