package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout

class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def morton(a: Long, b: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("zValue: matches a driver-side Morton encode and round-trips to (a, b)") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 7L)).toDF("a", "b")
    val got = Layout.withZValue(rows, "a", "b", 16)
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) =>
      assert(z == morton(a, b, 16), s"($a, $b)")
      // decode: even bits -> a, odd bits -> b
      val da = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val db = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert(da == a && db == b)
    }
  }

  test("withHilbert: bijective on the grid; consecutive values are Manhattan-adjacent") {
    val n = 8 // bits = 3
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("a", "b")
    val h = Layout.withHilbert(grid, "a", "b", 3)
      .select($"a", $"b", $"hval").as[(Long, Long, Long)].collect()
    assert(h.map(_._3).sorted.toSeq == (0L until 64L)) // bijection 0..n^2-1
    val byD = h.map(r => r._3 -> (r._1, r._2)).toMap
    (0L until 63L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"step $d -> ${d + 1} jumps") // the defining Hilbert property
    }
  }

  test("hZoneMap: tighter envelopes than zZoneMap on average (the locality win)") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_partkey", "l_suppkey")
    def meanArea(zones: Array[(Long, Long, Long, Long, Long, Long)]): Double =
      zones.map { case (_, _, mnA, mxA, mnB, mxB) =>
        (mxA - mnA + 1).toDouble * (mxB - mnB + 1)
      }.sum / zones.length
    val hz = Layout.hZoneMap(li, "l_partkey", "l_suppkey", 16, 12)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val zz = Layout.zZoneMap(li, "l_partkey", "l_suppkey", 16, 12)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(hz.map(_._2).sum == li.count())
    assert(meanArea(hz) <= meanArea(zz) * 1.1,
      f"hilbert ${meanArea(hz)}%.0f vs z ${meanArea(zz)}%.0f")
  }

  test("zZoneMap: envelopes cover all rows; box predicate skips most buckets") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_partkey", "l_suppkey")
    val zones = Layout.zZoneMap(li, "l_partkey", "l_suppkey", 16, 12)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(zones.map(_._2).sum == li.count())
    zones.foreach { case (_, _, mnA, mxA, mnB, mxB) =>
      assert(mnA <= mxA && mnB <= mxB)
    }
    // the point of z-order: a small 2-D box overlaps few bucket envelopes
    val (a0, a1, b0, b1) = (10L, 30L, 2L, 5L)
    val touched = zones.count { case (_, _, mnA, mxA, mnB, mxB) =>
      mxA >= a0 && mnA <= a1 && mxB >= b0 && mnB <= b1
    }
    assert(touched < zones.length / 2,
      s"box touched $touched of ${zones.length} buckets — no skipping win")
  }

  test("compactionPlan: FFD order, start-of-prefix bin rule, one-file overflow tolerance") {
    import spark.implicits._
    // target 60: FFD order 50,40,30,20; prefix starts 0,50,90,120 -> bins
    // 0,0,1,2 — bin 0 overflows to 90 bytes (the one-file tolerance)
    val files = Seq(("s", 1L, 20L), ("s", 2L, 50L), ("s", 3L, 30L),
      ("s", 4L, 40L), ("t", 5L, 10L))
      .toDF("src", "fid", "bytes")
    val got = graft.operators.Layout.compactionPlan(files, "src", "fid",
        "bytes", 60L)
      .as[(String, Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("s", 0, 2L, 90L, 1.5), ("s", 1, 1L, 30L, 0.5),
      ("s", 2, 1L, 20L, 0.333333), ("t", 0, 1L, 10L, 0.166667)))
    // fixture: bins partition the inventory, every fill positive,
    // partition-invariant
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .selectExpr("source", "doc_id", "n_chars")
    val fxr = graft.operators.Layout.compactionPlan(docs, "source",
        "doc_id", "n_chars", 65536L)
      .as[(String, Int, Long, Long, Double)].collect().toSeq
    assert(fxr.map(_._3).sum == docs.count())
    assert(fxr.forall(_._5 > 0.0))
    assert(graft.operators.Layout.compactionPlan(docs.repartition(7),
        "source", "doc_id", "n_chars", 65536L)
      .as[(String, Int, Long, Long, Double)].collect().toSeq == fxr)
  }
}
