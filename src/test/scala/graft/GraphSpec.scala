package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: star center outranks leaves; leaves tie exactly") {
    val edges = Seq(("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, 3)
      .select($"node", $"deg", $"rank_fx").as[(String, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    assert(r("hub")._1 == 4L && r("a")._1 == 1L)
    assert(r("hub")._2 > r("a")._2)
    assert(Set("a", "b", "c", "d").map(r(_)._2).size == 1) // exact tie
  }

  test("pageRank: bit-identical across partitionings and symmetric edge input") {
    val e = Tables.lineitem(spark, TestSpark.sf0001).select(
      concat(lit("p"), $"l_partkey").as("src"),
      concat(lit("s"), $"l_suppkey").as("dst")).distinct()
    val a = Graph.pageRank(e, 3).as[(String, Long, Long)].collect().sorted.toSeq
    val b = Graph.pageRank(e.repartition(13), 3)
      .as[(String, Long, Long)].collect().sorted.toSeq
    // reversed edges describe the same undirected graph
    val c = Graph.pageRank(e.select($"dst".as("src"), $"src".as("dst")), 3)
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(a == b && a == c)
    assert(a.nonEmpty)
    // damping floor: no node can fall below 0.15 (minus integer truncation)
    assert(a.forall(_._3 >= (15L * Graph.Scale) / 100 - 1))
  }

  test("coOccurrence: pair counts per basket; re-delivered items count once; top-k cut deterministic") {
    val baskets = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (2L, 20L), // duplicate item in basket
      (3L, 10L), (3L, 20L),
      (4L, 40L))
      .toDF("g", "item")
    val got = Graph.coOccurrence(baskets, "g", "item", 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 20L, 3L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  test("bfsHops: min hop distances along a path; maxHops truncates the frontier") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val h = Graph.bfsHops(edges, seeds, 3)
      .as[(String, Long)].collect().toMap
    assert(h == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L)) // e beyond maxHops
    // undirected: seeding mid-path reaches both directions
    val h2 = Graph.bfsHops(edges, Seq("c").toDF("node"), 2)
      .as[(String, Long)].collect().toMap
    assert(h2 == Map("c" -> 0L, "b" -> 1L, "d" -> 1L, "a" -> 2L, "e" -> 2L))
  }

  test("maxBasketSize cap: mega-basket pairs bounded, truncation deterministic") {
    // one mega-basket of 50 items plus two small ones; cap at 10
    val mega = (0 until 50).map(i => (1L, i.toLong))
    val small = Seq((2L, 0L), (2L, 1L), (3L, 0L), (3L, 1L))
    val baskets = (mega ++ small).toDF("g", "item")
    val pairs = Graph.coOccurrence(baskets, "g", "item", 10000, maxBasketSize = 10)
      .as[(Long, Long, Long)].collect().toSeq
    // capped basket keeps items 0..9 (item-id order): C(10,2)=45 pairs from
    // g=1; (0,1) also in g=2 and g=3 -> count 3; nothing references item>=10
    assert(pairs.size == 45)
    assert(pairs.forall { case (a, b, _) => a < 10 && b < 10 })
    assert(pairs.find { case (a, b, _) => a == 0 && b == 1 }.get._3 == 3L)
    // identical result whatever the input partitioning (deterministic cut)
    val pairs2 = Graph.coOccurrence(baskets.repartition(7), "g", "item", 10000,
        maxBasketSize = 10).as[(Long, Long, Long)].collect().toSeq
    assert(pairs.sorted == pairs2.sorted)
    // association rules on the same capped frame: marginals exclude capped
    // items entirely (no rule touches item >= 10)
    val rules = Graph.associationRules(baskets, "g", "item", 1, maxBasketSize = 10)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rules.nonEmpty && rules.forall(r => r._1 < 10 && r._2 < 10))
  }

  test("sampleNonEdges: no real edges, ordered distinct pairs, partition-invariant, k rows") {
    val e = Tables.lineitem(spark, TestSpark.sf0001).select(
      concat(lit("p"), $"l_partkey").as("src"),
      concat(lit("s"), $"l_suppkey").as("dst")).distinct()
    val got = Graph.sampleNonEdges(e, 50).as[(String, String, Long)].collect()
    assert(got.length == 50)
    val edges = e.as[(String, String)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet
    for ((a, b, _) <- got) {
      assert(a < b, s"pair ($a, $b) not ordered")
      assert(!edges.contains((a, b)), s"($a, $b) is a real edge")
    }
    assert(got.map(r => (r._1, r._2)).distinct.length == 50)
    val got2 = Graph.sampleNonEdges(e.repartition(7), 50)
      .as[(String, String, Long)].collect()
    assert(got2.sortBy(_._3).toSeq == got.sortBy(_._3).toSeq)
  }

  test("associationRules: confidence and lift from hand-checked baskets") {
    // item 10 in baskets {1,2,3}; 20 in {1,2}; joint {1,2}
    val baskets = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L))
      .toDF("g", "item")
    val r = Graph.associationRules(baskets, "g", "item", 2)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4, x._5)).toMap
    // 10 -> 20: conf 2/3, lift (2/3)/(2/3) = 1.0
    assert(r((10L, 20L)) == ((2L, 0.666667, 1.0)))
    // 20 -> 10: conf 2/2 = 1, lift 1/(3/3) = 1.0
    assert(r((20L, 10L)) == ((2L, 1.0, 1.0)))
    assert(r.size == 2)
  }

  test("triangleCount: K4 fully clustered, star has zero, dedup/self-loop hygiene") {
    // K4: 6 edges, 4 triangles, 12 wedges, coefficient 3*4/12 = 1.0
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
      .toDF("src", "dst")
    val got = Graph.triangleCount(k4)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got == ((4L, 6L, 12L, 4L, 1.0)))
    // a star closes nothing; reversed/duplicated/self-loop edges collapse
    val star = Seq((0L, 1L), (1L, 0L), (0L, 2L), (0L, 3L), (0L, 0L), (0L, 3L))
      .toDF("src", "dst")
    val s = Graph.triangleCount(star).as[(Long, Long, Long, Long, Double)].head()
    assert(s == ((4L, 3L, 3L, 0L, 0.0)))
  }

  test("triangleCount: parity with a driver-side brute force on the co-purchase graph") {
    val items = Tables.lineitem(spark, TestSpark.sf0001)
      .select($"l_orderkey".as("g"), $"l_partkey".as("item")).distinct()
    val edges = items.as("a").join(items.as("b"),
        $"a.g" === $"b.g" && $"a.item" < $"b.item")
      .groupBy($"a.item".as("x"), $"b.item".as("y"))
      .agg(count(lit(1)).as("ng")).filter($"ng" >= 2).select($"x", $"y")
    val es = edges.as[(Long, Long)].collect().toSet
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val brute = es.toSeq.map { case (a, b) =>
      adj.getOrElse(a, Set.empty[Long] /* unreachable */).count { c =>
        c > b && es.contains((b, c))
      }.toLong
    }.sum
    val got = Graph.triangleCount(edges)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got._4 == brute && brute > 0)
    assert(got._2 == es.size.toLong)
  }
}
