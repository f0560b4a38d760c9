package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators over edge DataFrames. The duplicate-cluster machinery
  * (connected components via min-label propagation) lives in `Dedup`; this
  * file holds the ranking side.
  *
  * Determinism: PageRank is usually float-iterative and therefore
  * association-order-dependent; this implementation is PURE INTEGER — ranks
  * are 2^30-fixed-point longs, per-edge contributions use integer division,
  * and the damping mix is (15*S) DIV 100 + (85*sum) DIV 100 — so every
  * iteration is exactly reproducible on any engine or partitioning and the
  * whole trajectory is SQL-oracle-checkable (the detKMeans argument applied
  * to graph ranking). The truncation the integer ops introduce is < 1 ulp
  * of the fixed-point grid per term — irrelevant to ranking, essential to
  * reproducibility.
  */
object Graph {

  val Scale: Long = 1L << 30

  /** Symmetrized, deduplicated edge list — the undirected-graph input both
    * traversals consume; memoized because every iteration's lineage
    * references it. */
  private def undirected(edges: DataFrame): DataFrame =
    // hash-partitioned on src BEFORE the memo: the cached scan keeps that
    // outputPartitioning, so every iteration/level's src-keyed join reuses
    // it and shuffles only the nodes-sized other side — without it, each
    // of pageRank's `iters` rounds (and each BFS level) re-shuffles the
    // EDGE-sized table, the dominant per-round exchange
    PlanCache.memo(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")))

  /** Undirected fixed-point PageRank: symmetrize + dedupe the edge list,
    * then `iters` rounds of r' = 0.15 + 0.85 * sum(r_neighbor / deg).
    * Returns (node, deg, rank_fx) with rank_fx in 2^30 fixed point.
    *
    * Shape per iteration: one node-keyed join (rank onto edges), one
    * node-keyed aggregate — both shuffle on the same key, so a real
    * cluster re-uses the exchange; degrees are computed once. Long
    * arithmetic holds to ~2^26 nodes at this scale (85 * n * 2^30 < 2^63);
    * larger graphs drop Scale, not correctness. */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20)
    // memoized (MEMORY_AND_DISK, PlanCache lifecycle): every iteration's lineage
    // references the symmetrized edge list and the degree table — without
    // the persist, iteration i re-derives both i times from the raw input
    val und = PlanCache.memo(undirected(edges))
    val deg = PlanCache.memo(und.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg")))
    var r = deg.select(col("node"), col("deg"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      // SHUFFLE_HASH, not sort-merge: both joins key on node; the build
      // sides (rank vector, contribution sums) are nodes-sized — bounded by
      // the vertex count, so hash builds beat edge-table-wide sorts (and
      // the memoized inputs otherwise lose the stats AQE would need)
      val contrib = und
        .join(r.select(col("node").as("src"), col("deg"), col("r"))
          .hint("SHUFFLE_HASH"), Seq("src"))
        .select(col("dst").as("node"), expr("r DIV deg").as("c"))
      val sums = contrib.groupBy("node").agg(sum("c").as("sc"))
      r = deg.join(sums.hint("SHUFFLE_HASH"), Seq("node"), "left")
        .select(col("node"), col("deg"),
          expr(s"(15 * ${Scale}L) DIV 100 + (85 * coalesce(sc, 0L)) DIV 100").as("r"))
    }
    r.select(col("node"), col("deg"), col("r").as("rank_fx"))
  }

  /** Bounded BFS: minimum hop distance from a seed set, up to `maxHops`
    * levels — the "what's within k hops" traversal (supplier blast-radius,
    * related-items expansion). Frontier-based: each level joins the
    * CURRENT frontier (shrinking) to the edge list on a node key and
    * anti-joins already-visited nodes, so per-level cost ~ frontier
    * out-degree, never nodes x edges. Exact integer hops; the oracle is
    * the same expansion unrolled (or a recursive CTE). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 10)
    val und = undirected(edges)
    // each level is memoized: frontier(h) feeds BOTH the next expansion and
    // the visited union, and visited(h) feeds both the anti-join and the
    // final result — without the persist the plan tree doubles per level
    // (2^maxHops subtrees at the cap), exactly the lineage blowup the
    // duplicate-cluster iteration documents
    var visited = PlanCache.memo(seeds.select(col("node")).distinct()
      .withColumn("hops", lit(0L)))
    var frontier = visited
    for (h <- 1 to maxHops) {
      frontier = PlanCache.memo(und
        .join(frontier.select(col("node").as("src")).hint("SHUFFLE_HASH"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node").hint("SHUFFLE_HASH"), Seq("node"), "left_anti")
        .withColumn("hops", lit(h.toLong)))
      visited = PlanCache.memo(visited.unionByName(frontier))
    }
    visited
  }

  /** Distinct (g, item) rows with an ENFORCED per-basket size cap: baskets
    * larger than `maxBasketSize` keep their first `maxBasketSize` items in
    * item-id order (deterministic, engine-neutral — the same truncation is
    * one `row_number() <= cap` in oracle SQL). This is `jaccardCandidates`'
    * maxShingleDf argument applied to baskets: one pathological mega-basket
    * of m items otherwise materializes m² join rows, the single
    * all-pairs-shaped cost in this file at corpus scale. Items beyond the
    * cap carry the least pair signal a deterministic rule can pick (highest
    * ids of an already-degenerate basket); monitor the dropped volume with
    * `basketCapDrops`. Capping rides `GroupedTopK` (bounded partial heaps,
    * no WindowExec), so the cap itself is mega-basket-safe. */
  private[operators] def cappedItems(df: DataFrame, groupCol: String, itemCol: String,
                                     maxBasketSize: Int): DataFrame = {
    require(maxBasketSize >= 1, s"maxBasketSize must be positive, got $maxBasketSize")
    val items = df.select(col(groupCol).as("g"), col(itemCol).as("item")).distinct()
    graft.plans.GroupedTopK(items, Seq(col("g")), Seq(asc("item")), maxBasketSize)
      .drop("rank")
  }

  /** The cap's reporting twin: (g, n_items, n_dropped) for every basket the
    * `maxBasketSize` cap truncates — empty when the cap never fires (the
    * expected state; a non-empty result is the "cap upstream" alarm). */
  def basketCapDrops(df: DataFrame, groupCol: String, itemCol: String,
                     maxBasketSize: Int = DefaultMaxBasketSize): DataFrame =
    df.select(col(groupCol).as("g"), col(itemCol).as("item")).distinct()
      .groupBy("g").agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") > maxBasketSize)
      .select(col("g"), col("n_items"),
        (col("n_items") - maxBasketSize).as("n_dropped"))

  /** Far above any organic basket (TPC-H orders top out at 7 lineitems;
    * retail/session baskets at hundreds) yet it bounds the per-basket pair
    * fan-out at ~0.5M rows — survivable, where one million-item bot basket's
    * 10^12 pairs is not. */
  val DefaultMaxBasketSize = 1024

  /** Negative-edge sampling for link-prediction training: `k` deterministic
    * pseudo-random node pairs that are NOT edges of the (undirected) graph —
    * the negatives a link predictor trains against. Candidate i draws both
    * endpoints from sha256-derived indices into the sorted node list (`ne:a:`
    * / `ne:b:` prefixes — engine-neutral, reproducible), keeps ordered
    * distinct pairs, anti-joins the symmetrized edge list, and takes the
    * first k by draw index — so the sample is a pure function of (graph,
    * k), independent of partitioning. Oversampling covers rejections
    * (self-pairs, real edges, duplicate draws): 4x + 64 draws keeps the
    * miss probability negligible below graph density ~50%. The node count
    * is one driver-side count (the `sampleToMixture` tiny-aggregate
    * contract); node indexing is a range-partitioned row_number zip, and
    * both index joins hash on the draw index. Output: (node_a, node_b,
    * draw) for k rows. */
  def sampleNonEdges(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val und = PlanCache.memo(undirected(edges))
    val nodes = PlanCache.memo(und.select(col("src").as("node")).distinct())
    val n = nodes.count()
    require(n >= 2, s"graph has $n nodes — no non-edges to sample")
    val spark = edges.sparkSession
    val m = 4L * k + 64
    def draw(prefix: String) =
      s"cast(conv(substr(sha2(concat('$prefix', cast(id AS string)), 256), 1, 8), 16, 10) AS bigint) % ${n}L"
    val spine = spark.range(m).select(col("id"),
      expr(draw("ne:a:")).as("ia"), expr(draw("ne:b:")).as("ib"))
    // deterministic global node index (node asc): Ranks.distributedRank
    // (range repartition + partition-local row_number + broadcast
    // exclusive prefix offsets; no global window), shifted to 0-based
    val indexed = PlanCache.memo(
      Ranks.distributedRank(nodes, Seq.empty, Seq(asc("node")), "__rk")
        .select((col("__rk") - 1).as("idx"), col("node")))
    val cand = spine
      .join(indexed.select(col("idx").as("ia"), col("node").as("na"))
        .hint("SHUFFLE_HASH"), Seq("ia"))
      .join(indexed.select(col("idx").as("ib"), col("node").as("nb"))
        .hint("SHUFFLE_HASH"), Seq("ib"))
      .filter(col("na") < col("nb"))
      .select(col("na").as("node_a"), col("nb").as("node_b"), col("id").as("draw"))
    // one draw per pair (lowest index wins), then reject real edges
    val firstDraw = cand.groupBy("node_a", "node_b").agg(min("draw").as("draw"))
    firstDraw
      .join(und.select(col("src").as("node_a"), col("dst").as("node_b")),
        Seq("node_a", "node_b"), "left_anti")
      .orderBy("draw").limit(k)
  }

  /** Market-basket co-occurrence: the top-k item pairs by the number of
    * groups (orders, sessions, documents) containing both. The pair space
    * is generated per GROUP — a group-keyed self-equi-join whose fan-out is
    * basket-size-squared, never corpus-squared — and `maxBasketSize`
    * (enforced, `cappedItems`) bounds the square.
    * Top-k via TakeOrderedAndProject on the pair counts; ties break on the
    * pair ids so the cut is deterministic. */
  def coOccurrence(df: DataFrame, groupCol: String, itemCol: String,
                   topK: Int = 20,
                   maxBasketSize: Int = DefaultMaxBasketSize): DataFrame = {
    require(topK >= 1)
    // memoized: both sides of the self-join read the capped table — the
    // associationRules convention; without the persist the distinct +
    // GroupedTopK cap runs twice
    val items = PlanCache.memo(cappedItems(df, groupCol, itemCol, maxBasketSize))
    items.as("a").join(items.hint("SHUFFLE_HASH").as("b"),
        col("a.g") === col("b.g") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(desc("n_groups"), asc("item_a"), asc("item_b"))
      .limit(topK)
  }

  /** Association rules from pair supports: for every DIRECTED pair
    * (antecedent -> consequent) with joint support >= `minSupport` groups,
    * confidence = n(a,b) / n(a) and lift = confidence / (n(b) / N) — the
    * Apriori-at-depth-2 mining every basket analysis starts with.
    * Confidence and lift stay EXACT rationals of integer counts evaluated
    * in one shared double expression, so the output hash-checks.
    *
    * Shape: per-basket pair generation (the coOccurrence join), one
    * pair-keyed count, one item-keyed count broadcast onto it twice.
    * `maxBasketSize` (enforced, `cappedItems`) bounds the pair fan-out;
    * marginals and the total come from the SAME capped frame, so
    * confidence/lift stay exact probabilities of the mined dataset. */
  def associationRules(df: DataFrame, groupCol: String, itemCol: String,
                       minSupport: Long = 2,
                       maxBasketSize: Int = DefaultMaxBasketSize): DataFrame = {
    require(minSupport >= 1)
    // memoized: the capped item table feeds the marginals, the total,
    // and both sides of the pair join — four scans of the input otherwise
    val items = PlanCache.memo(cappedItems(df, groupCol, itemCol, maxBasketSize))
    val itemN = items.groupBy("item").agg(count(lit(1)).as("n_item"))
    val total = items.select(countDistinct("g").as("n_total"))
    val pairs = items.as("a").join(items.hint("SHUFFLE_HASH").as("b"),
        col("a.g") === col("b.g") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("antecedent"), col("b.item").as("consequent"))
      .agg(count(lit(1)).as("n_joint"))
      .filter(col("n_joint") >= minSupport)
    pairs
      .join(broadcast(itemN.withColumnRenamed("item", "antecedent")
        .withColumnRenamed("n_item", "n_ant")), Seq("antecedent"))
      .join(broadcast(itemN.withColumnRenamed("item", "consequent")
        .withColumnRenamed("n_item", "n_con")), Seq("consequent"))
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("n_joint"),
        expr("round(CAST(n_joint AS DOUBLE) / n_ant, 6)").as("confidence"),
        expr("round((CAST(n_joint AS DOUBLE) / n_ant) / (CAST(n_con AS DOUBLE) / n_total), 6)")
          .as("lift"))
  }

  /** Exact triangle count + global clustering coefficient via DEGREE
    * ORIENTATION — the algorithm that makes triangle counting feasible on
    * power-law graphs: direct every edge from its lower-(degree, id)
    * endpoint to the higher one, build wedges only from common SOURCES,
    * and close them against the oriented edge set. Out-degree under this
    * orientation is O(sqrt(m)) for ANY graph, so the wedge join fans out
    * to at most sum out_deg^2 <= m^1.5 rows — a hub with degree 10^6
    * generates ZERO wedges from its own star (all its edges point IN);
    * the naive neighbor-join would square it. Every join is SHUFFLE_HASH
    * on a node key. Output one row: (n_nodes, n_edges, n_wedges,
    * n_triangles, clustering_coeff = 3T / wedges, the closed-wedge
    * fraction). Input: one row per undirected edge, any endpoint order,
    * self-loops rejected. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = PlanCache.memo(edges.toDF("e1", "e2")
      .filter(col("e1") =!= col("e2"))
      .select(least(col("e1"), col("e2")).as("a"),
        greatest(col("e1"), col("e2")).as("b"))
      .distinct())
    val deg = PlanCache.memo(
      und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")).hint("SHUFFLE_HASH"), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")).hint("SHUFFLE_HASH"), Seq("b"))
    val oriented = PlanCache.memo(withDeg.selectExpr(
      "IF(da < db OR (da = db AND a < b), a, b) AS src",
      "IF(da < db OR (da = db AND a < b), b, a) AS dst",
      "IF(da < db OR (da = db AND a < b), db, da) AS dd"))
    val tri = oriented.as("e1")
      .join(oriented.hint("SHUFFLE_HASH").as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.dd") < col("e2.dd") ||
            (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
      .join(oriented.select("src", "dst").hint("SHUFFLE_HASH"), Seq("src", "dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) DIV 2")).as("n_wedges")))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        // 3.0D: the bare literal would parse as DECIMAL and poison the type
        expr("""round(CASE WHEN n_wedges = 0 THEN 0.0D
                ELSE 3.0D * n_triangles / n_wedges END, 6)""").as("clustering_coeff"))
  }
}
