package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression net for physical plan shapes — the properties that make these
  * pipelines scale are plan properties, so assert them directly. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def planOf(q: String): String =
    SparkEntry.queries(q)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  /** Distinct from any plan other suites may have cached (CacheManager
    * substitutes InMemoryRelation for canonically-equal plans, hiding the
    * projections these tests assert on). */
  def freshDocs = Tables.documents(spark, TestSpark.sf0001)
    .filter(org.apache.spark.sql.functions.col("doc_id") >= -1)

  test("q12: shipdate filter pushed into the parquet scan") {
    val p = planOf("q12_tpch_agg")
    // the production session (SparkEntry.tune) excludes
    // InferFiltersFromConstraints, so no inferred IsNotNull rides along
    assert(p.contains("PushedFilters: [LessThanOrEqual(l_shipdate,1998-09-02T00:00)]"), p)
  }

  test("q12: partial + final hash aggregation (map-side combine)") {
    val p = planOf("q12_tpch_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q13: only the 25-row nation dim broadcasts; SF-proportional hops shuffle-hash, never sort-merge") {
    val p = planOf("q13_join_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1, p)
    assert("ShuffledHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("flagship search: TakeOrderedAndProject and pruned scan") {
    val df = Engine.search(Engine.ingest(freshDocs), "transfer credits", 5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    // column pruning reaches the scan — only doc_id/text/source survive,
    // whether the scan is the parquet file or a base-table cache
    val pruned =
      p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>") ||
        "InMemoryTableScan \\[doc_id#\\d+L, text#\\d+, source#\\d+\\]".r
          .findFirstIn(p).isDefined
    assert(pruned, p)
  }

  test("ingest is map-only: no exchange anywhere") {
    val p = Engine.ingest(freshDocs).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("searchMany: corpus side reaches scoring without an exchange; one grouped-topk exchange total") {
    val df = Engine.searchMany(Engine.ingest(freshDocs), Seq("a q", "b q"), 3)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly the GroupedTopK exchange, got $shuffles:\n$p")
  }

  test("q39/q40 text transforms are map-only with a pruned scan") {
    for (q <- Seq("q39_normalize", "q40_redact_pii")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q should not shuffle:\n$p")
      // pruning reaches the scan whether it's the parquet file or a
      // base-table cache another suite left behind
      val pruned =
        p.contains("ReadSchema: struct<doc_id:bigint,text:string>") ||
          "InMemoryTableScan \\[doc_id#\\d+L, text#\\d+\\]".r.findFirstIn(p).isDefined
      assert(pruned, s"$q should scan only doc_id+text:\n$p")
    }
  }

  test("q22 prefilter stats join is shuffle-hash (per-doc stats are corpus-proportional; no sort-merge)") {
    val p = planOf("q22_jaccard_pairs")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("similarity top-k family ranks via GroupedTopK, never a window sort") {
    // At 100x scale row_number().over(Window.partitionBy("query_id")) shuffles
    // and fully sorts every scored candidate; GroupedTopK's partial heaps cap
    // shuffle volume at partitions x queries x k. q23/q44/q46 are the
    // oracle-checked members of the family (q29/q30 carry MLlib stages whose
    // plans are noisier to assert on, but they rank through the same helper).
    for (q <- Seq("q23_ann_topk", "q44_ann_rp", "q46_ann_sq8")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q should not rank via WindowExec:\n$p")
      assert(p.contains("GroupedTopK"), s"$q should rank via GroupedTopKExec:\n$p")
    }
    // the round-5 per-stratum rankers route through the same operator
    for (q <- Seq("q100_class_topics", "q103_weighted_sample",
        "q116_ann_multiprobe")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q should not rank via WindowExec:\n$p")
      assert(p.contains("GroupedTopK"), s"$q should rank via GroupedTopKExec:\n$p")
    }
  }

  test("join-bearing queries: no SortMergeJoin or CartesianProduct in final plans") {
    // the in-suite pin of tools/PlanAudit for the queries that carry joins;
    // plans are judged AFTER execution (AQE's initial plan may show a
    // static-estimate SMJ it then converts to broadcast)
    for (q <- Seq("q13_join_revenue", "q22_jaccard_pairs", "q26_minhash_pairs",
        "q33_simhash_pairs", "q43_prepare_corpus", "q45_rp_pairs",
        "q47_asof_join", "q50_interval_pairs", "q51_hybrid_rrf")) {
      val qe = SparkEntry.queries(q)(spark, TestSpark.sf0001).queryExecution
      qe.toRdd.count()
      val p = qe.executedPlan.toString
      assert(!p.contains("SortMergeJoin"), s"$q plans a SortMergeJoin:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
    }
  }

  test("q165: bucketed join runs with zero exchange below the join") {
    // both sides are bucketed at rest on the join key, so the only
    // shuffle in the whole plan is the final groupBy's — the join itself
    // reads co-located buckets (the 100 TB fact-to-fact pattern)
    val qe = SparkEntry.queries("q165_bucketed_join")(spark, TestSpark.sf0001)
      .queryExecution
    qe.toRdd.count()
    // an executed AdaptiveSparkPlan prints final AND initial plans — count
    // exchanges in the final section only
    val p = qe.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"expected exactly the final-agg exchange, got $shuffles:\n$p")
  }

  test("custom expressions run inside codegen (no fallback markers in hot projections)") {
    val df = Engine.ingest(freshDocs)
    val p = df.queryExecution.executedPlan.toString
    // hash_embed sits in a codegen'd Project (stage marker '*')
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("hash_embed")
      && l.trim.startsWith("*")), p)
  }

  test("q282 probe: the IVFADC serving scans are statically partition-pruned to the probed cells") {
    // the scale contract of the cell-partitioned codes layout: the PQ
    // codes scan AND the re-rank's assignments scan each carry a STATIC
    // PartitionFilters entry on cell (the probed-cells isin list), so a
    // serving batch reads only nProbe cells' files from each store —
    // never the whole codes table (the r17 scale-killer this layout
    // replaces)
    val p = planOf("q282_ann_ivfpq_persisted")
    val pruned = "PartitionFilters: \\[cell#\\d+ IN".r.findAllIn(p).size
    assert(pruned >= 2,
      s"expected both the codes and assignments scans partition-pruned on cell, found $pruned:\n$p")
  }

  test("q261 probe: the persisted-IVF assignments scan is statically partition-pruned to the probed cells") {
    val p = planOf("q261_ann_ivf_persisted")
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(p).isDefined,
      s"expected the assignments scan partition-pruned on cell:\n$p")
  }

  test("q258 streamed BM25: postings scan partition-pruned to the terms' buckets; no corpus-sized join anywhere") {
    // the lexical IVFADC treatment: the `(epoch, pbk)` state layout makes
    // the term-bucket cut a STATIC PartitionFilters entry (file pruning,
    // not a row predicate over unsorted row groups), postings carry their
    // doc's dl, and n_docs/avgdl fold from the pbk=-2 stat partials — so
    // the ONLY joins left in the whole plan are tiny broadcasts (stats +
    // df row); the corpus-sized doc-length SHUFFLE_HASH join is gone
    val p = planOf("q258_bm25_stream")
    assert("PartitionFilters: \\[pbk#\\d+ IN".r.findFirstIn(p).isDefined,
      s"expected the postings scan partition-pruned on pbk:\n$p")
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"the lexical serving path must not join a corpus-sized table:\n$p")
  }

  test("q292 hybrid serving: the lexical legs' shared postings scan is partition-pruned to the term buckets") {
    // the serving composition's lexical side reads the maintained state
    // through ONE bucket-superset scan — that scan must be
    // file-pruned to the legs' pbk buckets, the growth term the 32x
    // octave measured before the re-layout (hybridServing32 2.58x vs the
    // vector leg's 1.17x)
    val p = planOf("q292_hybrid_serving")
    assert("PartitionFilters: \\[pbk#\\d+ IN".r.findFirstIn(p).isDefined,
      s"expected the lexical postings scan partition-pruned on pbk:\n$p")
  }
}
