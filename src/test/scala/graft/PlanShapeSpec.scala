package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graft.CatalystBridge
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: the scale properties argued in SCALE.md are
  * asserted against the actual physical plans, so a future refactor that
  * silently loses a broadcast, an exchange-sharing window pipeline, or
  * filter pushdown fails here rather than in a benchmark regression.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("cohort semi-join broadcasts (never shuffles the series side)") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("p3_semi_join_cohort")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan
    // The cohort's keys are broadcast as they are: no aggregation, so no
    // exchange on the broadcast side, and none on the series side.
    assert(executedNodes(p).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftSemi
      case _ => false
    }, p.toString.take(800))
    assert(shuffleExchanges(df) == 0, s"p3 shuffles:\n${p.toString.take(1200)}")
  }

  test("the cohort requests run within their measured Spark jobs") {
    // A session's first load of a table file infers its schema with a job
    // of its own: count a warm repeat, build and collect together.
    def jobs(q: String): Int = {
      SparkEntry.queries(q)(spark, dir).collect()
      JobCount(spark.sparkContext)(SparkEntry.queries(q)(spark, dir).collect())._2
    }
    val e2e = jobs("cohort_analysis_e2e")
    assert(e2e <= 6, s"cohort_analysis_e2e ran $e2e jobs (measured 6)")
    val p3 = jobs("p3_semi_join_cohort")
    assert(p3 <= 2, s"p3_semi_join_cohort ran $p3 jobs (measured 2)")
    val mf = jobs("cohort_multi_feature")
    assert(mf <= 12, s"cohort_multi_feature ran $mf jobs (measured 12)")
  }

  test("multi-feature KPIs build each cohort's broadcast once and reuse it") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
    val df = SparkEntry.queries("cohort_multi_feature")(spark, dir)
    df.collect()
    val nodes = executedNodes(df.queryExecution.executedPlan)
    // Three features, each semi-joined to the subject and the control
    // cohort: two hashed broadcasts built, the other four reused.
    val built = nodes.count {
      case b: BroadcastExchangeExec => b.mode.isInstanceOf[HashedRelationBroadcastMode]
      case _ => false
    }
    val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
    assert(built == 2 && reused >= 4,
      s"cohort broadcasts built $built, reused $reused:\n${df.queryExecution.executedPlan.toString.take(1500)}")
  }

  test("METs windows share ONE user exchange; weights join broadcasts") {
    val p = plan("mets_pipeline")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user exchange, got $exchanges:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), "weights join must broadcast")
  }

  test("date-range scan pushes timestamp bounds into the parquet scan") {
    // lineitem has a real timestamp column (events' ns column converts in a
    // projection, so pushdown is demonstrated on l_shipdate).
    val df = graft.ops.SeriesOps.dateRange(
      graft.sources.Tables.lineitem(spark, dir), "l_shipdate", "2024-01-05", "2024-01-10")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual"),
      p.take(800))
  }

  test("flagship query prunes columns at the scan") {
    val p = plan("q1_pricing_summary")
    assert(!p.contains("l_orderkey"), "q1 must not read unused columns")
    assert(p.contains("l_returnflag"))
  }

  test("q6 pushes every predicate into the parquet scan") {
    // The scan's metadata string truncates at 100 chars by default, which
    // would hide the later predicates from the assertion.
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val p = try plan("q6_forecast_revenue")
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThan(l_quantity,24.0)"),
      s"all q6 predicates must reach the scan:\n${p.take(1200)}")
  }

  test("q5 broadcasts the region-filtered nation dim; q18 top-k is distributed") {
    val p5 = plan("q5_local_supplier")
    assert(p5.contains("BroadcastHashJoin"), p5.take(800))
    val p18 = plan("q18_large_orders")
    assert(p18.contains("TakeOrderedAndProject"),
      s"q18 must plan a distributed top-k:\n${p18.take(1200)}")
  }

  test("PQ encode is map-side only: codebook literals, no exchange") {
    val p = plan("pq_encode")
    assert(!p.contains("Exchange"),
      s"pqEncode must not shuffle (centroids are plan-time literals):\n${p.take(1200)}")
  }

  test("brute-force kNN broadcasts the query side (no corpus shuffle)") {
    val p = plan("knn_cosine_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(800))
  }

  test("topNgrams ranks via distributed top-k, not a corpus-wide single reducer") {
    val p = plan("text_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject (distributed top-k):\n${p.take(1200)}")
    // The plan prints parents first: any single-partition exchange (the k-row
    // rank window) must sit ABOVE the top-k operator — i.e. the full n-gram
    // aggregate never flows through one reducer.
    val single = p.indexOf("Exchange SinglePartition")
    val topk = p.indexOf("TakeOrderedAndProject")
    assert(single == -1 || single < topk,
      s"single-partition exchange below the top-k operator:\n${p.take(1200)}")
  }

  test("decontamination bloom-prefilters the training side before the exact join") {
    val p = plan("text_decontaminate")
    // The benchmark shingle set is no longer hint-broadcast (a large
    // benchmark suite would be driver-limited); a fitted Bloom filter
    // prefilters the training side map-side, and the exact join input is
    // the prefiltered stream. AQE still broadcasts the bench side at
    // runtime when it fits — the hint is gone, not the optimization.
    val join = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
      .map(p.indexOf).filter(_ >= 0).minOption.getOrElse(-1)
    val bloom = p.indexOf("might_contain")
    assert(join >= 0, s"exact shingle join missing:\n${p.take(800)}")
    assert(bloom > join,
      s"bloom prefilter must sit below the exact join (train input):\n${p.take(1200)}")
  }

  test("IVF probe assignment is map-side: exactly one Window (the final top-k)") {
    val p = plan("ann_ivf_cosine")
    // Match the Window operator itself, not WindowGroupLimit (the rank-limit
    // pushdown Spark adds around it — that one is desirable).
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows == 1,
      s"centroid assignment must not reintroduce a window/join (got $windows):\n${p.take(1000)}")
  }

  test("curation pipeline removes dup victims via a broadcast anti-join") {
    val p = plan("curation_pipeline_e2e")
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("grid interpolation: two exchanges (span agg + windows), four lasts in two Windows") {
    val p = plan("w11_interpolate_grid")
    // One exchange feeds the per-user span aggregation (grid generation),
    // one feeds BOTH window orderings over the union — the four ignore-null
    // lasts merge into two Window nodes (one per ordering), not four.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"got $exchanges exchanges:\n${p.take(1200)}")
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows <= 4, s"window nodes must stay merged per ordering, got $windows")
  }

  test("unigram LM does not hint-broadcast the unbounded vocabulary") {
    val df = graft.ops.TextAnalysis.unigramLogProb(
      graft.sources.Tables.documents(spark, dir), "doc_id", "text")
    val analyzed = df.queryExecution.analyzed.toString
    // The 1-row grand total may broadcast; the vocab join must carry no hint.
    assert("ResolvedHint".r.findAllIn(analyzed).size <= 1, analyzed.take(1200))
  }

  test("sequence packing: exactly one exchange (shard hash), no global sort") {
    val p = plan("pack_sequences")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shard exchange, got $exchanges:\n${p.take(1200)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"packing must not globally sort the corpus:\n${p.take(1200)}")
  }

  test("epoch replication is map-side only (no exchange before the explode)") {
    val df = graft.ops.Sampling.withEpochs(
      graft.sources.Tables.documents(spark, dir), "doc_id", "source",
      Map("src0" -> 2.5), 1.0)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"withEpochs must not shuffle:\n${p.take(1200)}")
  }

  test("quantized kNN broadcasts the query side like the float path") {
    val p = plan("ann_quantized_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(800))
  }

  test("k-means assignment is map-side: no exchange, no window") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val idx = graft.ops.Similarity.kmeansFit(emb, "vec_id", "embedding",
      k = 3, iters = 1)
    val p = graft.ops.Similarity.ivfAssign(emb, "vec_id", "embedding", idx)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"assignment must be a pure projection:\n${p.take(1000)}")
  }

  test("shard manifest: one shard exchange, no global sort") {
    val p = plan("pack_shard_manifest")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shard exchange, got $exchanges:\n${p.take(1200)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"manifest positions must come from per-shard windows, not a global sort:\n${p.take(1200)}")
  }

  test("source KL broadcasts the bounded top-V vocab, not the group side") {
    val p = plan("text_source_kl")
    assert(p.contains("BroadcastHashJoin"),
      s"top-V vocab (bounded by construction) must broadcast:\n${p.take(1000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"the vocab itself must come from a distributed top-k:\n${p.take(1000)}")
  }

  test("heavy hitters: threshold filter runs against a broadcast 1-row total") {
    val p = plan("text_heavy_hitters")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the grand total must broadcast:\n${p.take(800)}")
    assert(!p.contains("Exchange rangepartitioning"), "no sort needed")
  }

  test("substring-span dedup never sorts; candidates come from the span equi-join") {
    val p = plan("dedup_substring_spans")
    assert(!p.contains("Exchange rangepartitioning"),
      s"span dedup must be equi-join shaped:\n${p.take(1000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("exact-quota sampling pre-thins before the per-stratum rank window") {
    val p = plan("sample_exact_quota")
    // The thin filter must appear BELOW the window sort in the plan tree
    // (plans print parents first, so its index is after Window's). Match
    // the RATE expression `least(1.0, …)` — only the pre-thin introduces
    // it; the window's own md5 sort key would make a hash-based needle
    // vacuously present either way.
    val win = p.indexOf("Window")
    val thin = p.indexOf("least(1.0,")
    assert(win >= 0 && thin > win,
      s"pre-thin filter must feed the rank window:\n${p.take(1500)}")
  }

  test("token-budget sampling pre-thins before the cumulative-sum window") {
    val p = plan("sample_token_budget")
    val win = p.indexOf("Window")
    val thin = p.indexOf("least(1.0,")
    assert(win >= 0 && thin > win,
      s"pre-thin filter must feed the budget window:\n${p.take(1500)}")
  }

  test("BM25 ranks via distributed top-k with a broadcast df side") {
    val p = plan("text_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"BM25 top-k must be TakeOrderedAndProject:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      "per-term document frequencies (≤ |terms| rows) must broadcast")
  }

  test("boilerplate share and strip broadcast the bounded hot-shingle set") {
    Seq("text_boilerplate_share", "text_boilerplate_strip").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
        s"$q must probe the hot set via broadcast semi-join:\n${p.take(1200)}")
    }
  }

  test("hard-negative mining broadcasts the anchor side (no corpus shuffle)") {
    val p = plan("ann_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(800))
    assert(!p.contains("Exchange hashpartitioning(cand_id"),
      "the corpus must stream, never shuffle by candidate")
  }

  test("q17 decorrelated subquery aggregates the fact exactly once") {
    // The correlated threshold subquery must become ONE per-part
    // aggregation (one exchange on l_partkey) — a naive decorrelation
    // that re-shuffles the fact per reference, or a re-aggregation after
    // the join-back, would show up as extra partkey exchanges.
    val p = plan("q17_small_quantity")
    val partkeyExchanges =
      """Exchange hashpartitioning\(l_partkey""".r.findAllIn(p).size
    assert(partkeyExchanges == 1,
      s"expected exactly 1 subquery-agg exchange, got $partkeyExchanges:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), "filtered part dim must broadcast")
  }

  test("skew-stress salted join fans the hot key across salts") {
    val p = plan("skew_stress_salted_join")
    // The join keys must be (user_id, __salt) — under a shuffle join the
    // hot key's rows then land on 8 reducers, not 1 (at this test sf the
    // small dim broadcasts, so assert the join CONDITION rather than an
    // exchange; a regression that salts outside the join keys would still
    // mention __salt elsewhere in the plan and must NOT pass).
    assert("""Join \[user_id[^\]]*__salt""".r.findFirstIn(p).isDefined,
      s"join must be keyed on the salted key:\n${p.take(1200)}")
  }

  test("IVF-PQ store probe prunes partitions on the cluster column") {
    // The composed 100 TB serving path: the store scan must carry the
    // probed clusters as a PARTITION filter (directory pruning — most of
    // the corpus is never read), not a post-scan row filter, and the
    // query side must broadcast.
    val p = plan("ann_ivfpq_pruned")
    assert("""PartitionFilters: \[[^\]]*cluster""".r.findFirstIn(p).isDefined,
      s"probe must prune store partitions by cluster:\n${p.take(1200)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the bounded query side must broadcast")
  }

  test("importance weights broadcast the dim-bounded model side") {
    // The per-bucket log-ratio table is bounded by dim (256 rows), so the
    // doc-side join must be a broadcast — a shuffle join here would move
    // the whole featurized corpus for a model table that fits in a page.
    val p = plan("sample_importance_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"model side must broadcast:\n${p.take(1000)}")
  }

  test("BPE tokenization is map-side only: no exchange below the projection") {
    // The merge table is a plan-time literal; encoding must be scan →
    // project with no shuffle of any kind.
    val p = plan("text_bpe_tokens")
    assert(!p.contains("Exchange"),
      s"BPE apply must not shuffle:\n${p.take(1000)}")
  }

  test("multi-table LSH pair mining never goes nested-loop or cartesian") {
    val p = plan("dedup_embedding_cosine_mt")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the per-table bucket equi-join:\n${p.take(1200)}")
  }

  test("NB predict broadcasts the labels-x-dim model against the doc buckets") {
    // The model is bounded at |labels| x dim rows by construction; the
    // scoring join must broadcast it — shuffling the featurized corpus
    // against a page-sized model is the scale bug this guard pins out.
    val p = plan("text_nb_langid")
    assert(p.contains("BroadcastHashJoin"),
      s"model join must broadcast:\n${p.take(1000)}")
  }

  test("stay-point detection runs on ONE user-keyed exchange") {
    // Window pass (lag + running sum) and the (user, run) aggregation must
    // share the user hash partitioning — a second corpus exchange means the
    // run-id grouping lost the partitioning property.
    val p = plan("g6_stay_points")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected 1 user exchange, got $exchanges:\n${p.take(1200)}")
  }

  test("audio header decode is map-side only: no exchange in the plan") {
    val p = plan("mm_audio_header_real")
    assert(!p.contains("Exchange"),
      s"header decode must not shuffle:\n${p.take(1000)}")
  }

  test("q21 plans semi+anti self-joins, never cartesian; top-k distributed") {
    // The EXISTS/NOT EXISTS pair must decorrelate to LeftSemi/LeftAnti on
    // the l_orderkey equi-key with the suppkey inequality riding the join
    // condition — a planner that loses the equi-key degrades to a
    // nested-loop join over lineitem×lineitem, which is the scale killer
    // this guard pins out.
    val p = plan("q21_suppliers_kept_waiting")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"self-joins must stay equi-keyed:\n${p.take(1200)}")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(1200))
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-k must be distributed:\n${p.take(800)}")
    // Budget: late-assembly join(s) may broadcast or shuffle under AQE,
    // but the whole query needs at most 4 hash exchanges (semi, anti,
    // both sides co-keyed on l_orderkey, plus the s_name aggregation).
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4, s"expected <=4 exchanges, got $exchanges:\n${p.take(1500)}")
  }

  test("q2 decorrelated scalar-min: one exchange per agg, never cartesian") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelated min must join back equi-keyed:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-k must be distributed:\n${p.take(800)}")
    // Two decorrelated aggregations (per-(part,supp) supply cost, per-part
    // min) plus the join-back alignment: at most 6 hash exchanges total.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 6, s"expected <=6 exchanges, got $exchanges:\n${p.take(1500)}")
  }

  test("q4/q22 exists/not-exists decorrelate to semi/anti, never cartesian") {
    val p4 = plan("q4_priority_check")
    assert(p4.contains("LeftSemi") && !p4.contains("CartesianProduct") &&
      !p4.contains("BroadcastNestedLoopJoin"),
      s"q4 EXISTS must stay an equi-keyed semi join:\n${p4.take(1200)}")
    val p22 = plan("q22_idle_customers")
    // The 1-row avg-balance broadcast legitimately plans as a nested-loop
    // join (that is how Spark executes scalar subqueries too — a 1-row
    // build side is free); the NOT EXISTS must still be an equi-keyed
    // anti join and nothing may go cartesian.
    assert(p22.contains("LeftAnti") && !p22.contains("CartesianProduct"),
      s"q22 NOT EXISTS must stay an equi-keyed anti join:\n${p22.take(1200)}")
  }

  test("q20 nested semi chain: one fact pass, semi gates, never cartesian") {
    // The (part, supplier) aggregate carries both total supply and the
    // windowed demand as a conditional sum, so the threshold derives from
    // the SAME cached aggregate — a second corpus scan would double the
    // dominant cost at 100 TB.
    val p = plan("q20_excess_suppliers")
    assert(p.contains("LeftSemi") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"supply aggregate must be cached and reused:\n${p.take(1200)}")
  }

  test("q11/q15 self-referencing scalar aggregates reuse ONE fact aggregation") {
    // value > f(sum(value)) / revenue >= f(max(revenue)): the aggregate
    // view must compute once (scoped cache) and feed both the scalar and
    // the filter — uncached, the fact scans and aggregates twice.
    for (q <- Seq("q11_important_parts", "q15_top_supplier")) {
      val p = plan(q)
      assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
        s"$q must read the cached aggregate on both sides:\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), p.take(800))
    }
  }

  test("bucketed range join stays equi-keyed; rollup datacard scans once") {
    // The naive ts-BETWEEN join has NO equi key and planlessly degrades
    // to BroadcastNestedLoopJoin (|points| × |intervals| comparisons);
    // the bucketed rewrite must keep it a hash/sort join on the bucket.
    val p = plan("j7_range_join_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must equi-join on the time bucket:\n${p.take(1200)}")
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(p.contains), p.take(800))
    // ROLLUP = grouping sets through ONE Expand over ONE corpus scan —
    // a per-level re-scan would read the corpus three times at 100 TB.
    val pd = plan("corpus_datacard")
    assert(pd.contains("Expand"), s"rollup must plan an Expand:\n${pd.take(800)}")
    assert("FileScan parquet".r.findAllIn(pd).size == 1,
      s"rollup must scan the corpus exactly once:\n${pd.take(1200)}")
  }

  test("survivors/soft-dedup cluster-map joins carry no forced broadcast") {
    // At web scale the near-dup cluster map is O(corpus) — a forced
    // broadcast() hint there OOMs the driver. Proof of no hint: with both
    // broadcast thresholds disabled, the planner must fall back to a
    // shuffle join (a hint would override the thresholds and still
    // broadcast). AQE remains free to broadcast genuinely small maps under
    // default thresholds — asserted separately below.
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, 100.0 - i)).toDF("doc_id", "q")
    val cmap = (1L to 100L).map(i => (i, (i % 10) + 1L))
      .toDF("doc_id", "cluster_id")
    val static = "spark.sql.autoBroadcastJoinThreshold"
    val adaptive = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevStatic = spark.conf.get(static)
    val prevAdaptive = spark.conf.getOption(adaptive)
    try {
      spark.conf.set(static, "-1")
      spark.conf.set(adaptive, "-1")
      val df = graft.ops.Dedup.survivors(docs, cmap, "doc_id", "q")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"survivors must degrade to a shuffle join when the map is 'large' " +
          s"(no forced broadcast hint):\n${p.take(1200)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(1200))
    } finally {
      spark.conf.set(static, prevStatic)
      prevAdaptive match {
        case Some(v) => spark.conf.set(adaptive, v)
        case None => spark.conf.unset(adaptive)
      }
    }
    // Default thresholds: the page-sized map still broadcasts (AQE or the
    // static planner picks it from measured size, not from a hint).
    val df2 = graft.ops.Dedup.survivors(docs, cmap, "doc_id", "q")
    df2.collect()
    val p2 = df2.queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"),
      s"small cluster map should still broadcast under defaults:\n${p2.take(1200)}")
  }

  test("q8/q9/q10 deep star joins: dims broadcast, fact never cartesians") {
    for (q <- Seq("q8_market_share", "q9_product_profit", "q10_returned_items")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-keyed:\n${p.take(1200)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$q constant-size dims must broadcast:\n${p.take(1200)}")
      // One fact scan: the share/profit aggregations must not re-read
      // lineitem (at 100 TB the fact scan dominates everything else).
      assert("FileScan parquet.*lineitem".r.findAllIn(p).size == 1,
        s"$q must scan lineitem exactly once:\n${p.take(1500)}")
    }
    assert(plan("q10_returned_items").contains("TakeOrderedAndProject"),
      "q10 top-20 must be distributed, not a global sort")
  }

  test("q12/q14 pivot aggregations stay one fact pass; q19 residual OR after broadcast") {
    val p12 = plan("q12_ship_lag_priority")
    assert("FileScan parquet.*lineitem".r.findAllIn(p12).size == 1 &&
      !p12.contains("CartesianProduct"), p12.take(1200))
    val p14 = plan("q14_promo_share")
    // Shipdate window must reach the fact scan as pushed filters.
    assert(p14.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q14 date window must push down:\n${p14.take(1200)}")
    assert(p14.contains("BroadcastHashJoin"), p14.take(800))
    val p19 = plan("q19_disjunctive_revenue")
    assert(p19.contains("BroadcastHashJoin") && !p19.contains("CartesianProduct") &&
      !p19.contains("BroadcastNestedLoopJoin"),
      s"q19 disjunction must stay a broadcast equi-join + residual filter:\n${p19.take(1200)}")
  }

  test("TopKAgg top-k-per-group: partial heaps map-side, ONE exchange, no sort/window") {
    // The window form shuffles every fact row and sorts whole partitions;
    // the aggregate form must show partial aggregation below the single
    // group exchange and no Sort/Window anywhere — the shuffle carries
    // k pairs per GROUP, which is the whole point at 100 TB.
    val p = plan("o3_topk_per_group_heap")
    assert(p.contains("partial_topkagg"),
      s"map-side partial aggregation must run before the exchange:\n${p.take(1200)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 group exchange, got $exchanges:\n${p.take(1200)}")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"no window/sort may appear:\n${p.take(1200)}")
  }

  test("funnel runs on ONE user exchange with no window; erasure audit scans each table once") {
    // The funnel is a single user-keyed aggregation over per-stage
    // arrays — a window/sort formulation would sort whole partitions.
    val pf = plan("funnel_conversion")
    assert("Exchange hashpartitioning".r.findAllIn(pf).size == 1,
      s"funnel must aggregate on one user exchange:\n${pf.take(1200)}")
    assert(!pf.contains("Window"), s"no window in the funnel plan:\n${pf.take(800)}")
    // Erasure audit: every table's id side reads the ONE scoped cache
    // (InMemoryTableScan — the FileScan printed beneath InMemoryRelation
    // is the cache's definition, executed once), and each match count
    // rides a broadcast left join, never a second table pass.
    val pe = plan("gdpr_erasure_audit")
    assert("InMemoryTableScan".r.findAllIn(pe).size == 3,
      s"id set must come from the scoped cache on all 3 tables:\n${pe.take(1500)}")
    assert("BroadcastHashJoin".r.findAllIn(pe).size == 3,
      s"each audit row is one broadcast join:\n${pe.take(1500)}")
  }

  test("incremental agg: merge is a per-key join, never a re-aggregation of raw events") {
    // Two aggState sides + one merge join; the exchange count stays
    // bounded (2 aggs + join alignment), and no events-sized exchange
    // appears after the states are formed.
    val p = plan("a18_incremental_agg")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected <=3 exchanges (2 states + merge), got $exchanges:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q16 NOT IN plans as broadcast anti join + two-phase distinct count") {
    val p = plan("q16_supplier_relationship")
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"),
      s"exclusion list must be a broadcast anti join:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    // Distinct-count must be the partial-distinct two-phase aggregate, not
    // a pre-join global distinct (an extra full-fact exchange at scale).
    assert(p.contains("HashAggregate"), p.take(800))
  }

  test("scd2 history + dimension lookup stay window passes, never range joins") {
    // Both scd2History windows (change-flag lag, interval-end lead) share
    // the user exchange; the build is one shuffle of the change stream.
    val p = plan("scd2_history_build")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 key exchange, got $exchanges:\n${p.take(1200)}")
    // The as-of lookup must be the union-window pass: no join operator at
    // all (a facts x intervals range join would be BNLJ or cartesian).
    val p2 = plan("scd2_asof_lookup")
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin") &&
      !p2.contains("SortMergeJoin") && !p2.contains("BroadcastHashJoin"),
      s"lookup must not join:\n${p2.take(1200)}")
  }

  test("cdc apply compacts on one key exchange; merge join is AQE-sized, not forced") {
    val p = plan("cdc_apply_changelog")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("FullOuter"), s"snapshot merge must be full outer:\n${p.take(1200)}")
  }

  test("blocked entity match joins on the block key, never all-pairs") {
    val p = plan("er_blocked_match")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must make this an equi join:\n${p.take(1200)}")
  }

  test("rolling autocorr: lag + six frame sums ride ONE user sort") {
    val p = plan("w14_rolling_autocorr")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user exchange, got $exchanges:\n${p.take(1200)}")
    val sorts = "Sort \\[".r.findAllIn(p).size
    assert(sorts <= 1, s"windows must share one in-partition sort, got $sorts:\n${p.take(1200)}")
  }

  test("position-based attribution: user-keyed equi join, rank over the finer conversion key") {
    val p = plan("attribution_position_based")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"touch matching must stay user-equi-keyed:\n${p.take(1200)}")
  }

  test("association rules: basket-keyed pair join, never an items cross product") {
    val p = plan("basket_association_rules")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must join on the basket key:\n${p.take(1200)}")
  }

  test("phrase search intersects postings with semi joins, never a text rescan join") {
    val p = plan("text_phrase_search")
    assert(p.contains("LeftSemi"),
      s"adjacency terms must prune via semi joins:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("logistic GD round plan: weights broadcast against sparse features") {
    // The GATE's final plan is only the checkpointed weight table (the
    // rounds run eagerly), so the guard inspects ONE round's plan
    // directly: score-side join of features against the weight frame.
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val feats = graft.ops.TextAnalysis.hashEmbeddingSparse(
      Tables.documents(spark, dir), "doc_id", "text", dim = 32)
    val w = (0 until 32).map(b => (b.toLong, 0.1)).toDF("bucket", "wv")
    val round1 = feats.join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id")).agg(sum(col("weight") * col("wv")).as("s"))
    val p = round1.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"weight vector must broadcast against sparse features:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("entity ranks are range-partitioned, never a single-partition window") {
    // Pareto deciles / Gini / RFM rank the per-entity aggregate through
    // Stats.withRangeRank: a range exchange + a __pid-partitioned
    // row_number, with quintile/decile membership derived arithmetically.
    // A partition-less ntile/row_number over the entity frame would
    // funnel 10⁸–10⁹ entities through one task at real scale.
    for (q <- Seq("a24_pareto_share", "a25_gini_concentration",
        "rfm_segments")) {
      val p = plan(q)
      assert(!p.contains("ntile("),
        s"$q must derive buckets from the range rank, not ntile:\n${p.take(1200)}")
      // The range exchange itself sits BELOW the localCheckpoint that
      // materializes pass 1, so it is not in this plan string; its
      // visible signature is the per-partition offset map lookup that
      // only withRangeRank emits.
      assert(p.contains("element_at(map("),
        s"$q entity rank must add the range-partition offset lookup:\n${p.take(1200)}")
      // Every row_number window must be __pid-partitioned: any plan line
      // mentioning row_number() must carry the __pid partition key.
      val rowNumbered = p.split("\n").filter(_.contains("row_number()"))
      assert(rowNumbered.nonEmpty && rowNumbered.forall(_.contains("__pid")),
        s"$q has a row_number window not keyed by __pid:\n" +
          rowNumbered.mkString("\n").take(800))
    }
    // The 10-row cumulative-share window in pareto is the ONLY allowed
    // partition-less window (bounded by construction): no row_number or
    // ntile may appear partition-less anywhere in the three plans.
  }

  test("round-9 graph ops never cartesian; label prop argmax is an agg, not a window") {
    for (q <- Seq("graph_ppr", "graph_hits", "graph_label_prop")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(800)}")
    }
    // The per-node mode label comes from a struct-min aggregation on the
    // same key exchange as the (node, label) count — a row_number window
    // would add a sort per round.
    val lp = plan("graph_label_prop")
    assert(!lp.contains("Window"), s"no window in label prop:\n${lp.take(800)}")
  }

  test("rendezvous assignment is map-side only; reshard report aggregates once") {
    val p = plan("shard_rendezvous")
    assert(!p.contains("Exchange"),
      s"shard assignment must not shuffle:\n${p.take(800)}")
    val p2 = plan("shard_reshard_report")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p2).size
    assert(exchanges == 1,
      s"reshard report = one cell aggregation, got $exchanges:\n${p2.take(800)}")
    assert(!p2.contains("Join"),
      s"both placements must come from ONE pass, not a self-join:\n${p2.take(800)}")
  }

  test("exact percentiles ride the range rank; contingency stats never cartesian") {
    val p = plan("a26_exact_percentiles")
    assert(p.contains("element_at(map("),
      s"percentiles must use the range-partition offset lookup:\n${p.take(800)}")
    val rowNumbered = p.split("\n").filter(_.contains("row_number()"))
    assert(rowNumbered.nonEmpty && rowNumbered.forall(_.contains("__pid")),
      s"percentile rank must be __pid-partitioned:\n${p.take(800)}")
    for (q <- Seq("ml_mutual_info", "dq_chi2_independence")) {
      val pc = plan(q)
      assert(!pc.contains("CartesianProduct"), s"$q:\n${pc.take(800)}")
    }
  }

  test("PCA round is map-side dot + one dimension aggregation; AA joins stay equi-keyed") {
    val p = plan("ml_pca_top_component")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // The per-round shape: posexplode feeds ONE hash aggregation on pos
    // (d-row output), scope-cached so the norm branch and the output
    // projection both read the materialized d rows instead of
    // re-deriving the corpus pass (the plan prints the cached subtree
    // under each scan, so exchange-counting is unreliable here — the
    // InMemoryTableScan IS the single-pass evidence).
    assert(p.contains("InMemoryTableScan"),
      s"PCA sums must be cache-reused, not re-derived:\n${p.take(1200)}")
    val aa = plan("graph_adamic_adar")
    assert(!aa.contains("CartesianProduct"), aa.take(800))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(aa).size
    assert(bnlj <= 1, // the 1-row support-threshold broadcast only
      s"AA must join equi-keyed (wedges on the center): $bnlj\n${aa.take(1200)}")
  }

  test("bootstrap fan-out collapses map-side; stationary chain never cartesians") {
    val p = plan("stats_bootstrap_ci")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // The 64-way replica explode must sit BELOW the per-replica partial
    // aggregation: the exchange carries B rows per partition, so exactly
    // one hash exchange (on __b) touches replica-sized data. r16 swapped
    // the interpreted transform(...md5 hex round-trip...) lambda for the
    // codegen'd md5_chunk_uniforms kernel fed through posexplode — pin the
    // kernel shape (same explode-below-partial-agg intent).
    assert(p.contains("posexplode(md5_chunk_uniforms"),
      s"replica kernel explode missing:\n${p.take(800)}")
    val m = plan("events_markov_stationary")
    assert(!m.contains("CartesianProduct"), m.take(800))
  }

  test("RAKE/LTV/kcore/anomaly plans: keyed windows, semi joins, cache reuse") {
    val rake = plan("text_rake_keyphrases")
    assert(!rake.contains("CartesianProduct") &&
      !rake.contains("BroadcastNestedLoopJoin"), rake.take(800))
    val ltv = plan("a28_cohort_ltv")
    assert(!ltv.contains("CartesianProduct"), ltv.take(800))
    // The cumulative window must be cohort-keyed, never partition-less.
    val ltvWindows = ltv.split("\n").filter(_.contains("windowspecdefinition"))
    assert(ltvWindows.forall(_.contains("cohort_week")),
      s"LTV cumsum must partition by cohort:\n${ltvWindows.mkString("\n").take(600)}")
    val kc = plan("graph_kcore")
    assert(kc.contains("LeftSemi"),
      s"peel must filter via semi joins:\n${kc.take(800)}")
    assert(!kc.contains("CartesianProduct"), kc.take(800))
    val an = plan("ts_stl_anomalies")
    assert(an.contains("InMemoryTableScan"),
      s"anomalies must reuse the cached decomposition:\n${an.take(800)}")
  }

  test("uncapped trajectory similarity: equi-joins only, no all-pairs stage") {
    // The prefix-filtered set join must never degrade to an unkeyed pair
    // space: every join is an equi-join (candidates on the prefix token,
    // verification on (doc, token)), and the per-doc ranking windows are
    // doc-keyed, never partition-less.
    val p = plan("traj_similarity_grid")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join must stay equi-keyed:\n${p.take(1200)}")
    val windows = p.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")),
      s"prefix/size ranks must partition per doc:\n${windows.mkString("\n").take(600)}")
  }

  test("serve-only IVF-PQ probes the partition-pruned store like the pruned gate") {
    val p = plan("ann_ivfpq_probe_only")
    assert("""PartitionFilters: \[[^\]]*cluster""".r.findFirstIn(p).isDefined,
      s"probe-only must prune store partitions by cluster:\n${p.take(1200)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the bounded query side must broadcast")
  }

  test("curation v2 computes quality map-side: no quality self-join exchange") {
    // quality_score is a projection (qualityScoreCol); the only corpus
    // joins are the per-doc LM frame (one doc_id exchange pair) and the
    // dup-victim anti join. A quality join would add one more
    // full-corpus hashpartitioning exchange on doc_id over the raw scan.
    val q = SparkEntry.queries("curation_pipeline_v2")(spark, dir)
    val opt = q.queryExecution.optimizedPlan
    val p = opt.toString
    assert(p.contains("quality_score"),
      s"quality must be inlined as a projection:\n${p.take(1200)}")
    // Corpus scans in the OPTIMIZED plan: the quality-as-a-joined-frame
    // shape re-scanned documents once more than the inlined-column shape
    // (scans: main spine, LM tokens, and the dedup machinery's passes).
    val scans = opt.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if readsDocuments(r) => r
    }.size
    assert(scans <= docScansV2Expected,
      s"unexpected extra documents scan (quality join regressed?): $scans\n${p.take(1500)}")
  }
  // Measured for the inlined-quality shape; the joined shape adds 1.
  private val docScansV2Expected = 4

  // A relation's plan string names its columns, not its files: match the
  // documents table by the file the relation reads.
  private def readsDocuments(
      r: org.apache.spark.sql.execution.datasources.LogicalRelation): Boolean =
    r.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.exists(_.getName == "documents.parquet")
      case _ => false
    }

  /** `documents` relations in an optimized plan, entering each cached
    * frame's logical plan once. */
  private def documentsRelations(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val entered = scala.collection.mutable.Set.empty[LogicalPlan]
    def walk(n: LogicalPlan): Int = n match {
      case r: LogicalRelation => if (readsDocuments(r)) 1 else 0
      case m: InMemoryRelation =>
        if (entered.add(m.cacheBuilder.logicalPlan))
          walk(m.cacheBuilder.logicalPlan)
        else 0
      case other => other.children.map(walk).sum
    }
    walk(p)
  }

  test("curation rule gate is a filter: no flag-frame join re-reads documents") {
    // The rule gate (TextAnalysis.rulePassCol) filters the scan row; the
    // old shape built the ruleFlags frame from a second documents read
    // and joined it back on doc_id. These pipelines scope-cache their
    // survivors, so the count enters each cached frame's plan once.
    for ((q, expected) <- docRelationsRuleGated) {
      val opt = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      val n = documentsRelations(opt)
      assert(n <= expected,
        s"$q has $n documents relations (measured $expected): a rule-flag " +
          s"join back?\n${opt.toString.take(1500)}")
    }
    graft.ops.OpCaches.releaseAll()
  }
  // Measured with the rule gate as a filter. Joining the flag frame back
  // adds 1 to each, and 16 to v8, whose gated frame feeds the pair
  // mining's cached frames and the cached sample.
  test("curation e2e language gate is a filter: no langId join re-reads documents") {
    // TextAnalysis.langIdCol filters the scan row; the old shape built the
    // langId frame from a second documents read and joined it back on
    // doc_id.
    val opt = SparkEntry.queries("curation_pipeline_e2e")(spark, dir)
      .queryExecution.optimizedPlan
    val n = documentsRelations(opt)
    graft.ops.OpCaches.releaseAll()
    assert(n <= docRelationsE2e, s"curation_pipeline_e2e has $n documents " +
      s"relations (measured $docRelationsE2e): a langId join back?\n" +
      opt.toString.take(1500))
  }
  // Measured with the language gate as a filter; the joined shape read 5.
  private val docRelationsE2e = 4

  private val docRelationsRuleGated = Seq(
    "curation_pipeline_v3" -> 17, "curation_pipeline_v5" -> 1,
    "curation_pipeline_v6" -> 6, "curation_pipeline_v7" -> 4,
    "curation_pipeline_v8" -> 16)

  test("curation v4 cleans and routes in ONE projection: no self-join before the cache") {
    // Scrub + script routing are both projections; everything upstream
    // of the scoped cache must be scan → project → filter with no join
    // at all (the pre-round-10 shape joined the scrubbed frame back for
    // `source` and the script frame back for the routing verdict).
    val q = SparkEntry.queries("curation_pipeline_v4")(spark, dir)
    // AQE wraps the physical plan, so the cached stage is collected from
    // the optimized LOGICAL plan's InMemoryRelation leaves (each holds
    // its physical cachedPlan).
    val cachedPlans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }
    assert(cachedPlans.nonEmpty, "v4 must scope-cache the clean-and-route stage")
    cachedPlans.foreach { cp =>
      assert(!cp.contains("Join") && !cp.contains("Exchange"),
        s"the cached clean-and-route stage must be one map-side pass:\n${cp.take(1200)}")
    }
  }

  test("cluster-balanced sample broadcasts centroids and pre-thins the rank window") {
    val p = plan("sample_cluster_balanced")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid matrix must broadcast:\n${p.take(1200)}")
    // The rank window's input must carry the hash pre-thin filter (an
    // unthinned window would put a whole cluster through one task).
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0)
    assert(p.substring(winIdx).contains("Filter") ||
      p.substring(0, winIdx).contains("4294967296"),
      s"rank window must be fed by the keyUniform pre-thin:\n${p.take(1500)}")
  }

  test("triangle closure is a semi join over equi-keyed wedges") {
    val p = plan("graph_triangles")
    assert(p.contains("LeftSemi"),
      s"closure must be a semi join (wedges never materialize past it):\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // Exactly one BroadcastNestedLoopJoin is expected: the 1-row
    // relative-min-support threshold frame cross-joined onto the pair
    // counts. Any second one would be an accidental unkeyed join.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1,
      s"only the 1-row support-threshold broadcast may nest-loop ($bnlj):\n${p.take(1200)}")
  }

  test("round-11 rank stats: value-keyed rank maps, no cartesian") {
    // The range-prefix pass runs EAGERLY inside withRangeCumSum (its
    // localCheckpoint), so the returned plan shows only the re-attach:
    // both rank maps must join back by VALUE equi-keys — never a
    // cartesian — and the moment fold must combine map-side.
    val sp = plan("ml_spearman_corr")
    assert(!sp.contains("CartesianProduct"), sp.take(800))
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(sp).size >= 2, s"two value-keyed joins:\n${sp.take(1200)}")
    assert(sp.contains("partial_sum"), "moment fold must be partial")
    // Lift curve / trimmed mean: post-rank plans are filter+agg only.
    val lc = plan("ml_lift_curve")
    assert(!lc.contains("CartesianProduct"), lc.take(800))
    val tm = plan("a30_trimmed_mean")
    assert(!tm.contains("CartesianProduct") && tm.contains("HashAggregate"),
      tm.take(800))
  }

  test("whitening is map-side after the dim-bounded collect: zero joins") {
    val df = graft.ops.Similarity.whitenDiagonal(
      graft.sources.Tables.embeddings(spark, dir), "vec_id", "embedding")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      s"whitened transform must be a pure projection (stats are literals):\n${p.take(1200)}")
    assert(!p.contains("Exchange"),
      s"no shuffle may follow the stats collect:\n${p.take(1200)}")
  }

  test("permutation test: replica fan-out collapses map-side like bootstrap") {
    val p = plan("ab_test_permutation")
    // The only nest-loops are the 1-row observed-stats broadcasts.
    assert(!p.contains("CartesianProduct"), p.take(800))
    // r16: the replica fan-out is the codegen'd md5_chunk_uniforms kernel
    // under posexplode (was an interpreted transform lambda + explode).
    val gens = "posexplode\\(md5_chunk_uniforms".r.findAllIn(p).size
    assert(gens == 1, s"one replica kernel explode expected ($gens):\n${p.take(1200)}")
    // Partial aggregation must run before the B-key exchange so the
    // shuffle carries replicas × map partitions rows, not B× the data.
    assert(p.contains("HashAggregate"), p.take(800))
  }

  test("RBO and vocab Jaccard: bounded spines broadcast, intersections equi-keyed") {
    val rb = plan("retrieval_rbo")
    assert(!rb.contains("CartesianProduct"), rb.take(800))
    val vj = plan("text_source_vocab_jaccard")
    assert(!vj.contains("CartesianProduct"), vj.take(800))
    // Top-V self-intersection joins on the word key, never all-pairs.
    assert(vj.contains("Exchange hashpartitioning") ||
      vj.contains("BroadcastHashJoin"), vj.take(800))
    // Assortativity: two degree joins, both equi-keyed.
    val as = plan("graph_assortativity")
    assert(!as.contains("CartesianProduct"), as.take(800))
  }
  test("round-12 admission/drift ops: equi-keyed, bounded spines only") {
    // dq_ks_by_source: full-outer equi-join + per-group windows — no
    // cartesian and no nest-loop anywhere (nothing needs broadcasting
    // beyond hash-join sides).
    val ks = plan("dq_ks_by_source")
    assert(!ks.contains("CartesianProduct"), ks.take(800))
    assert(!ks.contains("BroadcastNestedLoopJoin"),
      s"ksByGroup has no unkeyed join:\n${ks.take(1200)}")
    // psiByGroup consumers: the only nest-loops allowed are the 1-row
    // edge broadcasts, one per side, each materialized ONCE behind an
    // OpCaches scope (uncached, Spark duplicated the subtrees and the
    // corpus was scanned ~4x per side — this guard's first run caught
    // it). Counted by traversal, each cached plan once: the plan dump
    // inlines every cached build plan at each scan site.
    for (q <- Seq("corpus_admission_report", "curation_pipeline_v6")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      val (cart, bnlj) = CatalystBridge.realNestedJoinCounts(df)
      assert(cart == 0, s"$q:\n${p.take(800)}")
      assert(p.contains("InMemoryTableScan"),
        s"$q: psiByGroup's bounded frames must be scope-cached:\n${p.take(1200)}")
      assert(bnlj <= 2,
        s"$q: only the cached edge spines may nest-loop ($bnlj, measured 2):\n${p.take(1500)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: admission frames must broadcast-hash-join back:\n${p.take(1200)}")
    }
    // The planner touches no data: its plan must contain no scan at all.
    val lp = plan("dedup_lsh_plan")
    assert(!lp.contains("FileScan") && !lp.contains("CartesianProduct"),
      lp.take(800))
  }

  test("round-13 planned-LSH / admission / drift ops: equi-keyed candidate generation") {
    // Planned LSH: every join is keyed — (band, bucket) candidates,
    // shingle-keyed verification, id-keyed sizes. No all-pairs stage.
    val lp = plan("dedup_lsh_planned")
    assert(!lp.contains("CartesianProduct"), lp.take(800))
    assert(!lp.contains("BroadcastNestedLoopJoin"), lp.take(1200))
    // v7: KS admission is windows + equi-joins; the only broadcasts are
    // the |sources|-bounded admission frames joining back.
    val v7Df = SparkEntry.queries("curation_pipeline_v7")(spark, dir)
    val v7 = v7Df.queryExecution.executedPlan.toString
    assert(CatalystBridge.realNestedJoinCounts(v7Df) == ((0, 0)), v7.take(1200))
    assert(v7.contains("BroadcastHashJoin"), v7.take(1200))
    // JS drift: one full-outer equi-join + per-group windows, like KS.
    val js = plan("dq_js_by_source")
    assert(!js.contains("CartesianProduct"), js.take(800))
    assert(!js.contains("BroadcastNestedLoopJoin"), js.take(1200))
    // Embedding drift: two aggregations per side, one label equi-join.
    val ed = plan("dq_embedding_drift")
    assert(!ed.contains("CartesianProduct"), ed.take(800))
    assert(!ed.contains("BroadcastNestedLoopJoin"), ed.take(1200))
    // Serve stack: the probed-cluster candidate join and the re-rank are
    // both keyed; the deliberate cross join lives ONLY in the brute-force
    // truth side of the recall harness, never in the serving path.
    val sv = plan("ann_ivf_truncated_rerank")
    assert(!sv.contains("CartesianProduct"), sv.take(800))
  }

  test("round-14 dedup/psi ops: equi-keyed candidates, no cartesian anywhere") {
    // Signature-store probe: banded-bucket equi-join candidates + a
    // (corpus_id, perm)-keyed agreement join — nothing nest-loops.
    val il = plan("dedup_incremental_lsh")
    assert(!il.contains("CartesianProduct"), il.take(800))
    assert(!il.contains("BroadcastNestedLoopJoin"), il.take(1200))
    // Quantile PSI: binning is MAP-SIDE against the collected edge
    // literals — the only joins are the dense-grid spine and the share
    // join, the same budget as the fixed-width psi family.
    val pq = plan("dq_psi_by_source_quantile")
    assert(!pq.contains("CartesianProduct"), pq.take(800))
    // Curation v8: pair mining, sample restriction, split, and audit are
    // all equi-keyed; admission frames broadcast back.
    val v8Df = SparkEntry.queries("curation_pipeline_v8")(spark, dir)
    assert(CatalystBridge.realNestedJoinCounts(v8Df) == ((0, 0)),
      v8Df.queryExecution.executedPlan.toString.take(1200))
  }

  test("round-14 unified drift datacard: shared cached scans, bounded spines") {
    // driftDatacard (L300) composes all four drift statistics from TWO
    // scope-cached snapshot frames — the components must read the cached
    // scans (no per-statistic corpus re-scan) and the only nest-loops
    // allowed are psiByGroup's structurally bounded spines (1-row edge
    // broadcast per side + groups x bins grid), same budget as the
    // admission composites. Final assembly is equi-keyed on the group.
    val dc = plan("dq_drift_datacard")
    assert(!dc.contains("CartesianProduct"), dc.take(800))
    assert(dc.contains("InMemoryTableScan"),
      s"datacard snapshots must be scope-cached:\n${dc.take(1200)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(dc).size
    assert(bnlj <= 12,
      s"datacard: only psiByGroup's bounded spines may nest-loop ($bnlj)")
  }

  test("round-15 composite guards: soft-dedup, admission curations, e2e session stay scan-bounded") {
    // Round-14 verdict #3: these pipelines compose 4-6 operator stages —
    // a stage silently re-scanning the corpus (or losing its scoped
    // cache) must fail HERE, not as a bench-floor regression two rounds
    // later. Ceilings are the measured round-15 shapes with no slack:
    // raising one requires a deliberate decision in this file.
    def counts(p: String): (Int, Int, Int, Int) = (
      "CartesianProduct".r.findAllIn(p).size,
      "BroadcastNestedLoopJoin".r.findAllIn(p).size,
      "FileScan".r.findAllIn(p).size,
      "InMemoryTableScan".r.findAllIn(p).size)

    // sample_soft_dedup's cluster map is computed EAGERLY (bounded
    // union-find fast path), so its returned plan must be one docs scan
    // joined to driver-built cluster frames — nothing quadratic.
    val (sdCart, _, sdScans, _) = counts(plan("sample_soft_dedup"))
    assert(sdCart == 0 && sdScans <= 1,
      s"soft-dedup returned plan: cart=$sdCart scans=$sdScans (expect <=1)")
    // ...and the mining plan it runs eagerly (nearDuplicates at its own
    // threshold) keeps the ONE scoped shingle cache feeding signatures,
    // sizes, and both verify sides. Counted by TREE TRAVERSAL, not string
    // matching: a materialized adaptive cached plan prints both its Final
    // and Initial sections, so `"FileScan".r` over the toString double-
    // counts as soon as an earlier query materialized the shared cache
    // (which is why the old string ceiling of 14 read 28 in-suite with an
    // UNCHANGED execution shape — r16 postmortem). The real invariant is
    // tighter than the old ceiling ever was: ZERO top-level corpus file
    // scans — every consumer must read a scope-cached frame.
    val ndDf = graft.ops.Dedup.nearDuplicates(
        graft.sources.Tables.documents(spark, dir), "doc_id", "text",
        minJaccard = 0.8)
    val (ndFileScans, ndCacheScans) =
      org.apache.spark.sql.graft.CatalystBridge.realScanCounts(ndDf)
    val nd = ndDf.queryExecution.executedPlan.toString
    graft.ops.OpCaches.releaseAll()
    val (ndCart, ndBnlj, _, _) = counts(nd)
    assert(ndCart == 0 && ndBnlj == 0,
      s"near-dup mining must stay equi-keyed: cart=$ndCart bnlj=$ndBnlj")
    assert(ndCacheScans >= 1, "shingle cache must feed the mining plan")
    assert(ndFileScans == 0,
      s"near-dup mining re-scans the corpus outside the scoped caches: " +
        s"fileScans=$ndFileScans (measured 0, cacheScans=$ndCacheScans)")

    // Admission curations: v6 (Wilson + binned-PSI arms; psiByGroup's
    // cached edge spines are the only nest-loops) and v7 (KS arm — fully
    // equi-keyed). Every count is a REAL (traversal) count — see the
    // nearDuplicates guard above for why string counts are order-fragile.
    def realCounts(q: String): (Int, Int, Int, Int) = {
      val df = SparkEntry.queries(q)(spark, dir)
      val (f, m) = CatalystBridge.realScanCounts(df)
      val (cart, bnlj) = CatalystBridge.realNestedJoinCounts(df)
      (cart, bnlj, f, m)
    }
    val (v6Cart, v6Bnlj, v6Scans, _) = realCounts("curation_pipeline_v6")
    assert(v6Cart == 0, "v6 cartesian")
    assert(v6Bnlj <= 2 && v6Scans <= 3,
      s"v6 grew: bnlj=$v6Bnlj (measured 2) scans=$v6Scans (measured 3)")
    val (v7Cart, v7Bnlj, v7Scans, _) = realCounts("curation_pipeline_v7")
    assert(v7Cart == 0 && v7Bnlj == 0,
      s"v7 must stay equi-keyed: cart=$v7Cart bnlj=$v7Bnlj")
    assert(v7Scans <= 4, s"v7 grew: scans=$v7Scans (measured 4)")

    // The composed incremental session: the batch-sized fresh frame is
    // scope-cached (cache reads present); corpus-side passes stay at the
    // measured composition (diff + store build + psi reference), never a
    // per-stage re-read explosion. Measured: ZERO top-level file scans —
    // every corpus pass reads a scoped cache.
    val (eCart, eBnlj, eScans, eImr) = realCounts("e2e_incremental_session")
    assert(eCart == 0, "e2e cartesian")
    assert(eBnlj <= 2, s"e2e: only psi spines may nest-loop ($eBnlj, measured 2)")
    assert(eImr >= 1, "e2e: the fresh batch must be scope-cached")
    assert(eScans == 0, s"e2e grew: scans=$eScans (measured 0)")
    graft.ops.OpCaches.releaseAll()
  }

  /** The nodes of an EXECUTED plan, by traversal: through AQE wrappers
    * and query stages into their exchanges and into subquery plans; a
    * reused exchange or a cache scan is a leaf. */
  private def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case q: QueryStageExec => executedNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(executedNodes)
  }

  /** Shuffle exchanges of an executed plan (see [[executedNodes]]). */
  private def shuffleExchanges(df: org.apache.spark.sql.DataFrame): Int =
    executedNodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])

  test("realScanCounts counts file scans inside subquery plans") {
    val path = java.nio.file.Files.createTempDirectory("graft_subq").toString + "/t"
    spark.range(10).selectExpr("id AS x").write.parquet(path)
    val df = spark.sql(
      s"SELECT id, (SELECT max(x) FROM parquet.`$path`) AS m FROM range(3)")
    assert(org.apache.spark.sql.graft.CatalystBridge.realScanCounts(df) == ((1, 0)),
      df.queryExecution.executedPlan.toString)
  }

  test("one admission batch: the batch's own scan, the reference from cache") {
    // A parquet-backed micro-batch against a parquet-backed reference:
    // the batch is scanned once into its profile, the reference only
    // through its scope-cached profile, and the executed plan's shuffle
    // exchanges (one: the batch profile's single aggregation) and a kept
    // plan's Spark jobs stay at the measured counts (no slack).
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_adm").toString
    def write(name: String, shift: Double): String = {
      val path = s"$root/$name"
      (1 to 400).map { i =>
        (s"s${i % 8}", i % 37 + shift, if (i % 3 == 0) "en" else "de",
          Seq(1.0, (i % 5).toDouble))
      }.toDF("source", "value", "lang", "vec").write.parquet(path)
      path
    }
    val reference = spark.read.parquet(write("ref", 0.0))
    val batch = spark.read.parquet(write("batch", 1.0))
    val rep = graft.streaming.StreamAdmission.admissionDatacard(batch, reference,
      "source", "value", "lang", "vec", col("value") > 5.0, minWilsonLo = 0.2,
      maxPsi = 1.0, maxKs = 0.5, maxJs = 0.4, minCentroidCos = 0.8,
      maxNormDelta = 0.3)
    def guard(rep: org.apache.spark.sql.DataFrame, which: String): Int = {
      assert(org.apache.spark.sql.graft.CatalystBridge.realScanCounts(rep) == ((1, 1)),
        s"$which: expected (batch file scans, reference cache scans) = (1, 1):\n" +
          rep.queryExecution.executedPlan)
      val (rows, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext)(rep.collect())
      assert(rows.length == 8)
      val exchanges = shuffleExchanges(rep)
      assert(exchanges <= 1, s"$which: admission batch exchanges grew: " +
        s"$exchanges (measured 1):\n${rep.queryExecution.executedPlan}")
      jobs
    }
    try {
      guard(rep, "first batch")
      // The next batch runs the kept plan over its own scan (no job while
      // the datacard is built) and keeps the same shape.
      val batch2 = spark.read.parquet(write("batch2", 2.0))
      val (rep2, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext)(
        graft.streaming.StreamAdmission.admissionDatacard(batch2, reference,
          "source", "value", "lang", "vec", col("value") > 5.0, minWilsonLo = 0.2,
          maxPsi = 1.0, maxKs = 0.5, maxJs = 0.4, minCentroidCos = 0.8,
          maxNormDelta = 0.3))
      assert(jobs == 0, s"the second batch built its datacard afresh ($jobs jobs)")
      val collectJobs = guard(rep2, "second batch")
      assert(collectJobs <= 3, s"a kept-plan batch's collect grew: " +
        s"$collectJobs jobs (measured 3)")
    } finally graft.ops.OpCaches.releaseAll()
  }
}
