package graft

/** Automated plan-regression gate over EVERY declared key (the r9 verdict's
  * ask): at 270 keys a hand-audited plan discipline eventually slips, so
  * this spec rebuilds each key's physical plan at sf0.001 and fails on the
  * three anti-patterns the audits hunt by hand —
  *
  *   - `CartesianProduct`: an unkeyed all-pairs join is never acceptable;
  *     every intentional pair join here is either equi-keyed (LSH bands,
  *     shingle/span hashes) or a broadcast range join.
  *   - `ScalaUDF` / Python eval: the library's contract is zero UDFs in
  *     src/main — custom logic is native Catalyst expressions (codegen) or
  *     HOFs, so a UDF in any plan is a regression by definition. The one
  *     sanctioned exception is the typed fold under the session-head keys
  *     (`EventOps.sessionHeads`, `flatMapSortedGroups` over each user's
  *     events): one sort and one pass per user, with no window state
  *     (ROADMAP direction 4). Its plan shape is pinned below.
  *   - `BroadcastNestedLoopJoin` outside the whitelist below: BNLJ is the
  *     legitimate physical shape ONLY for a broadcast-tiny side under a
  *     genuine non-equi predicate; anywhere else it means an equi-key was
  *     lost (e.g. a join condition stopped being extractable).
  *
  * Presence checks run on `executedPlan.toString` (the AQE initial plan —
  * node COUNTS would double-count under AQE, presence does not; see the
  * optimizedPlan-counting note in ScaleSpec). */
class PlanAuditSpec extends SparkSpec {

  /** Keys allowed to plan a BroadcastNestedLoopJoin, with the reason the
    * shape is correct there. Additions require the same justification.
    * The dominant reason is the SCALAR-BROADCAST pattern: crossJoin with a
    * broadcast 1-row global aggregate (bounds, totals, N) — O(rows) with
    * zero shuffle, the distributed replacement for collecting a scalar to
    * the driver. BNLJ against a 1-row build side does |rows|·1 compares. */
  private val scalar =
    "broadcast 1-row global-aggregate side (scalar-broadcast pattern)"
  private val centroids =
    "every row scored against a broadcast k-row centroid frame, k tiny"
  // The IVF assignment BNLJ, visible only to the full-lineage sweep (it
  // sits above the top-2 pin): every vector scored against the broadcast
  // codebook — 10 rows (fixed demo) or ceil(√n) rows (production sizing:
  // ~8 MB of 64-dim floats at 10^9 vectors, broadcast-tiny by
  // construction); the √n variant also carries the 1-row nlist
  // scalar-broadcast. O(n·√n) compares with zero shuffle — the standard
  // coarse-quantizer scan, NOT an all-pairs join.
  private val ivfCodebook =
    "broadcast IVF codebook scan (≤ ceil(√n) rows) above the top-2 pin"
  private val pairCap =
    "labeled brute-force baseline; input capped at VectorSim.BruteForceCap"
  private val bnljAllowed: Map[String, String] = Map(
    "agg_histogram" -> scalar, // global min/max bounds
    "evt_metrics_rates" -> scalar, // global window-span seconds
    "evt_rfm_segments" -> scalar, // global RFM quantile cut points
    "evt_rfm_segments_approx" -> scalar, // same, approx percentiles
    "dq_ab_significance" -> scalar, // global arms/total frame for the z-test
    "dq_benford" -> scalar, // global first-digit total for expecteds
    "dq_multivariant_significance" -> scalar, // global 1-row k-arm sizes frame
    "dq_sequential_probe" -> scalar, // global 1-row min/max ts frame for looks
    "dq_chi_square_drift" -> scalar, // global ref/cur totals for expecteds
    "evt_changepoint_split" -> scalar, // global n/S_n for split scores
    "evt_pagerank_transitions" -> scalar, // |V| rides as broadcast 1-row
    "evt_session_basket" -> scalar, // global session count for lift
    "evt_survival_curve" -> scalar, // global at-risk denominator
    "fn_fuzzy_levenshtein" -> // nation(25) x region(5) demo corpus:
      "intentional cross join over two broadcast-tiny dims", // bounded
    "graph_bfs_hops" -> scalar, // 1-row complete (frontier-exhausted) flag
    "graph_kcore_peel" -> scalar, // 1-row stable (last-peel-count) flag
    "graph_label_prop" -> scalar, // 1-row LPA converged flag
    "graph_community_stats" -> scalar, // same LPA converged flag
    "join_cross" -> "the key IS the cross-join demo over bounded dims",
    "llm_ann_lsh" -> scalar, // corpus count sizes the LSH bucket width
    "llm_ann_index_upsert" -> scalar, // same width scalar, index + probe
    "llm_bm25_topk" -> scalar, // corpus N and avg doc length
    "llm_centroid_classify" -> centroids,
    "llm_cluster_balanced_sample" -> scalar, // global vector count
    "llm_cosine_topk" -> pairCap,
    "llm_domain_token_mix" -> scalar, // corpus-total token count
    "llm_emb_near_dedup" -> pairCap,
    "llm_pq_recall" -> // sampled ~100 eval queries broadcast vs corpus:
      "labeled brute-force recall baseline over a bounded query sample",
    "llm_ivf_recall" -> // same sampled exact baseline, IVF under test
      "labeled brute-force recall baseline over a bounded query sample",
    "llm_ivf_ann" -> ivfCodebook,
    "llm_ivf_scaled_ann" -> ivfCodebook,
    "llm_ivf_trained_ann" -> // r18: the Lloyd iterations re-score the
      // corpus against the broadcast (≤ ceil(√n)-row) codebook once per
      // iteration — same shape as the final assignment scan, × the spec's Lloyd rounds
      ivfCodebook,
    "llm_ann_adaptive_recall" -> // adaptive stage + the sampled baseline
      "labeled brute-force recall baseline over a bounded query sample",
    "llm_ann_adaptive" -> // r17: both gated branches' codebook scans +
      // the 1-row corpus-count gate are broadcast-tiny BNLJ sides; the
      // inactive branch's scans run over empty gated frames
      ivfCodebook,
    "llm_ivf_index_upsert" -> ivfCodebook,
    "llm_semantic_dedup_keep" -> ivfCodebook,
    "llm_semantic_dedup_cellsized" -> // two-level IVF: only the L1
      // codebook (≤ ceil(√nlist) rows) broadcasts; the linearly-growing
      // L2 codebook reaches the corpus through an l1-KEYED equi-join
      "broadcast L1 codebook scan + 1-row sizing scalar above the top-2 pin",
    "llm_ivf2_ann" -> // same two-level candidate stage, rank tail on top
      "broadcast L1 codebook scan + 1-row sizing scalar above the top-2 pin",
    "llm_ivf2_dedup_incremental" -> // base-trained L1 codebook + scalars
      "broadcast L1 codebook scan + 1-row sizing scalar above the top-2 pin",
    "stream_semantic_dedup" -> // same (base, delta) core, verdict output
      "broadcast L1 codebook scan + 1-row sizing scalar above the top-2 pin",
    "llm_ivf2_recall" -> // two-level stage + the sampled exact baseline
      "labeled brute-force recall baseline over a bounded query sample",
    "llm_semantic_dedup_incremental" -> ivfCodebook, // + 1-row nlist scalar
    "llm_ivfpq_ann" -> ivfCodebook, // IVF candidate stage above the PQ ADC
    "llm_ivfpq_recall" -> // same IVF stage + the sampled exact baseline
      "labeled brute-force recall baseline over a bounded query sample",
    "llm_cluster_purity" -> ivfCodebook,
    "llm_knn_classify" -> ivfCodebook,
    "llm_lsh_recall" -> // same sampled exact baseline, LSH under test
      "labeled brute-force recall baseline over a bounded query sample",
    "llm_kmeans_step" -> centroids,
    "llm_shard_balance" -> scalar, // corpus-total byte count
    "llm_surprisal_buckets" -> scalar, // corpus-total token count
    "llm_tfidf_terms" -> scalar, // corpus N for idf
    "llm_unigram_surprisal" -> scalar, // corpus-total token count
    "scale_global_ids" -> scalar, // global id bounds for bucketing
    "scale_skew_profile" -> scalar, // global row count for skew ratio
    "stream_metrics_rates" -> scalar, // batch twin of evt_metrics_rates
    "sub_any_all" -> scalar, // ANY/ALL decorrelated to min/max bounds
  )

  private def sweep(perKey: () => Unit = () => ()): Seq[String] = {
    val bad = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf001).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        bad += s"$name: CartesianProduct"
      if (plan.contains("ScalaUDF") ||
          plan.toLowerCase.contains("batchevalpython"))
        bad += s"$name: UDF in plan"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed.contains(name))
        bad += s"$name: unwhitelisted BroadcastNestedLoopJoin"
      perKey()
    }
    bad.result()
  }

  test("no CartesianProduct / ScalaUDF / unwhitelisted BNLJ in any declared plan") {
    val v = sweep()
    assert(v.isEmpty, s"${v.size} plan regression(s):\n${v.mkString("\n")}")
  }

  /** Every distinct physical node reachable from `p`, INCLUDING through
    * the boundaries the default audit cannot cross: cached-plan interiors
    * (InMemoryTableScan → relation.cachedPlan), AQE wrappers, query
    * stages, reused exchanges, and subquery plans. Identity-deduped: an
    * iterative loop's plan is a DAG whose shared InMemoryRelations would
    * otherwise be visited once per PATH — that multiplicative expansion
    * is exactly why `toString` (which prints innerChildren per path) blew
    * the heap when this sweep first ran over the cc fixpoint keys; the
    * DAG walk is linear in distinct nodes. */
  private def reachable(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    val out = Seq.newBuilder[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      if (seen.containsKey(p)) return
      seen.put(p, ())
      out += p
      val through: Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(i.relation.cachedPlan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case _ => Nil
      }
      (p.children ++ through ++ p.subqueries).foreach(walk)
    }
    walk(root)
    out.result()
  }

  test("FULL-LINEAGE sweep (plan.audit capture): nothing hides above a pin") {
    // The r14 verdict's blind spot: Scale.pin's default localCheckpoint
    // truncates lineage, so the default sweep audits only what sits BELOW
    // each key's last pin — ~36 pin sites' upstream stages (e.g. the IVF
    // codebook crossJoins) were swept by nobody. Under
    // spark.graft.plan.audit=true every pin RECORDS its input's
    // executedPlan segment before cutting as usual — so (segments +
    // final plan) cover each key's whole logical chain
    // exactly once and the same three anti-patterns are checked through
    // every lineage cut. Capture-then-truncate is the only shape that
    // scales: keeping lineage live across an iterate loop's rounds
    // (pin.mode=none / persist) makes the printed plan multiplicative in
    // the round count — the sweep's first two attempts hung on a blocked
    // convergence Observation and OOM'd inside Spark's own event-log
    // explainString respectively. Keys whose bodies run actions (pins,
    // convergence counts) still execute; pins are released per key.
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    spark.conf.set("spark.graft.plan.audit", "true")
    try {
      graft.operators.Scale.drainAuditPlans(): Unit // leftovers from other suites
      val bad = Seq.newBuilder[String]
      var segments = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val finalPlan = fn(spark, sf001).queryExecution.executedPlan
        val captured = graft.operators.Scale.drainAuditPlans()
        segments += captured.size
        val nodes = (captured :+ finalPlan).flatMap(reachable)
        if (nodes.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.CartesianProductExec]))
          bad += s"$name: CartesianProduct"
        if (nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))))
          bad += s"$name: UDF in plan"
        if (!bnljAllowed.contains(name) && nodes.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
          bad += s"$name: unwhitelisted BroadcastNestedLoopJoin"
        graft.operators.Scale.releasePins(spark)
      }
      // the sweep must actually have seen pre-pin segments — zero means
      // the capture hook silently stopped firing and the test would be
      // vacuously green
      assert(segments > 30, s"only $segments pre-pin segments captured")
      val v = bad.result()
      assert(v.isEmpty,
        s"${v.size} pre-pin plan regression(s):\n${v.mkString("\n")}")
    } finally spark.conf.unset("spark.graft.plan.audit")
  }

  /** Exchanges (PlanDump's count: the final plan plus every pinned
    * segment) of each key that `T.byKey` / `T.byOrder` spread, as the
    * plans stood before the spreads, at sf0.01. The spread's exchange must
    * replace the one the chain's first window, aggregate or sort needed. */
  private val spreadExchanges: Map[String, Int] = Map(
    "evt_pattern_count" -> 2, "evt_pattern_match" -> 3, "evt_pattern_measures" -> 2,
    "evt_pattern_nonoverlap" -> 2, "evt_pattern_permute" -> 2,
    "evt_pattern_quantified" -> 2, "evt_pattern_within" -> 2, "evt_scd2_state" -> 2,
    "evt_session_basket" -> 14, "evt_session_entry_exit" -> 2,
    "evt_sessionize_batch" -> 2, "evt_top_paths" -> 2, "evt_top_sessions" -> 4,
    "flow_compiled_measures" -> 2, "fn_grok_dispatch" -> 1, "fn_grok_extract" -> 1,
    "fn_grok_patterns" -> 1, "join_asof_forward" -> 2, "join_asof_nearest" -> 2,
    "join_scd2_pointintime" -> 3, "scale_interval_bin_join" -> 5, "stream_scd2" -> 2,
    "stream_session_window" -> 2)

  test("spread keys plan no more exchanges than before the spreads (sf0.01)") {
    spark.conf.set("spark.graft.plan.audit", "true")
    try {
      graft.operators.Scale.drainAuditPlans(): Unit
      val risen = spreadExchanges.toSeq.sorted.flatMap { case (key, before) =>
        val plan = SparkEntry.queries(key)(spark, sf01).queryExecution.executedPlan
        val now = (plan +: graft.operators.Scale.drainAuditPlans()).map(PlanDump.exchanges).sum
        graft.operators.Scale.releasePins(spark)
        if (now > before) Some(s"$key: $before -> $now") else None
      }
      assert(risen.isEmpty, risen.mkString("\n"))
    } finally spark.conf.unset("spark.graft.plan.audit")
  }

  test("a spread chain's heaviest stage runs one task per shuffle partition (sf0.01)") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Seq("evt_pattern_match", "join_asof_nearest", "fn_grok_dispatch").foreach { key =>
      def run() = SparkEntry.queries(key)(spark, sf01)
        .write.format("noop").mode("overwrite").save()
      run() // warm: the JIT, not the plan, would pick the cold heaviest stage
      val (_, rec) = Jobs.record(spark)(run())
      val heavy = rec.stages.maxBy(_.runMs)
      assert(heavy.tasks == parts, s"$key: heaviest stage $heavy of ${rec.stages}")
    }
  }

  /** The keys that read `EventOps.sessionHeads`. */
  private val sessionHeadKeys = Seq("evt_pattern_count", "evt_pattern_match",
    "evt_pattern_measures", "evt_pattern_nonoverlap", "evt_pattern_permute",
    "evt_pattern_quantified", "evt_pattern_within", "evt_top_paths")

  test("each session-head key plans one sort on (user_id, ts, event_id) under the fold") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.{MapGroupsExec, SortExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def arrival(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case s: SortExec => s.sortOrder.map(_.child).collect { case a: Attribute => a.name } ==
        Seq("user_id", "ts", "event_id")
      case _ => false
    }
    val bad = sessionHeadKeys.flatMap { key =>
      val nodes = reachable(SparkEntry.queries(key)(spark, sf001).queryExecution.executedPlan)
      val folds = nodes.collect { case m: MapGroupsExec => m }
      Seq(
        Option.when(folds.size != 1)(s"$key: ${folds.size} folds"),
        Option.when(nodes.count(arrival) != 1 ||
          folds.headOption.forall(f => reachable(f).count(arrival) != 1))(
          s"$key: not one arrival sort under the fold"),
        Option.when(nodes.exists(_.isInstanceOf[WindowExec]))(s"$key: Window"),
        Option.when(nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]))(
          s"$key: ObjectHashAggregate")).flatten
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the as-of keys plan one Window exec per frame direction") {
    import org.apache.spark.sql.execution.window.WindowExec
    val want = Seq("join_asof_nearest" -> 2, "join_asof_tolerance" -> 1)
    val got = want.map { case (key, _) => key -> reachable(SparkEntry.queries(key)(spark, sf001)
      .queryExecution.executedPlan).count(_.isInstanceOf[WindowExec]) }
    assert(got == want)
  }

  test("PlanDump counts exchange nodes of the pre-execution plan") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val agg = spark.range(0, 1000).withColumn("k", col("id") % 10)
      .groupBy("k").count()
    val df = agg.join(broadcast(agg.withColumnRenamed("count", "c2")), "k")
    // one shuffle per aggregate side plus the broadcast; the count reads
    // the initial plan, so running the query (AQE re-planning, exchange
    // reuse) must not move it
    val before = PlanDump.exchanges(df.queryExecution.executedPlan)
    df.collect(): Unit
    assert(before == 3)
    assert(PlanDump.exchanges(df.queryExecution.executedPlan) == before)
  }
}
