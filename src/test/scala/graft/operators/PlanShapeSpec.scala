package graft.operators

import graft.{SparkEntry, SparkSpec}

/** The physical-plan shapes PERF.md claims are asserted here so a
  * regression (lost pushdown, a surprise cartesian, a de-codegen'd
  * kernel) fails the build rather than silently degrading at scale.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("filtered scan pushes predicates into the parquet scan") {
    val p = plan("q_filter_scan")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), IsNotNull(value), EqualTo(event_type,purchase)"),
      s"predicates not pushed:\n$p")
  }

  test("kNN is a codegen'd scan + TakeOrderedAndProject (no shuffle, no sort)") {
    val p = plan("q_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k pushdown:\n$p")
    assert(p.contains("cosinesimf32"), s"kernel missing:\n$p")
    assert(!p.contains("Exchange"), s"kNN must not shuffle:\n$p")
  }

  test("dimension join broadcasts the small side") {
    val p = plan("q_join_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("no unpartitioned window runs over an unbounded input") {
    // An empty partitionSpec funnels every row through one task — fatal
    // at 100 TB unless the input was already cut to a bounded candidate
    // set (TakeOrderedAndProject / GlobalLimit below the window).
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("q_rrf_fusion", "q_token_budget", "q_token_budget_bpe", "q_progressive").foreach { name =>
      val exec = SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan match {
        // AQE roots hold the physical tree in a field, not as a child —
        // unwrap so collect() sees the window operators.
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val windows = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(windows.nonEmpty, s"$name: expected a bounded global rank window")
      windows.foreach { w =>
        val bounded = w.child.collectFirst {
          case t: TakeOrderedAndProjectExec => t
          case g: GlobalLimitExec => g
        }.isDefined
        assert(bounded, s"$name: unpartitioned window over unbounded input:\n$exec")
      }
    }
  }

  test("entity detection is one explode pass + one aggregation shuffle") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exec = SparkEntry.queries("q_entity_detect")(spark, Sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val generates = exec.collect { case g: GenerateExec => g }
    assert(generates.length == 1, s"expected one explode, got ${generates.length}:\n$exec")
    // Shuffles: the adaptive spread repartition (scan-side), the
    // groupBy(name) aggregation, and the final orderBy range exchange —
    // nothing else (in particular no join shuffle).
    val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 3, s"unexpected shuffles in entity detect:\n$exec")
    assert(!exec.toString.contains("CartesianProduct"))
  }

  test("format detection is a pure projection (no shuffle but the sort)") {
    val p = plan("q_detect_format")
    // get_json_object probes must not induce joins or aggregations:
    // one scan, one project, one range exchange for the final orderBy.
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("contract queries keep scale-safe shapes") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // Pure projections: no join, no aggregate — a 100 TB pass is one scan.
    Seq("q_scope_acl", "q_sanitize_query", "q_share_provenance").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Join"), s"$name: unexpected join:\n$p")
      assert(!p.contains("HashAggregate"), s"$name: unexpected aggregate:\n$p")
    }
    // Small sides broadcast: the 7-row mode dim and the ≤40-row block set.
    Seq("q_mode_infer", "q_write_guard").foreach { name =>
      val p = plan(name)
      assert(p.contains("Broadcast"), s"$name: small side not broadcast:\n$p")
    }
    // Every window is partitioned (bounded per-group state, no global funnel)
    // and the pair generator stays bucket-local.
    Seq("q_prompt_projection", "q_per_type_scores", "q_cross_verify").foreach { name =>
      val exec = SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty, s"$name: unpartitioned window:\n$exec")
      assert(!exec.toString.contains("CartesianProduct"), s"$name plans a cartesian:\n$exec")
    }
  }

  test("scoped retrieval filter is a pure projection over the metadata map") {
    // The workflow scope filter must stay a per-row map probe — no join
    // against a coordinate table, no aggregate; a 100 TB scoped scan is
    // one pass with the predicate evaluated next to the scan.
    val p = plan("q_scoped_retrieval")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
  }

  test("checkpoint cleanup ranks inside the run partition only") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // Run the query to populate its store, then plan the doomed-row
    // frame directly: the ranking must be a branch-partitioned window
    // over the run-filtered side (bounded by run length), never a
    // global funnel over the checkpoint table.
    SparkEntry.queries("q_checkpoint_cleanup")(spark, Sf).collect()
    val store = new graft.storage.MemoryStore(spark,
      graft.internal.Scratch.path(spark, "q_checkpoint_cleanup"))
    val doomed = store.doomedCheckpoints(store.checkpoints().toDF(), "run0", 2)
    val exec = doomed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a window in:\n$exec")
    assert(windows.forall(_.partitionSpec.nonEmpty), s"unpartitioned window:\n$exec")
    // The run filter sits below the window (pushed toward the scan).
    assert(windows.forall(_.child.toString.contains("runId")),
      s"run filter not below the window:\n$exec")
  }

  test("salted join spreads the hot key: shuffle join keyed on (k, salt)") {
    val p = plan("q_salted_join")
    assert(p.contains("ShuffledHashJoin"), s"salting demo lost its shuffle join:\n$p")
    assert(p.contains("salt"), s"salt missing from the join keys:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dual-query kNN fuses both kernels into one codegen'd top-k scan") {
    val p = plan("q_knn_dual")
    // Two cosinesimf32 calls in ONE projection; under the session's
    // codegen.fallback=false this plan proves the freshName'd kernels
    // compile fused (the multi-similarity shape the kernel exists for).
    assert("cosinesimf32".r.findAllIn(p).size >= 2, s"expected two fused kernels:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k pushdown:\n$p")
    assert(!p.contains("Exchange"), s"dual kNN must not shuffle:\n$p")
  }

  test("per-model budget knapsack broadcasts the dim and windows by model") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_token_budget_models")(spark, Sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val p = exec.toString
    // The 22-row dim replicates via broadcast against the bounded
    // 200-row candidate cut — never a shuffled cartesian.
    assert(p.contains("BroadcastNestedLoopJoin"), s"dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"plans a cartesian:\n$p")
    // One window pass computes all per-model knapsacks: partitioned by
    // model, so state is bounded by the candidate cut per model.
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"expected model-partitioned windows only:\n$p")
  }

  test("decontamination broadcasts the benchmark gram set") {
    // The exploded training-gram stream is the big side at any corpus
    // scale; the benchmark suite is bounded. The broadcast hint pins
    // the plan so the training grams never shuffle for the join.
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bench grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"training grams shuffled for the join:\n$p")
  }

  test("boilerplate strip broadcasts the line set; the corpus text never joins or regroups") {
    val p = plan("q_boilerplate_strip")
    // The qualifying boilerplate set is heavy-hitters-small by
    // definition (each line appears in ≥5% of docs, so there are ≤20
    // distinct such lines per 1 line/doc). r16 shape: it folds to ONE
    // broadcast array and each document rewrites in place with a HOF
    // filter — the corpus side must carry NO join keyed on its rows
    // (the former LeftAnti + groupBy(doc_id) reassembly shuffled every
    // document's text through a collect_list exchange) and shuffle only
    // for the line-count aggregate and the ordered output.
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r.findFirstIn(p).isDefined,
      s"boiler array not broadcast onto the corpus:\n$p")
    assert(!p.contains("LeftAnti"), s"anti-join shape is back:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("strategy match builds the pair stream once: window argmin, no join-back") {
    val p = plan("q_strategy_match")
    // r16 shape: the argmin is a window min over error_id whose
    // partitioning the final aggregate reuses — exactly ONE error_id
    // hash exchange in the plan. The old aggregate + join-back shape
    // evaluated the errs⋈purch pair stream once per join side and
    // carried a second error_id exchange.
    val errIdExchanges = "hashpartitioning\\(error_id".r.findAllIn(p).size
    assert(errIdExchanges == 1,
      s"expected exactly 1 error_id exchange (window + reused-by-agg), got $errIdExchanges:\n$p")
    assert(p.contains("Window"), s"argmin window missing:\n$p")
  }

  test("sequence packing windows by language stream (no global window)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_pack_sequences")(spark, Sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"running-sum window must partition by the stream key:\n$exec")
  }

  test("mixture resample broadcasts the lang-count dim; the corpus never shuffles for it") {
    // Per-lang counts and the 1-row total are tiny at ANY corpus scale;
    // both replicate via broadcast so the resample is scan → projection
    // → explode, with the corpus shuffling only for the output sort.
    val p = plan("q_mixture_resample")
    assert(p.contains("BroadcastHashJoin"), s"lang counts not broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"1-row total not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a dim join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("train split is one scan + one partial-aggregated shuffle") {
    // Split assignment is a projection over the scan; the only shuffle
    // is the (split, lang) aggregate, which must partial-aggregate
    // map-side so the exchange carries ≤ |splits|·|langs| rows per task.
    val p = plan("q_train_split")
    assert(!p.contains("Join"), s"split assignment must not join:\n$p")
    assert("HashAggregate.*partial".r.findFirstIn(p).isDefined ||
      p.contains("partial_count"), s"aggregate not map-side combined:\n$p")
  }

  test("no query plans a cartesian product") {
    // Candidate-pair generators are the risk surface; all must stay
    // bucket/block-local. (knn_batch and the IVF probe broadcast a
    // bounded query/centroid side, which Spark plans as
    // BroadcastNestedLoopJoin — bounded, not O(n²) corpus pairs.)
    Seq("q_dedup_minhash_lsh", "q_dedup_embedding", "q_dedup_embedding_lsh",
      "q_consolidate_merge", "q_strategy_match",
      "q_dedup_incremental", "q_span_dedup", "q_pipeline_e2e",
      "q_semantic_dedup", "q_semantic_dedup_blocked", "q_dedup_canonical",
      "q_dsir_select", "q_zorder_layout", "q_kmeans_train",
      "q_entity_pagerank", "q_pmi_collocations", "q_ann_pq", "q_ann_ivfpq",
      "q_cms_topk", "q_logreg_train").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("next-action strategies are ONE map-side-combined aggregate, no windows") {
    // The four strategies used to rank with four row_number windows
    // partitioned by project — with 7 projects that is four full sorts
    // of the actionable set in 7 partitions. rk == 1 is an argmax, so
    // the plan must show a single partial+final max_by/min_by aggregate
    // on project and ZERO window operators: the only corpus-sized work
    // is the scan, and the exchange carries one partial row per
    // (task, project).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_next_action")(spark, Sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(exec.collect { case w: WindowExec => w }.isEmpty,
      s"strategy picks must not sort in windows:\n$exec")
    val s = exec.toString
    assert(s.contains("partial_max_by") || s.contains("partial_min_by"),
      s"strategy aggregate must be map-side combined:\n$exec")
    assert(s.contains("max_by") && s.contains("min_by"),
      s"expected the argmax/argmin picks in the aggregate:\n$exec")
    assert(!s.contains("CartesianProduct"))
  }

  test("domain validation is one scan + broadcast requirement table (no agg, no shuffle but the sort)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exec = SparkEntry.queries("q_domain_validate")(spark, Sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val p = exec.toString
    assert(p.contains("BroadcastHashJoin"), s"requirement table must broadcast:\n$p")
    assert(!p.contains("HashAggregate"), s"validation needs no aggregate:\n$p")
    val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 1, s"only the final orderBy may exchange:\n$p")
  }

  test("work-item ledger never forms an item-pair join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exec = SparkEntry.queries("q_work_items")(spark, Sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(!exec.toString.contains("CartesianProduct"))
    // Blocking degrees are two linear aggregations joined back on
    // item_id — bounded exchange count, nothing quadratic.
    val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 5, s"ledger shuffles exceed the two-agg + sort budget:\n$exec")
  }

  test("warm LSH legs pair the per-doc vectors: no signature regroup in the plan") {
    // The signature state holds one checkpointed vector per doc, and
    // the family key is the vector itself — so with the memo warm
    // neither the pair join (the incremental batch-vs-index join
    // included) nor the family-capped representative pick may group
    // exploded (band, sig) rows back into vectors.
    def check(): Unit = Seq("q_dedup_minhash_lsh", "q_minhash_estimate",
        "q_dedup_incremental").foreach { name =>
      SparkEntry.queries(name)(spark, Sf): Unit // warm the memo
      val p = plan(name)
      assert(!p.contains("ObjectHashAggregate") && !p.contains("collect_list"),
        s"$name regroups exploded signatures:\n$p")
    }
    check() // exact verdict
    spark.conf.set(PairGuard.MaxPairsConf, "0") // routed: family representatives
    try check() finally spark.conf.unset(PairGuard.MaxPairsConf)
  }
}
