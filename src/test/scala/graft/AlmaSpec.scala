package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.storage._

/** End-to-end learning cycle (mirror of the reference's
  * tests/e2e/test_learning_cycle.py): learn → promote → retrieve →
  * write-guard → archive/quota → restore.
  */
class AlmaSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshAlma(): Alma = {
    val dir = Files.createTempDirectory("alma-test").toString
    Alma(spark, dir, projectId = "proj1")
  }

  test("learn records outcomes and promotes a heuristic after 3 successes") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy service v$i", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val hs = alma.store.heuristics(Some("proj1"), Seq("helena")).collect()
    assert(hs.length == 1)
    assert(hs.head.strategy == "canary rollout")
    assert(hs.head.confidence == 1.0)
    assert(hs.head.occurrenceCount == 3L)
  }

  test("re-promotion refreshes counts and confidence instead of freezing them") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy v$i", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    // Two failures then one success with the same strategy: the stored
    // heuristic must reflect the recomputed history, not the first
    // promotion snapshot.
    alma.learn("helena", "deploy", "deploy v4", success = false,
      strategyUsed = "canary rollout", asOf = ts("2024-01-04 10:00:00"))
    alma.learn("helena", "deploy", "deploy v5", success = true,
      strategyUsed = "canary rollout", asOf = ts("2024-01-05 10:00:00"))
    val h = alma.store.heuristics(Some("proj1"), Seq("helena")).collect().head
    assert(h.occurrenceCount == 5L, s"occurrenceCount ${h.occurrenceCount}")
    assert(h.successCount == 4L)
    assert(math.abs(h.confidence - 0.8) < 1e-9)
    assert(math.abs(h.successRate - 0.8) < 1e-9)
  }

  test("a collapsed success ratio demotes the stored heuristic in place") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy v$i", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    (4 to 9).foreach { i =>
      alma.learn("helena", "deploy", s"deploy v$i", success = false,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val h = alma.store.heuristics(Some("proj1"), Seq("helena")).collect().head
    assert(h.occurrenceCount == 9L && h.successCount == 3L)
    assert(h.confidence < 0.5, s"confidence ${h.confidence} should reflect the collapse")
  }

  test("no promotion below the occurrence threshold") {
    val alma = freshAlma()
    alma.learn("helena", "deploy", "deploy once", success = true,
      strategyUsed = "big bang", asOf = ts("2024-01-01 10:00:00"))
    assert(alma.store.heuristics(Some("proj1")).isEmpty)
  }

  test("repeated failures with the same error promote an anti-pattern; write guard then blocks") {
    val alma = freshAlma()
    (1 to 2).foreach { i =>
      alma.learn("victor", "migrate", s"migrate shard $i", success = false,
        strategyUsed = "drop and recreate", asOf = ts(s"2024-01-0$i 09:00:00"),
        errorMessage = Some("data loss"))
    }
    val aps = alma.store.antiPatterns(Some("proj1"), Seq("victor")).collect()
    assert(aps.length == 1 && aps.head.occurrenceCount == 2L)
    val err = intercept[IllegalArgumentException] {
      alma.learn("victor", "migrate", "migrate again", success = true,
        strategyUsed = "drop and recreate", asOf = ts("2024-01-03 09:00:00"))
    }
    assert(err.getMessage.contains("write guard"))
  }

  test("a learn the write guard refuses writes nothing") {
    val alma = freshAlma()
    (1 to 2).foreach { i =>
      alma.learn("victor", "migrate", s"migrate shard $i", success = false,
        strategyUsed = "drop and recreate", asOf = ts(s"2024-01-0$i 09:00:00"),
        errorMessage = Some("data loss"))
    }
    val outcomes = alma.store.outcomes(Some("proj1")).count()
    val generation = alma.store.writeGeneration
    intercept[IllegalArgumentException] {
      alma.learn("victor", "migrate", "migrate again", success = false,
        strategyUsed = "drop and recreate", asOf = ts("2024-01-03 09:00:00"),
        errorMessage = Some("data loss"))
    }
    // The guard runs before the append: no outcome, no write of any kind.
    assert(alma.store.outcomes(Some("proj1")).count() == outcomes)
    assert(alma.store.writeGeneration == generation)
  }

  test("a failing learn promotes every repeated error class by id, not by whyBad") {
    val alma = freshAlma()
    def failure(i: Int, strategy: String) = Outcome(s"o$i", "victor", "proj1", "migrate",
      s"migrate shard $i", success = false, strategy, 0L, Some("E"),
      ts(s"2024-01-0$i 09:00:00"), Array.fill(4)(0.5f), Map.empty)
    alma.store.saveOutcomes(Seq(failure(1, "drop and recreate"), failure(2, "copy in place")))
    // A stored anti-pattern under another id whose whyBad is the same
    // error class does not count as E's promotion.
    val t0 = ts("2024-01-01 00:00:00")
    alma.store.saveAntiPatterns(Seq(AntiPattern("pre-a-0", "victor", "proj1", "rebuild index",
      "E", "avoid: rebuild index", 2L, t0, t0, Array.fill(4)(0.5f), Map.empty)))
    alma.learn("victor", "migrate", "migrate shard 3", success = false,
      strategyUsed = "online ddl", asOf = ts("2024-01-03 09:00:00"),
      errorMessage = Some("F"))
    val aps = alma.store.antiPatterns(Some("proj1"), Seq("victor")).collect().sortBy(_.id)
    val e = s"ap-proj1-victor-${Alma.idHash("E")}"
    assert(aps.map(_.id).toSeq == Seq(e, "pre-a-0").sorted, aps.map(_.id).toSeq)
    val a = aps.find(_.id == e).get
    assert(a.whyBad == "E" && a.pattern == "drop and recreate" && a.occurrenceCount == 2L)
  }

  test("a back-dated failure is its error class's first: its strategy becomes the pattern") {
    val alma = freshAlma()
    alma.store.saveOutcomes(Seq(Outcome("o1", "victor", "proj1", "migrate", "migrate shard 1",
      success = false, "copy in place", 0L, Some("E"), ts("2024-01-05 09:00:00"),
      Array.fill(4)(0.5f), Map.empty)))
    alma.learn("victor", "migrate", "migrate shard 0", success = false,
      strategyUsed = "drop and recreate", asOf = ts("2024-01-02 09:00:00"),
      errorMessage = Some("E"))
    val a = alma.store.antiPatterns(Some("proj1"), Seq("victor")).collect().head
    assert(a.pattern == "drop and recreate" && a.occurrenceCount == 2L)
  }

  test("retrieve ranks the semantically-matching heuristic first and renders a prompt") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the payment service", success = true,
        strategyUsed = "canary rollout with small traffic slice", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    (1 to 3).foreach { i =>
      alma.learn("helena", "ingest", "bulk load parquet files", success = true,
        strategyUsed = "partitioned copy with checkpoints", asOf = ts(s"2024-01-0$i 11:00:00"))
    }
    val slice = alma.retrieve("how should I deploy the payment service",
      "helena", asOf = ts("2024-02-01 00:00:00"), topK = 1)
    assert(slice.heuristics.nonEmpty)
    assert(slice.heuristics.head.strategy.contains("canary"))
    val prompt = slice.toPrompt(400)
    assert(prompt.contains("canary"))
    assert(graft.retrieval.PostProcess.estimateTokens(prompt) <= 400)
  }

  test("a tokenizer trained on stored memories gates the prompt budget") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the payment service", success = true,
        strategyUsed = "canary rollout with small traffic slice", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val costOf = alma.tokenizer(numMerges = 16)
    // Trained BPE counts true subwords: more than the chars/4 floor on
    // this short prose, and merge-compressed below raw character count.
    val sample = "deploy the payment service"
    assert(costOf(sample) > graft.retrieval.PostProcess.estimateTokens(sample))
    assert(costOf(sample) < sample.replace(" ", "").length)
    val prompt = alma.retrievePrompt("how should I deploy the payment service",
      "helena", asOf = ts("2024-02-01 00:00:00"), maxTokens = 60, costOf = costOf)
    assert(costOf(prompt) <= 60, s"BPE-budgeted prompt overflows: ${costOf(prompt)}")
    // The budget estimator changes what fits: BPE counts are stricter
    // than chars/4 here, so the BPE-gated prompt can only be shorter.
    val loose = alma.retrievePrompt("how should I deploy the payment service",
      "helena", asOf = ts("2024-02-01 00:00:00"), maxTokens = 60)
    assert(prompt.length <= loose.length)
  }

  test("retrieve runs its five per-type plans as ONE Spark job") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the payment service", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE materializes each query stage of the ONE action as its own
    // job id, which would make this count AQE-config-dependent; with it
    // off, one action = one job, which is the claim under test (the
    // pre-fusion code ran five sequential collect actions regardless).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val slice = alma.retrieve("deploy the payment service", "helena",
        ts("2024-02-01 00:00:00"))
      assert(slice.heuristics.nonEmpty && slice.outcomes.nonEmpty)
      // The listener bus is async — wait until the job count is stable.
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = jobs.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() == 1, s"fused retrieve launched ${jobs.get()} jobs, expected 1")
  }

  test("a second retrieve miss with a new query and asOf compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy the payment service $i", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val first = alma.retrieve("deploy the payment service", "helena",
      ts("2024-02-01 00:00:00"))
    assert(first.heuristics.nonEmpty)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = alma.retrieve("how do we roll out billing", "helena",
      ts("2024-02-02 13:45:00"))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(second.outcomes.nonEmpty)
    assert(compiles == 0, s"the second miss compiled $compiles classes")
  }

  test("a mode without anti-patterns decodes the envelope without its slot") {
    val alma = freshAlma()
    (1 to 2).foreach { i =>
      alma.learn("victor", "migrate", s"migrate shard $i", success = false,
        strategyUsed = "drop and recreate", asOf = ts(s"2024-01-0$i 09:00:00"),
        errorMessage = Some("data loss"))
    }
    val at = ts("2024-02-01 00:00:00")
    val mode = graft.retrieval.Modes.Benchmark
    // The anti-pattern is embedded from its error text, the outcomes
    // from their task: the query names both so every score is positive.
    val query = "migrate shard data loss"
    val withAps = alma.retrieve(query, "victor", at, mode = mode)
    assert(withAps.antiPatterns.nonEmpty && withAps.outcomes.nonEmpty)
    val without = alma.retrieve(query, "victor", at,
      mode = mode.copy(includeAntiPatterns = false))
    assert(without.antiPatterns.isEmpty)
    assert(without.outcomes.map(_.id) == withAps.outcomes.map(_.id))
  }

  test("the executed retrieve plan has no typed object stages") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the payment service", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "memoryType")) { captured.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      alma.retrieve("deploy the payment service", "helena", ts("2024-02-01 00:00:00"))
      val deadline = System.currentTimeMillis() + 10000
      while (captured.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(captured.size == 1, s"captured ${captured.size} retrieve plans")
    // AQE-aware walk: the final adaptive plan and every query stage.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val names = nodes(captured.peek().executedPlan).map(_.nodeName).toSet
    assert(names.contains("Union"), names.toString)
    val typed = names & Set("DeserializeToObject", "MapElements", "SerializeFromObject")
    assert(typed.isEmpty, s"typed stages in the retrieve plan: $typed")
  }

  test("scope inheritance: agent reads inherited memories, strangers do not") {
    val dir = Files.createTempDirectory("alma-test").toString
    val scopes = Map(
      "junior" -> MemoryScope("junior", inheritFrom = Set("helena")))
    val alma = new Alma(new MemoryStore(spark, dir), "proj1", scopes)
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the api", success = true,
        strategyUsed = "blue green", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val junior = alma.retrieve("deploy the api", "junior", ts("2024-02-01 00:00:00"))
    assert(junior.heuristics.nonEmpty)
    val stranger = alma.retrieve("deploy the api", "mallory", ts("2024-02-01 00:00:00"))
    assert(stranger.heuristics.isEmpty)
  }

  test("quota enforcement archives overflow; restore brings it back") {
    val alma = freshAlma()
    (1 to 5).foreach { i =>
      alma.learn("helena", "task", s"work item $i", success = i % 2 == 0,
        strategyUsed = s"strategy $i", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val archived = alma.enforceQuota(maxOutcomesPerAgent = 2, asOf = ts("2024-02-01 00:00:00"))
    assert(archived == 3)
    assert(alma.store.outcomes(Some("proj1")).count() == 2)
    val archivedIds = alma.store.archived(MemoryType.Outcomes)
      .select("id").collect().map(_.getString(0)).toSet
    assert(archivedIds.size == 3)
    alma.store.restore(MemoryType.Outcomes, archivedIds)
    assert(alma.store.outcomes(Some("proj1")).count() == 5)
  }

  test("archiving every outcome leaves a readable empty store") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "t", s"work $i", success = true,
        strategyUsed = "s", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val archived = alma.enforceQuota(maxOutcomesPerAgent = 0, asOf = ts("2024-02-01 00:00:00"))
    assert(archived == 3)
    // The emptied table must still be readable (no schema-less dir)...
    assert(alma.store.outcomes(Some("proj1")).count() == 0)
    // ...and the write path must keep working afterwards.
    alma.learn("helena", "t", "work again", success = true,
      strategyUsed = "s", asOf = ts("2024-02-02 10:00:00"))
    assert(alma.store.outcomes(Some("proj1")).count() == 1)
  }

  test("mode presets drive top-k and the diversity (MMR) path") {
    val alma = freshAlma()
    for (v <- 1 to 3; i <- 1 to 3) {
      alma.learn("helena", "deploy", s"deploy service variant $v try $i", success = true,
        strategyUsed = s"strategy variant $v", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    // Broad: topK=20 preset, diversity=0.5 → MMR path runs; 3 stored
    // heuristics all come back, deduplicated and ranked.
    val broad = alma.retrieve("deploy service", "helena",
      ts("2024-02-01 00:00:00"), mode = graft.retrieval.Modes.Broad)
    assert(broad.heuristics.size == 3)
    assert(broad.heuristics.map(_.id).distinct.size == 3)
    // Explicit topK overrides the preset.
    val one = alma.retrieve("deploy service", "helena",
      ts("2024-02-01 00:00:00"), topK = 1, mode = graft.retrieval.Modes.Broad)
    assert(one.heuristics.size == 1)
  }

  test("upsert merges occurrence counts by id") {
    val alma = freshAlma()
    val h = Heuristic("h1", "a", "proj1", "cond", "strat", 0.8, 2, 1,
      ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
      Array.fill(4)(0.5f), Map.empty)
    alma.store.saveHeuristics(Seq(h))
    alma.store.upsertHeuristics(Seq(h.copy(occurrenceCount = 3, successCount = 2)))
    val merged = alma.store.heuristics().collect().head
    assert(merged.occurrenceCount == 5 && merged.successCount == 3)
  }

  test("retrieval cache: repeat query hits, learn invalidates") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the api", success = true,
        strategyUsed = "blue green", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val first = alma.retrieve("deploy the api", "helena", ts("2024-02-01 00:00:00"))
    val second = alma.retrieve("deploy the api", "helena", ts("2024-02-01 00:00:00"))
    // Cached result is the same object graph (no recompute).
    assert(second == first)
    // A new learn invalidates; the next retrieve reflects the write.
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the worker", success = true,
        strategyUsed = "rolling restart", asOf = ts(s"2024-01-1$i 10:00:00"))
    }
    val third = alma.retrieve("deploy the api", "helena", ts("2024-02-01 00:00:00"), topK = 5)
    assert(third.heuristics.map(_.strategy).toSet == Set("blue green", "rolling restart"))
  }

  test("a write straight to alma.store is seen by the identical retrieve") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", "deploy the api", success = true,
        strategyUsed = "blue green", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val at = ts("2024-02-01 00:00:00")
    val before = alma.retrieve("deploy the api", "helena", at, topK = 5)
    assert(before.heuristics.map(_.strategy) == Seq("blue green"))
    // Saved through the store, not the facade: no facade write path runs.
    alma.store.saveHeuristics(Seq(Heuristic("h-direct", "helena", "proj1", "deploy",
      "feature flag", 0.9, 5L, 5L, ts("2024-01-20 00:00:00"), ts("2024-01-20 00:00:00"),
      graft.functions.HashEmbedder.embed("deploy the api"), Map.empty)))
    val after = alma.retrieve("deploy the api", "helena", at, topK = 5)
    assert(after.heuristics.map(_.id).contains("h-direct"),
      s"stale cache: ${after.heuristics.map(_.strategy)}")
  }

  test("a retrieve on a store without a feedback table ranks by the base score in no more jobs") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy the api v$i", success = true,
        strategyUsed = "blue green", asOf = ts(s"2024-01-0$i 10:00:00"))
      alma.learn("helena", "deploy", s"deploy the api v$i", success = i != 2,
        strategyUsed = "canary", asOf = ts(s"2024-01-0$i 11:00:00"))
    }
    assert(!alma.store.exists(MemoryType.Feedback))
    val at = ts("2024-02-01 00:00:00")
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    var bare: MemorySlice = null
    val n = try jobs.during { bare = alma.retrieve("deploy the api", "helena", at, topK = 5) }
      finally spark.sparkContext.removeSparkListener(jobs)
    // One job, as when a store without feedback skipped the feedback
    // join: the empty summary's join must plan away, not broadcast.
    assert(n <= 1, s"$n jobs")
    // Feedback on a memory no retrieve returns leaves every score as is.
    alma.recordFeedback("ghost", MemoryType.Heuristics, "helena", FeedbackSignal.ThumbsUp, at)
    val ref = alma.retrieve("deploy the api", "helena", at, topK = 5)
    assert(bare.heuristics.map(_.strategy) == Seq("blue green", "canary"))
    assert(bare.heuristics.map(_.id) == ref.heuristics.map(_.id))
    assert(bare.outcomes.map(_.id) == ref.outcomes.map(_.id))
    // The feedback table now exists, unchanged since `ref` read its
    // scores: a warm miss runs the fused job alone (AQE off, so one
    // action is one job).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(jobs)
    val warm = try jobs.during { alma.retrieve("roll out the api", "helena", at, topK = 5) }
      finally {
        spark.sparkContext.removeSparkListener(jobs)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    assert(warm == 1, s"a warm miss with unchanged feedback ran $warm jobs")
  }

  test("a prepared retrieve plan sees rows appended to the snapshot it was prepared over") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy the api v$i", success = true,
        strategyUsed = "blue green", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val at = ts("2024-02-01 00:00:00")
    assert(alma.retrieve("deploy the api", "helena", at, topK = 10).outcomes.size == 3)
    assert(alma.preparedBuilds.get == 1)
    // The learn appends into the outcome snapshot the plan was prepared
    // over: the same directory, with one more file.
    val o = alma.learn("helena", "index", "rebuild the search index shards", success = true,
      strategyUsed = "rolling reindex", asOf = ts("2024-01-05 10:00:00"))
    val after = alma.retrieve("rebuild the search index shards", "helena", at, topK = 10)
    assert(alma.preparedBuilds.get == 1, "the second miss prepared a new plan")
    assert(after.outcomes.map(_.id).contains(o.id),
      s"stale listing: ${after.outcomes.map(_.taskDescription)}")
  }

  /** Two near-identical heuristics for helena, in their retrieve order. */
  private def twoHeuristics(alma: Alma): Seq[String] = {
    for (v <- Seq("alpha", "beta"); i <- 1 to 3) {
      alma.learn("helena", "deploy", s"deploy service $v", success = true,
        strategyUsed = s"$v strategy", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val ranked = alma.retrieve("deploy service", "helena", ts("2024-02-01 00:00:00"), topK = 2)
      .heuristics.map(_.id)
    assert(ranked.size == 2)
    ranked
  }

  test("the next miss after recordFeedback, and after recordUsage, shows the re-ranked blend") {
    val alma = freshAlma()
    val Seq(top, bottom) = twoHeuristics(alma)
    (1 to 4).foreach { _ =>
      alma.recordFeedback(bottom, MemoryType.Heuristics, "helena",
        FeedbackSignal.ThumbsUp, ts("2024-02-01 01:00:00"))
      alma.recordFeedback(top, MemoryType.Heuristics, "helena",
        FeedbackSignal.ThumbsDown, ts("2024-02-01 01:00:00"))
    }
    val flipped = alma.retrieve("deploy service", "helena", ts("2024-02-01 02:00:00"), topK = 2)
    assert(flipped.heuristics.map(_.id) == Seq(bottom, top), "stale feedback scores after recordFeedback")
    // Usage signals move the blend back: top used, bottom ignored.
    (1 to 8).foreach { _ =>
      alma.recordUsage(Seq(top, bottom), usedIds = Set(top), MemoryType.Heuristics, "helena",
        ts("2024-02-01 02:30:00"))
    }
    val back = alma.retrieve("deploy service", "helena", ts("2024-02-01 03:00:00"), topK = 2)
    assert(back.heuristics.map(_.id) == Seq(top, bottom), "stale feedback scores after recordUsage")
  }

  test("feedback appended through a second store on the same root reaches the next miss") {
    val alma = freshAlma()
    val Seq(top, bottom) = twoHeuristics(alma)
    val other = new MemoryStore(spark, alma.store.root)
    other.saveFeedback((1 to 4).flatMap { i =>
      Seq(RetrievalFeedback(s"up-$i", bottom, MemoryType.Heuristics, "helena", "proj1",
          FeedbackSignal.ThumbsUp, ts("2024-02-01 01:00:00")),
        RetrievalFeedback(s"down-$i", top, MemoryType.Heuristics, "helena", "proj1",
          FeedbackSignal.ThumbsDown, ts("2024-02-01 01:00:00")))
    })
    // This facade's store saw no write, so its cache keys do not move: a
    // new asOf makes the miss. Its feedback scores key on the table's
    // file listing.
    val after = alma.retrieve("deploy service", "helena", ts("2024-02-01 02:00:00"), topK = 2)
    assert(after.heuristics.map(_.id) == Seq(bottom, top),
      s"feedback written through another store unseen: ${after.heuristics.map(_.id)}")
  }

  test("misses for different agents reuse one prepared plan and bind each agent's rows") {
    val alma = freshAlma()
    for (a <- Seq("helena", "victor"); i <- 1 to 2) {
      alma.learn(a, "deploy", s"deploy the api as $a $i", success = true,
        strategyUsed = "blue green", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val at = ts("2024-02-01 00:00:00")
    val h = alma.retrieve("deploy the api", "helena", at, topK = 10)
    val v = alma.retrieve("deploy the api", "victor", at, topK = 10)
    assert(alma.preparedBuilds.get == 1, s"${alma.preparedBuilds.get} prepared plans for one shape")
    assert(h.outcomes.size == 2 && h.outcomes.forall(_.agent == "helena"))
    assert(v.outcomes.size == 2 && v.outcomes.forall(_.agent == "victor"))
  }

  test("a retrieve with memos off returns what it returns with memos on") {
    val alma = freshAlma()
    val Seq(top, bottom) = twoHeuristics(alma)
    (1 to 4).foreach { _ =>
      alma.recordFeedback(bottom, MemoryType.Heuristics, "helena",
        FeedbackSignal.ThumbsUp, ts("2024-02-01 01:00:00"))
    }
    def summary(s: MemorySlice) =
      (s.heuristics.map(_.id), s.outcomes.map(_.id), s.knowledge.map(_.id), s.antiPatterns.map(_.id))
    val at = ts("2024-02-01 02:00:00")
    val on = alma.retrieve("deploy service", "helena", at, topK = 5)
    spark.conf.set(graft.internal.SessionMemo.EnabledConf, "false")
    val off = try Alma(spark, alma.store.root, "proj1").retrieve("deploy service", "helena", at, topK = 5)
      finally spark.conf.set(graft.internal.SessionMemo.EnabledConf, "true")
    assert(on.heuristics.head.id == bottom)
    assert(summary(off) == summary(on))
  }

  test("batch retrieval matches per-query retrieval, one pass for N queries") {
    val alma = freshAlma()
    for (v <- Seq("payment", "ingest"); i <- 1 to 3) {
      alma.learn("helena", "deploy", s"deploy the $v service attempt $i", success = true,
        strategyUsed = s"$v canary", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val batch = alma.retrieveBatch(
      Seq("deploy the payment service", "deploy the ingest service"),
      "helena", ts("2024-02-01 00:00:00"), topK = 1)
      .collect()
    val topHeuristics = batch
      .filter(r => r.getAs[String]("memory_type") == graft.storage.MemoryType.Heuristics)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[String]("id")).toMap
    val single0 = alma.retrieve("deploy the payment service", "helena",
      ts("2024-02-01 00:00:00"), topK = 1).heuristics.head.id
    val single1 = alma.retrieve("deploy the ingest service", "helena",
      ts("2024-02-01 00:00:00"), topK = 1).heuristics.head.id
    assert(topHeuristics == Map(0L -> single0, 1L -> single1))
  }

  test("recordUsage invalidates cached retrievals (same query+asOf reflects new signals)") {
    val alma = freshAlma()
    for (v <- Seq("alpha", "beta"); i <- 1 to 3) {
      alma.learn("helena", "deploy", s"deploy service $v", success = true,
        strategyUsed = s"$v strategy", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val at = ts("2024-02-01 00:00:00")
    val before = alma.retrieve("deploy service", "helena", at, topK = 2)
    val Seq(top, bottom) = before.heuristics.map(_.id)
    // Usage signals through recordUsage (not recordFeedback): the leader
    // ignored repeatedly, the runner-up used — the IDENTICAL retrieve
    // call must see the flip, not a stale cache hit.
    (1 to 4).foreach { i =>
      alma.recordUsage(Seq(top, bottom), usedIds = Set(bottom),
        MemoryType.Heuristics, "helena", ts(s"2024-02-01 0$i:00:00"))
    }
    val after = alma.retrieve("deploy service", "helena", at, topK = 2)
    assert(after.heuristics.map(_.id) == Seq(bottom, top),
      s"stale cache: ${after.heuristics.map(_.id)} (expected flip to $bottom first)")
  }

  test("two mode configs sharing a preset name never share a cache entry") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy v$i", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val at = ts("2024-02-01 00:00:00")
    val loose = graft.retrieval.Modes.Broad
    val strict = loose.copy(minScore = 0.999) // same name, different threshold
    val before = alma.retrieve("deploy", "helena", at, topK = 5, mode = loose)
    assert(before.heuristics.nonEmpty)
    // The stricter config must re-score, not hit the loose config's
    // cached slice (the key carries the full normalized config).
    val after = alma.retrieve("deploy", "helena", at, topK = 5, mode = strict)
    assert(after.heuristics.isEmpty,
      s"cache collision across configs: ${after.heuristics.map(_.id)}")
  }

  test("a writer's knowledge write invalidates inheriting readers' caches") {
    val dir = Files.createTempDirectory("alma-test").toString
    val scopes = Map(
      "writer" -> MemoryScope("writer"),
      "reader" -> MemoryScope("reader", inheritFrom = Set("writer")))
    val alma = Alma(spark, dir, projectId = "proj1", scopes)
    val at = ts("2024-02-01 00:00:00")
    alma.addDomainKnowledge("writer", "deploy", "canary rollouts reduce risk",
      "runbook", 0.9, ts("2024-01-01 10:00:00"))
    val before = alma.retrieve("canary rollout risk", "reader", at, topK = 5)
    assert(before.knowledge.nonEmpty, "reader does not see inherited knowledge")
    // A second write by the WRITER must invalidate the READER's cached
    // slice — the reader's scan includes the writer's rows.
    alma.addDomainKnowledge("writer", "deploy", "canary rollout needs a rollback plan",
      "runbook", 0.9, ts("2024-01-02 10:00:00"))
    val after = alma.retrieve("canary rollout risk", "reader", at, topK = 5)
    assert(after.knowledge.size == before.knowledge.size + 1,
      s"stale reader cache: ${after.knowledge.map(_.fact)}")
  }

  test("recorded feedback signals re-rank retrieval per the 0.15 blend") {
    val alma = freshAlma()
    for (v <- Seq("alpha", "beta"); i <- 1 to 3) {
      alma.learn("helena", "deploy", s"deploy service $v", success = true,
        strategyUsed = s"$v strategy", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val before = alma.retrieve("deploy service", "helena", ts("2024-02-01 00:00:00"), topK = 2)
    assert(before.heuristics.size == 2)
    val Seq(top, bottom) = before.heuristics.map(_.id)
    // Strong positive signals on the runner-up, negative on the leader:
    // final = 0.85·score + 0.15·(fb+1)/2 swings up to ±0.15 — enough to
    // flip two near-identical candidates.
    (1 to 4).foreach { _ =>
      alma.recordFeedback(bottom, MemoryType.Heuristics, "helena",
        FeedbackSignal.ThumbsUp, ts("2024-02-01 01:00:00"))
      alma.recordFeedback(top, MemoryType.Heuristics, "helena",
        FeedbackSignal.ThumbsDown, ts("2024-02-01 01:00:00"))
    }
    val after = alma.retrieve("deploy service", "helena", ts("2024-02-01 02:00:00"), topK = 2)
    assert(after.heuristics.map(_.id) == Seq(bottom, top),
      s"feedback did not flip the ranking: ${after.heuristics.map(_.id)}")
  }

  test("batch retrieval ranks like retrieve once feedback flips the top heuristic") {
    val alma = freshAlma()
    for (v <- Seq("alpha", "beta"); i <- 1 to 3) {
      alma.learn("helena", "deploy", s"deploy service $v", success = true,
        strategyUsed = s"$v strategy", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    val Seq(top, bottom) = alma.retrieve("deploy service", "helena",
      ts("2024-02-01 00:00:00"), topK = 2).heuristics.map(_.id)
    (1 to 4).foreach { _ =>
      alma.recordFeedback(bottom, MemoryType.Heuristics, "helena",
        FeedbackSignal.ThumbsUp, ts("2024-02-01 01:00:00"))
      alma.recordFeedback(top, MemoryType.Heuristics, "helena",
        FeedbackSignal.ThumbsDown, ts("2024-02-01 01:00:00"))
    }
    val at = ts("2024-02-01 02:00:00")
    val single = alma.retrieve("deploy service", "helena", at, topK = 2).heuristics
    assert(single.map(_.id) == Seq(bottom, top), "premise: feedback flips retrieve's ranking")
    val batchTop = alma.retrieveBatch(Seq("deploy service"), "helena", at, topK = 2)
      .collect()
      .filter(r => r.getAs[String]("memory_type") == MemoryType.Heuristics && r.getAs[Int]("rank") == 1)
      .map(_.getAs[String]("id")).toSeq
    assert(batchTop == Seq(single.head.id),
      s"retrieveBatch rank-1 heuristic $batchTop, retrieve's ${single.head.id}")
  }

  test("archive and restore round-trip every memory type") {
    val dir = Files.createTempDirectory("alma-test").toString
    val store = new MemoryStore(spark, dir)
    val t0 = ts("2024-01-01 00:00:00")
    val emb = Array.fill(4)(0.5f)
    store.saveHeuristics(Seq(Heuristic("h1", "a", "p", "c", "s", 0.9, 1, 1, t0, t0, emb, Map.empty)))
    store.saveOutcomes(Seq(Outcome("o1", "a", "p", "t", "d", success = true, "s", 1L, None, t0, emb, Map.empty)))
    store.savePreferences(Seq(UserPreference("u1", "user", "cat", "pref", "src", 0.9, t0, Map.empty)))
    store.saveKnowledge(Seq(DomainKnowledge("k1", "a", "p", "dom", "fact", "src", 0.9, t0, emb, Map.empty)))
    store.saveAntiPatterns(Seq(AntiPattern("ap1", "a", "p", "pat", "why", "alt", 2, t0, t0, emb, Map.empty)))
    val idsByType = Map(
      MemoryType.Heuristics -> "h1", MemoryType.Outcomes -> "o1",
      MemoryType.Preferences -> "u1", MemoryType.Knowledge -> "k1",
      MemoryType.AntiPatterns -> "ap1")
    idsByType.foreach { case (mt, id) =>
      store.archive(mt, Set(id), "test", 42L)
      assert(store.scan(mt).count() == 0, s"$mt still live after archive")
      val arch = store.archived(mt).collect()
      assert(arch.length == 1 && arch.head.getAs[String]("reason") == "test", s"$mt archive row wrong")
      store.restore(mt, Set(id))
      assert(store.scan(mt).count() == 1, s"$mt not restored")
      // Restoring again is a no-op (anti-join dedupe).
      store.restore(mt, Set(id))
      assert(store.scan(mt).count() == 1, s"$mt duplicated by double restore")
    }
  }

  test("stats counts per memory type") {
    val alma = freshAlma()
    alma.learn("helena", "t", "d", success = true, strategyUsed = "s",
      asOf = ts("2024-01-01 00:00:00"))
    val st = alma.store.stats(Some("proj1"))
    assert(st(MemoryType.Outcomes) == 1L)
    assert(st(MemoryType.Heuristics) == 0L)
  }

  test("getStats works once preferences exist (no projectId column there)") {
    val alma = freshAlma()
    alma.addUserPreference("user1", "style", "short answers", "explicit", 0.9,
      asOf = ts("2024-01-01 00:00:00"))
    val st = alma.getStats()
    assert(st(MemoryType.Preferences) == 1L)
    assert(alma.getStats(Some("helena"))(MemoryType.Preferences) == 1L)
  }

  test("thumbs-up feedback never demotes a boosted top result") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy v$i", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
      alma.learn("helena", "deploy", s"restart v$i", success = true,
        strategyUsed = "blue green switch", asOf = ts(s"2024-01-0$i 11:00:00"))
    }
    val asOf = ts("2024-02-01 00:00:00")
    val before = alma.retrieve("canary rollout deploy", "helena", asOf).heuristics
    assert(before.nonEmpty)
    val top = before.head.id
    // Perfect feedback on the winner: with the blend applied to the
    // base score (before boosts), endorsement can only help.
    (1 to 4).foreach(_ => alma.recordFeedback(top, MemoryType.Heuristics,
      "helena", FeedbackSignal.ThumbsUp, asOf))
    val after = alma.retrieve("canary rollout deploy", "helena",
      ts("2024-02-01 00:00:01")).heuristics
    assert(after.head.id == top,
      s"endorsed top result was demoted: ${after.map(_.id)}")
  }

  test("recordFeedback rejects unknown signals") {
    val alma = freshAlma()
    intercept[IllegalArgumentException] {
      alma.recordFeedback("m1", MemoryType.Heuristics, "helena", "thumbsup",
        asOf = ts("2024-01-01 00:00:00"))
    }
  }

  test("addUserPreference and addDomainKnowledge persist and retrieve") {
    val alma = freshAlma()
    alma.addUserPreference("user1", "style", "tabs over spaces", "explicit", 0.9,
      asOf = ts("2024-01-01 00:00:00"))
    alma.addDomainKnowledge("helena", "infra", "deploys freeze on fridays", "runbook", 0.8,
      asOf = ts("2024-01-01 00:00:00"))
    assert(alma.store.preferences().collect().head.preference == "tabs over spaces")
    val k = alma.store.knowledge(Some("proj1"), Seq("helena")).collect().head
    assert(k.fact == "deploys freeze on fridays" && k.domain == "infra")
  }

  test("forget prunes stale outcomes and low-confidence heuristics") {
    val alma = freshAlma()
    alma.learn("helena", "t", "old task", success = true, strategyUsed = "s1",
      asOf = ts("2024-01-01 00:00:00"))
    alma.learn("helena", "t", "fresh task", success = true, strategyUsed = "s2",
      asOf = ts("2024-05-01 00:00:00"))
    val t0 = ts("2024-05-01 00:00:00")
    val emb = Array.fill(4)(0.5f)
    alma.store.saveHeuristics(Seq(
      Heuristic("weak", "helena", "proj1", "c", "s", 0.1, 1, 1, t0, t0, emb, Map.empty),
      Heuristic("strong", "helena", "proj1", "c", "s", 0.9, 1, 1, t0, t0, emb, Map.empty)))
    // 90-day window from 2024-05-15: the 2024-01-01 outcome and the 0.1
    // heuristic go; the fresh outcome and the 0.9 heuristic stay.
    val pruned = alma.forget(asOf = ts("2024-05-15 00:00:00"))
    assert(pruned == 2L, s"pruned $pruned")
    assert(alma.store.outcomes(Some("proj1")).collect().map(_.taskDescription).toSeq == Seq("fresh task"))
    assert(alma.store.heuristics(Some("proj1")).collect().map(_.id).toSeq == Seq("strong"))
  }

  test("getStats narrows to one agent") {
    val alma = freshAlma()
    alma.learn("helena", "t", "d1", success = true, strategyUsed = "s",
      asOf = ts("2024-01-01 00:00:00"))
    alma.learn("marcus", "t", "d2", success = true, strategyUsed = "s",
      asOf = ts("2024-01-01 00:00:00"))
    assert(alma.getStats(Some("helena"))(MemoryType.Outcomes) == 1L)
    assert(alma.getStats()(MemoryType.Outcomes) == 2L)
  }

  test("artifact link round-trips through the registry") {
    val alma = freshAlma()
    alma.linkArtifact("mem1", "screenshot", "s3://bucket/shot.png",
      asOf = ts("2024-01-01 00:00:00"), filename = Some("shot.png"),
      sizeBytes = Some(1024L))
    alma.linkArtifact("mem2", "log", "s3://bucket/run.log",
      asOf = ts("2024-01-01 00:00:00"))
    val arts = alma.getArtifacts("mem1")
    assert(arts.length == 1)
    assert(arts.head.storageUrl == "s3://bucket/shot.png")
    assert(arts.head.sizeBytes.contains(1024L))
  }

  test("compaction collapses append fragmentation without losing rows") {
    val alma = freshAlma()
    (1 to 20).foreach { i =>
      alma.learn("helena", "t", s"task $i", success = true, strategyUsed = "s",
        asOf = ts(s"2024-01-${"%02d".format((i % 27) + 1)} 10:00:00"))
    }
    val before = alma.store.outcomes(Some("proj1")).count()
    val filesBefore = alma.maintain(asOf = ts("2024-02-01 00:00:00"),
      olderThanDays = 365)("files_before_compact")
    assert(filesBefore > 16L, s"expected fragmentation, saw $filesBefore files")
    assert(alma.store.outcomes(Some("proj1")).count() == before)
    // A second cycle sees the compacted layout.
    val filesAfter = alma.maintain(asOf = ts("2024-02-01 00:00:00"),
      olderThanDays = 365)("files_before_compact")
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
  }

  test("learnFromWorkflow records the run outcome and validates result") {
    val alma = freshAlma()
    alma.learnFromWorkflow("helena", "wf1", "run1", "success",
      "migrated the schema", asOf = ts("2024-01-01 00:00:00"),
      strategiesUsed = Seq("expand-contract"), nodeCount = Some(7L))
    val w = alma.store.workflowOutcomes(Some("proj1")).collect().head
    assert(w.workflowId == "wf1" && w.result == "success" && w.nodeCount.contains(7L))
    intercept[IllegalArgumentException] {
      alma.learnFromWorkflow("helena", "wf1", "run2", "exploded",
        "bad status", asOf = ts("2024-01-01 00:00:00"))
    }
  }

  // ---- plan-shape and codegen specs of the write path ------------------

  /** The executions `body` ran, as (action name, QueryExecution). */
  private def captureExecutions(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        captured.add((funcName, qe)); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // The listener bus is async — wait until the capture is stable.
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = captured.size
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
    } finally spark.listenerManager.unregister(listener)
    captured.toArray(Array.empty[(String, QueryExecution)]).toSeq
  }

  /** Every node of an executed plan: the final adaptive plan and every
    * query stage, walked AQE-aware.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
    }
  }

  private def compiled(body: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("Alma.idHash is sha2's first 16 hex digits; re-promotion replaces by id") {
    import org.apache.spark.sql.functions.{col, sha2, substring}
    import spark.implicits._
    // ASCII, the String.hashCode collision pair, non-ASCII, and empty.
    val texts = Seq("canary rollout", "Aa", "BB", "déploiement canari — 金丝雀 🚀", "")
    val rows = texts.toDF("s")
      .select(col("s"), substring(sha2(col("s"), 256), 1, 16))
      .collect()
    rows.foreach { r =>
      val want = Alma.idHash(r.getString(0))
      assert(r.getString(1) == want, s"sha2 prefix of '${r.getString(0)}'")
    }
    assert(Alma.idHash("Aa") != Alma.idHash("BB"))
    // A heuristic stored under the string-derived id is the one a later
    // promotion replaces: re-promotion stays an idempotent replace.
    val alma = freshAlma()
    val t0 = ts("2024-01-01 00:00:00")
    val strategy = "déploiement canari"
    alma.store.saveHeuristics(Seq(Heuristic(
      s"h-proj1-helena-deploy-${Alma.idHash(strategy)}", "helena", "proj1", "deploy",
      strategy, 0.5, 1, 1, t0, t0, Array.fill(4)(0.5f), Map.empty)))
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy v$i", success = true,
        strategyUsed = strategy, asOf = ts(s"2024-01-0${i + 1} 10:00:00"))
    }
    val hs = alma.store.heuristics(Some("proj1")).collect()
    assert(hs.length == 1, s"re-promotion added a row: ${hs.map(_.id).toSeq}")
    assert(hs.head.occurrenceCount == 3L && hs.head.confidence == 1.0)
    assert(hs.head.createdAt == t0, "createdAt must survive the replace")
  }

  test("promoted heuristic and anti-pattern rows carry the values of every field") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("victor", "migrate", s"migrate shard $i", success = i != 2,
        strategyUsed = "expand contract", asOf = ts(s"2024-01-0$i 09:00:00"),
        errorMessage = if (i == 2) Some("lock timeout") else None)
    }
    (4 to 5).foreach { i =>
      alma.learn("victor", "migrate", s"migrate shard $i", success = false,
        strategyUsed = s"drop and recreate $i", asOf = ts(s"2024-01-0$i 09:00:00"),
        errorMessage = Some("data loss"))
    }
    val at = ts("2024-01-05 09:00:00")
    val h = alma.store.heuristics(Some("proj1"), Seq("victor")).collect()
      .filter(_.strategy == "expand contract").head
    assert(h.id == s"h-proj1-victor-migrate-${Alma.idHash("expand contract")}")
    assert(h.condition == "migrate" && h.occurrenceCount == 3L && h.successCount == 2L)
    assert(h.confidence == 2.0 / 3)
    assert(h.lastValidated == at && h.createdAt == ts("2024-01-03 09:00:00"))
    assert(h.embedding.sameElements(graft.functions.HashEmbedder.embed("migrate expand contract")))
    assert(h.metadata.isEmpty)
    val ap = alma.store.antiPatterns(Some("proj1"), Seq("victor")).collect()
    assert(ap.length == 1, ap.map(_.id).toSeq)
    val a = ap.head
    assert(a.id == s"ap-proj1-victor-${Alma.idHash("data loss")}")
    assert(a.pattern == "drop and recreate 4" && a.whyBad == "data loss")
    assert(a.betterAlternative == "avoid: drop and recreate 4" && a.occurrenceCount == 2L)
    assert(a.lastSeen == at && a.createdAt == at)
    assert(a.embedding.sameElements(graft.functions.HashEmbedder.embed("data loss")))
    assert(a.metadata.isEmpty)
  }

  test("learn runs no typed object stage, in a pinned number of Spark jobs") {
    val alma = freshAlma()
    (1 to 3).foreach { i =>
      alma.learn("helena", "deploy", s"deploy v$i", success = true,
        strategyUsed = "canary rollout", asOf = ts(s"2024-01-0$i 10:00:00"))
    }
    alma.learn("helena", "deploy", "deploy v4", success = false,
      strategyUsed = "big bang", asOf = ts("2024-01-04 10:00:00"),
      errorMessage = Some("health check failed"))
    assert(alma.store.heuristics(Some("proj1")).count() == 1L)
    // A failed learn runs both promotions; its plans must all be untyped.
    val runs = captureExecutions {
      alma.learn("helena", "deploy", "deploy v5", success = false,
        strategyUsed = "big bang", asOf = ts("2024-01-05 10:00:00"),
        errorMessage = Some("health check failed"))
    }
    assert(alma.store.antiPatterns(Some("proj1")).count() == 1L)
    assert(runs.nonEmpty)
    val names = runs.flatMap { case (_, qe) => planNodes(qe.executedPlan) }.map(_.nodeName).toSet
    val typed = names & Set("DeserializeToObject", "MapElements", "SerializeFromObject")
    assert(typed.isEmpty, s"typed stages in the learn plans: $typed")

    // Job count of a successful learn on a store that holds a heuristic:
    // the one decision collect (guard verdict, strategy stats, failure
    // classes and stored ids), the outcome append, and the merge's
    // snapshot write and the broadcast of the rows it merges. With
    // AQE off one action is one job (plus its broadcasts), so the count
    // does not depend on AQE's stage split.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      alma.learn("helena", "deploy", "deploy v6", success = true,
        strategyUsed = "canary rollout", asOf = ts("2024-01-06 10:00:00"))
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = jobs.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    assert(jobs.get() == LearnJobs, s"a learn launched ${jobs.get()} jobs, expected $LearnJobs")
    assert(alma.store.heuristics(Some("proj1")).collect().head.occurrenceCount == 4L)
  }

  test("forget's count prunes projectId partitions and compiles once across asOf values") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val alma = freshAlma()
    alma.learn("helena", "t", "fresh task", success = true, strategyUsed = "s",
      asOf = ts("2024-05-01 00:00:00"))
    // Nothing is stale at either asOf: both forgets only count.
    val runs = captureExecutions(assert(alma.forget(asOf = ts("2024-05-02 00:00:00")) == 0L))
    val counts = runs.collect { case ("count", qe) => qe }
    assert(counts.nonEmpty, s"no count plan among ${runs.map(_._1)}")
    counts.foreach { qe =>
      val scans = planNodes(qe.executedPlan).collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, qe.executedPlan.toString)
      scans.foreach { s =>
        assert(s.partitionFilters.flatMap(_.references).exists(_.name == "projectId"),
          s"count scan does not prune projectId: ${s.partitionFilters}")
      }
    }
    val again = compiled(assert(alma.forget(asOf = ts("2024-05-03 12:34:56")) == 0L))
    assert(again == 0, s"a forget with a new asOf compiled $again classes")
    assert(alma.store.outcomes(Some("proj1")).count() == 1L)
  }

  /** Spark jobs of one successful learn with AQE off (see the spec). */
  private val LearnJobs = 4
}
