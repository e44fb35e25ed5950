package graft

import java.sql.Timestamp
import java.util.UUID

import java.security.MessageDigest

import graft.functions.{HashEmbedder, VectorFunctions}
import graft.functions.expressions.{BoundParam, FeedbackLookup, ParamSlot}
import graft.internal.PreparedPlan
import graft.retrieval.{ModeConfig, Modes, PostProcess, QuerySanitizer, RetrievalCache}
import graft.storage._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The user-facing engine facade — the reference's `ALMA` core API
  * re-expressed Spark-first (reference: alma/core.py:246-380:
  * retrieve + learn; alma/retrieval/engine.py:158-374 read path;
  * alma/learning/protocols.py:59-279 write path + promotions;
  * alma/learning/decay.py / forgetting.py:441-515 maintenance).
  *
  * All similarity/scoring/top-k run as one declarative plan per memory
  * type; only the final ≤ top-k rows are collected into the MemorySlice.
  * Time is always injected (`asOf`), never read from the wall clock.
  */
final class Alma(
    val store: MemoryStore,
    val projectId: String,
    scopes: Map[String, MemoryScope] = Map.empty,
    embedDim: Int = HashEmbedder.Dim) {

  private val spark = store.spark
  import spark.implicits._

  private def scope(agent: String): MemoryScope =
    scopes.getOrElse(agent, MemoryScope(agent))

  // O5: retrieval-result cache (reference: cache.py:363-737 +
  // core.py:358-359). Entries key on the store's write generation, so
  // any write to the store — through this facade or `store` directly —
  // makes every earlier entry unreachable. The cache clock is the
  // injected asOf — deterministic like everything else here.
  private val cache = new RetrievalCache[MemorySlice]()

  /** Driver-side event pub/sub (reference alma/events/emitter.py):
    * facade writes emit bounded control-plane notifications here;
    * attach a `WebhookManager` via `events.subscribeAll`/`start` for
    * the reference's webhook surface. Off by default (no subscribers =
    * no work).
    */
  val events = new graft.events.EventEmitter

  // ---- §3.2 the write path ---------------------------------------------
  /** Record a task outcome; promote heuristics / anti-patterns when the
    * thresholds are met (A1: ≥3 occurrences and >0.5 success ratio;
    * A2: ≥2 similar failures — protocols.py:163-279).
    *
    * One decision on the driver: a single collect, before any write,
    * returns everything the learn decides on ([[learnLegs]]) — the
    * write guard's verdict, this task type's per-strategy stats, the
    * agent's repeated failure classes and its stored promotion ids —
    * each bounded by the agent's distinct strategies, error classes or
    * promotions, never by the history's length. The driver adds the new
    * outcome to the stats, refuses the learn (before the append) or
    * appends the outcome, and builds the promoted rows itself, like
    * every other facade write:
    *  - A1: every strategy whose heuristic is stored is refreshed from
    *    the recomputed stats, also downward, so a strategy whose success
    *    ratio collapses is demoted in place; the threshold gates NEW
    *    heuristics only. Counts are recomputed from the full history,
    *    so matched rows are REPLACED (deterministic ids make this
    *    idempotent); incrementing would double-count.
    *  - A2 (failed learns): every repeated error class whose promotion
    *    id is not stored is appended, insert-only — a promoted pattern
    *    is never weakened by later successes. Stored anti-patterns are
    *    matched by id, never by `whyBad`.
    * Nothing is written for an empty list.
    */
  def learn(
      agent: String,
      taskType: String,
      taskDescription: String,
      success: Boolean,
      strategyUsed: String,
      asOf: Timestamp,
      durationMs: Long = 0L,
      errorMessage: Option[String] = None,
      context: Option[graft.workflow.WorkflowContext] = None): Outcome = {
    context.foreach(_.validate())
    val o = Outcome(
      id = UUID.randomUUID().toString,
      agent = agent, projectId = projectId,
      taskType = taskType, taskDescription = taskDescription,
      success = success, strategyUsed = strategyUsed,
      durationMs = durationMs, errorMessage = errorMessage,
      timestamp = asOf,
      embedding = HashEmbedder.embed(s"$taskDescription $strategyUsed", embedDim),
      // Workflow-scoped learns stamp their coordinates so that
      // retrieveWithScope can filter on them (context.py pairing).
      metadata = context.fold(Map.empty[String, String])(_.toStamp))
    val legs = learnLegs(o)
    // F10 write guard: learning a strategy that matches a stored
    // anti-pattern is refused.
    require(legs("guard").isEmpty, s"write guard: strategy '$strategyUsed' matches a stored anti-pattern")

    store.saveOutcomes(Seq(o))
    events.emit(graft.events.MemoryEvent(
      graft.events.MemoryEventType.Created, agent, projectId,
      MemoryType.Outcomes, o.id, asOf.getTime * 1000L,
      Map("task_type" -> taskType, "success" -> success.toString)))

    // The tallies are the stored history's; this outcome is added here.
    val heuristics = legs("heuristic").map(_.getString(1)).toSet
    val stats = legs("strategy").map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    val (n0, succ0) = stats.getOrElse(strategyUsed, (0L, 0L))
    val promoted = (stats + (strategyUsed -> (n0 + 1, succ0 + (if (success) 1 else 0)))).toSeq.flatMap {
      case (strategy, (n, succ)) =>
        val id = s"h-$projectId-$agent-$taskType-${Alma.idHash(strategy)}"
        val confidence = succ.toDouble / n
        if (heuristics(id) || (n >= scope(agent).minOccurrencesForHeuristic && confidence > 0.5))
          Some(Heuristic(id, agent, projectId, taskType, strategy, confidence, n, succ, asOf, asOf,
            HashEmbedder.embed(s"$taskType $strategy", embedDim), Map.empty))
        else None
    }
    if (promoted.nonEmpty) store.mergeHeuristics(promoted, heuristics, addCounts = false)

    if (!success) {
      val antiPatterns = legs("antiPattern").map(_.getString(1)).toSet
      val stored = legs("failure").map { r =>
        val f = r.getStruct(4)
        r.getString(1) -> (r.getLong(2), (f.getTimestamp(0), f.getString(1), f.getString(2)))
      }.toMap
      // This outcome counts one more in its class, and is the class's
      // first failure when it sorts first by (timestamp, id).
      val own = (asOf, o.id, strategyUsed)
      val classes = errorMessage.fold(stored) { e =>
        val (n, first) = stored.getOrElse(e, (0L, own))
        val earlier = first._1.before(asOf) || (first._1 == asOf && first._2 < o.id)
        stored + (e -> (n + 1, if (earlier) first else own))
      }
      val fresh = classes.toSeq.collect { case (error, (n, (_, _, strategy)))
          if n >= 2 && !antiPatterns(s"ap-$projectId-$agent-${Alma.idHash(error)}") =>
        AntiPattern(s"ap-$projectId-$agent-${Alma.idHash(error)}", agent, projectId, strategy, error,
          s"avoid: $strategy", n, asOf, asOf, HashEmbedder.embed(error, embedDim), Map.empty)
      }
      if (fresh.nonEmpty) store.saveAntiPatterns(fresh)
    }
    o
  }

  /** The one read of a learn: a single collect of five bounded legs,
    * each a `(leg, key, n, succ, first)` row set, keyed by leg name:
    *  - `guard`: ids of the readable agents' anti-patterns whose
    *    `pattern` is the strategy (F10);
    *  - `heuristic` / `antiPattern`: the agent's stored heuristic and
    *    anti-pattern ids;
    *  - `strategy`: this task type's stored `(n, succ)` per strategy;
    *  - `failure`: the agent's stored failures per `errorMessage`, with
    *    the `(timestamp, id, strategyUsed)` of the first, for the
    *    classes with `n ≥ 2` and the class of `o`.
    * `o` is left out and added by the caller. In the plan it would be a
    * local relation, which the optimizer folds each leg's filter into
    * and prunes once empty, so failed and successful learns would run
    * different plans; and a union with it would split the tally's scan
    * and sort into more stages. As it is, every learn runs one plan and
    * reuses the classes generated for it.
    */
  private def learnLegs(o: Outcome): Map[String, Seq[org.apache.spark.sql.Row]] = {
    val p = Some(projectId)
    val own = Seq(o.agent)
    def ids(leg: Column, rows: DataFrame) = rows.select(leg.as("leg"), col("id").as("key"), lit(0L).as("n"),
      lit(0L).as("succ"), lit(null).cast("struct<timestamp:timestamp,id:string,strategyUsed:string>").as("first"))
    val guard = col("pattern") === o.strategyUsed
    // One scan feeds both tallies: an outcome counts toward its strategy
    // when it is of this task type, and toward its error class when it
    // failed with one.
    val (ofType, failed) = (col("taskType") === o.taskType, !col("success") && col("errorMessage").isNotNull)
    val tallies = store.outcomes(p, own).toDF().filter(ofType || failed)
      .select(explode(array(
        when(ofType, struct(lit("strategy").as("leg"), col("strategyUsed").as("key"))),
        when(failed, struct(lit("failure").as("leg"), col("errorMessage").as("key"))))).as("t"), col("*"))
      .filter(col("t").isNotNull)
      .groupBy(col("t.leg").as("leg"), col("t.key").as("key"))
      .agg(count(lit(1)).as("n"), sum(when(col("success"), 1L).otherwise(0L)).as("succ"),
        min(struct(col("timestamp"), col("id"), col("strategyUsed"))).as("first"))
      // `o`'s class is kept at any count, so that `o` can make it two. A
      // learn without one matches "" (a null literal would be folded
      // into the filter and change the plan); the caller ignores it.
      .filter(col("leg") === "strategy" || col("n") >= 2 ||
        col("key") === o.errorMessage.filterNot(_ => o.success).getOrElse(""))
    Seq(
      // One anti-pattern scan serves two legs: a guard hit refuses the
      // learn, so its row need not count as a stored id as well.
      ids(when(guard, "guard").otherwise("antiPattern"),
        store.antiPatterns(p, scope(o.agent).readableAgents).toDF().filter(guard || col("agent") === o.agent)),
      ids(lit("heuristic"), store.heuristics(p, own).toDF()),
      tallies)
      .reduce(_ union _).collect().toSeq
      .groupBy(_.getString(0)).withDefaultValue(Nil)
  }

  // ---- feedback loop (R10/R11 end-to-end) --------------------------------
  /** Record a usage signal against a retrieved memory; the next
    * retrieve blends the aggregated score in (reference
    * record_retrieval_feedback, types.py:352-379 + feedback.py:138-230).
    */
  def recordFeedback(memoryId: String, memoryType: String, agent: String,
      signal: String, asOf: Timestamp): Unit = {
    // An unknown signal would aggregate to a spurious neutral (0.0)
    // feedback score and shift rankings — reject it at the door.
    require(Seq(FeedbackSignal.Used, FeedbackSignal.Ignored,
      FeedbackSignal.ThumbsUp, FeedbackSignal.ThumbsDown).contains(signal),
      s"invalid feedback signal: $signal")
    store.saveFeedback(Seq(RetrievalFeedback(
      id = UUID.randomUUID().toString,
      memoryId = memoryId, memoryType = memoryType,
      agent = agent, projectId = projectId,
      signal = signal, timestamp = asOf)))
    events.emit(graft.events.MemoryEvent(
      graft.events.MemoryEventType.RagFeedback, agent, projectId,
      memoryType, memoryId, asOf.getTime * 1000L, Map("signal" -> signal)))
  }

  /** Store a user preference (core.py:382-411). */
  def addUserPreference(userId: String, category: String, preference: String,
      source: String, confidence: Double, asOf: Timestamp): UserPreference = {
    val p = UserPreference(
      id = UUID.randomUUID().toString,
      userId = userId, category = category, preference = preference,
      source = source, confidence = confidence, timestamp = asOf,
      metadata = Map.empty)
    store.savePreferences(Seq(p))
    events.emit(graft.events.MemoryEvent(
      graft.events.MemoryEventType.PreferenceAdded, userId, projectId,
      MemoryType.Preferences, p.id, asOf.getTime * 1000L,
      Map("category" -> category)))
    p
  }

  /** Store a domain fact (core.py:413-453). */
  def addDomainKnowledge(agent: String, domain: String, fact: String,
      source: String, confidence: Double, asOf: Timestamp): DomainKnowledge = {
    val k = DomainKnowledge(
      id = UUID.randomUUID().toString,
      agent = agent, projectId = projectId,
      domain = domain, fact = fact, source = source,
      confidence = confidence, lastVerified = asOf,
      embedding = HashEmbedder.embed(s"$domain $fact", embedDim),
      metadata = Map.empty)
    store.saveKnowledge(Seq(k))
    events.emit(graft.events.MemoryEvent(
      graft.events.MemoryEventType.KnowledgeAdded, agent, projectId,
      MemoryType.Knowledge, k.id, asOf.getTime * 1000L,
      Map("domain" -> domain)))
    k
  }

  /** Prune stale outcomes and low-confidence heuristics (core.py:456-512
    * forget; learning-side semantics forgetting.py): both prunes are
    * distributed predicate deletes (count + complement snapshot
    * rewrite), never a driver-side partition of the table. Returns the
    * number of rows removed.
    */
  def forget(asOf: Timestamp, agent: Option[String] = None,
      olderThanDays: Int = 90, belowConfidence: Double = 0.3): Long = {
    val cutoff = new Timestamp(asOf.getTime - olderThanDays * 86400000L)
    val agentCond = agent.map(a => col("agent") === a).getOrElse(lit(true))
    store.deleteWhere(MemoryType.Outcomes,
      // cutoff is bound by reference: as a literal it would reach the
      // Parquet row-group filter, but it would also be written into
      // the generated code, compiling new classes on every call. The
      // projectId conjunct still prunes partitions either way.
      col("projectId") === projectId && agentCond && col("timestamp") < BoundParam.of(cutoff)) +
      store.deleteWhere(MemoryType.Heuristics,
        col("projectId") === projectId && agentCond && col("confidence") < belowConfidence)
  }

  /** Per-type memory counts for this project, optionally narrowed to
    * one agent (core.py:514-537 get_stats; preferences are user-keyed,
    * so the agent filter applies to the agent-keyed collections only).
    */
  def getStats(agent: Option[String] = None): Map[String, Long] =
    store.stats(Some(projectId), agent.toSeq)

  /** Link an external artifact to a memory (core.py:744-807): stored as
    * a URL + integrity metadata row, never the payload itself.
    */
  def linkArtifact(memoryId: String, artifactType: String, storageUrl: String,
      asOf: Timestamp, filename: Option[String] = None,
      mimeType: Option[String] = None, sizeBytes: Option[Long] = None,
      checksum: Option[String] = None): ArtifactRef = {
    val a = ArtifactRef(
      id = UUID.randomUUID().toString,
      memoryId = memoryId, artifactType = artifactType,
      storageUrl = storageUrl, filename = filename, mimeType = mimeType,
      sizeBytes = sizeBytes, checksum = checksum,
      createdAt = asOf, metadata = Map.empty)
    store.saveArtifacts(Seq(a))
    a
  }

  /** Artifacts linked to a memory (core.py:809-819 get_artifacts). */
  def getArtifacts(memoryId: String): Seq[ArtifactRef] =
    store.artifacts(Some(memoryId)).collect().toSeq.sortBy(_.id)

  /** One maintenance cycle — the deterministic batch form of the
    * reference's background scheduler jobs (forgetting.py:1239-1470:
    * registered prune/decay/consolidate tasks on a daemon thread):
    * forget stale + low-confidence memories, enforce the outcome
    * quota, and compact fragmented memory directories. Returns a
    * per-task summary count.
    */
  def maintain(asOf: Timestamp, agent: Option[String] = None,
      olderThanDays: Int = 90, belowConfidence: Double = 0.3,
      maxOutcomesPerAgent: Int = 1000): Map[String, Long] = {
    val pruned = forget(asOf, agent, olderThanDays, belowConfidence)
    val archived = enforceQuota(maxOutcomesPerAgent, asOf)
    // Side tables included: the feedback log is the highest-append
    // table in the system (and the retrieve's feedback scores are
    // recounted from it after each change), so it fragments fastest.
    // An append racing the rewrite (a concurrent recordUsage) is
    // covered by the overwrite rescue — files landing in the superseded
    // snapshot after the rewrite's read are moved into the committed
    // one, not silently dropped.
    // Checkpoints stay EXCLUDED anyway: their natural compaction point
    // is cleanupCheckpoints, which already rewrites the table when a
    // run completes, so maintenance never touches live-run state at
    // all. vacuum below stays safe for every table — it only deletes
    // unreferenced snapshot dirs, never the current one appends land in.
    val compacted = MemoryType.AllStored
      .filterNot(_ == MemoryType.Checkpoints)
      .map(t => store.compact(t)).sum
    // Reclaim snapshots left by losing concurrent committers and
    // aborted writes — maintenance is the documented quiet point where
    // no reader is pinned to an old snapshot.
    MemoryType.AllStored.foreach(store.vacuum)
    Map("pruned" -> pruned, "quota_archived" -> archived, "files_before_compact" -> compacted)
  }

  /** Record what a whole workflow run learned (core.py:652-741). */
  def learnFromWorkflow(agent: String, workflowId: String, runId: String,
      result: String, summary: String, asOf: Timestamp,
      strategiesUsed: Seq[String] = Nil,
      successfulPatterns: Seq[String] = Nil,
      failedPatterns: Seq[String] = Nil,
      durationSeconds: Option[Double] = None,
      nodeCount: Option[Long] = None,
      errorMessage: Option[String] = None): WorkflowOutcome = {
    require(Seq("success", "failure", "partial", "cancelled", "timeout").contains(result),
      s"invalid workflow result: $result")
    val w = WorkflowOutcome(
      id = UUID.randomUUID().toString,
      agent = agent, projectId = projectId,
      workflowId = workflowId, runId = runId,
      result = result, summary = summary,
      strategiesUsed = strategiesUsed,
      successfulPatterns = successfulPatterns,
      failedPatterns = failedPatterns,
      durationSeconds = durationSeconds, nodeCount = nodeCount,
      errorMessage = errorMessage, createdAt = asOf, metadata = Map.empty)
    store.saveWorkflowOutcomes(Seq(w))
    w
  }

  // ---- workflow checkpoint API (core.py:546-650, 821-850) ---------------
  /** Persist a crash-recovery checkpoint. Sequence numbers increment
    * per (run, branch); with `skipIfUnchanged` an identical state to
    * the branch tip writes nothing and returns None (the reference's
    * no-change skip). The tip lookup is a pushed-down point filter —
    * bounded by run length, never table size.
    */
  def checkpoint(
      runId: String,
      nodeId: String,
      stateJson: String,
      asOf: Timestamp,
      branchId: String = "main",
      parentCheckpointId: Option[String] = None,
      skipIfUnchanged: Boolean = true): Option[graft.workflow.Checkpoint] = {
    val tip = store.checkpoints(Some(runId))
      .filter(col("branchId") === branchId)
      .orderBy(col("sequenceNumber").desc, col("id"))
      .take(1).headOption
    if (skipIfUnchanged && tip.exists(_.stateJson == stateJson)) None
    else {
      val ck = graft.workflow.Checkpoint(
        id = UUID.randomUUID().toString,
        runId = runId, nodeId = nodeId, branchId = branchId,
        sequenceNumber = tip.map(_.sequenceNumber + 1).getOrElse(0L),
        parentCheckpointId = parentCheckpointId.orElse(tip.map(_.id)),
        stateJson = stateJson, createdAt = asOf)
      store.saveCheckpoints(Seq(ck))
      Some(ck)
    }
  }

  /** The checkpoint to resume from after a crash (core.py:600-616):
    * highest sequence in the run, optionally within one branch.
    */
  def getResumePoint(runId: String,
      branchId: Option[String] = None): Option[graft.workflow.Checkpoint] = {
    val base = store.checkpoints(Some(runId))
    branchId.fold(base.toDF())(b => base.filter(col("branchId") === b).toDF())
      .orderBy(col("sequenceNumber").desc, col("id"))
      .as(MemoryStore.CheckpointEncoder)
      .take(1).headOption
  }

  /** Merge parallel branch states key-wise with named reducers
    * (core.py:618-650): later branches win for `last_value`; the A6
    * reducer registry handles the rest. States are bounded driver-side
    * dicts (workflow state, not data), so the merge runs over a tiny
    * local DataFrame through the same distributed reducer expressions
    * the state-reducer operator uses. State values are strings here
    * (the reference merges typed dicts), so numeric reducers return
    * the canonical double rendering ("8.0", not "8").
    */
  def mergeStates(
      states: Seq[Map[String, String]],
      reducerConfig: Map[String, String] = Map.empty,
      defaultReducer: String = "last_value"): Map[String, String] = {
    if (states.isEmpty) return Map.empty
    val rows = states.zipWithIndex.flatMap { case (m, i) =>
      m.toSeq.map { case (k, v) => (i.toString, k, v, i.toLong) }
    }
    val df = rows.toDF("branch", "key", "value", "seq")
    graft.workflow.Checkpoints.mergeBranchStates(df, reducerConfig, defaultReducer)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Drop all but the latest `keepLatest` checkpoints per branch of a
    * completed run (core.py:821-850). Returns the deleted count.
    */
  def cleanupCheckpoints(runId: String, keepLatest: Int = 1): Long =
    store.cleanupCheckpoints(runId, keepLatest)

  /** Bulk usage recording (core.py:1325-1368): every retrieved memory
    * gets a signal — `used` if its id is in `usedIds`, else `ignored` —
    * feeding the R10/R11 feedback re-rank. Returns the feedback ids.
    */
  def recordUsage(
      retrievedIds: Seq[String],
      usedIds: Set[String],
      memoryType: String,
      agent: String,
      asOf: Timestamp): Seq[String] = {
    val rows = retrievedIds.map { mid =>
      RetrievalFeedback(
        id = UUID.randomUUID().toString,
        memoryId = mid, memoryType = memoryType,
        agent = agent, projectId = projectId,
        signal = if (usedIds(mid)) FeedbackSignal.Used else FeedbackSignal.Ignored,
        timestamp = asOf)
    }
    store.saveFeedback(rows)
    rows.map(_.id)
  }

  // ---- §3.1 the read path ----------------------------------------------
  /** One scored memory type of the read path: its table, envelope slot,
    * recency column and success/confidence factors (scoring.py:77-269);
    * outcomes also carry the failure flag the mode's failureBoost keys
    * on. The single per-type definition `retrieve` and `retrieveBatch`
    * both score with ([[scored]]).
    */
  private case class ScoredType(memoryType: String, slot: String,
      recencyCol: String, succ: Column, conf: Column, failureFlag: Option[Column] = None)

  private def scoredTypes(m: ModeConfig): Seq[ScoredType] =
    Seq(
      ScoredType(MemoryType.Heuristics, "h", "lastValidated",
        succ = col("successCount").cast("double") /
          when(col("occurrenceCount") === 0, 1L).otherwise(col("occurrenceCount")),
        conf = col("confidence")),
      ScoredType(MemoryType.Outcomes, "o", "timestamp",
        succ = when(col("success"), 1.0).otherwise(0.3),
        conf = lit(1.0),
        failureFlag = Some(!col("success"))),
      ScoredType(MemoryType.Knowledge, "dk", "lastVerified",
        succ = lit(1.0), conf = col("confidence"))) ++
      (if (m.includeAntiPatterns)
        Seq(ScoredType(MemoryType.AntiPatterns, "ap", "lastSeen",
          succ = least(col("occurrenceCount").cast("double") / lit(10.0), lit(1.0)),
          conf = lit(1.0)))
      else Nil)

  /** Score `df`, rows of type `t`, against the query-vector similarity
    * `sim` at `asOfUs` (epoch micros): the mode's 4-factor base score,
    * the feedback blend over the row's score `feedback` (null without
    * feedback), the mode's failure and exact-match boosts, then the
    * `minScore` threshold. Adds `_sim` and `_score`.
    */
  private def scored(df: DataFrame, t: ScoredType, sim: Column, asOfUs: Column,
      m: ModeConfig, feedback: Column): DataFrame = {
    val days = (asOfUs - unix_micros(col(t.recencyCol))).cast("double") /
      lit(86400000000.0)
    val rec = pow(lit(0.5), days / lit(30.0))
    val base = lit(m.wSim) * sim + lit(m.wRecency) * rec +
      lit(m.wSuccess) * t.succ + lit(m.wConfidence) * t.conf
    // R8 diagnostic failure boost / R9 exact-match boost ladder.
    val failB = t.failureFlag match {
      case Some(f) if m.failureBoost != 1.0 =>
        when(f, lit(m.failureBoost)).otherwise(lit(1.0))
      case _ => lit(1.0)
    }
    val exactB =
      if (m.exactMatchBoost == 1.0) lit(1.0)
      else when(sim > 0.9, lit(m.exactMatchBoost))
        .when(sim > 0.8, lit(1.0 + (m.exactMatchBoost - 1.0) / 2.0))
        .otherwise(lit(1.0))
    // Feedback blends into the BASE score (reference order:
    // engine.py:328 applies feedback to scorer output; the boost path
    // :561-571 multiplies afterwards). Blending after boosts would
    // let a boosted raw > 1 row LOSE score to perfect feedback, since
    // the feedback term is capped at 1. Feedback-less rows (a null
    // score makes the blend null) keep their raw score
    // (feedback.py:190-230).
    val blended = coalesce(
      lit(1.0 - Alma.FeedbackWeight) * col("_base_score") +
        lit(Alma.FeedbackWeight) * (feedback + lit(1.0)) / lit(2.0),
      col("_base_score"))
    df.withColumn("_sim", sim)
      .withColumn("_base_score", base)
      .withColumn("_score", blended * failB * exactB)
      .drop("_base_score")
      .filter(col("_score") >= m.minScore)
  }

  /** filter → similarity → 4-factor score → (mode boosts) → threshold →
    * top-k (→ MMR when the mode asks for diversity) per memory type →
    * MemorySlice. One declarative plan per type; per-type score rules
    * follow scoring.py:77-269, boost/diversity semantics
    * engine.py:639-802.
    *
    * A repeated call (same query, agent, asOf, k, mode and scope, no
    * store write since) is served from the retrieval cache and runs no
    * job. A miss binds its values into the facade's prepared plan for
    * its shape (analysed on the shape's first miss) and runs one job,
    * the fused collect. The feedback blend reads the store's feedback
    * scores ([[MemoryStore.feedbackScores]]): the first miss after a
    * change to the feedback table runs one more job, which recounts
    * them.
    *
    * `topK <= 0` uses the mode's preset top-k.
    */
  def retrieve(
      query: String,
      agent: String,
      asOf: Timestamp,
      topK: Int = -1,
      mode: ModeConfig = Modes.Precise): MemorySlice =
    retrieveImpl(query, agent, asOf, topK, mode, graft.workflow.ScopeFilter())

  /** Workflow-scoped retrieval (core.py:851-924 retrieve_with_scope):
    * `retrieve` plus a conjunctive workflow-coordinate filter derived
    * from the context at the requested scope level. Rows tagged with a
    * DIFFERENT id are excluded; untagged rows still match (the
    * reference keeps legacy tables unfiltered — sqlite_local.py:1971's
    * back-compat no-op). The filter compiles into per-scan metadata
    * predicates, so at scale it prunes before scoring, not after.
    */
  def retrieveWithScope(
      task: String,
      agent: String,
      asOf: Timestamp,
      context: graft.workflow.WorkflowContext,
      scope: graft.workflow.RetrievalScope = graft.workflow.RetrievalScope.Agent,
      topK: Int = -1,
      mode: ModeConfig = Modes.Precise): MemorySlice = {
    context.validate()
    retrieveImpl(task, agent, asOf, topK, mode, context.scopeFilter(scope))
  }

  /** What a prepared retrieve plan is built for: everything that shapes
    * the plan, and none of the values a call binds into it (the query,
    * asOf, the agent ids, the workflow values, the feedback scores) —
    * an agent loop asks for another agent on nearly every miss. `leaves`
    * holds each read table's columns: a committed table is read from
    * its snapshot, an absent one is its typed empty relation, and the
    * two differ in their columns.
    */
  private case class RetrieveShape(mode: ModeConfig, k: Int, scopeKeys: Seq[String],
      agents: Int, leaves: Map[String, StructType])

  // Prepared retrieve plans, one per shape. They hold plan structure and
  // no data (like Spark's codegen cache), so no store write can make one
  // stale and they live outside SessionMemo; every call binds its own
  // fresh table reads and values.
  private val prepared = new java.util.concurrent.ConcurrentHashMap[RetrieveShape, PreparedPlan]()

  /** Prepared retrieve plans built by this facade (a spec counter). */
  private[graft] val preparedBuilds = new java.util.concurrent.atomic.AtomicInteger

  private def retrieveImpl(
      query: String,
      agent: String,
      asOf: Timestamp,
      topK: Int,
      mode: ModeConfig,
      wf: graft.workflow.ScopeFilter): MemorySlice = {
    val m = mode.normalized
    val k = if (topK > 0) topK else m.topK
    val wfFilter = wf.toMap
    // The FULL normalized mode config keys the entry (case-class
    // toString carries every field): two configs sharing a preset name
    // but differing in weights/threshold/boosts must not collide. The
    // write generation is read before the reads below, so a write that
    // lands while this miss computes leaves its slice unreachable.
    val cacheKey = cache.key(store.writeGeneration.toString, agent,
      query, k.toString, asOf.toString, m.toString,
      wfFilter.toSeq.sorted.map { case (a, b) => s"$a=$b" }.mkString(","))
    cache.get(cacheKey, asOf.getTime) match {
      case Some(hit) => return hit
      case None =>
    }
    val agents = scope(agent).readableAgents
    val scopeKeys = wfFilter.keys.toSeq.sorted
    val types = scoredTypes(m)
    // This call's read of every table the plan scans, each resolving its
    // committed snapshot and listing its files now.
    val tables = (types.map(_.memoryType) :+ MemoryType.Preferences)
      .map(t => t -> store.readTable(t)).toMap
    val shape = RetrieveShape(m, k, scopeKeys, agents.size, tables.map { case (t, df) => t -> df.schema })
    val plan = prepared.computeIfAbsent(shape, _ =>
      graft.observability.Metrics.withOp(spark, "retrieve_prepare")(prepareRetrieve(shape, types, tables)))
    val params = Map[String, Any](
      "query" -> HashEmbedder.embed(QuerySanitizer.sanitize(query), embedDim),
      "asOf" -> asOf.getTime * 1000L,
      "feedback" -> store.feedbackScores(projectId)) ++
      agents.zipWithIndex.map { case (a, i) => s"agent$i" -> a } ++
      scopeKeys.zipWithIndex.map { case (key, i) => s"scope$i" -> wfFilter(key) }
    val collected = plan.bind(spark, tables, params).as(Alma.FusedEncoder).collect().toSeq

    // R13 provenance: memories read from an inherited agent are tagged
    // with their origin (engine.py:804-827 metadata.shared_from) — on
    // every memory type.
    def tagShared(meta: Map[String, String], owner: String): Map[String, String] =
      if (owner != agent) meta + ("shared_from" -> owner) else meta

    // Driver-side per-type finish over the bounded envelope rows:
    // deterministic (score desc, id) order, then greedy MMR (R7) when
    // the mode asks for diversity.
    def finish[T](mt: String, get: Alma.Fused => Option[T], idOf: T => String): Seq[T] = {
      val cand = collected.filter(_.memoryType == mt)
        .sortBy(e => (-e.score, idOf(get(e).get)))
      val picked =
        if (m.diversity <= 0.0) cand
        else {
          val cs = cand.zipWithIndex.map { case (e, i) =>
            PostProcess.Candidate(i.toLong, e.score, e.sim, "")
          }
          PostProcess.mmr(cs, lambda = m.diversity, k = k).map(c => cand(c.id.toInt))
        }
      picked.take(k).flatMap(e => get(e))
    }

    val hs = finish[Heuristic](MemoryType.Heuristics, _.h, _.id)
      .map(h => h.copy(metadata = tagShared(h.metadata, h.agent)))
    val os = finish[Outcome](MemoryType.Outcomes, _.o, _.id)
      .map(o => o.copy(metadata = tagShared(o.metadata, o.agent)))
    val ks = finish[DomainKnowledge](MemoryType.Knowledge, _.dk, _.id)
      .map(kr => kr.copy(metadata = tagShared(kr.metadata, kr.agent)))
    val aps = finish[AntiPattern](MemoryType.AntiPatterns, _.ap, _.id)
      .map(a => a.copy(metadata = tagShared(a.metadata, a.agent)))
    val prefs = collected.filter(_.memoryType == MemoryType.Preferences)
      .flatMap(_.up).sortBy(_.id).take(k)

    val slice = MemorySlice(
      heuristics = hs, outcomes = os, preferences = prefs,
      knowledge = ks, antiPatterns = aps,
      query = query, agent = agent)
    cache.put(cacheKey, slice, asOf.getTime)
    slice
  }

  /** The fused retrieve plan of one shape, over the leaves of `tables`,
    * with a parameter slot for each value a call binds: `query` (the
    * query vector), `asOf` (epoch micros), `agent<i>` (the readable
    * agents), `scope<i>` (the workflow values, by sorted key) and
    * `feedback` (the score table of the feedback blend).
    *
    * The fused retrieve is ONE Spark job with no typed stage in it
    * (SURVEY §1.4 MemorySlice alternative). Every per-type branch
    * projects the same envelope — memoryType, the whole source row as
    * one struct named after its Alma.Fused slot, score, sim — the
    * branches union by name (a slot a branch lacks is null), and the
    * single collect of ≤ 5×3k bounded rows decodes Alma.Fused on the
    * driver, which splits, re-sorts per type, and applies MMR where
    * the mode asks for it. Decoding there, not per branch, keeps
    * deserialize/map/serialize stages and their generated classes out
    * of the plan.
    *
    * The agent predicate compares with bound values, which Parquet
    * cannot push down (its filters take literals); the `projectId`
    * predicate stays a literal and still prunes partitions.
    */
  private def prepareRetrieve(shape: RetrieveShape, types: Seq[ScoredType],
      tables: Map[String, DataFrame]): PreparedPlan = PreparedPlan(spark, tables) { leaf =>
    preparedBuilds.incrementAndGet()
    val m = shape.mode
    val agents = (0 until shape.agents).map(i => ParamSlot.like(s"agent$i", ""))
    def envelope(rows: DataFrame, payload: Array[String], memoryType: String,
        slot: String, score: Column, sim: Column): DataFrame =
      rows.select(lit(memoryType).as("memoryType"),
        struct(payload.toIndexedSeq.map(col): _*).as(slot),
        score.as("score"), sim.as("sim"))
    // Workflow scope: each set coordinate must match when the row is
    // tagged with it; a missing metadata key passes (getItem → null →
    // coalesce true). Applied at the scan, before scoring.
    def scoped(df: DataFrame): DataFrame =
      shape.scopeKeys.zipWithIndex.foldLeft(df) { case (d, (key, i)) =>
        d.filter(coalesce(col("metadata").getItem(key) === ParamSlot.like(s"scope$i", ""), lit(true)))
      }
    val sim = VectorFunctions.cosine(col("embedding"), ParamSlot.like("query", Array.emptyFloatArray))
    val feedback = FeedbackLookup.of(col("id"),
      ParamSlot.typed("feedback", FeedbackLookup.TableType))
    val pdf = leaf(MemoryType.Preferences)
    val branches = types.map { t =>
      val df = scoped(leaf(t.memoryType)
        .filter(col("projectId") === projectId)
        .filter(col("agent").isin(agents: _*)))
      val capped = scored(df, t, sim, ParamSlot.like("asOf", 0L), m, feedback)
        .orderBy(col("_score").desc, col("id"))
        // Diversity modes over-fetch 3×k candidates for the driver-side
        // greedy MMR (R7, applied after the single collect); plain modes
        // cap at k. Either way the per-type plan ends in a
        // TakeOrderedAndProject — bounded output at any corpus size.
        .limit(if (m.diversity <= 0.0) shape.k else 3 * shape.k)
      envelope(capped, df.columns, t.memoryType, t.slot, col("_score"), col("_sim"))
    } :+
      // Preferences are unscored (engine.py:347-350).
      envelope(pdf.orderBy(col("id")).limit(shape.k), pdf.columns,
        MemoryType.Preferences, "up", lit(0.0), lit(0.0))
    val unioned = branches.reduce(_.unionByName(_, allowMissingColumns = true))
    // A slot no branch fills (ap, when the mode leaves anti-patterns
    // out) is added as a typed null, so the Fused decoder resolves.
    Alma.FusedEncoder.schema
      .filterNot(f => unioned.columns.contains(f.name))
      .foldLeft(unioned)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Batch retrieval: many queries against every scored memory type in
    * ONE pass — the benchmark-runner shape (SURVEY §3.3: broadcast the
    * query vectors, scan each memory table once, Window top-k per
    * (query, type)). Returns (query_id, query, memory_type, rank, id,
    * score); N queries cost one job per type, not N.
    *
    * Scores are `retrieve`'s: the same per-type definition, feedback
    * blend, mode boosts and threshold ([[scored]]). MMR diversity,
    * workflow scopes and preferences stay retrieve-only — the batch
    * ranks every mode by score alone and returns no preferences.
    */
  def retrieveBatch(
      queries: Seq[String],
      agent: String,
      asOf: Timestamp,
      topK: Int = -1,
      mode: ModeConfig = Modes.Precise): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = mode.normalized
    val k = if (topK > 0) topK else m.topK
    val agents = scope(agent).readableAgents
    val qdf = broadcast(queries.zipWithIndex.map { case (q, i) =>
      (i.toLong, q, HashEmbedder.embed(QuerySanitizer.sanitize(q), embedDim))
    }.toDF("query_id", "query", "q_vec"))
    val sim = VectorFunctions.cosine(col("embedding"), col("q_vec"))
    // asOf is bound by reference, not as a literal, so every call
    // generates the same Java and reuses the compiled classes.
    val asOfUs = BoundParam.of(asOf.getTime * 1000L)
    val feedback = FeedbackLookup.of(col("id"), store.feedbackScores(projectId))
    val candidates = scoredTypes(m).map { t =>
      scored(store.scan(t.memoryType, Some(projectId), agents).crossJoin(qdf), t, sim, asOfUs, m, feedback)
        .select(col("query_id"), col("query"), lit(t.memoryType).as("memory_type"),
          col("id"), col("_score"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("query_id", "memory_type")
      .orderBy(col("_score").desc, col("id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query"), col("memory_type"),
        col("rank"), col("id"), col("_score").as("score"))
      .orderBy("query_id", "memory_type", "rank")
  }

  /** Retrieve + render: the full read path ending in the token-capped
    * prompt projection (S11). `costOf` is the token estimator — the
    * chars/4 fallback by default; pass `tokenizer()` (or
    * `PostProcess.estimatorFor(merges)`) for BPE-trained counting.
    */
  def retrievePrompt(query: String, agent: String, asOf: Timestamp,
      topK: Int = -1, maxTokens: Int = 800,
      costOf: String => Int = graft.retrieval.PostProcess.estimateTokens): String =
    retrieve(query, agent, asOf, topK).toPrompt(maxTokens, costOf)

  /** Train a BPE token estimator on this project's stored memory text
    * (heuristic conditions/strategies, outcome descriptions, knowledge
    * facts) — the tokenizer-primary half of the reference's token
    * accounting, learned from the corpus the budgets actually gate.
    * One bounded vocabulary job; an empty store trains zero merges, so
    * `estimatorFor` degrades to the chars/4 fallback by itself.
    */
  def tokenizer(numMerges: Int = 64): String => Int = {
    val texts = Seq(
      store.heuristics(Some(projectId)).toDF()
        .select(concat_ws(" ", col("condition"), col("strategy")).as("t")),
      store.outcomes(Some(projectId)).toDF().select(col("taskDescription").as("t")),
      store.knowledge(Some(projectId)).toDF().select(col("fact").as("t")))
      .reduce(_.unionByName(_))
    graft.retrieval.PostProcess.estimatorFor(
      graft.functions.Bpe.trainMergesFrom(texts, "t", numMerges))
  }

  // ---- maintenance jobs -------------------------------------------------
  /** A10 quota enforcement: keep the top-N outcomes per agent by
    * recency, archive the overflow (forgetting.py:441-515).
    */
  def enforceQuota(maxOutcomesPerAgent: Int, asOf: Timestamp): Long = {
    import org.apache.spark.sql.expressions.Window
    val outcomes = store.outcomes(Some(projectId)).toDF()
    // Per-agent counts first: the common within-quota call ends on one
    // small aggregate and runs no window (no sort) at all.
    val within = outcomes.groupBy("agent").count()
      .filter(col("count") > maxOutcomesPerAgent).isEmpty
    if (within) return 0L
    // The overflow id set stays a DataFrame end-to-end — the archive is
    // a semi/anti join, so quota enforcement never funnels the table
    // through the driver.
    val w = Window.partitionBy("agent").orderBy(col("timestamp").desc, col("id"))
    val overflow = outcomes
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > maxOutcomesPerAgent)
      .select("id")
    val n = overflow.count()
    store.archiveIds(MemoryType.Outcomes, overflow, "quota", asOf.getTime * 1000L)
    n
  }
}

object Alma {
  /** R10 blend weight (reference feedback.py default w=0.15). */
  val FeedbackWeight = 0.15

  /** One row of the fused retrieve plan, decoded once at collect:
    * exactly one payload slot is set, discriminated by memoryType. The
    * plan's branches project a column per slot name, so renaming a
    * field here means renaming its branch's slot in `retrieveImpl`.
    */
  private[graft] final case class Fused(
      memoryType: String,
      h: Option[Heuristic] = None,
      o: Option[Outcome] = None,
      dk: Option[DomainKnowledge] = None,
      ap: Option[AntiPattern] = None,
      up: Option[UserPreference] = None,
      score: Double = 0.0,
      sim: Double = 0.0)

  private val FusedEncoder: Encoder[Fused] = Encoders.product[Fused]

  /** Deterministic collision-resistant id fragment (String.hashCode
    * collides trivially — e.g. "Aa"/"BB" — which would silently merge
    * distinct strategies or error classes).
    */
  def idHash(text: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  def apply(spark: SparkSession, root: String, projectId: String,
      scopes: Map[String, MemoryScope] = Map.empty): Alma =
    new Alma(new MemoryStore(spark, root), projectId, scopes)

  /** Build from a `.alma/config.yaml` (core.py:165-222 from_config):
    * storage dir, project id, and per-agent scope definitions. Every
    * storage backend the reference dispatches on (file/sqlite/postgres/
    * azure) maps to the one Parquet-backed MemoryStore here — the
    * config's `storage_dir` is the store root. Missing file → defaults
    * (loader.py:40-43).
    */
  def fromConfig(spark: SparkSession, configPath: String): Alma = {
    import graft.config.ConfigLoader
    val cfg = ConfigLoader.load(configPath)
    val scopes = ConfigLoader.section(cfg, "agents").map { case (name, sc) =>
      name -> MemoryScope(
        agent = name,
        canLearn = ConfigLoader.strings(sc, "can_learn").toSet,
        cannotLearn = ConfigLoader.strings(sc, "cannot_learn").toSet,
        shareWith = ConfigLoader.strings(sc, "share_with").toSet,
        inheritFrom = ConfigLoader.strings(sc, "inherit_from").toSet,
        minOccurrencesForHeuristic =
          ConfigLoader.int(sc, "min_occurrences_for_heuristic", 3))
    }
    apply(spark,
      ConfigLoader.str(cfg, "storage_dir", ".alma"),
      ConfigLoader.str(cfg, "project_id", "default"),
      scopes)
  }
}
