package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.functions.HashEmbedder
import graft.storage._
import org.apache.spark.metrics.source.CodegenMetrics

/** Regression gate for the agent loop's codegen working set.
  *
  * Spark keeps generated classes in a bounded cache (100 entries by
  * default, `spark.sql.codegen.cache.maxEntries`, a static conf), split
  * into LRU segments, and keyed by (class loader, source): each
  * whole-stage class takes one entry for the driver's compile and one
  * for the task's. A loop whose calls together touch more entries than
  * the cache holds evicts and recompiles them on every cycle.
  *
  * The gate counts the entries one steady-state cycle touches — learn
  * ok, retrieve miss, feedback, retrieve miss, maintain, learn fail —
  * by emptying the cache before each call and collecting the keys it
  * holds after it. That count does not depend on how the JVM spreads
  * the keys over the segments, which the cycle's recompile count does.
  */
class CodegenBudgetSpec extends SparkSpec {

  /** Cache entries one cycle may touch. */
  private val Budget = 100

  private val Agents = Seq("a0", "a1", "a2", "a3")
  private val TaskTypes = Seq("deploy", "migrate", "ingest")
  private val Clock0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime

  private def ago(minutes: Long) = new Timestamp(Clock0 - minutes * 60000L)

  private def compiled(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Spark's codegen class cache, as a map from its keys. */
  private def classCache(): java.util.concurrent.ConcurrentMap[AnyRef, AnyRef] = {
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val field = cg.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(cg)
    val loading = cache.getClass.getMethod("loadingCache").invoke(cache)
    val asMap = loading.getClass.getMethod("asMap")
    asMap.setAccessible(true)
    asMap.invoke(loading).asInstanceOf[java.util.concurrent.ConcurrentMap[AnyRef, AnyRef]]
  }

  /** The cache keys `body` touches: the cache is emptied first, and one
    * call touches well under a segment's worth of entries per segment.
    */
  private def touched(body: => Any): Set[AnyRef] = {
    val cache = classCache()
    cache.clear()
    body
    cache.keySet().toArray.toSet
  }

  /** A small store with every memory type and some feedback, so each
    * call runs the plan shapes it runs on a full store.
    */
  private def preload(store: MemoryStore): Unit = {
    val outcomes = (0 until 48).map { i =>
      val (agent, tt, failed) = (Agents(i % 4), TaskTypes(i % 3), i % 5 == 0)
      // Failed strategies are never learned again: a promoted
      // anti-pattern would refuse the cycle's learns.
      val strategy = if (failed) s"$tt fallback $i" else s"$tt strategy ${i % 2}"
      val desc = s"$tt task number $i"
      Outcome(s"o-$i", agent, "proj", tt, desc, success = !failed, strategy, 100L,
        if (failed) Some("lock timeout") else None,
        ago(if (i % 12 == 0) 200L * 1440 else 60L + i),
        HashEmbedder.embed(s"$desc $strategy"), Map.empty)
    }
    store.saveOutcomes(outcomes)
    store.saveHeuristics(for (a <- Agents; tt <- TaskTypes) yield Heuristic(
      s"h-proj-$a-$tt-${Alma.idHash(s"$tt strategy 0")}", a, "proj", tt, s"$tt strategy 0",
      0.8, 5L, 4L, ago(120), ago(120), HashEmbedder.embed(s"$tt $tt strategy 0"), Map.empty))
    store.saveKnowledge(Agents.map(a => DomainKnowledge(s"k-$a", a, "proj", "infra",
      s"deploys freeze on fridays for $a", "docs", 0.9, ago(300),
      HashEmbedder.embed(s"infra deploys freeze on fridays for $a"), Map.empty)))
    store.saveAntiPatterns(Agents.map(a => AntiPattern(s"ap-$a", a, "proj", "legacy pattern",
      "disk full", "avoid: legacy pattern", 3L, ago(400), ago(400),
      HashEmbedder.embed("disk full"), Map.empty)))
    store.savePreferences(Seq(UserPreference("p-0", "user0", "workflow", "prefer small diffs",
      "explicit_instruction", 1.0, ago(500), Map.empty)))
    store.saveFeedback((0 until 8).map(i => RetrievalFeedback(s"f-$i", s"o-${i + 1}",
      MemoryType.Outcomes, Agents(i % 4), "proj", FeedbackSignal.Used, ago(30L + i))))
  }

  test("a steady-state agent-loop cycle fits Spark's codegen cache") {
    val dir = Files.createTempDirectory("alma-codegen").toString
    preload(new MemoryStore(spark, dir))
    val alma = Alma(spark, dir, "proj")
    var clock = Clock0
    def tick(): Timestamp = { clock += 60000L; new Timestamp(clock) }
    def now = new Timestamp(clock)
    def calls(c: Int): Seq[(String, () => Any)] = Seq(
      "learn ok" -> (() => alma.learn(Agents(c % 4), "deploy", s"deploy the service $c",
        success = true, strategyUsed = "deploy strategy 0", asOf = tick())),
      "retrieve miss" -> (() => alma.retrieve(s"how do we deploy the api $c",
        Agents((c + 1) % 4), now)),
      "feedback" -> (() => alma.recordFeedback(s"o-${c + 2}", MemoryType.Outcomes,
        Agents((c + 2) % 4), FeedbackSignal.Ignored, tick())),
      "retrieve miss" -> (() => alma.retrieve(s"plan the table migration $c",
        Agents(c % 4), now)),
      "maintain" -> (() => alma.maintain(tick(), maxOutcomesPerAgent = 5000)),
      "learn fail" -> (() => alma.learn(Agents((c + 1) % 4), "migrate", s"migrate table $c",
        success = false, strategyUsed = s"drop and recreate $c", asOf = tick(),
        errorMessage = Some("lock timeout"))))
    // Two cycles reach the steady state (first promotions, first prunes).
    (1 to 2).foreach(c => calls(c).foreach { case (_, call) => call() })
    def cycle(c: Int): Seq[(String, Set[AnyRef])] =
      calls(c).map { case (name, call) => name -> touched(call()) }
    val third = cycle(3)
    val workingSet = third.flatMap(_._2).toSet
    info(s"cycle entries: ${workingSet.size}; per call: " +
      third.map { case (k, keys) => s"$k ${keys.size}" }.mkString(", "))
    assert(workingSet.size <= Budget,
      s"one agent-loop cycle touches ${workingSet.size} codegen cache entries (budget $Budget)")
    // No per-call value reaches the generated source: the next cycle, with
    // new queries, times and texts, touches no entry the third did not.
    val fresh = cycle(4).flatMap(_._2).toSet -- workingSet
    assert(fresh.isEmpty, s"a repeated cycle generated ${fresh.size} new classes")
  }
}
