package graft.retrieval

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.storage._

/** Progressive disclosure: level-dependent summaries and the
  * fetch-on-demand point-lookup stage with its item cache.
  */
class ProgressiveSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val store = {
    val dir = Files.createTempDirectory("progressive-test").toString
    val st = new MemoryStore(spark, dir)
    st.saveHeuristics(Seq(
      Heuristic("h1", "a1", "proj1", "tests are flaky", "rerun twice and quarantine the worst offender first",
        0.9, 10L, 8L, ts("2024-01-05 00:00:00"), ts("2024-01-01 00:00:00"), Array(0.1f), Map.empty),
      Heuristic("h2", "a1", "proj1", "slow join", "broadcast the small side",
        0.7, 4L, 3L, ts("2024-01-06 00:00:00"), ts("2024-01-02 00:00:00"), Array(0.2f), Map.empty)))
    st.saveOutcomes(Seq(
      Outcome("o1", "a1", "proj1", "deploy", "ship the release", success = true,
        "canary", 1000L, None, ts("2024-01-07 00:00:00"), Array(0.3f), Map.empty)))
    st
  }

  private lazy val prog = new Progressive(store)

  test("summary level renders the When-condition form with rates") {
    val rows = prog.summaries(MemoryType.Heuristics, Progressive.Summary)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(rows("h2").getAs[String]("summary") == "When slow join, broadcast the small side")
    assert(rows("h2").getAs[String]("relevance_hint") == "Success rate: 75%, Confidence: 70%")
    assert(rows("h1").getAs[String]("summary") ==
      "When tests are flaky, rerun twice and quarantine the worst offender first")
    // Over-length summaries truncate to maxLen with ellipsis.
    val tight = new Progressive(store, maxSummaryLength = 40)
    val s1 = tight.summaries(MemoryType.Heuristics, Progressive.Summary)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("summary")).toMap
    assert(s1("h1").length == 40 && s1("h1").endsWith("..."))
  }

  test("reference level is a headline; key details carry counts") {
    val ref = prog.summaries(MemoryType.Heuristics, Progressive.Reference)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("summary")).toMap
    assert(ref("h2") == "Heuristic: slow join...")
    val kd = prog.summaries(MemoryType.Heuristics, Progressive.KeyDetails)
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("relevance_hint")).toMap
    assert(kd("h2") == "Used 4x, 75% success")
  }

  test("outcome summaries render status and strategy") {
    val rows = prog.summaries(MemoryType.Outcomes, Progressive.Summary).collect()
    assert(rows.head.getAs[String]("summary") == "Success: ship the release using canary")
  }

  test("fetch-on-demand point lookup hits storage once, then cache") {
    prog.clearCache()
    val item = prog.fullItem(MemoryType.Heuristics, "h1")
    assert(item.exists(_.getAs[String]("strategy").startsWith("rerun twice")))
    // Cached: same Row instance comes back without a new scan.
    assert(prog.fullItem(MemoryType.Heuristics, "h1").get eq item.get)
    assert(prog.fullItem(MemoryType.Heuristics, "missing").isEmpty)
  }

  test("a cached item reflects a later store write on its id") {
    val dir = Files.createTempDirectory("progressive-write").toString
    val st = new MemoryStore(spark, dir)
    val h = Heuristic("hw", "a1", "proj1", "slow join", "broadcast the small side",
      0.7, 4L, 3L, ts("2024-01-06 00:00:00"), ts("2024-01-02 00:00:00"), Array(0.2f), Map.empty)
    st.saveHeuristics(Seq(h))
    val p = new Progressive(st)
    def count(): Option[Long] =
      p.fullItem(MemoryType.Heuristics, "hw").map(_.getAs[Long]("occurrenceCount"))
    assert(count().contains(4L))
    st.upsertHeuristics(Seq(h.copy(occurrenceCount = 2L, successCount = 1L)))
    assert(count().contains(6L), "a stale cached item survived an upsert")
    assert(p.fullItems(MemoryType.Heuristics, Seq("hw")).map(_.getAs[Long]("occurrenceCount")) == Seq(6L))
    st.deleteWhere(MemoryType.Heuristics, org.apache.spark.sql.functions.col("id") === "hw")
    assert(count().isEmpty, "a deleted item is still served from the cache")
  }

  test("batch fetch resolves uncached ids in one scan and keeps order") {
    prog.clearCache()
    val items = prog.fullItems(MemoryType.Heuristics, Seq("h2", "h1"))
    assert(items.map(_.getAs[String]("id")) == Seq("h2", "h1"))
    // Order holds with a partially-warm cache too (h1 cached, h2 not).
    prog.clearCache()
    prog.fullItem(MemoryType.Heuristics, "h1")
    val mixed = prog.fullItems(MemoryType.Heuristics, Seq("h2", "h1"))
    assert(mixed.map(_.getAs[String]("id")) == Seq("h2", "h1"))
  }
}
