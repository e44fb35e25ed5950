package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins the progress-tracker queries to the reference's driver-side
  * semantics (alma/progress/tracker.py): the four get_next_item
  * strategies are re-implemented here as literal Scala transcriptions
  * of the Python sorts (stable, insertion order = ascending id) and the
  * distributed q_next_action must agree winner-for-winner; actionability
  * and the summary rates are pinned the same way.
  */
class ProgressSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, Sf)

  private case class Item(id: Long, project: String, status: String,
      priority: Long, nCriteria: Long, createdAt: java.sql.Timestamp,
      blockedBy: Long, unblocks: Long, actionable: Int)

  private lazy val ledger: Seq[Item] =
    Progress.itemLedger(spark, Sf).collect().toSeq.map { r =>
      Item(r.getAs[Long]("item_id"), r.getAs[String]("project"),
        r.getAs[String]("status"), r.getAs[Long]("priority"),
        r.getAs[Long]("n_criteria"), r.getAs[java.sql.Timestamp]("created_at"),
        r.getAs[Long]("blocked_by_count"), r.getAs[Long]("unblocks"),
        r.getAs[Int]("actionable"))
    }

  test("actionability is the reference rule: pending/in_progress with no blockers") {
    assert(ledger.nonEmpty)
    ledger.foreach { i =>
      val expect = (i.status == "pending" || i.status == "in_progress") && i.blockedBy == 0
      assert(i.actionable == (if (expect) 1 else 0), s"item ${i.id}")
    }
    // The synthesis must exercise both sides of the rule.
    assert(ledger.exists(_.actionable == 1) && ledger.exists(_.actionable == 0))
    assert(ledger.exists(i => i.status == "pending" && i.blockedBy > 0),
      "need at least one pending-but-blocked item or the blocker clause tests nothing")
  }

  test("q_next_action reproduces the four reference strategies, stable-sort tie-breaks included") {
    // tracker.py:306-333, transcribed: Python's sort is stable over
    // insertion order (ascending id), so each strategy's winner is the
    // min by (key, id).
    val act = ledger.filter(_.actionable == 1)
    val expect: Map[(String, String), Long] =
      act.groupBy(_.project).flatMap { case (p, items) =>
        Seq(
          (p, "priority") -> items.minBy(i => (-i.priority, i.id)).id,
          (p, "blocked_unblock") -> items.minBy(i => (-i.unblocks, i.id)).id,
          (p, "quick_win") -> items.minBy(i => (i.nCriteria, i.id)).id,
          (p, "fifo") -> items.minBy(i => (i.createdAt.getTime, i.id)).id)
      }
    val got = run("q_next_action").collect().map { r =>
      (r.getAs[String]("project"), r.getAs[String]("strategy")) -> r.getAs[Long]("item_id")
    }.toMap
    assert(got == expect)
    // Strategies must genuinely differ somewhere, or the pin is vacuous.
    assert(expect.groupBy(_._1._1).exists(_._2.values.toSet.size > 1),
      "every strategy picked the same item in every project - synthesis too uniform")
  }

  test("q_next_action argmax picks == the windowed formulation, bit for bit") {
    val agg = run("q_next_action")
    val win = ParityTwins.nextActionWindowed(spark, Sf)
    assert(agg.columns.toSeq == win.columns.toSeq)
    assert(agg.exceptAll(win).count() == 0 && win.exceptAll(agg).count() == 0,
      "the one-groupBy argmax picks must equal the four-window ranking exactly")
  }

  test("q_progress_summary rates match the reference formulas") {
    val rows = run("q_progress_summary").collect()
    assert(rows.length > 0)
    val byProject = ledger.groupBy(_.project)
    rows.foreach { r: Row =>
      val items = byProject(r.getAs[String]("project"))
      def c(s: String) = items.count(_.status == s).toLong
      assert(r.getAs[Long]("total") == items.size.toLong)
      assert(r.getAs[Long]("done") == c("done"))
      val done = c("done"); val failed = c("failed")
      val cr = math.rint(done.toDouble / items.size * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("completion_rate") - cr) < 1e-9)
      val sr = if (done + failed == 0) 0.0
        else math.rint(done.toDouble / (done + failed) * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("success_rate") - sr) < 1e-9)
    }
  }

  test("progress history: cumulative curve is monotone and lands on the summary totals") {
    val hist = run("q_progress_history").collect()
      .map(r => (r.getAs[String]("project"), r.getAs[Long]("day_us"),
        r.getAs[Long]("items_total"), r.getAs[Long]("items_done")))
    assert(hist.nonEmpty)
    hist.groupBy(_._1).foreach { case (p, rows) =>
      val ordered = rows.sortBy(_._2)
      // Cumulative totals never decrease, done never exceeds total.
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 >= a._3 && b._4 >= a._4, s"$p history not monotone")
        case _ =>
      }
      ordered.foreach(r => assert(r._4 <= r._3))
      // The last point IS the summary's (total, done) — one source of truth.
      val items = ledger.filter(_.project == p)
      assert(ordered.last._3 == items.size.toLong, s"$p final total")
      assert(ordered.last._4 == items.count(_.status == "done").toLong, s"$p final done")
    }
  }

  test("blocking degree comes from the edge frame, not status labels") {
    val out = run("q_work_items")
    // Every 13th id (>= 13) has at least one blocker; ids that are
    // neither 13- nor 26-multiples have none.
    assert(out.filter(col("item_id") % 13 === 0 && col("item_id") >= 13 &&
      col("blocked_by_count") < 1).count() == 0)
    assert(out.filter(col("item_id") % 13 =!= 0 && col("blocked_by_count") =!= 0).count() == 0)
    // unblocks totals must equal the edge count (every edge unblocks
    // exactly one item).
    val edgeCount = Progress.blockedByEdges(Progress.workItems(spark, Sf)).count()
    val unblockSum = out.agg(sum("unblocks")).head().getLong(0)
    assert(unblockSum == edgeCount)
  }

  test("edges are distinct blockers: both of a 26-multiple's edges differ") {
    // e1's offset is 1 + id % 7; e2's is 9 — never equal, so every
    // 26-multiple counts exactly 2 DISTINCT blockers (the old offset 5
    // collided at id % 7 = 4 and double-counted one blocker).
    val edges = Progress.blockedByEdges(Progress.workItems(spark, Sf))
    val dup = edges.groupBy("item_id", "blocker").count()
      .filter(col("count") > 1).count()
    assert(dup == 0, "duplicate (item, blocker) edge")
    val out = run("q_work_items")
    assert(out.filter(col("item_id") % 26 === 0 && col("item_id") >= 26 &&
      col("blocked_by_count") =!= 2).count() == 0,
      "every 26-multiple must have exactly 2 distinct blockers")
  }
}
