package graft.operators

import graft.Q
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Progress-tracker query surface (reference: alma/progress/tracker.py:1-607,
  * alma/progress/types.py:1-250): work items with status / priority /
  * blocking relationships, the four next-item selection strategies, and
  * the per-project progress summary.
  *
  * The reference tracks items in a driver-side dict and answers these
  * questions with Python loops; here the same contracts are one
  * DataFrame plan each over a work-item frame derived deterministically
  * from `events` (the same synthesis idiom as Contracts/Scoring), so a
  * 10-million-item tracker costs one scan + one edge aggregation
  * instead of a driver loop:
  *
  *   - `q_work_items` — the item ledger with blocking degree
  *     (blocked_by/unblocks counts from the dependency edge frame) and
  *     the reference's actionability rule
  *     (tracker.py:124-127 `is_actionable`: status ∈ {pending,
  *     in_progress} AND no blockers);
  *   - `q_next_action` — `get_next_item` (tracker.py:287-334) for ALL
  *     four strategies × projects in one pass: priority (highest
  *     first), blocked_unblock (max items unblocked), quick_win
  *     (fewest acceptance criteria), fifo (earliest created). The
  *     reference's Python sorts are stable over dict insertion order =
  *     creation order = ascending id, so every strategy tie-breaks by
  *     item_id ascending — pinned identically in Spark, oracle, and
  *     `ProgressSpec`;
  *   - `q_progress_summary` — `get_progress_summary`
  *     (tracker.py:338-396): status counts, completion_rate,
  *     success_rate = done/(done+failed), time totals.
  *
  * Scale shape: the edge frame is derived narrow (item_id, blocker);
  * blocking degrees are two linear group-counts joined back on item_id
  * — no self-join materializes item pairs, and the strategy windows
  * partition by project (bounded groups), never a global sort.
  */
object Progress {

  /** Deterministic work-item synthesis shared by all three queries
    * (and mirrored in each oracle CTE):
    * item_id=event_id, project = user_id%7, nullable agent (user_id%4==0
    * ⇒ unassigned, as the reference allows), type from event_type,
    * priority 0-100, status from event_id%10 (3 pending / 2 in_progress
    * / 1 blocked / 1 review / 2 done / 1 failed), acceptance-criteria
    * count event_id%6, created_at = ts.
    */
  private[operators] def workItems(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").as("item_id"),
      concat(lit("proj_"), col("user_id") % 7).as("project"),
      when(col("user_id") % 4 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("agent_"), col("user_id") % 5)).as("agent"),
      when(col("event_type") === "error", lit("bug"))
        .when(col("event_type") === "purchase", lit("feature"))
        .when(col("event_type") === "view", lit("research_question"))
        .otherwise(lit("task")).as("item_type"),
      ((col("event_id") * 37) % 101).as("priority"),
      when(col("event_id") % 10 <= 2, lit("pending"))
        .when(col("event_id") % 10 <= 4, lit("in_progress"))
        .when(col("event_id") % 10 === 5, lit("blocked"))
        .when(col("event_id") % 10 === 6, lit("review"))
        .when(col("event_id") % 10 <= 8, lit("done"))
        .otherwise(lit("failed")).as("status"),
      (col("event_id") % 6).as("n_criteria"),
      ((col("event_id") * 131) % 7200000).as("time_spent_ms"),
      col("ts").as("created_at"))

  private val workItemsSql =
    """items AS (
      |  SELECT event_id AS item_id,
      |    'proj_' || (user_id % 7) AS project,
      |    CASE WHEN user_id % 4 = 0 THEN NULL
      |         ELSE 'agent_' || (user_id % 5) END AS agent,
      |    CASE event_type WHEN 'error' THEN 'bug' WHEN 'purchase' THEN 'feature'
      |         WHEN 'view' THEN 'research_question' ELSE 'task' END AS item_type,
      |    (event_id * 37) % 101 AS priority,
      |    CASE WHEN event_id % 10 <= 2 THEN 'pending'
      |         WHEN event_id % 10 <= 4 THEN 'in_progress'
      |         WHEN event_id % 10 = 5 THEN 'blocked'
      |         WHEN event_id % 10 = 6 THEN 'review'
      |         WHEN event_id % 10 <= 8 THEN 'done'
      |         ELSE 'failed' END AS status,
      |    event_id % 6 AS n_criteria,
      |    (event_id * 131) % 7200000 AS time_spent_ms,
      |    ts AS created_at
      |  FROM events)""".stripMargin

  /** Dependency edges (item_id blocked_by blocker): every 13th item
    * blocks on a deterministic earlier item, every 26th on a second one
    * — targets stay inside the contiguous id domain at any SF. The
    * second edge's offset is 9: e1's offset is 1 + id % 7 ∈ [1, 8], so
    * the two blockers can never coincide and blocked_by_count always
    * counts DISTINCT blockers (an earlier offset of 5 collided with e1
    * whenever id % 7 = 4 — ids 130, 312, 494, … double-counted one
    * blocker).
    */
  private[operators] def blockedByEdges(items: DataFrame): DataFrame = {
    val e1 = items.filter(col("item_id") % 13 === 0 && col("item_id") >= 13)
      .select(col("item_id"), (col("item_id") - 1 - (col("item_id") % 7)).as("blocker"))
    val e2 = items.filter(col("item_id") % 26 === 0 && col("item_id") >= 26)
      .select(col("item_id"), (col("item_id") - 9).as("blocker"))
    e1.unionByName(e2)
  }

  private val edgesSql =
    """edges AS (
      |  SELECT item_id, item_id - 1 - (item_id % 7) AS blocker
      |  FROM items WHERE item_id % 13 = 0 AND item_id >= 13
      |  UNION ALL
      |  SELECT item_id, item_id - 9 AS blocker
      |  FROM items WHERE item_id % 26 = 0 AND item_id >= 26)""".stripMargin

  /** Items + blocking degree + actionability: the ledger every other
    * progress query (and the reference's get_* filters) reads off.
    */
  private[operators] def itemLedger(s: SparkSession, dir: String): DataFrame = {
    val items = workItems(s, dir)
    val edges = blockedByEdges(items)
    // r16: both degree counts come from ONE aggregate over the edge
    // list — each edge contributes a 'b' row under its item_id and a
    // 'u' row under its blocker, and one (node)-keyed aggregate counts
    // both roles (the old shape aggregated edges twice on different
    // keys and left-joined items twice, so the plan carried four edge
    // scans and two shuffle joins; now two and one). Counts are
    // identical: sum over role flags ≡ count per original grouping,
    // with absent nodes 0-filled exactly as before.
    val deg = edges
      .select(explode(array(
        struct(col("item_id").as("k"), lit(1L).as("b"), lit(0L).as("u")),
        struct(col("blocker").as("k"), lit(0L).as("b"), lit(1L).as("u")))).as("e"))
      .groupBy(col("e.k").as("item_id"))
      .agg(sum(col("e.b")).as("blocked_by_count"), sum(col("e.u")).as("unblocks"))
    items
      .join(deg, Seq("item_id"), "left")
      .na.fill(0L, Seq("blocked_by_count", "unblocks"))
      .withColumn("actionable",
        (col("status").isin("pending", "in_progress") &&
          col("blocked_by_count") === 0).cast("int"))
  }

  private val ledgerSql =
    s"""$workItemsSql,
       |$edgesSql,
       |ledger AS (
       |  SELECT i.*,
       |    coalesce(b.c, 0)::BIGINT AS blocked_by_count,
       |    coalesce(u.c, 0)::BIGINT AS unblocks,
       |    (i.status IN ('pending','in_progress')
       |      AND coalesce(b.c, 0) = 0)::INT AS actionable
       |  FROM items i
       |  LEFT JOIN (SELECT item_id, count(*) AS c FROM edges GROUP BY 1) b
       |    ON b.item_id = i.item_id
       |  LEFT JOIN (SELECT blocker, count(*) AS c FROM edges GROUP BY 1) u
       |    ON u.blocker = i.item_id)""".stripMargin

  private def workItemsQuery(s: SparkSession, dir: String): DataFrame =
    itemLedger(s, dir)
      .select("item_id", "project", "agent", "item_type", "priority", "status",
        "n_criteria", "blocked_by_count", "unblocks", "actionable")
      .orderBy("item_id")

  private val workItemsQuerySql =
    s"""WITH $ledgerSql
       |SELECT item_id, project, agent, item_type, priority, status,
       |  n_criteria, blocked_by_count, unblocks, actionable
       |FROM ledger ORDER BY item_id""".stripMargin

  /** All four selection strategies at once: one actionable frame, four
    * project-partitioned window ranks (same shuffle key, so the four
    * sorts share one exchange), unpivot the winners.
    */
  private def nextAction(s: SparkSession, dir: String): DataFrame = {
    // Four "top item per project" strategies. Ranking with four
    // row_number windows partitioned by project meant four full sorts
    // of the actionable set squeezed into 7 partitions (one per
    // project) — at ×100 the windows, not the ledger, were the cost
    // (9.8 s isolated). rk == 1 is just an argmax/argmin, so ONE
    // groupBy computes all four winners with map-side partial
    // aggregation and an exchange of 7 rows. Each pick key ends in the
    // unique item_id (negated where the strategy tie-breaks ascending
    // under a max), so every winner is deterministic and IDENTICAL to
    // the row_number formulation — `ProgressSpec` pins agg == windowed
    // on the real corpus; the oracle still replays the windows.
    val act = itemLedger(s, dir).filter(col("actionable") === 1)
    val payload = struct(col("item_id"), col("priority"), col("unblocks"), col("n_criteria"))
    act.groupBy("project").agg(
        max_by(payload, struct(col("priority"), -col("item_id"))).as("p_priority"),
        max_by(payload, struct(col("unblocks"), -col("item_id"))).as("p_blocked_unblock"),
        min_by(payload, struct(col("n_criteria"), col("item_id"))).as("p_quick_win"),
        min_by(payload, struct(col("created_at"), col("item_id"))).as("p_fifo"))
      .select(col("project"),
        expr("""stack(4,
          'priority', p_priority,
          'blocked_unblock', p_blocked_unblock,
          'quick_win', p_quick_win,
          'fifo', p_fifo) AS (strategy, pick)"""))
      .select(col("project"), col("strategy"),
        col("pick.item_id").as("item_id"), col("pick.priority").as("priority"),
        col("pick.unblocks").as("unblocks"), col("pick.n_criteria").as("n_criteria"))
      .orderBy("project", "strategy")
  }

  private val nextActionSql =
    s"""WITH $ledgerSql,
       |act AS (SELECT * FROM ledger WHERE actionable = 1),
       |ranked AS (
       |  SELECT project, item_id, priority, unblocks, n_criteria,
       |    row_number() OVER (PARTITION BY project ORDER BY priority DESC, item_id) AS rk_priority,
       |    row_number() OVER (PARTITION BY project ORDER BY unblocks DESC, item_id) AS rk_blocked_unblock,
       |    row_number() OVER (PARTITION BY project ORDER BY n_criteria ASC, item_id) AS rk_quick_win,
       |    row_number() OVER (PARTITION BY project ORDER BY created_at ASC, item_id) AS rk_fifo
       |  FROM act),
       |unp AS (
       |  SELECT project, 'priority' AS strategy, item_id, priority, unblocks, n_criteria
       |  FROM ranked WHERE rk_priority = 1
       |  UNION ALL
       |  SELECT project, 'blocked_unblock', item_id, priority, unblocks, n_criteria
       |  FROM ranked WHERE rk_blocked_unblock = 1
       |  UNION ALL
       |  SELECT project, 'quick_win', item_id, priority, unblocks, n_criteria
       |  FROM ranked WHERE rk_quick_win = 1
       |  UNION ALL
       |  SELECT project, 'fifo', item_id, priority, unblocks, n_criteria
       |  FROM ranked WHERE rk_fifo = 1)
       |SELECT * FROM unp ORDER BY project, strategy""".stripMargin

  /** Per-project get_progress_summary: status counts + rates + time.
    * Rates rounded at 6 in both engines; avg time is per DONE item as
    * the reference computes it (tracker.py:360-363).
    */
  private def progressSummary(s: SparkSession, dir: String): DataFrame = {
    def cnt(status: String) =
      sum(when(col("status") === status, 1L).otherwise(0L)).as(status)
    workItems(s, dir).groupBy("project")
      .agg(count(lit(1)).as("total"),
        cnt("done"), cnt("in_progress"), cnt("blocked"), cnt("pending"),
        cnt("failed"),
        sum("time_spent_ms").as("total_time_ms"))
      .withColumn("completion_rate", round(col("done") / col("total"), 6))
      .withColumn("success_rate",
        when(col("done") + col("failed") === 0, lit(0.0))
          .otherwise(round(col("done") / (col("done") + col("failed")), 6)))
      .withColumn("avg_time_per_item_ms",
        when(col("done") === 0, lit(0.0))
          .otherwise(round(col("total_time_ms") / col("done"), 6)))
      .orderBy("project")
  }

  private val progressSummarySql =
    s"""WITH $workItemsSql
       |SELECT project, count(*)::BIGINT AS total,
       |  sum((status = 'done')::INT)::BIGINT AS done,
       |  sum((status = 'in_progress')::INT)::BIGINT AS in_progress,
       |  sum((status = 'blocked')::INT)::BIGINT AS blocked,
       |  sum((status = 'pending')::INT)::BIGINT AS pending,
       |  sum((status = 'failed')::INT)::BIGINT AS failed,
       |  sum(time_spent_ms)::BIGINT AS total_time_ms,
       |  round(sum((status = 'done')::INT)::DOUBLE / count(*), 6) AS completion_rate,
       |  CASE WHEN sum((status IN ('done','failed'))::INT) = 0 THEN 0.0
       |       ELSE round(sum((status = 'done')::INT)::DOUBLE
       |                  / sum((status IN ('done','failed'))::INT), 6) END AS success_rate,
       |  CASE WHEN sum((status = 'done')::INT) = 0 THEN 0.0
       |       ELSE round(sum(time_spent_ms)::DOUBLE
       |                  / sum((status = 'done')::INT), 6) END AS avg_time_per_item_ms
       |FROM items GROUP BY project ORDER BY project""".stripMargin

  /** Progress history (tracker.py:398-453 log_progress /
    * get_progress_history): the reference STORES a snapshot row per
    * session and replays the stored list; the engine reconstructs the
    * same curve from the item timestamps instead — per (project, day),
    * the day's intake and the cumulative totals/completion rate, one
    * grouped aggregate plus a project-partitioned running-sum window.
    * (Items count toward the day they were created; status is the
    * current one, which is exactly what a stored snapshot taken today
    * would also report for past items.)
    */
  private def progressHistory(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("project").orderBy("day_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    workItems(s, dir)
      .groupBy(col("project"),
        unix_micros(date_trunc("day", col("created_at"))).as("day_us"))
      .agg(count(lit(1)).as("created"),
        sum(when(col("status") === "done", 1L).otherwise(0L)).as("done_created"))
      .withColumn("items_total", sum("created").over(w))
      .withColumn("items_done", sum("done_created").over(w))
      .withColumn("completion_rate",
        round(col("items_done") / col("items_total"), 6))
      .orderBy("project", "day_us")
  }

  private val progressHistorySql =
    s"""WITH $workItemsSql,
       |byday AS (
       |  SELECT project, epoch_us(date_trunc('day', created_at)) AS day_us,
       |    count(*)::BIGINT AS created,
       |    sum((status = 'done')::INT)::BIGINT AS done_created
       |  FROM items GROUP BY 1, 2)
       |SELECT project, day_us, created, done_created,
       |  sum(created) OVER w::BIGINT AS items_total,
       |  sum(done_created) OVER w::BIGINT AS items_done,
       |  round((sum(done_created) OVER w)::DOUBLE / (sum(created) OVER w), 6)
       |    AS completion_rate
       |FROM byday
       |WINDOW w AS (PARTITION BY project ORDER BY day_us
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY project, day_us""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_work_items", workItemsQuery, Some(workItemsQuerySql)),
    Q("q_next_action", nextAction, Some(nextActionSql)),
    Q("q_progress_summary", progressSummary, Some(progressSummarySql)),
    Q("q_progress_history", progressHistory, Some(progressHistorySql)))
}
