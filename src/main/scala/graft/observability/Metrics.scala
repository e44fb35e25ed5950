package graft.observability

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Runtime metrics surface (reference: alma/observability/metrics.py:1-583):
  * the reference wraps every operation in counter/histogram calls on a
  * driver-side collector; the Spark-native analog is a
  * [[QueryExecutionListener]] — the engine already fires a callback per
  * completed query with its physical plan, so per-operation wall time,
  * output rows, and shuffle volume come from the plan's own SQL metrics
  * instead of hand-instrumented call sites.
  *
  * Usage:
  * {{{
  *   val sink = new MetricsSink
  *   spark.listenerManager.register(sink)
  *   Metrics.withOp(spark, "retrieve") { df.collect() }  // labeled
  *   sink.flush(spark, "/metrics/ops")                   // side table
  *   Metrics.rollup(spark.read.parquet("/metrics/ops"))  // the report
  * }}}
  *
  * One record per completed query: (op, status, wall_ms, rows,
  * shuffle_bytes, error). `op` is the label of the newest still-active
  * [[Metrics.withOp]] when the record is made, else the DataFrame action
  * name the listener receives — the analog of the reference's metric
  * label sets. That label is process-wide (`Metrics.currentOp`), and
  * `withOp` drains the listener bus before it leaves, so attribution is
  * exact for sequential pipelines only: a query that completes while
  * another thread's `withOp` is active carries that thread's label.
  * Listener callbacks are driver-side and O(plan size), so the sink
  * adds nothing to executor work at any corpus size; the buffer holds
  * one small record per QUERY (not per row) and `flush` drains it.
  */
final class MetricsSink extends QueryExecutionListener {

  private val buf = new ConcurrentLinkedQueue[MetricsSink.OpMetric]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    buf.add(MetricsSink.record(funcName, qe, durationNs, ok = true, error = null))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    buf.add(MetricsSink.record(funcName, qe, 0L, ok = false,
      error = String.valueOf(exception.getMessage).take(200)))

  /** Drain-free snapshot (specs read this). */
  def snapshot(): Seq[MetricsSink.OpMetric] = buf.asScala.toSeq

  def clear(): Unit = buf.clear()

  /** Persist the buffered records to the side table and clear the
    * buffer. Append mode: successive flushes accumulate history the
    * roll-up query reads, like the reference's get_all_metrics over a
    * long-lived collector. Drains with poll() — exactly the removed
    * records get written — because snapshot-then-clear would silently
    * drop any record the listener bus enqueues between the two calls
    * (queries completing concurrently with a flush). If the write
    * itself fails, the drained records are put back so a transient
    * sink error (full disk, flaky object store) defers history to the
    * next flush instead of losing it.
    */
  def flush(spark: SparkSession, path: String): Unit = {
    val rows = Iterator.continually(buf.poll()).takeWhile(_ != null).toSeq
    if (rows.nonEmpty) {
      import spark.implicits._
      try rows.toDF().coalesce(1).write.mode(SaveMode.Append).parquet(path)
      catch {
        case e: Throwable =>
          buf.addAll(rows.asJava)
          throw e
      }
    }
  }
}

object MetricsSink {

  /** One operation record. wall_ms is the listener-reported duration;
    * rows is the root plan's numOutputRows metric when the plan exposes
    * one (-1 when it doesn't — e.g. commands); shuffle_bytes sums every
    * exchange's shuffle-write metric in the tree.
    */
  final case class OpMetric(
      op: String,
      status: String,
      wall_ms: Long,
      rows: Long,
      shuffle_bytes: Long,
      error: String)

  /** Every node of the EXECUTED tree. `SparkPlan.collect` alone stops
    * at AQE boundaries — AdaptiveSparkPlanExec and the query stages it
    * materialized are leaf nodes whose real subtrees hang off
    * `executedPlan`/`plan`, so the walk descends through them (and
    * through exchange reuse) explicitly or every shuffle metric reads 0
    * under the default-on AQE.
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  private[observability] def record(funcName: String, qe: QueryExecution,
      durationNs: Long, ok: Boolean, error: String): OpMetric = {
    val op = Option(Metrics.currentOp).getOrElse(funcName)
    val nodes = allNodes(qe.executedPlan)
    val rows = nodes.iterator
      .flatMap(_.metrics.get("numOutputRows").map(_.value))
      .nextOption().getOrElse(-1L)
    val shuffle = nodes
      .map(_.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)).sum
    OpMetric(op, if (ok) "ok" else "error", durationNs / 1000000L, rows, shuffle,
      if (error == null) "" else error)
  }
}

object Metrics {

  /** The active [[withOp]] frames, oldest first. QueryExecutionListener
    * callbacks arrive on the listener-bus thread, where the submitting
    * thread's local properties are invisible — so the label lives in
    * this process-wide register and [[withOp]] drains the bus before
    * leaving it, which makes attribution exact for the
    * sequential-pipeline case the reference instruments. Concurrent
    * pipelines wanting independent labels need separate processes.
    */
  private val frames = scala.collection.mutable.ArrayBuffer.empty[(AnyRef, String)]

  /** The newest active frame's label, or null outside any [[withOp]]. */
  private[observability] def currentOp: String =
    frames.synchronized(frames.lastOption.map(_._2).orNull)

  /** Label every query completing inside `body` with `op` — the analog
    * of the reference's `Timer(name, labels)` context manager
    * (metrics.py:291-321). Each call removes exactly its own frame, so
    * threads may leave in any order and no label outlives its call.
    */
  def withOp[A](spark: SparkSession, op: String)(body: => A): A = {
    val frame = (new AnyRef, op)
    frames.synchronized(frames += frame)
    try body finally {
      // The SQLExecutionEnd events for everything `body` ran are posted
      // by now; wait for delivery so the label can't leak onto a later
      // unlabeled query (or vice versa).
      org.apache.spark.graft.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      frames.synchronized(frames -= frame)
    }
  }

  /** The roll-up report over an op-metrics frame (the reference's
    * get_histogram_stats + get_counter surface as one query): per op —
    * call counts by status, wall-time sum/mean/median/max, row and
    * shuffle totals. Median is the exact percentile (bounded: one row
    * per recorded CALL, not per data row).
    */
  def rollup(metrics: DataFrame): DataFrame =
    metrics.groupBy("op")
      .agg(
        count(lit(1)).as("calls"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("ok_calls"),
        sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("err_calls"),
        sum("wall_ms").as("total_wall_ms"),
        round(avg("wall_ms"), 6).as("avg_wall_ms"),
        round(expr("percentile(wall_ms, 0.5)"), 6).as("p50_wall_ms"),
        max("wall_ms").as("max_wall_ms"),
        sum(when(col("rows") > 0, col("rows")).otherwise(0L)).as("total_rows"),
        sum("shuffle_bytes").as("total_shuffle_bytes"))
      .orderBy("op")
}
