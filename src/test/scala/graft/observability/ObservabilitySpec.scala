package graft.observability

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end pin of the metrics surface: a real QueryExecutionListener
  * capturing real query executions, flushed to a real parquet side
  * table, rolled up by the same [[Metrics.rollup]] the oracle-checked
  * q_op_metrics runs — so the listener plumbing and the report query
  * are verified as ONE path, not two halves.
  */
class ObservabilitySpec extends SparkSpec {

  private def awaitRecords(sink: MetricsSink, op: String, n: Int): Unit = {
    // Listener callbacks post on the async listener bus; poll briefly.
    val deadline = System.nanoTime() + 10000000000L
    while (sink.snapshot().count(_.op == op) < n && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  test("a withOp label never outlives its call, even when threads leave out of order") {
    // Thread a enters, b enters, a leaves, b leaves: restoring each
    // call's prior label would leave a's label set after both returned.
    val aIn = new java.util.concurrent.CountDownLatch(1)
    val bIn = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val sink = new MetricsSink
    spark.listenerManager.register(sink)
    try {
      val a = pool.submit(() => Metrics.withOp(spark, "spec_thread_a") { aIn.countDown(); bIn.await(); "a" })
      aIn.await()
      pool.submit(() => Metrics.withOp(spark, "spec_thread_b") { bIn.countDown(); a.get() }).get()
      spark.range(10).collect()
      awaitRecords(sink, "collect", 1)
      assert(sink.snapshot().exists(_.op == "collect"), s"the unlabeled query was labeled: ${sink.snapshot()}")
    } finally {
      spark.listenerManager.unregister(sink)
      pool.shutdownNow(): Unit
    }
  }

  test("listener captures labeled ops with wall time and shuffle bytes; rollup reports them") {
    val sink = new MetricsSink
    spark.listenerManager.register(sink)
    try {
      Metrics.withOp(spark, "spec_shuffle_op") {
        spark.range(100000).withColumn("k", col("id") % 7)
          .groupBy("k").agg(sum("id")).collect()
      }
      Metrics.withOp(spark, "spec_narrow_op") {
        spark.range(1000).select(col("id") * 2).collect()
      }
      awaitRecords(sink, "spec_shuffle_op", 1)
      awaitRecords(sink, "spec_narrow_op", 1)
      val recs = sink.snapshot()
      val shuffleRec = recs.find(_.op == "spec_shuffle_op").get
      assert(shuffleRec.status == "ok")
      assert(shuffleRec.wall_ms >= 0)
      assert(shuffleRec.shuffle_bytes > 0, "a groupBy must report shuffle write bytes")
      val narrowRec = recs.find(_.op == "spec_narrow_op").get
      assert(narrowRec.shuffle_bytes == 0, "a narrow scan must not report shuffle bytes")

      // withOp restores the prior label: an unlabeled query after the
      // blocks must NOT inherit a spec label.
      spark.range(10).collect()
      awaitRecords(sink, "collect", 1)
      assert(sink.snapshot().forall(r =>
        !(r.op.startsWith("spec_") && r.op != "spec_shuffle_op" && r.op != "spec_narrow_op")))

      // Flush → side table → rollup: the q_op_metrics report over the
      // REAL capture.
      val dir = java.nio.file.Files.createTempDirectory("opmetrics").toString + "/ops"
      sink.flush(spark, dir)
      // flush drains with poll(), so records enqueued DURING the flush
      // (e.g. the flush's own parquet write) may land after it — only
      // the pre-flush spec records must be gone.
      assert(sink.snapshot().forall(r => !r.op.startsWith("spec_")),
        "flush must drain the buffered records")
      val table = spark.read.parquet(dir)
      val report = Metrics.rollup(table)
      assert(report.columns.toSeq == Seq("op", "calls", "ok_calls", "err_calls",
        "total_wall_ms", "avg_wall_ms", "p50_wall_ms", "max_wall_ms",
        "total_rows", "total_shuffle_bytes"))
      val row = report.filter(col("op") === "spec_shuffle_op").head()
      assert(row.getAs[Long]("calls") >= 1L && row.getAs[Long]("err_calls") == 0L)
      assert(row.getAs[Long]("total_shuffle_bytes") > 0L)
      // Second flush appends (history accumulates like the reference's
      // long-lived collector).
      Metrics.withOp(spark, "spec_shuffle_op") {
        spark.range(1000).withColumn("k", col("id") % 3).groupBy("k").count().collect()
      }
      awaitRecords(sink, "spec_shuffle_op", 1)
      sink.flush(spark, dir)
      val calls2 = Metrics.rollup(spark.read.parquet(dir))
        .filter(col("op") === "spec_shuffle_op").head().getAs[Long]("calls")
      assert(calls2 > row.getAs[Long]("calls"))
    } finally spark.listenerManager.unregister(sink)
  }

  test("pair-guard census surfaces as its own labeled op") {
    // The guard's volume estimate is a driver-blocking job at plan
    // time; it must be attributed to `pair_guard_census`, not to the
    // query body it protects, so bench deltas on guarded queries can
    // separate guard overhead from query cost.
    val sink = new MetricsSink
    spark.listenerManager.register(sink)
    // The session's signature state ([[graft.operators.TextAnalysisShared.DocSigs]])
    // may already hold this (session, dir)'s census from an earlier
    // spec — a hit runs no job, so nothing would surface. Attribution
    // is a property of the census JOB; force it to run by opting out of
    // the memos here.
    spark.conf.set("spark.graft.memo.enabled", "false")
    try {
      graft.SparkEntry.queries("q_dedup_minhash_lsh")(spark, Sf).collect()
      awaitRecords(sink, "pair_guard_census", 1)
      val rec = sink.snapshot().find(_.op == "pair_guard_census")
      assert(rec.nonEmpty, "guard census must appear under its own op label")
      assert(rec.get.status == "ok")
    } finally {
      spark.conf.unset("spark.graft.memo.enabled")
      spark.listenerManager.unregister(sink)
    }
  }
}
