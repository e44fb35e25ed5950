package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** `q_bpe_train` / `q_bpe_compression`: one distributed vocabulary pass
  * per session and table state, then the driver trainer — no build-time
  * checkpoints, and the exhaustion semantics of the distributed plan
  * they replaced.
  */
class TokenizerTrainSpec extends SparkSpec {

  private def run(name: String, dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def documents(texts: String*): String = {
    val dir = Files.createTempDirectory("bpedocs").toString
    spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** SQL execution ids of the jobs started while `body` runs. */
  private def jobExecutions(body: => Unit): Seq[String] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        ids.add(String.valueOf(js.properties.getProperty("spark.sql.execution.id"))): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    ids.toArray(Array.empty[String]).toSeq
  }

  test("a warm build runs only the vocabulary pass, and neither plan holds a checkpointed RDD") {
    Seq("q_bpe_train", "q_bpe_compression").foreach { q =>
      // A fresh session: its vocabulary memo is cold, its schema memo is
      // warmed by the load below, so the vocabulary pass is all it runs.
      val fresh = spark.newSession()
      graft.io.Tables.documents(fresh, Sf): Unit
      var df: DataFrame = null
      val jobs = jobExecutions { df = SparkEntry.queries(q)(fresh, Sf) }
      assert(jobs.size <= 3, s"$q: a warm build launched ${jobs.size} jobs")
      assert(jobs.distinct.size == 1 && jobs.head != "null",
        s"$q: build jobs must all be the one vocabulary query, saw executions $jobs")
      val rdds = df.queryExecution.logical.collect { case r: LogicalRDD => r }
      assert(rdds.isEmpty, s"$q: checkpointed RDDs in the plan:\n${df.queryExecution.logical}")
    }
  }

  test("both queries share one vocabulary pass per table state; with memos off each still builds") {
    val dir = documents("ab ab c", "abc bc")
    val jobs = new graft.JobCounter
    spark.sparkContext.addSparkListener(jobs)
    try {
      val train = run("q_bpe_train", dir).collect().toSeq
      val built = jobs.during(run("q_bpe_compression", dir): Unit)
      assert(built == 0, s"q_bpe_compression re-ran the vocabulary pass: $built jobs")
      spark.conf.set("spark.graft.memo.enabled", "false")
      try {
        assert(jobs.during(run("q_bpe_compression", dir): Unit) > 0,
          "with memos off the vocabulary pass must run again")
        assert(run("q_bpe_train", dir).collect().toSeq == train)
      } finally spark.conf.unset("spark.graft.memo.enabled")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  // Expected rows recorded from the distributed trainer (seven
  // localCheckpoints, crossJoin with the 1-row argmax) this driver
  // trainer replaced: an exhausted round emits no merge, and every
  // later corpus total is NULL.
  test("exhaustion: single-character words learn no merge, every later total is NULL") {
    val dir = documents("a b c a", "b  c")
    assert(run("q_bpe_train", dir).collect().isEmpty)
    assert(run("q_bpe_compression", dir).collect().toSeq ==
      Seq(Row(0, 6L), Row(1, null), Row(2, null), Row(3, null)))
  }

  test("exhaustion after one merge: no later rounds, NULL totals from the next round on") {
    val dir = documents("ab x", "ab y")
    assert(run("q_bpe_train", dir).collect().toSeq == Seq(Row(1, "a", "b", 2L)))
    assert(run("q_bpe_compression", dir).collect().toSeq ==
      Seq(Row(0, 6L), Row(1, 4L), Row(2, null), Row(3, null)))
  }

  test("output schemas keep the distributed plan's names and types") {
    assert(run("q_bpe_train", Sf).schema.simpleString ==
      "struct<round:int,lhs:string,rhs:string,pair_cnt:bigint>")
    assert(run("q_bpe_compression", Sf).schema.simpleString ==
      "struct<round:int,total_tokens:bigint>")
  }
}
