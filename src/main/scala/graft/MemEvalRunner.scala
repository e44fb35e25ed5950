package graft

import graft.functions.{EmbeddingProvider, HashEmbeddingProvider, VectorFunctions}
import graft.sources.Ingestion
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Standalone benchmark runner — the LongMemEval-shaped evaluation as
  * ONE Spark job (reference: benchmarks/longmemeval/runner.py:115-455
  * runs a per-question Python loop; here the whole sweep is a single
  * plan: load questions+haystacks (S9) → write-time embed (O9, V9) →
  * batch kNN (broadcast question vectors + Window top-k) → IR metric
  * aggregations (A8)).
  *
  * Usage: runMain graft.MemEvalRunner <questions.json> [k]
  * Prints one JSON line with Recall@k, MRR, and NDCG@k.
  */
object MemEvalRunner {

  def main(args: Array[String]): Unit = {
    val path = args(0)
    val k = if (args.length > 1) args(1).toInt else 5
    val spark = Entrypoint.session()
    // Provider selection (V9): SPARK_GRAFT_PROVIDER=w2v trains the MLlib
    // Word2Vec provider on the haystack corpus before the sweep.
    val (provider, providerName) =
      Entrypoint.provider(Ingestion.loadBenchmarkJson(spark, path), "session_text")
    val m = run(spark, path, k, provider)
    // ONE machine-readable line (overall + per-type), sorted keys, so
    // tools/bench_diff.py can diff IR metrics across rounds mechanically.
    println(jsonLine(m, k, providerName))
    // Human-readable per-type breakdown, matching the reference's report
    // table (metrics.py:215-265 / BASELINE.md "Per-type R@5" rows).
    m.perType.toSeq.sortBy(_._1).foreach { case (qtype, t) =>
      println(f"per-type $qtype%-28s R@$k=${t.recall}%.3f MRR=${t.mrr}%.3f NDCG@$k=${t.ndcg}%.3f (n=${t.n})")
    }
    spark.stop()
  }

  /** The metrics as one JSON line; per-type keys sorted for stable diffs. */
  def jsonLine(m: Metrics, k: Int, providerName: String): String = {
    def block(t: Metrics) =
      s"""{"recall":${t.recall},"mrr":${t.mrr},"ndcg":${t.ndcg},"n":${t.n}}"""
    val perType = m.perType.toSeq.sortBy(_._1)
      .map { case (qtype, t) => s""""$qtype":${block(t)}""" }
      .mkString(",")
    s"""{"metric":"longmemeval","k":$k,"provider":"$providerName","recall_at_k":${m.recall},"mrr":${m.mrr},"ndcg_at_k":${m.ndcg},"questions":${m.n},"per_type":{$perType}}"""
  }

  final case class Metrics(recall: Double, mrr: Double, ndcg: Double, n: Long,
      perType: Map[String, Metrics] = Map.empty)

  def run(spark: SparkSession, path: String, k: Int,
      provider: EmbeddingProvider = HashEmbeddingProvider): Metrics = {
    import spark.implicits._
    val corpus = Ingestion.loadBenchmarkJson(spark, path).cache()
    // Executor-side batch embedding through the provider seam (V9): a
    // real model impl amortizes its setup across each batch.
    val embedded = corpus
      .select(col("question_id"), col("answer_session_id"), col("session_id"), col("session_text"))
      .as[(Long, Long, Long, String)]
      .mapPartitions(_.grouped(256).flatMap { batch =>
        val vecs = provider.encodeBatch(batch.iterator.map(_._4)).toArray
        batch.iterator.zipWithIndex.map { case ((qid, ans, sid, _), i) => (qid, ans, sid, vecs(i)) }
      })
      .toDF("question_id", "answer_session_id", "session_id", "embedding")
    val questions = corpus.select(col("question_id"), col("question")).distinct()
      .as[(Long, String)]
      .mapPartitions(_.grouped(256).flatMap { batch =>
        val vecs = provider.encodeBatch(batch.iterator.map(_._2)).toArray
        batch.iterator.zipWithIndex.map { case ((qid, _), i) => (qid, vecs(i)) }
      })
      .toDF("q_id", "q_vec")
    val qtypes = corpus.select(col("question_id").as("t_id"), col("question_type")).distinct()
    val w = Window.partitionBy("question_id").orderBy(col("sim").desc, col("session_id"))
    // ONE job: per-question hit/first-hit, rolled up per question_type as
    // SUMS (not averages) — the driver derives both the per-type and the
    // exact overall averages from the handful of per-type rows, so the
    // breakdown costs no extra Spark job and no float drift.
    val perTypeRows = embedded
      .join(broadcast(questions), col("question_id") === col("q_id"))
      .withColumn("sim", VectorFunctions.cosine(col("embedding"), col("q_vec")))
      .withColumn("rnk", row_number().over(w))
      .withColumn("rel", when(col("session_id") === col("answer_session_id"), 1L).otherwise(0L))
      .groupBy("question_id")
      .agg(
        // hit indicator (capped at 1 so duplicate relevant rows cannot
        // push recall past 1.0); a never-retrieved answer scores MRR 0.
        least(sum(when(col("rnk") <= k, col("rel")).otherwise(0L)), lit(1L)).as("hit"),
        // first_hit is NOT cut at k on purpose: the reference's MRR is
        // full reciprocal rank over the whole ranked list
        // (metrics.py:165-184), while recall/NDCG are @k — parity with
        // the published baseline beats internal consistency here.
        min(when(col("rel") === 1L, col("rnk"))).as("first_hit"))
      .join(broadcast(qtypes), col("question_id") === col("t_id"))
      .groupBy("question_type")
      .agg(
        sum(col("hit").cast("double")).as("hit_sum"),
        sum(coalesce(lit(1.0) / col("first_hit"), lit(0.0))).as("mrr_sum"),
        // NDCG@k, single relevant session per question: ideal DCG is
        // 1/log2(2) = 1, so ndcg = 1/log2(first_hit+1) when the answer
        // lands inside the cutoff, else 0 (metrics.py:46-55).
        sum(when(col("first_hit") <= k,
          lit(1.0) / log2(col("first_hit").cast("double") + lit(1.0))).otherwise(lit(0.0))).as("ndcg_sum"),
        count(lit(1)).as("n"))
      .collect()
    corpus.unpersist()
    val perType = perTypeRows.map { r =>
      val n = r.getLong(4)
      r.getString(0) -> Metrics(r.getDouble(1) / n, r.getDouble(2) / n, r.getDouble(3) / n, n)
    }.toMap
    val n = perTypeRows.map(_.getLong(4)).sum
    Metrics(
      perTypeRows.map(_.getDouble(1)).sum / n,
      perTypeRows.map(_.getDouble(2)).sum / n,
      perTypeRows.map(_.getDouble(3)).sum / n,
      n, perType)
  }
}
