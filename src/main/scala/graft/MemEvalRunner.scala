package graft

import graft.functions.{EmbeddingProvider, HashEmbeddingProvider, VectorFunctions}
import graft.retrieval.FirstHit
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
    // Read three times below; a lazy local checkpoint scans the JSON
    // once and leaves nothing to release if the collect fails.
    val corpus = Ingestion.loadBenchmarkJson(spark, path).localCheckpoint(false)
    // Executor-side batch embedding through the provider seam (V9): a
    // real model impl amortizes its setup across each batch.
    val embedded = EmbeddingProvider.embedColumn(
      corpus.select(col("question_id"), col("answer_session_id"), col("session_id"), col("session_text")),
      "session_text", "embedding", provider).drop("session_text")
    val questions = EmbeddingProvider.embedColumn(
      corpus.select(col("question_id").as("q_id"), col("question")).distinct(),
      "question", "q_vec", provider).drop("question")
    val qtypes = corpus.select(col("question_id").as("t_id"), col("question_type")).distinct()
    val w = Window.partitionBy("question_id").orderBy(col("sim").desc, col("session_id"))
    // ONE job: per-question first hit, rolled up per question_type as
    // SUMS (not averages) — the driver derives both the per-type and the
    // exact overall averages from the handful of per-type rows, so the
    // breakdown costs no extra Spark job and no float drift.
    val perTypeRows = embedded
      .join(broadcast(questions), col("question_id") === col("q_id"))
      .withColumn("sim", VectorFunctions.cosine(col("embedding"), col("q_vec")))
      .withColumn("rnk", row_number().over(w))
      .withColumn("rel", when(col("session_id") === col("answer_session_id"), 1L).otherwise(0L))
      .groupBy("question_id")
      // first_hit is NOT cut at k on purpose: the reference's MRR is
      // full reciprocal rank over the whole ranked list
      // (metrics.py:165-184), while recall/NDCG are @k — parity with
      // the published baseline beats internal consistency here.
      .agg(FirstHit.of(col("rel"), col("rnk")).as("first_hit"))
      .join(broadcast(qtypes), col("question_id") === col("t_id"))
      .groupBy("question_type")
      .agg(
        sum(FirstHit.hitAt(col("first_hit"), k)).as("hit_sum"),
        sum(FirstHit.reciprocalRank(col("first_hit"))).as("mrr_sum"),
        sum(FirstHit.ndcgAt(col("first_hit"), k)).as("ndcg_sum"),
        count(lit(1)).as("n"))
      .collect()
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
