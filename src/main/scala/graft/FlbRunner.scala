package graft

import graft.functions.{EmbeddingProvider, HashEmbeddingProvider, VectorFunctions}
import graft.io.ArtifactWriter
import graft.io.ArtifactWriter.r6
import graft.retrieval.FirstHit
import graft.sources.Ingestion
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feedback Learning Benchmark (FLB) — the reference's closed-loop
  * proof that recorded USED/IGNORED feedback improves later retrieval
  * (reference: benchmarks/feedback_learning/runner.py:1-676 +
  * simulator.py:1-129; published baseline rows in BASELINE.md: oracle
  * simulator ΔR@5 +0.060 / +0.202 / +0.332 after 3 rounds at
  * w = 0.05 / 0.15 / 0.30).
  *
  * Flow, re-expressed Spark-first:
  *   1. ingest every unique session into ONE shared corpus (the
  *      reference's single persistent DB — retrieval per question
  *      searches ALL sessions, not its own 50-session haystack, which
  *      is why baseline R@5 here is far below the LongMemEval run)
  *   2. per round: blend similarity with accumulated feedback
  *      (`(1-w)·sim + w·(fb+1)/2`, items WITHOUT feedback keep their
  *      raw sim — feedback.py:199-229), rank per question, measure
  *      R@5 / MRR / NDCG@5
  *   3. on every round but the last, simulate agent feedback on the
  *      top-`topK` list and fold it into the per-session summary
  *      (use/ignore counts → score in [-1, 1], types.py:399-420)
  *
  * The expensive part — corpus × questions cosine — is computed ONCE
  * and cached; a round is then a broadcast join against the
  * session-keyed feedback summary plus a per-question top-k. The
  * reference re-queries FAISS per question per round; here round cost
  * is independent of embedding dimension entirely.
  *
  * Simulator determinism: the reference threads a Python
  * `random.Random(seed)` through the question loop; a distributed run
  * cannot depend on visit order, so draws are hash-uniforms keyed by
  * (seed, round, question, session) — same modes and rates
  * (oracle / realistic 80 %+10 % / noisy 50-50), same shape, and
  * bit-reproducible across runs, partitionings, and machine counts.
  *
  * Usage: runMain graft.FlbRunner <data.json> [mode] [rounds] [w1,w2,...]
  */
object FlbRunner {

  final case class RoundMetrics(round: Int, r5: Double, mrr: Double,
      ndcg5: Double, n: Long, timeS: Double)

  final case class WeightRun(weight: Double, rounds: Seq[RoundMetrics]) {
    def deltaR5: Double = rounds.last.r5 - rounds.head.r5
    def deltaMrr: Double = rounds.last.mrr - rounds.head.mrr
    def deltaNdcg5: Double = rounds.last.ndcg5 - rounds.head.ndcg5
  }

  def main(args: Array[String]): Unit = {
    val path = args(0)
    val mode = if (args.length > 1) args(1) else "oracle"
    val rounds = if (args.length > 2) args(2).toInt else 3
    val weights = if (args.length > 3) args(3).split(',').map(_.toDouble).toSeq
      else Seq(0.05, 0.15, 0.30)
    val seed = 42
    val spark = Entrypoint.session()
    val (provider, providerName) =
      Entrypoint.provider(Ingestion.loadBenchmarkJson(spark, path), "session_text")
    val runs = weights.map(w =>
      w -> run(spark, path, mode = mode, rounds = rounds, weight = w,
        seed = seed, provider = provider))
    val json = jsonLine(runs, mode, seed, providerName)
    println(json)
    ArtifactWriter.publish("flb",
      sys.env.getOrElse("SPARK_GRAFT_FLB_OUT", "bench/latest_flb.json"), json)
    spark.stop()
  }

  def jsonLine(runs: Seq[(Double, WeightRun)], mode: String, seed: Int,
      providerName: String): String = {
    val wr = runs.map { case (w, run) =>
      val rds = run.rounds.map(m =>
        s"""{"round":${m.round},"recall_at_5":${r6(m.r5)},"mrr":${r6(m.mrr)},"ndcg_at_5":${r6(m.ndcg5)},"n":${m.n},"time_s":${r6(m.timeS)}}""")
        .mkString("[", ",", "]")
      s""""$w":{"rounds":$rds,"delta_r5":${r6(run.deltaR5)},"delta_mrr":${r6(run.deltaMrr)},"delta_ndcg5":${r6(run.deltaNdcg5)}}"""
    }.mkString(",")
    s"""{"metric":"flb","mode":"$mode","seed":$seed,"provider":"$providerName","weight_runs":{$wr}}"""
  }

  /** Deterministic hash-uniform in (0, 1) keyed by (salt, question,
    * session) — the engine's one hash-uniform draw.
    */
  private def hashU(salt: String): Column = operators.TextAnalysisShared.hashUniform(
    concat(lit(salt), col("question_id").cast("string"), lit("_"), col("session_id").cast("string")))

  /** USED/IGNORED draw for one (question, session) at one round —
    * simulator.py:77-129's three modes on hash-uniforms.
    */
  private[graft] def simulatedUsed(mode: String, seed: Int, round: Int,
      rel: Column): Column = mode match {
    case "oracle" => rel === 1L
    case "realistic" =>
      when(rel === 1L, hashU(s"fb${seed}r${round}c") < 0.8)
        .otherwise(hashU(s"fb${seed}r${round}i") < 0.1)
    case "noisy" => hashU(s"fb${seed}r${round}n") < 0.5
    case other => throw new IllegalArgumentException(
      s"invalid simulator mode '$other' (oracle|realistic|noisy)")
  }

  def run(spark: SparkSession, path: String, mode: String, rounds: Int,
      weight: Double, seed: Int, provider: EmbeddingProvider = HashEmbeddingProvider,
      topK: Int = 50, k: Int = 5): WeightRun = {
    require(rounds >= 2, "FLB needs a baseline round plus at least one feedback round")
    val corpus = Ingestion.loadBenchmarkJson(spark, path)
    // One shared store: every distinct session, embedded once.
    val sessions = EmbeddingProvider.embedColumn(
      corpus.select(col("session_id"), col("session_text")).distinct(),
      "session_text", "s_vec", provider).drop("session_text")
    val questions = EmbeddingProvider.embedColumn(
      corpus.select(col("question_id"), col("question"), col("answer_session_id")).distinct(),
      "question", "q_vec", provider).drop("question")
    // corpus × questions similarity: computed ONCE, reused every round.
    val sims = sessions.crossJoin(broadcast(questions))
      .select(col("question_id"), col("session_id"),
        VectorFunctions.cosine(col("s_vec"), col("q_vec")).as("sim"),
        when(col("session_id") === col("answer_session_id"), 1L).otherwise(0L).as("rel"))
      .localCheckpoint(true)

    val w = Window.partitionBy("question_id")
      .orderBy(col("final_score").desc, col("session_id"))
    var fb: Option[DataFrame] = None
    val out = Seq.newBuilder[RoundMetrics]
    for (round <- 1 to rounds) {
      val t0 = System.nanoTime()
      val scored = fb match {
        case None => sims.withColumn("final_score", col("sim"))
        case Some(f) => sims
          .join(broadcast(f), Seq("session_id"), "left")
          .withColumn("final_score",
            // items with no feedback keep their raw sim — the
            // reference blends ONLY summarized items (feedback.py:205)
            when(col("fb_total").isNull, col("sim")).otherwise(
              lit(1.0 - weight) * col("sim")
                + lit(weight) * (col("fb_score") + lit(1.0)) / lit(2.0)))
      }
      val ranked = scored
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= topK)
        .localCheckpoint(true) // read twice: metrics + feedback recording
      // Single relevant session per question: hit = answer inside the
      // cutoff; MRR over the retrieved (top-K) list, 0 if absent —
      // FLB ranks only what retrieve() returned, unlike the
      // full-haystack LongMemEval MRR (runner.py:415-431).
      val m = ranked
        .groupBy("question_id")
        .agg(FirstHit.of(col("rel"), col("rnk")).as("first_hit"))
        .agg(
          avg(FirstHit.hitAt(col("first_hit"), k)).as("r5"),
          avg(FirstHit.reciprocalRank(col("first_hit"))).as("mrr"),
          avg(FirstHit.ndcgAt(col("first_hit"), k)).as("ndcg5"),
          count(lit(1)).as("n"))
        .head()
      out += RoundMetrics(round, m.getDouble(0), m.getDouble(1), m.getDouble(2),
        m.getLong(3), (System.nanoTime() - t0) / 1e9)
      if (round < rounds) {
        // Simulated feedback on this round's retrieved lists, folded
        // into the cumulative per-session use/ignore summary.
        val newFb = ranked
          .withColumn("used",
            simulatedUsed(mode, seed, round, col("rel")).cast("long"))
          .groupBy("session_id")
          .agg(sum(col("used")).as("used_cnt"),
            sum(lit(1L) - col("used")).as("ignored_cnt"))
        val merged = fb match {
          case None => newFb
          case Some(f) => f.select(col("session_id"), col("used_cnt"), col("ignored_cnt"))
            .unionByName(newFb)
            .groupBy("session_id")
            .agg(sum("used_cnt").as("used_cnt"), sum("ignored_cnt").as("ignored_cnt"))
        }
        fb = Some(merged
          .withColumn("fb_total", col("used_cnt") + col("ignored_cnt"))
          .withColumn("fb_score",
            (col("used_cnt") - col("ignored_cnt")).cast("double") / col("fb_total"))
          // truncate lineage so round r's plan doesn't replay rounds 1..r-1
          .localCheckpoint(true))
      }
    }
    WeightRun(weight, out.result())
  }
}
