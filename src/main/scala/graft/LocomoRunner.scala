package graft

import graft.functions.{EmbeddingProvider, HashEmbeddingProvider, VectorFunctions}
import graft.io.ArtifactWriter
import graft.io.ArtifactWriter.r6
import graft.retrieval.FirstHit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LoCoMo benchmark — turn-granularity conversational retrieval over
  * the five LoCoMo QA categories, retrieval-only mode (reference:
  * benchmarks/locomo/runner.py:1-456, metrics.py:1-201,
  * dataset.py:1-291; published sweep: R@5 0.420 / MRR 0.285 at
  * min_score 0 on locomo10, results_sweep.json).
  *
  * The reference loops conversations, standing up a fresh SQLite+FAISS
  * store per conversation and a Python loop per QA. Here the whole
  * benchmark is ONE plan: turns ⋈ questions is an equi-join on
  * conv_id — evidence never leaves its conversation, so at cluster
  * scale the join co-partitions by conversation and no turn is ever
  * compared against another conversation's questions.
  *
  * Metric parity (metrics.py + longmemeval/metrics.py):
  *   - recall@k: ANY evidence turn in the top-k (set-overlap hit)
  *   - ndcg@k: DCG over the top-k indicator list, normalized by the
  *     ideal ordering of THAT list (hits packed to the front); 0 when
  *     no evidence retrieved
  *   - mrr: 1/rank of the first evidence hit in the retrieved
  *     (top-k, thresholded) list
  *   - adversarial: excluded from the above; scored ONLY by refusal
  *     rate — an empty retrieval is the correct answer
  *     (metrics.py:57-70). The `min_score` threshold is what makes
  *     refusal possible: candidates below it drop out, and a question
  *     whose every candidate drops is a refusal.
  *
  * Usage: runMain graft.LocomoRunner <data.json> [topK] [minScore,minScore,...]
  */
object LocomoRunner {

  final case class CategoryBlock(count: Long, recallAtK: Map[Int, Double],
      ndcgAtK: Map[Int, Double], mrr: Double)

  final case class LocomoMetrics(
      totalQa: Long,
      recallAtK: Map[Int, Double],
      ndcgAtK: Map[Int, Double],
      mrr: Double,
      adversarialRefusalRate: Double,
      perCategory: Map[String, CategoryBlock],
      minScore: Double,
      timeS: Double)

  private val Ks = Seq(1, 5, 10)

  def main(args: Array[String]): Unit = {
    val path = args(0)
    val topK = if (args.length > 1) args(1).toInt else 10
    val thresholds = if (args.length > 2) args(2).split(',').map(_.toDouble).toSeq
      else Seq(0.0, 0.2, 0.4, 0.6)
    val spark = Entrypoint.session()
    val (provider, providerName) = Entrypoint.provider(loadTurns(spark, path), "text")
    val sweep = thresholds.map(t => run(spark, path, minScore = t, topK = topK,
      provider = provider))
    val json = sweepJson(sweep, providerName, topK)
    println(json)
    ArtifactWriter.publish("locomo",
      sys.env.getOrElse("SPARK_GRAFT_LOCOMO_OUT", "bench/latest_locomo.json"), json)
    spark.stop()
  }

  def sweepJson(sweep: Seq[LocomoMetrics], providerName: String, topK: Int): String = {
    def kmap(m: Map[Int, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${r6(v)}""" }.mkString("{", ",", "}")
    val entries = sweep.map { m =>
      val cats = m.perCategory.toSeq.sortBy(_._1).map { case (c, b) =>
        if (c == "adversarial")
          s""""$c":{"count":${b.count},"refusal_rate":${r6(b.mrr)}}"""
        else
          s""""$c":{"count":${b.count},"recall_at_k":${kmap(b.recallAtK)},"ndcg_at_k":${kmap(b.ndcgAtK)},"mrr":${r6(b.mrr)}}"""
      }.mkString("{", ",", "}")
      s"""{"min_score":${m.minScore},"total_qa":${m.totalQa},"recall_at_k":${kmap(m.recallAtK)},"ndcg_at_k":${kmap(m.ndcgAtK)},"mrr":${r6(m.mrr)},"adversarial_refusal_rate":${r6(m.adversarialRefusalRate)},"per_category":$cats,"time_s":${r6(m.timeS)}}"""
    }.mkString("[", ",", "]")
    s"""{"metric":"locomo","provider":"$providerName","top_k":$topK,"sweep":$entries}"""
  }

  private[graft] def loadTurns(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
      .select(col("conv_id"), explode(col("turns")).as("t"))
      .select(col("conv_id"), col("t.turn_id").as("turn_id"),
        col("t.session").as("session"), col("t.turn_index").as("turn_index"),
        col("t.speaker").as("speaker"), col("t.text").as("text"))

  private[graft] def loadQa(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
      .select(col("conv_id"), explode(col("qa")).as("q"))
      .select(col("conv_id"), col("q.qa_id").as("qa_id"),
        col("q.question").as("question"), col("q.category").as("category"),
        col("q.evidence").as("evidence"))

  /** Cumulative ideal-DCG lookup: idcg(h) = Σ_{j=1..h} 1/log2(j+1),
    * h = number of evidence hits inside the cutoff. The ideal list
    * packs the hits to the front of the RETRIEVED list
    * (longmemeval/metrics.py:150-163), so idcg depends only on h.
    */
  private def idcgArr(maxK: Int): Array[Double] =
    (0 to maxK).scanLeft(0.0)((acc, j) =>
      if (j == 0) 0.0 else acc + 1.0 / (math.log(j + 1.0) / math.log(2.0)))
      .tail.toArray

  def run(spark: SparkSession, path: String, minScore: Double = 0.0,
      topK: Int = 10, provider: EmbeddingProvider = HashEmbeddingProvider): LocomoMetrics = {
    val t0 = System.nanoTime()
    val turns = EmbeddingProvider.embedColumn(
      loadTurns(spark, path).select(col("conv_id"), col("turn_id"), col("text")),
      "text", "t_vec", provider).drop("text")
    val qa = EmbeddingProvider.embedColumn(loadQa(spark, path), "question", "q_vec", provider)
      .drop("question")

    // Retrieval: same-conversation candidates only (equi-join on
    // conv_id), thresholded, top-K by (sim desc, turn_id) per QA.
    val w = Window.partitionBy("qa_id").orderBy(col("sim").desc, col("turn_id"))
    val retrieved = turns.join(qa, Seq("conv_id"))
      .withColumn("sim", VectorFunctions.cosine(col("t_vec"), col("q_vec")))
      .filter(col("sim") >= minScore)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .withColumn("rel",
        when(array_contains(col("evidence"), col("turn_id")), 1L).otherwise(0L))

    val maxK = Ks.max
    val idcg = idcgArr(maxK)
    val log2rnk = log2(col("rnk").cast("double") + lit(1.0))
    // Per-QA stats in one aggregate; refusals (zero candidates above
    // the threshold) survive via the left join from the QA frame.
    val hitCols = Ks.flatMap { k => Seq(
      sum(when(col("rnk") <= k, col("rel")).otherwise(0L)).as(s"hits_$k"),
      sum(when(col("rnk") <= k, col("rel").cast("double") / log2rnk)
        .otherwise(0.0)).as(s"dcg_$k"))
    }
    val aggExprs = Seq(count(lit(1)).as("n_retrieved"),
      FirstHit.of(col("rel"), col("rnk")).as("first_hit")) ++ hitCols
    val perQaAgg = retrieved.groupBy("qa_id")
      .agg(aggExprs.head, aggExprs.tail: _*)
    val idcgLit = lit(idcg)
    val perQa = qa.select(col("qa_id"), col("category"))
      .join(perQaAgg, Seq("qa_id"), "left")
      .na.fill(0L, Seq("n_retrieved") ++ Ks.map(k => s"hits_$k"))
      .na.fill(0.0, Ks.map(k => s"dcg_$k"))

    // Category rollup: sums only, averages derived driver-side from the
    // handful of category rows — one exchange of |categories| rows.
    val aggCols = Seq(
      count(lit(1)).as("n"),
      sum(when(col("n_retrieved") === 0L, 1.0).otherwise(0.0)).as("refusals"),
      sum(FirstHit.reciprocalRank(col("first_hit"))).as("mrr_sum")) ++
      Ks.flatMap { k => Seq(
        sum(when(col(s"hits_$k") > 0L, 1.0).otherwise(0.0)).as(s"r${k}_sum"),
        // element_at is 1-based: idcg(h) lives at index h+1
        sum(when(col(s"hits_$k") > 0L,
          col(s"dcg_$k") / element_at(idcgLit,
            (least(col(s"hits_$k"), lit(k.toLong)) + lit(1L)).cast("int"))).otherwise(0.0)).as(s"n${k}_sum"))
      }
    val rows = perQa.groupBy("category").agg(aggCols.head, aggCols.tail: _*).collect()

    def block(r: org.apache.spark.sql.Row): (String, Long, Double, Double, Map[Int, Double], Map[Int, Double]) = {
      val cat = r.getString(0)
      val n = r.getLong(1)
      val refusals = r.getDouble(2)
      val mrrSum = r.getDouble(3)
      val rk = Ks.zipWithIndex.map { case (k, i) => k -> r.getDouble(4 + 2 * i) }.toMap
      val nk = Ks.zipWithIndex.map { case (k, i) => k -> r.getDouble(5 + 2 * i) }.toMap
      (cat, n, refusals, mrrSum, rk, nk)
    }
    val blocks = rows.map(block)
    val adv = blocks.filter(_._1 == "adversarial")
    val nonAdv = blocks.filter(_._1 != "adversarial")
    val nNonAdv = nonAdv.map(_._2).sum.max(1L)
    val perCategory = blocks.map { case (cat, n, refusals, mrrSum, rk, nk) =>
      if (cat == "adversarial")
        cat -> CategoryBlock(n, Map.empty, Map.empty, refusals / n)
      else
        cat -> CategoryBlock(n,
          rk.map { case (k, v) => k -> v / n },
          nk.map { case (k, v) => k -> v / n },
          mrrSum / n)
    }.toMap
    LocomoMetrics(
      totalQa = blocks.map(_._2).sum,
      recallAtK = Ks.map(k => k -> nonAdv.map(_._5(k)).sum / nNonAdv).toMap,
      ndcgAtK = Ks.map(k => k -> nonAdv.map(_._6(k)).sum / nNonAdv).toMap,
      mrr = nonAdv.map(_._4).sum / nNonAdv,
      adversarialRefusalRate =
        if (adv.isEmpty) 0.0 else adv.map(_._3).sum / adv.map(_._2).sum,
      perCategory = perCategory,
      minScore = minScore,
      timeS = (System.nanoTime() - t0) / 1e9)
  }
}
