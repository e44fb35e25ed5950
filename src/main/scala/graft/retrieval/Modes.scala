package graft.retrieval

/** Retrieval mode presets + keyword-based mode inference — the Spark
  * port of the reference's mode system (reference: alma/retrieval/modes.py:13-163
  * preset configs; :167-272 keyword inference with PRECISE default).
  *
  * A mode is pure configuration: weight literals for the 4-factor score,
  * top-k, threshold, and post-processing toggles. Catalyst
  * constant-folds the weights once they're literals (SURVEY O13), so
  * mode selection costs nothing at execution time. Per-call values (the
  * injected `asOf`) are the opposite case: they are bound by reference
  * (`BoundParam`), never folded, so a retrieve plan generates the same
  * Java on every call and its compiled classes are reused.
  */
final case class ModeConfig(
    name: String,
    topK: Int,
    minScore: Double,
    wSim: Double,
    wRecency: Double,
    wSuccess: Double,
    wConfidence: Double,
    diversity: Double = 0.0,
    includeAntiPatterns: Boolean = true,
    failureBoost: Double = 1.0,
    exactMatchBoost: Double = 1.0) {

  /** Weights normalized to sum 1.0 (reference: scoring.py:28-37). */
  def normalized: ModeConfig = {
    val s = wSim + wRecency + wSuccess + wConfidence
    if (s == 0.0 || s == 1.0) this
    else copy(wSim = wSim / s, wRecency = wRecency / s,
      wSuccess = wSuccess / s, wConfidence = wConfidence / s)
  }
}

object Modes {

  val Broad = ModeConfig("broad", topK = 20, minScore = 0.1,
    wSim = 0.3, wRecency = 0.3, wSuccess = 0.2, wConfidence = 0.2, diversity = 0.5)
  val Precise = ModeConfig("precise", topK = 5, minScore = 0.3,
    wSim = 0.5, wRecency = 0.2, wSuccess = 0.2, wConfidence = 0.1,
    exactMatchBoost = 1.5)
  val Diagnostic = ModeConfig("diagnostic", topK = 10, minScore = 0.2,
    wSim = 0.4, wRecency = 0.2, wSuccess = 0.3, wConfidence = 0.1,
    failureBoost = 1.5)
  val Learning = ModeConfig("learning", topK = 15, minScore = 0.15,
    wSim = 0.35, wRecency = 0.35, wSuccess = 0.2, wConfidence = 0.1)
  val Recall = ModeConfig("recall", topK = 30, minScore = 0.05,
    wSim = 0.6, wRecency = 0.3, wSuccess = 0.05, wConfidence = 0.05)
  val Benchmark = ModeConfig("benchmark", topK = 50, minScore = 0.0,
    wSim = 1.0, wRecency = 0.0, wSuccess = 0.0, wConfidence = 0.0)
  val Similarity = ModeConfig("similarity", topK = 10, minScore = 0.0,
    wSim = 1.0, wRecency = 0.0, wSuccess = 0.0, wConfidence = 0.0)

  val All: Seq[ModeConfig] =
    Seq(Broad, Precise, Diagnostic, Learning, Recall, Benchmark, Similarity)

  /** Inference precedence table — public so the oracle-checked
    * `q_mode_infer` query and its DuckDB SQL are generated from the
    * same source of truth (first matching set wins).
    */
  val keywordTable: Seq[(Set[String], ModeConfig)] = Seq(
    (Set("why", "failed", "error", "debug", "broken", "wrong"), Diagnostic),
    (Set("explore", "overview", "survey", "broad", "everything"), Broad),
    (Set("remember", "recall", "history", "past", "previously"), Recall),
    (Set("learn", "improve", "pattern", "trend"), Learning),
    (Set("similar", "like", "related", "nearest"), Similarity))

  /** Keyword inference with PRECISE default (modes.py:167-272). */
  def infer(query: String): ModeConfig = {
    val toks = query.toLowerCase.split("\\W+").toSet
    keywordTable.collectFirst { case (ks, m) if (ks & toks).nonEmpty => m }
      .getOrElse(Precise)
  }
}
