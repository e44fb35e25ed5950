package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}

/** Guard rails for the exact all-pairs query contracts.
  *
  * Seven queries in the suite carry a quadratic pair stage
  * (`q_semantic_dedup`, `q_dedup_embedding`, `q_minhash_estimate`,
  * `q_dedup_minhash_lsh`, `q_contrastive_pairs`, `q_hard_negatives`,
  * `q_dedup_incremental`):
  * their pair volume grows with the square of the duplicate-family /
  * block size, which is precisely the quantity a 100 TB corpus is worst
  * at. Round 9 measured the failure concretely — the calibration pair
  * join spilled a ×100 upsample to literal disk exhaustion before the
  * restructure, and still costs minutes after it. Nothing at cluster
  * scale should run those contracts BLIND, so each exact leg now
  * estimates its candidate-pair volume first (one cheap aggregate over
  * the frame it was about to pair-join — the same idiom as
  * `Curation.incrementalCandidates`) and consults this guard:
  *
  *   - volume ≤ `spark.graft.pair.guard.maxPairs` (default 2·10⁸): run the
  *     exact contract as written;
  *   - above the cap, mode `route` (default): run the query's bounded
  *     sibling INSIDE the same schema — sign-LSH sub-blocking for the
  *     two cosine legs (routed drops/pairs are a subset of the exact
  *     output; `PairGuardSpec` pins that), family-capped
  *     representatives for the calibration leg (routed rows ⊆ exact
  *     rows, row-for-row);
  *   - mode `exact`: documented override, always run the exact leg
  *     (the decade harness uses this to measure the exact contracts in
  *     isolation);
  *   - mode `fail`: refuse loudly — for pipelines where a silently
  *     narrower pair set would be worse than no answer.
  *
  * The estimate itself is linear (a group-count + one sum) and runs as
  * a driver-blocking job at plan-construction time, so Bench timings
  * charge it to the guarded query — the guard is part of the query's
  * honest cost. The census job is labeled `pair_guard_census` in the
  * metrics sink ([[graft.observability.Metrics.withOp]]) so an
  * op-metrics roll-up attributes guard overhead to the guard, not to
  * the query body it protects. The four LSH legs over the raw
  * documents table (`q_dedup_minhash_lsh`, `q_minhash_estimate`,
  * `q_contrastive_pairs`, `q_hard_negatives`) price the same bucket
  * census, so it is computed once per table state, inside the
  * session's signature state ([[TextAnalysisShared.DocSigs]]), which
  * also keeps one anchor-pair frame per guard verdict.
  */
object PairGuard {

  val MaxPairsConf = "spark.graft.pair.guard.maxPairs"
  val ModeConf = "spark.graft.pair.guard.mode"

  /** Default cap: 2·10⁸ candidate pairs ≈ 10 GB of pair-row shuffle at
    * ~50 B/row — the comfortable end of one machine's exchange, and two
    * orders of magnitude under the ×100 volume that exhausted disk.
    */
  val DefaultMaxPairs: Long = 200000000L

  private val Modes = Seq("route", "exact", "fail")

  /** True ⇒ the caller may run its exact quadratic leg; false ⇒ route
    * to the bounded sibling. `estimate` is only forced when the mode
    * actually needs the number (mode=exact skips the job entirely).
    * Both confs are validated on every call: an unknown mode or a
    * cap that is not a non-negative whole number throws
    * IllegalArgumentException naming the conf and its allowed values.
    */
  def allowExact(s: SparkSession, query: String)(estimate: => Long): Boolean = {
    val mode = s.conf.get(ModeConf, "route")
    if (!Modes.contains(mode))
      throw new IllegalArgumentException(
        s"$ModeConf=$mode: expected one of ${Modes.mkString(", ")}")
    val rawCap = s.conf.get(MaxPairsConf, DefaultMaxPairs.toString)
    val cap = rawCap.toLongOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"$MaxPairsConf=$rawCap: expected a non-negative whole number of candidate pairs"))
    if (mode == "exact") return true
    val est = graft.observability.Metrics.withOp(s, "pair_guard_census")(estimate)
    if (est <= cap) true
    else if (mode == "fail") {
      throw new IllegalStateException(
        s"$query: estimated candidate-pair volume $est exceeds $MaxPairsConf=$cap " +
          s"and $ModeConf=fail; set mode=route for the bounded sibling or mode=exact to override")
    } else {
      // Visible in driver logs/stderr: the routed run is a deliberate,
      // auditable downgrade, never a silent one.
      System.err.println(
        s"[pair-guard] $query: estimated $est candidate pairs > cap $cap - " +
          s"routing to the bounded leg (override with $ModeConf=exact)")
      false
    }
  }

  /** Σ_key count² — the blocked self-join's candidate-pair volume,
    * ordered pairs and self-pairs included, for the two cosine legs
    * (`q_dedup_embedding` blocks by label, `q_semantic_dedup` by
    * cluster). One group-count and one sum over `frame`.
    */
  def squaredBlockCensus(frame: DataFrame, key: String): Long =
    frame.groupBy(key).count()
      .agg(coalesce(sum(col("count") * col("count")), lit(0L)))
      .head().getLong(0)
}

/** One shared salt count for the low-cardinality-key pair joins.
  *
  * The pair joins key on cluster/label (~10 values by construction), so
  * unsalted they hash the whole corpus onto ~10 shuffle keys and each
  * group's quadratic scan serializes into ONE task (measured: 10 busy
  * partitions of 64, 68 s at ×30). Salting the anchor side by
  * hash(id) and replicating the other side once per salt spreads every
  * group across key-count × salts tasks; each (a, b) pair still meets
  * in exactly one (key, salt) partition, so the pair set — and the
  * oracle result — is unchanged at ANY salt count.
  *
  * The count tracks the session's parallelism instead of a pinned 16:
  * replication cost is salts× on the replicated side, and a local[4]
  * debug session has nothing to gain from 16 replicas it can only scan
  * four at a time — while a wide executor fleet caps at [[MaxSalts]]
  * because key-count × 16 tasks already saturates the measured decades.
  */
object Salting {
  val MaxSalts = 16

  def pairSalts(s: SparkSession): Int =
    math.max(1, math.min(MaxSalts, s.sparkContext.defaultParallelism))
}
