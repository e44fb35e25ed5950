package graft.retrieval

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-question IR metrics over `first_hit`, the 1-based rank of the
  * first relevant item in a ranked list (null when none was ranked) —
  * the one definition the LongMemEval, FLB and LoCoMo harnesses
  * aggregate (reference: benchmarks/longmemeval/metrics.py:46-55,
  * 165-184). With one relevant item per question, hit@k and NDCG@k
  * depend on that rank alone: the ideal DCG is 1/log2(2) = 1.
  */
object FirstHit {

  /** The aggregate: smallest rank among the rows with `rel` = 1. */
  def of(rel: Column, rnk: Column): Column = min(when(rel === 1L, rnk))

  /** 1.0 when the first hit is inside the cutoff, else 0.0. */
  def hitAt(firstHit: Column, k: Int): Column = when(firstHit <= k, 1.0).otherwise(0.0)

  /** 1 / rank, 0.0 when nothing relevant was ranked. */
  def reciprocalRank(firstHit: Column): Column = coalesce(lit(1.0) / firstHit, lit(0.0))

  /** 1 / log2(rank + 1) inside the cutoff, else 0.0. */
  def ndcgAt(firstHit: Column, k: Int): Column =
    when(firstHit <= k, lit(1.0) / log2(firstHit.cast("double") + lit(1.0))).otherwise(lit(0.0))
}
