package graft.retrieval

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable kNN helpers over a DataFrame with a float-vector column —
  * the library form of the vector-search query pack (reference: FAISS
  * exact search, alma/storage/sqlite_local.py:555-601).
  */
object Knn {

  /** Exact top-k by cosine against one query vector: scan + similarity
    * column + TakeOrderedAndProject (per-partition top-k, no shuffle of
    * the corpus).
    */
  def topK(corpus: DataFrame, vecCol: String, query: Array[Float], k: Int,
      idCol: String): DataFrame =
    corpus
      .withColumn("sim", VectorFunctions.cosineConst(col(vecCol), query))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Batch kNN: one corpus pass for many queries — broadcast the query
    * set, Window top-k per query (the benchmark-runner shape: N queries
    * = 1 job).
    */
  def topKBatch(corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(queryIdCol).orderBy(col("sim").desc, col(idCol))
    corpus.crossJoin(broadcast(queries))
      .withColumn("sim", VectorFunctions.cosine(col(vecCol), col(queryVecCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop(queryVecCol)
  }
}
