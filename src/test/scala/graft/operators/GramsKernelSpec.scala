package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-level parity for the compiled word-grams kernel: the shipped
  * gram column must be bit-identical to the HOF formulation on the real
  * documents table (the property spec covers adversarial split shapes;
  * this covers the plan end-to-end, same discipline as the minhash and
  * bpe kernel twins).
  */
class GramsKernelSpec extends SparkSpec {

  test("compiled word 5-grams == HOF formulation on the real corpus") {
    val docs = graft.io.Tables.documents(spark, Sf)
    val kernel = docs.select(col("doc_id"), posexplode(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.WordGramsExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), 5))))
    val hof = docs.select(col("doc_id"),
      posexplode(ParityTwins.ngramsHof(col("text"), 5)))
    assert(kernel.exceptAll(hof).count() == 0 && hof.exceptAll(kernel).count() == 0,
      "kernel and HOF gram streams must be bit-identical (position included)")
    assert(kernel.count() > 0)
  }

  test("shared ngrams helper (kernel) == HOF formulation on the corpus, n = 2 and 3") {
    val docs = graft.io.Tables.documents(spark, Sf)
    for (n <- Seq(2, 3)) {
      val kernel = docs.select(col("doc_id"),
        posexplode(TextAnalysisShared.ngrams(col("text"), n)))
      val hof = docs.select(col("doc_id"),
        posexplode(ParityTwins.ngramsHof(col("text"), n)))
      assert(kernel.exceptAll(hof).count() == 0 && hof.exceptAll(kernel).count() == 0,
        s"ngrams($n) kernel and HOF streams must be bit-identical")
    }
  }
}
