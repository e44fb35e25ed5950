package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function forms of dot and cosine — the
  * references the compiled vector kernels are pinned against
  * (`VectorKernelSpec`, `CentroidKernelSpec`).
  */
object VectorHofTwins {

  /** Reference HOF formulation of dot — CodegenFallback. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Reference HOF formulation of cosine. Zero-norm sides yield 0.0
    * like the kernel (never NaN).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = VectorFunctions.norm2(a) * VectorFunctions.norm2(b)
    when(denom === 0.0, lit(0.0)).otherwise(dotHof(a, b) / denom)
  }
}
