package graft.functions

import graft.functions.expressions.{AnnProbe, CosineSimF32, DotProductF32, TopCellsF32}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions._

/** Column-level vector math over `ArrayType(FloatType)` embedding columns.
  *
  * Mirrors the semantics of the reference's vector layer (cosine / dot /
  * L2-normalize; reference: alma/storage/sqlite_local.py:555-601 and
  * alma/consolidation/engine.py:330-355) but expressed as Catalyst
  * expressions so similarity is just a column — no side index, no driver
  * round-trip. The hot kernels (dot, cosine) are custom codegen
  * expressions (graft.functions.expressions) that emit a tight primitive
  * loop inside whole-stage codegen; the higher-order-function forms are
  * kept for parity testing. All arithmetic is promoted to double.
  *
  * Scale note: these are per-row O(dim) expressions; a kNN over 100 TB is
  * a scan + top-k, which Spark executes as a per-partition
  * TakeOrderedAndProject — no shuffle of the full corpus.
  */
object VectorFunctions {

  /** Sum of elementwise products, accumulated in double (codegen kernel). */
  def dotD(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductF32(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Cosine similarity between two float-vector columns (codegen kernel). */
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimF32(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Euclidean norm of a vector column: `sqrt(dotD(a, a))`. The xi·xi
    * accumulation runs in element order — exactly [[CosineSimF32]]'s
    * per-side norm path — so `sqrt` of it is bit-identical to the
    * factor the cosine kernel computes internally.
    */
  def rowNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dotD(a, a))

  /** Cosine from a precomputed dot and per-ROW norms:
    * `dot / (na * nb)`, zero-denominator ⇒ 0.0 like [[CosineSimF32]].
    *
    * Bit-parity contract (VectorKernelSpec): when `na`/`nb` come from
    * [[rowNorm]] this equals `cosine(a, b)` EXACTLY — the kernel's
    * denominator is `sqrt(nx) * sqrt(ny)` with the same element-order
    * accumulations, so every double op matches one-for-one. Use it on
    * PAIR-SIZED candidate streams (LSH/blocked self-joins), where the
    * kernel's fused norm loops would re-derive both norms per pair:
    * norms are per-row (linear) work, and the per-pair loop drops from
    * 3 multiply-adds per element to 1.
    */
  def cosinePrenorm(dotAb: Column, na: Column, nb: Column): Column = {
    import org.apache.spark.sql.functions.when
    val denom = na * nb
    when(denom === 0.0, 0.0).otherwise(dotAb / denom)
  }

  /** Mark a similarity column as ANN-probeable: with
    * `graft.plans.AnnBucketProbe` installed and a `bucket` column on
    * the scanned relation, the optimizer restricts the scan to the
    * query vector's sign-bucket cell (partition pruning on a
    * bucket-partitioned layout). Without the rule, a pure passthrough.
    *
    * Layout contract: the scanned `bucket` column must have been
    * computed by [[signBucket]] with the SAME `bits` as this marker.
    * Declare the width at layout-write time with
    * `AnnBucketProbe.recordLayoutBits` — the rule then degrades to a
    * full scan on any mismatch instead of probing a cell the layout
    * never wrote. An undeclared layout is trusted to match.
    */
  def annProbe(sim: Column, bits: Int = 8): Column =
    ExpressionUtils.column(AnnProbe(ExpressionUtils.expression(sim), bits))

  /** Dot against a constant query vector. */
  def dotConst(a: Column, q: Array[Float]): Column = dotD(a, lit(q))

  /** Cosine against a constant query vector. */
  def cosineConst(a: Column, q: Array[Float]): Column = cosine(a, lit(q))

  /** A driver codebook `(cell ids, centroids)` as one broadcast. */
  type Codebook = org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Double]])]

  /** Top-`probes` coarse-quantizer cells (IVF assign/probe) against a
    * broadcast codebook ([[bcCodebook]]), ordered by (cosine rounded to
    * 4 decimals desc, cell id asc) — one primitive-loop kernel per row;
    * see [[graft.functions.expressions.TopCellsF32]] for the scale
    * rationale. A codebook reused across plans (the memoized IVF
    * codebook) keeps one handle, so Catalyst canonicalizes the
    * expressions and the driver holds one copy.
    */
  def topCells(a: Column, codebook: Codebook, probes: Int): Column =
    ExpressionUtils.column(TopCellsF32(ExpressionUtils.expression(a), codebook, probes))

  /** Squared L2 distance between two float/double vector columns
    * (codegen kernel; see [[graft.functions.expressions.SqDistVec]]).
    */
  def sqDistVec(a: Column, b: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.SqDistVec(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Broadcast a driver codebook on the active session's context;
    * dropped handles are reclaimed by ContextCleaner with the plan.
    */
  def bcCodebook(cellIds: Array[Long], cells: Array[Array[Double]]): Codebook =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast((cellIds, cells))

  /** Lloyd assign step as one kernel call per row: nearest centroid by
    * (round6 squared L2 ASC, cid ASC), output `struct(cid, dist2)`.
    */
  def nearestCellSq(a: Column, cellIds: Array[Long],
      cells: Array[Array[Double]]): Column =
    ExpressionUtils.column(graft.functions.expressions.NearestCellSq(
      ExpressionUtils.expression(a), bcCodebook(cellIds, cells)))

  /** SemDeDup/IVF assign step as one kernel call per row: nearest
    * centroid by (round4 cosine DESC, id ASC), output
    * `struct(cl, csim)` — [[topCells]]'s ranking, keeping the winning
    * similarity.
    */
  def nearestCellCos(a: Column, cellIds: Array[Long],
      cells: Array[Array[Double]]): Column =
    ExpressionUtils.column(graft.functions.expressions.NearestCellCos(
      ExpressionUtils.expression(a), bcCodebook(cellIds, cells)))

  /** PQ assign/encode: the m per-subspace nearest-centroid ids as one
    * kernel call per row. Keys are `sub * PqCodebook.Stride + cid`,
    * sorted.
    */
  def pqAssign(a: Column, keys: Array[Long], cells: Array[Array[Double]]): Column =
    ExpressionUtils.column(graft.functions.expressions.PqAssignCodes(
      ExpressionUtils.expression(a), bcCodebook(keys, cells)))

  /** ADC distance of a PQ code array against a `[sub][cid]` lookup
    * table of round6 per-subspace contributions.
    */
  def pqAdc(codes: Column, lut: Array[Array[Double]]): Column =
    ExpressionUtils.column(graft.functions.expressions.PqAdcDist(
      ExpressionUtils.expression(codes),
      org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(lut)))

  /** `vec − centroid(cid)` in double against a driver codebook — the
    * IVF-PQ residual as one kernel call per row.
    */
  def centroidResidual(a: Column, cid: Column, cellIds: Array[Long],
      cells: Array[Array[Double]]): Column =
    ExpressionUtils.column(graft.functions.expressions.CentroidResidualVec(
      ExpressionUtils.expression(a), ExpressionUtils.expression(cid),
      bcCodebook(cellIds, cells)))

  /** L2 norm, in double. */
  def norm2(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** L2-normalized copy of a vector column; a zero vector stays zero
    * (never NaN elements).
    */
  def l2normalize(a: Column): Column = {
    val n = norm2(a)
    transform(a, x => when(n === 0.0, lit(0.0)).otherwise(x.cast("double") / n))
  }

  /** Coarse IVF-style bucket id from the sign bits of the first `bits`
    * dimensions — the cheap, deterministic ANN partitioner used by the
    * bucketed kNN path. At scale this becomes the partition/bucket key so
    * a probe only scans matching buckets.
    */
  def signBucket(a: Column, bits: Int): Column =
    (1 to bits).map { i =>
      when(element_at(a, i) >= 0f, lit(1L << (i - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
}
