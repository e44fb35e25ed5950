package graft.operators

import graft.SparkSpec
import graft.functions.{VectorFunctions, VectorHofTwins}
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity pins for the centroid-assignment kernels (CentroidKernels)
  * against the declarative formulations they replaced: the kernels must
  * be bit-identical on the corpus AND on adversarial shapes the corpus
  * doesn't reach (exact distance ties, dropped centroids, length
  * mismatches, double-typed inputs).
  */
class CentroidKernelSpec extends SparkSpec {

  private def vecDf(rows: Seq[(Long, Seq[Float])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v) }: _*),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false), nullable = false))))

  test("kernel kmeansFit == declarative kmeansFit, codebook and assignment, 1 and 2 iters") {
    for (iters <- 1 to 2) {
      val (ck, ak) = ScalePatterns.kmeansFit(spark, Sf, iters)
      val (cd, ad) = ParityTwins.kmeansFitDeclarative(spark, Sf, iters)
      def cents(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).sortBy(_._1).toList
      assert(cents(ck) == cents(cd), s"codebooks diverge at iters=$iters")
      def asgRows(df: DataFrame) = df.select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toList
      assert(asgRows(ak) == asgRows(ad), s"assignments diverge at iters=$iters")
    }
  }

  test("kernel PQ codebook == declarative trainCodebook on the corpus") {
    val e = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    val (tk, tc) = Pq.trainCodebookArrays(
      e.select(col("vec_id"), col("embedding").as("v")))
    val stride = graft.functions.expressions.PqCodebook.Stride
    val kernelBook = tk.zip(tc.map(_.toList)).toList
    val declBook = ParityTwins.pqTrainCodebook(ParityTwins.pqSubvectors(e)).collect()
      .map(r => (r.getInt(0).toLong * stride + r.getLong(1), r.getSeq[Double](2).toList))
      .sortBy(_._1).toList
    assert(kernelBook == declBook, "trained PQ codebooks diverge")
  }

  test("pqAssign codes == declarative encode on the corpus") {
    val e = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    val subv = ParityTwins.pqSubvectors(e)
    val cent = ParityTwins.pqTrainCodebook(subv)
    val (tk, tc) = Pq.trainCodebookArrays(
      e.select(col("vec_id"), col("embedding").as("v")))
    val kernelCodes = e.select(col("vec_id"),
        VectorFunctions.pqAssign(col("embedding"), tk, tc).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).sortBy(_._1).toList
    val declCodes = ParityTwins.pqEncode(subv, cent)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        x => x.getField("cid")).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).sortBy(_._1).toList
    assert(kernelCodes == declCodes, "PQ codes diverge")
  }

  test("sqDistVec == HOF fold on float and double arrays; NULL on length mismatch") {
    val df = spark.range(1).select(
      lit(Array(1.5f, -2.25f, 0f)).as("af"),
      lit(Array(0.5f, 4f, -1f)).as("bf"),
      lit(Array(1.5, -2.25, 0.0)).as("ad"),
      lit(Array(0.5f, 4f)).as("short"))
    val r = df.select(
      VectorFunctions.sqDistVec(col("af"), col("bf")).as("ff"),
      ParityTwins.sqDist(col("af"), col("bf")).as("ff_hof"),
      VectorFunctions.sqDistVec(col("ad"), col("bf")).as("df"),
      ParityTwins.sqDist(col("ad"), col("bf")).as("df_hof"),
      VectorFunctions.sqDistVec(col("af"), col("short")).as("mismatch")).head()
    assert(r.getDouble(0) == r.getDouble(1), "float/float kernel != HOF")
    assert(r.getDouble(2) == r.getDouble(3), "double/float kernel != HOF")
    assert(r.isNullAt(4), "length mismatch must be NULL")
  }

  test("nearestCellSq breaks exact-tie distances on the smaller cid") {
    // two identical centroids under different ids: the argmin must pick
    // the smaller id, matching min(struct(dist2, cid)).
    val cells = Array(Array(1.0, 0.0), Array(1.0, 0.0))
    val ids = Array(7L, 3L)
    val df = vecDf(Seq((0L, Seq(0f, 0f))))
    val got = df.select(
      VectorFunctions.nearestCellSq(col("v"), ids, cells).getField("cid")).head().getLong(0)
    assert(got == 3L, s"tie must go to the smaller cid, got $got")
  }

  test("pq kernels survive dropped centroids (codes never reference them)") {
    // 3 seed vectors but one (cid 1) is identical to cid 0: in training
    // every member ties to the lower cid, cid 1 attracts nothing and
    // drops out of the trained book; encode must still cover all rows.
    val base = Seq(
      (0L, Seq.fill(64)(0f)),
      (1L, Seq.fill(64)(0f)),
      (2L, Seq.fill(64)(5f)),
      (3L, Seq.fill(64)(0.1f)),
      (4L, Seq.fill(64)(4.9f)),
      (5L, Seq.fill(64)(0.2f)),
      (6L, Seq.fill(64)(5.1f)),
      (7L, Seq.fill(64)(0.05f)),
      (8L, Seq.fill(64)(4.8f)),
      (9L, Seq.fill(64)(0.3f)))
    val df = vecDf(base)
    val (tk, tc) = Pq.trainCodebookArrays(df)
    val codes = df.select(col("vec_id"),
      VectorFunctions.pqAssign(col("v"), tk, tc).as("codes")).collect()
    assert(codes.length == base.length)
    val declCodes = ParityTwins.pqEncode(
        ParityTwins.pqSubvectors(df.select(col("vec_id"), col("v").as("embedding"))),
        ParityTwins.pqTrainCodebook(ParityTwins.pqSubvectors(df.select(col("vec_id"), col("v").as("embedding")))))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        x => x.getField("cid")).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    codes.foreach { r =>
      assert(r.getSeq[Long](1).toList == declCodes(r.getLong(0)),
        s"codes diverge for vec ${r.getLong(0)}")
    }
  }

  test("kernel assigned == declarative assigned (SemDeDup coarse assign)") {
    val e = Tables.embeddings(spark, Sf)
    def rows(df: DataFrame) = df.select("vec_id", "cluster", "csim").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getDouble(2)))
      .sortBy(_._1).toList
    assert(rows(Selection.assigned(e)) == rows(ParityTwins.assignedDeclarative(e)),
      "assign kernel diverges from the declarative argmax")
  }

  test("cosine kernel on double arrays == HOF cosine (and mixed sides)") {
    val df = spark.range(1).select(
      lit(Array(0.5, -1.25, 3.0)).as("ad"),
      lit(Array(2.0, 0.5, -1.0)).as("bd"),
      lit(Array(2f, 0.5f, -1f)).as("bf"),
      lit(Array(0.0, 0.0, 0.0)).as("zero"))
    val r = df.select(
      VectorFunctions.cosine(col("ad"), col("bd")).as("dd"),
      VectorHofTwins.cosineHof(col("ad"), col("bd")).as("dd_hof"),
      VectorFunctions.cosine(col("ad"), col("bf")).as("df"),
      VectorHofTwins.cosineHof(col("ad"), col("bf")).as("df_hof"),
      VectorFunctions.cosine(col("ad"), col("zero")).as("z")).head()
    assert(r.getDouble(0) == r.getDouble(1), "double/double kernel != HOF")
    assert(r.getDouble(2) == r.getDouble(3), "double/float kernel != HOF")
    assert(r.getDouble(4) == 0.0, "zero-norm side must yield 0.0")
  }

  test("pqAdc == join-sum of per-subspace contributions") {
    val e = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    val (tk, tc) = Pq.trainCodebookArrays(
      e.select(col("vec_id"), col("embedding").as("v")))
    val q = e.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val lut = Pq.adcLut(q, tk, tc)
    val kernelAdc = e.select(col("vec_id"),
        VectorFunctions.pqAdc(
          VectorFunctions.pqAssign(col("embedding"), tk, tc), lut).as("adc"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toList
    // independent recomputation from the same codes + lut, driver-side
    val stride = graft.functions.expressions.PqCodebook.Stride
    val round6 = graft.functions.expressions.CentroidKernels.round6 _
    val expected = e.select(col("vec_id"),
        VectorFunctions.pqAssign(col("embedding"), tk, tc).as("codes"))
      .collect().map { r =>
        val cs = r.getSeq[Long](1)
        (r.getLong(0), round6(cs.zipWithIndex.map {
          case (cid, sub) => lut(sub)(cid.toInt) }.sum))
      }.sortBy(_._1).toList
    assert(kernelAdc == expected, "ADC kernel != independent recomputation")
  }

  test("corrupt/NaN edge contract: corrupt centroids rank last; NaN inputs yield the no-winner sentinel") {
    // Pins the INTENDED divergence documented on NearestCellSq /
    // NearestCellCos: these shapes are unreachable with trained
    // codebooks, but the contract must not silently drift. (The
    // declarative min(struct(...)) twin would hand every row to a
    // dimension-corrupt centroid — its null dist2 sorts FIRST — which
    // is exactly the behavior the kernels refuse to mirror.)
    val ids = Array(0L, 1L)
    val good = Array.fill(4)(1.0)
    val corrupt = Array.fill(3)(0.0) // wrong dimension
    val df = vecDf(Seq((0L, Seq(1f, 1f, 1f, 1f))))
    // corrupt centroid loses to ANY real one, even an exact-zero match
    // being unavailable (the good centroid here is an exact match):
    val sq = df.select(VectorFunctions.nearestCellSq(
      col("v"), ids, Array(corrupt, good)).as("a")).head().getStruct(0)
    assert(sq.getLong(0) == 1L && sq.getDouble(1) == 0.0,
      s"corrupt centroid must rank last under sq, got $sq")
    val cos = df.select(VectorFunctions.nearestCellCos(
      col("v"), ids, Array(corrupt, good)).as("a")).head().getStruct(0)
    assert(cos.getLong(0) == 1L && cos.getDouble(1) == 1.0,
      s"corrupt centroid must rank last under cos, got $cos")
    // all-corrupt codebook: the ±∞ tie-break degrades to the smallest
    // cid with the impossible distance VISIBLE in the output — never a
    // throw, never a plausible-looking answer
    val sqAll = df.select(VectorFunctions.nearestCellSq(
      col("v"), Array(7L, 9L), Array(corrupt, corrupt)).as("a")).head().getStruct(0)
    assert(sqAll.getLong(0) == 7L && sqAll.getDouble(1).isPosInfinity,
      s"all-corrupt codebook must surface smallest cid at +Inf, got $sqAll")
    val cosAll = df.select(VectorFunctions.nearestCellCos(
      col("v"), Array(7L, 9L), Array(corrupt, corrupt)).as("a")).head().getStruct(0)
    assert(cosAll.getLong(0) == 7L && cosAll.getDouble(1).isNegInfinity,
      s"all-corrupt codebook must surface smallest cid at -Inf, got $cosAll")
    // NaN-poisoned input: every comparison fails, sentinel again
    // (where the declarative twin — Spark orders NaN largest — would
    // return a real centroid id for a garbage vector).
    val nan = vecDf(Seq((0L, Seq(Float.NaN, 1f, 1f, 1f))))
    val sqNan = nan.select(VectorFunctions.nearestCellSq(
      col("v"), ids, Array(good, good)).as("a")).head().getStruct(0)
    assert(sqNan.getLong(0) == Long.MaxValue && sqNan.getDouble(1).isPosInfinity,
      s"NaN input must yield the no-winner sentinel under sq, got $sqNan")
    val cosNan = nan.select(VectorFunctions.nearestCellCos(
      col("v"), ids, Array(good, good)).as("a")).head().getStruct(0)
    assert(cosNan.getLong(0) == Long.MaxValue && cosNan.getDouble(1).isNegInfinity,
      s"NaN input must yield the no-winner sentinel under cos, got $cosNan")
  }

  test("centroidResidual == zip_with minus; unknown cid is NULL") {
    val ids = Array(0L, 2L)
    val cells = Array(Array.fill(64)(0.25), Array.fill(64)(1.5))
    val df = vecDf(Seq((0L, Seq.fill(64)(1f)), (1L, Seq.fill(64)(2f))))
      .withColumn("cid", when(col("vec_id") === 0, 0L).otherwise(2L))
    val got = df.select(col("vec_id"),
        VectorFunctions.centroidResidual(col("v"), col("cid"), ids, cells).as("r"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    assert(got(0L) == List.fill(64)(0.75))
    assert(got(1L) == List.fill(64)(0.5))
    val unknown = df.select(VectorFunctions.centroidResidual(
      col("v"), lit(99L), ids, cells).as("r")).collect()
    assert(unknown.forall(_.isNullAt(0)), "unknown cid must yield NULL")
  }
}
