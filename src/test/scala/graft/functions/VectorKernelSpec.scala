package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The codegen kernels must be bit-identical to the HOF formulation they
  * replaced (same double accumulation order), and actually codegen.
  */
class VectorKernelSpec extends SparkSpec {

  private def emb = graft.io.Tables.embeddings(spark, Sf).limit(100)

  test("kernel dot == HOF dot bit-exactly on real embeddings") {
    val diff = emb.as("a").crossJoin(emb.as("b")).limit(500)
      .select(
        VectorFunctions.dotD(col("a.embedding"), col("b.embedding")).as("k"),
        VectorHofTwins.dotHof(col("a.embedding"), col("b.embedding")).as("h"))
      .filter(col("k") =!= col("h"))
      .count()
    assert(diff == 0)
  }

  test("zero-norm vectors score 0.0, never NaN, in kernel and HOF alike") {
    import spark.implicits._
    // An all-zero embedding (empty/OOV text through any encoder) must
    // not produce NaN: Spark sorts NaN ABOVE every double, so one NaN
    // row would outrank every genuine match in a descending sim sort.
    val rows = Seq(
      (1L, Array(0f, 0f, 0f)), (2L, Array(1f, 2f, 3f))).toDF("id", "v")
    val q = Array(0.6f, 0.8f, 0f)
    val out = rows.select(col("id"),
        VectorFunctions.cosineConst(col("v"), q).as("k"),
        VectorHofTwins.cosineHof(col("v"), lit(q)).as("h"))
      .orderBy(col("k").desc).collect()
    assert(!out.exists(r => r.getDouble(1).isNaN || r.getDouble(2).isNaN))
    assert(out.head.getLong(0) == 2L, "zero vector outranked a real match")
    assert(out.last.getDouble(1) == 0.0 && out.last.getDouble(2) == 0.0)
    // l2normalize keeps a zero vector zero.
    val norm = rows.filter(col("id") === 1L)
      .select(VectorFunctions.l2normalize(col("v"))).head().getSeq[Double](0)
    assert(norm.forall(_ == 0.0))
  }

  test("kernel cosine == HOF cosine bit-exactly on real embeddings") {
    val diff = emb.as("a").crossJoin(emb.as("b")).limit(500)
      .select(
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("k"),
        VectorHofTwins.cosineHof(col("a.embedding"), col("b.embedding")).as("h"))
      .filter(col("k") =!= col("h"))
      .count()
    assert(diff == 0)
  }

  test("cosinePrenorm(dot, rowNorm, rowNorm) == cosine kernel bit-exactly (incl. zero vectors)") {
    // The pair-join form: norms precomputed per ROW, cosine = one dot +
    // divide per PAIR. Must equal the fused kernel on every bit —
    // rowNorm's xi·xi accumulation IS the kernel's per-side norm path.
    val withN = emb.select(col("vec_id"), col("embedding"),
      VectorFunctions.rowNorm(col("embedding")).as("nrm"))
    val diff = withN.as("a").crossJoin(withN.as("b")).limit(500)
      .select(
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("k"),
        VectorFunctions.cosinePrenorm(
          VectorFunctions.dotD(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")).as("p"))
      .filter(col("k") =!= col("p"))
      .count()
    assert(diff == 0, "prenorm cosine diverged from the fused kernel")
    // zero-norm side: 0.0 in both forms, never NaN
    import spark.implicits._
    val rows = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(1f, 2f, 3f))).toDF("id", "v")
      .select(col("id"), col("v"), VectorFunctions.rowNorm(col("v")).as("nrm"))
    val z = rows.as("a").crossJoin(rows.as("b"))
      .select(
        VectorFunctions.cosine(col("a.v"), col("b.v")).as("k"),
        VectorFunctions.cosinePrenorm(
          VectorFunctions.dotD(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("p"))
      .collect()
    assert(z.forall(r => r.getDouble(0) == r.getDouble(1)),
      "prenorm zero-vector handling diverged from the kernel")
    assert(!z.exists(r => r.getDouble(1).isNaN))
  }

  test("cosinePrenorm == cosine kernel on non-finite elements (NaN/±Inf) and round-4 boundaries") {
    import spark.implicits._
    // The docstring's "every double op matches one-for-one" claim must
    // hold beyond finite inputs: a NaN or ±Inf element propagates
    // through both paths to the SAME double (bit-compared on the
    // driver — Spark SQL's own =!= treats NaN = NaN). Also pins the
    // round(·,4) composition used by the IVF/SemDeDup threshold
    // queries: exact parity means a 5e-5-boundary value can never
    // round differently between the fused kernel and the prenormed
    // pair form (the same class as the accepted DSIR last-ulp risk —
    // closed here in a spec instead of a comment).
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    val rows = Seq(
      (1L, Array(nan, 1f, 2f)), (2L, Array(1f, 2f, 3f)),
      (3L, Array(inf, 1f, 0f)), (4L, Array(-inf, inf, 1f)),
      (5L, Array(0f, 0f, 0f)), (6L, Array(1e-8f, -1e-8f, 0f)),
      // values engineered near a k·5e-5 rounding boundary
      (7L, Array(0.99995f, 1f, 0f)), (8L, Array(0.000049999f, 1f, 1f)))
      .toDF("id", "v")
      .select(col("id"), col("v"), VectorFunctions.rowNorm(col("v")).as("nrm"))
    val out = rows.as("a").crossJoin(rows.as("b"))
      .select(
        VectorFunctions.cosine(col("a.v"), col("b.v")).as("k"),
        VectorFunctions.cosinePrenorm(
          VectorFunctions.dotD(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("p"),
        round(VectorFunctions.cosine(col("a.v"), col("b.v")), 4).as("rk"),
        round(VectorFunctions.cosinePrenorm(
          VectorFunctions.dotD(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")), 4).as("rp"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (k, p) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.doubleToLongBits(k) == java.lang.Double.doubleToLongBits(p),
        s"non-finite/boundary parity broke: kernel=$k prenorm=$p")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"round-4 threshold flipped between forms: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
    // NaN rows exist in the input, so the parity above genuinely
    // exercised the non-finite path.
    assert(out.exists(r => r.getDouble(0).isNaN))
  }

  test("kernel survives whole-stage codegen (no fallback in plan)") {
    val df = emb.select(VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
    // Whole-stage-codegen'd operators print with a `*(stageId)` prefix.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosinesimf32"), s"expected codegen span in:\n$plan")
    assert(math.abs(df.head().getDouble(0) - 1.0) < 1e-9)
  }

  test("two kernels fused in ONE projection codegen without colliding (dot + cosine)") {
    // Regression: fixed Java locals (i, n, dot…) in doGenCode made two
    // kernels in one whole-stage-codegen region redeclare the same
    // variable; Janino threw and Spark silently interpreted the stage.
    // With spark.sql.codegen.fallback=false (SparkSpec session), a
    // compile failure here is a thrown error, not a log line.
    val df = emb.select(
      VectorFunctions.dotD(col("embedding"), col("embedding")).as("d"),
      VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expected codegen span in:\n$plan")
    val row = df.head()
    assert(row.getDouble(0) > 0.0)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-9)
  }

  test("two cosines against different query vectors fuse in one projection") {
    // Parquet-backed input (a local Seq constant-folds to LocalTableScan
    // and never exercises codegen). Two distinct broadcast query vectors
    // plus a blend — the multi-query-kNN plan shape.
    val probe = emb.select(col("embedding")).head().getSeq[Float](0).toArray
    val q2 = probe.map(v => -v)
    val df = emb.select(
      VectorFunctions.cosineConst(col("embedding"), probe).as("c1"),
      VectorFunctions.cosineConst(col("embedding"), q2).as("c2"),
      (VectorFunctions.cosineConst(col("embedding"), probe) +
        VectorFunctions.cosineConst(col("embedding"), q2)).as("blend"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expected codegen span in:\n$plan")
    val row = df.head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-9)  // first row IS the probe
    assert(math.abs(row.getDouble(1) + 1.0) < 1e-9)  // negated probe → -1
    assert(math.abs(row.getDouble(2) - (row.getDouble(0) + row.getDouble(1))) < 1e-12)
  }

  test("length-mismatched vectors yield NULL, matching the HOF null semantics") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val kernel = df.select(
      VectorFunctions.dotD(col("a"), col("b")).as("d"),
      VectorFunctions.cosine(col("a"), col("b")).as("c")).head()
    assert(kernel.isNullAt(0) && kernel.isNullAt(1))
    val hof = df.select(VectorHofTwins.dotHof(col("a"), col("b")).as("d")).head()
    assert(hof.isNullAt(0))
  }

  test("kernels accept double arrays (no widening cast) and reject non-numeric arrays") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(3.0, 0.5))).toDF("a", "b")
    val d = df.select(VectorFunctions.dotD(col("a"), col("b"))).head().getDouble(0)
    assert(d == 1.0 * 3.0 + 2.0 * 0.5)
    val bad = Seq((Array("x", "y"), Array("x", "y"))).toDF("a", "b")
    intercept[Exception] {
      bad.select(VectorFunctions.dotD(col("a"), col("b"))).collect()
    }
  }

  test("topCells kernel == declarative round(cosineHof) window rank, all probe depths") {
    // The IVF assign/probe kernel must reproduce the (round-4 cosine
    // desc, cell id asc) order of the declarative form it replaced —
    // the oracle pins that order through the semantic-decontamination
    // query, this pins it directly, including the probes >= k clamp.
    import org.apache.spark.sql.expressions.Window
    val e = graft.io.Tables.embeddings(spark, Sf).limit(200).cache()
    try {
      val cb = e.filter(col("vec_id") < 7)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        .sortBy(_._1)
      val cbDf = e.sparkSession.createDataFrame(
        cb.toSeq.map { case (id, v) => (id, v) }).toDF("cl", "cvec")
      val declared = e.crossJoin(broadcast(cbDf))
        .select(col("vec_id"), col("cl"),
          round(VectorHofTwins.cosineHof(col("embedding"), col("cvec")), 4).as("csim"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cl"))))
      for (p <- Seq(1, 3, 7, 99)) {
        val kernel = e.select(col("vec_id"),
            posexplode(VectorFunctions.topCells(col("embedding"),
              VectorFunctions.bcCodebook(cb.map(_._1), cb.map(_._2)), p)))
          .select(col("vec_id"), (col("pos") + 1).as("rn"), col("col").as("cl"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val want = declared.filter(col("rn") <= math.min(p, 7))
          .select(col("vec_id"), col("rn"), col("cl"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        assert(kernel == want, s"probe depth $p diverged from the declarative rank")
      }
    } finally e.unpersist()
  }
}
