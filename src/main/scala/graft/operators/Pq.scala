package graft.operators

import graft.Q
import graft.functions.VectorFunctions
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) — the compression half of
  * the production IVF-PQ ANN stack. The 64-d vector is cut into m = 8
  * contiguous 8-d subvectors; each subspace trains its own ks = 4
  * centroid codebook (one deterministic Lloyd iteration from fixed
  * seeds, the `q_kmeans_train` recipe per subspace); a vector's code is
  * its 8 per-subspace centroid ids — 8 small ints standing in for 64
  * floats (f32 → ~1/32 the bytes; at 100 TB of embeddings the code
  * table is the only thing the ANN scan reads). Search is ADC
  * (asymmetric distance computation): the query stays exact, its
  * squared distance to all m·ks = 32 centroids becomes a broadcast
  * lookup table, and a candidate's approximate distance is the sum of
  * its 8 table cells — a code-table scan plus a 32-row broadcast join,
  * no float vector ever re-read.
  *
  * Scale shape: training exchanges are bounded by construction (the
  * update step carries ≤ m·ks·d/m = 256 rows regardless of corpus
  * size); assignment/encode shuffles carry one row per (vector,
  * subspace) — the same bytes as the vectors themselves, once, to
  * produce the persistent code table. Composes with the IVF cell probe
  * (`q_ann_ivf_kmeans`) exactly as FAISS IVF-PQ does: coarse cell
  * prunes the scan, PQ codes price the survivors.
  *
  * Search runs the full production two-stage: ADC prices every code
  * cheaply, the top-`PqShortlist` survivors alone get exact float
  * distances, and the exact re-rank emits top-10 — so the expensive
  * exact kernel touches a fixed 50 vectors no matter the corpus size.
  * The query audits itself against truth at this SF: result rows carry
  * an in-exact-top-10 flag (recall of the shortlist stage).
  */
object Pq {

  private[operators] val PqM = 8 // subspaces
  private[operators] val PqD = 8 // dims per subspace (m · d = 64)
  private[operators] val PqKs = 8 // centroids per subspace
  private val PqTopK = 10
  private val PqShortlist = 50 // ADC survivors that get exact re-rank

  private def round6(x: Double): Double =
    graft.functions.expressions.CentroidKernels.round6(x)

  /** Driver-side squared L2 with the kernels' exact arithmetic
    * (element order, Math.pow) — used only for the bounded LUT.
    */
  private def sqDistArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += math.pow(a(i) - b(i), 2.0); i += 1 }
    s
  }

  /** Train the per-subspace PQ codebook with kernel assignment — the
    * declarative [[trainCodebook]]'s exact contract (seed centroids =
    * the first ks vectors' slices; one assign round by round6 squared
    * L2 tie-broken by cid; per-(sub, cid, pos) mean rounded to 6) as
    * one corpus pass: assignment is a [[VectorFunctions.pqAssign]]
    * projection (no per-subspace join, no argmin groupBy), the mean
    * update is one scalar posexplode into a ≤ m·ks·dsub-group
    * aggregate, collected driver-side (≤ 512 rows — codebook-sized by
    * construction, like [[ScalePatterns.kmeansFit]]'s update step).
    * `vf` must be (vec_id, v: array<float|double>).
    */
  private[operators] def trainCodebookArrays(vf: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val stride = graft.functions.expressions.PqCodebook.Stride
    val seeds = vf.filter(col("vec_id") < PqKs).collect()
      .map { r =>
        val v = r.get(1).asInstanceOf[scala.collection.Seq[Any]]
          .map { case f: Float => f.toDouble; case d: Double => d }.toArray
        (r.getLong(0), v)
      }.sortBy(_._1)
    val k0 = for (sub <- 0 until PqM; (cid, _) <- seeds)
      yield sub * stride + cid
    val c0 = for (sub <- 0 until PqM; (_, v) <- seeds)
      yield v.slice(sub * PqD, (sub + 1) * PqD)
    val sub = floor(col("pos") / PqD)
    // Two-step select: the assign kernel must land in a Project BELOW
    // the Generate (once per vector) — fused into one select, Spark's
    // ExtractGenerator leaves non-generator expressions in the Project
    // ABOVE the explode and the kernel re-evaluates per exploded
    // element (64× per vector; measured 23-33 s at the ×100 decade vs
    // sub-second for the whole pass in this shape).
    val upd = vf
      .select(col("v"),
        VectorFunctions.pqAssign(col("v"), k0.toArray, c0.toArray).as("codes"))
      .select(col("codes"), posexplode(col("v")))
      .select(
        (sub.cast("long") * stride +
          element_at(col("codes"), (sub + 1).cast("int"))).as("k"),
        pmod(col("pos"), lit(PqD)).as("spos"),
        col("col").cast("double").as("x"))
      .groupBy("k", "spos").agg(round(avg("x"), 6).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val grouped = upd.groupBy(_._1).toArray.sortBy(_._1)
    (grouped.map(_._1),
      grouped.map { case (_, rows) => rows.sortBy(_._2).map(_._3) })
  }

  /** Dense `[sub][cid]` ADC lookup table: round6 squared L2 of each
    * trained sub-centroid to the query's matching slice. Slots for
    * dropped centroids stay 0 and are never referenced by codes.
    */
  private[operators] def adcLut(q: Array[Double], keys: Array[Long],
      cells: Array[Array[Double]]): Array[Array[Double]] = {
    val stride = graft.functions.expressions.PqCodebook.Stride
    val lut = Array.fill(PqM)(new Array[Double](PqKs))
    var i = 0
    while (i < keys.length) {
      val sub = (keys(i) / stride).toInt
      val cid = (keys(i) - sub * stride).toInt
      lut(sub)(cid) =
        round6(sqDistArr(q.slice(sub * PqD, (sub + 1) * PqD), cells(i)))
      i += 1
    }
    lut
  }

  private def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    // Train + encode through the compiled assign kernel: one bounded
    // codebook collect, then codes and ADC are a single projection
    // over the corpus — no per-subspace join, no argmin groupBy, no
    // exchange before the top-k. Query = vec 0; its slices price the
    // codebook into the driver-built LUT (codebook-sized, like the
    // training collect — the [[ScalePatterns.kmeansFit]] discipline).
    val (tk, tc) = trainCodebookArrays(
      e.select(col("vec_id"), col("embedding").as("v")))
    val q = e.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val lut = adcLut(q, tk, tc)
    val adc = e.select(col("vec_id"),
      VectorFunctions.pqAdc(
        VectorFunctions.pqAssign(col("embedding"), tk, tc), lut).as("adc_dist"))
    val shortlist = adc.orderBy(col("adc_dist"), col("vec_id")).limit(PqShortlist)
    val qlit = lit(q)
    // Exact distances ONLY for the shortlist — the re-rank stage's scan
    // is bounded at PqShortlist float vectors.
    val reranked = shortlist
      .join(e, Seq("vec_id"))
      .select(col("vec_id"), col("adc_dist"),
        round(VectorFunctions.sqDistVec(col("embedding"), qlit), 6).as("true_dist"))
    // Audit side (test-scale only): the full exact top-10 to grade the
    // shortlist's recall — a compiled-kernel scan into TakeOrdered.
    val exactTop = e
      .select(col("vec_id"),
        round(VectorFunctions.sqDistVec(col("embedding"), qlit), 6).as("d"))
      .orderBy(col("d"), col("vec_id"))
      .limit(PqTopK).select(col("vec_id"), lit(1).as("in_exact"))
    reranked
      .join(exactTop, Seq("vec_id"), "left")
      .select(col("vec_id"), col("adc_dist"), col("true_dist"),
        coalesce(col("in_exact"), lit(0)).as("in_exact"))
      .orderBy(col("true_dist"), col("vec_id"))
      .limit(PqTopK)
  }

  private val annPqSql =
    s"""WITH sv AS (
       |  SELECT vec_id, (r.range - 1) // $PqD AS sub, (r.range - 1) % $PqD AS spos,
       |    embedding[r.range]::DOUBLE AS x
       |  FROM embeddings, range(1, 65) r),
       |c0 AS (
       |  SELECT vec_id::BIGINT AS cid, sub, spos, x AS c FROM sv WHERE vec_id < $PqKs),
       |d1 AS (
       |  SELECT sv.vec_id, sv.sub, c0.cid, round(sum(pow(sv.x - c0.c, 2)), 6) AS dist2
       |  FROM sv JOIN c0 USING (sub, spos) GROUP BY 1, 2, 3),
       |a1 AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY dist2, cid) AS rn FROM d1) WHERE rn = 1),
       |c1 AS (
       |  SELECT a1.sub, a1.cid, sv.spos, round(avg(sv.x), 6) AS c
       |  FROM a1 JOIN sv USING (vec_id, sub) GROUP BY 1, 2, 3),
       |d2 AS (
       |  SELECT sv.vec_id, sv.sub, c1.cid, round(sum(pow(sv.x - c1.c, 2)), 6) AS dist2
       |  FROM sv JOIN c1 USING (sub, spos) GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY dist2, cid) AS rn FROM d2) WHERE rn = 1),
       |q AS (SELECT sub, spos, x AS qx FROM sv WHERE vec_id = 0),
       |lut AS (
       |  SELECT c1.sub, c1.cid, round(sum(pow(q.qx - c1.c, 2)), 6) AS contrib
       |  FROM c1 JOIN q USING (sub, spos) GROUP BY 1, 2),
       |adc AS (
       |  SELECT codes.vec_id, round(sum(lut.contrib), 6) AS adc_dist
       |  FROM codes JOIN lut USING (sub, cid) GROUP BY 1),
       |shortlist AS (
       |  SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT $PqShortlist),
       |exact AS (
       |  SELECT sv.vec_id, round(sum(pow(sv.x - q0.qx, 2)), 6) AS true_dist
       |  FROM sv JOIN (SELECT sub, spos, x AS qx FROM sv WHERE vec_id = 0) q0
       |    USING (sub, spos)
       |  GROUP BY 1),
       |extop AS (
       |  SELECT vec_id FROM exact ORDER BY true_dist, vec_id LIMIT $PqTopK)
       |SELECT s.vec_id, s.adc_dist, e.true_dist,
       |  (s.vec_id IN (SELECT vec_id FROM extop))::INT AS in_exact
       |FROM shortlist s JOIN exact e USING (vec_id)
       |ORDER BY e.true_dist, s.vec_id LIMIT $PqTopK""".stripMargin

  // -------------------------------------------------------------------
  // q_ann_ivfpq — the full FAISS-style IVF-PQ composition: the Lloyd
  // coarse quantizer (`q_kmeans_train`'s exact 2-iteration chain)
  // partitions the corpus into cells, PQ trains on the RESIDUALS
  // v − centroid(cell) (residual energy is what's left after the coarse
  // step — quantizing it is strictly finer than quantizing raw
  // vectors), and search probes the query's cell only: residual-ADC
  // prices the cell's codes ((q−c) − (v−c) = q − v exactly, so
  // residual ADC approximates TRUE distance), a bounded shortlist gets
  // exact float re-rank. At cluster scale the cell is a partition, the
  // codes are ~1/32 the float bytes, and the exact kernel touches 20
  // vectors — scan pruning, compression, and re-rank composed in one
  // plan. The in_cell_exact flag audits the PQ stage against the
  // cell-local exact top-5 (cell-probe recall itself is the measured
  // q_ann_ivf_kmeans/q_decontaminate_semantic ladder).
  private val IvfPqShortlist = 20
  private val IvfPqTopK = 5

  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val (cent, asgRaw) = ScalePatterns.kmeansFit(s, dir, 2)
    // (vec_id, cid, embedding) is read by residual training, the cell
    // probe, and the audit — materialize the assignment once.
    val asg = asgRaw.select("vec_id", "cid", "embedding").localCheckpoint(true)
    // Coarse codebook driver-side (cent is a local relation of the
    // already-collected rounded centroids — k rows, free): residuals
    // become one CentroidResidualVec kernel call per row, replacing
    // the (asg ⋈ broadcast cent) + interpreted zip_with shape.
    val centArr = cent.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val resid = VectorFunctions.centroidResidual(
      col("embedding"), col("cid"), centArr.map(_._1), centArr.map(_._2))
    // PQ trains on ALL residuals (the codebook sees the whole corpus,
    // as FAISS does) ...
    val (tk, tc) = trainCodebookArrays(
      asg.select(col("vec_id"), resid.as("v")))
    // ... but codes are only ever CONSUMED inside the probed cell, so
    // encode runs as a projection over the cell members alone.
    val qRow = asg.filter(col("vec_id") === 0).select("cid", "embedding").head()
    val qcell = qRow.getLong(0)
    val q = qRow.getSeq[Float](1).map(_.toDouble).toArray
    val qcvec = centArr.find(_._1 == qcell).get._2
    val qres = Array.tabulate(q.length)(i => q(i) - qcvec(i))
    val lut = adcLut(qres, tk, tc)
    val cellMembers = asg.filter(col("cid") === qcell)
    val adc = cellMembers.select(col("vec_id"),
      VectorFunctions.pqAdc(
        VectorFunctions.pqAssign(resid, tk, tc), lut).as("adc_dist"))
    val shortlist = adc.orderBy(col("adc_dist"), col("vec_id")).limit(IvfPqShortlist)
    val qlit = lit(q)
    val reranked = shortlist
      .join(cellMembers.select("vec_id", "embedding"), Seq("vec_id"))
      .select(col("vec_id"), col("adc_dist"),
        round(VectorFunctions.sqDistVec(col("embedding"), qlit), 6).as("true_dist"))
    val cellTop = cellMembers
      .select(col("vec_id"),
        round(VectorFunctions.sqDistVec(col("embedding"), qlit), 6).as("d"))
      .orderBy(col("d"), col("vec_id"))
      .limit(IvfPqTopK).select(col("vec_id"), lit(1).as("in_cell_exact"))
    reranked
      .join(cellTop, Seq("vec_id"), "left")
      .select(col("vec_id"), col("adc_dist"), col("true_dist"),
        coalesce(col("in_cell_exact"), lit(0)).as("in_cell_exact"))
      .orderBy(col("true_dist"), col("vec_id"))
      .limit(IvfPqTopK)
  }

  private val annIvfPqSql =
    s"""WITH ${ScalePatterns.kmeansCteSql},
       |rsv AS (
       |  SELECT el.vec_id, a2.cid, (el.pos - 1) // $PqD AS sub,
       |    (el.pos - 1) % $PqD AS spos, el.x - c2.c AS x
       |  FROM el JOIN a2 USING (vec_id)
       |  JOIN c2 ON c2.cid = a2.cid AND c2.pos = el.pos),
       |pc0 AS (
       |  SELECT vec_id::BIGINT AS pcid, sub, spos, x AS c FROM rsv WHERE vec_id < $PqKs),
       |pd1 AS (
       |  SELECT rsv.vec_id, rsv.sub, pc0.pcid, round(sum(pow(rsv.x - pc0.c, 2)), 6) AS dist2
       |  FROM rsv JOIN pc0 USING (sub, spos) GROUP BY 1, 2, 3),
       |pa1 AS (
       |  SELECT vec_id, sub, pcid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY dist2, pcid) AS rn FROM pd1) WHERE rn = 1),
       |pc1 AS (
       |  SELECT pa1.sub, pa1.pcid, rsv.spos, round(avg(rsv.x), 6) AS c
       |  FROM pa1 JOIN rsv USING (vec_id, sub) GROUP BY 1, 2, 3),
       |pd2 AS (
       |  SELECT rsv.vec_id, rsv.sub, pc1.pcid, round(sum(pow(rsv.x - pc1.c, 2)), 6) AS dist2
       |  FROM rsv JOIN pc1 USING (sub, spos) GROUP BY 1, 2, 3),
       |pcodes AS (
       |  SELECT vec_id, sub, pcid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY dist2, pcid) AS rn FROM pd2) WHERE rn = 1),
       |qres AS (SELECT sub, spos, x AS qx FROM rsv WHERE vec_id = 0),
       |lut AS (
       |  SELECT pc1.sub, pc1.pcid, round(sum(pow(qres.qx - pc1.c, 2)), 6) AS contrib
       |  FROM pc1 JOIN qres USING (sub, spos) GROUP BY 1, 2),
       |incell AS (
       |  SELECT vec_id FROM a2 WHERE cid = (SELECT cid FROM a2 WHERE vec_id = 0)),
       |adc AS (
       |  SELECT pcodes.vec_id, round(sum(lut.contrib), 6) AS adc_dist
       |  FROM pcodes JOIN incell USING (vec_id) JOIN lut USING (sub, pcid)
       |  GROUP BY 1),
       |shortlist AS (
       |  SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT $IvfPqShortlist),
       |cellex AS (
       |  SELECT el.vec_id, round(sum(pow(el.x - q0.qx, 2)), 6) AS true_dist
       |  FROM el JOIN incell USING (vec_id)
       |  JOIN (SELECT pos, x AS qx FROM el WHERE vec_id = 0) q0 USING (pos)
       |  GROUP BY 1),
       |celltop AS (
       |  SELECT vec_id FROM cellex ORDER BY true_dist, vec_id LIMIT $IvfPqTopK)
       |SELECT s.vec_id, s.adc_dist, e.true_dist,
       |  (s.vec_id IN (SELECT vec_id FROM celltop))::INT AS in_cell_exact
       |FROM shortlist s JOIN cellex e USING (vec_id)
       |ORDER BY e.true_dist, s.vec_id LIMIT $IvfPqTopK""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_ann_pq", annPq, Some(annPqSql)),
    Q("q_ann_ivfpq", annIvfPq, Some(annIvfPqSql)))
}
