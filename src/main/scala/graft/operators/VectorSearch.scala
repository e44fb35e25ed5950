package graft.operators

import graft.Q
import graft.io.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Vector search pack: exact kNN (cosine / dot), a bucketed ANN probe,
  * per-label centroids, and norms — the Spark expression of the
  * reference's FAISS layer (reference: alma/storage/sqlite_local.py:469-601:
  * IndexFlatIP exact search; L2-normalize-once so dot = cosine).
  *
  * Exact kNN is a scan + similarity column + top-k: Spark executes the
  * limit as a per-partition TakeOrderedAndProject, so only k rows per
  * partition ever move — the right shape for 100 TB. The ANN variant
  * prunes the scan to one sign-bucket, which at scale becomes a
  * partition key (bucket pruning instead of a full scan).
  */
object VectorSearch {

  /** Collect the single query vector on the driver (the query side of
    * kNN is a constant broadcast into the plan, like the reference
    * embedding the query text before searching).
    */
  private def queryVec(s: SparkSession, dir: String, id: Long): Array[Float] =
    Tables.embeddings(s, dir).filter(col("vec_id") === id)
      .select("embedding").head().getSeq[Float](0).toArray

  // V1 exact kNN by cosine, top-10.
  private def knnCosine(s: SparkSession, dir: String): DataFrame = {
    val q = queryVec(s, dir, 0L)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), round(cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  private val knnCosineSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id, round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS sim
      |FROM e ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  // V2 exact kNN by dot product, top-10.
  private def knnDot(s: SparkSession, dir: String): DataFrame = {
    val q = queryVec(s, dir, 0L)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), round(dotConst(col("embedding"), q), 4).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(10)
  }

  private val knnDotSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(v, (SELECT qv FROM q)), 4) AS dot
      |FROM e ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin

  // ANN probe: scan only the query's sign-bucket (8 sign bits of the
  // first 8 dims), then exact cosine top-5 inside the bucket.
  private def annBucket(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("bucket", signBucket(col("embedding"), 8))
    val qRow = e.filter(col("vec_id") === 0).select("embedding", "bucket").head()
    val q = qRow.getSeq[Float](0).toArray
    val qb = qRow.getLong(1)
    e.filter(col("bucket") === qb)
      .select(col("vec_id"), col("bucket"),
        round(cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  private val annBucketSql = {
    val bucketExpr = TextAnalysisShared.bucketExprSql(8)
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v, ($bucketExpr)::BIGINT AS bucket
       |  FROM embeddings),
       |q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0)
       |SELECT vec_id, bucket,
       |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS sim
       |FROM e WHERE bucket = (SELECT qb FROM q)
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  // Multi-probe LSH ANN (Lv et al., "Multi-probe LSH", VLDB 2007):
  // the single-bucket probe misses any neighbor whose signs differ on
  // even ONE of the 8 hyperplanes, and near-boundary vectors do. The
  // classic remedy probes the query's bucket PLUS the buckets at
  // Hamming distance 1 (each one sign flipped) — 9 of 256 cells here —
  // which multiplies cost by the probe count while recall climbs
  // toward exact. Candidate set strictly contains the single-probe
  // set, so the top-k is pointwise at least as similar (spec-pinned,
  // along with recall@5 vs the exact scan). At 100 TB this composes
  // with the partitioned layout the same way q_ann_pruned does: probe
  // P cell directories instead of 1 — still cells read, not corpus.
  private def annMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("bucket", signBucket(col("embedding"), 8))
    val qRow = e.filter(col("vec_id") === 0).select("embedding", "bucket").head()
    val q = qRow.getSeq[Float](0).toArray
    val qb = qRow.getLong(1)
    val probes = qb +: (0 until 8).map(i => qb ^ (1L << i))
    e.filter(col("bucket").isin(probes: _*))
      .select(col("vec_id"), col("bucket"),
        round(cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  private val annMultiprobeSql = {
    val bucketExpr = TextAnalysisShared.bucketExprSql(8)
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v, ($bucketExpr)::BIGINT AS bucket
       |  FROM embeddings),
       |q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0),
       |probes AS (
       |  SELECT qb AS b FROM q
       |  UNION ALL
       |  SELECT xor(qb, (1::BIGINT << i)) FROM q, generate_series(0, 7) g(i))
       |SELECT vec_id, bucket,
       |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS sim
       |FROM e WHERE bucket IN (SELECT b FROM probes)
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  // Probed-cell ANN via the Catalyst rule (SURVEY §4's deferred piece):
  // the embeddings are laid out PARTITIONED BY their sign-bucket, the
  // query only declares `ann_probe(cosine(...))` + top-k — and
  // graft.plans.AnnBucketProbe narrows the scan to the query's cell
  // directory (PartitionFilters in the plan; AnnProbeRuleSpec asserts
  // one partition read). Same results as q_ann_bucket, whose probe is
  // a hand-written runtime filter — here the PLAN does the pruning,
  // which is the shape that survives 100 TB: k cells read, not the
  // corpus.
  private def annPruned(s: SparkSession, dir: String): DataFrame = {
    graft.plans.AnnBucketProbe.install(s)
    val layout = cellLayout.getOrBuild(s, s"$dir/embeddings.parquet")(writeCellLayout(s, dir))
    val q = queryVec(s, dir, 0L)
    layout
      .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
        round(annProbe(cosineConst(col("embedding"), q), 8), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** The cell layout is a STORED table in the real design (you write
    * the corpus partitioned by bucket once, then every probe prunes):
    * written once per table state and read back, so a warm probe
    * re-lists nothing and infers no schema. Each table has one scratch
    * directory, named by a digest of its path, and a rebuild (after a
    * rewrite, or on every call with memos off) replaces the previous
    * layout there.
    */
  private val cellLayout = new graft.internal.SessionMemo[DataFrame]("ann_layout_build")

  private def writeCellLayout(s: SparkSession, dir: String): DataFrame = {
    val digest = java.util.UUID.nameUUIDFromBytes(s"$dir/embeddings.parquet".getBytes("UTF-8"))
    val layout = graft.internal.Scratch.dir(s, s"q_ann_pruned/$digest")
    Tables.embeddings(s, dir)
      .withColumn("bucket", signBucket(col("embedding"), 8))
      .write.partitionBy("bucket").parquet(layout)
    // Declare the layout's bit width so a probe with mismatched bits
    // full-scans instead of reading a wrong cell.
    graft.plans.AnnBucketProbe.recordLayoutBits(s, layout, 8)
    s.read.parquet(layout)
  }

  // Oracle = the probe semantics spelled out: restrict to the query's
  // sign-bucket, exact cosine top-5 inside it (same as q_ann_bucket).
  private val annPrunedSql = {
    val bucketExpr = TextAnalysisShared.bucketExprSql(8)
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v, ($bucketExpr)::BIGINT AS bucket
       |  FROM embeddings),
       |q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0)
       |SELECT vec_id, bucket,
       |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS sim
       |FROM e WHERE bucket = (SELECT qb FROM q)
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  // Per-label centroids (IVF coarse-quantizer training shape):
  // posexplode + groupBy(label, dim) — one shuffle keyed by (label, dim).
  private def centroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
        col("col").cast("double").as("x"))
      .groupBy("label", "pos")
      .agg(round(avg("x"), 6).as("c"))
      .orderBy("label", "pos")

  private val centroidsSql =
    """SELECT label, r.range AS pos, round(avg(embedding[r.range]::DOUBLE), 6) AS c
      |FROM embeddings, range(1, 65) r
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // L2 norms per vector.
  private def vectorNorms(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), round(norm2(col("embedding")), 4).as("l2"))
      .orderBy("vec_id")

  private val vectorNormsSql =
    """SELECT vec_id,
      |  round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) AS l2
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // V1 fused multi-similarity kNN: TWO broadcast query vectors scored
  // in ONE projection (hybrid/multi-query retrieval — the plan shape
  // the codegen kernel exists for: both CosineSimF32 calls compile
  // into the same whole-stage-codegen region, which requires the
  // freshName'd locals; under spark.sql.codegen.fallback=false the
  // suite proves the fused stage actually compiles). The blend is
  // computed from the ROUNDED sims so cross-engine double drift in the
  // 16th decimal can't flip the blended ranking.
  private def knnDual(s: SparkSession, dir: String): DataFrame = {
    val q1 = queryVec(s, dir, 0L)
    val q2 = queryVec(s, dir, 1L)
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        round(cosineConst(col("embedding"), q1), 4).as("sim_a"),
        round(cosineConst(col("embedding"), q2), 4).as("sim_b"))
      .withColumn("blend", round(col("sim_a") * 0.6 + col("sim_b") * 0.4, 4))
      .orderBy(col("blend").desc, col("vec_id"))
      .limit(10)
  }

  private val knnDualSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q1 AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |q2 AS (SELECT v AS qv FROM e WHERE vec_id = 1),
      |s AS (
      |  SELECT vec_id,
      |    round(list_cosine_similarity(v, (SELECT qv FROM q1)), 4) AS sim_a,
      |    round(list_cosine_similarity(v, (SELECT qv FROM q2)), 4) AS sim_b
      |  FROM e)
      |SELECT vec_id, sim_a, sim_b,
      |  round(0.6 * sim_a + 0.4 * sim_b, 4) AS blend
      |FROM s ORDER BY blend DESC, vec_id LIMIT 10""".stripMargin

  // J1/O2 filtered kNN: predicates prune the scan BEFORE similarity —
  // in Spark the filter and the similarity are one DataFrame (no
  // candidate-id round-trip like the reference's FAISS→SQL IN-list).
  private def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val q = queryVec(s, dir, 0L)
    Tables.documents(s, dir)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"),
        round(cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(10)
  }

  private val knnFilteredSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT d.doc_id, d.lang,
      |  round(list_cosine_similarity(e.v, (SELECT qv FROM q)), 4) AS sim
      |FROM documents d JOIN e ON d.doc_id = e.vec_id
      |WHERE d.lang = 'en' AND d.n_chars >= 200
      |ORDER BY sim DESC, doc_id LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // q_random_projection — Johnson–Lindenstrauss sign projection
  // (Achlioptas 2003): 64-d → 16-d via a deterministic ±1 matrix
  // (sign = parity of the shared md5 hash of "j:pos"), y = Sx/√k. The
  // third compression axis next to int8 quantization and PQ: 4× fewer
  // dimensions with distance preserved in expectation, and the
  // projection is ONE broadcast join against a 1024-row sign frame +
  // a map-side-combined per-(vector, out-dim) sum — no training step
  // at all, so it composes upstream of any of the ANN paths. Search is
  // the production two-stage: projected-space cosine prices everything,
  // the top-50 shortlist alone gets original-space cosine, and the
  // exact re-rank emits top-10 with an in-exact-top-10 recall flag
  // (measured 5/10 at sf0.01 with a 10%-of-corpus shortlist — the
  // honest ceiling for k = 16 over isotropic vectors, where true
  // neighbor sims are themselves near zero).
  private val JlK = 16
  private val JlShortlist = 50

  private def randomProjection(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val el = e.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("pos"),
        col("col").cast("double").as("x"))
    val signs = s.range(1, 65).toDF("pos")
      .crossJoin(s.range(0, JlK).toDF("j"))
      .select(col("pos"), col("j"),
        when(TextAnalysisShared.hash64(concat(col("j").cast("string"),
          lit(":"), col("pos").cast("string"))) % 2 === 0, lit(1))
          .otherwise(lit(-1)).as("sgn"))
    val proj = el.join(broadcast(signs), Seq("pos"))
      .groupBy("vec_id", "j")
      .agg(round(sum(col("x") * col("sgn")) / lit(4.0), 6).as("y"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("y")))),
        t => t.getField("y")).as("pv"))
    val q = proj.filter(col("vec_id") === 0).select(col("pv").as("qpv"))
    val qorig = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val orig = e.crossJoin(broadcast(qorig))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 4).as("sim_orig"))
    val exactTop = orig.orderBy(col("sim_orig").desc, col("vec_id"))
      .limit(10).select(col("vec_id"), lit(1).as("in_exact"))
    // the cosine kernel reads double arrays directly (projected
    // vectors) — same double accumulation the HOF form used.
    val shortlist = proj.crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("pv"), col("qpv")), 4).as("sim_proj"))
      .orderBy(col("sim_proj").desc, col("vec_id"))
      .limit(JlShortlist)
    shortlist
      .join(orig, Seq("vec_id"))
      .join(exactTop, Seq("vec_id"), "left")
      .select(col("vec_id"), col("sim_proj"), col("sim_orig"),
        coalesce(col("in_exact"), lit(0)).as("in_exact"))
      .orderBy(col("sim_orig").desc, col("vec_id"))
      .limit(10)
  }

  private val randomProjectionSql =
    s"""WITH el AS (
       |  SELECT vec_id, r.range AS pos, embedding[r.range]::DOUBLE AS x
       |  FROM embeddings, range(1, 65) r),
       |sg AS (
       |  SELECT i.range AS pos, j.range AS j,
       |    CASE WHEN ('0x' || substr(md5(j.range || ':' || i.range), 1, 15))::BIGINT % 2 = 0
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM range(1, 65) i CROSS JOIN range(0, $JlK) j),
       |pr AS (
       |  SELECT el.vec_id, sg.j, round(sum(el.x * sg.sgn) / 4.0, 6) AS y
       |  FROM el JOIN sg USING (pos) GROUP BY 1, 2),
       |pv AS (SELECT vec_id, list(y ORDER BY j) AS pv FROM pr GROUP BY 1),
       |q AS (SELECT pv AS qpv FROM pv WHERE vec_id = 0),
       |eo AS (
       |  SELECT e.vec_id, round(list_cosine_similarity(e.embedding::DOUBLE[],
       |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) AS sim_orig
       |  FROM embeddings e),
       |extop AS (SELECT vec_id FROM eo ORDER BY sim_orig DESC, vec_id LIMIT 10),
       |short AS (
       |  SELECT p.vec_id,
       |    round(list_cosine_similarity(p.pv, (SELECT qpv FROM q)), 4) AS sim_proj
       |  FROM pv p ORDER BY sim_proj DESC, p.vec_id LIMIT $JlShortlist)
       |SELECT s.vec_id, s.sim_proj, eo.sim_orig,
       |  (s.vec_id IN (SELECT vec_id FROM extop))::INT AS in_exact
       |FROM short s JOIN eo USING (vec_id)
       |ORDER BY sim_orig DESC, s.vec_id LIMIT 10""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_random_projection", randomProjection, Some(randomProjectionSql)),
    Q("q_knn_filtered", knnFiltered, Some(knnFilteredSql)),
    Q("q_knn_cosine", knnCosine, Some(knnCosineSql)),
    Q("q_knn_dot", knnDot, Some(knnDotSql)),
    Q("q_knn_dual", knnDual, Some(knnDualSql)),
    Q("q_ann_bucket", annBucket, Some(annBucketSql)),
    Q("q_ann_multiprobe", annMultiprobe, Some(annMultiprobeSql)),
    Q("q_ann_pruned", annPruned, Some(annPrunedSql)),
    Q("q_centroids", centroids, Some(centroidsSql)),
    Q("q_vector_norms", vectorNorms, Some(vectorNormsSql)))
}
