package graft.operators

import graft.Q
import graft.io.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-selection pack — the "which documents do we train on" operators
  * that sit between dedup and export in a pretraining pipeline, built
  * from published recipes (none of this exists in the reference; it is
  * the 100 TB curation surface the build mandate asks for):
  *
  *  - q_dsir_select — DSIR-style importance resampling (Xie et al.,
  *    "Data Selection for Language Models via Importance Resampling",
  *    NeurIPS 2023): hashed-unigram bag-of-words models of a target
  *    slice and of the raw corpus; a document's log importance weight
  *    is the sum over its tokens of log p_target − log p_raw. BOTH
  *    models are bounded at `DsirBuckets` rows by construction (the
  *    feature space is the hash range, not the vocabulary) and come out
  *    of ONE corpus aggregate, with their totals derived from the model
  *    table itself — so they broadcast at ANY corpus size and the
  *    corpus is tokenized exactly twice (model build + scoring pass).
  *
  *  - q_semantic_dedup — SemDeDup-style semantic dedup (Abbas et al.,
  *    2023): assign every embedding to its nearest codebook centroid,
  *    then inside each cluster drop all but one of every near-identical
  *    group (pairwise cosine ≥ τ), keeping the member FARTHEST from the
  *    centroid (lowest centroid-sim — the paper's diversity-preserving
  *    choice). The codebook is k rows and broadcasts; pairwise work is
  *    cluster-local, never corpus-wide — the exact blocking SemDeDup
  *    uses to make within-cluster O(c²) affordable at web scale.
  *
  *  - q_dedup_canonical — canonical-document selection over near-dup
  *    clusters: the MinHash-LSH connected components (shared with
  *    q_consolidate_merge) with a per-cluster argmax instead of a
  *    min-id representative — keep the LONGEST member (the common
  *    curation heuristic: near-dup groups keep their most complete
  *    copy, not their first-seen copy).
  */
object Selection {

  // -------------------------------------------------------------------
  // q_dsir_select — hashed n-gram importance weights.

  /** Hashed feature space size. Fixed and small: the model tables are
    * ≤ this many rows no matter how large the corpus or vocabulary —
    * that bound (not a top-k cut) is what makes the broadcast safe by
    * construction.
    */
  private val DsirBuckets = 1024L

  /** The "target" distribution: a curated-like source slice standing in
    * for the high-quality corpus DSIR resamples toward (in the paper:
    * Wikipedia + books; here: four named sources of the documents
    * table).
    */
  private val DsirTargetSources = Seq("src0", "src1", "src2", "src3")

  /** Per-document sparse hashed-token bucket counts — the compiled
    * feature pass ([[graft.functions.expressions.BucketCountsExpr]]):
    * one call per row, no token row ever exists. Hash contract
    * unchanged (60-bit md5 prefix mod buckets, the hash64 formula).
    */
  private def bucketCountsN(textCol: Column, buckets: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.BucketCountsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(textCol), buckets))

  private def bucketCounts(textCol: Column): Column =
    bucketCountsN(textCol, DsirBuckets.toInt)

  private def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), bucketCounts(col("text")).as("bc"))
    val isTarget = col("source").isin(DsirTargetSources: _*)
    // BOTH bucket-count models from ONE bounded aggregate over the
    // per-doc sparse counts (≤ DsirBuckets groups; the target count is
    // a conditional sum inside the same groupBy) — no token occurrence
    // ever reaches an exchange. The model is then a DRIVER-built
    // per-bucket log-weight table (≤ 1024 doubles — bounded by
    // construction, the codebook-collect discipline), and the totals
    // are its integer column sums, exact.
    val models = docs.select(isTarget.as("t"), explode(col("bc")).as("e"))
      .groupBy(col("e.b").as("b"))
      .agg(sum(col("e.cnt")).as("cr"),
        sum(when(col("t"), col("e.cnt")).otherwise(0L)).as("ct"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2)))
    val nR = models.map(_._2).sum
    val nT = models.map(_._3).sum
    // lw per bucket, exactly the per-occurrence expression's arithmetic
    // (coalesce(0) for buckets outside the model = the empty-table
    // default every slot starts from).
    val lut = Array.fill(DsirBuckets.toInt)(
      math.log(1.0 / (nT + DsirBuckets.toDouble)) -
        math.log(1.0 / (nR + DsirBuckets.toDouble)))
    models.foreach { case (b, cr, ct) =>
      lut(b) = math.log((ct + 1.0) / (nT + DsirBuckets.toDouble)) -
        math.log((cr + 1.0) / (nR + DsirBuckets.toDouble))
    }
    // Per-document importance weight as one fold over the sparse
    // counts: Σ cnt_b·lw_b. Residual risk, accepted: the ADDEND
    // MULTISET differs from the oracle's per-occurrence sum (cnt·lw
    // once vs lw added cnt times), so the two sums can disagree in the
    // last ulp; the shared round(_, 4) absorbs that everywhere except
    // a weight sitting exactly on a 5e-5 rounding boundary, where hash
    // parity could flip on unlucky data. If such a flip ever surfaces,
    // accumulate per-bucket PRODUCTS with the oracle's grouping (or
    // compare at a coarser epsilon) — don't chase it in the kernel.
    val dot = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.BucketDotExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("bc")), lut))
    val scored = docs
      .select(col("doc_id"), dot.as("d"))
      .select(col("doc_id"), col("d.n_toks").as("n_toks"),
        round(col("d.raw"), 4).as("logw"))
    // Resample the most-target-like quartile: the selection threshold
    // is ONE double (the p75 of the weights) broadcast into a compare —
    // the same shape as q_lm_filter's cut, with the documented
    // approx_percentile swap at cluster scale.
    val thr = scored.agg(expr("percentile(logw, 0.75)").as("thr"))
    scored.crossJoin(broadcast(thr))
      .withColumn("selected", (col("logw") >= col("thr")).cast("int"))
      .select("doc_id", "n_toks", "logw", "selected")
      .orderBy("doc_id")
  }

  private val dsirTargetInSql =
    DsirTargetSources.map(s0 => s"'$s0'").mkString("(", ", ", ")")

  private val dsirSelectSql =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
       |        FROM documents)),
       |tm AS (SELECT b, count(*)::BIGINT AS ct FROM tok
       |       WHERE source IN $dsirTargetInSql GROUP BY 1),
       |rm AS (SELECT b, count(*)::BIGINT AS cr FROM tok GROUP BY 1),
       |nt AS (SELECT count(*)::BIGINT AS n_t FROM tok WHERE source IN $dsirTargetInSql),
       |nr AS (SELECT count(*)::BIGINT AS n_r FROM tok),
       |sc AS (
       |  SELECT tok.doc_id,
       |    ln((coalesce(tm.ct, 0) + 1.0) / (nt.n_t + $DsirBuckets.0)) -
       |    ln((coalesce(rm.cr, 0) + 1.0) / (nr.n_r + $DsirBuckets.0)) AS lw
       |  FROM tok
       |  LEFT JOIN tm USING (b)
       |  LEFT JOIN rm USING (b)
       |  CROSS JOIN nt CROSS JOIN nr),
       |dw AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_toks, round(sum(lw), 4) AS logw
       |  FROM sc GROUP BY doc_id),
       |t AS (SELECT quantile_cont(logw, 0.75) AS thr FROM dw)
       |SELECT doc_id, n_toks, logw, (logw >= t.thr)::INT AS selected
       |FROM dw, t ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_quality_classifier — the GPT-3-style quality filter (Brown et
  // al. 2020, Appendix A): train a classifier with curated corpora as
  // the positive class and the raw crawl as the negative class, score
  // every document, keep the ones that look curated. The published
  // recipe's logistic-regression-over-hashed-features step is here a
  // multinomial Naive Bayes over a capped real vocabulary — the NB
  // log-likelihood ratio IS a linear text classifier whose weights are
  // CLOSED-FORM from one counting aggregate, so training is a single
  // map-side-combined corpus pass with no iterative optimizer to
  // distribute. (DSIR above is the hashed-feature sibling; this one
  // keeps real tokens so the weights are inspectable.)
  //
  // Scale shape: model = ONE groupBy(token) aggregate, capped at the
  // top `NbVocabCap` tokens by a (count desc, token) total order →
  // broadcasts at ANY corpus size; class totals and vocabulary size
  // derive from the model table, priors from a two-row doc count;
  // scoring = explode + broadcast join + per-doc sum. Tokens cut from
  // the vocab (or never seen) score through the smoothing floor on
  // both classes — a constant per-token weight, same as an unseen
  // word.

  private val NbVocabCap = 65536

  /** NB-scored corpus: (doc_id, n_toks, logit rounded to 4) — shared
    * by the classifier query and the Pareto-keep rule below.
    */
  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isPos = col("source").isin(DsirTargetSources: _*)
    val tok = Tables.spread(docs)
      .select(col("doc_id"), isPos.as("pos"),
        explode(split(col("text"), " ")).as("w"))
    // r17: REVERTED to the two-pass shape after the ×30 decade sweep
    // adjudicated the r16 single-pass rewrite a REAL regression at
    // scale (pareto 2.94 → 3.91 s best-of, classifier 2.14 → 2.39;
    // bench/r17_up4_x30_*). The r16 shape aggregated per (doc_id, w)
    // FIRST to share one tokenize between model and scorer — but most
    // (doc, w) counts are 1, so map-side combine barely shrinks that
    // exchange and it shuffles near-raw corpus tokens; the two-pass
    // shape's aggregates (per-w model, per-doc score) both combine
    // map-side to tiny exchanges (guide §2.3: aggregate BEFORE you
    // shuffle — the keys must actually collapse rows). The second
    // corpus scan is linear and beats the corpus-sized exchange at
    // every measured scale, including sf0.1 on this host (ITERS=5
    // pack: pareto 0.90 → 0.77 s, classifier 0.79 → 0.70;
    // bench/r17_nb_sf01_*).
    val model = tok.groupBy("w").agg(
      count(lit(1)).as("n"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("cp"))
      .orderBy(col("n").desc, col("w"))
      .limit(NbVocabCap)
    // Totals + vocabulary size from the capped model table itself —
    // no extra corpus scan, and the smoothing denominator matches the
    // table the scorer actually joins against.
    val totals = model.agg(
      sum("cp").as("tp"), sum(col("n") - col("cp")).as("tn"),
      count(lit(1)).as("v"))
    val priors = docs.agg(
      sum(when(isPos, 1L).otherwise(0L)).as("dp"),
      sum(when(isPos, 0L).otherwise(1L)).as("dn"))
    tok
      .join(broadcast(model), Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (log((coalesce(col("cp"), lit(0L)) + lit(1.0)) /
            (col("tp") + col("v") + lit(1.0))) -
          log((coalesce(col("n") - col("cp"), lit(0L)) + lit(1.0)) /
            (col("tn") + col("v") + lit(1.0)))).as("lw"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("lw").as("sw"))
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("n_toks"),
        round(col("sw") +
          log((col("dp") + lit(1.0)) / (col("dn") + lit(1.0))), 4).as("logit"))
  }

  private def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    nbScored(s, dir)
      .withColumn("pred", (col("logit") > 0.0).cast("int"))
      .orderBy("doc_id")

  /** The NB scoring CTE chain ending in `scored(doc_id, n_toks, logit)`;
    * prepend WITH and append a final SELECT (the lmCtes pattern).
    */
  private val nbCtes =
    s"""tok AS (
       |  SELECT doc_id, source IN $dsirTargetInSql AS pos,
       |    unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |m AS (
       |  SELECT w, count(*)::BIGINT AS n,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS cp
       |  FROM tok GROUP BY 1 ORDER BY n DESC, w LIMIT $NbVocabCap),
       |t AS (SELECT sum(cp)::BIGINT AS tp, sum(n - cp)::BIGINT AS tn,
       |             count(*)::BIGINT AS v FROM m),
       |p AS (
       |  SELECT sum(CASE WHEN source IN $dsirTargetInSql THEN 1 ELSE 0 END)::BIGINT AS dp,
       |         sum(CASE WHEN source IN $dsirTargetInSql THEN 0 ELSE 1 END)::BIGINT AS dn
       |  FROM documents),
       |sc AS (
       |  SELECT tok.doc_id,
       |    ln((coalesce(m.cp, 0) + 1.0) / (t.tp + t.v + 1.0)) -
       |    ln((coalesce(m.n - m.cp, 0) + 1.0) / (t.tn + t.v + 1.0)) AS lw
       |  FROM tok LEFT JOIN m USING (w) CROSS JOIN t),
       |dw AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_toks, sum(lw) AS sw
       |  FROM sc GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, n_toks,
       |    round(sw + ln((p.dp + 1.0) / (p.dn + 1.0)), 4) AS logit
       |  FROM dw CROSS JOIN p)""".stripMargin

  private val qualityClassifierSql =
    s"""WITH $nbCtes
       |SELECT doc_id, n_toks, logit, (logit > 0.0)::INT AS pred
       |FROM scored ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_pareto_select — the rest of the GPT-3 Appendix A recipe: instead
  // of a hard classifier cut, keep a document when
  //   pareto(α = 9) > 1 − score,
  // so high-scoring docs almost always survive and low-scoring docs
  // survive occasionally — preserving tail diversity a hard threshold
  // destroys (the paper's stated reason for the rule). Made
  // reproducible the engine's standard way: the Pareto draw comes from
  // a deterministic per-doc hash-uniform through the inverse CDF
  // (x = u^(−1/α) − 1), so membership is a pure function of doc_id —
  // stable across runs, machine counts, and retries. score =
  // sigmoid(logit) maps the NB log-odds onto the classifier-probability
  // scale the published rule expects. Scale shape: the scored frame's
  // cost (one model aggregate + one scoring pass) plus a pure
  // projection — nothing new shuffles.
  private val ParetoAlpha = 9.0

  private def paretoSelect(s: SparkSession, dir: String): DataFrame = {
    val u = TextAnalysisShared.hashUniform(concat(lit("pareto"), col("doc_id").cast("string")))
    nbScored(s, dir)
      .withColumn("u", u)
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("logit"))))
      .withColumn("draw", pow(col("u"), lit(-1.0 / ParetoAlpha)) - lit(1.0))
      .select(col("doc_id"), col("logit"),
        round(col("score"), 6).as("score"),
        round(col("draw"), 6).as("draw"),
        (col("draw") > (lit(1.0) - col("score"))).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  private val paretoSelectSql =
    s"""WITH $nbCtes,
       |pr AS (
       |  SELECT doc_id, logit,
       |    1.0 / (1.0 + exp(-logit)) AS score,
       |    pow((('0x' || substr(md5('pareto' || doc_id::VARCHAR), 1, 15))::BIGINT + 0.5)
       |        / 1152921504606846976.0, -1.0 / $ParetoAlpha) - 1.0 AS draw
       |  FROM scored)
       |SELECT doc_id, logit, round(score, 6) AS score, round(draw, 6) AS draw,
       |  (draw > 1.0 - score)::INT AS kept
       |FROM pr ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_semantic_dedup — codebook assign + within-cluster near-dup drop.

  /** Pairwise-cosine threshold above which two same-cluster members are
    * semantic duplicates (0.3 matches the embedding-dedup family on
    * this synthetic corpus; SemDeDup's web-scale setting is ~0.95+).
    */
  private val SemTau = 0.3

  /** The k-entry codebook: per-label mean vectors (the shared
    * [[ScalePatterns.meanCentroids]] formula, so the 6-decimal
    * rounding contract both oracles pin lives in one copy). At 100 TB
    * the codebook is trained on a sample (k-means — `q_kmeans_train`
    * is the trainer); its SIZE is k — always broadcast — regardless of
    * corpus size.
    */
  private[operators] def codebook(e: DataFrame): DataFrame =
    ScalePatterns.meanCentroids(e, col("label"), col("embedding"), "cl")
      .select(col("cl"), col("cvec").as("centroid"))

  /** Nearest-centroid assignment: the corpus against the k collected
    * codebook rows, argmax by (rounded cosine desc, centroid id) — the
    * IVF coarse assign, and the clustering step SemDeDup blocks on.
    * ONE compiled kernel call per row ([[VectorFunctions
    * .nearestCellCos]]): the k-candidate frame never exists, so the
    * assign is a shuffle-free projection — the previous map-side-
    * combined `max(struct(csim, -cl, …))` argmax still scored n·k
    * interpreted HOF cosines per pass even though its exchange was one
    * row per vector. The codebook collect is k rows (bounded by label
    * cardinality; at 100 TB by the trained k). The declarative twin
    * (`ParityTwins.assignedDeclarative`, in the specs) is parity-pinned
    * by CentroidKernelSpec.
    */
  private[operators] def assigned(e: DataFrame): DataFrame = {
    val cb = codebook(e).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val nc = VectorFunctions.nearestCellCos(
      col("embedding"), cb.map(_._1), cb.map(_._2))
    // `cluster` keeps the label column's own type (the kernel carries
    // ids as long) so the output schema is unchanged vs the oracle.
    e.select(col("vec_id"),
      nc.getField("cl").cast(e.schema("label").dataType).as("cluster"),
      nc.getField("csim").as("csim"), col("embedding"))
  }

  private def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val asg = assigned(Tables.embeddings(s, dir))
    // A member is dropped when a same-cluster near-identical member
    // (pairwise cosine ≥ τ) exists that is FARTHER from the centroid
    // (strictly lower csim, id as the tie-break) — so each duplicate
    // neighborhood keeps exactly its (csim, id)-minimal member, the
    // diversity-preserving choice.
    //
    // The drop rule sees a member only through (cluster, csim,
    // pairwise cosine), and all three are functions of the embedding
    // ARRAY — members with bit-identical vectors are interchangeable
    // to every comparison in the rule. So the quadratic stage runs on
    // one representative per distinct (cluster, vector) FAMILY and the
    // verdict expands back to members in one linear join: on a corpus
    // where near-dups are mostly exact copies (the upsampled decades
    // here; any crawl corpus before exact dedup) that is families²
    // instead of members² pair work. Per family B the aggregate keeps
    //   drop_all — ∃ family A, cos ≥ τ, csim_A < csim_B: all of B drops;
    //   thr — min fmin_A over A with cos ≥ τ, csim_A = csim_B: the
    //     member tie-break applied at the family floor, b drops iff
    //     b.id > thr. B's SELF-pair (cos(v,v) ≥ τ barring degenerate
    //     zero vectors, which the cosine filter keeps faithful) feeds
    //     thr its own fmin, which is exactly the within-family rule —
    //     everything above the family's minimal id drops.
    // Pairs stay cluster-local and salted ([[Salting.pairSalts]]) —
    // family count is corpus-sized when nothing repeats, so the join
    // must still spread across tasks.
    val fam = asg.groupBy("cluster", "embedding")
      .agg(first("csim").as("csim"), min("vec_id").as("fmin"))
      // family-level norms, materialized with the frame — the pair scan
      // below then pays one dot + divide per candidate
      // ([[VectorFunctions.cosinePrenorm]] bit-parity contract)
      .withColumn("nrm", VectorFunctions.rowNorm(col("embedding")))
      .localCheckpoint(true) // read 3x: both pair sides + expansion
    // Post-collapse candidate volume decides whether the exact
    // families² contract may run blind ([[PairGuard]]): Σ_cluster
    // families² off the already-materialized family frame. Routed mode
    // sub-blocks each cluster by the 8-bit sign bucket — pairs whose
    // hyperplane signs agree still collide, so routed drops ⊆ exact
    // drops within the SAME output schema (the standard LSH recall
    // trade; q_semantic_dedup_blocked is the member-level contract of
    // the same idea).
    val exact = PairGuard.allowExact(s, "q_semantic_dedup")(PairGuard.squaredBlockCensus(fam, "cluster"))
    val famB = fam.withColumn("blk",
      if (exact) lit(0L) else VectorFunctions.signBucket(col("embedding"), 8))
    val salts = Salting.pairSalts(s)
    val famA = famB.select(col("cluster"), col("blk"), col("csim").as("a_csim"),
      col("fmin").as("a_fmin"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    val verdicts = famB
      .withColumn("salt", pmod(hash(col("fmin")), lit(salts)))
      .join(famA, Seq("cluster", "blk", "salt"))
      .filter(col("a_csim") <= col("csim"))
      .filter(round(VectorFunctions.cosinePrenorm(
        VectorFunctions.dotD(col("embedding"), col("a_emb")),
        col("nrm"), col("a_nrm")), 4) >= SemTau)
      .groupBy("cluster", "fmin")
      .agg(
        max(when(col("a_csim") < col("csim"), lit(1)).otherwise(lit(0))).as("drop_all"),
        min(when(col("a_csim") === col("csim"), col("a_fmin"))).as("thr"))
    asg.join(fam.select("cluster", "embedding", "fmin"), Seq("cluster", "embedding"))
      .join(verdicts, Seq("cluster", "fmin"), "left")
      .select(col("vec_id"), col("cluster"), col("csim"),
        when(col("drop_all") === 1 ||
          (col("thr").isNotNull && col("vec_id") > col("thr")), lit(0))
          .otherwise(lit(1)).as("kept"))
      .orderBy("vec_id")
  }

  // The oracle pins the corpus contract's 64-dim embeddings (the Spark
  // side is dimension-agnostic via posexplode).
  private val semanticDedupSql =
    s"""WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |cen AS (
       |  SELECT label AS cl, list(c ORDER BY pos) AS cv FROM (
       |    SELECT label, pos, round(avg(v[pos]), 6) AS c
       |    FROM el CROSS JOIN
       |      (SELECT unnest(generate_series(1, 64)) AS pos) g
       |    GROUP BY label, pos)
       |  GROUP BY label),
       |asg AS (
       |  SELECT vec_id, cl AS cluster, csim, v FROM (
       |    SELECT el.vec_id, el.v, cen.cl,
       |      round(list_cosine_similarity(el.v, cen.cv), 4) AS csim,
       |      row_number() OVER (PARTITION BY el.vec_id
       |        ORDER BY round(list_cosine_similarity(el.v, cen.cv), 4) DESC, cen.cl) AS rn
       |    FROM el CROSS JOIN cen)
       |  WHERE rn = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg b JOIN asg a ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $SemTau
       |    AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id)))
       |SELECT asg.vec_id, cluster, csim,
       |  (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::INT AS kept
       |FROM asg LEFT JOIN dropped d ON d.vec_id = asg.vec_id
       |ORDER BY asg.vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q_semantic_dedup_blocked — the CLUSTER-SCALE leg of q_semantic_dedup.
  // At fixed k the within-cluster pair count grows quadratically with
  // the corpus (measured: 4.7× time at ×100 rows,
  // bench/r08_scale_selection.json); SemDeDup's production remedy grows
  // k with the corpus so cluster sizes stay bounded. When re-clustering
  // is off the table (k is fixed by the codebook you ship), the same
  // bound comes from sub-blocking each cluster by an 8-bit sign-LSH
  // bucket: pairs form only inside (cluster, bucket), so a cluster of
  // c members costs Σ|cell|² ≪ c² while near-identical vectors — whose
  // hyperplane signs agree — still collide. Same keep-rule; the recall
  // trade is the standard LSH one (a near-dup pair straddling a
  // bucket boundary survives blocked mode).
  private def semanticDedupBlocked(s: SparkSession, dir: String): DataFrame = {
    val asg = assigned(Tables.embeddings(s, dir))
      .withColumn("bucket", VectorFunctions.signBucket(col("embedding"), 8))
      .withColumn("nrm", VectorFunctions.rowNorm(col("embedding")))
    val other = asg.select(col("cluster"), col("bucket"), col("vec_id").as("o_id"),
      col("csim").as("o_csim"), col("embedding").as("o_emb"), col("nrm").as("o_nrm"))
    val dropped = asg.join(other, Seq("cluster", "bucket"))
      .filter(col("o_id") =!= col("vec_id"))
      .filter(round(VectorFunctions.cosinePrenorm(
        VectorFunctions.dotD(col("embedding"), col("o_emb")),
        col("nrm"), col("o_nrm")), 4) >= SemTau)
      .filter(col("o_csim") < col("csim") ||
        (col("o_csim") === col("csim") && col("o_id") < col("vec_id")))
      .select("vec_id").distinct()
      .withColumn("is_dropped", lit(1))
    asg.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("bucket"), col("csim"),
        when(col("is_dropped").isNull, lit(1)).otherwise(lit(0)).as("kept"))
      .orderBy("vec_id")
  }

  private val semanticDedupBlockedSql = {
    val bucketExpr = TextAnalysisShared.bucketExprSql(8, "v")
    s"""WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |cen AS (
       |  SELECT label AS cl, list(c ORDER BY pos) AS cv FROM (
       |    SELECT label, pos, round(avg(v[pos]), 6) AS c
       |    FROM el CROSS JOIN
       |      (SELECT unnest(generate_series(1, 64)) AS pos) g
       |    GROUP BY label, pos)
       |  GROUP BY label),
       |asg AS (
       |  SELECT vec_id, cl AS cluster, ($bucketExpr)::BIGINT AS bucket, csim, v FROM (
       |    SELECT el.vec_id, el.v, cen.cl,
       |      round(list_cosine_similarity(el.v, cen.cv), 4) AS csim,
       |      row_number() OVER (PARTITION BY el.vec_id
       |        ORDER BY round(list_cosine_similarity(el.v, cen.cv), 4) DESC, cen.cl) AS rn
       |    FROM el CROSS JOIN cen)
       |  WHERE rn = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg b JOIN asg a
       |    ON a.cluster = b.cluster AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $SemTau
       |    AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id)))
       |SELECT asg.vec_id, cluster, bucket, csim,
       |  (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::INT AS kept
       |FROM asg LEFT JOIN dropped d ON d.vec_id = asg.vec_id
       |ORDER BY asg.vec_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q_proto_prune — prototypicality pruning (Sorscher et al. 2022,
  // "Beyond neural scaling laws": with abundant data, pruning the
  // EASIEST — most prototypical — examples beats random pruning).
  // Prototypicality is the SSL-prototypes metric: cosine similarity to
  // the example's cluster centroid (shared `assigned` machinery — the
  // same k-row broadcast codebook SemDeDup blocks on). Inside each
  // cluster, rank by (csim desc, vec_id) and drop the top
  // ceil(`ProtoDropFrac` · cluster size) — the most centroid-like
  // members — keeping the hard tail. Scale shape: one broadcast assign
  // pass + one window partitioned by cluster; nothing pairwise, no
  // corpus-wide sort. (D4 = this composed AFTER q_semantic_dedup.)
  private val ProtoDropFrac = 0.25

  private def protoPrune(s: SparkSession, dir: String): DataFrame = {
    val asg = assigned(Tables.embeddings(s, dir))
    val rank = Window.partitionBy("cluster").orderBy(col("csim").desc, col("vec_id"))
    asg
      .withColumn("rn", row_number().over(rank).cast("long"))
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("cluster")))
      .withColumn("kept",
        (col("rn") > ceil(col("csize") * lit(ProtoDropFrac))).cast("int"))
      .select(col("vec_id"), col("cluster"), col("csim"), col("rn"), col("kept"))
      .orderBy("vec_id")
  }

  private val protoPruneSql =
    s"""WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |cen AS (
       |  SELECT label AS cl, list(c ORDER BY pos) AS cv FROM (
       |    SELECT label, pos, round(avg(v[pos]), 6) AS c
       |    FROM el CROSS JOIN
       |      (SELECT unnest(generate_series(1, 64)) AS pos) g
       |    GROUP BY label, pos)
       |  GROUP BY label),
       |asg AS (
       |  SELECT vec_id, cl AS cluster, csim FROM (
       |    SELECT el.vec_id, cen.cl,
       |      round(list_cosine_similarity(el.v, cen.cv), 4) AS csim,
       |      row_number() OVER (PARTITION BY el.vec_id
       |        ORDER BY round(list_cosine_similarity(el.v, cen.cv), 4) DESC, cen.cl) AS rn
       |    FROM el CROSS JOIN cen)
       |  WHERE rn = 1),
       |rk AS (
       |  SELECT vec_id, cluster, csim,
       |    row_number() OVER (PARTITION BY cluster ORDER BY csim DESC, vec_id)::BIGINT AS rn,
       |    count(*) OVER (PARTITION BY cluster)::BIGINT AS csize
       |  FROM asg)
       |SELECT vec_id, cluster, csim, rn,
       |  (rn > ceil(csize * $ProtoDropFrac))::INT AS kept
       |FROM rk ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q_dedup_canonical — keep the best member of each near-dup cluster.

  private def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val labeled = TextAnalysisShared.cachedDocSigs(s, dir).ccLabels
      .join(docs, col("node") === col("doc_id"))
    // Per-cluster argmax by (n_chars desc, doc_id): the canonical copy
    // is the longest member, deterministically tie-broken. One
    // partitioned window over the cluster label — no pair set.
    val rank = Window.partitionBy("comp")
      .orderBy(col("n_chars").desc, col("doc_id"))
    labeled
      .withColumn("rn", row_number().over(rank))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy("comp")))
      .filter(col("rn") === 1)
      .select(col("comp"), col("group_size"),
        col("doc_id").as("canon_doc"), col("n_chars").as("canon_chars"))
      .orderBy("comp")
  }

  private val dedupCanonicalSql =
    s"""WITH RECURSIVE ${Lifecycle.minhashCcCteSql},
       |sel AS (
       |  SELECT c.comp, d.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY c.comp
       |      ORDER BY d.n_chars DESC, d.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY c.comp) AS gs
       |  FROM comp c JOIN documents d ON c.node = d.doc_id)
       |SELECT comp, gs::BIGINT AS group_size, doc_id AS canon_doc,
       |  n_chars AS canon_chars
       |FROM sel WHERE rn = 1 ORDER BY comp""".stripMargin

  // -------------------------------------------------------------------
  // q_logreg_train — a distributed logistic-regression quality
  // classifier trained with 2 deterministic full-batch gradient steps
  // (the iterative-ML twin of the closed-form NB above; same
  // curated-vs-crawl labels). Features are hashed-unigram relative
  // frequencies over LrBuckets buckets, so the weight vector is
  // bounded by construction; every training round is
  //   score: per-doc z = Σ_b w[b]·x[b] + bias (≤ B joined rows/doc,
  //          rounded so both engines sigmoid identical logits)
  //   grad:  one bucket-keyed aggregate (B rows out of the exchange)
  // — the canonical data-parallel GD shape: gradients, not rows, cross
  // the wire. Output is the training curve (step, loss, acc); the
  // loss must strictly decrease (spec-pinned).
  private val LrBuckets = 64L
  private val LrRate = 4.0
  private val LrSteps = 2

  private def logregTrain(s: SparkSession, dir: String): DataFrame = {
    val isPos = col("source").isin(DsirTargetSources: _*)
    // Per-doc hashed bucket histograms through the compiled
    // [[graft.functions.expressions.BucketCountsExpr]] kernel (the DSIR
    // feature pass): the kernel's `parseLong(md5hex[0,15), 16) % B` is
    // exactly `pmod(hash64(w), B)`, so the old token explode +
    // (doc, y, b) groupBy + per-doc window — three corpus-sized
    // exchanges per invocation — collapse into one projection. Value
    // parity is exact: same cnt, same n_toks (= Σ cnt, the window it
    // replaces), same x division. n_toks folds in its own select so it
    // lands BELOW the explode (ExtractGenerator re-evaluates
    // same-select expressions once per emitted row — the r12 lesson).
    val feat = Tables.documents(s, dir)
      .select(col("doc_id"), isPos.cast("int").cast("double").as("y"),
        bucketCountsN(col("text"), LrBuckets.toInt).as("bc"))
      .select(col("doc_id"), col("y"), col("bc"),
        aggregate(col("bc"), lit(0L), (a, e) => a + e.getField("cnt")).as("n_toks"))
      .select(col("doc_id"), col("y"), col("n_toks"), explode(col("bc")).as("e"))
      .select(col("doc_id"), col("y"), col("e.b").as("b"),
        (col("e.cnt").cast("double") / col("n_toks")).as("x"))
      // the grad pass joins on doc_id every step — co-locate once here
      // (the window exchange used to do this as a side effect)
      .repartition(col("doc_id"))
      .localCheckpoint(true) // read by every step's score + grad pass

    // One evaluation of the current model: (doc_id, y, z, p). The
    // weight table is 64 driver-held doubles rendered as a literal
    // broadcast relation — the old DataFrame w cost a join + a
    // localCheckpoint job per step to update 64 rows.
    def scoreWith(w: Array[Double], bias: Double): DataFrame = {
      val wDf = s.createDataFrame(
        w.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }.toSeq)
        .toDF("b", "wt")
      feat.join(broadcast(wDf), Seq("b"), "left")
        .groupBy("doc_id", "y")
        .agg(round(sum(coalesce(col("wt"), lit(0.0)) * col("x")) + bias, 9).as("z"))
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))
    }

    // r16 job shape: each step's score frame is evaluated ONCE and
    // localCheckpointed (docs-sized); the metrics row, the bias
    // gradient, and the weight gradient all read that checkpoint. The
    // old shape re-ran the broadcast-join + per-doc aggregate score
    // pass SEVEN times per invocation (once inside each step's grad,
    // once for each step's bias fold, and once per step again when the
    // final union executed) and paid a separate distinct().count()
    // pass for nDocs — the score frame's own row count (one row per
    // distinct doc_id, y functional on doc_id). Three score passes and
    // two grad passes over `feat` remain: the contract's floor
    // (scores at steps 0..2, gradients at 0..1). Every per-row
    // expression and every rounding site is unchanged.
    var w = Array.fill(LrBuckets.toInt)(0.0)
    var bias = 0.0
    var nDocs = 0.0
    val metrics = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (step <- 0 to LrSteps) {
      val sc = scoreWith(w, bias).localCheckpoint(true)
      metrics += sc.agg(
        round(avg(-(col("y") * log(col("p")) +
          (lit(1.0) - col("y")) * log(lit(1.0) - col("p")))), 6).as("loss"),
        round(avg((((col("z") > 0).cast("int").cast("double")) === col("y"))
          .cast("int")), 4).as("acc"))
        .select(lit(step).as("step"), col("loss"), col("acc"))
      if (step < LrSteps) {
        val bi = sc.agg(sum(col("p") - col("y")), count(lit(1))).head()
        if (step == 0) nDocs = bi.getLong(1).toDouble
        val err = sc.select(col("doc_id"), (col("p") - col("y")).as("err"))
        val grad = feat.join(err, Seq("doc_id"))
          .groupBy("b").agg((sum(col("err") * col("x")) / nDocs).as("g"))
          .collect().map(r => (r.getLong(0).toInt, r.getDouble(1))).toMap
        w = w.zipWithIndex.map { case (wt, b) =>
          round9(wt - LrRate * grad.getOrElse(b, 0.0))
        }
        bias = round9(bias - LrRate * bi.getDouble(0) / nDocs)
      }
    }
    metrics.reduce(_ unionByName _).orderBy("step")
  }

  private def round9(d: Double): Double =
    BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val logregTrainSql = {
    // Per-step CTE chain: score with (w_k, b_k) → metrics row + next
    // weights. Step 0 scores the zero model in closed form (z = 0).
    def scoreCte(k: Int): String =
      if (k == 0)
        s"""s0 AS (
           |  SELECT doc_id, y, 0.0::DOUBLE AS z, 0.5::DOUBLE AS p
           |  FROM (SELECT DISTINCT doc_id, y FROM feat))""".stripMargin
      else
        s"""s$k AS (
           |  SELECT f.doc_id, f.y,
           |    round(sum(coalesce(w$k.wt, 0.0) * f.x) + (SELECT bs FROM b$k), 9) AS z,
           |    1.0 / (1.0 + exp(-round(sum(coalesce(w$k.wt, 0.0) * f.x)
           |      + (SELECT bs FROM b$k), 9))) AS p
           |  FROM feat f LEFT JOIN w$k ON w$k.b = f.b
           |  GROUP BY 1, 2)""".stripMargin
    def stepCtes(k: Int): String = // grads from s{k} → w{k+1}, b{k+1}
      s"""g$k AS (
         |  SELECT f.b, sum((s$k.p - s$k.y) * f.x) / (SELECT nd FROM nd) AS g
         |  FROM feat f JOIN s$k USING (doc_id) GROUP BY 1),
         |gb$k AS (SELECT sum(p - y) / (SELECT nd FROM nd) AS g FROM s$k),
         |w${k + 1} AS (
         |  SELECT wb.b, round(${if (k == 0) "0.0" else s"coalesce(w$k.wt, 0.0)"}
         |    - $LrRate * coalesce(g$k.g, 0.0), 9) AS wt
         |  FROM (SELECT range AS b FROM range(0, $LrBuckets)) wb
         |  ${if (k == 0) "" else s"LEFT JOIN w$k ON w$k.b = wb.b"}
         |  LEFT JOIN g$k ON g$k.b = wb.b),
         |b${k + 1} AS (
         |  SELECT round(${if (k == 0) "0.0" else s"(SELECT bs FROM b$k)"}
         |    - $LrRate * g, 9) AS bs FROM gb$k)""".stripMargin
    def metricCte(k: Int): String =
      s"""m$k AS (
         |  SELECT $k AS step,
         |    round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 6) AS loss,
         |    round(avg(CASE WHEN (CASE WHEN z > 0 THEN 1.0 ELSE 0.0 END) = y
         |      THEN 1 ELSE 0 END), 4) AS acc
         |  FROM s$k)""".stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    (CASE WHEN source IN $dsirTargetInSql THEN 1.0 ELSE 0.0 END)::DOUBLE AS y,
       |    unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |feat AS (
       |  SELECT doc_id, y, b, cnt::DOUBLE / sum(cnt) OVER (PARTITION BY doc_id) AS x
       |  FROM (SELECT doc_id, y,
       |          ('0x' || substr(md5(w), 1, 15))::BIGINT % $LrBuckets AS b,
       |          count(*)::BIGINT AS cnt
       |        FROM tok GROUP BY 1, 2, 3)),
       |nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS nd FROM feat),
       |${scoreCte(0)},
       |${metricCte(0)},
       |${stepCtes(0)},
       |${scoreCte(1)},
       |${metricCte(1)},
       |${stepCtes(1)},
       |${scoreCte(2)},
       |${metricCte(2)}
       |SELECT * FROM m0 UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2
       |ORDER BY step""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_logreg_train", logregTrain, Some(logregTrainSql)),
    Q("q_dsir_select", dsirSelect, Some(dsirSelectSql)),
    Q("q_quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    Q("q_pareto_select", paretoSelect, Some(paretoSelectSql)),
    Q("q_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    Q("q_semantic_dedup_blocked", semanticDedupBlocked, Some(semanticDedupBlockedSql)),
    Q("q_proto_prune", protoPrune, Some(protoPruneSql)),
    Q("q_dedup_canonical", dedupCanonical, Some(dedupCanonicalSql)))
}
