package graft.operators

import graft.Q
import graft.io.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}

/** Corpus-curation pack beyond the reference — the remaining operations
  * a 100 TB pretraining pipeline runs between raw dedup and training:
  *
  *  - n-gram language-model quality scoring + cut (the CCNet/RefinedWeb
  *    pattern: train a small LM on a trusted slice, score every
  *    document by cross-entropy, keep the fluent three quarters). Both
  *    model tables are bounded by construction (top-64k) so they
  *    broadcast; the scoring pass is one explode + broadcast joins +
  *    one map-side-combined aggregate — no shuffle grows with the model.
  *  - incremental MinHash-LSH dedup: dedupe an incoming batch against
  *    an already-indexed corpus WITHOUT re-pairing the corpus against
  *    itself — the only dedup shape that survives continuous ingestion
  *    at 100 TB (index once, join each new shard against it). The
  *    batch side is small by definition, so both candidate joins
  *    broadcast it; the index side streams through map-side hash joins
  *    and the corpus-vs-corpus pair space is never revisited. (The
  *    streaming form lives in graft.streaming.StreamingDedup.)
  *  - duplicated-substring audit: per-document fraction of 8-token
  *    spans shared with other documents; spans hashed to int64 before
  *    any shuffle.
  *  - int8 scalar-quantized kNN with measured recall: per-vector
  *    max-abs scaling to [-127, 127]. Quantized products stay exact in
  *    float32 (|q| ≤ 127 ⇒ products ≤ 16129, integers), so the same
  *    codegen kernel serves both paths and the quantized similarity is
  *    bit-identical across engines. At scale this is the 4× memory /
  *    bandwidth cut that keeps a broadcast ANN index in executor RAM —
  *    and q_quantized_ann composes it with the sign-bucket probe: read
  *    one cell, score it quantized.
  *  - deterministic seeded global shuffle + shard assignment: training
  *    order as a pure function of (seed, doc_id) — reproducible across
  *    runs and engines, one shuffle on the shard key.
  *  - the capstone (q_pipeline_e2e): gate → LM score/cut → exact dedup
  *    → split → shard/pos as ONE composed Catalyst plan.
  */
object Curation {

  // -------------------------------------------------------------------
  // Shared: guarded adjacent-bigram array ("w1 w2" strings); empty for
  // documents with fewer than 2 tokens (TextAnalysisShared.ngrams).
  private def bigrams(textCol: Column): Column =
    TextAnalysisShared.ngrams(textCol, 2)

  /** Model-vocabulary cap: bigram tables above this size are cut by
    * (count desc, bigram) — a deterministic total order — so the
    * broadcast stays bounded no matter the corpus.
    */
  private val LmVocabCap = 65536

  /** Deterministic-order/split constants — declared BEFORE any eagerly
    * initialized SQL string that interpolates them (object vals
    * initialize in declaration order; a forward reference here would
    * interpolate null/0 into the oracle SQL).
    */
  private val ShuffleSeed = "graft-shuffle-42"
  private val NumShards = 8
  private val SplitSalt = "graft-split-42"

  // -------------------------------------------------------------------
  // q_lm_quality — bigram-LM cross-entropy scoring, add-one smoothed:
  // train on the lang='en' slice, score each document with ≥ 1 bigram by
  //   xent = avg over bigrams of -log2( (c(w1 w2)+1) / (c(w1)+V) ).
  // Sub-bigram documents (0–1 tokens) are OUT OF SCOPE by contract —
  // an n-gram LM has nothing to condition on; a pipeline routes them to
  // the length/quality filters (q_quality_score, q_repetition_filter)
  // upstream of the LM stage. BOTH model tables are capped at the top
  // 64k entries by (count desc, key) — a total order, so the cut is
  // deterministic — which is what makes "the model broadcasts" true by
  // construction at ANY corpus size (a web-scale vocabulary is
  // unbounded; tokens cut from the table score through the smoothing
  // floor like any unseen word).
  /** Per-(session, dir) memo of the scored frame: six named queries
    * (lm_quality, lm_filter, lm_filter_approx, ppl_buckets,
    * doremi_weights, doremi_resample) consume the SAME add-one LM
    * scores over the raw table, and each used to rebuild the model +
    * re-run the scoring pass (~2 s each at sf0.1, 5× redundant in one
    * Bench/Verify session). The first consumer computes the chain and
    * pins ([[graft.internal.SessionMemo.pin]]) the (doc_id, n_bigrams,
    * xent) result — narrow, linear rows — and the rest reuse it. Keyed
    * on the table's file-listing fingerprint so a rewritten table misses
    * naturally ([[graft.internal.SessionMemo]]); builds surface in op-metrics as
    * `lm_score_cache_build`; `spark.graft.memo.enabled=false` opts out.
    */
  private val lmScoreCache = new graft.internal.SessionMemo[DataFrame]("lm_score_cache_build")

  /** Per-(session, dir) memo of the top-64k bigram count table over the
    * raw table's en slice — the ONE model table both the add-one chain
    * and q_lm_kneser_ney derive every statistic from (identical cap and
    * (count desc, bigram) order in both, and in both oracles).
    */
  private val bigcCache = new graft.internal.SessionMemo[DataFrame]("lm_bigram_cache_build")

  private def rawBigramCounts(docs: DataFrame): DataFrame =
    docs.filter(col("lang") === "en")
      .select(explode(bigrams(col("text"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("bigram"))
      .limit(LmVocabCap)

  /** The bigram table of `docs`, the documents table under `dir`. */
  private def cachedBigramCounts(s: SparkSession, dir: String, docs: DataFrame): DataFrame =
    bigcCache.getOrBuild(s, s"$dir/documents.parquet")(
      graft.internal.SessionMemo.pin(s)(rawBigramCounts(docs)))

  private def lmScored(s: SparkSession, dir: String): DataFrame =
    lmScoreCache.getOrBuild(s, s"$dir/documents.parquet") {
      val docs = Tables.documents(s, dir)
      graft.internal.SessionMemo.pin(s)(lmScoredOn(docs, cachedBigramCounts(s, dir, docs)))
    }

  /** LM scorer over an arbitrary (doc_id, text, lang) frame and its
    * bigram table ([[rawBigramCounts]] of the same frame) — the
    * pipeline capstone trains on ITS stage-1 survivors, not the raw
    * table, so the model never sees documents an earlier gate dropped.
    */
  private def lmScoredOn(docs: DataFrame, bigc: DataFrame): DataFrame = {
    val train = docs.filter(col("lang") === "en")
    val uni = train
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .orderBy(col("cu").desc, col("w"))
      .limit(LmVocabCap)
    val vocabSize = uni.agg(count(lit(1)).as("vsz"))
    docs
      .select(col("doc_id"), explode(bigrams(col("text"))).as("bigram"))
      .join(broadcast(bigc), Seq("bigram"), "left")
      .join(broadcast(uni), substring_index(col("bigram"), " ", 1) === col("w"), "left")
      .crossJoin(broadcast(vocabSize))
      .select(col("doc_id"),
        (-log2((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cu"), lit(0L)) + col("vsz")))).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("nll"), 4).as("xent"))
  }

  private def lmQuality(s: SparkSession, dir: String): DataFrame =
    lmScored(s, dir).orderBy("doc_id")

  /** The LM scoring CTE chain over an arbitrary source relation (must
    * expose doc_id, text, lang); prepend WITH and append a final SELECT.
    */
  private def lmCtes(src: String) =
    s"""d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM $src),
       |uni AS (
       |  SELECT t AS w, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(toks) AS t FROM d WHERE lang = 'en')
       |  GROUP BY 1 ORDER BY cu DESC, w LIMIT $LmVocabCap),
       |v AS (SELECT count(*)::BIGINT AS vsz FROM uni),
       |bigc AS (
       |  SELECT bigram, count(*)::BIGINT AS cb
       |  FROM (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |                i -> array_to_string(toks[i:i+1], ' '))) AS bigram
       |        FROM d WHERE lang = 'en')
       |  GROUP BY 1 ORDER BY cb DESC, bigram LIMIT $LmVocabCap),
       |db AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |           i -> array_to_string(toks[i:i+1], ' '))) AS bigram
       |  FROM d),
       |scored AS (
       |  SELECT db.doc_id,
       |    -log2((coalesce(bc.cb, 0) + 1.0) / (coalesce(u.cu, 0) + v.vsz)) AS nll
       |  FROM db
       |  LEFT JOIN bigc bc USING (bigram)
       |  LEFT JOIN uni u ON u.w = split_part(db.bigram, ' ', 1)
       |  CROSS JOIN v),
       |sc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(nll), 4) AS xent
       |  FROM scored GROUP BY 1)""".stripMargin

  private val lmScoredCte = s"WITH ${lmCtes("documents")}"

  private val lmQualitySql =
    s"""$lmScoredCte
       |SELECT doc_id, n_bigrams, xent FROM sc ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_lm_kneser_ney — the same bigram LM scored with interpolated
  // Kneser–Ney smoothing (Kneser & Ney 1995; Chen & Goodman 1999's
  // standard fixed-discount form, d = 0.75) instead of add-one:
  //   P(w2|w1) = max(c(w1w2) − d, 0)/c(w1)
  //            + d·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··)
  // with full backoff to the continuation probability when w1 is
  // unseen, and an explicit 1e-10 floor (both engines) for tokens
  // outside the model. EVERY model statistic — c(w1), N1+(w1·),
  // N1+(·w2), N1+(··) — derives from the ONE top-64k-capped bigram
  // table, so the model is self-consistent and the broadcast stays
  // bounded at any corpus size (the same cap contract as lm_quality).
  // Scale shape identical to lm_quality: score = explode + two
  // broadcast joins + per-doc aggregate.
  private val KnDiscount = 0.75

  private def lmKneserNey(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // The session-memoized bigram table IS this model's base (same cap,
    // same order); the w1/w2 splits are a 64k-row projection on top.
    val bigc = cachedBigramCounts(s, dir, docs)
      .select(col("bigram"), col("cb"),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
    val left = bigc.groupBy("w1")
      .agg(sum("cb").as("cw1"), count(lit(1)).as("n1f"))
    val right = bigc.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val total = bigc.agg(count(lit(1)).as("nbi"))
    docs
      .select(col("doc_id"), explode(bigrams(col("text"))).as("bigram"))
      // the w1/w2 join keys are projected ONCE below the three joins
      // (as join-condition expressions each substring_index re-parsed
      // the bigram string per probe; Catalyst does not share
      // subexpressions across operators)
      .select(col("doc_id"), col("bigram"),
        substring_index(col("bigram"), " ", 1).as("bw1"),
        substring_index(col("bigram"), " ", -1).as("bw2"))
      .join(broadcast(bigc.select("bigram", "cb")), Seq("bigram"), "left")
      .join(broadcast(left), col("bw1") === col("w1"), "left")
      .join(broadcast(right), col("bw2") === col("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), {
        val pcont = coalesce(col("n1b"), lit(0L)).cast("double") / col("nbi")
        val seen = (greatest(coalesce(col("cb"), lit(0L)) - lit(KnDiscount), lit(0.0)) /
          col("cw1")) +
          lit(KnDiscount) * col("n1f") / col("cw1") * pcont
        val p = when(coalesce(col("cw1"), lit(0L)) > 0, seen).otherwise(pcont)
        (-log2(greatest(p, lit(1e-10)))).as("nll")
      })
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("nll"), 4).as("xent_kn"))
      .orderBy("doc_id")
  }

  private val lmKneserNeySql =
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |bigc AS (
       |  SELECT bigram, cb,
       |    split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
       |  FROM (
       |    SELECT bigram, count(*)::BIGINT AS cb
       |    FROM (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |                  i -> array_to_string(toks[i:i+1], ' '))) AS bigram
       |          FROM d WHERE lang = 'en')
       |    GROUP BY 1 ORDER BY cb DESC, bigram LIMIT $LmVocabCap)),
       |lft AS (SELECT w1, sum(cb)::BIGINT AS cw1, count(*)::BIGINT AS n1f
       |        FROM bigc GROUP BY 1),
       |rgt AS (SELECT w2, count(*)::BIGINT AS n1b FROM bigc GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS nbi FROM bigc),
       |db AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |           i -> array_to_string(toks[i:i+1], ' '))) AS bigram
       |  FROM d),
       |scored AS (
       |  SELECT db.doc_id,
       |    -log2(greatest(
       |      CASE WHEN coalesce(lft.cw1, 0) > 0
       |        THEN greatest(coalesce(bc.cb, 0) - $KnDiscount, 0.0) / lft.cw1
       |           + $KnDiscount * lft.n1f / lft.cw1
       |             * (coalesce(rgt.n1b, 0)::DOUBLE / tot.nbi)
       |        ELSE coalesce(rgt.n1b, 0)::DOUBLE / tot.nbi END,
       |      1e-10)) AS nll
       |  FROM db
       |  LEFT JOIN (SELECT bigram, cb FROM bigc) bc USING (bigram)
       |  LEFT JOIN lft ON lft.w1 = split_part(db.bigram, ' ', 1)
       |  LEFT JOIN rgt ON rgt.w2 = split_part(db.bigram, ' ', 2)
       |  CROSS JOIN tot)
       |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |  round(avg(nll), 4) AS xent_kn
       |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_doremi_weights — DoReMi-style domain reweighting (Xie et al.,
  // NeurIPS 2023), deterministically approximated: instead of the
  // paper's proxy-model training loop, each source's difficulty is its
  // average bigram-LM cross-entropy (the shared lmScored chain), and
  // the mixture weight is softmax(excess loss / T) over sources —
  // hard-for-the-reference-model domains get upweighted, exactly the
  // paper's signal with a one-pass loss estimate. Scale shape: the LM
  // scoring pass plus ONE source-keyed aggregate (sources-sized), the
  // min/total folds over the bounded source frame.
  private val DoremiT = 0.5

  private def doremiWeights(s: SparkSession, dir: String): DataFrame = {
    // r16: the per-source loss table is sources-sized with three lazy
    // consumers (the min fold, the softmax numerators, and — through
    // them — the total); un-materialized, every consumer re-ran the
    // LM-score ⋈ documents join. The checkpoint is ≤ |sources| rows;
    // the numerator frame (expd) deliberately stays lazy — its replicas
    // are sources-sized arithmetic over this checkpoint, cheaper than a
    // second eager materialization barrier (measured).
    val perSource = lmScored(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), round(avg("xent"), 6).as("mean_xent"))
      .localCheckpoint(true)
    val base = perSource.agg(min("mean_xent").as("min_xent"))
    val expd = perSource.crossJoin(broadcast(base))
      .withColumn("e", exp((col("mean_xent") - col("min_xent")) / lit(DoremiT)))
    val tot = expd.agg(sum("e").as("te"))
    expd.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("mean_xent"),
        round(col("e") / col("te"), 4).as("weight"))
      .orderBy("source")
  }

  private val doremiWeightsSql =
    s"""$lmScoredCte,
       |ps AS (
       |  SELECT d.source, count(*)::BIGINT AS n_docs,
       |    round(avg(sc.xent), 6) AS mean_xent
       |  FROM sc JOIN documents d USING (doc_id) GROUP BY 1),
       |b AS (SELECT min(mean_xent) AS min_xent FROM ps),
       |e AS (SELECT ps.*, exp((mean_xent - b.min_xent) / $DoremiT) AS e
       |      FROM ps CROSS JOIN b),
       |t AS (SELECT sum(e) AS te FROM e)
       |SELECT e.source, e.n_docs, e.mean_xent, round(e.e / t.te, 4) AS weight
       |FROM e CROSS JOIN t ORDER BY e.source""".stripMargin

  // -------------------------------------------------------------------
  // q_doremi_resample — the DoReMi loop CLOSED: the learned mixture
  // weights feed the deterministic fractional-copy resampler
  // (q_mixture_resample's machinery, 'dmx'-salted), so the output IS
  // the reweighted training corpus — each source's documents emitted
  // round(weight x corpus / n_source)-ish times via integer
  // rate_pct = per-doc copies x 100, fractional copies decided by a
  // per-doc hash bucket. Hard sources (high excess LM loss) upsample,
  // easy sources thin out; docs in a sub-1x source with an unlucky
  // bucket drop entirely. Scale shape: the weights frame is
  // sources-sized (broadcast); the corpus is touched once, no shuffle
  // beyond the LM chain it inherits.
  private def doremiResample(s: SparkSession, dir: String): DataFrame = {
    val w = doremiWeights(s, dir).select(col("source"), col("n_docs"), col("weight"))
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_total"))
    val bucket = expr(
      "cast(conv(substring(md5(cast(concat('dmx', cast(doc_id as string)) as binary)), 1, 15), 16, 10) as bigint) % 100")
    Tables.documents(s, dir).select("doc_id", "source")
      .join(broadcast(w), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("w_pm", expr("cast(round(weight * 1000) as bigint)"))
      .withColumn("rate_pct", expr("(((n_total * w_pm) div 1000) * 100) div n_docs"))
      .withColumn("bucket", bucket)
      .withColumn("n_copies",
        expr("rate_pct div 100 + (case when bucket < rate_pct % 100 then 1L else 0L end)"))
      .withColumn("copy_no",
        explode(when(col("n_copies") >= 1L, sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<bigint>"))))
      .select("doc_id", "source", "rate_pct", "copy_no")
      .orderBy("doc_id", "copy_no")
  }

  private val doremiResampleSql =
    s"""$lmScoredCte,
       |ps AS (
       |  SELECT d.source, count(*)::BIGINT AS n_docs,
       |    round(avg(sc.xent), 6) AS mean_xent
       |  FROM sc JOIN documents d USING (doc_id) GROUP BY 1),
       |b AS (SELECT min(mean_xent) AS min_xent FROM ps),
       |e AS (SELECT ps.*, exp((mean_xent - b.min_xent) / $DoremiT) AS e
       |      FROM ps CROSS JOIN b),
       |t AS (SELECT sum(e) AS te FROM e),
       |w AS (SELECT e.source, e.n_docs, round(e.e / t.te, 4) AS weight
       |      FROM e CROSS JOIN t),
       |tot AS (SELECT count(*)::BIGINT AS n_total FROM documents),
       |r AS (
       |  SELECT d.doc_id, d.source,
       |    ((((tot.n_total * cast(round(w.weight * 1000) AS BIGINT)) // 1000) * 100)
       |      // w.n_docs)::BIGINT AS rate_pct,
       |    (('0x' || substr(md5('dmx' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 100) AS bucket
       |  FROM documents d JOIN w USING (source) CROSS JOIN tot),
       |x AS (
       |  SELECT doc_id, source, rate_pct,
       |    (rate_pct // 100
       |      + CASE WHEN bucket < rate_pct % 100 THEN 1 ELSE 0 END)::BIGINT AS n_copies
       |  FROM r)
       |SELECT doc_id, source, rate_pct,
       |  unnest(generate_series(1, n_copies))::BIGINT AS copy_no
       |FROM x ORDER BY doc_id, copy_no""".stripMargin

  // -------------------------------------------------------------------
  // q_lm_filter — the end-to-end quality cut: keep documents at or
  // below the corpus p75 cross-entropy (the fluent three quarters).
  // Operates on the scored (≥ 1 bigram) corpus — see lmScored's
  // contract; sub-bigram fragments never reach the LM stage.
  // The threshold is ONE double; at cluster scale swap the exact
  // `percentile` for `approx_percentile` (a mergeable sketch with
  // map-side partials — exact ranks over 10^10 values don't scale) and
  // nothing else changes: the cut itself stays a broadcast compare.
  private def lmFilter(s: SparkSession, dir: String): DataFrame = {
    val scored = lmScored(s, dir)
    val thr = scored.agg(expr("percentile(xent, 0.75)").as("thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("xent") <= col("thr"))
      .select(col("doc_id"), col("xent"), round(col("thr"), 4).as("p75"))
      .orderBy("doc_id")
  }

  private val lmFilterSql =
    s"""$lmScoredCte,
       |t AS (SELECT quantile_cont(xent, 0.75) AS thr FROM sc)
       |SELECT doc_id, xent, round(t.thr, 4) AS p75
       |FROM sc, t WHERE sc.xent <= t.thr ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_lm_filter_approx — the CLUSTER-SCALE form of the cut above, as a
  // green query rather than a comment: the threshold comes from
  // `approx_percentile` (a mergeable Greenwald-Khanna sketch with
  // map-side partials — exact global ranks over 10^10 values don't
  // scale; the sketch is one tree-reduce). Everything else is
  // unchanged: the threshold is still ONE double broadcast into a
  // compare. The sketch returns an ORDER STATISTIC whose rank is
  // within count/accuracy of ceil(0.75 * count); at this accuracy that
  // error is < 0.5 ranks for any corpus under ~50k scored docs, so the
  // result is the exact rank-ceil(0.75 n) element and the oracle can
  // pin it by selecting that rank directly. CurationSpec asserts the
  // sketch-vs-exact gap stays inside the documented rank bound.
  private val LmApproxAccuracy = 100000

  private def lmFilterApprox(s: SparkSession, dir: String): DataFrame = {
    val scored = lmScored(s, dir)
    val thr = scored
      .agg(expr(s"approx_percentile(xent, 0.75, $LmApproxAccuracy)").as("thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("xent") <= col("thr"))
      .select(col("doc_id"), col("xent"), round(col("thr"), 4).as("p75_approx"))
      .orderBy("doc_id")
  }

  // The oracle spells out the sketch's rank convention: the value at
  // 1-based rank ceil(0.75 * n) of the scored corpus.
  private val lmFilterApproxSql =
    s"""$lmScoredCte,
       |t AS (
       |  SELECT xent AS thr FROM (
       |    SELECT xent, row_number() OVER (ORDER BY xent) AS r,
       |           count(*) OVER () AS n FROM sc)
       |  WHERE r = CAST(ceil(0.75 * n) AS BIGINT))
       |SELECT doc_id, xent, round(t.thr, 4) AS p75_approx
       |FROM sc, t WHERE sc.xent <= t.thr ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_ppl_buckets — CCNet's head/middle/tail split (Wenzek et al. 2020):
  // after LM scoring, each LANGUAGE's documents are cut into perplexity
  // terciles — "head" (most fluent third) feeds high-quality training
  // mixes, "middle" is kept, "tail" is dropped or down-weighted. The
  // tercile is ntile(3) over (xent asc, doc_id) inside each language
  // partition — a deterministic total order, so bucket membership can't
  // flip on ties. Scale shape: the LM pass is q_lm_quality's (bounded
  // broadcast models); the lang lookup is a hash-co-partitioned equi-
  // join of two corpus-keyed frames; the tercile is one window whose
  // partitions are languages — at 100 TB a single language's scored
  // rows still sort within its partition group, and the CCNet remedy
  // when one language dominates is the same as the published pipeline's:
  // shard the corpus before bucketing (per-shard terciles), which this
  // query's per-lang window shape already expresses.
  private def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = lmScored(s, dir)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val tercile = Window.partitionBy("lang").orderBy(col("xent"), col("doc_id"))
    scored
      .withColumn("t", ntile(3).over(tercile))
      .select(col("doc_id"), col("lang"), col("xent"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  private val pplBucketsSql =
    s"""$lmScoredCte,
       |b AS (
       |  SELECT sc.doc_id, d0.lang, sc.xent,
       |    ntile(3) OVER (PARTITION BY d0.lang ORDER BY sc.xent, sc.doc_id) AS t
       |  FROM sc JOIN documents d0 ON d0.doc_id = sc.doc_id)
       |SELECT doc_id, lang, xent,
       |  CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM b ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_dedup_incremental — dedupe an incoming batch (doc_id % 5 = 0, the
  // stand-in for "today's shard") against the already-indexed rest of
  // the corpus plus itself. Candidates form only inside (band, sig)
  // buckets, and the corpus-vs-corpus pair space is never revisited.

  /** Broadcast gate for the batch side of [[incrementalCandidates]]:
    * sig rows (≤ 4 per doc) at or below this broadcast; above it the
    * hint is withheld. A real ingest micro-batch sits far below the
    * cap; a backfill "batch" that is a big slice of the corpus (like
    * this named query's 20 % stand-in at large SF) must NOT be forced
    * executor-resident — 1M sig rows ≈ tens of MB, the upper edge of a
    * sane broadcast.
    */
  private[operators] val MaxBroadcastSigRows = 1000000L

  /** Candidate near-dup pairs of a batch vs an indexed corpus and vs
    * itself — the incremental-dedup core. The batch signature table is
    * counted up front (one cheap job at micro-batch sizes — the price
    * of an HONEST broadcast decision) and broadcast only when it is
    * actually micro-batch sized; the index side streams through
    * map-side hash joins in that regime and is never shuffled. Above
    * the cap no hint is planted and the join falls back to the
    * engine's choice (shuffle join, or AQE's runtime broadcast if
    * stats allow) — a 20 %-of-corpus backfill at 100 TB must not be
    * forced into executor memory by a hint that was only ever true
    * for micro-batches.
    *
    * Both inputs are per-doc `(doc_id, sv)` vector frames
    * ([[TextAnalysisShared.DocSigs.vectors]] or family representatives
    * of it), so no side regroups exploded signatures. The output is
    * the candidate pairs with their matched-band counts, ONE ROW
    * PER PAIR: both sides of the (band, sig) bucket join carry their
    * doc's band-ordered signature VECTOR, so a matched row computes
    * `bands_matched` inline (count of equal positions — exactly the
    * buckets the pair collides in) and survives only from its FIRST
    * matching band. The pair stream therefore never needs a pair-keyed
    * aggregation: at the ×100 decade the old `groupBy(pair).count()`
    * was a 1.7e8-row hash aggregate with ~88 % UNIQUE keys — all spill,
    * no combine — and measured 84 s against the join's 2.5 s; this
    * form's only remaining exchange is whatever the consumer orders by.
    * Band tests are fixed-width when-chains (codegen), not HOF folds.
    *
    * ONE join: the index side and the batch's own doc_other side are
    * the same probe stream (index partners keep every pairing, batch
    * partners only the doc_other < doc_new half); the boolean tag rides
    * the sig-sized probe side and derives `origin` post-join.
    */
  private[operators] def incrementalCandidates(
      batchVecs: DataFrame, indexVecs: DataFrame,
      maxBroadcastSigRows: Long = MaxBroadcastSigRows,
      nBands: Int = 4,
      knownBatchSigRows: Option[Long] = None): DataFrame = {
    // The broadcast decision needs the batch sig row count (nBands per
    // vector); when the caller's PairGuard census already aggregated it
    // (one sum rides along with the pair pricing), thread it through
    // instead of launching a second job over a frame the census just
    // scanned. An UPPER BOUND is sound here: over-counting can only
    // withhold the hint, and AQE's runtime broadcast still applies.
    val batchSized =
      knownBatchSigRows.getOrElse(batchVecs.count() * nBands) <= maxBroadcastSigRows
    def hinted(df: DataFrame): DataFrame = if (batchSized) broadcast(df) else df
    import TextAnalysisShared.{firstMatchBand, matchedBands}
    val probe = indexVecs
      .select(col("doc_id").as("doc_other"), col("sv").as("svo"),
        lit(false).as("is_batch"))
      .unionByName(batchVecs
        .select(col("doc_id").as("doc_other"), col("sv").as("svo"),
          lit(true).as("is_batch")))
      .select(col("doc_other"), col("svo"), col("is_batch"),
        posexplode(col("svo")).as(Seq("band", "sig")))
    val build = batchVecs
      .select(col("doc_id").as("doc_new"), col("sv").as("svn"),
        posexplode(col("sv")).as(Seq("band", "sig")))
    probe.join(hinted(build), Seq("band", "sig"))
      .filter(!col("is_batch") || col("doc_other") < col("doc_new"))
      .filter(col("band") === firstMatchBand(col("svn"), col("svo"), nBands))
      .select(col("doc_new"), col("doc_other"),
        when(col("is_batch"), lit("batch")).otherwise(lit("index")).as("origin"),
        matchedBands(col("svn"), col("svo"), nBands).as("bands_matched"))
  }

  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // The signature chain is the query's linear floor and is read FOUR
    // times downstream (the broadcast-decision count, the batch side of
    // both candidate joins, and the index side) — materialize it once;
    // the joins then re-read one small vector per doc instead of replaying
    // the text scan + md5 kernel per consumer (session-memoized:
    // [[TextAnalysisShared.cachedDocSigs]]).
    val docSigs = TextAnalysisShared.cachedDocSigs(s, dir)
    // The candidate OUTPUT is one row per (batch doc, bucket partner) —
    // quadratic in duplicate-family size like every LSH pair contract
    // (measured: the join, not the sig build, was 50 of the 57 s at
    // ×100 — the sig+census floor is ~6 s in the sibling queries). Same
    // [[PairGuard]] discipline: price Σ_bucket (b·i + b·(b−1)/2) off
    // the checkpointed frame; past the cap, dedupe through ≤2
    // SIDE-STRATIFIED representatives per complete-signature family
    // ([[Dedup.familyRepsStratified]]: top-ranked batch member + top-
    // ranked index member, or top two of a one-sided family) — pairs
    // between survivors keep exact bands_matched and origin, so routed
    // rows ⊆ exact rows row-for-row, and every family holding a batch
    // doc and any partner is still detected through one surviving
    // candidate pair (an unstratified top-2 could land both reps on
    // the index side and silently unreport that family's batch dups).
    // The census prices the pair volume AND sums the batch-side sig
    // rows in the same aggregate — the downstream broadcast decision
    // ([[incrementalCandidates]]) reuses that sum instead of running
    // its own count job over the frame the census just scanned
    // (CurationSpec pins candidate construction at zero jobs when the
    // count is threaded). Left None under mode=exact, where the guard
    // never evaluates the census — the candidate join then counts for
    // itself, as before.
    var censusBatchSigRows: Option[Long] = None
    val exact = PairGuard.allowExact(s, "q_dedup_incremental") {
      val row = docSigs.frame.withColumn("isb", (col("doc_id") % 5 === 0).cast("long"))
        .groupBy("band", "sig")
        .agg(sum(col("isb")).as("b"), sum(lit(1L) - col("isb")).as("i"))
        .agg(coalesce(sum(col("b") * col("i") +
          expr("b * (b - 1) DIV 2")), lit(0L)),
          coalesce(sum(col("b")), lit(0L)))
        .head()
      censusBatchSigRows = Some(row.getLong(1))
      row.getLong(0)
    }
    val src = if (exact) docSigs.vectors
      else Dedup.familyRepsStratified(docSigs.vectors, col("doc_id") % 5 === 0)
    val batch = src.filter(col("doc_id") % 5 === 0)
    val index = src.filter(col("doc_id") % 5 =!= 0)
    // [[incrementalCandidates]] emits ONE row per pair with its
    // bands_matched computed inline (first-matching-band dedup), so no
    // pair-keyed aggregation exists — the only pair-sized exchange
    // left is the output-contract sort, keyed on the (unique) pair
    // alone, which orders identically to the oracle's ORDER BY 1, 2, 3.
    // On the routed leg the batch frame is the stratified-reps SUBSET
    // of the censused batch, so the census sum stays a sound upper
    // bound for the broadcast decision.
    incrementalCandidates(batch, index,
      knownBatchSigRows = censusBatchSigRows)
      .orderBy("doc_new", "doc_other")
  }

  private val dedupIncrementalSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' '))) AS shingle
      |  FROM t),
      |hx AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x FROM sh),
      |sig AS (
      |  SELECT doc_id, band, min((x * a + band) % 2147483647) AS sig
      |  FROM hx, (SELECT unnest([0, 1, 2, 3]) AS band, unnest([1299721, 7919, 104729, 15485863]) AS a) b
      |  GROUP BY doc_id, band),
      |nw AS (SELECT * FROM sig WHERE doc_id % 5 = 0),
      |idx AS (SELECT * FROM sig WHERE doc_id % 5 <> 0),
      |cand AS (
      |  SELECT n.doc_id AS doc_new, i.doc_id AS doc_other, 'index' AS origin
      |  FROM nw n JOIN idx i ON n.band = i.band AND n.sig = i.sig
      |  UNION ALL
      |  SELECT b.doc_id AS doc_new, a.doc_id AS doc_other, 'batch' AS origin
      |  FROM nw a JOIN nw b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
      |SELECT doc_new, doc_other, origin, count(*)::BIGINT AS bands_matched
      |FROM cand GROUP BY 1, 2, 3 ORDER BY doc_new, doc_other, origin""".stripMargin

  // -------------------------------------------------------------------
  // q_span_dedup — duplicated-substring audit (the cross-document
  // repeated-span measure behind substring-level dedup): hash every
  // 8-token span, a span present in ≥ 2 documents is "duplicated",
  // report each document's duplicated-span fraction. Span text is
  // hashed to a 60-bit value BEFORE the shuffle, so the exchanges
  // carry (doc_id, int64) rows, never span strings; the dup-span set
  // is corpus-wide so the join back stays hash-partitioned (no
  // broadcast assumption) — the same co-partitioned shape as the
  // first groupBy.
  private val SpanTokens = 8

  /** Compiled span-hash array for one document; `distinct = true` is
    * per-doc first-seen distinct, so exploding it yields the distinct
    * (doc_id, h) set WITHOUT a corpus-wide `.distinct()` exchange.
    * Values are the same 60-bit md5 prefixes the HOF form and the
    * DuckDB oracles compute.
    */
  private def spanHashes(textCol: Column, distinct: Boolean): Column =
    ExpressionUtils.column(graft.functions.expressions.SpanHashesExpr(
      ExpressionUtils.expression(textCol), SpanTokens, distinct))

  private def spanDedup(s: SparkSession, dir: String): DataFrame = {
    // Per-doc-distinct span hashes from the kernel: the explode output
    // IS the distinct (doc_id, h) set, so the old post-explode
    // .distinct() exchange (one row per span occurrence) is gone.
    val sp = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(spanHashes(col("text"), distinct = true)).as("h"))
    val dup = sp.groupBy("h").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
    sp.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        count(col("ndocs")).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  private val spanDedupSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sp AS (
       |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(generate_series(1, len(toks) - ${SpanTokens - 1}),
       |            i -> array_to_string(toks[i:i+${SpanTokens - 1}], ' '))) AS s
       |        FROM t)),
       |d AS (SELECT h, count(*) AS ndocs FROM sp GROUP BY 1 HAVING count(*) >= 2)
       |SELECT sp.doc_id, count(*)::BIGINT AS n_spans,
       |  count(d.ndocs)::BIGINT AS n_dup_spans,
       |  round(count(d.ndocs)::DOUBLE / count(*), 4) AS dup_frac
       |FROM sp LEFT JOIN d USING (h)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_span_scrub — the REMOVAL leg of the audit above (the substring-
  // level dedup of Lee et al. 2022, "Deduplicating Training Data Makes
  // Language Models Better": excise every occurrence of a substring
  // that repeats across the corpus, rather than dropping whole
  // documents). A token position is scrubbed when ANY cross-document-
  // duplicated 8-token span covers it; the survivors re-concatenate in
  // position order. Scale shape: the dup-span set reuses q_span_dedup's
  // frame (spans hashed to int64 BEFORE any shuffle, dup join
  // hash-co-partitioned — no broadcast assumption on a set that grows
  // with the corpus); covered positions fan out a bounded ×8 from dup
  // occurrences only, and the rebuild is one per-doc aggregate whose
  // collect_list is bounded by document length, never corpus size.
  private def spanScrub(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    // Every span occurrence WITH its 1-based start position (the audit
    // query distincts these away; removal needs each occurrence).
    val sp = docs
      .select(col("doc_id"), posexplode(spanHashes(col("text"), distinct = false)).as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("start"), col("h"))
    // Dup detection from the per-doc-distinct kernel arrays — the
    // distinct (doc_id, h) set exists at explode time, no exchange.
    val dup = docs
      .select(col("doc_id"), explode(spanHashes(col("text"), distinct = true)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select("h")
    // One row per doc: the start positions of its duplicated spans
    // (bounded by the doc's own span count, never corpus size). The
    // scrub itself is then a per-doc compiled sweep — the former
    // token-level (doc_id, pos) join + covered-position explode
    // shuffled one row per TOKEN (plus ×8 covered fanout); these
    // exchanges carried the whole corpus and are gone.
    val dupStarts = sp.join(dup, Seq("h"))
      .groupBy("doc_id").agg(collect_list(col("start")).as("starts"))
    docs.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        ExpressionUtils.column(graft.functions.expressions.SpanScrubExpr(
          ExpressionUtils.expression(col("text")),
          ExpressionUtils.expression(
            coalesce(col("starts"), array().cast("array<long>"))),
          SpanTokens)).as("r"))
      .select(col("doc_id"),
        col("r.n_toks").as("n_toks"),
        col("r.n_removed").as("n_removed"),
        col("r.clean_text").as("clean_text"))
      .orderBy("doc_id")
  }

  private val spanScrubSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |spi AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(1, len(toks) - ${SpanTokens - 1}))::BIGINT AS start
       |  FROM t),
       |sp AS (
       |  SELECT doc_id, start,
       |    ('0x' || substr(md5(array_to_string(toks[start:start+${SpanTokens - 1}], ' ')), 1, 15))::BIGINT AS h
       |  FROM spi),
       |dup AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM sp)
       |  GROUP BY h HAVING count(*) >= 2),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT sp.doc_id,
       |      unnest(generate_series(sp.start, sp.start + ${SpanTokens - 1}))::BIGINT AS pos
       |    FROM sp JOIN dup USING (h))),
       |tok AS (
       |  SELECT doc_id, unnest(generate_series(1, len(toks)))::BIGINT AS pos,
       |    unnest(toks) AS tok
       |  FROM t)
       |SELECT tok.doc_id, count(*)::BIGINT AS n_toks,
       |  count(cov.pos)::BIGINT AS n_removed,
       |  coalesce(string_agg(tok, ' ' ORDER BY tok.pos)
       |    FILTER (WHERE cov.pos IS NULL), '') AS clean_text
       |FROM tok LEFT JOIN cov USING (doc_id, pos)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_quantized_knn — int8 scalar quantization: per-vector scale
  // s = max|x| / 127, q_i = round(x_i / s). Quantized similarities run
  // through the SAME f32 codegen kernel (products of ints ≤ 127² are
  // exact in float32; accumulation is double), so sim_q is bit-exact
  // vs the oracle. Reports per-query recall@10 of the quantized
  // ranking against the exact ranking plus the mean |sim error| over
  // the exact top-10. This is the recall AUDIT (per-qid rank windows
  // sort the corpus slice — run it over a sample at cluster scale);
  // the production quantized path is the same kernel inside the
  // TakeOrderedAndProject kNN shape of q_knn_cosine/q_knn_batch.
  /** int8 quantization as oracle SQL over a DOUBLE[] expression — the
    * DuckDB twin of quantize(); one definition so the formula cannot
    * diverge per-oracle from the Spark side.
    */
  private def quantizeExprSql(src: String): String =
    s"list_transform($src, x -> round(x / greatest(" +
      s"list_aggregate(list_transform($src, y -> abs(y)), 'max') / 127.0, 1e-30)))"

  private[operators] def quantize(vecCol: Column): Column = {
    val vd = vecCol.cast("array<double>")
    val scale = greatest(array_max(transform(vd, x => abs(x))) / lit(127.0), lit(1e-30))
    transform(vd, x => round(x / scale)).cast("array<float>")
  }

  private def quantizedKnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"), quantize(col("embedding")).as("qv"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("query_v"), col("qv").as("query_qv"))
    val re = Window.partitionBy("qid").orderBy(col("sim_e").desc, col("vec_id"))
    val rq = Window.partitionBy("qid").orderBy(col("sim_q").desc, col("vec_id"))
    e.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        round(VectorFunctions.cosine(col("v"), col("query_v")), 4).as("sim_e"),
        round(VectorFunctions.cosine(col("qv"), col("query_qv")), 4).as("sim_q"))
      .withColumn("re", row_number().over(re))
      .withColumn("rq", row_number().over(rq))
      .filter(col("re") <= 10 || col("rq") <= 10)
      .groupBy("qid")
      .agg(
        round(count(when(col("re") <= 10 && col("rq") <= 10, lit(1))) / lit(10.0), 2)
          .as("recall_at_10"),
        round(avg(when(col("re") <= 10, abs(col("sim_e") - col("sim_q")))), 4)
          .as("mean_abs_err"))
      .orderBy("qid")
  }

  private val quantizedKnnSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |qz AS (
      |  SELECT vec_id, v,
      |    ${quantizeExprSql("v")} AS qv
      |  FROM e),
      |q AS (SELECT vec_id AS qid, v AS query_v, qv AS query_qv FROM qz WHERE vec_id < 5),
      |pairs AS (
      |  SELECT q.qid, z.vec_id,
      |    round(list_dot_product(z.v, q.query_v)
      |      / (sqrt(list_dot_product(z.v, z.v)) * sqrt(list_dot_product(q.query_v, q.query_v))), 4) AS sim_e,
      |    round(list_dot_product(z.qv, q.query_qv)
      |      / (sqrt(list_dot_product(z.qv, z.qv)) * sqrt(list_dot_product(q.query_qv, q.query_qv))), 4) AS sim_q
      |  FROM qz z CROSS JOIN q),
      |ranked AS (
      |  SELECT qid, vec_id, sim_e, sim_q,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim_e DESC, vec_id) AS re,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim_q DESC, vec_id) AS rq
      |  FROM pairs)
      |SELECT qid,
      |  round(count(CASE WHEN re <= 10 AND rq <= 10 THEN 1 END) / 10.0, 2) AS recall_at_10,
      |  round(avg(CASE WHEN re <= 10 THEN abs(sim_e - sim_q) END), 4) AS mean_abs_err
      |FROM ranked WHERE re <= 10 OR rq <= 10
      |GROUP BY qid ORDER BY qid""".stripMargin

  // -------------------------------------------------------------------
  // q_quantized_ann — the production memory-efficient ANN shape: prune
  // the scan to the query's sign-bucket cell (like q_ann_bucket), then
  // score the cell with int8-QUANTIZED cosine — at scale the index
  // holds 4×-smaller vectors per cell and the probe reads one cell,
  // so memory and I/O shrink together. Results rank by the quantized
  // similarity (bit-exact across engines, see quantize()).
  private def quantizedAnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        VectorFunctions.signBucket(col("embedding"), 8).as("bucket"),
        quantize(col("embedding")).as("qv"))
    val qRow = e.filter(col("vec_id") === 0).select("qv", "bucket").head()
    val q = qRow.getSeq[Float](0).toArray
    val qb = qRow.getLong(1)
    e.filter(col("bucket") === qb)
      .select(col("vec_id"), col("bucket"),
        round(VectorFunctions.cosineConst(col("qv"), q), 4).as("sim_q"))
      .orderBy(col("sim_q").desc, col("vec_id"))
      .limit(5)
  }

  private val quantizedAnnSql = {
    val bucketExpr = TextAnalysisShared.bucketExprSql(8)
    s"""WITH e AS (
       |  SELECT vec_id, ($bucketExpr)::BIGINT AS bucket,
       |    ${quantizeExprSql("embedding::DOUBLE[]")} AS qv
       |  FROM embeddings),
       |q AS (SELECT qv AS qqv, bucket AS qb FROM e WHERE vec_id = 0)
       |SELECT vec_id, bucket,
       |  round(list_dot_product(qv, (SELECT qqv FROM q))
       |    / (sqrt(list_dot_product(qv, qv))
       |       * sqrt(list_dot_product((SELECT qqv FROM q), (SELECT qqv FROM q)))), 4) AS sim_q
       |FROM e WHERE bucket = (SELECT qb FROM q)
       |ORDER BY sim_q DESC, vec_id LIMIT 5""".stripMargin
  }

  // -------------------------------------------------------------------
  // q_pipeline_e2e — the curation pipeline CAPSTONE: repetition gate →
  // LM train+score+p75 cut → exact dedup (keep-first) → split
  // assignment → seeded shard/position, composed as ONE Spark plan (no
  // intermediate materialization — Catalyst sees the whole chain, so
  // column pruning and predicate placement cross stage boundaries).
  // Emits the final training-corpus manifest. Stage shapes: the gate is
  // a pure projection; the LM model tables are capped+broadcast and
  // TRAINED ON THE GATE'S SURVIVORS (a later stage's model never sees
  // rejected docs); the dedup window partitions by fingerprint; split
  // and shard are hash projections; positions are per-(split, shard)
  // rank windows — every partitionSpec non-empty.
  private def pipelineE2e(s: SparkSession, dir: String): DataFrame =
    pipelineManifest(s, dir).orderBy("split", "shard", "pos")

  /** The capstone manifest WITHOUT the oracle-facing global sort — the
    * export path partitions/sorts its own way, so handing it the sorted
    * frame would pay a full range-shuffle whose order the repartition
    * immediately discards.
    */
  private def pipelineManifest(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val gated = Tables.documents(s, dir)
      .withColumn("dtr",
        size(array_distinct(toks)).cast("double") / size(toks))
      .filter(col("dtr") >= 0.2)
      .select("doc_id", "text", "lang")
    // NOT checkpointed — BOTH candidate materializations were measured
    // and rejected (r17, ITERS=3 packs): checkpointing `scored` was
    // flat at sf0.1 (1.93 vs 1.95 s) and ×30 (4.43 vs 4.38 s,
    // bench/r17_gp_{pack,x30}_*) because the model tables its two
    // consumers replicate are broadcast-reused at runtime (4
    // ReusedExchange in plans/r17/q_pipeline_e2e_exec_lazy.txt);
    // checkpointing `gated` was WORSE at ×30 (3.47 vs 3.17 s isolated,
    // bench/r17_pipe_x30_{gatedckpt,lazy_old}.json) — it materializes
    // corpus text for consumers that each prune it to narrower
    // columns. Same calibration as the r16 batch-6 reverts.
    val scored = lmScoredOn(gated, rawBigramCounts(gated))
    val thr = scored.agg(expr("percentile(xent, 0.75)").as("thr"))
    val kept = scored.crossJoin(broadcast(thr))
      .filter(col("xent") <= col("thr"))
      .select("doc_id", "xent")
      .join(gated, Seq("doc_id"))
    val fpw = Window.partitionBy("fp").orderBy("doc_id")
    val deduped = kept
      .withColumn("fp", md5(col("text").cast("binary")))
      .withColumn("rn", row_number().over(fpw))
      .filter(col("rn") === 1)
    val splitHash = TextAnalysisShared.hash64(
      concat(lit(SplitSalt + "|"), col("doc_id").cast("string"))) % 1000
    val orderKey = md5(concat(lit(ShuffleSeed + "|"), col("doc_id").cast("string")).cast("binary"))
    val posw = Window.partitionBy("split", "shard").orderBy("sort_key", "doc_id")
    deduped
      .withColumn("split",
        when(splitHash < 900, "train").when(splitHash < 950, "val").otherwise("test"))
      .withColumn("sort_key", orderKey)
      .withColumn("shard",
        expr(s"cast(conv(substring(sort_key, 1, 15), 16, 10) as bigint) % $NumShards"))
      .select(col("doc_id"), col("xent"), col("split"), col("shard"),
        row_number().over(posw).cast("long").as("pos"))
  }

  private val pipelineE2eSql =
    s"""WITH s1 AS (
       |  SELECT doc_id, text, lang FROM documents
       |  WHERE len(list_distinct(string_split(text, ' ')))::DOUBLE
       |        / len(string_split(text, ' ')) >= 0.2),
       |${lmCtes("s1")},
       |t AS (SELECT quantile_cont(xent, 0.75) AS thr FROM sc),
       |kept AS (
       |  SELECT sc.doc_id, sc.xent, s1.text
       |  FROM sc JOIN s1 USING (doc_id) CROSS JOIN t WHERE sc.xent <= t.thr),
       |dd AS (
       |  SELECT doc_id, xent,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM kept),
       |manifest AS (
       |  SELECT doc_id, xent,
       |    CASE WHEN ('0x' || substr(md5('$SplitSalt|' || doc_id), 1, 15))::BIGINT % 1000 < 900 THEN 'train'
       |         WHEN ('0x' || substr(md5('$SplitSalt|' || doc_id), 1, 15))::BIGINT % 1000 < 950 THEN 'val'
       |         ELSE 'test' END AS split,
       |    md5('$ShuffleSeed|' || doc_id) AS sort_key,
       |    ('0x' || substr(md5('$ShuffleSeed|' || doc_id), 1, 15))::BIGINT % $NumShards AS shard
       |  FROM dd WHERE rn = 1)
       |SELECT doc_id, xent, split, shard,
       |  row_number() OVER (PARTITION BY split, shard ORDER BY sort_key, doc_id) AS pos
       |FROM manifest ORDER BY split, shard, pos""".stripMargin

  // -------------------------------------------------------------------
  // q_shard_order — deterministic seeded training order: shard and
  // in-shard position are pure functions of (seed, doc_id), so two
  // runs (or two engines) produce the identical order. One shuffle on
  // the shard key; the per-shard sort is the per-output-file sort a
  // writer does anyway.
  private def shardOrder(s: SparkSession, dir: String): DataFrame = {
    val key = md5(concat(lit(ShuffleSeed + "|"), col("doc_id").cast("string")).cast("binary"))
    // Not hash64(): the md5 hex is ALSO the sort key column, so the
    // shard derives from the already-computed digest string.
    val shard = expr(s"cast(conv(substring(sort_key, 1, 15), 16, 10) as bigint) % $NumShards")
    val w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), key.as("sort_key"))
      .withColumn("shard", shard)
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
      .orderBy("shard", "pos")
  }

  private val shardOrderSql =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    md5('$ShuffleSeed|' || doc_id) AS sort_key,
       |    ('0x' || substr(md5('$ShuffleSeed|' || doc_id), 1, 15))::BIGINT % $NumShards AS shard
       |  FROM documents)
       |SELECT doc_id, shard,
       |  row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id) AS pos
       |FROM k ORDER BY shard, pos""".stripMargin

  /** Materialize the capstone manifest as the training-ready layout:
    * one directory per (split, shard), rows inside each file in
    * training order. `repartition(split, shard)` makes each output
    * directory a single task's write, and `sortWithinPartitions(pos)`
    * makes file order = training order, so a reader streams a shard
    * sequentially with NO shuffle or sort at training time — the write
    * pays the ordering cost once. Returns the manifest row count.
    */
  def exportManifest(s: SparkSession, dir: String, outPath: String): Long = {
    val manifest = pipelineManifest(s, dir)
    manifest.repartition(col("split"), col("shard"))
      // The partitionBy writer REQUIRES its partition columns to lead
      // the local ordering; a bare sort("pos") would be replaced by the
      // writer's own (split, shard) sort and the pos order lost at
      // scale. Leading with them keeps the pos sort in effect.
      .sortWithinPartitions("split", "shard", "pos")
      .write.mode("overwrite")
      .partitionBy("split", "shard")
      .parquet(outPath)
    s.read.parquet(outPath).count()
  }

  /** Stream one (split, shard) cell of an [[exportManifest]] layout in
    * training order — the reader half of the writer/reader contract.
    * Order is assembled from pure file METADATA (lexicographic file
    * path, then within-file row index): no data column is consulted,
    * so what this returns is exactly the order a non-Spark sequential
    * loader gets by reading the cell's files in name order, rows in
    * byte order — and CurationSpec pins that byte order == ascending
    * `pos` even across multi-file cells (a cell later compacted or
    * appended in file-name order keeps the contract). The metadata
    * sort never consults payload columns and is scoped to the one
    * cell being read, never the corpus.
    */
  def readShard(s: SparkSession, outPath: String, split: String, shard: Long): DataFrame = {
    val dir = s"$outPath/split=$split/shard=$shard"
    s.read.parquet(dir)
      .orderBy(col("_metadata.file_path"), col("_metadata.row_index"))
  }

  val all: Seq[Q] = Seq(
    Q("q_lm_quality", lmQuality, Some(lmQualitySql)),
    Q("q_lm_kneser_ney", lmKneserNey, Some(lmKneserNeySql)),
    Q("q_doremi_weights", doremiWeights, Some(doremiWeightsSql)),
    Q("q_doremi_resample", doremiResample, Some(doremiResampleSql)),
    Q("q_lm_filter", lmFilter, Some(lmFilterSql)),
    Q("q_lm_filter_approx", lmFilterApprox, Some(lmFilterApproxSql)),
    Q("q_ppl_buckets", pplBuckets, Some(pplBucketsSql)),
    Q("q_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    Q("q_span_dedup", spanDedup, Some(spanDedupSql)),
    Q("q_span_scrub", spanScrub, Some(spanScrubSql)),
    Q("q_quantized_knn", quantizedKnn, Some(quantizedKnnSql)),
    Q("q_quantized_ann", quantizedAnn, Some(quantizedAnnSql)),
    Q("q_shard_order", shardOrder, Some(shardOrderSql)),
    Q("q_pipeline_e2e", pipelineE2e, Some(pipelineE2eSql)))
}
