package graft.operators

import graft.Q
import graft.io.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication pack — the flagship LLM-data-pipeline operators, built
  * scale-first: every near-dup strategy here is blocked/bucketed so no
  * full cross-join of the corpus ever appears in a plan (the reference's
  * all-pairs consolidation, alma/consolidation/engine.py:271-328, is an
  * O(n²) pattern we deliberately do NOT reproduce; SURVEY §4(c)).
  *
  *  - exact dedup: hash-groupBy (one shuffle on the hash);
  *  - MinHash-LSH: shingle → per-band min-hash signature → bucket join —
  *    candidate pairs only form inside (band, signature) buckets;
  *  - n-gram Jaccard verification on a linear pair set;
  *  - embedding near-dup: cosine pairs inside a coarse block (label),
  *    the blocked form of a similarity self-join (SURVEY J2).
  */
object Dedup {

  // Exact dedup via content hash: groups + representative (min doc_id).
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("first_doc"))
      .orderBy("fp")

  private val dedupExactSql =
    """SELECT md5(text) AS fp, count(*)::BIGINT AS cnt, min(doc_id) AS first_doc
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** MinHash-LSH candidate pairs: 4 bands, signature = min md5 over
    * salted 3-token shingles. Docs collide only within a (band, sig)
    * bucket, so the self-join is bucket-local — the scale-safe shape of
    * the similarity self-join.
    */
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    // The output contract is one row per LSH candidate pair — on a
    // duplicate-heavy corpus that is quadratic in family size (a family
    // of m copies shares every band, so its buckets emit ~m²/2 pairs;
    // measured 122 s at ×100 on the ~96 %-near-dup upsample). Same
    // [[PairGuard]] discipline as the calibration leg: price the bucket
    // census, and past the cap pair only the ≤2 hash-ranked
    // representatives per complete-signature family — routed rows ⊆
    // exact rows row-for-row, and bands_matched between surviving reps
    // is EXACT (dropping other family members never changes whether two
    // docs collide in a band).
    //
    // The signature chain (shingle scan + per-band min) is the dominant
    // linear cost, so it is materialized ONCE and the census, the pair
    // join, and (routed) the family key all derive from the same
    // per-doc vectors. The round-10 shape recomputed the chain for the
    // census and again for the exact join — doubling the floor
    // precisely in the common small-corpus case the cap waves through
    // (measured: sf0.1 best-of 0.86 → 1.44 s). Session-memoized: the
    // LSH pair and cluster queries share one signature state per table
    // ([[TextAnalysisShared.cachedDocSigs]]), census included.
    val sigs = TextAnalysisShared.cachedDocSigs(s, dir)
    val exact = PairGuard.allowExact(s, "q_dedup_minhash_lsh")(sigs.census)
    val vecs = if (exact) sigs.vectors
      else familyReps(sigs.vectors, MinhashFamilyCap, mhfRankKey)
    // First-match emission ([[TextAnalysisShared.firstMatchPairs]]): one
    // row per pair with bands_matched inline — the pair-keyed
    // aggregation (all-unique keys: no combine, all spill) is gone; the
    // only pair-sized exchange left is the output sort.
    TextAnalysisShared.firstMatchPairs(vecs, 4).orderBy("doc_a", "doc_b")
  }

  private val dedupMinhashLshSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' '))) AS shingle
      |  FROM t),
      |hx AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x FROM sh),
      |sig AS (
      |  SELECT doc_id, band, min((x * a + band) % 2147483647) AS sig
      |  FROM hx, (SELECT unnest([0, 1, 2, 3]) AS band, unnest([1299721, 7919, 104729, 15485863]) AS a) b
      |  GROUP BY doc_id, band)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS bands_matched
      |FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin

  // n-gram Jaccard similarity over a linear candidate pair set
  // (consecutive doc ids) — the verification stage of near-dup. The
  // same token-set Jaccard confirms band-collision candidates in
  // StreamingDedup's verified-drop mode (TextAnalysisShared.jaccardSets
  // is the one shared formula).
  private def dedupJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val a = docs.select(col("doc_id").as("doc_a"),
      TextAnalysisShared.tokenSet(col("text")).as("ta"))
    val b = docs.select(col("doc_id").as("doc_b"),
      TextAnalysisShared.tokenSet(col("text")).as("tb"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        round(TextAnalysisShared.jaccardSets(col("ta"), col("tb")), 6).as("jaccard"))
      .orderBy("doc_a")
  }

  private val dedupJaccardPairsSql =
    """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.toks, b.toks))::DOUBLE
      |        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  /** Within-block cosine pairs ≥ 0.3, the one pair join behind both
    * embedding near-dup legs: `blocks` are the equi-join block columns
    * of `e`, and the first one is the output's block column.
    *
    * Block domains are small (~10 labels, or 256 sign buckets), so
    * joining on the blocks alone hashes the corpus onto few shuffle
    * keys, and a hot block's quadratic scan serializes into ONE task.
    * Salt the `a` side by hash(vec_a) and replicate `b` once per salt:
    * every (a, b) pair still meets in exactly one (block, salt)
    * partition — identical pair set at any salt count ([[Salting]],
    * shared with Selection.semanticDedup; the count tracks session
    * parallelism). Norms are per-ROW work before the join, so the
    * per-pair cosine is one dot + a divide, bit-identical by the
    * [[VectorFunctions.cosinePrenorm]] parity contract — the pair
    * stream is where all the flops live.
    */
  private def saltedCosinePairs(s: SparkSession, e: DataFrame,
      blocks: Seq[String]): DataFrame = {
    val e2 = e.withColumn("nrm", VectorFunctions.rowNorm(col("embedding")))
    val salts = Salting.pairSalts(s)
    def side(id: String, v: String, n: String) = e2.select(
      blocks.map(col) ++ Seq(col("vec_id").as(id), col("embedding").as(v), col("nrm").as(n)): _*)
    val a = side("vec_a", "va", "na").withColumn("salt", pmod(hash(col("vec_a")), lit(salts)))
    val b = side("vec_b", "vb", "nb").withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    a.join(b, blocks :+ "salt")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", round(VectorFunctions.cosinePrenorm(
        VectorFunctions.dotD(col("va"), col("vb")), col("na"), col("nb")), 4))
      .filter(col("sim") >= 0.3)
      .select(blocks.head, "vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  // Embedding-cosine near-dup inside a coarse block (label): the
  // blocked similarity self-join. Block-local pairs only.
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // The OUTPUT contract is every within-label pair ≥ 0.3 — quadratic
    // in label population by definition, so [[PairGuard]] estimates
    // Σ_label count² first; past the cap it sub-blocks each label by
    // the 8-bit sign bucket (routed pairs ⊆ exact pairs, identical
    // schema and sim values — the unsupervised q_dedup_embedding_lsh
    // leg is the same idea without labels).
    val exact = PairGuard.allowExact(s, "q_dedup_embedding")(PairGuard.squaredBlockCensus(e, "label"))
    saltedCosinePairs(s, e.withColumn("blk",
      if (exact) lit(0L) else VectorFunctions.signBucket(col("embedding"), 8)),
      Seq("label", "blk"))
  }

  private val dedupEmbeddingSql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_cosine_similarity(a.v, b.v), 4) AS sim
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin

  // Embedding near-dup WITHOUT labels: self-derived sign-bucket LSH
  // (8 hyperplane-sign bits) blocks the corpus, pairs form only inside
  // a bucket — the fully unsupervised scale path for vector dedup. A
  // popular vector's copies all share one bucket by construction, so
  // the salted join matters most here.
  private def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame =
    saltedCosinePairs(s, Tables.embeddings(s, dir)
      .withColumn("bucket", VectorFunctions.signBucket(col("embedding"), 8)),
      Seq("bucket"))

  private val dedupEmbeddingLshSql = {
    val bucketExpr = TextAnalysisShared.bucketExprSql(8)
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v, ($bucketExpr)::BIGINT AS bucket
       |  FROM embeddings)
       |SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_cosine_similarity(a.v, b.v), 4) AS sim
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // MinHash estimator calibration: for every LSH candidate pair, the
  // band-agreement Jaccard ESTIMATE (bands_matched / 4 — each band
  // carries one permutation min, so band agreement IS the classic
  // matched-minima estimator) next to the TRUE shingle-set Jaccard and
  // the absolute error. This is the query a pipeline runs BEFORE
  // choosing a drop threshold (StreamingDedup's minBands was
  // calibrated against exactly this histogram by hand in an earlier
  // round — now it's a named, oracle-checked pass instead of a
  // notebook). Scale shape: the pair set comes from the bucket-local
  // LSH join (never all-pairs); the TRUE value is computed inside that
  // join where both docs' shingle-hash sets are co-located (see
  // [[calibratePairs]]), so set arrays ride only the linear per-doc
  // signature shuffle, and true-Jaccard COMPUTE is per CANDIDATE
  // pair — the estimator exists precisely so that stays a sliver of
  // the corpus.

  /** Shared estimate-vs-true audit body: bucket-local pair formation
    * with TRUE Jaccard computed AT THE JOIN, where both docs' sets are
    * co-located. The previous shape (form (doc_a, doc_b, bands) pairs,
    * then join each side's set back in) shipped a ~hundred-element
    * array per CANDIDATE PAIR through two exchanges — on the ×100
    * upsample (~400 M candidate pairs off ~96 %-near-dup data) that is
    * hundreds of GB of shuffle spill, measured to literal disk
    * exhaustion ("no space left on device"). Here the set arrays ride
    * only the per-doc join sides (linear in the corpus), and the pair
    * is emitted ONCE, from its first matching band
    * ([[TextAnalysisShared.firstMatchPairs]], `sh` riding both sides):
    * bands_matched and the Jaccard are computed inline on that single
    * row, so the old
    * pair-keyed groupBy — a hash aggregate over ~all-unique pair keys,
    * pure spill — no longer exists and nothing pair-sized reaches an
    * exchange but the output sort. `perDoc` is the (doc_id, sv, sh)
    * frame ([[TextAnalysisShared.DocSigs.shingleSets]]).
    * True Jaccard is over the distinct 60-bit shingle-hash sets (the
    * dedup family's identity notion, same as q_span_dedup's spans) —
    * equal to string-set Jaccard unless two of a pair's ~10² shingles
    * collide in 60 bits (p ≈ 10⁻¹⁴); the oracle defines it the same
    * way, so the contract is identical by construction.
    */
  private def calibratePairs(perDoc: DataFrame): DataFrame =
    TextAnalysisShared.firstMatchPairs(perDoc, 4, carry = Seq("sh"), perPair = Seq(
        round(TextAnalysisShared.jaccardSets(col("sh_a"), col("sh_b")), 6).as("true_jaccard")))
      .select(col("doc_a"), col("doc_b"), col("bands_matched"),
        round(col("bands_matched") / 4.0, 6).as("est_jaccard"), col("true_jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("true_jaccard")), 6))
      .orderBy("doc_a", "doc_b")

  /** The calibration legs' representative rank key — `md5('mhf' || id)`
    * in the oracles.
    */
  private def mhfRankKey(id: Column): Column =
    md5(concat(lit("mhf"), id.cast("string")).cast("binary"))

  /** The one representative rule of the family-capped LSH legs: keep
    * the rows of the top `cap` members of each complete-signature
    * family by (`rankKey(doc_id)`, doc_id). `vecs` holds one row per
    * doc with its band-ordered signature vector `sv`, and `sv` IS the
    * family key: two docs share every (band, sig) bucket exactly when
    * their vectors are equal. The calibration legs and the routed
    * q_dedup_minhash_lsh rank by [[mhfRankKey]] with cap
    * [[MinhashFamilyCap]]; the training-pair queries rank by
    * [[posRankKey]] with cap [[CtrFamilyCap]], because their
    * preservation argument needs the positive window's own key.
    */
  private[operators] def familyReps(vecs: DataFrame, cap: Int,
      rankKey: Column => Column): DataFrame =
    vecs
      .withColumn("rn", row_number().over(
        Window.partitionBy("sv").orderBy(rankKey(col("doc_id")), col("doc_id"))))
      .filter(col("rn") <= cap)
      .drop("rn")

  /** Side-stratified representative selection for contracts whose
    * detection promise is PER SIDE of a partition of the corpus (the
    * incremental batch/index split): [[familyReps]] ranks a family's
    * members by one unstratified hash, so with a 20/80 split both
    * survivors land on the index side ~64 % of the time — and a
    * family whose batch duplicates lost the rank lottery would emit
    * NO candidate pair for them. Keep instead the top-ranked member
    * of EACH side (ties broken by the same `mhf` hash key), falling
    * back to the top TWO of whichever side exists for one-sided
    * families — so every family holding a batch doc and any partner
    * still yields at least one surviving candidate pair, and routed
    * rows remain a verbatim subset of the exact output (survivor
    * pairs carry exact bands_matched/origin). Keeps ≤ 2 rows of the
    * per-doc `vecs` frame per complete-signature family, like
    * [[familyReps]].
    */
  private[operators] def familyRepsStratified(vecs: DataFrame, side: Column): DataFrame = {
    val bySide = Window.partitionBy("sv", "s")
      .orderBy(mhfRankKey(col("doc_id")), col("doc_id"))
    val byFam = Window.partitionBy("sv")
    vecs.withColumn("s", side.cast("int"))
      .withColumn("rn", row_number().over(bySide))
      .withColumn("one_sided", min(col("s")).over(byFam) === max(col("s")).over(byFam))
      .filter(col("rn") === 1 || (col("rn") === 2 && col("one_sided")))
      .drop("s", "rn", "one_sided")
  }

  private def minhashEstimate(s: SparkSession, dir: String): DataFrame = {
    // The full calibration contract is one row per LSH CANDIDATE pair —
    // Σ_bucket c·(c−1)/2 rows, quadratic in duplicate-family size (the
    // round-9 ×100 disk death was exactly this volume). [[PairGuard]]
    // prices the bucket census first (one linear signature pass + a
    // group count); past the cap it routes to the family-capped
    // representative selection the sampled leg pins — routed output ⊆
    // full output row-for-row, each family still measured through one
    // surviving within-family pair. The census is the signature
    // state's memoized one (the same kernel, docs and null filter as
    // the calibration frame), and both branches' pair joins read the
    // per-doc (sv, sh) checkpoint ([[TextAnalysisShared.DocSigs]],
    // shared with the sampled leg).
    val sigs = TextAnalysisShared.cachedDocSigs(s, dir)
    val exact = PairGuard.allowExact(s, "q_minhash_estimate")(sigs.census)
    calibratePairs(if (exact) sigs.shingleSets
      else familyReps(sigs.shingleSets, MinhashFamilyCap, mhfRankKey))
  }

  // Sampled calibration. The full audit is the suite's heaviest decade
  // (43× time at ×100 data, round 8), and measurement showed WHERE the
  // cost lives: on a heavily-duplicated corpus it is candidate-pair
  // FORMATION — a family of m near-identical copies shares every band
  // signature, so its bucket join emits ~m²/2 pairs before any filter
  // can run. Two rejected designs, both measured on the ×30/×100
  // decades: a 1-in-16 post-formation pair filter (no help — the pairs
  // already exist, 66× decade) and a 1-in-4 document pre-sample
  // (uniform p² pair sample, but the residual m/4-sized families are
  // still quadratic, 60× decade). The fix that works collapses
  // SIGNATURE-IDENTICAL FAMILIES first: docs sharing the complete
  // 4-band signature vector are interchangeable for calibration (any
  // pair inside the family matches all bands and has the same
  // near-1 Jaccard), so keep 2 hash-ranked representatives per family
  // — one within-family pair survives as the family's measurement —
  // and form candidate pairs over representatives only. Pair count
  // then tracks DISTINCT content, not copy count (duplication is
  // exactly what the family key absorbs), and bands_matched between
  // surviving reps is EXACT: dropping other family members never
  // changes whether these two collide in a band. Result: sampled
  // output ⊆ full output row-for-row, decade ×100 at 3.6× (was 43×).
  private val MinhashFamilyCap = 2

  private def minhashEstimateSampled(s: SparkSession, dir: String): DataFrame = {
    // The signature chain is the linear-cost floor of this query; the
    // per-doc checkpoint feeds the family key AND the representatives'
    // pair join, so the text scan + md5 kernel runs ONCE (the prior
    // shape checkpointed sigs for the family key but re-ran the whole
    // kernel chain to rebuild the reps' shingle sets). Session-memoized
    // with the full leg.
    calibratePairs(familyReps(TextAnalysisShared.cachedDocSigs(s, dir).shingleSets,
      MinhashFamilyCap, mhfRankKey))
  }

  /** Calibration oracle, parameterized by the CTE that defines the
    * candidate `pairs` frame over the shared `sig` CTE (full bucket
    * join, or the family-capped representative join for sampled mode).
    */
  private def calibrateSql(pairsCte: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' '))) AS shingle
      |  FROM t),
      |ss AS (SELECT doc_id, list_distinct(list(('0x' || substr(md5(shingle), 1, 15))::BIGINT)) AS s FROM sh GROUP BY 1),
      |hx AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x FROM sh),
      |sig AS (
      |  SELECT doc_id, band, min((x * a + band) % 2147483647) AS sig
      |  FROM hx, (SELECT unnest([0, 1, 2, 3]) AS band, unnest([1299721, 7919, 104729, 15485863]) AS a) b
      |  GROUP BY doc_id, band),
      |$pairsCte
      |SELECT doc_a, doc_b, bands_matched,
      |  round(bands_matched / 4.0, 6) AS est_jaccard,
      |  round(len(list_intersect(sa.s, sb.s))::DOUBLE
      |        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS true_jaccard,
      |  round(abs(round(bands_matched / 4.0, 6) -
      |    round(len(list_intersect(sa.s, sb.s))::DOUBLE
      |          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6)), 6) AS abs_err
      |FROM pairs
      |JOIN ss sa ON sa.doc_id = doc_a
      |JOIN ss sb ON sb.doc_id = doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  private val minhashEstimateSql = calibrateSql(
    """pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS bands_matched
      |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin)

  private val minhashEstimateSampledSql = calibrateSql(
    s"""fam AS (
      |  SELECT doc_id, string_agg(band || ':' || sig, '_' ORDER BY band) AS fam
      |  FROM sig GROUP BY doc_id),
      |reps AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (
      |      PARTITION BY fam ORDER BY md5('mhf' || doc_id), doc_id) AS rn
      |    FROM fam) WHERE rn <= $MinhashFamilyCap),
      |rsig AS (SELECT sig.* FROM sig JOIN reps USING (doc_id)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS bands_matched
      |  FROM rsig a JOIN rsig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin)

  // -------------------------------------------------------------------
  // q_dedup_cluster_hist — near-dup cluster-size histogram: the audit
  // table a dedup pass is judged by (how much of the corpus sits in
  // 2-member pairs vs 1000-member template families decides whether
  // doc-level drop or substring scrub is the right tool). Every doc
  // joins a cluster — the MinHash-LSH connected components (shared
  // labels with q_consolidate_merge / q_dedup_canonical) for candidate
  // docs, a singleton for the rest — and clusters roll up into
  // power-of-two size buckets. The bucket index is length(bin(size))-1,
  // pure INTEGER arithmetic: floor(log2(x)) through doubles reads 2.999…
  // for exact powers on some libm/engine pairs and silently shifts a
  // bucket. Scale shape: the CC labels are the measured sub-linear-to-
  // ×100 fixpoint; everything after is a corpus-keyed left join plus
  // two bounded aggregates.
  private def dedupClusterHist(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val labeled = TextAnalysisShared.cachedDocSigs(s, dir).ccLabels
    val sizes = docs.select(col("doc_id"))
      .join(labeled, col("doc_id") === col("node"), "left")
      .select(coalesce(col("comp"), col("doc_id")).as("comp"))
      .groupBy("comp").agg(count(lit(1)).as("csize"))
    sizes
      .groupBy((length(bin(col("csize"))) - 1).cast("long").as("size_log2"))
      .agg(count(lit(1)).as("n_clusters"), sum("csize").as("n_docs"),
        min("csize").as("min_size"), max("csize").as("max_size"))
      .orderBy("size_log2")
  }

  private val dedupClusterHistSql =
    s"""WITH RECURSIVE ${Lifecycle.minhashCcCteSql},
       |sz AS (
       |  SELECT comp, count(*)::BIGINT AS csize FROM (
       |    SELECT coalesce(c.comp, d.doc_id) AS comp
       |    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
       |  GROUP BY comp)
       |SELECT (length(bin(csize)) - 1)::BIGINT AS size_log2,
       |  count(*)::BIGINT AS n_clusters, sum(csize)::BIGINT AS n_docs,
       |  min(csize) AS min_size, max(csize) AS max_size
       |FROM sz GROUP BY 1 ORDER BY size_log2""".stripMargin

  // -------------------------------------------------------------------
  // q_dedup_winnow — winnowing fingerprints (Schleimer et al. 2003,
  // the MOSS local-fingerprinting algorithm): per document, keep the
  // minimum shingle hash of every sliding w-window (~2/(w+1) of the
  // hashes), then candidate pairs are documents sharing ≥ 2 selected
  // prints. Guarantees: any overlap of ≥ w+2 tokens shares a print.
  // Scale shape: selection is a pure per-doc HOF projection (no hash
  // shuffles); the pair join is print-bucket-local, and prints seen in
  // more than `WinnowMaxDf` documents are dropped first — the
  // stop-fingerprint cut that keeps one ubiquitous trigram from
  // turning a bucket into a quadratic hot spot (same rule as the
  // boilerplate heavy-hitter cut).
  private val WinnowW = 4
  private val WinnowMaxDf = 50
  private val WinnowMinShared = 2

  private def dedupWinnow(s: SparkSession, dir: String): DataFrame = {
    // Compiled selection (WinnowPrintsExpr: monotone-deque window mins
    // over thread-local digests — the interpreted HOF twin ran the
    // per-shingle md5 lambda once per downstream consumer), then the
    // bounded print frame materializes ONCE for the df cut + both join
    // sides. Wave5Spec pins kernel == HOF twin per document.
    val fps = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.expressions.WinnowPrintsExpr(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text")),
            WinnowW))).as("fp"))
      .localCheckpoint(true)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf)
    val kept = fps.join(rare.select("fp"), Seq("fp"))
    kept.as("a").join(kept.as("b"), Seq("fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_prints"))
      .filter(col("shared_prints") >= WinnowMinShared)
      .orderBy(col("shared_prints").desc, col("doc_a"), col("doc_b"))
      .limit(25)
  }

  private val dedupWinnowSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (
       |  SELECT doc_id, list_transform(
       |    list_transform(generate_series(1, len(toks) - 2),
       |      i -> array_to_string(toks[i:i+2], ' ')),
       |    s0 -> ('0x' || substr(md5(s0), 1, 15))::BIGINT) AS hs
       |  FROM t),
       |fp AS (
       |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
       |    CASE WHEN len(hs) >= $WinnowW THEN range(1, len(hs) - ${WinnowW - 2})
       |         WHEN len(hs) >= 1 THEN [1::BIGINT]
       |         ELSE []::BIGINT[] END,
       |    i -> list_min(hs[i : i + least($WinnowW, len(hs)) - 1])))) AS fp
       |  FROM h),
       |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= $WinnowMaxDf),
       |kept AS (SELECT doc_id, fp FROM fp JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*)::BIGINT AS shared_prints
       |FROM kept a JOIN kept b USING (fp)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
       |ORDER BY shared_prints DESC, doc_a, doc_b LIMIT 25""".stripMargin

  // -------------------------------------------------------------------
  // q_contrastive_pairs — training-pair generation for contrastive
  // embedding training (the SimCSE/E5-style data recipe): anchors and
  // positives are the calibrated ≥ 2-band MinHash-LSH near-dup pairs
  // (both orientations, so every member anchors); negatives are
  // hash-deterministic draws from the corpus, probed j = 0..3 and kept
  // (first 2 by j) only if they exist, differ from both pair members,
  // and are NOT a near-dup partner of the anchor — the "no false
  // negatives from the dup cluster" rule that keeps the contrastive
  // loss from pushing true duplicates apart. Scale shape: pair
  // generation is the bucket-local LSH join; negative probing is a
  // constant per pair, membership + partner checks are equi-/anti-joins
  // on doc_id/(anchor, neg) — nothing is all-pairs.
  private val CtrPosPerAnchor = 4

  /** Routed-mode family cap for the pair queries: keep the top
    * `CtrPosPerAnchor + 1` members of each complete-signature family,
    * ranked by the SAME positive-only key ([[posRankKey]]) the
    * per-anchor positive window orders by. +1 because an anchor's own
    * family contributes the anchor itself as a surviving member: any
    * candidate in an anchor's exact top-4 sits at rank ≤ 5 inside its
    * family — were it ranked 6th or worse, ≥ 5 better-keyed family
    * mates (at most one of which is the anchor) would precede it in
    * the anchor's window and it could not be top-4.
    */
  private val CtrFamilyCap = CtrPosPerAnchor + 1

  /** The positive-ranking key: a hash of the POSITIVE id alone. A
    * pair-dependent key (round 10 hashed `anchor>positive`) makes the
    * per-anchor winners depend on which candidates were formed, so no
    * bounded formation can preserve them; a positive-only key makes
    * the top-4 a property of the candidate SET, and family-capped
    * formation (cap ≥ top-k + 1, same key) provably contains every
    * anchor's exact winners — the routed ⊆ exact contract the other
    * guarded legs pin.
    */
  private def posRankKey(c: Column): Column =
    TextAnalysisShared.hash64(c.cast("string"))

  /** Both orientations of the ≥ 2-band LSH pairs, CAPPED at
    * `CtrPosPerAnchor` positives per anchor (deterministic spread by
    * the shared hash of the positive id, not first-ids). On a heavily
    * duplicated corpus an anchor can have hundreds of near-dup
    * partners — a training set neither needs nor survives the
    * quadratic emission (measured: the uncapped pair frame put
    * q_contrastive_pairs at 93 s and q_hard_negatives at 167 s on the
    * ~96%-near-dup ×30 upsample; the cap bounds per-anchor OUTPUT at
    * any duplication factor).
    *
    * Candidate-pair FORMATION is still quadratic in family size before
    * the cap can drop anything (m²/2 per m-copy family; 128/126 s at
    * ×100, and unbounded on a pre-dedup crawl), so it runs behind
    * [[PairGuard]] like every other pair contract: past the cap,
    * pairs form over the ≤ [[CtrFamilyCap]] best-keyed members of each
    * complete-signature family. Family members share every band
    * signature, so an anchor's candidate set is a union of whole
    * families and collision (≥ 2 bands) is family-level; with
    * formation capped at top-5 per family BY THE POSITIVE KEY, every
    * surviving anchor's top-4 positives are provably the exact ones —
    * routed output = exact output restricted to surviving anchors,
    * row-for-row (`PairGuardSpec` pins it).
    */
  private[operators] def cappedAnchorPairs(vecs: DataFrame, exact: Boolean): DataFrame = {
    // Routed formation ranks family members by the positive window's
    // own key — any other key collapses the preservation argument.
    val src = if (exact) vecs else familyReps(vecs, CtrFamilyCap, posRankKey)
    val pairs = TextAnalysisShared.firstMatchPairs(src, 4)
      .filter(col("bands_matched") >= 2)
    pairs.select(col("doc_a").as("anchor"), col("doc_b").as("positive"))
      .union(pairs.select(col("doc_b").as("anchor"), col("doc_a").as("positive")))
      .withColumn("prn", row_number().over(Window.partitionBy("anchor")
        .orderBy(posRankKey(col("positive")), col("positive"))))
      .filter(col("prn") <= CtrPosPerAnchor)
      .select("anchor", "positive")
  }

  /** The session's checkpointed capped anchor-pair frame for the
    * current guard verdict. q_contrastive_pairs and q_hard_negatives
    * derive their positives from the IDENTICAL `pos` chain (same
    * census, same pair join, same per-anchor window; the query name
    * only labels the guard), so it lives in the table's signature
    * state ([[TextAnalysisShared.DocSigs]]) and is built once per
    * verdict.
    */
  private def anchorPairs(s: SparkSession, dir: String, query: String): DataFrame = {
    val sigs = TextAnalysisShared.cachedDocSigs(s, dir)
    sigs.anchorPairs(PairGuard.allowExact(s, query)(sigs.census))
  }

  /** The capped-pair CTE chain (through `pos`), shared by both pair
    * queries' oracles.
    */
  private val cappedPairsCteSql =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(toks) - 2),
       |      i -> array_to_string(toks[i:i+2], ' '))) AS shingle
       |  FROM t),
       |hx AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x FROM sh),
       |sig AS (
       |  SELECT doc_id, band, min((x * a + band) % 2147483647) AS sig
       |  FROM hx, (SELECT unnest([0, 1, 2, 3]) AS band,
       |            unnest([1299721, 7919, 104729, 15485863]) AS a) b
       |  GROUP BY doc_id, band),
       |p2 AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(DISTINCT a.band) >= 2),
       |posu AS (SELECT doc_a AS anchor, doc_b AS positive FROM p2
       |         UNION ALL SELECT doc_b, doc_a FROM p2),
       |pos AS (
       |  SELECT anchor, positive FROM (
       |    SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY
       |      ('0x' || substr(md5(positive::VARCHAR), 1, 15))::BIGINT,
       |      positive) AS prn
       |    FROM posu)
       |  WHERE prn <= $CtrPosPerAnchor)""".stripMargin

  private val CtrNegProbes = 4
  private val CtrNegKeep = 2

  private def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // Already checkpointed (read 2x here: cand + anti) and
    // session-shared with q_hard_negatives ([[anchorPairs]]).
    val pos = anchorPairs(s, dir, "q_contrastive_pairs")
    val nd = docs.agg(count(lit(1)).as("n"))
    val cand = pos
      .select(col("anchor"), col("positive"),
        explode(sequence(lit(0), lit(CtrNegProbes - 1))).as("j"))
      .crossJoin(broadcast(nd))
      .withColumn("neg", pmod(TextAnalysisShared.hash64(
        concat(col("anchor").cast("string"), lit(":"), col("j").cast("string"))),
        col("n")))
      .filter(col("neg") =!= col("anchor") && col("neg") =!= col("positive"))
      .join(docs.select(col("doc_id").as("neg")), Seq("neg"))
      .join(pos.select(col("anchor"), col("positive").as("neg")),
        Seq("anchor", "neg"), "left_anti")
    cand
      .withColumn("rn", row_number().over(
        Window.partitionBy("anchor", "positive").orderBy("j")))
      .filter(col("rn") <= CtrNegKeep)
      .select(col("anchor"), col("positive"), col("neg"),
        col("j").cast("long").as("j"))
      .orderBy("anchor", "positive", "j")
  }

  private val contrastivePairsSql =
    s"""WITH $cappedPairsCteSql,
       |nd AS (SELECT count(*)::BIGINT AS n FROM documents),
       |cand AS (
       |  SELECT pos.anchor, pos.positive, r.range AS j,
       |    ('0x' || substr(md5(pos.anchor || ':' || r.range), 1, 15))::BIGINT % nd.n AS neg
       |  FROM pos CROSS JOIN range(0, $CtrNegProbes) r CROSS JOIN nd),
       |ok AS (
       |  SELECT c.anchor, c.positive, c.j, c.neg FROM cand c
       |  JOIN documents d ON d.doc_id = c.neg
       |  WHERE c.neg <> c.anchor AND c.neg <> c.positive
       |    AND NOT EXISTS (SELECT 1 FROM pos p
       |                    WHERE p.anchor = c.anchor AND p.positive = c.neg))
       |SELECT anchor, positive, neg, j FROM (
       |  SELECT *, row_number() OVER (PARTITION BY anchor, positive ORDER BY j) AS rn
       |  FROM ok)
       |WHERE rn <= $CtrNegKeep ORDER BY anchor, positive, j""".stripMargin

  // -------------------------------------------------------------------
  // q_hard_negatives — the E5/DPR-style hard-negative upgrade of the
  // random draws above: for each LSH near-dup pair, the negatives come
  // from the ANCHOR'S OWN embedding sign-bucket — semantically close
  // (they share all 8 projection signs) but verifiably not a near-dup
  // partner. Hard negatives are what make a contrastive embedding
  // model learn fine distinctions instead of topic detection. Choice
  // inside the bucket is deterministic: top-2 by the shared
  // hash64(anchor:candidate) order, so re-runs and engines agree.
  // Scale shape: one bucket equi-join (anchor bucket → candidates) —
  // the same 2^8-cell blocking every sign-LSH query uses — plus the
  // pair/identity anti-filters; no all-pairs stage.
  private val HardNegKeep = 2
  private val HardNegPool = 16

  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // Already checkpointed (read 2x here: cand + anti) and
    // session-shared with q_contrastive_pairs ([[anchorPairs]]).
    val pos = anchorPairs(s, dir, "q_hard_negatives")
    val buckets = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.signBucket(col("embedding"), 8).as("bucket"))
    // The negative POOL is a bounded per-bucket sample (top-16 by the
    // shared hash): joining anchors against FULL bucket membership is
    // the hot-bucket trap — on a heavily duplicated corpus one bucket
    // holds every copy of a popular vector and the candidate frame
    // goes anchors × bucket_size (measured 348 s at ×100 before the
    // pool). Sampled negatives are standard for contrastive training;
    // the pool choice is deterministic, so engines and re-runs agree.
    val pool = buckets
      .withColumn("brn", row_number().over(Window.partitionBy("bucket")
        .orderBy(TextAnalysisShared.hash64(concat(col("bucket").cast("string"),
          lit("#"), col("vec_id").cast("string"))), col("vec_id"))))
      .filter(col("brn") <= HardNegPool)
      .select(col("vec_id"), col("bucket"))
    val cand = pos
      .join(buckets.select(col("vec_id").as("anchor"), col("bucket")), Seq("anchor"))
      .join(pool.select(col("vec_id").as("neg"), col("bucket")), Seq("bucket"))
      .filter(col("neg") =!= col("anchor") && col("neg") =!= col("positive"))
      .join(pos.select(col("anchor"), col("positive").as("neg")),
        Seq("anchor", "neg"), "left_anti")
      .withColumn("h", TextAnalysisShared.hash64(
        concat(col("anchor").cast("string"), lit(":"), col("neg").cast("string"))))
    cand
      .withColumn("rn", row_number().over(
        Window.partitionBy("anchor", "positive").orderBy(col("h"), col("neg"))))
      .filter(col("rn") <= HardNegKeep)
      .select(col("anchor"), col("positive"), col("neg"), col("bucket"))
      .orderBy("anchor", "positive", "neg")
  }

  private val hardNegativesSql = {
    val bucketExpr = TextAnalysisShared.bucketExprSql(8)
    s"""WITH $cappedPairsCteSql,
       |bk AS (SELECT vec_id, ($bucketExpr)::BIGINT AS bucket FROM embeddings),
       |pool AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY
       |      ('0x' || substr(md5(bucket || '#' || vec_id), 1, 15))::BIGINT,
       |      vec_id) AS brn
       |    FROM bk)
       |  WHERE brn <= $HardNegPool),
       |cand AS (
       |  SELECT pos.anchor, pos.positive, nb.vec_id AS neg, ab.bucket,
       |    ('0x' || substr(md5(pos.anchor || ':' || nb.vec_id), 1, 15))::BIGINT AS h
       |  FROM pos
       |  JOIN bk ab ON ab.vec_id = pos.anchor
       |  JOIN pool nb ON nb.bucket = ab.bucket
       |  WHERE nb.vec_id <> pos.anchor AND nb.vec_id <> pos.positive
       |    AND NOT EXISTS (SELECT 1 FROM pos p
       |                    WHERE p.anchor = pos.anchor AND p.positive = nb.vec_id))
       |SELECT anchor, positive, neg, bucket FROM (
       |  SELECT *, row_number() OVER (PARTITION BY anchor, positive
       |    ORDER BY h, neg) AS rn FROM cand)
       |WHERE rn <= $HardNegKeep ORDER BY anchor, positive, neg""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_contrastive_pairs", contrastivePairs, Some(contrastivePairsSql)),
    Q("q_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    Q("q_dedup_winnow", dedupWinnow, Some(dedupWinnowSql)),
    Q("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    Q("q_dedup_cluster_hist", dedupClusterHist, Some(dedupClusterHistSql)),
    Q("q_dedup_minhash_lsh", dedupMinhashLsh, Some(dedupMinhashLshSql)),
    Q("q_minhash_estimate", minhashEstimate, Some(minhashEstimateSql)),
    Q("q_minhash_estimate_sampled", minhashEstimateSampled, Some(minhashEstimateSampledSql)),
    Q("q_dedup_jaccard_pairs", dedupJaccardPairs, Some(dedupJaccardPairsSql)),
    Q("q_dedup_embedding", dedupEmbedding, Some(dedupEmbeddingSql)),
    Q("q_dedup_embedding_lsh", dedupEmbeddingLsh, Some(dedupEmbeddingLshSql)))
}

/** Shared text helpers used across operator packs. */
private[graft] object TextAnalysisShared {
  import org.apache.spark.sql.Column

  /** Winnowing fingerprint set (Schleimer et al. 2003, the MOSS
    * algorithm): hash every shingle, slide a window of `w` hashes,
    * keep each window's minimum — guaranteed to share fingerprints
    * with any document overlapping by ≥ w + shingle-size tokens, while
    * selecting only ~2/(w+1) of the hashes. Pure per-document
    * collection HOFs: no hash ever shuffles; only the distinct
    * selected fingerprints do.
    */
  def winnowFingerprints(textCol: Column, w: Int): Column = {
    val hs = transform(TextAnalysisShared.shingles(textCol),
      sh => TextAnalysisShared.hash64(sh))
    val idx = when(size(hs) >= w, sequence(lit(1), size(hs) - (w - 1)))
      .otherwise(when(size(hs) >= 1, sequence(lit(1), lit(1)))
        .otherwise(array().cast("array<int>")))
    // Short docs (< w hashes) keep their single global min — the
    // standard boundary rule, so every non-empty doc has ≥ 1 print.
    array_distinct(transform(idx,
      i => array_min(slice(hs, i, least(lit(w), size(hs))))))
  }

  /** Word n-grams via the compiled boundary-scan kernel
    * ([[graft.functions.expressions.WordGramsExpr]]) — bit-identical
    * to the HOF chain it replaced (`transform(sequence, i =>
    * concat_ws(" ", slice(toks, i, n)))`; KernelProps pins the parity
    * over adversarial inputs for n = 2..6), so every gram consumer
    * (shingles, winnowing, the LM model builds, decontamination) gets
    * the one-scan kernel instead of interpreted per-gram lambdas.
    */
  def ngrams(textCol: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.WordGramsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(textCol), n))

  /** 3-token shingles — the MinHash unit. */
  def shingles(textCol: Column): Column = ngrams(textCol, 3)

  // ---- first-match pair emission (shared by every LSH pair contract) --
  // A (band, sig) bucket self-join emits a colliding pair once PER
  // matching band, so the classic follow-up — groupBy(pair) to count
  // bands — is a hash aggregate over ~all-unique keys: it combines
  // nothing and spills everything (measured 84 s against the join's
  // 2.5 s at the ×100 decade on the incremental leg). When both join
  // sides carry their doc's band-ordered signature VECTOR instead, a
  // matched row knows every band the pair collides in: emit the pair
  // only from its FIRST matching band and compute bands_matched inline
  // — one row per pair, no pair-keyed aggregation anywhere. The band
  // tests are fixed-width when-chains, inside codegen.

  /** Smallest band index where both signature vectors agree — the one
    * band a colliding pair is emitted from. The caller's join
    * guarantees at least one agreeing position, so the final otherwise
    * is never a misattribution.
    */
  def firstMatchBand(svA: Column, svB: Column, nBands: Int): Column =
    (0 until nBands - 1).foldRight(lit(nBands - 1): Column)((i, rest) =>
      when(element_at(svA, i + 1) === element_at(svB, i + 1), lit(i))
        .otherwise(rest))

  /** Count of agreeing signature positions == the number of (band, sig)
    * buckets the pair collides in — `bands_matched` without an
    * aggregation.
    */
  def matchedBands(svA: Column, svB: Column, nBands: Int): Column =
    (0 until nBands)
      .map(i => (element_at(svA, i + 1) === element_at(svB, i + 1)).cast("long"))
      .reduce(_ + _)

  /** The one first-match LSH pair join: `vecs` holds one row per doc
    * with its band-ordered signature vector `sv` ([[DocSigs.vectors]]).
    * Each `carry` column rides both join sides as `<c>_a` / `<c>_b`,
    * and the `perPair` columns over them are computed AT the join,
    * where both docs' values are co-located (the calibration's true
    * Jaccard) — per-doc arrays never reach a pair-sized exchange.
    * Emits (doc_a, doc_b, bands_matched, perPair…), one row per
    * colliding pair with doc_a < doc_b.
    */
  def firstMatchPairs(vecs: DataFrame, nBands: Int, carry: Seq[String] = Nil,
      perPair: Seq[Column] = Nil): DataFrame = {
    def side(x: String) = vecs.select(
      Seq(col("doc_id").as(s"doc_$x"), col("sv").as(s"sv$x")) ++
        carry.map(c => col(c).as(s"${c}_$x")) :+
        posexplode(col("sv")).as(Seq("band", "sig")): _*)
    side("a").join(side("b"), Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("band") === firstMatchBand(col("sva"), col("svb"), nBands))
      .select(Seq(col("doc_a"), col("doc_b"),
        matchedBands(col("sva"), col("svb"), nBands).as("bands_matched")) ++ perPair: _*)
  }

  /** Candidate-pair volume of the (band, sig) bucket self-join —
    * Σ_bucket c·(c−1)/2 — the number [[PairGuard]] prices before any
    * LSH pair contract may run exact. One group-count + one sum over an
    * already-materialized (doc_id, band, sig) frame.
    */
  def lshPairCensus(sigs: DataFrame): Long =
    sigs.groupBy("band", "sig").count()
      .agg(coalesce(sum(expr("count * (count - 1) DIV 2")), lit(0L)))
      .head().getLong(0)

  /** Distinct whitespace tokens — the set under token-set Jaccard. */
  def tokenSet(textCol: Column): Column = array_distinct(split(textCol, " "))

  /** Token-set Jaccard over two [[tokenSet]] columns — the near-dup
    * VERIFICATION measure (q_dedup_jaccard_pairs, and the confirm leg
    * of StreamingDedup's verified-drop mode). Unrounded; callers round
    * for presentation.
    */
  def jaccardSets(ta: Column, tb: Column): Column = {
    val inter = size(array_intersect(ta, tb))
    inter.cast("double") / (size(ta) + size(tb) - inter)
  }

  /** 60-bit hash of a string column: the first 15 hex chars of its md5,
    * as a non-negative long — the one string→int64 hash every keyed
    * operator (MinHash mixes, span hashing, salted sample buckets)
    * derives from, matching the oracles'
    * ('0x' || substr(md5(x),1,15))::BIGINT. `OperatorSmokeSpec` fails
    * on an inline copy of the formula anywhere else in `src/main`.
    */
  def hash64(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Uniform draw in (0, 1) keyed by a string column: (hash64 + 0.5) /
    * 2^60 — the reproducible RNG replacement of the weighted and Pareto
    * samplers and the FLB simulator, matching the oracles' `(… + 0.5) /
    * 1152921504606846976.0`. Both constants are DECIMAL literals, the
    * types Spark SQL gives the same text, so the arithmetic (decimal,
    * then double) and every draw are those of the SQL form.
    */
  def hashUniform(c: Column): Column =
    (hash64(c) + lit(BigDecimal("0.5"))) / lit(BigDecimal("1152921504606846976.0"))

  /** The sign-bucket id as oracle SQL — the DuckDB twin of
    * `VectorFunctions.signBucket`, shared by every oracle that probes
    * or blocks on the bucket so the formula cannot silently diverge
    * from the Spark side in one copy.
    */
  def bucketExprSql(bits: Int, col: String = "embedding"): String =
    (1 to bits)
      .map(i => s"(CASE WHEN $col[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END)")
      .mkString(" + ")

  /** MinHash band-mix universal-hash family: per band b,
    * h_b(x) = (x · A(b) + b) mod P over the 60-bit md5 prefix — the
    * standard (a·x + c) mod p permutation approximation, so the md5
    * digest runs ONCE per shingle instead of once per (shingle, band).
    */
  val MinhashP = 2147483647L // 2^31 - 1
  val MinhashA: Seq[Long] =
    Seq(1299721L, 7919L, 104729L, 15485863L, 32452843L, 49979687L, 67867967L, 86028121L)

  /** Per-doc band-ordered MinHash signature vectors `(doc_id, sv,
    * extra…)` via the compiled
    * [[graft.functions.expressions.MinhashSigsExpr]] kernel: ONE
    * projection computes every band's min in a single pass over the
    * doc's shingles — no shingle row ever exists and NO exchange at
    * all (the prior explode + groupBy form shuffled one row per
    * (doc, band); this shuffles nothing). Values are bit-identical to
    * the explode formulation (same md5-prefix hash, same (x·A+b) mod P
    * mixes, `DedupSemanticsSpec` pins kernel == explode on the real
    * corpus), so every oracle downstream is unchanged. Docs with < 3
    * tokens yield a null vector and are filtered — the explode form's
    * absent-row semantics. `extra` columns over `docs` ride the same
    * projection.
    */
  def minhashVectors(docs: DataFrame, nBands: Int, extra: Column*): DataFrame = {
    require(nBands <= MinhashA.size, s"at most ${MinhashA.size} bands")
    val sv = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.MinhashSigsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("text")),
        MinhashA.take(nBands).toArray, MinhashP))
    Tables.spread(docs)
      .select(col("doc_id") +: sv.as("sv") +: extra: _*)
      .filter(col("sv").isNotNull)
  }

  /** (doc_id, band, sig) rows off a per-doc vector frame — a narrow
    * posexplode, no exchange.
    */
  def explodeVectors(vecs: DataFrame): DataFrame =
    vecs.select(col("doc_id"), posexplode(col("sv")))
      .select(col("doc_id"), col("pos").cast("long").as("band"), col("col").as("sig"))

  /** Per-(doc, band) MinHash signatures: [[minhashVectors]], exploded. */
  def bandedMinhashSigs(docs: DataFrame, nBands: Int): DataFrame =
    explodeVectors(minhashVectors(docs, nBands))

  /** The signature state of one raw documents table. Its base is the
    * CHECKPOINTED 4-band per-doc vector frame `vectors` (doc_id, sv);
    * everything else derives from it, lazily, once per state. The sig
    * memo keys the whole state on the table's fingerprint, so a derived
    * value can never be keyed apart from — or outlive — the frame it
    * summarizes, and a warm consumer pays one fingerprint pass for all
    * of them.
    *
    *  - `frame`: the exploded (doc_id, band, sig) view, a narrow
    *    posexplode of `vectors` ([[explodeVectors]]), not a second
    *    checkpoint.
    *  - `census`: the bucket pair volume ([[lshPairCensus]]) shared by
    *    the four guarded LSH legs (q_dedup_minhash_lsh, both training
    *    pair queries, and the full calibration leg); forced only by
    *    [[PairGuard.allowExact]], which labels the job
    *    `pair_guard_census` (mode=exact never runs it).
    *  - `shingleSets`: the checkpointed (doc_id, sv, sh) frame of the
    *    two calibration legs — ONE kernel projection per doc computes
    *    the vector AND the distinct 60-bit shingle-hash set
    *    ([[graft.functions.expressions.SpanHashesExpr]], n=3, distinct
    *    — a 3-token shingle IS a 3-token span, and the kernel's
    *    `parseLong(md5hex[0,15), 16)` is exactly the oracles'
    *    `('0x' || substr(md5(shingle), 1, 15))::BIGINT`). Built only
    *    when a calibration leg asks; builds labeled
    *    `sigset_cache_build`.
    *  - `anchorPairs(exact)`: the checkpointed capped anchor-pair frame
    *    ([[Dedup.cappedAnchorPairs]]) with ONE SLOT PER GUARD VERDICT —
    *    a mid-session mode/cap flip builds the other slot once, and a
    *    flip back is served the first slot again; neither verdict is
    *    ever served the other's shape. Builds labeled
    *    `anchor_pairs_build`.
    *  - `ccLabels`: the MinHash-LSH connected-component labels
    *    ([[Lifecycle.minhashCcLabelsFromSigs]], a diameter-many
    *    sequence of driver-blocking rounds) shared by the three
    *    cluster-family queries. Builds labeled `cc_labels_build`.
    *
    * None of its checkpoints is a memo pin ([[graft.internal.SessionMemo.pin]]):
    * one query reads each more than once (`vectors`: the census and the
    * pair join; `shingleSets`: both sides of the pair join; an anchor
    * frame: the candidates and the anti-join), so they stay with memos
    * off, where each call gets a fresh state.
    */
  final class DocSigs private[TextAnalysisShared] (val vectors: DataFrame, docs: DataFrame) {
    val frame: DataFrame = explodeVectors(vectors)
    lazy val census: Long = lshPairCensus(frame)
    /** `q_dedup_incremental`'s census over its batch/index split (batch:
      * `doc_id % 5 = 0`), one aggregate: the Σ_bucket (b·i + b·(b−1)/2)
      * candidate-pair volume and the batch side's sig rows.
      */
    lazy val incrementalCensus: (Long, Long) = {
      val row = frame.withColumn("isb", (col("doc_id") % 5 === 0).cast("long"))
        .groupBy("band", "sig").agg(sum(col("isb")).as("b"), sum(lit(1L) - col("isb")).as("i"))
        .agg(coalesce(sum(col("b") * col("i") + expr("b * (b - 1) DIV 2")), lit(0L)),
          coalesce(sum(col("b")), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }

    private def built(op: String)(df: => DataFrame): DataFrame =
      graft.observability.Metrics.withOp(vectors.sparkSession, op)(df)
    lazy val shingleSets: DataFrame = built("sigset_cache_build")(
      minhashVectors(docs, 4, org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.SpanHashesExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), 3, distinct = true))
        .as("sh")).localCheckpoint(true))
    private lazy val anchorsExact =
      built("anchor_pairs_build")(Dedup.cappedAnchorPairs(vectors, exact = true).localCheckpoint(true))
    private lazy val anchorsRouted =
      built("anchor_pairs_build")(Dedup.cappedAnchorPairs(vectors, exact = false).localCheckpoint(true))
    def anchorPairs(exact: Boolean): DataFrame = if (exact) anchorsExact else anchorsRouted

    lazy val ccLabels: DataFrame =
      built("cc_labels_build")(Lifecycle.minhashCcLabelsFromSigs(frame))
  }

  /** Per-(session, dir) memo of the raw documents table's [[DocSigs]]:
    * the LSH pair queries (dedup_minhash_lsh, dedup_incremental,
    * contrastive_pairs, hard_negatives), the two calibration legs and
    * the three CC cluster-family queries each rebuilt the identical
    * text-scan + md5 kernel chain per construction; within one session
    * the first consumer pays and the rest re-read one small vector per
    * doc. Keyed on the table's file-listing fingerprint (a rewritten
    * `documents.parquet` misses naturally — see
    * [[graft.internal.SessionMemo]]); builds surface in op-metrics as
    * `sig_cache_build`. With `spark.graft.memo.enabled=false` every
    * call gets a fresh state, so the vectors AND every derived value
    * rebuild per call. Only the raw-table chain is memoized — callers
    * signing a DERIVED frame (pipeline stages, streaming batches) still
    * call [[bandedMinhashSigs]] directly.
    */
  private val sigCache = new graft.internal.SessionMemo[DocSigs]("sig_cache_build")

  def cachedDocSigs(s: org.apache.spark.sql.SparkSession, dir: String): DocSigs =
    sigCache.getOrBuild(s, s"$dir/documents.parquet") {
      val docs = Tables.documents(s, dir)
      new DocSigs(minhashVectors(docs, 4).localCheckpoint(true), docs)
    }
}
