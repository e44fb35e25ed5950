package graft.operators

import graft.Q
import graft.functions.VectorFunctions
import graft.functions.expressions.BloomTestBits
import graft.io.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}

/** Training-data pipeline pack beyond the reference: PII scrubbing,
  * repetition filters (the C4/Gopher-style rules a 100 TB pretraining
  * pipeline applies before anything else), deterministic stratified
  * sampling, benchmark decontamination, sequence packing, target-weight
  * mixture resampling, and hash-assigned train/val/test splitting. The
  * filters are pure projections / per-doc aggregates; decontamination
  * is one gram-keyed equi-join; packing is one windowed running sum;
  * resampling and splitting are broadcast-dim projections — nothing
  * here compares documents all-pairs.
  */
object QualityFilters {

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"
  private val UrlRe = "https?://[^ ]+"

  // -------------------------------------------------------------------
  // PII scrub: count + redact emails/phones/URLs in one projection.
  // The corpus is synthetic word soup, so the query plants deterministic
  // PII per document first (doc-keyed address/phone/url), then the
  // scrubber — the part under test — finds and redacts it.
  private def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" or call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" see https://example.com/doc/"), col("doc_id")))
        .otherwise(lit("")))
    // lit() patterns, not expr() SQL strings: the SQL parser would eat
    // the regex backslashes (\b → backspace).
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(col("raw"),
      EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), UrlRe, "<URL>")
    Tables.documents(s, dir)
      .select(col("doc_id"), planted.as("raw"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
        size(regexp_extract_all(col("raw"), lit(UrlRe), lit(0))).cast("long").as("n_url"),
        // right(s, 60) semantics, exact for short strings too.
        scrubbed.substr(greatest(length(scrubbed) - lit(59), lit(1)), lit(60)).as("scrubbed_tail"))
      .orderBy("doc_id")
  }

  private val piiScrubSql =
    s"""WITH r AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com'
       |      || (CASE WHEN doc_id % 2 = 0
       |          THEN ' or call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END)
       |      || (CASE WHEN doc_id % 3 = 0
       |          THEN ' see https://example.com/doc/' || doc_id ELSE '' END) AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(raw, '$EmailRe'))::BIGINT AS n_email,
       |  len(regexp_extract_all(raw, '$PhoneRe'))::BIGINT AS n_phone,
       |  len(regexp_extract_all(raw, '$UrlRe'))::BIGINT AS n_url,
       |  right(regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$UrlRe', '<URL>', 'g'),
       |    60) AS scrubbed_tail
       |FROM r ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Repetition filters (Gopher-style): distinct-token ratio and the
  // most-frequent-token mass fraction; keep = both under threshold.
  //
  // r16: the three per-doc statistics come from ONE compiled hash pass
  // per row ([[graft.functions.expressions.TokenStatsExpr]], the
  // GopherRepWorker pattern) — the old explode + groupBy(doc_id, t) +
  // groupBy(doc_id) chain shuffled one partial count per distinct
  // (doc, token) and then re-shuffled the per-token rows; a per-doc
  // statistic is map-side work and now ships zero rows to any
  // exchange (the output sort is all that remains). Values are
  // all-integer and tokenization is identical, so the output is exact
  // (KernelProps pins kernel == brute force on adversarial token
  // streams; the oracle pins the corpus).
  private def repetitionFilter(s: SparkSession, dir: String): DataFrame = {
    val st = ExpressionUtils.column(graft.functions.expressions.TokenStatsExpr(
      ExpressionUtils.expression(col("text"))))
    Tables.documents(s, dir)
      .select(col("doc_id"), st.as("st"))
      .filter(col("st").isNotNull) // null text had no exploded rows
      .select(
        col("doc_id"),
        element_at(col("st"), 1).as("n_tokens"),
        element_at(col("st"), 2).as("n_distinct"),
        element_at(col("st"), 3).as("top_n"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6).as("dup_frac"),
        round(col("top_n").cast("double") / col("n_tokens"), 6).as("top_token_frac"),
        (col("n_distinct").cast("double") / col("n_tokens") > 0.5 &&
          col("top_n").cast("double") / col("n_tokens") < 0.1).as("keep"))
      .orderBy("doc_id")
  }

  private val repetitionFilterSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |pt AS (
      |  SELECT doc_id, t, count(*)::BIGINT AS n FROM tok GROUP BY doc_id, t),
      |agg AS (
      |  SELECT doc_id, sum(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct,
      |    max(n)::BIGINT AS top_n
      |  FROM pt GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct,
      |  round(1.0::DOUBLE - n_distinct::DOUBLE / n_tokens, 6) AS dup_frac,
      |  round(top_n::DOUBLE / n_tokens, 6) AS top_token_frac,
      |  (n_distinct::DOUBLE / n_tokens > 0.5 AND top_n::DOUBLE / n_tokens < 0.1) AS keep
      |FROM agg ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Stratified (domain-mix) sampling: per-language keep rates applied
  // via deterministic key-hash buckets — the way a pretraining mixture
  // downsamples over-represented domains. No RNG state: the same doc
  // keeps or drops on every run, machine count, and retry (hash
  // sampling is the only reproducible sample at 100 TB — Spark's
  // sample() changes membership with partitioning). Pure projection +
  // filter: one scan, no shuffle but the final sort.
  private def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket =
      expr("cast(conv(substring(md5(cast(cast(doc_id as string) as binary)), 1, 15), 16, 10) as bigint) % 100")
    val rate = when(col("lang") === "en", 40L)
      .when(col("lang") === "zh", 60L)
      .when(col("lang") === "es", 80L)
      .otherwise(100L)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .orderBy("doc_id")
  }

  private val stratifiedSampleSql =
    """SELECT doc_id, lang, bucket, rate FROM (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket,
      |    (CASE WHEN lang = 'en' THEN 40 WHEN lang = 'zh' THEN 60
      |          WHEN lang = 'es' THEN 80 ELSE 100 END)::BIGINT AS rate
      |  FROM documents) t
      |WHERE bucket < rate ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Benchmark decontamination: flag training docs sharing any word
  // 5-gram with a heldout eval split (every 13th doc stands in for the
  // benchmark). The canonical pretraining hygiene pass: explode grams,
  // distinct the benchmark side, broadcast it (a benchmark suite is
  // small at ANY corpus scale — the hint pins the plan so the exploded
  // training-gram stream is never shuffled for the join, regardless of
  // what statistics estimate), per-doc hit aggregate. Linear in corpus
  // size, never an all-pairs compare.
  /** Word 5-grams of a text column (empty below 5 tokens). */
  private def grams5(c: Column): Column = TextAnalysisShared.ngrams(c, 5)

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(explode(grams5(col("text"))).as("gram")).distinct()
    docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), explode(grams5(col("text"))).as("gram"))
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("gram").as("first_hit"))
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS gram
      |  FROM t),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 13 = 0)
      |SELECT g.doc_id, count(*)::BIGINT AS n_hits, min(g.gram) AS first_hit
      |FROM g JOIN bench USING (gram)
      |WHERE g.doc_id % 13 <> 0
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Bloom-prefiltered decontamination: the regime q_decontaminate's
  // broadcast CANNOT serve — overlap against a held-out side that is
  // corpus-sized (here every 3rd doc, a full third), where the exact
  // distinct-gram set is far too big to broadcast at 100 TB. The Bloom
  // bitmap replaces it: build-side aggregate output is bounded at
  // m/64 rows NO MATTER the held-out size (map-side combine collapses
  // the position stream before the exchange), the bitmap ships with
  // the task binary, and the probe drops non-overlapping grams BEFORE
  // the confirming shuffle join — so the exchange carries only true
  // overlaps plus the fp-rate sliver, not the full exploded training
  // stream. Results are EXACT: Bloom no-false-negatives is by
  // construction (build and probe share the pmod double-hash formula,
  // see BloomTestBits), and the equi-join removes false positives.
  // Sizing is ADAPTIVE: ~16 bits per distinct held key (fp ≈ 0.1 % at
  // k = 5), floor 2^18, next power of two. A fixed m silently
  // saturates when the held side grows — measured at ×100 corpus the
  // 2^18 filter hit n·k ≈ 2m, passed nearly everything, and the query
  // paid bloom cost PLUS the full join (35 s vs 16 s for plain
  // exact); sized from the held count it prunes again. The count that
  // sizes the filter is one cheap aggregate over the already-persisted
  // held frame — the price of knowing m, paid once.
  private val BloomMinM = 1 << 18
  private val BloomBitsPerKey = 16L
  private val BloomK = 5
  private val BloomSalt = "graft-bloom-42"

  private def bloomSize(nKeys: Long): Int = {
    val want = math.max(BloomMinM.toLong, nKeys * BloomBitsPerKey)
    // Next power of two, capped at 2^28 bits (32 MiB) — past that the
    // bitmap stays useful but the cap keeps task binaries sane; a
    // cluster deployment raises it with executor memory.
    var m = BloomMinM
    while (m.toLong < want && m < (1 << 28)) m <<= 1
    m
  }

  /** Build the Bloom bitmap of a one-string-column frame. The aggregate
    * output is bounded at m/64 rows regardless of input size (map-side
    * combine collapses the position stream before the exchange), so the
    * collect is a bounded envelope, not a corpus drain.
    */
  private[operators] def bloomBitmap(keys: DataFrame, keyCol: String,
      m: Int, k: Int = BloomK): Array[Long] = {
    val wordsDf = keys
      .select(xxhash64(col(keyCol)).as("h1"),
        xxhash64(col(keyCol), lit(BloomSalt)).as("h2"))
      .select(explode(sequence(lit(0), lit(k - 1))).as("i"),
        col("h1"), col("h2"))
      .select(expr(s"pmod(pmod(h1, $m) + i * pmod(h2, $m), $m)").as("pos"))
      .select(expr("cast(pos div 64 as int)").as("w"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("bit"))
      .groupBy("w").agg(expr("bit_or(bit)").as("bits"))
    val words = new Array[Long](m / 64)
    wordsDf.collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership-test column for a key column against [[bloomBitmap]]'s
    * output — Spark's own codegen'd xxhash64 pair feeding the codegen'd
    * probe, so the whole test stays inside whole-stage codegen.
    */
  private[operators] def bloomProbe(keyCol: Column, words: Array[Long],
      k: Int = BloomK): Column =
    ExpressionUtils.column(BloomTestBits(
      ExpressionUtils.expression(xxhash64(keyCol)),
      ExpressionUtils.expression(xxhash64(keyCol, lit(BloomSalt))),
      words, k))

  private def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Checkpointed: read three times (sizing count, bitmap build,
    // confirm join) — without it the held explode+distinct runs thrice.
    // Lazy, so the sizing count is the job that realizes it. Its blocks
    // go with the frame: no later call reads them.
    val held = docs.filter(col("doc_id") % 3 === 0)
      .select(explode(grams5(col("text"))).as("gram")).distinct()
      .localCheckpoint(false)
    val words = bloomBitmap(held, "gram", bloomSize(held.count()))
    docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), explode(grams5(col("text"))).as("gram"))
      .filter(bloomProbe(col("gram"), words))
      // Exact confirm — deliberately NOT broadcast: at scale both
      // sides hash-partition on gram, and the bloom has already cut
      // the training stream to the overlap sliver.
      .join(held, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("gram").as("first_hit"))
      .orderBy("doc_id")
  }

  // The oracle is the EXACT overlap — the bloom is invisible in the
  // result, which is precisely the property under test.
  private val decontaminateBloomSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS gram
      |  FROM t),
      |held AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 = 0)
      |SELECT g.doc_id, count(*)::BIGINT AS n_hits, min(g.gram) AS first_hit
      |FROM g JOIN held USING (gram)
      |WHERE g.doc_id % 3 <> 0
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Semantic decontamination, multi-probe IVF form: flag training
  // vectors whose cosine vs ANY benchmark vector clears τ — the
  // embedding-space sibling of the n-gram passes, catching
  // paraphrased/reworded benchmark leakage no exact-gram overlap sees.
  // Benchmark stand-in: every 13th vec (q_decontaminate's convention).
  //
  // Blocking is the nearest-centroid CELL (the SemDeDup / IVF
  // machinery), not sign-LSH: at τ = 0.3 — "semantically close", far
  // below near-dup — 8-bit sign agreement has ~3 % recall on this
  // corpus (measured), single-cell agreement 21 %. The production knob
  // is IVF's nprobe: the BENCHMARK side lives in its 1 nearest cell,
  // the training side probes its top-`SemDecontProbes` cells, and
  // recall rises with the probe count at probe-count× cost — never
  // corpus × benchmark. P = k recovers the exact compare (the spec
  // pins both the ⊆-of-exact property and the measured floor). Cost
  // shape: the only new exchange is the train-side top-P rank over
  // its k-row candidate frame (partitioned by vec, k rows per
  // partition); the pairwise compare stays cell-local.
  //
  // The codebook is CORPUS-SIZED: k = max(10, ⌈√n⌉) — the round-8
  // scale defect was a FIXED 10-cell label codebook, under which cell
  // membership grows linearly with the corpus and the cell-local
  // pairwise stage is quadratic at fixed k (measured 33× time at ×100
  // data). With k ~ √n both the broadcast assignment (n·k compares,
  // map-side, no shuffle amplification) and the cell-local pairwise
  // (cells of ~√n rows) grow as n^1.5 ops on an all-near-dup corpus —
  // the standard FAISS IVF balance point — and the codebook itself
  // stays broadcastable (√(25 B vectors) ≈ 160 k rows · 64 dims).
  private val SemDecontTau = 0.3
  private val SemDecontProbes = 4
  private val SemDecontMinK = 10

  /** Corpus-derived codebook size: k = max(10, ⌈√n⌉). */
  private[operators] def semanticDecontK(e: DataFrame): Long =
    math.max(SemDecontMinK.toLong,
      math.ceil(math.sqrt(e.count().toDouble)).toLong)

  /** The k-cell coarse codebook: k seed vectors (vec_id < k — the
    * `q_kmeans_train` seeding convention) refined by ONE Lloyd
    * mean-update. The assignment argmax is a map-side-combined
    * `max(struct(csim, -cl, …))` so the k candidate rows per vector
    * collapse BEFORE any exchange; the mean-update exchange carries
    * ≤ k·dim rows regardless of corpus size. Cells that attract no
    * vectors simply drop out — both engines agree by construction.
    */
  /** Materialize a (cl, cvec) codebook frame as a broadcast of
    * driver-side sorted arrays for the [[VectorFunctions.topCells]]
    * kernel. Bounded by construction (k = ⌈√n⌉), the same size class
    * as a broadcast — the only mid-plan actions in the semantic pass
    * are this and the corpus count, both k/1-row sized.
    */
  private def collectCodebook(cb: DataFrame): VectorFunctions.Codebook = {
    val rows = cb.select(col("cl"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    VectorFunctions.bcCodebook(rows.map(_._1), rows.map(_._2))
  }

  /** Session memo for the semantic-decontamination IVF codebook
    * broadcast — the [[graft.internal.SessionMemo]] discipline
    * (mutation-fingerprinted on the embeddings table, evicted with the
    * session, build labeled `ivf_codebook_build`,
    * `spark.graft.memo.enabled=false` opts out): training the coarse
    * quantizer is a FULL-CORPUS assignment pass (n·k kernel compares +
    * the corpus count behind k), and a pipeline probing the same
    * corpus repeatedly must not retrain — or re-broadcast — per query.
    * Only the raw-table chain is memoized — spec callers probing
    * DERIVED frames still train on what they pass.
    */
  private val ivfCodebookCache =
    new graft.internal.SessionMemo[VectorFunctions.Codebook]("ivf_codebook_build")

  private def cachedDecontCodebook(s: SparkSession, dir: String): VectorFunctions.Codebook =
    ivfCodebookCache.getOrBuild(s, s"$dir/embeddings.parquet") {
      val e = Tables.embeddings(s, dir)
      collectCodebook(semanticDecontCodebook(e, semanticDecontK(e)))
    }

  private[operators] def semanticDecontCodebook(e: DataFrame, k: Long): DataFrame = {
    val seedRows = e.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    // nearest-seed assignment as ONE kernel call per row — no candidate
    // row ever exists, let alone shuffles; the only exchange in the
    // whole training step is the mean-update's ≤ k·dim rows.
    val a0 = e.select(
      element_at(VectorFunctions.topCells(col("embedding"),
        VectorFunctions.bcCodebook(seedRows.map(_._1), seedRows.map(_._2)), 1), 1).as("cl"),
      col("embedding"))
    ScalePatterns.meanCentroids(a0, col("cl"), col("embedding"), "cl")
  }

  /** Distinct (train vec, bench vec, sim ≥ τ) hit pairs at a given
    * probe count — exposed for the spec's recall/subset pinning
    * (probes ≥ k recovers the exact all-pairs compare: topCells clamps
    * the probe count at k, so every cell is probed).
    */
  private[operators] def semanticDecontHits(e: DataFrame, probes: Int,
      codebook: Option[VectorFunctions.Codebook] = None): DataFrame = {
    val cb = codebook.getOrElse(collectCodebook(
      semanticDecontCodebook(e, semanticDecontK(e))))
    // Norms ride the row-sized sides; the (train × bench-in-cell)
    // candidate stream then pays one dot + divide per pair instead of
    // the fused 3-accumulator cosine loop (bit-identical —
    // [[VectorFunctions.cosinePrenorm]]).
    val ranked = e.select(col("vec_id"), col("embedding"),
      VectorFunctions.rowNorm(col("embedding")).as("nrm"),
      VectorFunctions.topCells(col("embedding"), cb, probes).as("cls"))
    val bench = ranked.filter(col("vec_id") % 13 === 0)
      .select(element_at(col("cls"), 1).as("cl"),
        col("vec_id").as("bench_id"), col("embedding").as("bv"), col("nrm").as("bn"))
    ranked.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"), col("embedding"), col("nrm"), explode(col("cls")).as("cl"))
      .join(bench, Seq("cl"))
      .withColumn("sim", round(VectorFunctions.cosinePrenorm(
        VectorFunctions.dotD(col("embedding"), col("bv")), col("nrm"), col("bn")), 4))
      .filter(col("sim") >= SemDecontTau)
      // A (train, bench) pair can meet in more than one probed cell —
      // distinct before counting so nprobe never inflates n_hits.
      .select(col("vec_id"), col("bench_id"), col("sim")).distinct()
  }

  private def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    semanticDecontHits(Tables.embeddings(s, dir), SemDecontProbes,
      Some(cachedDecontCodebook(s, dir)))
      .select(col("vec_id"),
        struct(col("sim"), (-col("bench_id")).as("nb")).as("cand"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"), max("cand").as("m"))
      .select(col("vec_id"), col("n_hits"),
        col("m.sim").as("top_sim"), (-col("m.nb")).as("top_bench"))
      .orderBy("vec_id")
  }

  private val decontaminateSemanticSql =
    s"""WITH el AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |kk AS (
       |  SELECT greatest($SemDecontMinK, cast(ceil(sqrt(count(*))) AS BIGINT)) AS k
       |  FROM el),
       |seeds AS (
       |  SELECT vec_id AS cl, v AS cv FROM el WHERE vec_id < (SELECT k FROM kk)),
       |a0 AS (
       |  SELECT vec_id, cl FROM (
       |    SELECT el.vec_id, s.cl,
       |      row_number() OVER (PARTITION BY el.vec_id
       |        ORDER BY round(list_cosine_similarity(el.v, s.cv), 4) DESC, s.cl) AS rn
       |    FROM el CROSS JOIN seeds s) t
       |  WHERE rn = 1),
       |cen AS (
       |  SELECT cl, list(c ORDER BY pos) AS cv FROM (
       |    SELECT a0.cl, pos, round(avg(el.v[pos]), 6) AS c
       |    FROM a0 JOIN el USING (vec_id) CROSS JOIN
       |      (SELECT unnest(generate_series(1, 64)) AS pos) g
       |    GROUP BY a0.cl, pos)
       |  GROUP BY cl),
       |ranked AS (
       |  SELECT el.vec_id, el.v, cen.cl,
       |    row_number() OVER (PARTITION BY el.vec_id
       |      ORDER BY round(list_cosine_similarity(el.v, cen.cv), 4) DESC, cen.cl) AS rn
       |  FROM el CROSS JOIN cen),
       |bench AS (
       |  SELECT cl, vec_id AS bench_id, v AS bv FROM ranked
       |  WHERE vec_id % 13 = 0 AND rn = 1),
       |hits AS (
       |  SELECT DISTINCT t.vec_id, b.bench_id,
       |    round(list_cosine_similarity(t.v, b.bv), 4) AS sim
       |  FROM ranked t JOIN bench b ON t.cl = b.cl
       |  WHERE t.vec_id % 13 <> 0 AND t.rn <= $SemDecontProbes
       |    AND round(list_cosine_similarity(t.v, b.bv), 4) >= $SemDecontTau),
       |best AS (
       |  SELECT vec_id, bench_id, sim,
       |    count(*) OVER (PARTITION BY vec_id) AS n_hits,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, bench_id) AS rn
       |  FROM hits)
       |SELECT vec_id, n_hits::BIGINT AS n_hits, sim AS top_sim,
       |  bench_id AS top_bench
       |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // Weight-proportional sampling WITHOUT replacement
  // (Efraimidis–Spirakis, "Weighted random sampling with a reservoir"):
  // per-item key = -ln(u)/w with u a deterministic hash-uniform in
  // (0,1); the k smallest keys per stratum ARE a weighted sample
  // without replacement. No RNG state, no sequential reservoir — the
  // classic streaming algorithm becomes a pure projection + top-k,
  // reproducible across runs, machine counts, and retries.
  // Scale shape: a per-lang stratum is corpus-sized at 100 TB, so a
  // single per-lang sort is NOT the plan. Two-stage top-k instead:
  // stage 1 takes the k smallest per (lang, salt), cutting each sort
  // partition to stratum/salts — a spillable per-partition sort whose
  // size is dialed by the salt count (scale salts with the corpus the
  // way shuffle partitions are scaled) — and stage 2's per-lang window
  // then sees ≤ salts·k rows, bounded by construction. Selecting
  // min-k within every salt cell provably preserves the global min-k
  // (any global winner is a winner in its own cell).
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 25
    val salts = 16
    val u = expr("(cast(conv(substring(md5(cast(concat('es', cast(doc_id as string)) as binary)), 1, 15), 16, 10) as bigint) + 0.5) / 1152921504606846976.0")
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        u.as("u"), expr("ln(1.0 + n_chars)").as("w"))
      .select(col("doc_id"), col("lang"), expr("-ln(u) / w").as("es_key"),
        pmod(col("doc_id"), lit(salts)).as("salt"))
    val w1 = Window.partitionBy("lang", "salt").orderBy(col("es_key"), col("doc_id"))
    val w2 = Window.partitionBy("lang").orderBy(col("es_key"), col("doc_id"))
    scored
      .withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= k)
      .withColumn("rk", row_number().over(w2)).filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), round(col("es_key"), 6).as("es_key"),
        col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  // The oracle is the single-stage form — the two-stage plan must
  // select the identical sample.
  private val weightedSampleSql =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    -ln((('0x' || substr(md5('es' || doc_id::VARCHAR), 1, 15))::BIGINT + 0.5)
      |        / 1152921504606846976.0) / ln(1.0 + n_chars) AS es_key
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang, es_key,
      |    row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rk
      |  FROM s)
      |SELECT doc_id, lang, round(es_key, 6) AS es_key, rk::BIGINT AS rk
      |FROM r WHERE rk <= 25 ORDER BY lang, rk""".stripMargin

  // -------------------------------------------------------------------
  // Sequence packing: concat-and-chunk docs into fixed-token-budget
  // training packs. Running token total per language stream (ordered by
  // doc_id), pack boundary every BUDGET tokens: pack_id =
  // floor(tokens-before-this-doc / BUDGET) — deterministic, no RNG, no
  // bin-packing search. One window shuffle keyed by lang; at 100 TB the
  // stream key is (lang, shard) so no single window partition holds more
  // than a shard's rows — the pack ids stay stable because the shard is
  // part of the key, not an afterthought.
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val w = Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")).cast("double") / budget).cast("long"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("lang", "pack_id")
  }

  private val packSequencesSql =
    """WITH t AS (
      |  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id))::BIGINT AS cum
      |  FROM t)
      |SELECT lang, floor((cum - n_tokens)::DOUBLE / 2048)::BIGINT AS pack_id,
      |  count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS pack_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin

  // -------------------------------------------------------------------
  // q_gopher_rep — the multi-n-gram half of Gopher's repetition rules
  // (Rae et al. 2021, Table A1; q_repetition_filter carries the
  // 1-gram/distinct-ratio half): per document,
  //   top-n char fraction  (n = 2, 3, 4): chars of the single most
  //     frequent n-gram's occurrences / doc chars;
  //   dup-n char fraction  (n = 5, 6, 7): chars of ALL n-grams occurring
  //     ≥ 2× / doc chars (the standard occurrence-sum form — overlaps
  //     are not position-unioned, so the ratio can exceed 1 on
  //     pathological repeats; the published thresholds are calibrated
  //     on the same form).
  // Keep = every signal at or under its published cut (0.20/0.18/0.16,
  // 0.15/0.14/0.13), compared on the ROUNDED values so the flag cannot
  // flip on engine-side last-ulp drift. Scale shape: every signal is a
  // PER-DOCUMENT statistic, so no gram ever needs to cross an executor
  // boundary — one compiled expression call per document tokenizes
  // once and hash-counts all six gram families (GopherRepStats). Zero
  // shuffles but the presentation sort. History: the explode→groupBy
  // form shuffled one row per corpus gram (117 s at the ×100 decade);
  // an interpreted HOF fold fixed the shape but kept the constant
  // (120 s); the compiled pass keeps the shape AND the constant.
  private val GopherTopNs = Seq(2, 3, 4)
  private val GopherDupNs = Seq(5, 6, 7)
  private val GopherCuts = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16,
    5 -> 0.15, 6 -> 0.14, 7 -> 0.13)

  /** Fold the run lengths of the sorted word n-grams of `text` into
    * struct(topchars, dupchars): chars of the single most frequent
    * gram's occurrences (ties by larger gram string, matching the
    * oracle's ORDER BY c DESC, g DESC) and chars of all grams occurring
    * ≥ 2×. Equal grams are adjacent after array_sort, so one
    * left-to-right pass sees every run; the finish lambda closes the
    * last run.
    *
    * This HOF formulation is the READABLE twin: the shipped query uses
    * the compiled [[graft.functions.expressions.GopherRepStats]] (the
    * interpreted per-element lambda cost dominated the ×100 decade);
    * `Wave5Spec` pins the two to identical values on the real corpus.
    */
  private[operators] def gramRunStats(text: Column, n: Int): Column = {
    val sorted = array_sort(TextAnalysisShared.ngramsHof(text, n))
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("topc"), lit("").as("topg"), lit(0L).as("dup"))
    // (topc, topg, dup) with the pending (prev, run) run folded in.
    def closeRun(acc: Column): Column = {
      val (prev, run) = (acc.getField("prev"), acc.getField("run"))
      val (topc, topg, dup) =
        (acc.getField("topc"), acc.getField("topg"), acc.getField("dup"))
      val better = (run > topc) || (run === topc && prev > topg)
      struct(
        when(better, run).otherwise(topc).as("topc"),
        when(better, prev).otherwise(topg).as("topg"),
        (dup + when(run >= 2, run * length(prev).cast("long"))
          .otherwise(lit(0L))).as("dup"))
    }
    aggregate(sorted, init,
      (acc, g) => {
        val same = acc.getField("prev") === g
        val c = closeRun(acc)
        struct(g.as("prev"),
          when(same, acc.getField("run") + 1).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("topc")).otherwise(c.getField("topc")).as("topc"),
          when(same, acc.getField("topg")).otherwise(c.getField("topg")).as("topg"),
          when(same, acc.getField("dup")).otherwise(c.getField("dup")).as("dup"))
      },
      acc => {
        val c = closeRun(acc)
        struct(
          (c.getField("topc") * length(c.getField("topg")).cast("long")).as("topchars"),
          c.getField("dup").as("dupchars"))
      })
  }

  /** All six signals from one compiled expression call per document —
    * [n_tokens, top2c, top3c, top4c, dup5c, dup6c, dup7c].
    */
  private[operators] def gopherStatsCol: Column =
    ExpressionUtils.column(graft.functions.expressions.GopherRepStats(
      ExpressionUtils.expression(col("text")), GopherTopNs, GopherDupNs))

  private def gopherRep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Slot i+2 of the stats array is the i-th signal; slot 1 is the
    // token count — docs with fewer than 2 tokens produce no gram for
    // any n and are absent from the oracle's gram-derived frame.
    def sig(i: Int): Column =
      round(element_at(col("st"), i + 2).cast("double") / col("n_chars"), 4)
    Tables.spread(docs)
      .select(col("doc_id"), col("n_chars"), gopherStatsCol.as("st"))
      .filter(element_at(col("st"), 1) >= 2L)
      .select(col("doc_id"),
        sig(0).as("top2"), sig(1).as("top3"),
        sig(2).as("top4"), sig(3).as("dup5"),
        sig(4).as("dup6"), sig(5).as("dup7"))
      .withColumn("kept",
        (col("top2") <= GopherCuts(2) && col("top3") <= GopherCuts(3) &&
          col("top4") <= GopherCuts(4) && col("dup5") <= GopherCuts(5) &&
          col("dup6") <= GopherCuts(6) && col("dup7") <= GopherCuts(7)).cast("int"))
      .select("doc_id", "top2", "top3", "top4", "dup5", "dup6", "dup7", "kept")
      .orderBy("doc_id")
  }

  private val gopherRepSql: String = {
    val gramSelects = (GopherTopNs ++ GopherDupNs).map { n =>
      s"""  SELECT doc_id, $n AS n,
         |    unnest(list_transform(generate_series(1, len(toks) - ${n - 1}),
         |      i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS g
         |  FROM t""".stripMargin
    }.mkString("\n  UNION ALL\n")
    def sigSql(n: Int, src: String) =
      s"round(coalesce(max(CASE WHEN n = $n THEN $src END), 0)::DOUBLE / n_chars, 4)"
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |$gramSelects),
       |c AS (SELECT doc_id, n, g, count(*)::BIGINT AS c FROM g GROUP BY 1, 2, 3),
       |pn AS (
       |  SELECT c.doc_id, c.n,
       |    max(CASE WHEN rn = 1 THEN c * length(g) END) AS topchars,
       |    sum(CASE WHEN c >= 2 THEN c * length(g) END) AS dupchars
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
       |          ORDER BY c DESC, g DESC) AS rn FROM c) c
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT pn.doc_id, d.n_chars,
       |    ${sigSql(2, "topchars")} AS top2, ${sigSql(3, "topchars")} AS top3,
       |    ${sigSql(4, "topchars")} AS top4, ${sigSql(5, "dupchars")} AS dup5,
       |    ${sigSql(6, "dupchars")} AS dup6, ${sigSql(7, "dupchars")} AS dup7
       |  FROM pn JOIN documents d ON d.doc_id = pn.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_id, top2, top3, top4, dup5, dup6, dup7,
       |  (top2 <= ${GopherCuts(2)} AND top3 <= ${GopherCuts(3)} AND
       |   top4 <= ${GopherCuts(4)} AND dup5 <= ${GopherCuts(5)} AND
       |   dup6 <= ${GopherCuts(6)} AND dup7 <= ${GopherCuts(7)})::INT AS kept
       |FROM p ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q_context_windows — fixed-length training windows with stride (the
  // standard long-document chunking upstream of sequence packing: a
  // W-token context every S tokens, so adjacent windows overlap by
  // W − S tokens and no span longer than the model context is ever
  // truncated away). A trailing candidate shorter than `WinMinTail`
  // tokens is dropped — its content is already covered by the previous
  // overlapping window (stride < W guarantees it; the spec asserts full
  // token coverage). Pure per-document projection + one bounded explode
  // (≤ n/S windows per doc): no shuffle but the final presentation
  // sort, so the operator is embarrassingly parallel at any corpus
  // size.
  private val WinTokens = 64
  private val WinStride = 48
  private val WinMinTail = 16

  private def contextWindows(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val starts = filter(
      sequence(lit(1), greatest(n, lit(1)), lit(WinStride)),
      st => (n - st + 1 >= WinMinTail) || (st === 1))
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("toks"), n.as("n"),
        posexplode(starts).as(Seq("win_id", "start")))
      .select(col("doc_id"), col("win_id").cast("long").as("win_id"),
        col("start").cast("long").as("start"),
        least(lit(WinTokens), col("n") - col("start") + 1).cast("long").as("win_toks"),
        concat_ws(" ",
          slice(col("toks"), col("start"),
            least(lit(WinTokens), col("n") - col("start") + 1))).as("window_text"))
      .orderBy("doc_id", "win_id")
  }

  private val contextWindowsSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |st AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS n,
       |    unnest(list_filter(generate_series(1, greatest(len(toks), 1), $WinStride),
       |      st -> len(toks) - st + 1 >= $WinMinTail OR st = 1))::BIGINT AS start
       |  FROM t)
       |SELECT doc_id,
       |  (row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1)::BIGINT AS win_id,
       |  start, least($WinTokens, n - start + 1)::BIGINT AS win_toks,
       |  array_to_string(toks[start:start + least($WinTokens, n - start + 1) - 1], ' ') AS window_text
       |FROM st ORDER BY doc_id, win_id""".stripMargin

  // -------------------------------------------------------------------
  // Cross-document boilerplate removal (the CCNet/RefinedWeb line
  // pass): a line appearing in ≥5% of documents is template chrome
  // (headers, cookie banners, per-site footers), not content. The word
  // soup has no line structure, so the query plants it (doc-keyed:
  // a universal header, an every-other-doc banner, a per-source
  // footer) and the operator under test strips it back out. Shape at
  // scale: explode lines → distinct-doc count per line (one map-side-
  // combined shuffle; the qualifying set is heavy-hitters-small by
  // definition — at a 5% floor at most 1/0.05 lines can qualify) →
  // the qualifying set folds to ONE broadcast array and each document
  // rewrites in place. The corpus text itself never shuffles: the
  // former anti-join + groupBy(doc_id) re-assembly paid a corpus-sized
  // collect_list exchange just to rebuild the line order each row
  // already had (guide §8: decide on the small proxy, keep the heavy
  // bytes where they are).
  private def boilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val planted = concat_ws("|",
      lit("copyright example corp all rights reserved"),
      when(col("doc_id") % 2 === 0, lit("we use cookies accept decline")),
      col("text"),
      concat(lit("subscribe to the "), col("source"), lit(" newsletter")))
    val docs = Tables.documents(s, dir).select(col("doc_id"), planted.as("raw"))
    val lines = docs
      .select(col("doc_id"), explode(split(col("raw"), "\\|")).as("line"))
    val totals = docs.agg(count(lit(1)).as("n_total"))
    val boilerArr = lines.groupBy("line")
      .agg(countDistinct("doc_id").as("n_docs"))
      .crossJoin(broadcast(totals))
      .filter(col("n_docs") >= col("n_total") * 0.05)
      .agg(collect_list(col("line")).as("barr"))
    // Per-row rewrite: HOF filter preserves split order (= the old pos
    // order); a document whose every line is boilerplate produced no
    // group under the anti-join shape, so the empty-kept filter keeps
    // the contract identical.
    docs.crossJoin(broadcast(boilerArr))
      .select(col("doc_id"),
        filter(split(col("raw"), "\\|"),
          l => !array_contains(col("barr"), l)).as("kept"))
      .filter(size(col("kept")) >= 1)
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), "|").as("clean_text"))
      .orderBy("doc_id")
  }

  private val boilerplateStripSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    concat_ws('|',
      |      'copyright example corp all rights reserved',
      |      CASE WHEN doc_id % 2 = 0 THEN 'we use cookies accept decline' END,
      |      text,
      |      'subscribe to the ' || source || ' newsletter') AS raw
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(raw, '|') AS lst FROM d),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(lst)),
      |    i -> struct_pack(pos := i, line := lst[i]))) AS e
      |  FROM t),
      |lines AS (SELECT doc_id, e.pos AS pos, e.line AS line FROM g),
      |boiler AS (
      |  SELECT line FROM lines GROUP BY line
      |  -- 0.05::DOUBLE, not DECIMAL: the corpus has 20 sources, so the
      |  -- per-source footer sits EXACTLY on the 5% boundary — the
      |  -- threshold product must round identically to Spark's
      |  -- double(n_total) * double(0.05), not be computed exactly.
      |  HAVING count(DISTINCT doc_id) >= (SELECT count(*) FROM d) * 0.05::DOUBLE)
      |SELECT doc_id, count(*)::BIGINT AS n_kept,
      |  string_agg(line, '|' ORDER BY pos) AS clean_text
      |FROM lines
      |WHERE line NOT IN (SELECT line FROM boiler)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Mixture resampling toward target domain weights — the data-mixing
  // step behind every pretraining corpus (over-represented domains
  // downsample, under-represented ones repeat whole epochs plus a
  // hash-selected fraction). All arithmetic is INTEGER-exact:
  // desired_g = (N · w_pm) div 1000, rate_pct = (desired · 100) div
  // n_g, copies = rate_pct div 100, plus one more when the doc's
  // salted hash bucket falls under rate_pct mod 100 — so Spark and the
  // oracle cannot disagree by a rounding ulp, and a doc's copy count
  // is a pure function of its id (stable across runs, retries, and
  // physical partitioning). Shape at scale: per-lang counts are a
  // handful of groups (one map-side-combined agg) broadcast back onto
  // the scan; the corpus stream itself never shuffles — projection +
  // explode only.
  private def mixtureResample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // r16: the per-lang count table is langs-sized — checkpoint it and
    // derive the total from it (Σ per-lang counts ≡ count(*), nulls
    // included), so the corpus scans once instead of once per branch.
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .localCheckpoint(true)
    val total = counts.agg(sum("n_lang").as("n_total"))
    val weightPm = when(col("lang") === "en", 300L)
      .when(col("lang") === "zh", 250L)
      .when(col("lang") === "es", 200L)
      .when(col("lang") === "de", 150L)
      .otherwise(100L)
    // Salted ('mix') so the fractional-copy choice is independent of
    // the stratified-sample bucket over the same ids.
    val bucket = expr(
      "cast(conv(substring(md5(cast(concat('mix', cast(doc_id as string)) as binary)), 1, 15), 16, 10) as bigint) % 100")
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(total))
      .withColumn("w_pm", weightPm)
      .withColumn("rate_pct", expr("(((n_total * w_pm) div 1000) * 100) div n_lang"))
      .withColumn("bucket", bucket)
      .withColumn("n_copies",
        expr("rate_pct div 100 + (case when bucket < rate_pct % 100 then 1L else 0L end)"))
      .withColumn("copy_no",
        explode(when(col("n_copies") >= 1L, sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<bigint>"))))
      .select("doc_id", "lang", "rate_pct", "copy_no")
      .orderBy("doc_id", "copy_no")
  }

  private val mixtureResampleSql =
    """WITH c AS (SELECT lang, count(*)::BIGINT AS n_lang FROM documents GROUP BY lang),
      |t AS (SELECT count(*)::BIGINT AS n_total FROM documents),
      |r AS (
      |  SELECT d.doc_id, d.lang,
      |    ((((t.n_total * (CASE WHEN d.lang = 'en' THEN 300 WHEN d.lang = 'zh' THEN 250
      |        WHEN d.lang = 'es' THEN 200 WHEN d.lang = 'de' THEN 150
      |        ELSE 100 END)::BIGINT) // 1000) * 100) // c.n_lang)::BIGINT AS rate_pct,
      |    (('0x' || substr(md5('mix' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 100) AS bucket
      |  FROM documents d JOIN c USING (lang) CROSS JOIN t),
      |x AS (
      |  SELECT doc_id, lang, rate_pct,
      |    (rate_pct // 100
      |      + CASE WHEN bucket < rate_pct % 100 THEN 1 ELSE 0 END)::BIGINT AS n_copies
      |  FROM r)
      |SELECT doc_id, lang, rate_pct,
      |  unnest(generate_series(1, n_copies))::BIGINT AS copy_no
      |FROM x ORDER BY doc_id, copy_no""".stripMargin

  // -------------------------------------------------------------------
  // q_unimax_mix — UniMax language budget allocation (Chung et al.
  // 2023): spread a total token budget as uniformly as possible across
  // languages, but never repeat any language's data more than
  // `UnimaxEpochCap` epochs — the published fix for both low-resource
  // over-repetition (temperature sampling's failure) and high-resource
  // domination (proportional sampling's failure). The waterfill has a
  // closed form over languages sorted by capped size ascending: a
  // PREFIX of small languages is capped (lang i is capped iff its cap
  // fits the per-remaining-language fair share at step i,
  // c_i · (L−i+1) ≤ B − Σ_{j<i} c_j), and every uncapped language gets
  // an equal share of what the capped prefix left. Everything up to the
  // final division is INTEGER arithmetic (cap = 2 epochs, budget =
  // total // 2), so both engines agree bit-for-bit and the two rounded
  // doubles at the end cannot drift. Scale shape: one corpus scan for
  // per-lang token mass, then windows over a language-count-sized frame
  // — bounded by construction, like every model table in this pack.
  private val UnimaxEpochCap = 2L

  private def unimaxMix(s: SparkSession, dir: String): DataFrame = {
    // r16: same checkpoint as temperatureMix — four consumers (totals,
    // ranked, kp, final) otherwise replay the corpus tokenize-sum.
    val perLang = Tables.documents(s, dir)
      .groupBy("lang")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
      .localCheckpoint(true)
    val totals = perLang.agg(sum("n_toks").as("tt"), count(lit(1)).as("nl"))
    // The window frame is the per-language table (≤ a few hundred rows
    // for any real corpus) — a global window over it is a bounded
    // single-partition sort, not a corpus sort.
    val order = Window.orderBy(col("cap_toks"), col("lang"))
    val ranked = perLang.crossJoin(broadcast(totals))
      .withColumn("cap_toks", col("n_toks") * lit(UnimaxEpochCap))
      .withColumn("budget", expr("tt div 2"))
      .withColumn("idx", row_number().over(order).cast("long"))
      .withColumn("cum", sum("cap_toks")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("capped",
        col("cap_toks") * (col("nl") - col("idx") + 1) <=
          col("budget") - (col("cum") - col("cap_toks")))
    val kp = ranked.agg(
      max(when(col("capped"), col("idx")).otherwise(0L)).as("k"),
      sum(when(col("capped"), col("cap_toks")).otherwise(0L)).as("pk"))
    ranked.crossJoin(broadcast(kp))
      // Both engines round the allocation and the epochs ratio from the
      // same UNROUNDED allocation — rounding first and dividing the
      // rounded value would let the two 4-decimal results drift.
      .withColumn("alloc_raw",
        when(col("idx") <= col("k"), col("cap_toks").cast("double"))
          .otherwise((col("budget") - col("pk")).cast("double") /
            (col("nl") - col("k"))))
      .withColumn("alloc_toks", round(col("alloc_raw"), 4))
      .withColumn("epochs", round(col("alloc_raw") / col("n_toks"), 4))
      .select("lang", "n_toks", "cap_toks", "alloc_toks", "epochs")
      .orderBy("lang")
  }

  private val unimaxMixSql =
    s"""WITH pl AS (
       |  SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS n_toks
       |  FROM documents GROUP BY 1),
       |t AS (SELECT sum(n_toks)::BIGINT AS tt, count(*)::BIGINT AS nl FROM pl),
       |c AS (
       |  SELECT lang, n_toks, n_toks * $UnimaxEpochCap AS cap_toks,
       |    tt // 2 AS budget, nl
       |  FROM pl CROSS JOIN t),
       |i AS (
       |  SELECT *, row_number() OVER (ORDER BY cap_toks, lang)::BIGINT AS idx,
       |    (sum(cap_toks) OVER (ORDER BY cap_toks, lang
       |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
       |  FROM c),
       |f AS (
       |  SELECT *,
       |    (cap_toks * (nl - idx + 1) <= budget - (cum - cap_toks)) AS capped
       |  FROM i),
       |k AS (
       |  SELECT max(CASE WHEN capped THEN idx ELSE 0 END)::BIGINT AS k,
       |    sum(CASE WHEN capped THEN cap_toks ELSE 0 END)::BIGINT AS pk
       |  FROM f)
       |SELECT lang, n_toks, cap_toks,
       |  round(CASE WHEN idx <= k.k THEN cap_toks::DOUBLE
       |        ELSE (budget - k.pk)::DOUBLE / (nl - k.k) END, 4) AS alloc_toks,
       |  round((CASE WHEN idx <= k.k THEN cap_toks::DOUBLE
       |        ELSE (budget - k.pk)::DOUBLE / (nl - k.k) END) / n_toks, 4) AS epochs
       |FROM f CROSS JOIN k ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q_temperature_mix — temperature-scaled language sampling (the
  // exponent rule of multilingual pretraining: share_l ∝ n_l^α with
  // α = 0.7, flattening the raw distribution toward uniform without
  // UniMax's hard epoch cap — mBERT/XLM-R's published recipe, and the
  // third mixture strategy beside fixed-weight resampling
  // (q_mixture_resample) and the capped waterfill (q_unimax_mix); the
  // three run from the SAME per-lang aggregate at 100 TB, so offering
  // all three costs one corpus scan). Budget = total // 2, matching
  // q_unimax_mix so the two allocations compare row-for-row. Epochs
  // here are UNCAPPED — the number to read next to UniMax's: a
  // low-resource language at epochs ≫ cap is exactly the over-
  // repetition UniMax exists to stop. Scale shape: one corpus scan,
  // then arithmetic over the languages-sized frame.
  private val TemperatureAlpha = 0.7

  private def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    // r16: checkpoint the langs-sized token-count table — its two
    // consumers (np and the totals fold) otherwise each replay the
    // corpus tokenize-sum pass.
    val perLang = Tables.documents(s, dir)
      .groupBy("lang")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
      .localCheckpoint(true)
    val np = perLang.withColumn("np", pow(col("n_toks").cast("double"), lit(TemperatureAlpha)))
    val totals = np.agg(sum("n_toks").as("tt"), sum("np").as("tp"))
    np.crossJoin(broadcast(totals))
      .withColumn("budget", expr("tt div 2"))
      .withColumn("alloc_raw", col("np") / col("tp") * col("budget"))
      .select(col("lang"), col("n_toks"),
        round(col("n_toks").cast("double") / col("tt"), 6).as("p_raw"),
        round(col("np") / col("tp"), 6).as("p_temp"),
        round(col("alloc_raw"), 4).as("alloc_toks"),
        round(col("alloc_raw") / col("n_toks"), 4).as("epochs"))
      .orderBy("lang")
  }

  private val temperatureMixSql =
    s"""WITH pl AS (
       |  SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS n_toks
       |  FROM documents GROUP BY 1),
       |np AS (SELECT lang, n_toks, pow(n_toks::DOUBLE, $TemperatureAlpha) AS np FROM pl),
       |t AS (SELECT sum(n_toks)::BIGINT AS tt, sum(np) AS tp FROM np),
       |a AS (
       |  SELECT lang, n_toks, np, tt, tp, tt // 2 AS budget,
       |    np / tp * (tt // 2) AS alloc_raw
       |  FROM np CROSS JOIN t)
       |SELECT lang, n_toks,
       |  round(n_toks::DOUBLE / tt, 6) AS p_raw,
       |  round(np / tp, 6) AS p_temp,
       |  round(alloc_raw, 4) AS alloc_toks,
       |  round(alloc_raw / n_toks, 4) AS epochs
       |FROM a ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // Deterministic train/val/test split: a salted hash bucket per
  // doc_id assigns 90/5/5 — membership is a pure function of the id
  // (no RNG, no partition sensitivity, survives corpus growth: an
  // existing doc never switches split when new docs arrive, which
  // sample() cannot promise). Reported as per-(split, lang) counts and
  // token mass — the table a mixture audit actually reads. One scan +
  // one small agg.
  private def trainSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr(
      "cast(conv(substring(md5(cast(concat('split', cast(doc_id as string)) as binary)), 1, 15), 16, 10) as bigint) % 1000")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 900, "train")
          .when(col("bucket") < 950, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("split", "lang")
  }

  private val trainSplitSql =
    """WITH t AS (
      |  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS toks,
      |    (('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000) AS bucket
      |  FROM documents)
      |SELECT
      |  (CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val'
      |        ELSE 'test' END) AS split,
      |  lang, count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS n_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // q_corpus_card — the per-(source, lang) dataset card a curation
  // pipeline publishes with every corpus release: volume (docs, tokens,
  // chars) plus the exact-duplicate share, where a doc counts as a
  // duplicate when its content fingerprint occurs more than once
  // CORPUS-WIDE (not just within its own source — cross-source
  // duplication is exactly what a per-source card must expose).
  // Scale shape: one hash-groupBy on the fingerprint for the dup
  // counts, one hash-co-partitioned join back (no broadcast of
  // anything corpus-sized), then one map-side-combined (source, lang)
  // aggregate whose exchange carries |sources|·|langs| rows.
  private def corpusCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val fpCounts = docs.groupBy("fp").agg(count(lit(1)).as("fp_cnt"))
    docs.join(fpCounts, Seq("fp"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("toks").as("total_tokens"),
        round(avg("n_chars"), 4).as("avg_chars"),
        sum(when(col("fp_cnt") > 1, 1L).otherwise(0L)).as("dup_docs"))
      .withColumn("dup_share",
        round(col("dup_docs").cast("double") / col("n_docs"), 4))
      .orderBy("source", "lang")
  }

  private val corpusCardSql =
    """WITH d AS (
      |  SELECT doc_id, source, lang, n_chars, md5(text) AS fp,
      |    len(string_split(text, ' '))::BIGINT AS toks
      |  FROM documents),
      |fc AS (SELECT fp, count(*)::BIGINT AS fp_cnt FROM d GROUP BY 1)
      |SELECT source, lang,
      |  count(*)::BIGINT AS n_docs,
      |  sum(toks)::BIGINT AS total_tokens,
      |  round(avg(n_chars), 4) AS avg_chars,
      |  sum(CASE WHEN fp_cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_docs,
      |  round(sum(CASE WHEN fp_cnt > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_share
      |FROM d JOIN fc USING (fp)
      |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // -------------------------------------------------------------------
  // Cross-source overlap matrix — the corpus card's companion audit:
  // for every source pair, how many distinct word 5-grams the two
  // share. This is the "which feeds are re-crawling each other"
  // signal a multi-source 100 TB ingest needs before assigning mixture
  // weights (double-counted content silently re-weights the mixture);
  // span-level overlap catches quotes/syndication that whole-document
  // fingerprints miss entirely (this corpus has ZERO cross-source
  // exact dups but 1.2k cross-source shared spans).
  // Scale shape: distinct (source, gram) pairs self-joined ON gram —
  // hash-co-partitioned, nothing corpus-sized broadcasts; per-gram
  // fan-out is bounded at |sources|², and the output aggregate at
  // |sources|²/2 rows at ANY corpus size. (For truly pathological
  // universal grams, cap per-gram source sets upstream — documented,
  // not needed at |sources| = 20.)
  private def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // r17: RESTORED the gram-keyed self-join after the ×30/×100 decade
    // sweep adjudicated the r16 collect_set rewrite a REAL regression
    // (ITERS=5 isolated: ×30 1.73 → 2.65 s, ×100 2.20 → 4.50 s,
    // bench/r17_so_*): collect_set over millions of gram groups runs
    // on ObjectHashAggregate, whose sort-based fallback (128-key
    // threshold) map-side SORTS the whole gram stream; a bitmask
    // bit_or variant (codegen HashAggregate) was also measured and
    // also lost (2.07 / 3.60 s — millions of string groups spill the
    // partial map either way). The self-join's two legs are the SAME
    // distinct frame, so at runtime both the distinct exchange and the
    // gram exchange + sort are built once and ReuseExchange'd — the
    // join adds almost nothing over one pass.
    //
    // The r16 rewrite existed to kill a corpus-growing BROADCAST build
    // side (Spark's size estimate after distinct stays under the
    // auto-broadcast threshold far past the point the relation fits).
    // That hazard is real at 100 TB, but the broadcast is not where
    // the speed comes from: with autoBroadcastJoinThreshold=-1 the
    // shuffle form reads 1.93 s at ×100 (bench/r17_so_x100_old_nobc)
    // vs 2.20 broadcast. So the join is PINNED to a shuffle merge join
    // — scale-safe at any corpus size, hash-co-partitioned on gram,
    // per-gram fan-out bounded at |sources|² — keeping the fast shape
    // without the OOM cliff.
    val grams = Tables.documents(s, dir)
      .select(col("source"), explode(grams5(col("text"))).as("gram"))
      .distinct()
    val other = grams.select(col("gram"), col("source").as("src_b"))
    grams.hint("SHUFFLE_MERGE").join(other.hint("SHUFFLE_MERGE"), Seq("gram"))
      .filter(col("source") < col("src_b"))
      .groupBy(col("source").as("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .orderBy("src_a", "src_b")
  }

  private val sourceOverlapSql =
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS gram
      |  FROM t)
      |SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS shared_grams
      |FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------------
  // Per-source distribution divergence — KL(source ‖ corpus) over a
  // capped unigram vocabulary: the mixture-health metric that says
  // which feed's token distribution drifts hardest from the blend
  // (data-mixing work weights domains by exactly this kind of
  // divergence, and a sudden per-source KL jump is the canonical
  // "feed changed under us" alarm on a continuous ingest).
  // Add-one smoothing on both sides keeps every term finite; the sum
  // runs over the FULL vocab × source grid — including zero-count
  // cells, whose mass the smoothing defines — which is bounded at
  // |vocab| × |sources| rows at ANY corpus size (model-sized, not
  // corpus-sized). Corpus cost: ONE token explode feeding two
  // map-side-combined aggregates; per-source counts are semi-joined to
  // the broadcast vocab, and totals derive from the bounded tables.
  private val KlVocabCap = 65536

  private def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = Tables.spread(docs)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    // r16: ONE tokenize pass. Everything downstream is a function of
    // the per-(source, w) occurrence counts, so aggregate those first
    // and derive the vocabulary (corpus counts = Σ over sources,
    // exactly the multiset the old per-w aggregate counted) and the
    // vocab-filtered per-source counts from that one frame. The two
    // corpus explodes (vocab pass + semi-joined count pass) and the
    // third documents scan for the source list (a source appears in
    // the output iff it has ≥ 1 vocab token — i.e. iff it has a srcTot
    // row; the old inner join on srcTot enforced the same set) all
    // collapse. srcW is localCheckpointed because FIVE consumers read
    // it (vocab → vtot → broadcast, srcCounts, srcTot, sources, grid)
    // and the un-materialized tree replicated the scan + explode 8×,
    // relying on runtime exchange reuse; the checkpoint is the
    // map-side-combined (source, word) count table — bounded by
    // distinct (source, word) pairs, never raw token occurrences.
    val srcW = tok.groupBy("source", "w").agg(count(lit(1)).as("cs"))
      .localCheckpoint(true)
    val vocab = srcW.groupBy("w").agg(sum("cs").as("c"))
      .orderBy(col("c").desc, col("w")).limit(KlVocabCap)
    val vtot = vocab.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val srcCounts = srcW.join(broadcast(vocab.select("w")), Seq("w"))
    val srcTot = srcCounts.groupBy("source").agg(sum("cs").as("ns"))
    val sources = srcTot.select("source")
    vocab.crossJoin(broadcast(sources))
      .join(srcCounts, Seq("source", "w"), "left")
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(vtot))
      .select(col("source"), col("ns"),
        ((coalesce(col("cs"), lit(0L)) + lit(1.0)) / (col("ns") + col("v"))).as("p"),
        ((col("c") + lit(1.0)) / (col("n") + col("v"))).as("q"))
      .groupBy("source")
      .agg(max("ns").as("n_tokens"),
        round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl_nats"))
      .orderBy("source")
  }

  private val sourceDivergenceSql =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |vocab AS (
       |  SELECT w, count(*)::BIGINT AS c FROM tok
       |  GROUP BY 1 ORDER BY c DESC, w LIMIT $KlVocabCap),
       |vt AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM vocab),
       |sc AS (
       |  SELECT source, w, count(*)::BIGINT AS cs
       |  FROM tok SEMI JOIN vocab USING (w) GROUP BY 1, 2),
       |st AS (SELECT source, sum(cs)::BIGINT AS ns FROM sc GROUP BY 1),
       |grid AS (
       |  SELECT s.source, vocab.w, vocab.c FROM vocab
       |  CROSS JOIN (SELECT DISTINCT source FROM documents) s),
       |terms AS (
       |  SELECT g.source, st.ns,
       |    (coalesce(sc.cs, 0) + 1.0) / (st.ns + vt.v) AS p,
       |    (g.c + 1.0) / (vt.n + vt.v) AS q
       |  FROM grid g
       |  LEFT JOIN sc ON sc.source = g.source AND sc.w = g.w
       |  JOIN st ON st.source = g.source
       |  CROSS JOIN vt)
       |SELECT source, max(ns)::BIGINT AS n_tokens,
       |  round(sum(p * ln(p / q)), 6) AS kl_nats
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_corpus_card", corpusCard, Some(corpusCardSql)),
    Q("q_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    Q("q_source_divergence", sourceDivergence, Some(sourceDivergenceSql)),
    Q("q_pii_scrub", piiScrub, Some(piiScrubSql)),
    Q("q_repetition_filter", repetitionFilter, Some(repetitionFilterSql)),
    Q("q_gopher_rep", gopherRep, Some(gopherRepSql)),
    Q("q_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    Q("q_decontaminate", decontaminate, Some(decontaminateSql)),
    Q("q_decontaminate_bloom", decontaminateBloom, Some(decontaminateBloomSql)),
    Q("q_decontaminate_semantic", decontaminateSemantic, Some(decontaminateSemanticSql)),
    Q("q_weighted_sample", weightedSample, Some(weightedSampleSql)),
    Q("q_pack_sequences", packSequences, Some(packSequencesSql)),
    Q("q_context_windows", contextWindows, Some(contextWindowsSql)),
    Q("q_boilerplate_strip", boilerplateStrip, Some(boilerplateStripSql)),
    Q("q_mixture_resample", mixtureResample, Some(mixtureResampleSql)),
    Q("q_unimax_mix", unimaxMix, Some(unimaxMixSql)),
    Q("q_temperature_mix", temperatureMix, Some(temperatureMixSql)),
    Q("q_train_split", trainSplit, Some(trainSplitSql)))
}
