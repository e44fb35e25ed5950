package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.TextAnalysisShared
import graft.streaming.StreamingLearn.DocEvent

/** Streaming near-duplicate detection — the continuous-ingest form of
  * `q_dedup_incremental`: every arriving document is MinHash-signed and
  * checked against the already-indexed corpus, and novel documents join
  * the index so later arrivals dedupe against them too.
  *
  * Two shapes, by state budget:
  *
  *  - [[candidatesVsIndex]]: fully STATELESS — signatures are computed
  *    per row with collection HOFs (no groupBy reaches the stream), then
  *    a stream-static inner join probes the index. No watermark, no
  *    state store; the only memory cost is the static side, exactly like
  *    the batch query's broadcast. Emits raw (band, sig) candidate hits.
  *  - [[runSelfGrowingDedup]]: foreachBatch loop that keeps only novel
  *    documents and writes their signatures to the index path (one
  *    batch_id partition per micro-batch, overwritten on replay), so
  *    the index is the accumulated corpus — dedup state lives in Parquet
  *    (unbounded-safe, restart-safe), not in executor memory. This is
  *    the shape a 100 TB continuous ingest runs: per micro-batch one
  *    bucket join against the index, the batch side small by definition.
  *    The index holds one row per (novel doc, band) — it grows with
  *    NOVEL content, not raw corpus (measured: bench/r06_curation_bench
  *    .json). Per-batch probe cost is the index scan; once the index
  *    itself is large, lay it out sorted/bucketed by sig so parquet
  *    row-group pruning (or an AQE runtime filter built from the small
  *    batch side) skips non-colliding stripes — the layout change is
  *    invisible to this code, which only equi-joins on (band, sig).
  */
object StreamingDedup {

  /** Per-row banded MinHash signatures as an array column — the
    * STATELESS twin of `TextAnalysisShared.bandedMinhashSigs` (which
    * needs a groupBy): band mins fold inside one projection via
    * collection HOFs, so it composes with an unbounded stream. Parity
    * with the batch form is pinned by StreamingDedupSpec.
    */
  def rowSigs(textCol: Column, nBands: Int): Column = {
    require(nBands <= TextAnalysisShared.MinhashA.size,
      s"at most ${TextAnalysisShared.MinhashA.size} bands")
    val p = TextAnalysisShared.MinhashP
    val hx = transform(TextAnalysisShared.shingles(textCol),
      sh => TextAnalysisShared.hash64(sh) % p)
    val bandSigs = (0 until nBands).map { b =>
      struct(
        lit(b.toLong).as("band"),
        array_min(transform(hx, x => (x * TextAnalysisShared.MinhashA(b) + b) % p)).as("sig"))
    }
    // Short documents (< 3 tokens) have no shingles → null mins; the
    // batch groupBy form emits no row for them, so filter null sigs out.
    filter(array(bandSigs: _*), s => s.getField("sig").isNotNull)
  }

  /** Stateless stream-static probe: sign each arriving document per row,
    * explode its (band, sig) pairs, inner-join the static index
    * signature table. Emits one row per (arriving doc, indexed doc,
    * band) bucket collision — the streaming candidate feed that a
    * downstream verifier (Jaccard, embedding cosine) consumes.
    *
    * `indexSigs` must have columns (doc_id, band, sig) — the output of
    * `TextAnalysisShared.bandedMinhashSigs` over the indexed corpus.
    */
  def candidatesVsIndex(docs: Dataset[DocEvent], indexSigs: DataFrame): DataFrame =
    docs.toDF()
      .select(col("docId"), col("ts"), explode(rowSigs(col("text"), 4)).as("bs"))
      .select(col("docId"), col("ts"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .join(indexSigs.select(col("doc_id").as("doc_other"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("docId").as("doc_new"), col("doc_other"), col("band"), col("ts"))

  /** Self-growing dedup loop: per micro-batch, sign the batch (batch
    * data is bounded, so the batch-side groupBy is fine), dedupe it
    * against ITSELF (greedy by doc_id) and against the Parquet index,
    * then append the novel docs to `novelPath` and their signatures to
    * `indexPath`. Replay-idempotent — see [[processBatch]].
    *
    * `verifyJaccard = Some(τ)` enables the verified-drop leg: band
    * evidence only NOMINATES a duplicate, and the drop happens only
    * when token-set Jaccard against the colliding doc confirms it.
    */
  def runSelfGrowingDedup(
      docs: Dataset[DocEvent],
      indexPath: String,
      novelPath: String,
      checkpointPath: String,
      verifyJaccard: Option[Double] = None): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        processBatch(batch.toDF().withColumnRenamed("docId", "doc_id")
          .select("doc_id", "text", "ts"), batchId, indexPath, novelPath,
          verifyJaccard = verifyJaccard)
      }
      .start()

  /** One micro-batch of the self-growing loop, exposed for direct reuse
    * (a batch backfill runs the same code) and for replay testing.
    *
    * A document is duplicate when it bucket-collides with an indexed
    * doc OTHER than itself, or with a smaller-id doc of its own batch
    * (greedy within-batch dedup: two copies arriving together keep only
    * the first — without this leg both would enter the corpus).
    *
    * The drop criterion is AND-amplified: a doc is duplicate only when
    * it matches `minBands` (default 2 of 4) DISTINCT bands against ONE
    * other doc — a single shared band is chance-level for minhash over
    * a small vocabulary (measured at sf0.1: 40k single-band pairs vs
    * ~1k pairs at ≥ 2 bands) and would over-drop massively. The count
    * is `countDistinct(band)` per (doc, other) pair, so
    * replay-duplicated index rows cannot inflate the evidence.
    *
    * Replay-idempotent: BOTH writes overwrite their own batch_id
    * partition (novel docs and novel signatures alike — a replayed
    * append would otherwise double the index's rows every restart),
    * and the index probe excludes same-doc_id rows — a replayed batch
    * re-encounters its OWN first-run signatures in the index, and
    * without the exclusion every replayed doc would look duplicate and
    * the novel partition would rewrite EMPTY (silent data loss on
    * restart). The within-batch leg is replay-stable on its own: it
    * compares the batch only against itself, so it reproduces the
    * first run's verdicts exactly. The index is deliberately probed
    * WITHOUT a pre-dedup pass, so no per-batch shuffle of the
    * accumulated corpus ever happens. Requires doc_id unique across the
    * ingest (the ingest contract).
    *
    * `verifyJaccard = Some(τ)`: band collisions only NOMINATE — each
    * ≥ minBands pair is joined back to text and the doc drops only if
    * token-set Jaccard vs the colliding doc is ≥ τ. A band false
    * positive (two genuinely different docs whose band minima happen
    * to coincide) is silent, permanent data loss in band-only mode;
    * the verify leg makes the drop decision observable evidence, at
    * the cost of one extra pass over the candidate pairs. Batch-side
    * text comes from the batch; index-side text is re-read from the
    * NOVEL output (every indexed doc was once novel, so `novelPath`
    * is the accumulated corpus text — the index itself stays the slim
    * (doc_id, band, sig) table). The candidate side of that join is
    * broadcast, so the corpus text streams map-side. Band-only mode
    * (`None`, the default) remains the documented cheap path: no text
    * retained, no second pass — use it when the band threshold's
    * false-positive rate is calibrated for the corpus (see the
    * histogram note above).
    */
  private[streaming] def processBatch(
      b: DataFrame, batchId: Long, indexPath: String, novelPath: String,
      minBands: Int = 2, verifyJaccard: Option[Double] = None): Unit = {
    // 4 bands are signed below; a threshold above that can never be
    // met and would silently disable dedup entirely.
    require(minBands >= 1 && minBands <= 4, s"minBands $minBands outside 1..4")
    verifyJaccard.foreach(t =>
      require(t > 0.0 && t <= 1.0, s"verifyJaccard $t outside (0, 1]"))
    val spark = b.sparkSession
    // Referenced by the self-join (both sides), the index probe, and
    // the novel-signature append — a lazy local checkpoint, so the
    // shingle+minhash pass runs once per batch, not once per reference,
    // and a failure anywhere below leaves nothing cached to release.
    val sigs = TextAnalysisShared.bandedMinhashSigs(b, 4).localCheckpoint(false)
    val batchCand = sigs
      .join(broadcast(sigs.select(col("doc_id").as("other"), col("band"), col("sig"))),
        Seq("band", "sig"))
      .filter(col("other") < col("doc_id"))
      .groupBy("doc_id", "other")
      .agg(countDistinct("band").as("nb"))
      .filter(col("nb") >= minBands)
      .select("doc_id", "other")
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexExists = fs.exists(new org.apache.hadoop.fs.Path(indexPath))
    val idxCand =
      if (!indexExists) batchCand.limit(0)
      else {
        val idx = spark.read.parquet(indexPath)
          .select(col("doc_id").as("other"), col("band"), col("sig"))
        sigs.join(idx, Seq("band", "sig"))
          .filter(col("other") =!= col("doc_id"))
          .groupBy("doc_id", "other")
          .agg(countDistinct("band").as("nb"))
          .filter(col("nb") >= minBands)
          .select("doc_id", "other")
      }
    val cand = batchCand.unionByName(idxCand)
    val dup = verifyJaccard match {
      case None => cand.select("doc_id").distinct()
      case Some(tau) =>
        val batchToks = b.select(col("doc_id"),
          TextAnalysisShared.tokenSet(col("text")).as("toks"))
        // Candidate "other" side: within-batch others live in the batch;
        // indexed others live in the novel output. On replay a doc can
        // appear in both — multiplicity is harmless, the verdict is the
        // final distinct.
        val otherToks =
          if (!indexExists) batchToks
          else batchToks.unionByName(spark.read.parquet(novelPath)
            .select(col("doc_id"), TextAnalysisShared.tokenSet(col("text")).as("toks")))
        val candWithNew = cand
          .join(batchToks.withColumnRenamed("toks", "toks_new"), Seq("doc_id"))
        // Broadcast the (micro-batch-bounded) candidate side; the
        // accumulated corpus text streams through a map-side join.
        otherToks.select(col("doc_id").as("other"), col("toks").as("toks_other"))
          .join(broadcast(candWithNew), Seq("other"))
          .filter(TextAnalysisShared.jaccardSets(col("toks_new"), col("toks_other")) >= tau)
          .select("doc_id").distinct()
    }
    // Two writes below; the first materializes it, so the index is
    // not re-scanned per write.
    val novel = b.join(dup, Seq("doc_id"), "left_anti").localCheckpoint(false)
    novel.write.mode("overwrite").parquet(s"$novelPath/batch_id=$batchId")
    val novelSigs = sigs.join(novel.select("doc_id"), Seq("doc_id"))
    novelSigs.write.mode("overwrite").parquet(s"$indexPath/batch_id=$batchId")
  }
}
