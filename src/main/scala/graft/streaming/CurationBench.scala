package graft.streaming

import org.apache.spark.sql.{functions => F}

/** Measured evidence for the two curation surfaces that have no named
  * oracle query: the self-growing streaming-dedup loop and the
  * manifest export writer. Prints one JSON line.
  *
  * What the streaming numbers DO measure: (a) per-batch cost as the
  * BATCH grows (signature computation dominates; the index here
  * saturates at unique-content size because the ScaleData corpora are
  * ~96% near-dups by construction, so the probe side stays small at
  * every factor); (b) that saturation itself — the accumulated index
  * grows with novel content, not raw corpus. What they do NOT measure:
  * probe cost against a LARGE index of novel content — that cost is
  * the index scan and is bounded by layout (sorted/bucketed sig,
  * runtime filters), per the design note in StreamingDedup.
  *
  * Index = 90% of corpus docs, built INCREMENTALLY through ten
  * processBatch calls (each batch's self-join broadcast stays
  * micro-batch-sized — the shape a real backfill must use); timed
  * batch = the remaining 10%.
  *
  * SPARK_GRAFT_NOVEL=1 measures the OTHER regime: every token is
  * salted with its doc_id so cross-document shingle sharing vanishes
  * (content is almost all novel) and a 5% near-dup stream is
  * re-injected so the dedup legs still have work. Here the index DOES
  * grow with the corpus — index_build and probe costs are measured
  * against an index that is ~4 signature rows per ingested doc, the
  * regime a genuinely diverse 100 TB ingest lives in (the default
  * ScaleData corpora are ~96% near-dups, which saturates the index at
  * unique-content size and makes its growth look free).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_NOVEL=1]
  *        runMain graft.streaming.CurationBench
  */
object CurationBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val novelMode = sys.env.get("SPARK_GRAFT_NOVEL").contains("1")
    val spark = graft.Entrypoint.session("ERROR", graft.Entrypoint.scaledShuffle)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val work = java.nio.file.Files.createTempDirectory("curation_bench").toString

    val base = graft.io.Tables.documents(spark, sfDir).select("doc_id", "text")
    val corpus =
      if (!novelMode) base
      else {
        // Salt every token with its doc_id → no shingle is shared
        // across documents; then re-inject every doc_id % 20 == 0 doc
        // as a near-dup (first token dropped) under a shifted id.
        val maxId = base.agg(F.max("doc_id")).head().getLong(0) + 1
        val salted = base.select(F.col("doc_id"),
          F.array_join(F.transform(F.split(F.col("text"), " "),
            t => F.concat(t, F.lit("_"), F.col("doc_id").cast("string"))), " ").as("text"))
        salted.unionByName(salted.filter(F.col("doc_id") % 20 === 0)
          .select((F.col("doc_id") + maxId).as("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").as("text")))
      }
    val docs = corpus
      .select(F.col("doc_id"), F.col("text"),
        F.lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
    val batchDocs = docs.filter(F.col("doc_id") % 10 === 0)
    val buildSec = timed {
      (1 to 9).foreach { k =>
        StreamingDedup.processBatch(docs.filter(F.col("doc_id") % 10 === k),
          k.toLong, s"$work/index", s"$work/novel")
      }
    }
    val indexRows = spark.read.parquet(s"$work/index").count()
    // A batch id OUTSIDE the build loop's 1..9: batch writes overwrite
    // their own batch_id partition (novel AND index), so reusing id 1
    // here would clobber the build loop's partitions.
    val batchSec = timed {
      StreamingDedup.processBatch(batchDocs, 10L, s"$work/index", s"$work/novel")
    }
    val batchCount = batchDocs.count()

    val exportSec = timed {
      graft.operators.Curation.exportManifest(spark, sfDir, s"$work/corpus"): Unit
    }

    val mode = if (novelMode) "novel" else "neardup"
    val corpusDocs = corpus.count()
    println(s"""{"sf":"$sfDir","mode":"$mode","corpus_docs":$corpusDocs,""" +
      s""""index_rows":$indexRows,"batch_docs":$batchCount,""" +
      s""""index_build_sec":$buildSec,"stream_batch_sec":$batchSec,"export_sec":$exportSec}""")
    spark.stop()
  }
}
