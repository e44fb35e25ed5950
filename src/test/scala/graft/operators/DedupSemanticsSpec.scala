package graft.operators

import graft.SparkSpec
import graft.retrieval.Knn
import graft.functions.HashEmbedder
import org.apache.spark.sql.functions._

/** Semantic checks for the dedup/search machinery on planted data —
  * near-duplicates must collide, unrelated docs must not.
  */
class DedupSemanticsSpec extends SparkSpec {

  private val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
  private val nearDup = base.replace("today", "tonight") // one token differs
  private val unrelated = "completely different content about spark query planning and shuffle exchanges here now"

  test("banded minhash signatures collide for near-duplicates only") {
    import spark.implicits._
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated)).toDF("doc_id", "text")
    val sigs = TextAnalysisShared.bandedMinhashSigs(docs, 4)
    val a = sigs.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val b = sigs.select(col("band"), col("sig"), col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((0L, 1L)),
      s"expected only the planted near-dup pair, got $pairs")
    assert(pairs.head._3 >= 1)
  }

  test("hash-embedder cosine ranks the near-duplicate above the unrelated doc") {
    import spark.implicits._
    val corpus = Seq(
      (1L, HashEmbedder.embed(nearDup)),
      (2L, HashEmbedder.embed(unrelated))).toDF("id", "vec")
    val ranked = Knn.topK(corpus, "vec", HashEmbedder.embed(base), k = 2, idCol = "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toSeq
    assert(ranked.map(_._1) == Seq(1L, 2L))
    assert(ranked.head._2 > 0.9, s"near-dup cosine ${ranked.head._2} should be high")
    assert(ranked(1)._2 < 0.5, s"unrelated cosine ${ranked(1)._2} should be low")
  }

  test("shingles of sub-3-token docs are empty, not a crash") {
    import spark.implicits._
    val docs = Seq((0L, "hi"), (1L, "one two"), (2L, base)).toDF("doc_id", "text")
    val sigs = TextAnalysisShared.bandedMinhashSigs(docs, 4)
    // Only the 3+-token doc produces signatures; short docs vanish
    // instead of blowing up slice() with a descending sequence.
    assert(sigs.select("doc_id").distinct().collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("batch kNN returns per-query top-k with self at rank 1") {
    import spark.implicits._
    val corpus = Seq(
      (0L, HashEmbedder.embed(base)),
      (1L, HashEmbedder.embed(nearDup)),
      (2L, HashEmbedder.embed(unrelated))).toDF("id", "vec")
    val queries = corpus.select(col("id").as("qid"), col("vec").as("qvec"))
    val out = Knn.topKBatch(corpus, "vec", "id", queries, "qid", "qvec", k = 1)
      .select("qid", "id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("compiled minhash signature kernel equals the explode+groupBy formulation") {
    // The kernel replaced the shingle explode + multi-min groupBy in
    // bandedMinhashSigs; every LSH consumer inherits it, so the values
    // must be bit-identical on the real corpus — including absent rows
    // for sub-3-token docs.
    val docs = graft.io.Tables.documents(spark,
      "/root/testdata/sf0.01")
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val kernel = sigSet(TextAnalysisShared.bandedMinhashSigs(docs, 4))
    val exploded = sigSet(ParityTwins.bandedMinhashSigsExploded(docs, 4))
    assert(kernel == exploded,
      s"kernel diverged: ${(kernel diff exploded).take(3)} vs ${(exploded diff kernel).take(3)}")
    assert(kernel.nonEmpty)
    // Null-vector semantics: a doc below the shingle threshold is
    // absent, not zero-filled.
    import spark.implicits._
    val tiny = Seq((1L, "only two"), (2L, "three token doc")).toDF("doc_id", "text")
    val t = sigSet(TextAnalysisShared.bandedMinhashSigs(tiny, 4))
    assert(t.map(_._1) == Set(2L))
  }
}