package graft

import graft.io.Tables
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus upsampler for scaling-curve measurements:
  * writes a `factor`× copy of a testdata directory by unioning
  * key-shifted shards of each fact table (the `region`/`nation` dims
  * copy unchanged, as in TPC-H scaling). Key DOMAINS shift together
  * across tables — an order's shifted `o_custkey` still hits its
  * shifted customer — so join cardinalities scale linearly and the
  * upsampled corpus behaves like one database `factor`× the size, not
  * `factor` overlapping ones.
  *
  * Near-dup surfaces (document text, embedding vectors) get a tiny
  * deterministic per-shard perturbation: without it every shard
  * collides with every other in the dedup/LSH buckets, pair counts go
  * quadratic in `factor`, and the scaling curve measures the artifact
  * instead of the operator.
  *
  * Usage: runMain graft.ScaleData <srcDir> <dstDir> [factor=10] [tables-csv] [exact]
  * With a tables list, only those fact tables are upsampled; every other
  * table copies verbatim (the dir stays valid for every query, and a
  * ×100 run for one operator family doesn't pay to upsample lineitem).
  *
  * A trailing `exact` arg (tables-csv may be `-` for "all") DISABLES
  * the near-dup perturbation: ids still shift but text and vectors copy
  * verbatim, so every source row becomes a `factor`-sized family of
  * bit-identical near-dup content. That is the regime exact-duplicate
  * collapse optimizations (Selection.semanticDedup's family collapse,
  * the minhash family cap) exist for — and the regime the perturbed
  * decades deliberately CANNOT produce, so proving a families²-vs-
  * members² claim needs an exact-mode dir. Never use exact dirs for
  * whole-suite sweeps: every pairwise query's output contract goes
  * quadratic in `factor` by construction.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val only = if (args.length > 3 && args(3) != "-")
      args(3).split(',').map(_.trim).toSet else Set.empty[String]
    val perturb = !(args.length > 4 && args(4) == "exact")
    // UTC-pinned like every entrypoint session (Entrypoint.session):
    // Tables.load's TIMESTAMP_NTZ normalization reads the session zone.
    val spark = Entrypoint.session()
    scale(spark, src, dst, factor, only, perturb)
    spark.stop()
  }

  /** Fact tables whose shifted FOREIGN keys land in another table's
    * shifted domain. A partial upsample must include the referenced
    * parents, or 1−1/factor of the child's keys dangle and every
    * join-family query against the dir measures a collapsing hit rate
    * instead of operator scaling. (nation/region FKs never shift;
    * events' user_id domain is events-local, not a customer key.)
    */
  private val FkParents = Map(
    "orders" -> Set("customer"),
    "lineitem" -> Set("orders", "part", "supplier"),
    // documents ⋈ embeddings is a cross-domain EQUALITY join
    // (doc_id = vec_id, Retrieval/VectorSearch) — the two tables must
    // shift by the SAME offset or every shard's pairs dissolve, so a
    // partial upsample must take both.
    "documents" -> Set("embeddings"),
    "embeddings" -> Set("documents"))

  def scale(spark: SparkSession, src: String, dst: String, factor: Int,
      only: Set[String] = Set.empty, perturb: Boolean = true): Unit = {
    if (only.nonEmpty) {
      val missing = only.flatMap(t => FkParents.getOrElse(t, Set.empty)) -- only
      require(missing.isEmpty,
        s"partial upsample of ${only.mkString(",")} shifts foreign keys into shard " +
          s"domains with no matching parent rows; include ${missing.mkString(",")} too")
    }
    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")

    def keyDomain(name: String, keyCol: String): Long =
      Tables.load(spark, src, name).agg(max(col(keyCol))).head().getLong(0) + 1L

    val custOff = keyDomain("customer", "c_custkey")
    val suppOff = keyDomain("supplier", "s_suppkey")
    val partOff = keyDomain("part", "p_partkey")
    val orderOff = keyDomain("orders", "o_orderkey")
    val eventOff = keyDomain("events", "event_id")
    val userOff = keyDomain("events", "user_id")
    // doc_id and vec_id join by EQUALITY (not via an FK column), so
    // both tables shift by one shared offset — per-domain offsets
    // would leave shard i's doc k at k + docOff·i looking for vec
    // k + vecOff·i, and every shard's doc⋈embedding pairs dissolve.
    val docVecOff = math.max(keyDomain("documents", "doc_id"),
      keyDomain("embeddings", "vec_id"))

    def shifted(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      if (only.nonEmpty && !only.contains(name)) write(base, name)
      else write((0 until factor).map(i => shift(base, i)).reduce(_.unionByName(_)), name)
    }
    def bump(c: String, off: Long, i: Int): Column = col(c) + lit(off * i)

    write(Tables.load(spark, src, "region"), "region")
    write(Tables.load(spark, src, "nation"), "nation")
    shifted("customer")((d, i) => d.withColumn("c_custkey", bump("c_custkey", custOff, i)))
    shifted("supplier")((d, i) => d.withColumn("s_suppkey", bump("s_suppkey", suppOff, i)))
    shifted("part")((d, i) => d.withColumn("p_partkey", bump("p_partkey", partOff, i)))
    shifted("orders")((d, i) => d
      .withColumn("o_orderkey", bump("o_orderkey", orderOff, i))
      .withColumn("o_custkey", bump("o_custkey", custOff, i)))
    shifted("lineitem")((d, i) => d
      .withColumn("l_orderkey", bump("l_orderkey", orderOff, i))
      .withColumn("l_partkey", bump("l_partkey", partOff, i))
      .withColumn("l_suppkey", bump("l_suppkey", suppOff, i)))
    shifted("events")((d, i) => d
      .withColumn("event_id", bump("event_id", eventOff, i))
      .withColumn("user_id", bump("user_id", userOff, i)))
    shifted("documents")((d, i) => d
      .withColumn("doc_id", bump("doc_id", docVecOff, i))
      // Shard 0 is the source verbatim; other shards append a shard tag
      // so duplicate structure per shard matches the source corpus.
      .withColumn("text",
        if (i == 0 || !perturb) col("text") else concat(col("text"), lit(s" shard$i")))
      .withColumn("n_chars", length(col("text")).cast("long")))
    shifted("embeddings")((d, i) => d
      .withColumn("vec_id", bump("vec_id", docVecOff, i))
      // Deterministic per-shard direction nudge (scale-invariant cosine
      // needs a direction change, not a magnitude one). Modulus 97 with
      // a multiplier coprime to it: every component differs between any
      // two shards for factor ≤ 97 — a composite modulus sharing a
      // factor with the multiplier would repeat shards periodically and
      // reintroduce the exact cross-shard duplicates this avoids.
      .withColumn("embedding",
        if (i == 0 || !perturb) col("embedding")
        else transform(col("embedding"),
          (x, j) => (x + ((lit(i * 30) + j) % 97 - lit(48)).cast("double") * lit(1e-4)).cast("float"))))
  }
}
