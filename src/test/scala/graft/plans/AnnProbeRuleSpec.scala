package graft.plans

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.io.Tables
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The probed-cell ANN rewrite: the `ann_probe` marker over a
  * bucket-partitioned layout must become real partition pruning (one
  * cell directory read), never fire without the marker, and degrade to
  * a correct full scan when the layout has no bucket column.
  */
class AnnProbeRuleSpec extends SparkSpec {

  private lazy val layout: String = {
    val dir = s"$suiteTempDir/layout8"
    Tables.embeddings(spark, Sf)
      .withColumn("bucket", VectorFunctions.signBucket(col("embedding"), 8))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)
    AnnBucketProbe.recordLayoutBits(spark, dir, 8)
    dir
  }

  private def queryVec: Array[Float] =
    Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  test("marker + bucket layout prunes the scan to the query's cell") {
    AnnBucketProbe.install(spark)
    val q = queryVec
    val probed = spark.read.parquet(layout)
      .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
        round(VectorFunctions.annProbe(VectorFunctions.cosineConst(col("embedding"), q), 8), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[isnotnull\\(bucket#\\d+\\), \\(bucket#\\d+ = \\d+\\)\\]".r
      .findFirstIn(plan).isDefined, s"no partition-pruning filter in:\n$plan")
    // The probe and the hand-written runtime-filter ANN (q_ann_bucket
    // semantics) agree row-for-row — the rule changes WHERE the
    // narrowing happens, not what is computed. This also pins the
    // rule's driver-side sign convention to VectorFunctions.signBucket.
    val byHand = {
      val e = Tables.embeddings(spark, Sf)
        .withColumn("bucket", VectorFunctions.signBucket(col("embedding"), 8))
      val qb = e.filter(col("vec_id") === 0).select("bucket").head().getLong(0)
      e.filter(col("bucket") === qb)
        .select(col("vec_id"), col("bucket"),
          round(VectorFunctions.cosineConst(col("embedding"), q), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
    }
    assert(probed.collect().toSeq == byHand.collect().toSeq)
  }

  test("no marker, no pruning: an exact top-k never gets narrowed") {
    AnnBucketProbe.install(spark)
    val q = queryVec
    val exact = spark.read.parquet(layout)
      .select(col("vec_id"),
        round(VectorFunctions.cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
    val plan = exact.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: []"), s"unmarked scan was narrowed:\n$plan")
  }

  test("marker without a bucket column degrades to a correct full scan") {
    AnnBucketProbe.install(spark)
    val q = queryVec
    val marked = Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        round(VectorFunctions.annProbe(VectorFunctions.cosineConst(col("embedding"), q), 8), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
    val exact = Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        round(VectorFunctions.cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
    assert(marked.collect().toSeq == exact.collect().toSeq)
    assert(!marked.queryExecution.optimizedPlan.toString.contains("ann_probe"),
      "marker must be stripped even when the rewrite cannot fire")
  }

  test("two markers naming DIFFERENT cells degrade to a full scan") {
    AnnBucketProbe.install(spark)
    val q1 = queryVec
    val q2 = q1.map(v => -v) // negated probe lives in the complement bucket
    val df = spark.read.parquet(layout)
      .select(col("vec_id"),
        round(VectorFunctions.annProbe(VectorFunctions.cosineConst(col("embedding"), q1), 8), 4).as("s1"),
        round(VectorFunctions.annProbe(VectorFunctions.cosineConst(col("embedding"), q2), 8), 4).as("s2"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: []"),
      s"disagreeing markers must not narrow the scan:\n$plan")
    // Same cell twice still prunes.
    val same = spark.read.parquet(layout)
      .select(col("vec_id"),
        round(VectorFunctions.annProbe(VectorFunctions.cosineConst(col("embedding"), q1), 8), 4).as("s1"),
        round(VectorFunctions.annProbe(VectorFunctions.dotConst(col("embedding"), q1), 8), 4).as("s2"))
    assert("PartitionFilters: \\[isnotnull\\(bucket#\\d+\\), \\(bucket#\\d+ = \\d+\\)\\]".r
      .findFirstIn(same.queryExecution.executedPlan.toString).isDefined)
  }

  test("an unresolvable marker vetoes narrowing for the whole projection") {
    AnnBucketProbe.install(spark)
    // One literal-query marker plus one whose query vector is a COLUMN
    // (no cell computable at plan time): narrowing to the literal's
    // cell would silently skew the second similarity's candidate set,
    // so the projection must degrade to the full scan — and both
    // markers must still be stripped (the similarities stay correct).
    val df = spark.read.parquet(layout)
      .select(col("vec_id"),
        round(VectorFunctions.annProbe(VectorFunctions.cosineConst(col("embedding"), queryVec), 8), 4).as("s1"),
        round(VectorFunctions.annProbe(VectorFunctions.cosine(col("embedding"), col("embedding")), 8), 4).as("s2"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: []"),
      s"a non-literal marker must veto narrowing:\n$plan")
    assert(!plan.toLowerCase.contains("annprobe"), s"markers must still strip:\n$plan")
    assert(df.collect().forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-6),
      "self-cosine must survive the veto path intact")
  }

  test("a layout declaring different bits than the marker full-scans instead of probing") {
    AnnBucketProbe.install(spark)
    val q = queryVec
    // A 6-bit layout: its cell ids live in 0..63, so an 8-bit marker's
    // cell (which sets bits 6-7 for this corpus's query) names a
    // directory this layout never wrote — probing it would silently
    // return a wrong (often empty) candidate set.
    val dir6 = s"$suiteTempDir/layout6"
    Tables.embeddings(spark, Sf)
      .withColumn("bucket", VectorFunctions.signBucket(col("embedding"), 6))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir6)
    AnnBucketProbe.recordLayoutBits(spark, dir6, 6)
    def probe(bits: Int) = spark.read.parquet(dir6)
      .select(col("vec_id"),
        round(VectorFunctions.annProbe(VectorFunctions.cosineConst(col("embedding"), q), bits), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
    val mismatched = probe(8)
    val plan = mismatched.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: []"),
      s"8-bit marker over a declared 6-bit layout must not narrow:\n$plan")
    val exact = spark.read.parquet(dir6)
      .select(col("vec_id"),
        round(VectorFunctions.cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
    assert(mismatched.collect().toSeq == exact.collect().toSeq,
      "the degraded plan must still compute exact similarities")
    // Matching bits on the same declared layout still prune.
    assert("PartitionFilters: \\[isnotnull\\(bucket#\\d+\\), \\(bucket#\\d+ = \\d+\\)\\]".r
      .findFirstIn(probe(6).queryExecution.executedPlan.toString).isDefined,
      "a matching declaration must keep pruning")
  }

  test("install is idempotent") {
    AnnBucketProbe.install(spark)
    AnnBucketProbe.install(spark)
    assert(spark.experimental.extraOptimizations.count(_ == AnnBucketProbe) == 1)
  }
}
