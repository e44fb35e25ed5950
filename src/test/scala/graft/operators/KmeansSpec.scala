package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Lloyd's-algorithm semantics for q_kmeans_train. */
class KmeansSpec extends SparkSpec {

  test("every vector is assigned; sizes sum to the corpus; k centroids of full dim") {
    val out = SparkEntry.queries("q_kmeans_train")(spark, Sf).cache()
    try {
      val n = graft.io.Tables.embeddings(spark, Sf).count()
      val k = out.select("cid").distinct().count()
      assert(k <= 10 && k > 1, s"expected up to 10 non-empty cells, got $k")
      // One (pos, c) row per dimension per surviving centroid.
      val dims = out.groupBy("cid").agg(countDistinct("pos").as("d"))
        .filter(col("d") =!= 64).count()
      assert(dims == 0, "a centroid lost dimensions")
      val total = out.select("cid", "size").distinct()
        .agg(sum("size")).head().getLong(0)
      assert(total == n, s"sizes sum $total != corpus $n")
    } finally out.unpersist()
  }

  test("assign-step inertia is non-increasing across Lloyd iterations") {
    def inertia(iters: Int): Double = {
      val (_, asg) = ScalePatterns.kmeansFit(spark, Sf, iters)
      asg.agg(avg("dist2")).head().getDouble(0)
    }
    val i1 = inertia(1)
    val i2 = inertia(2)
    // The update step can only lower (or hold) the objective; the 1e-6
    // slack covers the per-iteration centroid rounding.
    assert(i2 <= i1 + 1e-6, s"inertia rose: iter1=$i1 iter2=$i2")
  }
}
