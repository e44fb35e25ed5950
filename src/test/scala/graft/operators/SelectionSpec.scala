package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Semantic + plan checks for the data-selection pack (DSIR importance
  * resampling, SemDeDup-style semantic dedup, canonical-doc pick).
  */
class SelectionSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, Sf)

  test("dsir: every document is scored, exactly the top quartile is selected") {
    val out = run("q_dsir_select").cache()
    try {
      val docs = graft.io.Tables.documents(spark, Sf).count()
      assert(out.count() == docs, "every doc must receive a weight")
      val sel = out.filter(col("selected") === 1).count()
      // p75 cut: at least a quarter selected (ties at the threshold can
      // only ADD members, never remove them).
      assert(sel >= docs / 4, s"expected >= ${docs / 4} selected, got $sel")
      assert(sel < docs, "a selection that keeps everything selects nothing")
      // The selected set is exactly the weight-threshold upper set: no
      // selected doc may score below an unselected one.
      val minSel = out.filter(col("selected") === 1).agg(min("logw")).head().getDouble(0)
      val maxUnsel = out.filter(col("selected") === 0).agg(max("logw")).head().getDouble(0)
      assert(minSel >= maxUnsel, s"selection not an upper set: $minSel < $maxUnsel")
    } finally out.unpersist()
  }

  test("dsir: importance weights follow the target slice") {
    // Plant a corpus where the target slice has a distinctive
    // vocabulary: target-vocab docs must outscore off-vocab docs.
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma alpha beta", "src0"),
      (1L, "alpha gamma beta beta alpha", "src1"),
      (2L, "delta epsilon zeta delta zeta", "src9"),
      (3L, "beta alpha alpha gamma beta", "src9")) // target-like text, raw source
      .toDF("doc_id", "text", "source")
    val tok = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("source"),
        (TextAnalysisShared.hash64(col("w")) % 1024L).as("b"))
    val isT = col("source").isin("src0", "src1", "src2", "src3")
    val tgt = tok.filter(isT).groupBy("b").agg(count(lit(1)).as("ct"))
    val raw = tok.groupBy("b").agg(count(lit(1)).as("cr"))
    val nt = tok.filter(isT).count().toDouble
    val nr = tok.count().toDouble
    val w = tok.join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
      .select(col("doc_id"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / lit(nt + 1024.0)) -
          log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / lit(nr + 1024.0))).as("lw"))
      .groupBy("doc_id").agg(sum("lw").as("logw"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Doc 3 shares the target vocabulary (despite its raw source) and
    // must outscore the off-vocabulary doc 2.
    assert(w(3L) > w(2L), s"target-vocab doc should outscore off-vocab: $w")
    assert(w(0L) > w(2L) && w(1L) > w(2L))
  }

  test("semantic dedup: output partitions the corpus; kept set is cluster-locally maximal") {
    val out = run("q_semantic_dedup").cache()
    try {
      val n = graft.io.Tables.embeddings(spark, Sf).count()
      assert(out.count() == n, "every vector gets a kept/dropped verdict")
      val kept = out.filter(col("kept") === 1).count()
      assert(kept > 0 && kept < n, s"degenerate kept set: $kept of $n")
      // Every cluster retains at least one member — dedup never empties
      // a cluster.
      val emptied = out.groupBy("cluster")
        .agg(sum("kept").as("k")).filter(col("k") === 0).count()
      assert(emptied == 0, "a cluster lost all members")
    } finally out.unpersist()
  }

  test("semantic dedup: a planted within-cluster near-identical pair keeps the far-from-centroid member") {
    import spark.implicits._
    // Two near-identical vectors + one orthogonal: the dup pair lands
    // in one cluster; the member with LOWER centroid-sim survives.
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.999f, 0.01f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    // The REAL assignment (codebook + struct-argmax), not a re-derived
    // copy — the test exercises the implementation the query runs.
    val asg = Selection.assigned(e)
    val pair = asg.filter(col("vec_id").isin(0L, 1L))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // Both dup members share a cluster (their mutual cosine ~0.99995).
    val clusters = asg.filter(col("vec_id").isin(0L, 1L))
      .select("cluster").distinct().count()
    assert(clusters == 1, "planted dup pair split across clusters")
    // The keep rule prefers the lower csim: whichever of 0/1 sits
    // closer to the centroid is the one that must drop.
    val loser = if (pair(0L) > pair(1L)) 0L else if (pair(1L) > pair(0L)) 1L else 1L
    val other = asg.select(col("cluster"), col("vec_id").as("o_id"),
      col("csim").as("o_csim"), col("embedding").as("o_emb"))
    val dropped = asg.join(other, Seq("cluster"))
      .filter(col("o_id") =!= col("vec_id"))
      .filter(round(graft.functions.VectorFunctions.cosine(col("embedding"), col("o_emb")), 4) >= 0.3)
      .filter(col("o_csim") < col("csim") ||
        (col("o_csim") === col("csim") && col("o_id") < col("vec_id")))
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(dropped == Set(loser), s"expected only $loser dropped, got $dropped")
  }

  test("blocked semantic dedup only ever drops docs the unblocked form drops") {
    // Sub-blocking narrows the pair space: its drop set must be a
    // subset of the full cluster-local drop set (the recall trade is
    // pairs straddling a bucket boundary — never NEW drops).
    val full = run("q_semantic_dedup")
      .filter(col("kept") === 0).select("vec_id")
    val blocked = run("q_semantic_dedup_blocked")
      .filter(col("kept") === 0).select("vec_id")
    assert(blocked.except(full).count() == 0,
      "blocked mode dropped a doc the unblocked form keeps")
    // And it still does real work on this corpus.
    assert(blocked.count() > 0, "blocked mode dropped nothing")
  }

  test("canonical pick: same clusters as consolidate-merge, canonical is the longest member") {
    val canon = run("q_dedup_canonical").cache()
    val merge = run("q_consolidate_merge").cache()
    try {
      // Identical cluster structure (same comp ids and sizes).
      val a = canon.select("comp", "group_size")
      val b = merge.select("comp", "group_size")
      assert(a.except(b).count() == 0 && b.except(a).count() == 0,
        "canonical pick must reuse the consolidate-merge components")
      // The canonical member is a real member and no member is longer.
      val docs = graft.io.Tables.documents(spark, Sf)
      val labeled = ParityTwins.minhashCcLabels(docs)
        .join(docs, col("node") === col("doc_id"))
      val maxLen = labeled.groupBy("comp").agg(max("n_chars").as("mx"))
      val bad = canon.join(maxLen, Seq("comp"))
        .filter(col("canon_chars") =!= col("mx")).count()
      assert(bad == 0, "canonical doc is not the longest member of its cluster")
    } finally { canon.unpersist(); merge.unpersist() }
  }

  test("plan shapes: dsir models broadcast; semantic dedup pairs stay cluster-local") {
    // dsir scores through the compiled bucket kernels: the model is a
    // driver-built table, so the plan has NO corpus-sided join at all —
    // the only join left is the bounded 1-row selection-threshold
    // broadcast.
    val dsir = run("q_dsir_select").queryExecution.executedPlan.toString
    assert(!dsir.contains("BroadcastHashJoin") && !dsir.contains("SortMergeJoin") &&
      !dsir.contains("ShuffledHashJoin"), s"dsir must not join the corpus:\n$dsir")
    assert(dsir.contains("bucket_dot"), s"dsir must score through the kernel:\n$dsir")
    assert(!dsir.contains("CartesianProduct"), s"dsir plans a cartesian:\n$dsir")
    val sem = run("q_semantic_dedup").queryExecution.executedPlan.toString
    assert(!sem.contains("CartesianProduct"), s"semantic dedup plans a cartesian:\n$sem")
    val can = run("q_dedup_canonical").queryExecution.executedPlan.toString
    assert(!can.contains("CartesianProduct"), s"canonical pick plans a cartesian:\n$can")
  }
}
