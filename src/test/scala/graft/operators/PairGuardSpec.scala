package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Pins the pair-volume guard contracts ([[PairGuard]]): the three
  * exact quadratic legs must not run blind past the configured pair
  * cap, and what the guard routes to must relate to the exact output
  * the way the Scaladoc promises — never an arbitrary different answer.
  */
class PairGuardSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, Sf)

  /** Run `body` with guard confs set, restoring prior state after. */
  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def forceRoute(body: => Unit): Unit =
    withConf(PairGuard.MaxPairsConf -> "0", PairGuard.ModeConf -> "route")(body)

  /** The sf0.001 corpus upsampled into `copies`-member exact
    * duplicate families (ids shifted by k·n, payloads verbatim) —
    * the regime where the routed legs' family caps actually DROP
    * members; sf0.001's own largest complete-signature family has 4.
    * Built once, shared by every exceeds-the-cap test.
    */
  private lazy val twelveCopyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("pairfam").toString
    val docs = graft.io.Tables.documents(spark, Sf)
    val emb = graft.io.Tables.embeddings(spark, Sf)
    val n = docs.count()
    val copies = 12
    (0 until copies).map(k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k * n)))
      .reduce(_ unionByName _)
      .write.parquet(s"$dir/documents.parquet")
    (0 until copies).map(k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * n)))
      .reduce(_ unionByName _)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("guard default leaves small corpora on the exact contract (oracle parity path)") {
    // sf0.001 volumes are far under the default cap, so the plain runs
    // in every other spec — and the sf0.01 oracle gate — exercise the
    // exact legs; this just pins that the default really is permissive
    // here (routed-vs-exact diffs below would otherwise test nothing).
    val exactPairs = run("q_dedup_embedding").count()
    forceRoute {
      val routed = run("q_dedup_embedding").count()
      assert(routed < exactPairs,
        s"cap=0 must route to sub-blocked pairs (routed=$routed exact=$exactPairs)")
    }
  }

  test("routed q_dedup_embedding is a subset of the exact pair list, sims identical") {
    val exact = run("q_dedup_embedding")
    forceRoute {
      val routed = run("q_dedup_embedding")
      assert(routed.columns.toSeq == exact.columns.toSeq, "schema must not change")
      assert(routed.join(exact, Seq("label", "vec_a", "vec_b", "sim"), "left_anti").count() == 0,
        "every routed pair (including its sim) must appear in the exact output")
      assert(routed.count() > 0, "sub-blocking must keep sign-agreeing near-dups")
    }
  }

  test("routed q_semantic_dedup: same rows, drops are a subset of exact drops") {
    val exact = run("q_semantic_dedup").select(col("vec_id"), col("kept").as("k_exact"))
    forceRoute {
      val routed = run("q_semantic_dedup")
      assert(routed.columns.toSeq == Seq("vec_id", "cluster", "csim", "kept"))
      val joined = routed.join(exact, Seq("vec_id"))
      assert(joined.count() == exact.count(), "row set (one per vector) must not change")
      // Routed pairs ⊆ exact pairs ⇒ routed drop evidence ⊆ exact drop
      // evidence: nothing the routed leg drops may survive the exact leg.
      assert(joined.filter(col("kept") === 0 && col("k_exact") === 1).count() == 0,
        "routed mode dropped a vector the exact contract keeps")
    }
  }

  test("routed q_minhash_estimate equals the family-capped sampled leg, subset of full") {
    val full = run("q_minhash_estimate")
    val sampled = run("q_minhash_estimate_sampled")
    forceRoute {
      val routed = run("q_minhash_estimate")
      assert(routed.columns.toSeq == full.columns.toSeq)
      assert(routed.exceptAll(sampled).count() == 0 && sampled.exceptAll(routed).count() == 0,
        "routed full leg must produce exactly the pinned sampled-leg output")
      assert(routed.join(full,
        Seq("doc_a", "doc_b", "bands_matched", "est_jaccard", "true_jaccard", "abs_err"),
        "left_anti").count() == 0, "routed rows must appear row-for-row in the full output")
    }
  }

  test("routed q_dedup_minhash_lsh is a row-for-row subset of the full pair list") {
    val full = run("q_dedup_minhash_lsh")
    forceRoute {
      val routed = run("q_dedup_minhash_lsh")
      assert(routed.columns.toSeq == full.columns.toSeq)
      assert(routed.join(full, Seq("doc_a", "doc_b", "bands_matched"), "left_anti").count() == 0,
        "routed pairs (bands_matched included) must appear verbatim in the full output")
      assert(routed.count() > 0, "family reps must keep one within-family pair per family")
    }
  }

  test("routed training-pair queries: exact rows, complete per surviving anchor") {
    // The positive-only rank key makes each anchor's top-4 positives a
    // property of the candidate SET, and the top-5-per-family formation
    // cap (same key) provably contains every anchor's winners — so the
    // routed output must be the exact output RESTRICTED to surviving
    // anchors, bit-for-bit: a row-for-row subset overall, and for every
    // anchor the routed leg keeps, ALL of that anchor's exact rows.
    for (name <- Seq("q_contrastive_pairs", "q_hard_negatives")) {
      val exact = run(name)
      forceRoute {
        val routed = run(name)
        assert(routed.columns.toSeq == exact.columns.toSeq, s"$name schema")
        assert(routed.join(exact, routed.columns.toSeq, "left_anti").count() == 0,
          s"$name: routed rows must appear verbatim in the exact output")
        val anchors = routed.select("anchor").distinct()
        val exactForSurvivors = exact.join(anchors, Seq("anchor"))
          .select(routed.columns.map(col): _*)
        assert(exactForSurvivors.exceptAll(routed).count() == 0 &&
          routed.exceptAll(exactForSurvivors).count() == 0,
          s"$name: a surviving anchor lost or changed one of its exact rows")
        assert(routed.count() > 0, s"$name: family reps must keep some anchors")
      }
    }
  }

  test("routed q_dedup_incremental is a row-for-row subset of the exact candidates") {
    val full = run("q_dedup_incremental")
    forceRoute {
      val routed = run("q_dedup_incremental")
      assert(routed.columns.toSeq == full.columns.toSeq)
      assert(routed.join(full,
        Seq("doc_new", "doc_other", "origin", "bands_matched"), "left_anti").count() == 0,
        "routed candidates (bands_matched and origin included) must appear verbatim in the exact output")
      assert(routed.count() > 0, "family reps must keep some candidate pairs")
    }
  }

  test("routed q_dedup_incremental reports every family that holds a batch doc") {
    // Corpus engineered for the failure mode side-stratified reps
    // remove: 20 exact-duplicate families of 10 members each — ids
    // f·100+j, so per family exactly two members are batch (j ∈ {0,5}
    // ⇒ id % 5 == 0) and eight are index. An UNSTRATIFIED top-2 pick
    // lands both survivors on the index side for ~64 % of families
    // (index is 80 % of each family and the rank hash ignores sides),
    // and such a family emits NO candidate pair — its batch duplicates
    // silently vanish from the routed report. The stratified pick
    // keeps the top member of EACH side, so every family with a batch
    // doc and any partner must surface at least one within-family pair.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("incfam").toString
    val base = graft.io.Tables.documents(spark, Sf).orderBy("doc_id").limit(20)
    base.crossJoin(spark.range(10).select(col("id").as("j")))
      .withColumn("doc_id", col("doc_id") * 100 + col("j")).drop("j")
      .write.parquet(s"$dir/documents.parquet")
    // Ground-truth complete-signature families (docs too short for a
    // signature drop out here exactly as they do in the query):
    val famOf = TextAnalysisShared
      .bandedMinhashSigs(graft.io.Tables.documents(spark, dir), 4)
      .groupBy("doc_id")
      .agg(concat_ws("_", array_sort(collect_list(
        concat(col("band"), lit(":"), col("sig"))))).as("fam"))
      .localCheckpoint(true)
    val expected = famOf.groupBy("fam")
      .agg(sum(when(col("doc_id") % 5 === 0, 1).otherwise(0)).as("nb"),
        count(lit(1)).as("n"))
      .filter(col("nb") >= 1 && col("n") >= 2)
      .select("fam")
    val exact = SparkEntry.queries("q_dedup_incremental")(spark, dir).localCheckpoint(true)
    forceRoute {
      val routed = SparkEntry.queries("q_dedup_incremental")(spark, dir).localCheckpoint(true)
      assert(routed.join(exact,
        Seq("doc_new", "doc_other", "origin", "bands_matched"), "left_anti").count() == 0,
        "routed candidates must remain a verbatim subset of the exact output")
      val detected = routed
        .join(famOf.withColumnRenamed("doc_id", "doc_new"), Seq("doc_new"))
        .join(famOf.select(col("doc_id").as("doc_other"), col("fam").as("fam_o")),
          Seq("doc_other"))
        .filter(col("fam") === col("fam_o"))
        .select("fam").distinct()
      assert(expected.count() >= 10, "corpus must contain many mixed families")
      assert(expected.join(detected, Seq("fam"), "left_anti").count() == 0,
        "a family holding a batch doc lost its every candidate pair in routed mode")
    }
  }

  test("routed training pairs preserve winners when families EXCEED the formation cap") {
    // The sf0.001 corpus's largest complete-signature family has 4
    // members — under the top-5-per-family cap — so the subset test
    // above never actually drops anyone. This corpus does: every
    // document duplicated into a 12-copy exact family (ids shifted by
    // k·n, text verbatim), the regime the preservation argument is FOR
    // (any exact top-4 member must sit at family rank ≤ 5 by the
    // shared positive key; ranks 6–12 are droppable by construction).
    import org.apache.spark.sql.functions._
    val dir = twelveCopyDir
    for (name <- Seq("q_contrastive_pairs", "q_hard_negatives")) {
      val exact = SparkEntry.queries(name)(spark, dir)
      forceRoute {
        val routed = SparkEntry.queries(name)(spark, dir)
        val survivors = routed.select("anchor").distinct()
        assert(survivors.count() > 0 && survivors.count() < exact.select("anchor").distinct().count(),
          s"$name: the cap must actually drop some anchors on 12-copy families")
        assert(routed.join(exact, routed.columns.toSeq, "left_anti").count() == 0,
          s"$name: routed rows must appear verbatim in the exact output")
        val exactForSurvivors = exact.join(survivors, Seq("anchor"))
          .select(routed.columns.map(col): _*)
        assert(exactForSurvivors.exceptAll(routed).count() == 0 &&
          routed.exceptAll(exactForSurvivors).count() == 0,
          s"$name: a surviving anchor lost or changed one of its exact rows")
      }
    }
  }

  test("routed dedup legs keep their contracts when families EXCEED the caps") {
    // Same 12-copy corpus for the OTHER routed legs (the subset tests
    // above run on sf0.001, whose largest family is 4 — small enough
    // that family caps and sub-blocking barely bite). Here every
    // family has 12 exact copies, so the caps measurably drop members
    // and the contracts are exercised where they matter.
    val dir = twelveCopyDir
    def q(name: String) = SparkEntry.queries(name)(spark, dir)

    // Calibration: routed = family-capped reps, a strict subset that
    // must appear row-for-row in the full audit.
    val fullEst = q("q_minhash_estimate").localCheckpoint(true)
    forceRoute {
      val routed = q("q_minhash_estimate").localCheckpoint(true)
      assert(routed.count() > 0 && routed.count() < fullEst.count(),
        "12-copy families must make the family cap actually drop pairs")
      assert(routed.join(fullEst,
        Seq("doc_a", "doc_b", "bands_matched", "est_jaccard", "true_jaccard", "abs_err"),
        "left_anti").count() == 0,
        "routed calibration rows must appear verbatim in the full output")
    }

    // Embedding near-dup: routed sub-blocked pairs ⊆ exact pairs, sims
    // identical, and every 12-copy family still surfaces SOME pair.
    val exactEmb = q("q_dedup_embedding").localCheckpoint(true)
    forceRoute {
      val routed = q("q_dedup_embedding").localCheckpoint(true)
      assert(routed.count() > 0 && routed.count() < exactEmb.count(),
        "sub-blocking must bound the 12-copy families' pair volume")
      assert(routed.join(exactEmb, Seq("label", "vec_a", "vec_b", "sim"), "left_anti")
        .count() == 0, "every routed pair must appear in the exact output")
    }

    // SemDeDup: routed drop evidence ⊆ exact drop evidence, and the
    // corpus makes the exact leg drop copiously (11 of every 12).
    val exactSem = q("q_semantic_dedup")
      .select(col("vec_id"), col("kept").as("k_exact")).localCheckpoint(true)
    assert(exactSem.filter(col("k_exact") === 0).count() > 0,
      "12-copy families must make the exact leg drop vectors")
    forceRoute {
      val routed = q("q_semantic_dedup")
      val joined = routed.join(exactSem, Seq("vec_id"))
      assert(joined.count() == exactSem.count(), "row set (one per vector) must not change")
      assert(joined.filter(col("kept") === 0 && col("k_exact") === 1).count() == 0,
        "routed mode dropped a vector the exact contract keeps")
    }
  }

  test("mode=fail refuses loudly; mode=exact overrides the cap") {
    withConf(PairGuard.MaxPairsConf -> "0", PairGuard.ModeConf -> "fail") {
      val e = intercept[IllegalStateException](run("q_dedup_embedding"))
      assert(e.getMessage.contains("q_dedup_embedding"))
      val e2 = intercept[IllegalStateException](run("q_contrastive_pairs"))
      assert(e2.getMessage.contains("q_contrastive_pairs"))
    }
    val exact = run("q_dedup_embedding")
    withConf(PairGuard.MaxPairsConf -> "0", PairGuard.ModeConf -> "exact") {
      val forced = run("q_dedup_embedding")
      assert(forced.exceptAll(exact).count() == 0 && exact.exceptAll(forced).count() == 0,
        "mode=exact must reproduce the exact contract regardless of cap")
    }
  }

  test("an unknown guard mode is rejected, naming the conf and the allowed modes") {
    withConf(PairGuard.ModeConf -> "rout") {
      val e = intercept[IllegalArgumentException](run("q_dedup_embedding"))
      assert(e.getMessage.contains(s"${PairGuard.ModeConf}=rout"), e.getMessage)
      assert(e.getMessage.contains("route, exact, fail"), e.getMessage)
    }
  }

  test("a malformed maxPairs is rejected, naming the conf and the allowed values") {
    for (bad <- Seq("lots", "2e8", "-1")) withConf(PairGuard.MaxPairsConf -> bad) {
      val e = intercept[IllegalArgumentException](run("q_dedup_embedding"))
      assert(!e.isInstanceOf[NumberFormatException], s"$bad: bare ${e.getClass.getName}")
      assert(e.getMessage.contains(s"${PairGuard.MaxPairsConf}=$bad"), e.getMessage)
      assert(e.getMessage.contains("non-negative whole number"), e.getMessage)
    }
  }
}
