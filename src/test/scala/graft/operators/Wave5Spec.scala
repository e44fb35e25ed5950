package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Properties of the wave-5 pack: sketches (CMS / HLL), PQ-ADC search,
  * the BPE merge trainer, and the fold-form Gopher repetition rules.
  * Value-level equality vs DuckDB runs in the driver gate; these pin
  * the mathematical guarantees and the plan shapes the values cannot
  * express.
  */
class Wave5Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, Sf).collect()

  test("CMS never underestimates: overest >= 0 on every probed token") {
    val rows = run("q_cms_topk")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("overest") >= 0L,
        s"CMS underestimated ${r.getAs[String]("tok")}")
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"))
    }
  }

  test("HLL estimates stay within 15% of exact per-source cardinality") {
    val rows = run("q_hll_cardinality")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("hll_est") > 0.0)
      assert(r.getAs[Double]("rel_err") <= 0.15,
        s"${r.getAs[String]("source")}: rel_err ${r.getAs[Double]("rel_err")}")
    }
  }

  test("PQ two-stage search: query self-hit leads, shortlist recall holds") {
    val rows = run("q_ann_pq")
    assert(rows.length == 10)
    // Exact re-rank puts the query vector itself first at distance 0.
    assert(rows.head.getAs[Long]("vec_id") == 0L)
    assert(rows.head.getAs[Double]("true_dist") == 0.0)
    // Its ADC distance is its own quantization residual — positive.
    assert(rows.head.getAs[Double]("adc_dist") > 0.0)
    val dists = rows.map(_.getAs[Double]("true_dist")).toSeq
    assert(dists == dists.sorted, "re-rank must order by exact distance")
    val recall = rows.map(_.getAs[Int]("in_exact")).sum
    assert(recall >= 4, s"shortlist recall@10 collapsed: $recall/10")
  }

  test("IVF-PQ: residual ADC in the probed cell, exact re-rank leads with the query") {
    val rows = run("q_ann_ivfpq")
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("vec_id") == 0L)
    assert(rows.head.getAs[Double]("true_dist") == 0.0)
    val dists = rows.map(_.getAs[Double]("true_dist")).toSeq
    assert(dists == dists.sorted)
    val recall = rows.map(_.getAs[Int]("in_cell_exact")).sum
    assert(recall >= (rows.length + 1) / 2,
      s"cell-local PQ recall collapsed: $recall/${rows.length}")
  }

  test("PMI collocations: count floor holds and ordering is by pmi") {
    val rows = run("q_pmi_collocations")
    assert(rows.nonEmpty)
    val pmis = rows.map(_.getAs[Double]("pmi")).toSeq
    assert(pmis == pmis.sorted.reverse)
    rows.foreach(r => assert(r.getAs[Long]("cab") >= 5L))
  }

  test("JL projection two-stage: self-hit first, exact-ranked, recall floor") {
    val rows = run("q_random_projection")
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("vec_id") == 0L)
    val sims = rows.map(_.getAs[Double]("sim_orig")).toSeq
    assert(sims == sims.sorted.reverse, "re-rank must order by original-space sim")
    assert(rows.map(_.getAs[Int]("in_exact")).sum >= 4)
  }

  test("compiled winnow prints equal the HOF formulation per document") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.documents(spark, Sf)
    val both = docs.select(col("doc_id"),
      array_sort(org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.WinnowPrintsExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), 4)))
        .as("fast"),
      array_sort(TextAnalysisShared.winnowFingerprints(col("text"), 4)).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"winnow kernel diverges for doc ${r.getLong(0)}")
    }
  }

  test("contrastive pairs: negatives are never the anchor, positive, or a partner") {
    val rows = run("q_contrastive_pairs")
    assert(rows.nonEmpty)
    val partners = rows.map(r =>
      (r.getAs[Long]("anchor"), r.getAs[Long]("positive"))).toSet
    rows.foreach { r =>
      val (a, p, n) = (r.getAs[Long]("anchor"), r.getAs[Long]("positive"),
        r.getAs[Long]("neg"))
      assert(n != a && n != p)
      assert(!partners.contains((a, n)),
        s"negative $n is a near-dup partner of anchor $a")
    }
    // ≤ 2 negatives per (anchor, positive).
    rows.groupBy(r => (r.getAs[Long]("anchor"), r.getAs[Long]("positive")))
      .foreach { case (_, g) => assert(g.size <= 2) }
  }

  test("hard negatives share the anchor's sign-bucket and are never partners") {
    import org.apache.spark.sql.functions._
    val rows = run("q_hard_negatives")
    assert(rows.nonEmpty)
    val buckets = graft.io.Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.signBucket(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val partners = rows.map(r =>
      (r.getAs[Long]("anchor"), r.getAs[Long]("positive"))).toSet
    rows.foreach { r =>
      val (a, p, n) = (r.getAs[Long]("anchor"), r.getAs[Long]("positive"),
        r.getAs[Long]("neg"))
      assert(n != a && n != p)
      assert(buckets(n) == buckets(a), s"negative $n not in anchor $a's bucket")
      assert(!partners.contains((a, n)))
    }
  }

  test("Kneser-Ney LM scores its training language as more fluent") {
    import org.apache.spark.sql.functions._
    val kn = SparkEntry.queries("q_lm_kneser_ney")(spark, Sf)
    val byLang = kn.join(graft.io.Tables.documents(spark, Sf), Seq("doc_id"))
      .groupBy("lang").agg(avg("xent_kn").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byLang("en") < byLang("zh"),
      s"en-trained KN model should prefer en: $byLang")
    // Same scored-document contract as the add-one scorer.
    assert(kn.count() == SparkEntry.queries("q_lm_quality")(spark, Sf).count())
  }

  test("winnowing surfaces genuine near-duplicates") {
    import org.apache.spark.sql.functions._
    val rows = run("q_dedup_winnow")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("shared_prints") >= 2L)
    }
    // The top candidate must be a real near-dup, not a hash artifact.
    val (a, b) = (rows.head.getAs[Long]("doc_a"), rows.head.getAs[Long]("doc_b"))
    val docs = graft.io.Tables.documents(spark, Sf)
      .filter(col("doc_id").isin(a, b))
      .select(array_distinct(split(col("text"), " ")).as("t"))
      .collect().map(_.getSeq[String](0).toSet)
    val j = docs(0).intersect(docs(1)).size.toDouble / docs(0).union(docs(1)).size
    assert(j >= 0.2, s"top winnow pair ($a,$b) has Jaccard $j")
  }

  test("logreg trainer: loss strictly decreases over the GD steps") {
    val rows = run("q_logreg_train").sortBy(_.getAs[Int]("step"))
    assert(rows.length == 3)
    val losses = rows.map(_.getAs[Double]("loss")).toSeq
    assert(losses.zip(losses.tail).forall { case (a, b) => b < a },
      s"GD did not descend: $losses")
    rows.foreach(r => assert(r.getAs[Double]("acc") >= 0.0 &&
      r.getAs[Double]("acc") <= 1.0))
  }

  test("entity pagerank: positive masses, ranked order, real degrees") {
    val rows = run("q_entity_pagerank")
    assert(rows.nonEmpty)
    val prs = rows.map(_.getAs[Double]("pagerank")).toSeq
    assert(prs == prs.sorted.reverse)
    rows.foreach { r =>
      assert(r.getAs[Double]("pagerank") > 0.0)
      assert(r.getAs[Long]("deg") >= 1L)
    }
  }

  test("BPE trainer: merge counts are non-increasing across rounds") {
    val rows = run("q_bpe_train").sortBy(_.getAs[Int]("round"))
    assert(rows.length == 3)
    val cnts = rows.map(_.getAs[Long]("pair_cnt")).toSeq
    // A later merge can never beat an earlier one: old pair counts only
    // shrink, and any pair created by a merge occurs at most as often
    // as the merged pair did.
    assert(cnts == cnts.sorted.reverse, s"counts increased: $cnts")
    rows.foreach { r =>
      assert(r.getAs[String]("lhs").nonEmpty && r.getAs[String]("rhs").nonEmpty)
    }
  }

  test("BPE compression curve strictly shrinks the corpus per merge") {
    val rows = run("q_bpe_compression").sortBy(_.getAs[Int]("round"))
    assert(rows.length == 4)
    val sizes = rows.map(_.getAs[Long]("total_tokens")).toSeq
    assert(sizes.zip(sizes.tail).forall { case (a, b) => b < a },
      s"a positive-count merge must shrink the corpus: $sizes")
  }

  test("histogram quantiles stay inside the constructive 1/8 error bound") {
    val rows = run("q_quantile_hist")
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Double]("rel_err") <= 0.125,
        s"qpm ${r.getAs[Long]("qpm")}: rel_err ${r.getAs[Double]("rel_err")}")
      assert(r.getAs[Long]("est") > 0L && r.getAs[Long]("exact") > 0L)
    }
  }

  test("sketches merge: shard-wise HLL registers reproduce the global estimate") {
    import org.apache.spark.sql.functions._
    // The merge contract that makes the sketch the 100 TB shape: max of
    // per-shard register ranks == the single-pass global register, so
    // the estimate computed from merged shards is EXACTLY the estimate
    // of one pass over the union.
    val toks = graft.io.Tables.documents(spark, Sf)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val h = TextAnalysisShared.hash64(col("tok"))
    val rho = when(shiftright(h, 8) === 0L, lit(53))
      .otherwise(lit(52) - length(bin(shiftright(h, 8))) + 1)
    val perShard = toks
      .groupBy(col("source"), pmod(h, lit(256L)).as("reg"))
      .agg(max(rho).as("rank"))
    val merged = perShard.groupBy("reg").agg(max("rank").as("rank"))
      .collect().map(r => r.getAs[Long]("reg") -> r.getAs[Int]("rank")).toMap
    val global = toks
      .groupBy(pmod(h, lit(256L)).as("reg")).agg(max(rho).as("rank"))
      .collect().map(r => r.getAs[Long]("reg") -> r.getAs[Int]("rank")).toMap
    assert(merged == global, "merged shard registers diverge from single-pass registers")
  }

  test("perceptual hash collapses byte-distinct brightness variants") {
    val rows = run("q_image_phash")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("ahash").length == 64)
      // Each group holds byte-distinct payloads (different brightness)
      // that exact dedup would never merge — the perceptual win.
      assert(r.getAs[Long]("n_variants") >= 1L)
    }
    assert(rows.exists(_.getAs[Long]("n_variants") > 1L),
      "no group collapsed more than one byte-distinct variant")
  }

  test("compiled simhash equals the explode formulation; fingerprint equals the HOF twin") {
    import org.apache.spark.sql.functions._
    val fast = run("q_simhash").map(r => r.getLong(0) -> r.getString(1)).toMap
    val slow = ParityTwins.simhashExplodeTwin(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fast == slow, "compiled simhash diverges from the explode form")
    val fp = run("q_fingerprint")
    val hof = graft.io.Tables.documents(spark, Sf)
      .select(col("doc_id"), array_min(transform(
        TextAnalysisShared.shingles(col("text")),
        sh => md5(sh.cast("binary")))).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    fp.foreach { r =>
      assert(r.getAs[String]("min_shingle_fp") == hof(r.getAs[Long]("doc_id")))
    }
  }

  test("compiled gopher stats equal the HOF fold formulation") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"), QualityFilters.gopherStatsCol.as("st"))
      .filter(size(split(col("text"), " ")) >= 2)
    val both = docs.select(col("doc_id"),
      element_at(col("st"), 2).as("fast_top2"),
      element_at(col("st"), 7).as("fast_dup7"),
      ParityTwins.gramRunStats(col("text"), 2).getField("topchars").as("hof_top2"),
      ParityTwins.gramRunStats(col("text"), 7).getField("dupchars").as("hof_dup7"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getAs[Long]("fast_top2") == r.getAs[Long]("hof_top2"), s"top2 @ $r")
      assert(r.getAs[Long]("fast_dup7") == r.getAs[Long]("hof_dup7"), s"dup7 @ $r")
    }
  }

  test("gopher_rep folds per document: no aggregate in the plan") {
    val plan = SparkEntry.queries("q_gopher_rep")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate")
      && !plan.contains("ObjectHashAggregate"),
      "repetition signals are per-doc folds; an aggregate means a gram shuffle returned")
  }

  test("doremi loop closure: resample realizes the learned mixture weights") {
    val weights = run("q_doremi_weights")
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap // source -> (n_docs, mean_xent, weight)
    val out = run("q_doremi_resample")
    val copies = out.groupBy(_.getString(1)).map { case (src, rows) =>
      src -> rows.length.toLong
    }
    val total = graft.io.Tables.documents(spark, Sf).count()
    // Every source with a positive integer rate appears; realized copy
    // counts track weight * corpus within the per-doc rounding slack
    // (each doc rounds its fractional copy by one hash bucket, so the
    // source-level error is bounded by its doc count's worth of
    // bucket noise — use a generous 20% + 2 band).
    copies.foreach { case (src, n) =>
      val target = weights(src)._3 * total
      // Integer floors in rate_pct bias small sources low; the band is
      // rounding slack, not a precision claim.
      assert(math.abs(n - target) <= math.max(5.0, 0.3 * target),
        s"$src realized $n copies vs target ~$target")
    }
    // The loop's point: the hardest source (max mean_xent) must be
    // upsampled RELATIVE to its corpus share more than the easiest.
    val hardest = weights.maxBy(_._2._2)._1
    val easiest = weights.minBy(_._2._2)._1
    def epochs(src: String) = copies.getOrElse(src, 0L).toDouble / weights(src)._1
    assert(epochs(hardest) > epochs(easiest),
      s"hardest $hardest epochs ${epochs(hardest)} not above easiest $easiest ${epochs(easiest)}")
    // Total output stays near the corpus budget (sum of weights = 1).
    val outTotal = out.length.toLong
    assert(math.abs(outTotal - total) <= 0.1 * total,
      s"resampled corpus $outTotal drifted from budget $total")
  }
}