package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.io.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic invariants + plan shapes for the corpus-curation pack
  * (LM quality scoring, incremental dedup, quantized kNN, seeded
  * shard order). The oracle gate checks values at sf0.01; these tests
  * pin the SEMANTICS (incremental ≡ restricted full dedup, recall
  * bounds, contiguous shard positions) and the scale-critical plan
  * shapes (bounded broadcasts, no corpus-side shuffle joins).
  */
class CurationSpec extends SparkSpec {

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, Sf)

  private def plan(name: String): String =
    run(name).queryExecution.executedPlan.toString

  // ---------------------------------------------------------- lm quality
  test("lm_quality scores every >=2-token document with n_bigrams = tokens - 1") {
    val out = run("q_lm_quality").collect()
    // Contract: documents with at least one bigram are scored;
    // sub-bigram fragments are the length filters' job, not the LM's.
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), (size(split(col("text"), " ")) - 1).cast("long").as("nb"))
      .filter(col("nb") >= 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == docs.size, "every >=2-token document must be scored")
    out.foreach { r =>
      assert(r.getLong(1) == docs(r.getLong(0)),
        s"doc ${r.getLong(0)}: n_bigrams ${r.getLong(1)} != tokens-1 ${docs(r.getLong(0))}")
      val xent = r.getDouble(2)
      assert(xent > 0.0 && xent < 64.0, s"doc ${r.getLong(0)}: xent $xent out of range")
    }
  }

  test("lm_quality: per-doc cross-entropy stays under the smoothing ceiling") {
    // The most expensive bigram is an unseen pair after the most
    // frequent context word: -log2(1/(max_cu + V)) — every per-doc
    // average sits at or below that ceiling.
    val uni = Tables.documents(spark, Sf).filter(col("lang") === "en")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count()
    val v = uni.count()
    val maxCu = uni.agg(max("count")).head().getLong(0)
    val ceiling = math.log((maxCu + v).toDouble) / math.log(2.0)
    run("q_lm_quality").collect().foreach { r =>
      assert(r.getDouble(2) <= ceiling + 1e-9,
        s"doc ${r.getLong(0)}: xent ${r.getDouble(2)} above log2(V)=$ceiling")
    }
  }

  test("lm_filter keeps exactly the at-or-below-p75 slice of the scored corpus") {
    val scored = run("q_lm_quality").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val kept = run("q_lm_filter").collect()
    val thr = kept.head.getDouble(2)
    assert(kept.forall(_.getDouble(2) == thr), "one global threshold")
    val expected = scored.filter { case (_, x) => x <= thr + 5e-5 }
    assert(kept.length >= (scored.size * 0.70).toInt && kept.length <= (scored.size * 0.80).ceil.toInt,
      s"p75 cut kept ${kept.length} of ${scored.size}")
    kept.foreach { r =>
      assert(r.getDouble(1) <= thr + 5e-5,
        s"doc ${r.getLong(0)}: xent ${r.getDouble(1)} above threshold $thr")
      assert(expected.contains(r.getLong(0)))
    }
  }

  test("approx LM cut stays within the sketch's documented rank bound of the exact cut") {
    val xents = run("q_lm_quality").collect().map(_.getDouble(2)).sorted
    val n = xents.length
    val out = run("q_lm_filter_approx").collect()
    val thrA = out.head.getDouble(2)
    assert(out.forall(_.getDouble(2) == thrA), "one global sketch threshold")
    // approx_percentile returns an order statistic whose rank is within
    // n/accuracy of ceil(0.75 n) — at accuracy 100000 that is < 1 rank
    // for this corpus, but assert the SKETCH'S bound, not exactness.
    val target = math.ceil(0.75 * n).toInt
    val tol = math.max(1, math.ceil(n / 100000.0).toInt)
    // xent values are pre-rounded to 4 decimals, so the sketch result
    // is literally one of them; ties at the threshold legitimately push
    // the <=-count past the target rank.
    val ties = xents.count(_ == thrA)
    val rank = xents.count(_ <= thrA)
    assert(rank >= target - tol && rank <= target + tol + (ties - 1),
      s"sketch threshold $thrA has rank $rank, outside ceil(0.75*$n)=$target ± $tol (+$ties ties)")
    // The kept set may differ from the exact continuous cut only inside
    // the rank-error window (plus interpolation picking up one tie).
    val keptExact = run("q_lm_filter").collect().map(_.getLong(0)).toSet
    val keptApprox = out.map(_.getLong(0)).toSet
    val sym = (keptApprox -- keptExact).size + (keptExact -- keptApprox).size
    assert(sym <= tol + ties,
      s"approx and exact cuts diverge by $sym docs (bound ${tol + ties})")
  }

  // ---------------------------------------------------- incremental dedup
  test("incremental dedup ≡ full MinHash-LSH restricted to batch-touching pairs") {
    val inc = run("q_dedup_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getLong(3)).toMap
    val full = run("q_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val expected = full.flatMap { case ((a, b), n) =>
      (a % 5 == 0, b % 5 == 0) match {
        case (true, true)   => Some((b, a, "batch") -> n) // newer batch doc vs earlier
        case (true, false)  => Some((a, b, "index") -> n)
        case (false, true)  => Some((b, a, "index") -> n)
        case (false, false) => None // corpus-vs-corpus: not re-examined
      }
    }.toMap
    assert(inc == expected,
      s"incremental != restricted full: only-inc=${inc.keySet -- expected.keySet} " +
        s"only-full=${expected.keySet -- inc.keySet}")
  }

  test("incremental dedup broadcasts the batch side; the index never shuffle-joins") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("BroadcastHashJoin"), s"batch side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"index side got shuffle-joined:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("incremental broadcast is gated: hinted for a micro-batch, withheld when oversized") {
    val sigs = TextAnalysisShared.minhashVectors(Tables.documents(spark, Sf), 4)
    val batch = sigs.filter(col("doc_id") % 5 === 0)
    val index = sigs.filter(col("doc_id") % 5 =!= 0)
    // Disable size-based auto-broadcast (planner AND adaptive) so the
    // plans below show exactly what the GATE decided, not what tiny
    // test data would get for free.
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val hinted = Curation.incrementalCandidates(batch, index)
      val hp = hinted.queryExecution.executedPlan.toString
      assert(hp.contains("BroadcastHashJoin"), s"micro-batch regime must broadcast:\n$hp")
      assert(!hp.contains("SortMergeJoin"), s"index side shuffle-joined in hinted regime:\n$hp")
      val unhinted = Curation.incrementalCandidates(batch, index, maxBroadcastSigRows = 0L)
      val up = unhinted.queryExecution.executedPlan.toString
      assert(!up.contains("BroadcastHashJoin"),
        s"oversized batch must NOT be forced executor-resident:\n$up")
      assert(up.contains("SortMergeJoin") || up.contains("ShuffledHashJoin"),
        s"oversized regime should shuffle-join:\n$up")
      // Same answer in both regimes — the gate changes the plan, never
      // the result.
      def key(df: DataFrame) = df.groupBy("doc_new", "doc_other", "origin").count()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getLong(3)).toMap
      assert(key(hinted) == key(unhinted), "gate changed results between regimes")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAdaptive)
    }
  }

  test("a threaded census count makes candidate construction job-free (and changes nothing)") {
    val sigs = TextAnalysisShared.minhashVectors(Tables.documents(spark, Sf), 4)
      .localCheckpoint(true)
    val batch = sigs.filter(col("doc_id") % 5 === 0)
    val index = sigs.filter(col("doc_id") % 5 =!= 0)
    val n = batch.count() * 4
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE materializes each query stage as its own job id (the count's
    // partial+final becomes 2) — off, so the un-threaded leg's job
    // count stays small and predictable. Saved and restored to the
    // PRE-TEST value, not a hard-coded one, so a suite-level conf
    // change can't leak out of this test.
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // The listener bus is async — wait until the count is stable (the
    // AlmaSpec one-job idiom).
    def settled(): Int = {
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = jobs.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      jobs.get()
    }
    try {
      // With the census count threaded through, building the candidate
      // plan launches ZERO jobs — the broadcast decision is a driver
      // compare, not a second pass over the frame the census scanned.
      val threaded = Curation.incrementalCandidates(batch, index,
        knownBatchSigRows = Some(n))
      assert(settled() == 0,
        s"plan construction with a known count must be job-free, saw ${jobs.get()} jobs")
      // Without it, the constructor must pay its count job. (>= 1, not
      // == 1: the threaded leg's ZERO is the real contract; pinning the
      // un-threaded leg to an exact job count is brittle against Spark
      // version drift in job accounting.)
      jobs.set(0)
      val counted = Curation.incrementalCandidates(batch, index)
      assert(settled() >= 1,
        s"un-threaded construction should pay a count job, saw ${jobs.get()}")
      // And the threaded count changes the plan decision only, never
      // the rows.
      def key(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toList
      assert(key(threaded) == key(counted), "threaded count changed results")
    } finally {
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("span dedup matches an independent in-memory recomputation") {
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def spanHash(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15), 16)
    val perDoc = docs.map { case (id, text) =>
      val toks = text.split(" ")
      val spans = if (toks.length < 8) Set.empty[Long]
        else toks.sliding(8).map(w => spanHash(w.mkString(" "))).toSet
      id -> spans
    }.toMap
    val docCount = perDoc.values.toSeq.flatMap(_.toSeq).groupBy(identity).map { case (h, xs) => h -> xs.size }
    val out = run("q_span_dedup").collect()
    assert(out.length == perDoc.count(_._2.nonEmpty))
    out.foreach { r =>
      val spans = perDoc(r.getLong(0))
      val nDup = spans.count(h => docCount(h) >= 2)
      assert(r.getLong(1) == spans.size, s"doc ${r.getLong(0)}: n_spans")
      assert(r.getLong(2) == nDup, s"doc ${r.getLong(0)}: n_dup_spans")
    }
    // Sharing is symmetric: a duplicated span implicates at least two docs.
    val withDup = out.count(_.getLong(2) > 0)
    assert(withDup == 0 || withDup >= 2)
  }

  // ------------------------------------------------------- quantized kNN
  test("quantized kNN: high recall, small sim error, one row per query") {
    val rows = run("q_quantized_knn").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val recall = r.getDouble(1)
      val err = r.getDouble(2)
      assert(recall >= 0.5 && recall <= 1.0,
        s"qid ${r.getLong(0)}: int8 recall@10 $recall implausibly low")
      assert(err >= 0.0 && err < 0.05,
        s"qid ${r.getLong(0)}: mean |sim error| $err too large for 8-bit")
    }
  }

  test("quantized kNN plans the f32 kernel with a bounded broadcast query side") {
    val p = plan("q_quantized_knn")
    assert(p.contains("cosinesimf32"), s"kernel missing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // Runs under spark.sql.codegen.fallback=false (SparkSpec), so the
    // two kernels fused into this projection must actually compile.
    assert(run("q_quantized_knn").collect().nonEmpty)
  }

  test("int8 quantization: cosine error bounded over a seeded random sweep") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    // 200 random 64-dim pairs, fixed seed. Per-component quantization
    // error ≤ scale/2 = max|x|/254; the induced cosine error is
    // O(sqrt(d)/127) — assert a conservative 0.08 envelope plus a much
    // tighter mean, so a quantizer regression (wrong scale, truncation
    // instead of rounding) fails loudly.
    val rnd = new scala.util.Random(42)
    val dim = 64
    def vec() = Array.fill(dim)((rnd.nextDouble() * 20 - 10).toFloat)
    val pairs = Seq.fill(200)((vec(), vec())).toDF("a", "b")
    val errs = pairs
      .select((VectorFunctions.cosine(Curation.quantize(col("a")), Curation.quantize(col("b")))
        - VectorFunctions.cosine(col("a"), col("b"))).as("err"))
      .select(abs(col("err")).as("e")).as[Double].collect()
    assert(errs.max < 0.08, s"worst quantized-cosine error ${errs.max}")
    assert(errs.sum / errs.length < 0.01, s"mean error ${errs.sum / errs.length}")
  }

  test("quantized ANN probes exactly the exact-ANN cell and ranks the query first") {
    val qa = run("q_quantized_ann").collect()
    val exact = run("q_ann_bucket").collect()
    assert(qa.map(_.getLong(1)).toSet == exact.map(_.getLong(1)).toSet,
      "same single probed bucket")
    assert(qa.map(_.getLong(0)).toSet == exact.map(_.getLong(0)).toSet,
      "same cell membership (both are cell-scans + top-5)")
    assert(qa.head.getLong(0) == 0L, "the query vector ranks itself first")
  }

  // ------------------------------------------------------- e2e capstone
  test("pipeline capstone emits a consistent deduped manifest") {
    val rows = run("q_pipeline_e2e").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "each doc at most once")
    val splits = rows.map(_._3).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    val byShare = rows.groupBy(_._3).view.mapValues(_.length.toDouble / rows.length).toMap
    assert(byShare.getOrElse("train", 0.0) > 0.8, s"train share: $byShare")
    rows.groupBy(r => (r._3, r._4)).foreach { case ((split, shard), rs) =>
      assert(shard >= 0 && shard < 8)
      val pos = rs.map(_._5).sorted
      assert(pos.sameElements(1L to rs.length), s"($split,$shard) positions not contiguous")
    }
    // The manifest equals the standalone p75 cut's documents ONLY when
    // the gate drops nothing and no exact dups exist (then
    // trained-on-survivors == trained-on-corpus). Assert those data
    // preconditions first, so corpus drift fails with its real cause
    // instead of looking like a pipeline bug.
    val docs = Tables.documents(spark, Sf)
    val gateDrops = docs.filter(
      size(array_distinct(split(col("text"), " "))).cast("double")
        / size(split(col("text"), " ")) < 0.2).count()
    assert(gateDrops == 0, s"precondition: gate drops $gateDrops docs on this corpus")
    val dupTexts = docs.groupBy(md5(col("text").cast("binary"))).count()
      .filter(col("count") > 1).count()
    assert(dupTexts == 0, s"precondition: $dupTexts duplicate texts on this corpus")
    val lmKept = run("q_lm_filter").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == lmKept)
  }

  test("manifest export lays out (split, shard) directories with in-file training order") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("manifest").toString + "/corpus"
    val n = Curation.exportManifest(spark, Sf, out)
    val manifest = run("q_pipeline_e2e").collect()
    assert(n == manifest.length)
    val splits = manifest.map(_.getString(2)).distinct
    splits.foreach { split =>
      val shards = manifest.filter(_.getString(2) == split).map(_.getLong(3)).distinct
      shards.foreach { shard =>
        val dir = s"$out/split=$split/shard=$shard"
        assert(new java.io.File(dir).isDirectory, s"missing partition dir $dir")
        // File order must equal training order: read WITHOUT sorting.
        val pos = spark.read.parquet(dir).select("pos").as[Long].collect()
        assert(pos.sameElements(pos.sorted), s"$dir not in training order")
        assert(pos.head == 1L && pos.last == pos.length.toLong)
      }
    }
  }

  test("shard reader streams a multi-file cell in training order (byte order == pos)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("manifest-read").toString + "/corpus"
    Curation.exportManifest(spark, Sf, out)
    val manifest = run("q_pipeline_e2e").collect()
    val (split, shard) = manifest.groupBy(r => (r.getString(2), r.getLong(3)))
      .maxBy(_._2.length)._1
    val dir = s"$out/split=$split/shard=$shard"
    val n = spark.read.parquet(dir).count()
    // Graft a SECOND file onto the cell, continuing the training order;
    // its name sorts after the writer's part-00000-* so byte order
    // (files in name order, rows in file order) extends the sequence.
    val tmp2 = java.nio.file.Files.createTempDirectory("manifest-extra").toString + "/extra"
    Seq((900001L, 1.0, n + 1), (900002L, 1.0, n + 2)).toDF("doc_id", "xent", "pos")
      .coalesce(1).sortWithinPartitions("pos").write.parquet(tmp2)
    val src = new java.io.File(tmp2).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      java.nio.file.Paths.get(dir, "part-99999-extra.parquet"))
    val read = Curation.readShard(spark, out, split, shard)
    // The contract consults only file metadata — the payload schema
    // comes back untouched, no metadata or order column leaks.
    assert(read.columns.toSeq == Seq("doc_id", "xent", "pos"))
    val pos = read.select("pos").as[Long].collect()
    assert(pos.sameElements(1L to (n + 2)),
      s"reader order != training order: ${pos.take(5).mkString(",")}… (${pos.length} rows)")
  }

  // --------------------------------------------------------- shard order
  test("shard order covers every doc once with contiguous per-shard positions") {
    val rows = run("q_shard_order").collect()
    val total = Tables.documents(spark, Sf).count()
    assert(rows.length == total)
    assert(rows.map(_.getLong(0)).distinct.length == total, "each doc exactly once")
    rows.groupBy(_.getLong(1)).foreach { case (shard, rs) =>
      assert(shard >= 0 && shard < 8, s"shard $shard out of range")
      val pos = rs.map(_.getLong(2)).sorted
      assert(pos.sameElements(1L to rs.length), s"shard $shard: positions not contiguous")
    }
  }

  test("shard order is a pure function of (seed, doc_id): rerun-identical") {
    val a = run("q_shard_order").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = run("q_shard_order").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sameElements(b))
  }

  test("lm_quality model sides (bigram AND unigram) are bounded and broadcast") {
    // The session-level score cache replaces the chain with a
    // checkpoint scan on reuse; the shape under audit is the UNCACHED
    // scoring plan (what the first consumer — and any cache-off
    // pipeline — executes).
    spark.conf.set("spark.graft.memo.enabled", "false")
    try {
      val p = plan("q_lm_quality")
      val caps = "TakeOrderedAndProject".r.findAllIn(p).length
      assert(caps >= 2, s"both model tables must be top-k capped, found $caps:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"model not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"corpus shuffle-joined against the model:\n$p")
    } finally spark.conf.unset("spark.graft.memo.enabled")
  }

  test("lm score cache: cached consumers reproduce the uncached scores") {
    val cached = run("q_lm_quality").collect()
    spark.conf.set("spark.graft.memo.enabled", "false")
    try {
      val fresh = run("q_lm_quality").collect()
      assert(cached.sameElements(fresh),
        "session score cache must be invisible to results")
    } finally spark.conf.unset("spark.graft.memo.enabled")
  }
}
