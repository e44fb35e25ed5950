package graft.operators

import graft.{JobCounter, SparkEntry, SparkSpec}
import graft.observability.MetricsSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the [[graft.internal.SessionMemo]] contracts the ad-hoc
  * per-session caches did not have: a table rewritten UNDER a fixed
  * path invalidates the memo naturally (file-listing fingerprint in
  * the key — no reliance on the opt-out conf), and memo builds are
  * attributed to their own op labels in the metrics sink so a bench
  * can separate the shared-chain build from its first consumer.
  */
class SessionMemoSpec extends SparkSpec {

  private def canonEq(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def withCachesOff(body: => Unit): Unit = {
    spark.conf.set("spark.graft.memo.enabled", "false")
    try body finally spark.conf.unset("spark.graft.memo.enabled")
  }

  test("the CC-labels memo is output-invariant (q_dedup_canonical cached == uncached)") {
    val cached = SparkEntry.queries("q_dedup_canonical")(spark, Sf).localCheckpoint(true)
    withCachesOff {
      assert(canonEq(cached, SparkEntry.queries("q_dedup_canonical")(spark, Sf)),
        "CC-memo on/off must be bit-identical — it is a work reduction, not semantics")
    }
  }

  test("the IVF-codebook memo is output-invariant (q_decontaminate_semantic cached == uncached)") {
    val cached = SparkEntry.queries("q_decontaminate_semantic")(spark, Sf).localCheckpoint(true)
    withCachesOff {
      assert(canonEq(cached, SparkEntry.queries("q_decontaminate_semantic")(spark, Sf)),
        "IVF-codebook memo on/off must be bit-identical — it is a work reduction, not semantics")
    }
  }

  test("the merge memo is output-invariant (q_bpe_fertility cached == uncached)") {
    val cached = SparkEntry.queries("q_bpe_fertility")(spark, Sf).localCheckpoint(true)
    withCachesOff {
      assert(canonEq(cached, SparkEntry.queries("q_bpe_fertility")(spark, Sf)),
        "merge-memo on/off must be bit-identical — it is a work reduction, not semantics")
    }
  }

  test("the pair-census + anchor-pairs memos are output-invariant (both pair queries cached == uncached)") {
    val hn = SparkEntry.queries("q_hard_negatives")(spark, Sf).localCheckpoint(true)
    val cp = SparkEntry.queries("q_contrastive_pairs")(spark, Sf).localCheckpoint(true)
    withCachesOff {
      assert(canonEq(hn, SparkEntry.queries("q_hard_negatives")(spark, Sf)),
        "census/anchor memos on/off must be bit-identical — work reduction, not semantics")
      assert(canonEq(cp, SparkEntry.queries("q_contrastive_pairs")(spark, Sf)),
        "census/anchor memos on/off must be bit-identical — work reduction, not semantics")
    }
  }

  test("a mid-session guard flip is never served the other decision's anchor frame") {
    // With the anchor memo ON, a stored exact-mode frame must NOT be
    // returned once the session's guard verdict flips to routed (and
    // vice versa) — the decision is stored with the frame and a
    // mismatch rebuilds un-memoized.
    // Populate the memo with the exact-mode frame first.
    SparkEntry.queries("q_hard_negatives")(spark, Sf).localCheckpoint(true): Unit
    spark.conf.set("spark.graft.pair.guard.maxPairs", "0") // force route
    try {
      val routedCachedOn = SparkEntry.queries("q_hard_negatives")(spark, Sf).localCheckpoint(true)
      withCachesOff {
        assert(canonEq(routedCachedOn, SparkEntry.queries("q_hard_negatives")(spark, Sf)),
          "post-flip cached-on output must equal the uncached routed output")
      }
    } finally spark.conf.unset("spark.graft.pair.guard.maxPairs")
  }

  test("a guard flip recovers: each verdict's anchor frame is built once, then served") {
    // One anchor-pair slot per guard verdict in the signature state: a
    // flip to routed builds the routed frame once, a second routed call
    // reuses it, and a flip back is served the exact frame built before
    // the flip. Jobs are counted while the query is CONSTRUCTED (no
    // action runs); every construction also loads its two tables, so
    // their reads are measured separately and subtracted. A fresh table
    // copy keeps earlier specs from having filled either slot.
    val dir = java.nio.file.Files.createTempDirectory("memoflip").toString
    graft.io.Tables.documents(spark, Sf).write.parquet(s"$dir/documents.parquet")
    graft.io.Tables.embeddings(spark, Sf).write.parquet(s"$dir/embeddings.parquet")
    val jobs = new JobCounter
    def construct(): Unit = SparkEntry.queries("q_hard_negatives")(spark, dir): Unit
    spark.sparkContext.addSparkListener(jobs)
    try {
      construct() // exact verdict: signature state, census, exact slot
      val reads = jobs.during {
        graft.io.Tables.documents(spark, dir); graft.io.Tables.embeddings(spark, dir): Unit
      }
      spark.conf.set(PairGuard.MaxPairsConf, "0") // force route
      try {
        val firstRouted = jobs.during(construct())
        assert(firstRouted > reads, s"the first routed call must build its slot ($firstRouted jobs, reads $reads)")
        val secondRouted = jobs.during(construct())
        assert(secondRouted == reads,
          s"a second routed call must reuse the routed slot: ${secondRouted - reads} jobs beyond the schema reads")
      } finally spark.conf.unset(PairGuard.MaxPairsConf)
      val exactAgain = jobs.during(construct())
      assert(exactAgain == reads,
        s"a flip back must be served the exact slot: ${exactAgain - reads} jobs beyond the schema reads")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("a calibration leg built after the LSH leg reuses its census: no pair_guard_census job") {
    // q_dedup_minhash_lsh prices the bucket census inside the table's
    // signature state; q_minhash_estimate prices the same number (same
    // kernel, docs and null filter), so it must read that census rather
    // than launch its own. Jobs are counted while the query is
    // CONSTRUCTED (no action runs); the read of the documents table is
    // measured separately. A fresh table copy keeps
    // earlier specs from having filled the state.
    val dir = java.nio.file.Files.createTempDirectory("memocensus").toString
    graft.io.Tables.documents(spark, Sf).write.parquet(s"$dir/documents.parquet")
    val jobs = new JobCounter
    def construct(name: String): Unit = SparkEntry.queries(name)(spark, dir): Unit
    val sink = new MetricsSink
    spark.sparkContext.addSparkListener(jobs)
    try {
      construct("q_dedup_minhash_lsh") // signature state + its census
      val reads = jobs.during(graft.io.Tables.documents(spark, dir): Unit)
      spark.listenerManager.register(sink)
      jobs.during(construct("q_minhash_estimate")): Unit // builds the (sv, sh) frame
      assert(sink.snapshot().exists(_.op == "sigset_cache_build"),
        "the calibration frame build must surface under its own label")
      assert(!sink.snapshot().exists(_.op == "pair_guard_census"),
        "q_minhash_estimate re-ran the bucket census the signature state already holds")
      // Warm, the leg launches nothing but (at most) its schema read.
      val again = jobs.during(construct("q_minhash_estimate"))
      assert(again <= reads,
        s"a warm q_minhash_estimate construction launched $again jobs (schema reads: $reads)")
      assert(!sink.snapshot().exists(_.op == "pair_guard_census"))
    } finally {
      spark.listenerManager.unregister(sink)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("rewriting the table under a fixed path invalidates the memos (cache stays ON)") {
    val dir = java.nio.file.Files.createTempDirectory("memomut").toString
    val docs = graft.io.Tables.documents(spark, Sf)
    // v1 = the full corpus; v2 = a genuinely different corpus under the
    // SAME path (half the docs dropped — changes the LM model, the LM
    // scores, and the LSH pair list).
    docs.write.parquet(s"$dir/documents.parquet")
    val sig1 = SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir).localCheckpoint(true)
    val lm1 = SparkEntry.queries("q_lm_quality")(spark, dir).localCheckpoint(true)
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sig2 = SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir)
    val lm2 = SparkEntry.queries("q_lm_quality")(spark, dir)
    // Fresh results, not the memoized v1 frames:
    assert(!canonEq(sig2, sig1), "sig memo served stale results after a table rewrite")
    assert(!canonEq(lm2, lm1), "LM memo served stale results after a table rewrite")
    // And exactly what a cache-off (always-rebuild) run computes on v2:
    withCachesOff {
      assert(canonEq(sig2, SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir)),
        "post-rewrite sig results must match the uncached computation")
      assert(canonEq(lm2, SparkEntry.queries("q_lm_quality")(spark, dir)),
        "post-rewrite LM results must match the uncached computation")
    }
  }

  test("q_ann_pruned's cell layout: written once per table state into the session's scratch") {
    val dir = java.nio.file.Files.createTempDirectory("memoann").toString
    val emb = graft.io.Tables.embeddings(spark, Sf)
    emb.write.parquet(s"$dir/embeddings.parquet")
    def pruned() = SparkEntry.queries("q_ann_pruned")(spark, dir)
    def bucket() = SparkEntry.queries("q_ann_bucket")(spark, dir).collect().toSeq
    val scratch = new org.apache.hadoop.fs.Path(graft.internal.Scratch.path(spark, "q_ann_pruned"))
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def layouts() = if (fs.exists(scratch)) fs.listStatus(scratch).length else 0
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    val v1 = try {
      val v1 = pruned().collect().toSeq
      assert(v1 == bucket())
      // Warm: the query-vector lookup is the only job left.
      val warm = jobs.during(pruned(): Unit)
      assert(warm <= 1, s"a warm q_ann_pruned build launched $warm jobs")
      v1
    } finally spark.sparkContext.removeSparkListener(jobs)
    assert(pruned().inputFiles.forall(_.contains(scratch.toUri.getPath)),
      "the layout must live under the session's scratch directory")
    // A rewrite without v1's neighbours misses the memo and follows the data.
    val before = layouts()
    emb.filter(col("vec_id") === 0 || !col("vec_id").isin(v1.map(_.getLong(0)): _*))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val v2 = pruned().collect().toSeq
    assert(v2 != v1 && v2 == bucket(), s"stale layout served after a rewrite: $v2")
    assert(layouts() == before + 1)
    // Memos off: a fresh layout on every call.
    withCachesOff {
      assert(pruned().collect().toSeq == v2 && pruned().collect().toSeq == v2)
    }
    assert(layouts() == before + 3)
  }

  test("a same-length same-mtime byte rewrite still misses (content-sample fingerprint)") {
    // The (name, length, mtime) listing alone aliases an in-place
    // rewrite that keeps file sizes and lands within the filesystem's
    // mtime granularity — the memo would serve the stale frame. The
    // fingerprint's head/tail content sample must break the alias.
    val dir = java.nio.file.Files.createTempDirectory("memoswap")
    val f = dir.resolve("part-00000.bin").toFile
    def write(bytes: Array[Byte]): Unit = {
      val out = new java.io.FileOutputStream(f)
      try out.write(bytes) finally out.close()
      // Force the SAME mtime for every version — the worst case the
      // fingerprint must survive.
      assert(f.setLastModified(1700000000000L))
    }
    val v1 = Array.tabulate[Byte](256)(_.toByte)
    val v2 = v1.clone(); v2(250) = (v2(250) ^ 0x7f).toByte // tail sample range
    val v3 = v1.clone(); v3(3) = (v3(3) ^ 0x7f).toByte     // head sample range
    val memo = new graft.internal.SessionMemo[String]("swap_memo_build")
    var builds = 0
    def get(): String = memo.getOrBuild(spark, dir.toString) { builds += 1; s"build$builds" }
    write(v1)
    assert(get() == "build1" && get() == "build1", "unchanged file must hit")
    write(v2)
    assert(get() == "build2", "tail byte swap (same length, same mtime) must miss")
    write(v3)
    assert(get() == "build3", "head byte swap (same length, same mtime) must miss")
    // and back to stable: the new state hits
    assert(get() == "build3")
  }

  test("fingerprint I/O is bounded on a many-file table, and still invalidates") {
    // The structural cap (verdict r13 #1): content is sampled for at
    // most the first/last SampleFiles files in path order, so a
    // many-hundred-part table on an object store pays a CONSTANT
    // number of GETs per fingerprint — while (name, length, mtime)
    // stays folded for every file, so any metadata change anywhere
    // still misses.
    val dir = java.nio.file.Files.createTempDirectory("memobound")
    val n = 40
    def write(i: Int, bytes: Array[Byte], mtime: Long = 1700000000000L): Unit = {
      val f = dir.resolve(f"part-$i%05d.bin").toFile
      val out = new java.io.FileOutputStream(f)
      try out.write(bytes) finally out.close()
      assert(f.setLastModified(mtime))
    }
    (0 until n).foreach(i => write(i, Array.tabulate[Byte](128)(b => (b + i).toByte)))
    val memo = new graft.internal.SessionMemo[String]("bound_memo_build")
    var builds = 0
    // Read through `flaky://`, whose open counter shows the file opens
    // of one fingerprint pass.
    graft.storage.FlakyFs.register(spark.sparkContext.hadoopConfiguration)
    def get(): String = memo.getOrBuild(spark, s"flaky://$dir") { builds += 1; s"build$builds" }
    assert(get() == "build1", "first read builds")
    val cap = 2 * graft.internal.SessionMemo.SampleFiles
    graft.storage.FlakyFs.locked {
      graft.storage.FlakyFs.countOpensOf = dir.toString
      assert(get() == "build1", "unchanged table must hit")
      val opened = graft.storage.FlakyFs.opens.get
      assert(opened <= cap, s"fingerprint opened $opened of $n files — cap is $cap")
      assert(opened == cap, "with more files than the cap, exactly the cap should be sampled")
    }
    // Content change in a SAMPLED file (first in path order), same
    // length + mtime: must miss.
    val head0 = Array.tabulate[Byte](128)(b => b.toByte); head0(3) = 0x7f
    write(0, head0)
    assert(get() == "build2", "head-file byte swap must invalidate")
    // Content change in a sampled TAIL file: must miss.
    val tailB = Array.tabulate[Byte](128)(b => (b + n - 1).toByte); tailB(120) = 0x7f
    write(n - 1, tailB)
    assert(get() == "build3", "tail-file byte swap must invalidate")
    // A LENGTH change in an unsampled middle file still misses
    // (metadata is folded for every file — only the content sample is
    // capped).
    write(n / 2, Array.tabulate[Byte](129)(b => (b + n / 2).toByte))
    assert(get() == "build4", "middle-file length change must invalidate")
    // An mtime change in an unsampled middle file still misses.
    write(n / 2, Array.tabulate[Byte](129)(b => (b + n / 2).toByte), mtime = 1700000001000L)
    assert(get() == "build5", "middle-file mtime change must invalidate")
    // Steady state hits again.
    assert(get() == "build5")
  }

  test("a (len, mtime) exchange between same-named files in different dirs still misses") {
    // The fingerprint's per-file metadata folds through an
    // ORDER-INDEPENDENT (commutative) combine. Partitioned tables
    // repeat basenames across partition dirs (p=1/part-00000,
    // p=2/part-00000) — if the per-file sub-hash keyed on the basename
    // alone, two unsampled middle files could EXCHANGE lengths (and
    // contents) without moving the multiset, aliasing a real rewrite
    // to the same key. The sub-hash keys on the full path to keep the
    // permutation distinct.
    val dir = java.nio.file.Files.createTempDirectory("memoswapdirs")
    val n = 40
    def write(i: Int, len: Int): Unit = {
      val sub = dir.resolve(f"d$i%02d")
      java.nio.file.Files.createDirectories(sub)
      val f = sub.resolve("part-00000.bin").toFile
      val out = new java.io.FileOutputStream(f)
      try out.write(Array.tabulate[Byte](len)(b => (b + i).toByte)) finally out.close()
      assert(f.setLastModified(1700000000000L))
    }
    (0 until n).foreach(i => write(i, 100 + i))
    val memo = new graft.internal.SessionMemo[String]("swap_dirs_memo_build")
    var builds = 0
    def get(): String = memo.getOrBuild(spark, dir.toString) { builds += 1; s"build$builds" }
    assert(get() == "build1" && get() == "build1", "unchanged table must hit")
    // d18 and d19 sit in the unsampled middle of the 40-file path
    // order (head = d00..d15, tail = d24..d39). Exchange their
    // lengths: same basenames, same count, same mtimes, permuted
    // (len, mtime) multiset per basename.
    write(18, 100 + 19)
    write(19, 100 + 18)
    assert(get() == "build2",
      "length exchange between same-named middle files must invalidate the memo")
    assert(get() == "build2")
  }

  test("a (len, mtime) exchange between hashCode-colliding paths still misses") {
    // The sub-hash folds the path's BYTES, not String.hashCode. "Aa"
    // and "BB" have equal 32-bit Java hashes, and String hashing is
    // positional-polynomial, so two full paths differing only in such
    // a segment collide too — a hashCode-keyed sub-hash would let the
    // two files exchange (len, mtime) without moving the commutative
    // multiset, re-opening the exact aliasing class the full-path
    // keying closed.
    val dir = java.nio.file.Files.createTempDirectory("memohashcoll")
    def write(sub: String, len: Int): Unit = {
      val d = dir.resolve(sub)
      java.nio.file.Files.createDirectories(d)
      val f = d.resolve("part-00000.bin").toFile
      val out = new java.io.FileOutputStream(f)
      try out.write(Array.tabulate[Byte](len)(b => (b + len).toByte)) finally out.close()
      assert(f.setLastModified(1700000000000L))
    }
    // 16 head dirs (A00..A15) and 16 tail dirs (C00..C15) pin the
    // content-sample windows; "Aa" and "BB" sort between them, so the
    // colliding pair is UNSAMPLED — only the metadata multiset can
    // catch the exchange.
    (0 until 16).foreach(i => write(f"A$i%02d", 100 + i))
    (0 until 16).foreach(i => write(f"C$i%02d", 200 + i))
    write("Aa", 150)
    write("BB", 151)
    val aPath = dir.resolve("Aa").resolve("part-00000.bin").toString
    val bPath = dir.resolve("BB").resolve("part-00000.bin").toString
    assert(aPath.hashCode == bPath.hashCode,
      "test premise: the two full paths must hashCode-collide")
    val memo = new graft.internal.SessionMemo[String]("hash_coll_memo_build")
    var builds = 0
    def get(): String = memo.getOrBuild(spark, dir.toString) { builds += 1; s"build$builds" }
    assert(get() == "build1" && get() == "build1", "unchanged table must hit")
    write("Aa", 151)
    write("BB", 150)
    assert(get() == "build2",
      "length exchange between hashCode-colliding paths must invalidate the memo")
    assert(get() == "build2")
  }

  test("a rename-only move (same bytes, len, mtime; different dir) still misses") {
    // The last unpinned edge of the full-path sub-hash: a file whose
    // CONTENT, length, and mtime are untouched but whose path moved
    // between partition dirs. The path is part of the sub-hash, so the
    // metadata multiset moves and the memo must invalidate.
    val dir = java.nio.file.Files.createTempDirectory("memorenameonly")
    val n = 40
    def dirOf(i: Int) = dir.resolve(f"d$i%02d")
    def write(i: Int): Unit = {
      java.nio.file.Files.createDirectories(dirOf(i))
      val f = dirOf(i).resolve("part-00000.bin").toFile
      val out = new java.io.FileOutputStream(f)
      try out.write(Array.tabulate[Byte](100 + i)(b => (b + i).toByte)) finally out.close()
      assert(f.setLastModified(1700000000000L))
    }
    (0 until n).foreach(write)
    val memo = new graft.internal.SessionMemo[String]("rename_only_memo_build")
    var builds = 0
    def get(): String = memo.getOrBuild(spark, dir.toString) { builds += 1; s"build$builds" }
    assert(get() == "build1" && get() == "build1", "unchanged table must hit")
    // Move d18's file into a NEW middle dir (d18x sorts between d18
    // and d19 — still unsampled): same basename, bytes, length, and a
    // re-pinned identical mtime. Only the path changed.
    val src = dirOf(18).resolve("part-00000.bin")
    val dstDir = dir.resolve("d18x")
    java.nio.file.Files.createDirectories(dstDir)
    val dst = dstDir.resolve("part-00000.bin")
    java.nio.file.Files.move(src, dst)
    java.nio.file.Files.delete(dirOf(18))
    assert(dst.toFile.setLastModified(1700000000000L))
    assert(get() == "build2",
      "a rename-only move between partition dirs must invalidate the memo")
    assert(get() == "build2")
  }

  test("memo builds surface as their own labeled ops in the metrics sink") {
    val dir = java.nio.file.Files.createTempDirectory("memolabel").toString
    graft.io.Tables.documents(spark, Sf).write.parquet(s"$dir/documents.parquet")
    graft.io.Tables.embeddings(spark, Sf).write.parquet(s"$dir/embeddings.parquet")
    val sink = new MetricsSink
    spark.listenerManager.register(sink)
    try {
      // Fresh dir ⇒ guaranteed cache misses ⇒ one labeled build each.
      SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir).collect()
      SparkEntry.queries("q_lm_quality")(spark, dir).collect()
      SparkEntry.queries("q_token_budget_bpe")(spark, dir).collect()
      SparkEntry.queries("q_dedup_cluster_hist")(spark, dir).collect()
      SparkEntry.queries("q_decontaminate_semantic")(spark, dir).collect()
      val builds = Seq("sig_cache_build", "lm_score_cache_build",
        "lm_bigram_cache_build", "bpe_merges_build", "cc_labels_build",
        "ivf_codebook_build")
      val deadline = System.nanoTime() + 10000000000L
      def count(op: String) = sink.snapshot().count(_.op == op)
      while (builds.exists(count(_) < 1) && System.nanoTime() < deadline)
        Thread.sleep(50)
      for (op <- builds) {
        val rec = sink.snapshot().find(_.op == op)
        assert(rec.nonEmpty, s"memo build must be attributed to `$op`")
        assert(rec.get.status == "ok")
      }
      // Second consumers hit the memos — no second build op:
      sink.clear()
      SparkEntry.queries("q_consolidate_merge")(spark, dir).collect()
      SparkEntry.queries("q_ppl_buckets")(spark, dir).collect()
      SparkEntry.queries("q_bpe_fertility")(spark, dir).collect()
      SparkEntry.queries("q_decontaminate_semantic")(spark, dir).collect()
      assert(sink.snapshot().count(r =>
        r.op.endsWith("_cache_build") || r.op.endsWith("_build")) == 0,
        "a memo hit must not rebuild (and must not re-emit the build op)")
    } finally spark.listenerManager.unregister(sink)
  }
}
