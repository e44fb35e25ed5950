package graft.storage

import java.sql.Timestamp

import graft.SparkSpec
import graft.workflow.Checkpoint
import org.apache.hadoop.fs.{Path => HPath}

/** Per-run partitioned checkpoint storage: a run's state lives in its
  * own versioned sub-table, so run-scoped reads touch one partition and
  * cleanupCheckpoints rewrites one partition — pinned here at the
  * FILESYSTEM level, not just through result equality. A store written
  * before the per-run layout (`CheckpointFixtures.writeLegacy`) keeps
  * its rows in the root table, which reads, cleanups and maintenance
  * serve alongside the partitions.
  */
class CheckpointPartitionSpec extends SparkSpec {

  import CheckpointFixtures.ck

  private def freshStore(tag: String): (MemoryStore, String) = {
    val root = s"$suiteTempDir/$tag"
    (new MemoryStore(spark, root), root)
  }

  private def listing(root: String, sub: String): Set[String] = {
    val dir = new HPath(s"$root/${MemoryType.Checkpoints}/$sub")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(st =>
      s"${st.getPath.getName}:${st.getModificationTime}").toSet
  }

  test("a run-scoped read plans files from that run's partition only") {
    val (store, _) = freshStore("read")
    store.saveCheckpoints(Seq(
      ck("a1", "runA", "b0", 1), ck("a2", "runA", "b0", 2),
      ck("b1", "runB", "b0", 1)))
    val one = store.checkpoints(Some("runA"))
    assert(one.count() == 2L)
    val files = one.toDF().inputFiles
    assert(files.nonEmpty && files.forall(_.contains("runId=runA")),
      s"run-scoped read escaped its partition:\n${files.mkString("\n")}")
  }

  test("cleanupCheckpoints rewrites the completed run's partition and no other") {
    val (store, root) = freshStore("cleanup")
    store.saveCheckpoints(Seq(
      ck("a1", "runA", "b0", 1), ck("a2", "runA", "b0", 2),
      ck("a3", "runA", "b0", 3), ck("a4", "runA", "b1", 4),
      ck("b1", "runB", "b0", 1), ck("b2", "runB", "b0", 2)))
    val beforeB = listing(root, "runId=runB")
    assert(beforeB.nonEmpty, "runB partition missing before cleanup")
    val deleted = store.cleanupCheckpoints("runA", keepLatest = 1)
    assert(deleted == 2L, s"expected the two over-quota runA rows, got $deleted")
    // runA survivors: latest per branch
    val left = store.checkpoints(Some("runA")).collect().map(_.id).sorted
    assert(left.toSeq == Seq("a3", "a4"), s"wrong survivors: ${left.mkString(",")}")
    // runB's partition: same snapshot dirs, same mtimes — never read,
    // never rewritten.
    assert(listing(root, "runId=runB") == beforeB,
      "cleanup touched an unrelated run's partition")
    assert(store.checkpoints(Some("runB")).count() == 2L)
    // the cross-run union still sees everything
    assert(store.checkpoints().count() == 4L)
  }

  private def writeLegacy(root: String, rows: Seq[Checkpoint],
      snapName: String = "snap_000001_deadbeef"): String =
    CheckpointFixtures.writeLegacy(spark, root, rows, snapName)

  /** Every file and directory under `root`, with its modification time. */
  private def tree(root: String): Set[String] = {
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: HPath): Seq[String] = fs.listStatus(p).toSeq.flatMap { st =>
      s"${st.getPath}:${st.getModificationTime}" +:
        (if (st.isDirectory) walk(st.getPath) else Nil)
    }
    walk(new HPath(root)).toSet
  }

  private def ids(ds: org.apache.spark.sql.Dataset[Checkpoint]): Seq[String] =
    ds.collect().map(_.id).sorted.toSeq

  test("a root-table store: reads see every row and write nothing; new saves land in the run's partition") {
    val (store, root) = freshStore("legacy")
    val ckRoot = writeLegacy(root, Seq(
      ck("a1", "runA", "b0", 1), ck("a2", "runA", "b0", 2),
      ck("b1", "runB", "b0", 1)))
    store.saveCheckpoints(Seq(ck("c1", "runC", "b0", 1)))
    // Cross-run and run-scoped reads see the root table's rows — not a
    // silently-empty table (this IS the crash-recovery path) ...
    val before = tree(root)
    assert(ids(store.checkpoints()) == Seq("a1", "a2", "b1", "c1"))
    assert(ids(store.checkpoints(Some("runA"))) == Seq("a1", "a2"))
    assert(ids(store.checkpoints(Some("runC"))) == Seq("c1"))
    // ... WITHOUT writing anything: no file or directory was created,
    // renamed or deleted (a consumer with read-only access must not fail).
    assert(tree(root) == before, "a pure read changed the store on disk")
    // A later save lands in the run's partition; the root table keeps its
    // snapshot, and every id reads exactly once.
    val rootSnap = tree(s"$ckRoot/snap_000001_deadbeef")
    store.saveCheckpoints(Seq(ck("a3", "runA", "b0", 3)))
    assert(ids(store.checkpoints(Some("runA"))) == Seq("a1", "a2", "a3"))
    assert(ids(store.checkpoints()) == Seq("a1", "a2", "a3", "b1", "c1"))
    assert(tree(s"$ckRoot/snap_000001_deadbeef") == rootSnap, "a save rewrote the root table")
    val part = new HPath(s"$ckRoot/runId=runA")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new HPath(part, "_CURRENT"))
    val partSnap = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    assert(spark.read.parquet(s"$part/$partSnap").select("id").collect().map(_.getString(0)).toSeq
      == Seq("a3"), "the new row is not (only) in its run's partition")
  }

  test("cleanupCheckpoints ranks root-table and partition rows together and retires an emptied root table") {
    val (store, root) = freshStore("rootclean")
    val ckRoot = writeLegacy(root, Seq(
      ck("a1", "runA", "b0", 1), ck("a2", "runA", "b0", 2),
      ck("b1", "runB", "b0", 1)))
    store.saveCheckpoints(Seq(
      ck("a3", "runA", "b0", 3), ck("a4", "runA", "b0", 4),
      ck("b2", "runB", "b0", 2)))
    val beforeB = listing(root, "runId=runB")
    // runA's over-quota rows live in both tables: a1, a2 (root), a3.
    assert(store.cleanupCheckpoints("runA", keepLatest = 1) == 3L)
    assert(ids(store.checkpoints(Some("runA"))) == Seq("a4"))
    assert(ids(store.checkpoints()) == Seq("a4", "b1", "b2"))
    assert(listing(root, "runId=runB") == beforeB, "cleanup touched an unrelated run's partition")
    // Re-running is a no-op: the doomed set is recomputed from what is live.
    assert(store.cleanupCheckpoints("runA", keepLatest = 1) == 0L)
    // runB's cleanup deletes the root table's last row: the root table
    // is retired and the store is purely per-run.
    val beforeA = listing(root, "runId=runA")
    assert(store.cleanupCheckpoints("runB", keepLatest = 1) == 1L)
    val fs = new HPath(ckRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new HPath(ckRoot)).map(_.getPath.getName).toSet
    assert(left == Set("runId=runA", "runId=runB"), s"root table not retired: $left")
    assert(listing(root, "runId=runA") == beforeA, "cleanup touched an unrelated run's partition")
    assert(ids(store.checkpoints()) == Seq("a4", "b2"))
  }

  test("legacy null-runId rows are quarantined readable, not a permanent brick") {
    val (store, root) = freshStore("nulllegacy")
    writeLegacy(root, Seq(ck("x1", null, "b0", 1), ck("a1", "runA", "b0", 1)))
    store.saveCheckpoints(Seq(ck("a2", "runA", "b0", 2)))
    // The bad row bricks nothing: cross-run scans surface it with its
    // null runId, run-scoped reads never see it.
    val all = store.checkpoints().collect()
    assert(all.map(_.id).sorted.toSeq == Seq("a1", "a2", "x1"))
    assert(all.find(_.id == "x1").get.runId == null, "the root row's runId must stay null")
    assert(ids(store.checkpoints(Some("runA"))) == Seq("a1", "a2"))
    // A cleanup rewriting the root table keeps it.
    assert(store.cleanupCheckpoints("runA", keepLatest = 1) == 1L)
    assert(ids(store.checkpoints()) == Seq("a2", "x1"))
    // New writes still reject null runIds loudly.
    val e = intercept[IllegalArgumentException] {
      store.appendRows(spark.createDataset(Seq(ck("x2", null, "b0", 2)))(MemoryStore.CheckpointEncoder).toDF(),
        MemoryType.Checkpoints)
    }
    assert(e.getMessage.contains("runId"))
  }

  test("a transient root listing failure fails that read only") {
    FlakyFs.register(spark.sparkContext.hadoopConfiguration)
    val base = s"$suiteTempDir/flakylist"
    val root = s"flaky://$base"
    writeLegacy(root, Seq(
      ck("a1", "runA", "b0", 1), ck("a2", "runA", "b0", 2),
      ck("b1", "runB", "b0", 1)))
    val store = new MemoryStore(spark, root)
    FlakyFs.locked {
      // One listing of the checkpoints root answers which tables exist;
      // while it fails, the read fails rather than finding none (an empty
      // read would say "no resume point").
      FlakyFs.failListOf = s"$base/${MemoryType.Checkpoints}"
      intercept[java.io.IOException] { store.checkpoints() }
      // Nothing about the failure is remembered: the next fault-free
      // read on the same store sees every root row.
      FlakyFs.clear()
      assert(ids(store.checkpoints()) == Seq("a1", "a2", "b1"))
    }
  }

  test("vacuum and compact on checkpoints cover the root table and every partition") {
    import spark.implicits._
    val (store, root) = freshStore("rootmaint")
    val ckRoot = writeLegacy(root, Seq(
      ck("a1", "runA", "b0", 1), ck("a2", "runA", "b0", 2),
      ck("b1", "runB", "b0", 1)).toList, "snap_000002_deadbeef")
    (1 to 3).foreach(i => store.saveCheckpoints(Seq(ck(s"c$i", "runC", "b0", i.toLong))))
    // Unreferenced snapshots below each table's current version: a
    // superseded root snapshot and an aborted partition write.
    val stale = Seq(s"$ckRoot/snap_000001_cafe0000", s"$ckRoot/runId=runC/snap_000000_cafe0000")
    stale.foreach(d => Seq(ck("z1", "runZ", "b0", 1)).toDS().toDF().write.parquet(d))
    val fs = new HPath(ckRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    store.vacuum(MemoryType.Checkpoints)
    stale.foreach(d => assert(!fs.exists(new HPath(d)), s"vacuum left $d"))
    assert(fs.exists(new HPath(s"$ckRoot/snap_000002_deadbeef")), "vacuum removed the live root snapshot")
    assert(ids(store.checkpoints()) == Seq("a1", "a2", "b1", "c1", "c2", "c3"))
    // Both tables hold several files; one compaction pass leaves one each.
    val before = store.compact(MemoryType.Checkpoints, minFiles = 2, targetPartitions = 1)
    assert(before >= 6L, s"expected both tables' files counted, got $before")
    assert(store.compact(MemoryType.Checkpoints, minFiles = 2, targetPartitions = 1) == 2L)
    assert(ids(store.checkpoints()) == Seq("a1", "a2", "b1", "c1", "c2", "c3"))
  }

  test("checkpoint rows with a null runId are rejected loudly, not NPE'd") {
    val (store, _) = freshStore("nullrun")
    val sch = org.apache.spark.sql.types.StructType(
      store.checkpoints().toDF().schema.map(_.copy(nullable = true)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        "x1", null, "node", "b0", 1L, null, "{}",
        new Timestamp(1700000000000L))),
      sch)
    val e = intercept[IllegalArgumentException] {
      store.appendRows(df, MemoryType.Checkpoints)
    }
    assert(e.getMessage.contains("runId"))
  }

  test("compact(checkpoints) compacts every run partition instead of root-level no-op") {
    val (store, _) = freshStore("compact")
    // 20 single-row appends ⇒ ≥ 20 files in runA's partition — the
    // append-per-step fragmentation pattern compaction exists for.
    (1 to 20).foreach(i => store.saveCheckpoints(Seq(ck(s"a$i", "runA", "b0", i.toLong))))
    store.saveCheckpoints(Seq(ck("b1", "runB", "b0", 1)))
    val before = store.compact(MemoryType.Checkpoints, minFiles = 16, targetPartitions = 1)
    assert(before >= 20L, s"expected the fragmented partition's files counted, got $before")
    // rows intact, and the rewritten partition is actually few files now
    assert(store.checkpoints().count() == 21L)
    val after = store.compact(MemoryType.Checkpoints, minFiles = 16, targetPartitions = 1)
    assert(after < before, s"compaction did not reduce files: $before -> $after")
    assert(store.checkpoints(Some("runA")).count() == 20L)
  }

  test("runIds with path-hostile characters round-trip through encoding") {
    val (store, _) = freshStore("enc")
    val weird = "run/α β?=#1"
    store.saveCheckpoints(Seq(ck("w1", weird, "b0", 1)))
    val got = store.checkpoints(Some(weird)).collect()
    assert(got.length == 1 && got.head.runId == weird)
    assert(store.checkpoints().count() == 1L)
    assert(store.cleanupCheckpoints(weird, keepLatest = 1) == 0L)
  }
}
