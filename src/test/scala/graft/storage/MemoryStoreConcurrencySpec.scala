package graft.storage

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** The storage commit protocol under contention and over time: versioned
  * snapshot directories, the atomic `_CURRENT` marker, bounded retention,
  * and last-writer-wins under two concurrent rewriters (the property the
  * reference gets from SQLite transactions, sqlite_local.py — here it must
  * hold on any Hadoop FileSystem).
  */
class MemoryStoreConcurrencySpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def h(id: String): Heuristic =
    Heuristic(id, "a", "p", "c", "s", 0.9, 1L, 1L, t0, t0, Array.fill(4)(0.5f), Map.empty)

  private def fsOf(dir: String) =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapDirs(dir: String): Seq[String] =
    fsOf(dir).listStatus(new HPath(s"$dir/${MemoryType.Heuristics}"))
      .map(_.getPath.getName).toSeq.filter(_.startsWith("snap_")).sorted

  private def markerTarget(dir: String): String = {
    val fs = fsOf(dir)
    val in = fs.open(new HPath(s"$dir/${MemoryType.Heuristics}/_CURRENT"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  test("rewrites create versioned snapshots, retain the previous two, drop older") {
    val dir = Files.createTempDirectory("store-snap").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("a"))) // snapshot v1
    store.upsertHeuristics(Seq(h("b"))) // v2
    store.upsertHeuristics(Seq(h("c"))) // v3
    store.upsertHeuristics(Seq(h("d"))) // v4 → v1 falls out of retention
    val dirs = snapDirs(dir)
    assert(dirs.map(_.take(11)) == Seq("snap_000002", "snap_000003", "snap_000004"),
      s"retention window wrong: $dirs")
    assert(markerTarget(dir) == dirs.last, s"marker ${markerTarget(dir)} != ${dirs.last}")
    val ids = store.heuristics().toDF().select("id").as[String](Encoders.STRING).collect().toSet
    assert(ids == Set("a", "b", "c", "d"))
  }

  test("an emptying rewrite drops the table; the table comes back on append") {
    val dir = Files.createTempDirectory("store-drop").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("a"), h("b")))
    assert(store.deleteWhere(MemoryType.Heuristics, lit(true)) == 2L)
    assert(!store.exists(MemoryType.Heuristics))
    assert(store.heuristics().count() == 0L)
    assert(snapDirs(dir).isEmpty, s"snapshots survived the drop: ${snapDirs(dir)}")
    store.saveHeuristics(Seq(h("c")))
    assert(store.heuristics().count() == 1L)
  }

  test("a corrupted or missing marker falls back to the highest complete snapshot") {
    val dir = Files.createTempDirectory("store-fallback").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("a"))) // v1
    store.upsertHeuristics(Seq(h("b"))) // v2
    val fs = fsOf(dir)
    val marker = new HPath(s"$dir/${MemoryType.Heuristics}/_CURRENT")

    // Corrupt the marker (a reader catching a half-written flip).
    val out = fs.create(marker, true)
    out.write("garbage not a snapshot name".getBytes("UTF-8")); out.close()
    assert(store.heuristics().toDF().select("id").as[String](Encoders.STRING)
      .collect().toSet == Set("a", "b"), "fallback did not resolve v2")

    // Delete the marker entirely (mid-swap window on delete+rename FS).
    fs.delete(marker, false)
    assert(store.exists(MemoryType.Heuristics))
    assert(store.heuristics().toDF().select("id").as[String](Encoders.STRING)
      .collect().toSet == Set("a", "b"))

    // A later rewrite self-heals: commits v3 and a fresh marker.
    store.upsertHeuristics(Seq(h("c")))
    assert(markerTarget(dir).startsWith("snap_000003_"), markerTarget(dir))
    assert(store.heuristics().count() == 3L)
  }

  test("the fallback ignores snapshot dirs without _SUCCESS (half-written)") {
    val dir = Files.createTempDirectory("store-half").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("a"))) // v1
    val fs = fsOf(dir)
    // Fake an aborted higher-version write: dir exists, no _SUCCESS.
    fs.mkdirs(new HPath(s"$dir/${MemoryType.Heuristics}/snap_000009_deadbeef"))
    fs.delete(new HPath(s"$dir/${MemoryType.Heuristics}/_CURRENT"), false)
    assert(store.heuristics().toDF().select("id").as[String](Encoders.STRING)
      .collect().toSet == Set("a"), "fallback picked the half-written dir")
  }

  test("readers during concurrent rewrites always see a complete snapshot") {
    val dir = Files.createTempDirectory("store-rw").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("seed")))
    // Warm the read path before racing: the first collect pays Dataset
    // planning, which would otherwise let a fast writer finish before
    // the reader ever samples (a scheduling flake, not a storage bug).
    store.heuristics().count()
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      try (1 to 6).foreach(i => store.upsertHeuristics(Seq(h(s"w-$i"))))
      finally writerDone.set(true)
    })
    writer.start()
    var reads = 0
    val valid = ("seed" +: (1 to 6).map(i => s"w-$i")).toSet
    try {
      while (!writerDone.get() && reads < 50) {
        // Every read must resolve a COMPLETE snapshot: the seed row is
        // in every committed state, and no id outside the known write
        // set can ever appear (a half-visible merge would drop or
        // duplicate rows).
        val ids = store.heuristics().toDF().select("id").as[String](Encoders.STRING)
          .collect().toSet
        assert(ids.contains("seed"), s"read a snapshot without the seed: $ids")
        assert(ids.subsetOf(valid), s"read unknown rows: ${ids -- valid}")
        reads += 1
      }
    } finally writer.join()
    assert(reads >= 1, s"writer finished before the reader sampled ($reads reads)")
    assert(store.heuristics().toDF().select("id").as[String](Encoders.STRING)
      .collect().toSet == valid)
  }

  test("an append landing between a rewrite's read and its marker flip is rescued") {
    // The maintenance race: compact() reads the feedback snapshot, a
    // concurrent recordUsage appends a file into that same snapshot,
    // compact's rewrite commits — without the rescue the appended file
    // is superseded silently and vacuumed later. Interleave it
    // deterministically: pin the rewrite's read set (Spark lists files
    // eagerly at read time), land an append AFTER the pin, then run
    // the rewrite.
    val dir = Files.createTempDirectory("store-rescue").toString
    val store = new MemoryStore(spark, dir)
    def fb(id: String) = RetrievalFeedback(id, s"m-$id", "heuristic", "a", "p",
      FeedbackSignal.Used, t0)
    store.saveFeedback(Seq(fb("before-1"), fb("before-2")))

    val pinned = store.feedback().toDF() // read set = snapshot-1 files, pinned now
    assert(pinned.inputFiles.nonEmpty)
    store.saveFeedback(Seq(fb("late"))) // lands in snapshot 1, unseen by `pinned`
    // A reader pinned to snapshot 1 AFTER the late append: its eager
    // listing includes the late file, so the rescue must COPY (never
    // move) — this reader keeps working until retention reclaims.
    val stale = store.feedback().toDF()

    store.overwrite(pinned.repartition(1), MemoryType.Feedback) // the compact shape
    val ids = store.feedback().toDF().select("id").as[String](Encoders.STRING).collect().toSet
    assert(ids == Set("before-1", "before-2", "late"),
      s"concurrent append lost by rewrite: $ids")
    assert(stale.select("id").as[String](Encoders.STRING).collect().toSet
      == Set("before-1", "before-2", "late"),
      "in-flight reader of the superseded snapshot lost files to the rescue")

    // And the rescued row survives the NEXT full rewrite + vacuum too
    // (it is a normal data file of the committed snapshot now).
    store.overwrite(store.feedback().toDF().repartition(1), MemoryType.Feedback)
    store.vacuum(MemoryType.Feedback)
    val after = store.feedback().toDF().select("id").as[String](Encoders.STRING).collect().toSet
    assert(after == Set("before-1", "before-2", "late"))
  }

  test("an append racing a rewrite that EMPTIES the table becomes the table") {
    // deleteWhere-matches-everything + concurrent append: before the
    // empty-rewrite rescue, dropTable deleted every snapshot including
    // the racing append's file. The unread rows are the table now.
    val dir = Files.createTempDirectory("store-empty-rescue").toString
    val store = new MemoryStore(spark, dir)
    def fb(id: String) = RetrievalFeedback(id, s"m-$id", "heuristic", "a", "p",
      FeedbackSignal.Used, t0)
    store.saveFeedback(Seq(fb("doomed-1"), fb("doomed-2")))
    val pinned = store.feedback().toDF() // read set pinned
    // The delete-all shape: a runtime predicate that keeps nothing. NOT
    // filter(lit(false)) — constant folding would collapse the plan to
    // an empty LocalRelation with no inputFiles, and with no file
    // provenance the store (correctly) cannot rescue.
    val emptied = pinned.filter(col("id") === "no-such-id")
    store.saveFeedback(Seq(fb("late"))) // unseen by the pinned read
    store.overwrite(emptied, MemoryType.Feedback)
    val ids = store.feedback().toDF().select("id").as[String](Encoders.STRING).collect().toSet
    assert(ids == Set("late"), s"racing append lost by empty rewrite: $ids")
    // And a genuinely-empty result (no racing append) still drops.
    store.overwrite(
      store.feedback().toDF().filter(col("id") === "no-such-id"), MemoryType.Feedback)
    assert(store.feedback().toDF().isEmpty)
  }

  test("rescue survives retainSnapshots = 1 (cleanup deferred past the rescue)") {
    // At the minimum retention the commit-time cleanup floor equals the
    // new version — before the reorder it deleted the superseded
    // snapshot before the rescue could list it (a silent loss the old
    // code also swallowed without a log line).
    val dir = Files.createTempDirectory("store-retain1").toString
    val store = new MemoryStore(spark, dir, retainSnapshots = 1)
    def fb(id: String) = RetrievalFeedback(id, s"m-$id", "heuristic", "a", "p",
      FeedbackSignal.Used, t0)
    store.saveFeedback(Seq(fb("before")))
    val pinned = store.feedback().toDF()
    store.saveFeedback(Seq(fb("late")))
    store.overwrite(pinned.repartition(1), MemoryType.Feedback)
    val ids = store.feedback().toDF().select("id").as[String](Encoders.STRING).collect().toSet
    assert(ids == Set("before", "late"), s"retainSnapshots=1 lost the racing append: $ids")
  }

  test("a rescued append never resurrects an id the rewrite also emitted") {
    // saveHeuristics(X') races an upsert whose merged output already
    // contains id X: file-copy rescue would commit BOTH rows and break
    // upsert's id-uniqueness promise; the row-wise anti-join keeps the
    // rewrite's version and rescues only genuinely-new ids.
    val dir = Files.createTempDirectory("store-idconflict").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("X"), h("Y")))
    val pinned = store.heuristics().toDF()
    store.saveHeuristics(Seq(
      h("X").copy(strategy = "stale-racer"), h("Z"))) // unseen by the pin
    store.overwrite(
      pinned.withColumn("strategy", lit("rewritten")), MemoryType.Heuristics)
    val rows = store.heuristics().toDF()
      .select("id", "strategy").as[(String, String)](
        Encoders.tuple(Encoders.STRING, Encoders.STRING)).collect().toMap
    assert(rows.keySet == Set("X", "Y", "Z"), s"wrong id set: ${rows.keySet}")
    assert(store.heuristics().toDF().count() == 3,
      "duplicate ids committed by the rescue")
    assert(rows("X") == "rewritten", "rescue resurrected a superseded id")
    assert(rows("Z") == "s", "genuinely-new appended id must survive")
  }

  test("two concurrent rewriters: table never lost, marker always names a full snapshot") {
    val dir = Files.createTempDirectory("store-conc").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("seed")))

    val rounds = 6
    val pool = Executors.newFixedThreadPool(2)
    val tasks = Seq("w1", "w2").map { w =>
      new Callable[Int] {
        def call(): Int = {
          var committed = 0
          (1 to rounds).foreach { i =>
            // A writer whose base snapshot fell out of retention mid-merge
            // may fail — the protocol promises the TABLE survives, and the
            // marker flip means a failed writer changed nothing.
            try { store.upsertHeuristics(Seq(h(s"$w-$i"))); committed += 1 }
            catch { case _: Exception => () }
          }
          committed
        }
      }
    }
    val committed = pool.invokeAll(tasks.asJava).asScala.map(_.get())
    pool.shutdown()
    assert(pool.awaitTermination(5, TimeUnit.MINUTES))

    assert(committed.forall(_ >= 1), s"a writer made no progress: $committed")
    assert(committed.sum >= rounds, s"most merges should commit: $committed")

    // The committed snapshot is complete: the seed row is in every merge's
    // base, so losing it would mean a half-written or lost table.
    val ids = store.heuristics().toDF().select("id").as[String](Encoders.STRING).collect().toSet
    assert(ids.contains("seed"), s"seed row lost: $ids")

    // Marker integrity: it exists, names a present snapshot, and no temp
    // markers or legacy .bak/.tmp staging dirs leak.
    val entries = fsOf(dir).listStatus(new HPath(s"$dir/${MemoryType.Heuristics}"))
      .map(_.getPath.getName).toSeq
    assert(entries.contains("_CURRENT"))
    assert(!entries.exists(_.startsWith("._CURRENT_")), s"stray temp marker: $entries")
    assert(!entries.exists(n => n.startsWith(".bak") || n.startsWith(".tmp")), s"legacy staging: $entries")
    val cur = markerTarget(dir)
    assert(entries.contains(cur), s"marker names a missing snapshot: $cur not in $entries")

    // vacuum reclaims every losing writer's unreferenced snapshot.
    store.vacuum(MemoryType.Heuristics)
    assert(snapDirs(dir) == Seq(cur), s"vacuum left garbage: ${snapDirs(dir)}")
    assert(store.heuristics().toDF().select("id").as[String](Encoders.STRING).collect().toSet == ids)
  }

  test("snapshot names stay ASCII under a default locale with native digits") {
    // String formatting follows the default locale: under these locales
    // `%06d` prints native digits, a name the snapshot resolver cannot
    // parse — every table would then read as empty after each write.
    // (A local-mode save cannot run under them: Spark's own part-file
    // names break the same way, so only the snapshot name is formed under them.)
    val saved = Seq(java.util.Locale.Category.DISPLAY, java.util.Locale.Category.FORMAT)
      .map(c => c -> java.util.Locale.getDefault(c))
    val savedDefault = java.util.Locale.getDefault
    val names =
      try Seq("th-TH-u-nu-thai", "ar-EG", "fa-IR", "hi-IN-u-nu-deva").map { tag =>
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag(tag))
        tag -> MemoryStore.snapshotName(12L)
      } finally {
        java.util.Locale.setDefault(savedDefault)
        saved.foreach { case (c, l) => java.util.Locale.setDefault(c, l) }
      }
    names.foreach { case (tag, name) =>
      assert(MemoryStore.versionOf(name) == 12L, s"$tag: unparseable snapshot name $name")
    }
    // And the store round-trips through those names.
    val dir = Files.createTempDirectory("store-locale").toString
    val store = new MemoryStore(spark, dir)
    store.saveHeuristics(Seq(h("a")))
    store.upsertHeuristics(Seq(h("b")))
    assert(snapDirs(dir).forall(MemoryStore.versionOf(_) > 0), s"unparseable: ${snapDirs(dir)}")
    assert(store.heuristics().toDF().select("id").as[String](Encoders.STRING).collect().toSet == Set("a", "b"))
  }
}
