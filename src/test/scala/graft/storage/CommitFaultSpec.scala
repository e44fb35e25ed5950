package graft.storage

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Encoders

/** The snapshot commit protocol under filesystem faults a clean local
  * run never exercises: a `_CURRENT` marker flip that fails on every
  * attempt, and a marker that cannot be read. `commitMarker`'s contract
  * is that a flip either lands or leaves no trace — the write surfaces
  * the error, and the table keeps showing the snapshot it had. An
  * unreadable table is not an absent one: its vacuum and its appends
  * fail rather than act on "no table".
  */
class CommitFaultSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def h(id: String): Heuristic =
    Heuristic(id, "a", "p", "c", "s", 0.9, 1L, 1L, t0, t0, Array.fill(4)(0.5f), Map.empty)

  private def ids(store: MemoryStore): Set[String] =
    store.heuristics().toDF().select("id").as[String](Encoders.STRING).collect().toSet

  test("a marker flip failing on every attempt surfaces, keeps the previous snapshot, leaves no temp marker") {
    val hconf = spark.sparkContext.hadoopConfiguration
    FlakyFs.register(hconf)
    val base = s"$suiteTempDir/flip"
    val store = new MemoryStore(spark, s"flaky://$base")
    store.saveHeuristics(Seq(h("a")))
    val table = new HPath(s"$base/${MemoryType.Heuristics}")
    val fs = table.getFileSystem(hconf)
    def entries: Set[String] = fs.listStatus(table).map(_.getPath.getName).toSet
    val before = entries
    FlakyFs.locked {
      // Every temp marker's rename onto `_CURRENT` fails, retries included.
      FlakyFs.renameFailOf = s"$base/${MemoryType.Heuristics}/._CURRENT_"
      intercept[java.io.IOException] { store.upsertHeuristics(Seq(h("b"))) }
      assert(ids(store) == Set("a"), "a failed flip must leave the previous snapshot readable")
      val temps = entries.filter(_.startsWith("._CURRENT_"))
      assert(temps.isEmpty, s"temp markers left behind: ${temps.mkString(", ")}")
      // The uncommitted snapshot is gone too. (`_CURRENT` itself may be:
      // a delete-then-rename overwrite removes it before failing, and the
      // listing fallback then resolves the same previous snapshot.)
      def snaps(names: Set[String]) = names.filter(_.startsWith("snap_"))
      assert(snaps(entries) == snaps(before),
        s"a failed flip left a snapshot: ${(snaps(entries) -- snaps(before)).mkString(", ")}")
    }
    // Fault cleared: the same write now commits.
    store.upsertHeuristics(Seq(h("b")))
    assert(ids(store) == Set("a", "b"))
  }

  /** A two-snapshot heuristics table under `flaky://`, its directory,
    * and the snapshot directories it holds.
    */
  private def twoSnapshotTable(name: String): (MemoryStore, String, () => Set[String]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    FlakyFs.register(hconf)
    val base = s"$suiteTempDir/$name"
    val store = new MemoryStore(spark, s"flaky://$base")
    store.saveHeuristics(Seq(h("a")))
    store.upsertHeuristics(Seq(h("b")))
    val table = new HPath(s"$base/${MemoryType.Heuristics}")
    val fs = table.getFileSystem(hconf)
    (store, table.toString,
      () => fs.listStatus(table).map(_.getPath.getName).filter(_.startsWith("snap_")).toSet)
  }

  test("vacuum with an unreadable marker and a failed listing fails and deletes nothing") {
    val (store, table, snaps) = twoSnapshotTable("vacuumfault")
    val before = snaps()
    FlakyFs.locked {
      // The marker read fails, so does the fallback listing; the
      // cleanup's own listing would then succeed.
      FlakyFs.failOpenOf = s"$table/_CURRENT"
      FlakyFs.failListOnceOf = table
      val vacuumed = scala.util.Try(store.vacuum(MemoryType.Heuristics))
      assert(vacuumed.isFailure, "vacuum read an unreadable table as absent")
    }
    assert(snaps() == before, s"vacuum deleted ${(before -- snaps()).mkString(", ")}")
    assert(ids(store) == Set("a", "b"))
  }

  test("an append with an unreadable marker and a failed listing fails and leaves the table") {
    val (store, table, snaps) = twoSnapshotTable("appendfault")
    val before = snaps()
    FlakyFs.locked {
      FlakyFs.failOpenOf = s"$table/_CURRENT"
      FlakyFs.failListOnceOf = table
      val appended = scala.util.Try(store.saveHeuristics(Seq(h("c"))))
      assert(appended.isFailure, "the append read an unreadable table as absent")
    }
    assert(snaps() == before, s"the append committed ${(snaps() -- before).mkString(", ")}")
    assert(ids(store) == Set("a", "b"))
  }
}
