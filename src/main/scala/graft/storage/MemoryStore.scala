package graft.storage

import graft.functions.expressions.BoundParam
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed storage layer — the single unified backend that
  * replaces the reference's per-database plurality (reference contract:
  * alma/storage/base.py:36-1182; SQLite impl sqlite_local.py; the
  * Postgres/Chroma/Qdrant/Pinecone/Cosmos backends all collapse into
  * one columnar layout, SURVEY S5).
  *
  * Layout: `<root>/<memory_type>/snap_<version>_<uuid>/` Parquet
  * snapshots, partitioned by `projectId` so project/agent predicates
  * become partition pruning + pushed filters at 100 TB, plus a
  * `_CURRENT` marker file naming the committed snapshot. Writes are
  * append-only batches into the current snapshot (S3/S4); upsert (A3)
  * and archive (S10) are DISTRIBUTED snapshot-rewrite jobs — a
  * join-based column-level merge written as a NEW snapshot
  * directory, committed by an atomic marker flip — the open-format
  * stand-in for Delta MERGE. Nothing in this class collects a table to
  * the driver: every merge/split is a join, so the same code runs when
  * the heuristics table is 10 rows or 10 billion.
  *
  * Commit protocol (cloud-portable; the reference gets the equivalent
  * from SQLite transactions, sqlite_local.py): all filesystem access
  * goes through Hadoop's `FileSystem`/`FileContext` API, so the same
  * code runs on file://, hdfs:// and s3a://. A rewrite (1) writes the
  * merged table to a fresh `snap_<v+1>_<uuid>` directory — the live
  * snapshot is never touched while it is being read — then (2) flips
  * `_CURRENT` by writing a temp marker and renaming it over the old one
  * (`Options.Rename.OVERWRITE`: atomic on HDFS/POSIX). On object stores
  * the rename is NOT atomic — Hadoop's s3a implements it as copy+delete,
  * so there is a window with no marker in which a reader's listing
  * fallback can briefly surface a fully-written-but-uncommitted snapshot
  * or, between two same-version siblings, the lexicographically-higher
  * one rather than the committed one (the fallback orders by name, not
  * commit order). That read is always a COMPLETE snapshot — never a
  * half state — and heals on the next marker read; deployments needing
  * strict marker reads on S3 should point the marker at a store with
  * atomic rename/conditional-put semantics (HDFS, a DB row, S3
  * conditional writes) — the protocol only needs the one marker object.
  * Concurrent committers race only on the marker:
  * LAST WRITER WINS — the losing snapshot becomes unreferenced garbage
  * reclaimed once the version advances past the retention window (or by
  * `vacuum`), and no interleaving can lose the table or expose a
  * half-written directory, because the marker only ever names a fully
  * written snapshot. Readers that catch the marker mid-flip (or a
  * missing/corrupt marker) fall back to the highest fully-written
  * (`_SUCCESS`-bearing) snapshot present. The previous
  * `retainSnapshots - 1` snapshots are retained so in-flight readers
  * that resolved the marker just before a commit still find their
  * files; a reader more than that many commits stale can fail and
  * should re-resolve — the documented trade against unbounded storage.
  */
final class MemoryStore(val spark: SparkSession, val root: String,
    val retainSnapshots: Int = 3) {
  import MemoryStore._

  // ---- snapshot resolution (cloud-portable commit protocol) -------------
  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private def fsOf(p: HPath): FileSystem = p.getFileSystem(hadoopConf)
  private def tableDir(memoryType: String) = new HPath(s"$root/$memoryType")
  private def markerOf(memoryType: String) = new HPath(tableDir(memoryType), "_CURRENT")

  private val SnapName = "snap_([0-9]+)_[0-9a-f]+".r
  private def versionOf(name: String): Long = name match {
    case SnapName(v) => v.toLong
    case _ => -1L
  }

  /** The committed `(version, snapshotDir)` of a table: the `_CURRENT`
    * marker when readable, else the highest `_SUCCESS`-complete snapshot
    * directory (covers the marker-swap window on filesystems where the
    * overwrite-rename is delete+rename, and a corrupted marker).
    */
  private def currentSnapshot(memoryType: String): Option[(Long, HPath)] =
    probedSnapshot(memoryType)._1

  /** [[currentSnapshot]] plus a trust flag for the EMPTY answer: the
    * flag is true iff every filesystem probe behind a `None` completed
    * without an I/O error. A missing directory or marker is a real
    * observation (`FileNotFoundException` = known empty); any other
    * `IOException` means UNKNOWN — the caller must not treat the
    * emptiness as fact. The legacy-migration settled latch feeds on
    * this: a transient listing failure read as "no legacy snapshot"
    * would hide undrained rows for the instance lifetime
    * ([[legacyPendingRows]]). When the Option is `Some` the flag is
    * vacuously true (the snapshot was found; nothing was inferred
    * from an error-masked empty).
    */
  private def probedSnapshot(memoryType: String): (Option[(Long, HPath)], Boolean) = {
    val marker = markerOf(memoryType)
    val fs = fsOf(marker)
    var clean = true
    val fromMarker =
      try {
        if (!fs.exists(marker)) None
        else {
          val in = fs.open(marker)
          val name =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          val snap = new HPath(tableDir(memoryType), name)
          // A marker naming a vanished directory (a stale writer's
          // commit landed after its snapshot was vacuumed) is treated
          // as corrupt: fall back to the listing, self-heal on the
          // next commit.
          if (versionOf(name) < 0 || !fs.exists(snap)) None
          else Some((versionOf(name), snap))
        }
      } catch {
        // A marker that vanishes between exists() and open() (raced
        // delete — e.g. a concurrent migration finishing its claim) is
        // a real "no marker" observation, same as exists()=false: fall
        // to the listing with the probe still clean.
        case _: java.io.FileNotFoundException => None
        case _: java.io.IOException => clean = false; None
      }
    val resolved = fromMarker.orElse {
      try {
        fsOf(tableDir(memoryType)).listStatus(tableDir(memoryType)).toSeq
          .filter(st => st.isDirectory && versionOf(st.getPath.getName) >= 0)
          .filter(st => fs.exists(new HPath(st.getPath, "_SUCCESS")))
          .map(st => (versionOf(st.getPath.getName), st.getPath))
          .sortBy { case (v, p) => (v, p.getName) }
          .lastOption
      } catch {
        case _: java.io.FileNotFoundException => None
        case _: java.io.IOException => clean = false; None
      }
    }
    (resolved, resolved.isDefined || clean)
  }

  /** Write `df` as a brand-new snapshot directory, then atomically flip
    * the `_CURRENT` marker to it. The base version is read at call time;
    * concurrent committers produce same-version siblings and the last
    * marker write wins (documented last-writer-wins).
    *
    * `df` executes exactly once, in the write. Whether it was empty is
    * read back from what the write left: a partitioned write of no rows
    * lands no data file (an unpartitioned one lands a single schema-only
    * file, which commits and reads as the empty table). Such a snapshot
    * is deleted, not committed, and the result is None — the table keeps
    * its current state, and a caller never probes `df` before writing it.
    */
  private def commitSnapshot(df: DataFrame, memoryType: String, baseVersion: Long,
      cleanup: Boolean = true): Option[HPath] = {
    val version = baseVersion + 1
    val name = f"snap_$version%06d_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}%s"
    val snap = new HPath(tableDir(memoryType), name)
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionColsOf(df): _*)
      .parquet(snap.toString)
    // A listing failure propagates: the marker is untouched, so the
    // table keeps its committed snapshot rather than being read as empty.
    val landed =
      try listDataFiles(snap).nonEmpty
      catch { case _: java.io.FileNotFoundException => false }
    if (!landed) {
      try fsOf(snap).delete(snap, true): Unit
      catch { case _: java.io.IOException => () }
      return None
    }
    commitMarker(memoryType, name)
    // `cleanup = false` defers retention to the caller — overwrite()
    // must rescue concurrent appends out of the superseded snapshot
    // BEFORE it can be reclaimed (at retainSnapshots = 1 the floor is
    // this very commit's version).
    if (cleanup)
      cleanupSnapshots(memoryType, keepFromVersion = version - (retainSnapshots - 1),
        protect = Some(name))
    Some(snap)
  }

  /** Flip `_CURRENT` to `name`: write a temp marker, overwrite-rename it
    * over the live one. Two concurrent flips can race inside the
    * filesystem's delete-then-rename implementation of OVERWRITE (the
    * loser throws FileAlreadyExists when the winner re-creates the
    * destination between its delete and rename) — that race is
    * retryable, and the temp marker is always cleaned up, so a flip
    * either lands or leaves no trace (the table then still shows the
    * previous committed snapshot).
    */
  private def commitMarker(memoryType: String, name: String): Unit = {
    val dir = tableDir(memoryType)
    val fs = fsOf(dir)
    val fc = FileContext.getFileContext(fs.getUri, hadoopConf)
    var attempt = 0
    var done = false
    while (!done) {
      val tmp = new HPath(dir, s"._CURRENT_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        val out = fs.create(tmp, true)
        try out.write(name.getBytes("UTF-8")) finally out.close()
        fc.rename(tmp, markerOf(memoryType), Options.Rename.OVERWRITE)
        done = true
      } catch {
        case _: java.io.IOException if attempt < 3 => attempt += 1
      } finally {
        try { if (!done && fs.exists(tmp)) fs.delete(tmp, false): Unit }
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Best-effort delete of snapshot dirs below the retention floor (a
    * concurrent cleanup may have removed them already) — never the one
    * the marker currently names.
    */
  private def cleanupSnapshots(memoryType: String, keepFromVersion: Long,
      protect: Option[String]): Unit = {
    val dir = tableDir(memoryType)
    val fs = fsOf(dir)
    try {
      fs.listStatus(dir).foreach { st =>
        val v = versionOf(st.getPath.getName)
        if (st.isDirectory && v >= 0 && v < keepFromVersion
            && !protect.contains(st.getPath.getName))
          try fs.delete(st.getPath, true): Unit
          catch { case _: java.io.IOException => () }
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Delete every unreferenced snapshot AT OR BELOW the current version
    * (losing same-version committers, aborted writes). Higher-version
    * directories are left alone — they belong to commits in flight,
    * whose fully-written-but-not-yet-committed snapshots must not be
    * swept from under their marker flip. (A stale writer committing a
    * version BELOW current can still lose its snapshot to vacuum; its
    * marker flip then names a vanished directory, which readers treat
    * as corrupt and resolve via the listing fallback — last-writer-wins
    * degrades to self-healing, never to a lost table.) Run from
    * maintenance, when no reader is pinned to an old snapshot.
    */
  def vacuum(memoryType: String): Unit =
    // the checkpoints root holds per-run partition tables, each with
    // its own marker — vacuum every partition (legacy single-table
    // stores are migrated first so their root snapshots are reclaimed
    // through the migration, not orphaned)
    if (memoryType == MemoryType.Checkpoints) {
      migrateLegacyCheckpoints()
      ckPartTypes().foreach(vacuum)
    }
    else currentSnapshot(memoryType) match {
      case Some((v, snap)) =>
        cleanupSnapshots(memoryType, keepFromVersion = v + 1, protect = Some(snap.getName))
      case None =>
        cleanupSnapshots(memoryType, keepFromVersion = Long.MaxValue, protect = None)
    }

  /** An empty table is represented by no marker and no snapshots at all
    * (an empty partitioned parquet dir has no schema files and poisons
    * later reads — exists() → typed empty instead).
    */
  private def dropTable(memoryType: String): Unit = {
    val marker = markerOf(memoryType)
    val fs = fsOf(marker)
    try { if (fs.exists(marker)) fs.delete(marker, false): Unit }
    catch { case _: java.io.IOException => () }
    cleanupSnapshots(memoryType, keepFromVersion = Long.MaxValue, protect = None)
  }

  // ---- batch writes (S3) ------------------------------------------------
  private def frame[T](rows: Seq[T], enc: Encoder[T]): DataFrame =
    spark.createDataset(rows)(enc).toDF()

  def saveHeuristics(rows: Seq[Heuristic]): Unit = append(frame(rows, HeuristicEncoder), MemoryType.Heuristics)
  def saveOutcomes(rows: Seq[Outcome]): Unit = append(frame(rows, OutcomeEncoder), MemoryType.Outcomes)
  def savePreferences(rows: Seq[UserPreference]): Unit = append(frame(rows, PreferenceEncoder), MemoryType.Preferences)
  def saveKnowledge(rows: Seq[DomainKnowledge]): Unit = append(frame(rows, KnowledgeEncoder), MemoryType.Knowledge)
  def saveAntiPatterns(rows: Seq[AntiPattern]): Unit = append(frame(rows, AntiPatternEncoder), MemoryType.AntiPatterns)

  /** Distributed batch append — the path promotions use so emitted rows
    * never round-trip through the driver. Checkpoint rows route into
    * their per-run partitions. An empty `df` is not probed for: its
    * write lands no file (and, on a table with no snapshot yet, commits
    * none).
    */
  def appendRows(df: DataFrame, memoryType: String): Unit =
    if (memoryType == MemoryType.Checkpoints) {
      migrateLegacyCheckpoints(); appendCheckpoints(df)
    } else append(df, memoryType)

  // Preferences (and the feedback log) are user-keyed, not project-keyed;
  // partition only when the layout column exists.
  private def partitionColsOf(df: DataFrame): Seq[String] =
    if (df.columns.contains("projectId")) Seq("projectId") else Nil

  /** Batch append: lands new files inside the CURRENT snapshot (cheap —
    * no rewrite); the first append creates snapshot 1 and commits the
    * marker. An append racing a rewrite can land in the snapshot the
    * rewrite is replacing — last-writer-wins, same as the marker race.
    */
  private def append(df: DataFrame, memoryType: String): Unit =
    currentSnapshot(memoryType) match {
      case Some((_, snap)) =>
        df.write.mode(SaveMode.Append)
          .partitionBy(partitionColsOf(df): _*)
          .parquet(snap.toString)
      case None => commitSnapshot(df, memoryType, baseVersion = 0L): Unit
    }

  def exists(memoryType: String): Boolean = currentSnapshot(memoryType).isDefined

  /** Read a table with its schema declared from the encoder rather than
    * inferred from footers: schema inference is a Spark job per read
    * (visible as `parquet at ...` jobs), and on a 100 TB table with
    * many files it is a real listing/footer pass. Declared schemas also
    * pin column order regardless of partition-column placement.
    */
  private def readTable(memoryType: String): DataFrame =
    currentSnapshot(memoryType) match {
      case Some((_, snap)) =>
        spark.read.schema(encoderOf(memoryType).schema).parquet(snap.toString)
      case None => emptyOf(memoryType)
    }

  // ---- filtered scans (S2, F1/F2/F5/F8) --------------------------------
  /** Typed scan with the standard predicate set; filters push to the
    * Parquet scan (project partition prune + agent/confidence row
    * filters).
    */
  def scan(
      memoryType: String,
      projectId: Option[String] = None,
      agents: Seq[String] = Nil,
      minConfidence: Option[Double] = None): DataFrame = {
    if (!exists(memoryType))
      return emptyOf(memoryType)
    var df = readTable(memoryType)
    // User-keyed tables (preferences) carry no projectId/agent column;
    // a predicate on a column the schema lacks is skipped, not an error.
    val cols = df.columns.toSet
    if (cols.contains("projectId")) projectId.foreach(p => df = df.filter(col("projectId") === p))
    if (agents.nonEmpty && cols.contains("agent")) df = df.filter(col("agent").isin(agents: _*))
    if (cols.contains("confidence")) minConfidence.foreach(c => df = df.filter(col("confidence") >= c))
    df
  }

  def heuristics(projectId: Option[String] = None, agents: Seq[String] = Nil,
      minConfidence: Option[Double] = None): Dataset[Heuristic] =
    scan(MemoryType.Heuristics, projectId, agents, minConfidence).as(HeuristicEncoder)

  def outcomes(projectId: Option[String] = None, agents: Seq[String] = Nil): Dataset[Outcome] =
    scan(MemoryType.Outcomes, projectId, agents).as(OutcomeEncoder)

  def preferences(): Dataset[UserPreference] =
    (if (exists(MemoryType.Preferences)) readTable(MemoryType.Preferences)
     else emptyOf(MemoryType.Preferences)).as(PreferenceEncoder)

  def knowledge(projectId: Option[String] = None, agents: Seq[String] = Nil,
      minConfidence: Option[Double] = None): Dataset[DomainKnowledge] =
    scan(MemoryType.Knowledge, projectId, agents, minConfidence).as(KnowledgeEncoder)

  def antiPatterns(projectId: Option[String] = None, agents: Seq[String] = Nil): Dataset[AntiPattern] =
    scan(MemoryType.AntiPatterns, projectId, agents).as(AntiPatternEncoder)

  private def emptyOf(memoryType: String): DataFrame =
    spark.emptyDataset(encoderOf(memoryType)).toDF()

  // ---- workflow checkpoints (crash-recovery state, core.py:546-650) ------
  // Checkpoints are the one RUN-scoped table: every write belongs to one
  // run and the only rewrite (cleanupCheckpoints) targets one completed
  // run, so the table is stored as one versioned sub-table PER RUN
  // (`checkpoints/runId=<enc>/snap_.../` + per-run `_CURRENT`). A
  // cleanup then reads and snapshot-rewrites the completed run's
  // partition ONLY — at 100 TB the rewrite touches that run's files,
  // never the whole checkpoint history (the scale gap the old
  // whole-table deleteWhere shape carried). The runId column stays IN
  // the data (the path key is addressing, not Hive layout inference),
  // so every partition read yields the exact Checkpoint schema, and
  // cross-run reads are a union of partition scans.

  private def ckPartType(runId: String): String =
    s"${MemoryType.Checkpoints}/runId=" +
      java.net.URLEncoder.encode(runId, "UTF-8")

  /** Quarantine partition key for legacy rows whose runId is null: a
    * null key has no partition to live in, but bricking every read over
    * one bad legacy row is worse — the rows stay READABLE (the runId
    * column is stored in the data, so they surface with their null
    * runId in cross-run scans) while new writes still reject nulls
    * loudly in [[appendCheckpoints]]. A NUL byte cannot appear in a
    * sane caller-supplied runId, so the partition (dir `runId=%00`)
    * never collides with a real run's.
    */
  private val NullRunIdSentinel = "\u0000"

  /** In-flight migration staging area: the legacy snapshot is RENAMED
    * here (atomic claim) before its rows are drained into the per-run
    * partitions. Not a `snap_*` name, so snapshot resolution, retention
    * and `ckPartTypes` all ignore it.
    */
  private def ckStagingDir: HPath =
    new HPath(tableDir(MemoryType.Checkpoints), "_migrating")

  // The migration check is a guaranteed no-op after the first pass that
  // finds a fully-partitioned store — cache that verdict per instance so
  // steady-state entry points stop paying the root listing(s). A store
  // never regresses from partitioned to legacy layout (only this class
  // writes the layout), so the flag can only go false→true.
  @volatile private var ckMigrationSettled = false
  // Spec hook: how many times the real (non-short-circuited) layout
  // check ran — CheckpointPartitionSpec pins it at one per store
  // lifetime on a settled store.
  private[storage] val ckMigrationChecks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Stores written before the per-run layout hold one versioned table
    * directly under the checkpoints root (`checkpoints/snap_*` + root
    * `_CURRENT`). Readers of that vintage must not silently see an
    * empty table — this is the crash-recovery path, where "empty"
    * means a resume point LOST. Write/maintenance entry points call
    * this to migrate the legacy snapshot into the per-run partitions;
    * pure reads ([[checkpoints]]) never write — they union the pending
    * legacy rows on the fly via [[legacyPendingRows]], so a consumer
    * with read-only filesystem access still sees its data.
    *
    * Crash-safe and idempotent, in two phases:
    *
    *  1. '''Claim.''' Superseded root `snap_*` dirs are deleted FIRST
    *     (so a crash can never re-detect an OLDER snapshot as the
    *     legacy table and resurrect stale rows), then the current
    *     legacy snapshot is atomically RENAMED into `_migrating/` and
    *     the root marker removed. Two concurrent migrators race on the
    *     rename — exactly one wins; the loser finds no legacy snapshot
    *     and proceeds to drain whatever staging holds. A dangling
    *     marker (failed delete) names a vanished dir, which snapshot
    *     resolution already treats as corrupt, and the listing fallback
    *     finds no root `snap_*` — detection is NOT re-armed.
    *  2. '''Drain.''' Staged rows are appended into their per-run
    *     partitions ANTI-JOINED by checkpoint id against what the
    *     partition already holds, so a crash between append and staging
    *     cleanup re-enters and appends nothing twice. Null-runId rows
    *     are quarantined under [[NullRunIdSentinel]] instead of
    *     throwing. Staging is deleted only after every run drained; a
    *     failed delete re-drains (id-deduped) on the next entry point.
    *
    * If the claim failed because staging already held a SAME-NAMED
    * sibling (a crashed object-store copy+delete), the drain removes
    * the blocker — so after Phase 2 the claim is retried once, letting
    * a single entry point fully settle the store rather than deferring
    * the claim to the next one.
    *
    * A legacy store that cannot be READ (corrupt snapshot) fails loudly
    * here rather than masquerading as empty.
    *
    * Cross-PROCESS drain race (accepted, inherited): two store
    * instances in different JVMs can both enter Phase 2 — the
    * per-instance lock does not reach across processes, and the drain's
    * id anti-join is read-then-append — so two simultaneous drains of
    * the same staged snapshot could both append its rows. The damage
    * collapses to the store's documented last-writer-wins commit
    * contract (same-version snapshot siblings, last marker wins — see
    * [[commitSnapshot]]), not a migration-specific duplicate; not worth
    * a lock file.
    */
  private def migrateLegacyCheckpoints(): Unit = {
    if (ckMigrationSettled) return
    synchronized {
      if (ckMigrationSettled) return
      ckMigrationChecks.incrementAndGet(): Unit
      // Phase 1 — claim: currentSnapshot() on the checkpoints ROOT
      // resolves exactly the legacy layout (root marker, else highest
      // complete root snap_*).
      def claimRoot(): Unit =
        currentSnapshot(MemoryType.Checkpoints).foreach { case (_, snap) =>
          cleanupSnapshots(MemoryType.Checkpoints,
            keepFromVersion = Long.MaxValue, protect = Some(snap.getName))
          val fs = fsOf(snap)
          val claimed =
            try {
              if (!fs.exists(ckStagingDir)) fs.mkdirs(ckStagingDir): Unit
              // rename=false with the source GONE means a concurrent
              // claimant won the race — the snapshot is claimed, just
              // not by us.
              fs.rename(snap, new HPath(ckStagingDir, snap.getName)) || !fs.exists(snap)
            } catch { case _: java.io.IOException => false }
          // The marker goes only once the snapshot is KNOWN claimed. A
          // failed rename must leave the marker in place: re-detection
          // through the listing fallback requires a _SUCCESS file, but
          // the marker does not — deleting it unconditionally would make
          // a _SUCCESS-less legacy snapshot invisible forever.
          if (claimed) {
            val marker = markerOf(MemoryType.Checkpoints)
            try { if (fs.exists(marker)) fs.delete(marker, false): Unit }
            catch { case _: java.io.IOException => () }
          }
        }
      // Phase 2 — drain staging (possibly left by a crashed migration).
      def drainStaging(): Unit = {
        val staged = stagedLegacyDirs()
        if (staged.nonEmpty) {
          val rows = staged.map(d => spark.read
              .schema(CheckpointEncoder.schema).parquet(d.toString))
            .reduce(_.unionByName(_))
            // an object-store rename that crashed mid copy+delete can
            // leave the same snapshot in BOTH places briefly; staged
            // sibling copies carry identical rows — dedupe by id
            .dropDuplicates("id")
          appendMigrated(rows)
          try fsOf(ckStagingDir).delete(ckStagingDir, true): Unit
          catch { case e: java.io.IOException =>
            System.err.println(s"[graft.MemoryStore] could not remove checkpoint " +
              s"migration staging $ckStagingDir ($e) — the next entry point re-drains (id-deduped)")
          }
        }
      }
      claimRoot()
      drainStaging()
      // A claim can fail because the staging DESTINATION already held
      // a same-named sibling (a crashed object-store copy+delete) —
      // the drain above just removed it, so loop back to Phase 1 ONCE
      // and a single entry point settles the store instead of
      // deferring the claim to the next one. Bounded: one extra pass,
      // and only when the first claim left the root snapshot in place
      // (probedSnapshot's trust flag is vacuously true for non-empty
      // answers, so the snapshot's presence alone arms the retry). The
      // second drain runs only if the retry claim actually MOVED the
      // snapshot into staging — a claim that failed again changed
      // nothing, and re-draining would only repeat no-op Spark jobs.
      // The post-retry probe doubles as the settled check below, so
      // the common no-retry path pays exactly one probe, as before.
      val mid = probedSnapshot(MemoryType.Checkpoints)
      val (snapAfter, snapClean) =
        if (mid._1.nonEmpty) {
          claimRoot()
          val after = probedSnapshot(MemoryType.Checkpoints)
          if (after._1.isEmpty) drainStaging()
          after
        } else mid
      // Settled only when nothing legacy remains anywhere AND every
      // probe behind that emptiness completed error-free — a rename
      // that kept failing leaves the root snapshot in place (retry on
      // the next entry point), and an IOException-masked listing must
      // not be read as "drained".
      val (stagedAfter, stagedClean) = probedStagedLegacyDirs()
      if (snapAfter.isEmpty && snapClean && stagedAfter.isEmpty && stagedClean)
        ckMigrationSettled = true
    }
  }

  /** The staged legacy snapshot dirs awaiting drain (empty when no
    * migration is in flight).
    */
  private def stagedLegacyDirs(): Seq[HPath] = probedStagedLegacyDirs()._1

  /** Staged dirs plus the same emptiness-trust flag as
    * [[probedSnapshot]]: false means an I/O error masked the answer
    * and `Nil` must not be read as "nothing staged".
    */
  private def probedStagedLegacyDirs(): (Seq[HPath], Boolean) = {
    val dir = ckStagingDir
    try {
      val fs = fsOf(dir)
      if (!fs.exists(dir)) (Nil, true)
      else (fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath), true)
    } catch {
      case _: java.io.FileNotFoundException => (Nil, true)
      case _: java.io.IOException => (Nil, false)
    }
  }

  /** Legacy checkpoint rows not yet drained into per-run partitions —
    * the read-side view of a pre-migration (or mid-migration) store.
    * Pure read: nothing is written. None once the store is settled
    * (cached per instance, so steady-state reads pay no listing).
    */
  private def legacyPendingRows(): Option[DataFrame] = {
    if (ckMigrationSettled) return None
    val (snap, snapClean) = probedSnapshot(MemoryType.Checkpoints)
    val (staged, stagedClean) = probedStagedLegacyDirs()
    val srcs = snap.map(_._2).toSeq ++ staged
    if (srcs.isEmpty) {
      // Latch only on TRUSTWORTHY emptiness (every probe error-free) —
      // a transient listing failure must not hide undrained legacy
      // rows for the instance lifetime. The flag write is deliberately
      // OUTSIDE migrateLegacyCheckpoints' lock: volatile, monotone
      // false→true, and re-derived from the filesystem, so racing
      // writers can only agree — do not "fix" this into taking the
      // migration lock on the read path.
      if (snapClean && stagedClean) ckMigrationSettled = true
      return None
    }
    Some(srcs.map(d => spark.read
        .schema(CheckpointEncoder.schema).parquet(d.toString))
      .reduce(_.unionByName(_))
      .dropDuplicates("id"))
  }

  /** Drain migrated rows into per-run partitions, id-deduped against
    * each partition's existing rows (idempotent under re-entry after a
    * crash). Null runIds quarantine under [[NullRunIdSentinel]]. All
    * bounded one-time work: the legacy table's runs.
    */
  private def appendMigrated(df: DataFrame): Unit = {
    val pinned = df.localCheckpoint(true)
    val runs = pinned.select("runId").distinct().collect().map(_.getString(0))
    runs.foreach { r =>
      val part = ckPartType(if (r == null) NullRunIdSentinel else r)
      val rows =
        if (r == null) pinned.filter(col("runId").isNull)
        else pinned.filter(col("runId") === r)
      val fresh =
        if (exists(part)) rows.join(readTable(part).select("id"), Seq("id"), "left_anti")
        else rows
      if (!fresh.isEmpty) append(fresh, part)
    }
  }

  /** The existing per-run partition table names, from one listing of
    * the checkpoints root (absent root → no partitions).
    */
  private def ckPartTypes(): Seq[String] = {
    val dir = tableDir(MemoryType.Checkpoints)
    try {
      fsOf(dir).listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("runId="))
        .map(st => s"${MemoryType.Checkpoints}/${st.getPath.getName}")
        .sorted
    } catch { case _: java.io.IOException => Nil }
  }

  /** Append checkpoint rows into their runs' partitions: one filtered
    * append per touched run. The distinct-runId collect is bounded by
    * the number of runs in the batch — a live workflow saves one run's
    * state; even a backfill touches a handful. The input is
    * materialized ONCE before the distinct+filter split: the rows the
    * per-run appends write must be the same rows the distinct saw,
    * which a non-deterministic upstream plan (sampling, uuid columns)
    * would not guarantee across two executions. A null runId has no
    * partition to live in — reject it loudly rather than NPE inside
    * the path encoder.
    */
  private def appendCheckpoints(df: DataFrame): Unit = {
    val pinned = df.localCheckpoint(true)
    val runs = pinned.select("runId").distinct().collect().map(_.getString(0))
    require(!runs.contains(null),
      "checkpoint rows must carry a non-null runId — the run is the storage partition key")
    runs.foreach(r => append(pinned.filter(col("runId") === r), ckPartType(r)))
  }

  def saveCheckpoints(rows: Seq[graft.workflow.Checkpoint]): Unit = {
    migrateLegacyCheckpoints()
    appendCheckpoints(frame(rows, CheckpointEncoder))
  }

  /** One run's checkpoints read its partition alone; the cross-run scan
    * unions every partition (schema declared per partition — no
    * corpus-wide listing beyond the one directory list).
    *
    * PURE READ: a legacy (pre-partitioning) or mid-migration store is
    * served by unioning the pending legacy rows on the fly, id-deduped
    * against what the partitions already hold — never by writing. A
    * consumer with read-only filesystem access to a legacy store sees
    * its data; the physical migration belongs to the write/maintenance
    * entry points (appendRows, saveCheckpoints, cleanupCheckpoints,
    * vacuum, compact).
    */
  def checkpoints(runId: Option[String] = None): Dataset[graft.workflow.Checkpoint] = {
    // Legacy sources are resolved BEFORE the partition listing: a
    // migration completing between the two probes (another thread or
    // JVM draining staging) then only ADDS partitions — visible to
    // the later listing — and the id anti-join below drops the
    // now-duplicated pending rows. The reverse order could observe
    // pre-drain partitions and then post-drain (empty) legacy
    // sources, reading a legacy store as empty — the exact
    // resume-point-lost case the migration doc forbids. (Executing
    // the pending scan still races a concurrent drain's staging
    // delete the same way any read races a vacuum — the store-wide
    // read-vs-reclaim contract, not a migration-specific case.)
    val pending1 = legacyPendingRows()
    val parts = runId match {
      case Some(r) => Seq(ckPartType(r)).filter(exists)
      case None => ckPartTypes().filter(exists)
    }
    val base =
      if (parts.isEmpty) emptyOf(MemoryType.Checkpoints)
      else parts.map(readTable).reduce(_.unionByName(_))
    val df = pending1 match {
      case None => base
      case Some(pending0) =>
        val pending = runId match {
          case Some(r) => pending0.filter(col("runId") === r)
          case None => pending0
        }
        base.unionByName(pending.join(base.select("id"), Seq("id"), "left_anti"))
    }
    df.as(CheckpointEncoder)
  }

  /** Drop all but the latest `keepLatest` checkpoints per branch of a
    * completed run (reference checkpoint.py cleanup): rank within the
    * run's PARTITION, snapshot-rewrite that partition's complement —
    * the deleteWhere shape scoped to the one sub-table the run owns.
    * Every other run's partition keeps its committed snapshot
    * untouched (spec-pinned at the filesystem level). The doomed set
    * is materialized once (bounded: a completed run's over-quota rows)
    * so the count and the anti-join don't run the ranking twice.
    * Returns the number of checkpoints deleted.
    */
  def cleanupCheckpoints(runId: String, keepLatest: Int): Long = {
    migrateLegacyCheckpoints()
    val part = ckPartType(runId)
    if (!exists(part)) return 0L
    val live = readTable(part)
    val doomed = doomedCheckpoints(live, runId, keepLatest).localCheckpoint(true)
    val n = doomed.count()
    if (n > 0) overwrite(live.join(doomed, Seq("id"), "left_anti"), part)
    n
  }

  /** The over-quota checkpoint ids of one run: branch-partitioned rank
    * over the run-filtered side, so window state is bounded by run
    * length (PlanShapeSpec asserts the partitioning).
    */
  private[graft] def doomedCheckpoints(live: DataFrame, runId: String,
      keepLatest: Int): DataFrame = {
    val w = Window.partitionBy("branchId")
      .orderBy(col("sequenceNumber").desc, col("id"))
    live.filter(col("runId") === runId)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > keepLatest)
      .select("id")
  }

  // ---- delete (forget maintenance) --------------------------------------
  /** Delete rows matching `cond`: one count + one snapshot rewrite of
    * the complement, both distributed (reference forget path,
    * learning/forgetting.py — prune stale / low-confidence memories).
    * Null predicate results keep the row (only a definite match dies).
    * The count filters on `cond` itself — a filter drops null rows as
    * it drops false ones — so its partition-column conjuncts (the
    * `projectId` of a forget) prune the scan.
    */
  def deleteWhere(memoryType: String, cond: Column): Long = {
    if (!exists(memoryType)) return 0L
    val live = readTable(memoryType)
    val matched = live.filter(cond).count()
    if (matched > 0)
      overwrite(live.filter(coalesce(cond, lit(false)) === false), memoryType)
    matched
  }

  // ---- upsert (S4/A3) ---------------------------------------------------
  /** Distributed heuristic merge: current table merged with incoming on
    * id, column-level merge, snapshot swap (reference increment
    * semantics base.py:238-253 re-expressed as the q_occurrence_upsert
    * join shape — never a driver read-modify-write).
    *
    *  - matched rows: attributes take the incoming value; `createdAt`
    *    survives from the original row; counts ADD when `addCounts`
    *    (A3 increments) or are REPLACED otherwise (promotion re-emission,
    *    where counts were recomputed from the full outcome history).
    *  - current-only rows: untouched.
    *  - incoming-only rows: inserted — gated by `insertFilter` when
    *    given (promotion thresholds apply to NEW heuristics only;
    *    existing ones always refresh, including downward).
    *
    * One existence probe of the incoming ids against the current ones
    * (`id IN cur`) marks each incoming row as an update or an insert.
    * The merge is then every current row LEFT OUTER JOIN the incoming
    * rows, broadcast — they are few (a promotion's per-strategy rows,
    * an upsert batch), and the table streams through the join with no
    * shuffle — plus the incoming inserts that pass the gate.
    *
    * Incoming must be unique by id (callers aggregate before merging).
    * Each plan executes once: the probed input is materialized by the
    * gate's check, and the merge by the snapshot write itself, unprobed.
    */
  def mergeHeuristics(
      incoming: DataFrame,
      addCounts: Boolean,
      insertFilter: Option[Column] = None): Unit = {
    val cur = heuristics().toDF()
    // Materialized by its first use (the gate below) and read from there
    // on: the incoming plan (an aggregate + per-row hash/embed work)
    // would otherwise re-execute for every action of the overwrite.
    val probed = incoming.withColumn("_cur", col("id").isin(cur.select("id")))
      .localCheckpoint(false)
    val inserts = insertFilter.fold(!col("_cur"))(f => !col("_cur") && f)
    // When nothing updates or inserts, skip the snapshot rewrite
    // entirely (every learn() call lands here, most with no promotable
    // change).
    if (probed.filter(col("_cur") || inserts).isEmpty) return
    // Incoming rows that are not updates match no current id: the
    // join needs no filter on them.
    val inc = probed.columns.foldLeft(probed)((d, n) => d.withColumnRenamed(n, "_i_" + n))
    val joined = cur.join(broadcast(inc), col("id") === col("_i_id"), "left_outer")
    def take(n: String) = coalesce(col("_i_" + n), col(n)).as(n)
    val counts =
      if (addCounts) Seq(
        (coalesce(col("occurrenceCount"), lit(0L)) + coalesce(col("_i_occurrenceCount"), lit(0L))).as("occurrenceCount"),
        (coalesce(col("successCount"), lit(0L)) + coalesce(col("_i_successCount"), lit(0L))).as("successCount"))
      else Seq(take("occurrenceCount"), take("successCount"))
    val updated = joined.select(
      Seq(col("id"),
        take("agent"), take("projectId"), take("condition"),
        take("strategy"), take("confidence"))
        ++ counts ++
        Seq(take("lastValidated"),
          coalesce(col("createdAt"), col("_i_createdAt")).as("createdAt"),
          take("embedding"), take("metadata")): _*)
    val inserted = probed.filter(inserts).drop("_cur")
    overwrite(updated.unionByName(inserted), MemoryType.Heuristics)
  }

  /** Upsert heuristics by id: counts add, attributes take the incoming
    * value, createdAt survives (A3).
    */
  def upsertHeuristics(incoming: Seq[Heuristic]): Unit =
    mergeHeuristics(frame(incoming, HeuristicEncoder), addCounts = true)

  /** Replace heuristics by id wholesale (promotion re-emission: counts
    * are recomputed from outcomes); createdAt survives from the
    * original row.
    */
  def replaceHeuristics(incoming: Seq[Heuristic]): Unit =
    mergeHeuristics(frame(incoming, HeuristicEncoder), addCounts = false)

  /** Snapshot rewrite: the merge plan reads the live snapshot while the
    * new one is written to a sibling directory, then the marker flips —
    * a failure at any step leaves the old snapshot live (the marker is
    * only written after the new directory is complete). `df` executes
    * once, in that write: an empty result is recognized by the write
    * landing no data file ([[commitSnapshot]]), never by running the
    * plan a second time to probe it.
    *
    * Concurrent-append rescue: an append (the feedback log is the
    * hottest) that lands files in the OLD snapshot between the
    * rewrite's read and the marker flip would otherwise be silently
    * superseded and later vacuumed. The rewrite's exact read set is
    * pinned by Spark's eager file listing (`df.inputFiles`), so after
    * the flip we re-list the superseded directory, re-read any data
    * file the rewrite did not read, and APPEND those rows into the new
    * snapshot, partition layout preserved. Row-wise, not file-copy:
    * when the table carries an `id` key, rescued rows whose id the
    * rewrite also emitted are dropped (anti-join) — an upsert's
    * id-uniqueness promise must survive the race, and the rewrite's
    * version of a contested id is the newer write. The superseded
    * directory itself is never touched: in-flight readers pinned to it
    * listed it eagerly and must keep finding every file until
    * retention reclaims the directory — which is also why cleanup runs
    * only AFTER the rescue (at `retainSnapshots = 1` the commit-time
    * cleanup would otherwise delete the superseded snapshot before the
    * rescue could read it). A rescue that fails mid-way logs loudly
    * instead of silently reverting to data loss. One narrow window
    * remains — an append that resolved the old marker and lands its
    * files after this rescue pass — which is why maintenance documents
    * itself as the quiet point; the rescue turns the common race from
    * silent loss into a no-op. A rewrite that empties the table takes
    * the same path: unread files are committed as the next snapshot
    * (they are the table now); only a truly-empty result drops it.
    * (An unpartitioned table's empty result lands a schema-only file;
    * it commits as an empty snapshot, rescued like any other.)
    */
  private[storage] def overwrite(df: DataFrame, memoryType: String): Unit = {
    val cur = currentSnapshot(memoryType)
    val base = cur.map(_._1).getOrElse(0L)
    // Relative paths of the old-snapshot files the rewrite plan reads.
    // Empty when the plan's provenance is not file-based (checkpointed
    // input) or it read some other snapshot — rescue is skipped then:
    // re-appending files the rewrite DID read would duplicate rows,
    // so the guard errs toward the documented last-writer-wins.
    val readSet: Set[String] = cur match {
      case Some((_, snap)) =>
        val prefix = fsOf(snap).makeQualified(snap).toUri.getPath
        df.inputFiles.toSet[String]
          .map(u => new HPath(new java.net.URI(u)).toUri.getPath)
          .filter(_.startsWith(prefix + "/"))
          .map(_.stripPrefix(prefix).stripPrefix("/"))
      case None => Set.empty
    }
    def unreadIn(oldSnap: HPath): Map[String, HPath] =
      dataFilesIn(oldSnap).filter { case (rel, _) => !readSet.contains(rel) }
    val written = commitSnapshot(df, memoryType, base, cleanup = false)
    if (written.isEmpty) {
      val unread = cur.filter(_ => readSet.nonEmpty)
        .map { case (_, snap) => unreadIn(snap) }.getOrElse(Map.empty)
      if (unread.isEmpty) { dropTable(memoryType); return }
      // The rewrite emptied the table but a racing append landed files
      // it never read — those rows ARE the table; commit them as the
      // next snapshot instead of dropping. Best-effort like the main
      // rescue below: a failure (e.g. a concurrent committer's cleanup
      // swept the superseded dir mid-read — Spark surfaces that as
      // SparkException/AnalysisException, not IOException) degrades to
      // the drop the caller asked for, loudly.
      try {
        val rescued = spark.read
          .option("basePath", fsOf(cur.get._2).makeQualified(cur.get._2).toString)
          .parquet(unread.values.map(_.toString).toSeq: _*)
        if (commitSnapshot(rescued, memoryType, base).isEmpty) dropTable(memoryType)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft.MemoryStore] empty-rewrite rescue for " +
          s"$memoryType failed ($e) — dropping; rows appended during this rewrite may be lost")
        dropTable(memoryType)
      }
      return
    }
    val newSnap = written.get
    if (readSet.nonEmpty) cur.foreach { case (_, oldSnap) =>
      val unread = unreadIn(oldSnap)
      if (unread.nonEmpty) {
        try {
          val rescued = spark.read
            .option("basePath", fsOf(oldSnap).makeQualified(oldSnap).toString)
            .parquet(unread.values.map(_.toString).toSeq: _*)
          val committed = spark.read
            .option("basePath", fsOf(newSnap).makeQualified(newSnap).toString)
            .parquet(newSnap.toString)
          val survivors =
            if (rescued.columns.contains("id") && committed.columns.contains("id"))
              rescued.join(committed.select("id"), Seq("id"), "left_anti")
            else rescued
          // Appended unprobed: no survivor, no file.
          survivors.write.mode(SaveMode.Append)
            .partitionBy(partitionColsOf(survivors): _*)
            .parquet(newSnap.toString)
        } catch { case scala.util.control.NonFatal(e) =>
          // Spark read/write failures arrive as SparkException /
          // AnalysisException — a narrower IOException catch would let
          // them escape AFTER the marker flip, failing a rewrite that
          // actually committed (and skipping the retention cleanup).
          System.err.println(s"[graft.MemoryStore] concurrent-append rescue for " +
            s"$memoryType failed ($e) — rows appended during this rewrite may be lost")
        }
      }
    }
    cleanupSnapshots(memoryType, keepFromVersion = (base + 1) - (retainSnapshots - 1),
      protect = Some(newSnap.getName))
  }

  /** Committed data files inside a snapshot dir, keyed by path relative
    * to it. In-flight write-job internals (`_temporary/...`, hidden
    * files) are excluded — only landed `part-*.parquet` files count.
    * An unlistable snapshot reads as holding none.
    */
  private def dataFilesIn(snap: HPath): Map[String, HPath] =
    try listDataFiles(snap)
    catch { case e: java.io.IOException =>
      // A vanished/unlistable snapshot here means a rescue pass cannot
      // see racing appends — say so rather than silently losing them.
      System.err.println(s"[graft.MemoryStore] could not list $snap ($e)")
      Map.empty
    }

  /** [[dataFilesIn]], with listing failures thrown to the caller. */
  private def listDataFiles(snap: HPath): Map[String, HPath] = {
    val fs = fsOf(snap)
    def walk(dir: HPath, rel: String): Seq[(String, HPath)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val path = if (rel.isEmpty) name else s"$rel/$name"
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, path)
        else if (name.endsWith(".parquet")) Seq(path -> st.getPath)
        else Nil
      }
    walk(fs.makeQualified(snap), "").toMap
  }

  // ---- archive / restore (S10) -----------------------------------------
  /** Archive rows of ANY memory type by id set: append full snapshots
    * with reason + archived-at to `<root>/archive/<type>`, then rewrite
    * the live set without them (reference base.py:989-1125 archives
    * every collection, not just outcomes). Both halves are broadcast
    * semi/anti joins — the id set never drives a driver-side partition
    * of the table. If a failure lands between the archive append and
    * the live rewrite, re-running is safe: restore dedupes by id.
    */
  def archive(memoryType: String, ids: Set[String], reason: String, asOfUs: Long): Unit =
    archiveIds(memoryType, frame(ids.toSeq, Encoders.STRING).toDF("id"), reason, asOfUs)

  /** Distributed form: `ids` is a single-column (`id`) DataFrame — at
    * scale the overflow set comes straight out of the quota window job
    * without collecting. The id set is materialized once; a non-empty
    * set is archived and rewritten without probing either plan first.
    */
  def archiveIds(memoryType: String, ids: DataFrame, reason: String, asOfUs: Long): Unit = {
    if (!exists(memoryType)) return
    val live = readTable(memoryType)
    // Materialize the id set once (it is often a window/overflow plan
    // that would re-execute per join), and let AQE pick the join
    // strategy — a forced broadcast would build the whole id set on the
    // driver, which caps out exactly like a collect() at 100 TB.
    val key = ids.select(col(ids.columns.head).as("id")).localCheckpoint(true)
    if (!key.isEmpty) {
      live.join(key, Seq("id"), "left_semi")
        .withColumn("reason", lit(reason))
        .withColumn("archived_at_us", BoundParam.of(asOfUs))
        .write.mode(SaveMode.Append).parquet(s"$root/archive/$memoryType")
      overwrite(live.join(key, Seq("id"), "left_anti"), memoryType)
    }
  }

  def archived(memoryType: String): DataFrame = {
    // The archive is a plain append-only log (never rewritten in place,
    // so it needs no snapshot protocol) — but existence still goes
    // through the Hadoop FS so it works on any scheme.
    val p = new HPath(s"$root/archive/$memoryType")
    if (fsOf(p).exists(p)) spark.read.parquet(p.toString)
    else emptyOf(memoryType)
      .withColumn("reason", lit("")).withColumn("archived_at_us", lit(0L))
  }

  /** Restore = archived rows (latest snapshot per id) not currently
    * live, re-appended — anti-join + append, no rewrite of the archive
    * itself (purge is a separate policy job, as in the reference).
    */
  def restore(memoryType: String, ids: Set[String]): Unit = {
    val w = Window.partitionBy("id").orderBy(col("archived_at_us").desc)
    val arch = archived(memoryType)
      .filter(col("id").isin(ids.toSeq: _*))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "reason", "archived_at_us")
    val live = if (exists(memoryType)) readTable(memoryType).select("id")
      else emptyOf(memoryType).select("id")
    val toRestore = arch.join(live, Seq("id"), "left_anti")
    if (!toRestore.isEmpty) append(toRestore, memoryType)
  }

  // Outcome-named conveniences kept for the quota/maintenance callers.
  def archiveOutcomes(ids: Set[String], reason: String, asOfUs: Long): Unit =
    archive(MemoryType.Outcomes, ids, reason, asOfUs)
  def archivedOutcomes(): DataFrame = archived(MemoryType.Outcomes)
  def restoreOutcomes(ids: Set[String]): Unit = restore(MemoryType.Outcomes, ids)

  // ---- retrieval feedback (R10/R11 write path) ---------------------------
  /** Append usage signals (used / ignored / thumbs_up / thumbs_down) —
    * the reference's retrieval_feedback table
    * (sqlite_local.py:448-466, types.py:352-379).
    */
  def saveFeedback(rows: Seq[RetrievalFeedback]): Unit =
    append(frame(rows, FeedbackEncoder), MemoryType.Feedback)

  def feedback(projectId: Option[String] = None): Dataset[RetrievalFeedback] =
    scan(MemoryType.Feedback, projectId).as(FeedbackEncoder)

  /** Per-memory feedback score `(used+up-ignored-down)/total` ∈ [-1, 1]
    * (types.py:382-420) — one conditional-sum aggregate, broadcastable
    * into the retrieve plan.
    */
  def feedbackSummary(projectId: Option[String] = None): DataFrame = {
    val n = (s: String) => sum(when(col("signal") === s, 1L).otherwise(0L))
    val total = col("n_used") + col("n_up") + col("n_ignored") + col("n_down")
    feedback(projectId).groupBy("memoryId")
      .agg(n("used").as("n_used"), n("thumbs_up").as("n_up"),
        n("ignored").as("n_ignored"), n("thumbs_down").as("n_down"))
      .select(col("memoryId"),
        when(total === 0, lit(0.0))
          .otherwise((col("n_used") + col("n_up") - col("n_ignored") - col("n_down")).cast("double") / total)
          .as("feedback_score"))
  }

  // ---- compaction (small-file maintenance) ------------------------------
  /** Rewrite a memory type's directory into few large files. Append
    * workloads (every learn() lands a tiny file) otherwise degrade
    * every later scan — the classic small-file problem. Returns the
    * file count before compaction; runs only when fragmentation
    * exceeds `minFiles`. Same write-new-then-swap as every rewrite
    * here, so readers never see a half state.
    */
  def compact(memoryType: String, minFiles: Int = 16, targetPartitions: Int = 4): Long =
    // The checkpoints root is per-run partition tables (each with its
    // own snapshots) — compact every partition; checkpoints are the
    // append-heaviest table (one file per saved step), so a root-level
    // no-op here would silently exempt exactly the table that
    // fragments fastest. Legacy single-table stores migrate first.
    if (memoryType == MemoryType.Checkpoints) {
      migrateLegacyCheckpoints()
      ckPartTypes().map(compact(_, minFiles, targetPartitions)).sum
    } else currentSnapshot(memoryType) match {
      case None => 0L
      case Some((_, snap)) =>
        var files = 0L
        val it = fsOf(snap).listFiles(snap, true)
        while (it.hasNext)
          if (it.next().getPath.getName.endsWith(".parquet")) files += 1
        if (files > minFiles)
          overwrite(readTable(memoryType).repartition(targetPartitions), memoryType)
        files
    }

  // ---- artifacts (J6 write path) ----------------------------------------
  def saveArtifacts(rows: Seq[ArtifactRef]): Unit =
    append(frame(rows, ArtifactEncoder), MemoryType.Artifacts)

  /** Artifact registry, optionally filtered to one memory (the J6
    * lookup's point form — the id predicate pushes to the scan).
    */
  def artifacts(memoryId: Option[String] = None): Dataset[ArtifactRef] = {
    val df = if (exists(MemoryType.Artifacts))
      readTable(MemoryType.Artifacts)
    else emptyOf(MemoryType.Artifacts)
    memoryId.fold(df)(m => df.filter(col("memoryId") === m)).as(ArtifactEncoder)
  }

  // ---- workflow outcomes ------------------------------------------------
  def saveWorkflowOutcomes(rows: Seq[WorkflowOutcome]): Unit =
    append(frame(rows, WorkflowOutcomeEncoder), MemoryType.WorkflowOutcomes)

  def workflowOutcomes(projectId: Option[String] = None): Dataset[WorkflowOutcome] =
    scan(MemoryType.WorkflowOutcomes, projectId).as(WorkflowOutcomeEncoder)

  // ---- stats (A4) -------------------------------------------------------
  def stats(projectId: Option[String] = None): Map[String, Long] =
    MemoryType.All.map { t =>
      t -> (if (exists(t)) scan(t, projectId).count() else 0L)
    }.toMap
}

object MemoryStore {
  // Product encoders, derived once per JVM: `spark.implicits` derives a
  // fresh one by Scala reflection at every `.as[T]`, `toDS()` and
  // `emptyDataset[T]`, driver time paid again on every call.
  private[graft] val HeuristicEncoder: Encoder[Heuristic] = Encoders.product[Heuristic]
  private[graft] val OutcomeEncoder: Encoder[Outcome] = Encoders.product[Outcome]
  private[graft] val PreferenceEncoder: Encoder[UserPreference] = Encoders.product[UserPreference]
  private[graft] val KnowledgeEncoder: Encoder[DomainKnowledge] = Encoders.product[DomainKnowledge]
  private[graft] val AntiPatternEncoder: Encoder[AntiPattern] = Encoders.product[AntiPattern]
  private[graft] val FeedbackEncoder: Encoder[RetrievalFeedback] = Encoders.product[RetrievalFeedback]
  private[graft] val ArtifactEncoder: Encoder[ArtifactRef] = Encoders.product[ArtifactRef]
  private[graft] val WorkflowOutcomeEncoder: Encoder[WorkflowOutcome] = Encoders.product[WorkflowOutcome]
  private[graft] val CheckpointEncoder: Encoder[graft.workflow.Checkpoint] =
    Encoders.product[graft.workflow.Checkpoint]

  /** The row encoder of a stored table; every per-run checkpoint
    * partition (`checkpoints/runId=<r>`) shares the checkpoint one.
    */
  private def encoderOf(memoryType: String): Encoder[_ <: Product] = memoryType match {
    case t if t.startsWith(MemoryType.Checkpoints + "/") => CheckpointEncoder
    case MemoryType.Heuristics => HeuristicEncoder
    case MemoryType.Outcomes => OutcomeEncoder
    case MemoryType.Preferences => PreferenceEncoder
    case MemoryType.Knowledge => KnowledgeEncoder
    case MemoryType.AntiPatterns => AntiPatternEncoder
    case MemoryType.Feedback => FeedbackEncoder
    case MemoryType.Artifacts => ArtifactEncoder
    case MemoryType.WorkflowOutcomes => WorkflowOutcomeEncoder
    case MemoryType.Checkpoints => CheckpointEncoder
  }
}
