package graft.storage

import graft.functions.expressions.{BoundParam, FeedbackLookup}
import graft.internal.SessionMemo
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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

  // ---- write generation: the one staleness signal for caches over reads --
  private val generation = new java.util.concurrent.atomic.AtomicLong

  /** Moves after every data-changing primitive (append, overwrite,
    * dropTable) of this store, whatever the table or the caller — a
    * write through `store` directly as much as one through `Alma`. A
    * cache over this store's reads reads it BEFORE computing an entry
    * and keys the entry on it: a write that lands during the compute
    * moves it past the entry, which is then never served.
    */
  def writeGeneration: Long = generation.get

  /** Run a data-changing primitive, then move the generation — on
    * failure too: a failed write may still have landed files.
    */
  private def writing[A](body: => A): A =
    try body finally generation.incrementAndGet(): Unit

  /** The committed `(version, snapshotDir)` of a table: the `_CURRENT`
    * marker when readable, else the highest `_SUCCESS`-complete snapshot
    * directory (covers the marker-swap window on filesystems where the
    * overwrite-rename is delete+rename, and a corrupted marker — such as
    * a read racing the flip on the local checksummed filesystem, which
    * renames data and `.crc` apart and fails the checksum). A missing
    * file reads as "not there"; any other I/O error propagates, because
    * callers act on an absent table (vacuum deletes every snapshot,
    * append commits a fresh table, reads return no rows).
    */
  private def currentSnapshot(memoryType: String): Option[(Long, HPath)] = {
    val marker = markerOf(memoryType)
    val fs = fsOf(marker)
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
        case _: java.io.FileNotFoundException | _: org.apache.hadoop.fs.ChecksumException => None
      }
    fromMarker.orElse {
      try {
        fsOf(tableDir(memoryType)).listStatus(tableDir(memoryType)).toSeq
          .filter(st => st.isDirectory && versionOf(st.getPath.getName) >= 0)
          .filter(st => fs.exists(new HPath(st.getPath, "_SUCCESS")))
          .map(st => (versionOf(st.getPath.getName), st.getPath))
          .sortBy { case (v, p) => (v, p.getName) }
          .lastOption
      } catch { case _: java.io.FileNotFoundException => None }
    }
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
    val name = snapshotName(version)
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
    // A flip that fails for good leaves this snapshot uncommitted; it is
    // deleted so the listing fallback (which a delete-then-rename
    // overwrite can leave readers on) resolves the previous snapshot.
    try commitMarker(memoryType, name)
    catch { case e: java.io.IOException =>
      try fsOf(snap).delete(snap, true): Unit
      catch { case _: java.io.IOException => () }
      throw e
    }
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
    * retryable, and the temp marker is always cleaned up. A flip that
    * still fails throws; [[commitSnapshot]] then deletes the snapshot it
    * named, so the table still shows the previous committed snapshot
    * (spec-pinned in CommitFaultSpec).
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
    // checkpoints: every checkpoint table — each run partition (its own
    // marker and snapshots) and the root table
    if (memoryType == MemoryType.Checkpoints) ckTables(None).foreach(vacuumTable)
    else vacuumTable(memoryType)

  private def vacuumTable(memoryType: String): Unit =
    currentSnapshot(memoryType) match {
      case Some((v, snap)) =>
        cleanupSnapshots(memoryType, keepFromVersion = v + 1, protect = Some(snap.getName))
      case None =>
        cleanupSnapshots(memoryType, keepFromVersion = Long.MaxValue, protect = None)
    }

  /** An empty table is represented by no marker and no snapshots at all
    * (an empty partitioned parquet dir has no schema files and poisons
    * later reads — an absent table reads as the typed empty frame).
    */
  private def dropTable(memoryType: String): Unit = writing {
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

  /** Distributed batch append of rows a plan computes — for writers
    * whose rows are a table's worth, not a few driver-held ones (the
    * `q_store_roundtrip` and `q_checkpoint_cleanup` queries; the facade
    * builds its rows on the driver and writes through the `save*`
    * methods). Checkpoint rows route into their per-run partitions. An
    * empty `df` is not probed for: its write lands no file (and, on a
    * table with no snapshot yet, commits none).
    */
  def appendRows(df: DataFrame, memoryType: String): Unit =
    if (memoryType == MemoryType.Checkpoints) appendCheckpoints(df)
    else append(df, memoryType)

  // Preferences (and the feedback log) are user-keyed, not project-keyed;
  // partition only when the layout column exists.
  private def partitionColsOf(df: DataFrame): Seq[String] =
    if (df.columns.contains("projectId")) Seq("projectId") else Nil

  /** Batch append: lands new files inside the CURRENT snapshot (cheap —
    * no rewrite); the first append creates snapshot 1 and commits the
    * marker. An append racing a rewrite can land in the snapshot the
    * rewrite is replacing — last-writer-wins, same as the marker race.
    */
  private def append(df: DataFrame, memoryType: String): Unit = writing {
    currentSnapshot(memoryType) match {
      case Some((_, snap)) =>
        df.write.mode(SaveMode.Append)
          .partitionBy(partitionColsOf(df): _*)
          .parquet(snap.toString)
      case None => commitSnapshot(df, memoryType, baseVersion = 0L): Unit
    }
  }

  def exists(memoryType: String): Boolean = currentSnapshot(memoryType).isDefined

  /** Read a table — its typed empty frame when absent — resolving its
    * snapshot once. The schema is declared from the encoder rather than
    * inferred from footers: schema inference is a Spark job per read
    * (visible as `parquet at ...` jobs), and on a 100 TB table with
    * many files it is a real listing/footer pass. Declared schemas also
    * pin column order regardless of partition-column placement.
    */
  private[graft] def readTable(memoryType: String): DataFrame =
    readCommitted(memoryType).getOrElse(emptyOf(memoryType))

  /** A table's rows when it has a committed snapshot — for callers whose
    * absent branch does something other than read no rows.
    */
  private def readCommitted(memoryType: String): Option[DataFrame] =
    currentSnapshot(memoryType).map { case (_, snap) => readSnapshot(memoryType, snap) }

  private def readSnapshot(memoryType: String, snap: HPath): DataFrame =
    spark.read.schema(encoderOf(memoryType).schema).parquet(snap.toString)

  // ---- filtered scans (S2, F1/F2/F5/F8) --------------------------------
  /** Typed scan with the standard predicate set; filters push to the
    * Parquet scan (project partition prune + agent/confidence row
    * filters).
    */
  def scan(
      memoryType: String,
      projectId: Option[String] = None,
      agents: Seq[String] = Nil,
      minConfidence: Option[Double] = None): DataFrame =
    narrowed(readTable(memoryType), projectId, agents, minConfidence)

  private def narrowed(rows: DataFrame, projectId: Option[String],
      agents: Seq[String] = Nil, minConfidence: Option[Double] = None): DataFrame = {
    var df = rows
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
    readTable(MemoryType.Preferences).as(PreferenceEncoder)

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
  // partition — at 100 TB the rewrite touches that run's files, never
  // the whole checkpoint history. The runId column stays IN the data
  // (the path key is addressing, not Hive layout inference), so every
  // partition read yields the exact Checkpoint schema, and cross-run
  // reads are a union of partition scans.
  //
  // Stores written before the per-run layout hold one versioned table
  // directly under the checkpoints root (`checkpoints/snap_*` + root
  // `_CURRENT`) — the standard single-table layout, so it is served as
  // one more checkpoint table, the ROOT TABLE (table name `checkpoints`),
  // through the same snapshot protocol as every other table. Reads union
  // it in (filtered to the run when run-scoped; null-runId rows surface
  // only in cross-run scans) and never write. New rows go only to run
  // partitions; cleanupCheckpoints rewrites the root table's complement
  // like a partition's and retires the root table once it empties, after
  // which the store is purely per-run.

  private def ckPartType(runId: String): String =
    s"${MemoryType.Checkpoints}/runId=" +
      java.net.URLEncoder.encode(runId, "UTF-8")

  /** The checkpoint tables a read of `runId` (every run when None)
    * covers, from ONE listing of the checkpoints root: the root table
    * when a root `_CURRENT` or `snap_*` entry exists, then the run's
    * partition (or every `runId=` partition). Candidates only: a named
    * run partition may not exist yet (it reads as empty). An absent root
    * lists nothing; any other listing error propagates — a read must not
    * report "no checkpoints" (no resume point) for a root it could not
    * list.
    */
  private def ckTables(runId: Option[String]): Seq[String] = {
    val dir = tableDir(MemoryType.Checkpoints)
    val names =
      try fsOf(dir).listStatus(dir).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    val rootTable =
      if (names.exists(n => n == "_CURRENT" || versionOf(n) >= 0)) Seq(MemoryType.Checkpoints)
      else Nil
    rootTable ++ runId.fold(names.filter(_.startsWith("runId=")).sorted
      .map(n => s"${MemoryType.Checkpoints}/$n"))(r => Seq(ckPartType(r)))
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

  def saveCheckpoints(rows: Seq[graft.workflow.Checkpoint]): Unit =
    appendCheckpoints(frame(rows, CheckpointEncoder))

  /** One run's checkpoints read its partition plus the root table's rows
    * of that run; the cross-run scan unions every checkpoint table
    * (schema declared per table — no corpus-wide listing beyond the one
    * directory list). A pure read: nothing is written.
    */
  def checkpoints(runId: Option[String] = None): Dataset[graft.workflow.Checkpoint] =
    ckTables(runId).map { t =>
      val rows = readTable(t)
      if (t == MemoryType.Checkpoints) runId.fold(rows)(r => rows.filter(col("runId") === r))
      else rows
    }.reduceOption(_.unionByName(_)).getOrElse(emptyOf(MemoryType.Checkpoints))
      .as(CheckpointEncoder)

  /** Drop all but the latest `keepLatest` checkpoints per branch of a
    * completed run (reference checkpoint.py cleanup): rank the run's
    * rows — its partition plus its root-table rows — together, then
    * snapshot-rewrite the complement of each table that held a doomed
    * row. Every other run's partition keeps its committed snapshot
    * untouched (spec-pinned at the filesystem level). The doomed set is
    * materialized once (bounded: a completed run's over-quota rows) so
    * the per-table counts and the anti-joins don't run the ranking
    * twice. Re-running after a crash between two rewrites is
    * idempotent: the doomed set is recomputed from what is live.
    * Returns the number of checkpoints deleted.
    */
  def cleanupCheckpoints(runId: String, keepLatest: Int): Long = {
    val reads = ckTables(Some(runId)).flatMap(t => readCommitted(t).map(t -> _))
    if (reads.isEmpty) return 0L
    val live = reads.map { case (t, df) => df.withColumn("_table", lit(t)) }.reduce(_.unionByName(_))
    val doomed = doomedCheckpoints(live, runId, keepLatest).select("id", "_table")
      .localCheckpoint(true)
    val hit = doomed.groupBy("_table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    reads.foreach { case (t, df) =>
      if (hit.contains(t))
        overwrite(df.join(doomed.filter(col("_table") === t).select("id"), Seq("id"), "left_anti"), t)
    }
    // An unpartitioned rewrite that keeps no row commits a schema-only
    // snapshot; an emptied root table is retired instead.
    if (hit.contains(MemoryType.Checkpoints) && readTable(MemoryType.Checkpoints).isEmpty)
      dropTable(MemoryType.Checkpoints)
    hit.values.sum
  }

  /** The over-quota checkpoint rows of one run: branch-partitioned rank
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
      .drop("rn")
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
  def deleteWhere(memoryType: String, cond: Column): Long =
    readCommitted(memoryType).fold(0L) { live =>
      val matched = live.filter(cond).count()
      if (matched > 0)
        overwrite(live.filter(coalesce(cond, lit(false)) === false), memoryType)
      matched
    }

  // ---- upsert (S4/A3) ---------------------------------------------------
  /** Distributed heuristic merge: current table merged with incoming on
    * id, column-level merge, snapshot swap (reference increment
    * semantics base.py:238-253 re-expressed as the q_occurrence_upsert
    * join shape — never a driver read-modify-write of the table).
    *
    *  - matched rows (incoming ids in `stored`): attributes take the
    *    incoming value; `createdAt` survives from the original row;
    *    counts ADD when `addCounts` (A3 increments) or are REPLACED
    *    otherwise (promotion re-emission, where counts were recomputed
    *    from the full outcome history).
    *  - current-only rows: untouched.
    *  - incoming rows whose id is not in `stored`: inserted.
    *
    * The caller says which incoming ids the table holds: a learn read
    * them in its one decision collect, an upsert looks them up. The
    * merge is every current row LEFT OUTER JOIN the incoming rows,
    * broadcast — they are few, and the table streams through the join
    * with no shuffle — plus the inserts, in one snapshot rewrite. Callers
    * with nothing to merge do not call: the rewrite always commits.
    *
    * Incoming must be unique by id (callers aggregate before merging).
    */
  def mergeHeuristics(incoming: Seq[Heuristic], stored: Set[String], addCounts: Boolean): Unit = {
    // One plan shape whichever rows update and insert, so every merge
    // reuses the classes generated for it: the driver rows enter as
    // RDD-backed frames, which the optimizer cannot prune when empty (a
    // local relation it can), and the join broadcasts all incoming rows,
    // never an empty side AQE would drop (an insert's id matches no
    // current row).
    def rows(hs: Seq[Heuristic]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(hs.map(Row.fromTuple), 1), HeuristicEncoder.schema)
    val inc = rows(incoming).toDF(HeuristicEncoder.schema.fieldNames.toSeq.map("_i_" + _): _*)
    val joined = heuristics().toDF().join(broadcast(inc), col("id") === col("_i_id"), "left_outer")
    def take(n: String) = coalesce(col("_i_" + n), col(n)).as(n)
    def tally(n: String) =
      if (addCounts) (coalesce(col(n), lit(0L)) + coalesce(col("_i_" + n), lit(0L))).as(n) else take(n)
    val updated = joined.select(col("id"),
      take("agent"), take("projectId"), take("condition"),
      take("strategy"), take("confidence"),
      tally("occurrenceCount"), tally("successCount"),
      take("lastValidated"),
      coalesce(col("createdAt"), col("_i_createdAt")).as("createdAt"),
      take("embedding"), take("metadata"))
    overwrite(updated.unionByName(rows(incoming.filterNot(h => stored(h.id)))), MemoryType.Heuristics)
  }

  /** Upsert heuristics by id: counts add, attributes take the incoming
    * value, createdAt survives (A3). Which incoming ids are stored is
    * one point lookup, bounded by the batch.
    */
  def upsertHeuristics(incoming: Seq[Heuristic]): Unit = if (incoming.nonEmpty) {
    val stored = heuristics().toDF().filter(col("id").isin(incoming.map(_.id): _*))
      .select("id").collect().map(_.getString(0)).toSet
    mergeHeuristics(incoming, stored, addCounts = true)
  }

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
  private[storage] def overwrite(df: DataFrame, memoryType: String): Unit = writing {
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
    // The superseded snapshot's unread files, partition columns kept.
    def readUnread(oldSnap: HPath, unread: Map[String, HPath]): DataFrame =
      spark.read
        .option("basePath", fsOf(oldSnap).makeQualified(oldSnap).toString)
        .parquet(unread.values.map(_.toString).toSeq: _*)
    commitSnapshot(df, memoryType, base, cleanup = false) match {
      case None =>
        val unread = cur.filter(_ => readSet.nonEmpty)
          .map { case (_, snap) => unreadIn(snap) }.getOrElse(Map.empty)
        if (unread.isEmpty) dropTable(memoryType)
        // The rewrite emptied the table but a racing append landed files
        // it never read — those rows ARE the table; commit them as the
        // next snapshot instead of dropping. Best-effort like the main
        // rescue below: a failure (e.g. a concurrent committer's cleanup
        // swept the superseded dir mid-read — Spark surfaces that as
        // SparkException/AnalysisException, not IOException) degrades to
        // the drop the caller asked for, loudly.
        else try {
          if (commitSnapshot(readUnread(cur.get._2, unread), memoryType, base).isEmpty)
            dropTable(memoryType)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft.MemoryStore] empty-rewrite rescue for " +
            s"$memoryType failed ($e) — dropping; rows appended during this rewrite may be lost")
          dropTable(memoryType)
        }
      case Some(newSnap) =>
        if (readSet.nonEmpty) cur.foreach { case (_, oldSnap) =>
          val unread = unreadIn(oldSnap)
          if (unread.nonEmpty) {
            try {
              val rescued = readUnread(oldSnap, unread)
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
  def archiveIds(memoryType: String, ids: DataFrame, reason: String, asOfUs: Long): Unit =
    readCommitted(memoryType).foreach { live =>
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
    val toRestore = arch.join(readTable(memoryType).select("id"), Seq("id"), "left_anti")
    if (!toRestore.isEmpty) append(toRestore, memoryType)
  }

  // ---- retrieval feedback (R10/R11 write path) ---------------------------
  /** Append usage signals (used / ignored / thumbs_up / thumbs_down) —
    * the reference's retrieval_feedback table
    * (sqlite_local.py:448-466, types.py:352-379).
    */
  def saveFeedback(rows: Seq[RetrievalFeedback]): Unit =
    append(frame(rows, FeedbackEncoder), MemoryType.Feedback)

  def feedback(projectId: Option[String] = None): Dataset[RetrievalFeedback] =
    scan(MemoryType.Feedback, projectId).as(FeedbackEncoder)

  /** Per-memory feedback score ∈ [-1, 1] (types.py:382-420;
    * [[MemoryStore.feedbackScore]]) — one conditional-sum aggregate.
    */
  def feedbackSummary(projectId: Option[String] = None): DataFrame = {
    val n = (s: String) => sum(when(col("signal") === s, 1L).otherwise(0L))
    feedback(projectId).groupBy("memoryId")
      .agg(n(FeedbackSignal.Used).as("n_used"), n(FeedbackSignal.ThumbsUp).as("n_up"),
        n(FeedbackSignal.Ignored).as("n_ignored"), n(FeedbackSignal.ThumbsDown).as("n_down"))
      .select(col("memoryId"),
        FeedbackScoreUdf(col("n_used"), col("n_up"), col("n_ignored"), col("n_down")).as("feedback_score"))
  }

  /** A project's feedback scores as a broadcast driver table, for the
    * retrieve's feedback blend ([[FeedbackLookup]]): the scores of
    * [[feedbackSummary]], from the same counts and formula.
    *
    * The counts of every project are read once per state of the
    * feedback table's file listing (a [[SessionMemo]], so a write
    * through another store on the same root is seen too), in one job:
    * each partition counts its rows per memory and the driver adds the
    * partial counts, bounded by the memories with feedback, never by the
    * log's length. The listing, not [[writeGeneration]], keys them: in
    * an agent loop some write comes before nearly every retrieve miss,
    * and most writes leave the feedback log alone.
    */
  private[graft] def feedbackScores(projectId: String): FeedbackLookup.Table =
    FeedbackScoresMemo.getOrBuild(spark, tableDir(MemoryType.Feedback).toString) {
      new FeedbackScores(spark, readCommitted(MemoryType.Feedback).fold(Seq.empty[MemoryFeedback])(
        _.select("projectId", "memoryId", "signal").as(FeedbackRowEncoder)
          .mapPartitions(countSignals)(MemoryFeedbackEncoder).collect().toSeq))
    }.of(projectId)

  // ---- compaction (small-file maintenance) ------------------------------
  /** Rewrite a memory type's directory into few large files. Append
    * workloads (every learn() lands a tiny file) otherwise degrade
    * every later scan — the classic small-file problem. Returns the
    * file count before compaction; runs only when fragmentation
    * exceeds `minFiles`. Same write-new-then-swap as every rewrite
    * here, so readers never see a half state.
    */
  def compact(memoryType: String, minFiles: Int = 16, targetPartitions: Int = 4): Long =
    // checkpoints: compact every checkpoint table (each run partition and
    // the root table) — checkpoints are the append-heaviest table (one
    // file per saved step), so a root-only pass would exempt exactly the
    // tables that fragment fastest.
    if (memoryType == MemoryType.Checkpoints)
      ckTables(None).map(compactTable(_, minFiles, targetPartitions)).sum
    else compactTable(memoryType, minFiles, targetPartitions)

  private def compactTable(memoryType: String, minFiles: Int, targetPartitions: Int): Long =
    currentSnapshot(memoryType) match {
      case None => 0L
      case Some((_, snap)) =>
        val files = listDataFiles(snap).size.toLong
        if (files > minFiles)
          overwrite(readSnapshot(memoryType, snap).repartition(targetPartitions), memoryType)
        files
    }

  // ---- artifacts (J6 write path) ----------------------------------------
  def saveArtifacts(rows: Seq[ArtifactRef]): Unit =
    append(frame(rows, ArtifactEncoder), MemoryType.Artifacts)

  /** Artifact registry, optionally filtered to one memory (the J6
    * lookup's point form — the id predicate pushes to the scan).
    */
  def artifacts(memoryId: Option[String] = None): Dataset[ArtifactRef] = {
    val df = readTable(MemoryType.Artifacts)
    memoryId.fold(df)(m => df.filter(col("memoryId") === m)).as(ArtifactEncoder)
  }

  // ---- workflow outcomes ------------------------------------------------
  def saveWorkflowOutcomes(rows: Seq[WorkflowOutcome]): Unit =
    append(frame(rows, WorkflowOutcomeEncoder), MemoryType.WorkflowOutcomes)

  def workflowOutcomes(projectId: Option[String] = None): Dataset[WorkflowOutcome] =
    scan(MemoryType.WorkflowOutcomes, projectId).as(WorkflowOutcomeEncoder)

  // ---- stats (A4) -------------------------------------------------------
  /** Per-type row counts, narrowed to a project and agents where the
    * table carries those columns (preferences are user-keyed).
    */
  def stats(projectId: Option[String] = None, agents: Seq[String] = Nil): Map[String, Long] =
    MemoryType.All.map { t =>
      t -> readCommitted(t).fold(0L)(narrowed(_, projectId, agents).count())
    }.toMap
}

object MemoryStore {
  /** A memory's feedback score from its signal counts:
    * `(used + up - ignored - down) / total` ∈ [-1, 1], 0.0 with no
    * counted signal (types.py:382-420). The one definition of the score,
    * behind the summary frame and the retrieve's lookup.
    */
  private def feedbackScore(used: Long, up: Long, ignored: Long, down: Long): Double = {
    val total = used + up + ignored + down
    if (total == 0) 0.0 else (used + up - ignored - down).toDouble / total
  }

  private val FeedbackScoreUdf = udf(feedbackScore _)

  private val FeedbackRowEncoder = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)
  private val MemoryFeedbackEncoder = Encoders.product[MemoryFeedback]
  private val CountedSignals = Seq(FeedbackSignal.Used, FeedbackSignal.ThumbsUp,
    FeedbackSignal.Ignored, FeedbackSignal.ThumbsDown)

  /** One partition's `(projectId, memoryId, signal)` rows, counted per
    * memory. A memory whose signals are all unknown still counts (with
    * score 0.0), as it has a row in the summary frame.
    */
  private def countSignals(rows: Iterator[(String, String, String)]): Iterator[MemoryFeedback] = {
    val counts = scala.collection.mutable.HashMap[(String, String), Array[Long]]()
    rows.foreach { case (p, m, signal) =>
      if (p != null && m != null) {
        val c = counts.getOrElseUpdate((p, m), new Array[Long](CountedSignals.size))
        val i = CountedSignals.indexOf(signal)
        if (i >= 0) c(i) += 1
      }
    }
    counts.iterator.map { case ((p, m), c) => MemoryFeedback(p, m, c(0), c(1), c(2), c(3)) }
  }

  /** The feedback scores of every project, per state of a store's
    * feedback table (see [[MemoryStore.feedbackScores]]).
    */
  private val FeedbackScoresMemo = new SessionMemo[FeedbackScores]("feedback_scores_build")

  /** Scores of partial counts, held on the driver and broadcast on a
    * project's first lookup.
    */
  private final class FeedbackScores(s: SparkSession, partials: Seq[MemoryFeedback]) {
    private val byProject = partials.groupBy(_.projectId).map { case (p, rows) =>
      val t = new java.util.HashMap[UTF8String, java.lang.Double]()
      rows.groupBy(_.memoryId).foreach { case (m, cs) =>
        t.put(UTF8String.fromString(m),
          feedbackScore(cs.map(_.used).sum, cs.map(_.up).sum, cs.map(_.ignored).sum, cs.map(_.down).sum))
      }
      p -> t
    }
    private val broadcasts = new java.util.concurrent.ConcurrentHashMap[String, FeedbackLookup.Table]()

    def of(projectId: String): FeedbackLookup.Table =
      broadcasts.computeIfAbsent(projectId, p => s.sparkContext.broadcast(
        byProject.getOrElse(p, new java.util.HashMap[UTF8String, java.lang.Double]())))
  }

  private val SnapName = "snap_([0-9]+)_[0-9a-f]+".r
  private[storage] def versionOf(name: String): Long = name match {
    case SnapName(v) => v.toLong
    case _ => -1L
  }

  /** A fresh snapshot directory name for `version`, formatted in
    * Locale.ROOT: a default locale with native digits (th-TH-u-nu-thai,
    * ar-EG, ...) would print a version [[versionOf]] cannot parse, and
    * every table would read as empty after its next write.
    */
  private[storage] def snapshotName(version: Long): String =
    String.format(java.util.Locale.ROOT, "snap_%06d_%s", Long.box(version),
      java.util.UUID.randomUUID().toString.replace("-", "").take(8))

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

/** One memory's signal counts in one project, as
  * [[MemoryStore.feedbackScore]] takes them.
  */
private[storage] final case class MemoryFeedback(projectId: String, memoryId: String,
    used: Long, up: Long, ignored: Long, down: Long)
