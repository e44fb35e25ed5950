package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Alma
import graft.functions.HashEmbedder
import graft.retrieval.{Modes, QuerySanitizer}
import graft.storage._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One op of the generated script (see gen.py for the row formats). */
final case class Op(kind: String, f: Array[String]) {
  def isWrite: Boolean = kind != "R"
}

/** What one timed op did: its kind, latency, and (traced) counters. */
final case class OpRec(kind: String, ms: Double, results: Int, c: Option[Counters])

/** The closed-loop agent workload over the public `graft.Alma` facade:
  * one client calls learn / retrieve / recordFeedback / recordUsage /
  * maintain from the generated script, waiting on each reply. The
  * simulated clock starts at 2026-01-01 and advances a minute before
  * every write, never on reads, so repeated queries between writes hit
  * the retrieval cache.
  */
final class AgentLoop(spark: SparkSession, opts: Opts, report: Report, sessionS: Double) {
  import AgentLoop._

  private val preload: Seq[Array[String]] = readTsv(s"${opts.input}/preload.tsv")
  private val script: IndexedSeq[Op] = readTsv(s"${opts.input}/ops.tsv").map(r => Op(r(0), r)).toIndexedSeq
  private val embedMemo = mutable.HashMap[String, Array[Float]]()
  private def embed(text: String): Array[Float] = embedMemo.getOrElseUpdate(text, HashEmbedder.embed(text))
  private def at(ageMin: String): Timestamp = new Timestamp(Clock0 - ageMin.toLong * 60000L)

  // Preloaded outcomes by index: feedback/usage ops point at them.
  private val preOutcomes: IndexedSeq[Array[String]] = preload.filter(_(0) == "O").toIndexedSeq
  private val preOutcomeIndex = new java.util.IdentityHashMap[Array[String], Int]()
  preOutcomes.zipWithIndex.foreach { case (r, i) => preOutcomeIndex.put(r, i) }
  private def preOutcomeId(i: Int) = s"pre-o-$i"

  private def bytes(s: String*): Long = s.map(_.getBytes("UTF-8").length.toLong).sum

  /** User bytes of the preload: the text fields a client handed over. */
  private val preloadUserBytes: Long = preload.map(r => bytes(r.drop(1).toIndexedSeq: _*)).sum

  /** Start of the script's last `WarmBlocks` blocks, kept for the warm-up. */
  private val warmFrom: Int = {
    val ends = script.indices.filter(script(_).kind == "M")
    ends(ends.size - 1 - WarmBlocks) + 1
  }

  private var failures = 0L
  private var attempted = 0L

  def run(): Unit = {
    // Set up a store several times, each from the same preload; setup_s
    // takes the median preload. The first (cold) one then takes the
    // warm-up: the script's LAST blocks, which no timed phase reaches — so
    // the timed ops find no codegen classes compiled for their own queries.
    // The second store is timed; a traced run replays on a third.
    val roots = (0 until (if (opts.trace) 3 else 2)).map(i => s"${opts.work}/store-$i")
    val preloadS = roots.map { r =>
      val s0 = System.nanoTime()
      load(new MemoryStore(spark, r), preload)
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    val warm = Alma(spark, roots.head, Project)
    val warmOps = script.drop(warmFrom)
    var warmClock = Clock0
    val warmOpMs = warmOps.map { op =>
      if (op.isWrite) warmClock += 60000L
      val o0 = System.nanoTime()
      exec(warm, op, new Timestamp(warmClock), mutable.Buffer.empty)
      op.kind + ":" + Report.num(Main.ms(o0))
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    report.metric("setup_s", sessionS + Stats.median(preloadS) + warmS, "s")
    report.attribution("setup") = s"""{"session_s":${Report.num(sessionS)},"preload_s":[${preloadS.map(Report.num).mkString(",")}],"warmup_s":${Report.num(warmS)},"warm_ops_ms":${Report.str(warmOpMs.mkString(" "))}}"""

    if (!opts.trace) {
      val ph = phase(roots(1), None, opts.seconds, None)
      endToEnd(ph.recs.toSeq)
      checkStore(ph)
    } else {
      // The traced phase runs where the untraced run times: right after
      // the warm-up. Tracing overhead: the same ops again, untraced, on an
      // identical store. The replay finds the JIT warmer and the queries'
      // codegen classes compiled, so the difference is an upper bound.
      val tracer = new Tracer(spark)
      tracer.attach()
      val traced = try phase(roots(1), Some(tracer), opts.seconds, None)
        finally tracer.detach()
      val plain = phase(roots(2), None, Double.MaxValue, Some(traced.recs.size))
      perLayer(plain, traced)
      checkStore(traced)
      report.zeros(SweepOnly)
    }
    report.counts(attempted, failures)
  }

  // ---- loading ------------------------------------------------------------

  private def load(store: MemoryStore, rows: Seq[Array[String]]): Unit = {
    val outcomes = rows.filter(_(0) == "O").map { r =>
      val i = preOutcomeIndex.get(r)
      Outcome(preOutcomeId(i), r(1), Project, r(2), r(3), r(4) == "1", r(5), r(6).toLong,
        Option(r(7)).filter(_.nonEmpty), at(r(8)), embed(s"${r(3)} ${r(5)}"), Map.empty)
    }
    val heuristics = rows.filter(_(0) == "H").map { r =>
      Heuristic(s"h-$Project-${r(1)}-${r(2)}-${Alma.idHash(r(3))}", r(1), Project, r(2), r(3),
        r(4).toDouble, r(5).toLong, r(6).toLong, at(r(7)), at(r(7)), embed(s"${r(2)} ${r(3)}"), Map.empty)
    }.groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)
    val knowledge = rows.filter(_(0) == "K").zipWithIndex.map { case (r, i) =>
      DomainKnowledge(s"pre-k-$i", r(1), Project, r(2), r(3), r(4), r(5).toDouble, at(r(6)),
        embed(s"${r(2)} ${r(3)}"), Map.empty)
    }
    val anti = rows.filter(_(0) == "A").zipWithIndex.map { case (r, i) =>
      AntiPattern(s"pre-a-$i", r(1), Project, r(2), r(3), "avoid: " + r(2), r(4).toLong,
        at(r(5)), at(r(5)), embed(r(3)), Map.empty)
    }
    val prefs = rows.filter(_(0) == "P").zipWithIndex.map { case (r, i) =>
      UserPreference(s"pre-p-$i", r(1), r(2), r(3), r(4), r(5).toDouble, at(r(6)), Map.empty)
    }
    val loaded = outcomes.map(_.id).toSet
    val feedback = rows.filter(_(0) == "F").zipWithIndex.collect {
      case (r, i) if loaded(preOutcomeId(r(1).toInt)) =>
        val o = preOutcomes(r(1).toInt)
        RetrievalFeedback(s"pre-f-$i", preOutcomeId(r(1).toInt), MemoryType.Outcomes, o(1), Project,
          r(2), at(r(3)))
    }
    store.saveOutcomes(outcomes)
    store.saveHeuristics(heuristics)
    store.saveKnowledge(knowledge)
    store.saveAntiPatterns(anti)
    store.savePreferences(prefs)
    store.saveFeedback(feedback)
  }

  // ---- the timed loop -----------------------------------------------------

  /** Acknowledged writes of one phase, for the durability check. */
  final class Phase(val root: String) {
    val recs = mutable.ArrayBuffer[OpRec]()
    val learned = mutable.ArrayBuffer[String]()
    val feedback = mutable.ArrayBuffer[(String, String, String, Long)]()
    val usageIds = mutable.ArrayBuffer[String]()
    var userBytes = 0L
    var lastMaintain: Option[Timestamp] = None
    val fragmentation = mutable.ArrayBuffer[(Long, Long)]()
    var liveBytesAfter = 0L
  }

  private def phase(root: String, tracer: Option[Tracer], budgetS: Double, maxOps: Option[Int]): Phase = {
    val ph = new Phase(root)
    val alma = Alma(spark, root, Project)
    var clock = Clock0
    var busy = 0.0
    var i = 0
    var blocks = 0
    // Whole blocks only (a block ends with maintain), so every run
    // measures the same op mix.
    def blockDone = i > 0 && script(i - 1).kind == "M"
    while (i < warmFrom && maxOps.forall(i < _) &&
        !(blockDone && blocks >= Main.MinRounds && busy >= budgetS * 1000)) {
      val op = script(i)
      if (op.isWrite) clock += 60000L
      val asOf = new Timestamp(clock)
      if (op.kind == "M") {
        if (tracer.isDefined) ph.fragmentation += storeShape(root)
        ph.lastMaintain = Some(asOf)
      }
      val acks = mutable.Buffer[Ack]()
      attempted += 1
      val t0 = System.nanoTime()
      val (res, c) = try tracer match {
        case Some(t) =>
          val (r, cs) = t.region(s"op-$i-${op.kind}")(exec(alma, op, asOf, acks))
          (r, Some(cs))
        case None => (exec(alma, op, asOf, acks), None)
      } catch {
        case e: Exception =>
          failures += 1
          System.err.println(s"[graftbench] op $i (${op.kind}) failed: ${e.getMessage}")
          (-1, None)
      }
      val latency = Main.ms(t0)
      busy += latency
      for (t <- tracer; cs <- c) {
        val sid = report.nextSpanId()
        val end = System.currentTimeMillis()
        report.spans += Span(sid, 0, "call", callOf(op.kind), end - latency.toLong, end,
          Map("op" -> i.toString, "jobs" -> cs.jobs.toString, "codegen_compiles" -> cs.codegenCompiles.toString))
        report.spans ++= t.childSpans(s"op-$i-${op.kind}", sid, () => report.nextSpanId())
      }
      ph.recs += OpRec(callOf(op.kind), latency, res, c)
      if (op.kind == "M") blocks += 1
      acks.foreach {
        case Ack.Learned(id, b) => ph.learned += id; ph.userBytes += b
        case Ack.Feedback(mid, sig, ag, b) => ph.feedback += ((mid, sig, ag, clock)); ph.userBytes += b
        case Ack.Usage(ids, b) => ph.usageIds ++= ids; ph.userBytes += b
        case Ack.Slice(slice) if op.f(3) == "1" => checkRetrieve(root, op, asOf, slice)
        case _ =>
      }
      i += 1
    }
    ph.liveBytesAfter = liveBytes(root)
    ph
  }

  private def exec(alma: Alma, op: Op, asOf: Timestamp, acks: mutable.Buffer[Ack]): Int = {
    val f = op.f
    op.kind match {
      case "R" =>
        val s = alma.retrieve(f(2), f(1), asOf)
        acks += Ack.Slice(s)
        s.heuristics.size + s.outcomes.size + s.knowledge.size + s.antiPatterns.size + s.preferences.size
      case "L" =>
        val o = alma.learn(f(1), f(2), f(3), f(4) == "1", f(5), asOf, f(6).toLong, Option(f(7)).filter(_.nonEmpty))
        acks += Ack.Learned(o.id, bytes(f.slice(1, 8).toIndexedSeq: _*))
        1
      case "F" =>
        val mid = preOutcomeId(f(2).toInt)
        alma.recordFeedback(mid, MemoryType.Outcomes, f(1), f(3), asOf)
        acks += Ack.Feedback(mid, f(3), f(1), bytes(f(1), mid, f(3)))
        1
      case "U" =>
        val retrieved = f(2).split(',').map(i => preOutcomeId(i.toInt)).toSeq
        val used = f(3).split(',').filter(_.nonEmpty).map(i => preOutcomeId(i.toInt)).toSet
        val ids = alma.recordUsage(retrieved, used, MemoryType.Outcomes, f(1), asOf)
        acks += Ack.Usage(ids, bytes(f(1)) + retrieved.map(bytes(_)).sum)
        ids.size
      case "M" =>
        alma.maintain(asOf, maxOutcomesPerAgent = f(1).toInt)
        1
    }
  }

  // ---- output checks (outside the timed region) ---------------------------

  /** Compare a retrieve result with an independent brute-force scorer over
    * the rows a fresh store reads back. A stale cache hit after a write
    * shows up here as a missing or misplaced memory.
    */
  private def checkRetrieve(root: String, op: Op, asOf: Timestamp, slice: MemorySlice): Unit = {
    val st = new MemoryStore(spark, root)
    val m = Modes.Precise.normalized
    val q = HashEmbedder.embed(QuerySanitizer.sanitize(op.f(2)))
    val agent = op.f(1)
    val asOfUs = asOf.getTime * 1000L
    val fb: Map[String, Double] = st.feedback(Some(Project)).collect().toSeq.groupBy(_.memoryId).map {
      case (id, rs) =>
        val n = rs.size.toDouble
        val pos = rs.count(r => r.signal == "used" || r.signal == "thumbs_up")
        val neg = rs.count(r => r.signal == "ignored" || r.signal == "thumbs_down")
        id -> (if (n == 0) 0.0 else (pos - neg) / n)
    }
    def score(id: String, emb: Array[Float], ts: Timestamp, succ: Double, conf: Double): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < emb.length) {
        val x = emb(i).toDouble; val y = q(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      val den = math.sqrt(nx) * math.sqrt(ny)
      val sim = if (den == 0.0) 0.0 else dot / den
      val days = (asOfUs - ts.getTime * 1000L).toDouble / 86400000000.0
      val base = m.wSim * sim + m.wRecency * math.pow(0.5, days / 30.0) + m.wSuccess * succ + m.wConfidence * conf
      val blended = fb.get(id).fold(base)(s => (1.0 - Alma.FeedbackWeight) * base + Alma.FeedbackWeight * (s + 1.0) / 2.0)
      val exactB = if (sim > 0.9) m.exactMatchBoost else if (sim > 0.8) 1.0 + (m.exactMatchBoost - 1.0) / 2.0 else 1.0
      blended * exactB
    }
    val k = m.topK
    val scored: Map[String, Seq[(String, Double)]] = Map(
      MemoryType.Heuristics -> st.heuristics(Some(Project), Seq(agent)).collect().toSeq.map(h =>
        h.id -> score(h.id, h.embedding, h.lastValidated,
          h.successCount.toDouble / (if (h.occurrenceCount == 0) 1L else h.occurrenceCount), h.confidence)),
      MemoryType.Outcomes -> st.outcomes(Some(Project), Seq(agent)).collect().toSeq.map(o =>
        o.id -> score(o.id, o.embedding, o.timestamp, if (o.success) 1.0 else 0.3, 1.0)),
      MemoryType.Knowledge -> st.knowledge(Some(Project), Seq(agent)).collect().toSeq.map(d =>
        d.id -> score(d.id, d.embedding, d.lastVerified, 1.0, d.confidence)),
      MemoryType.AntiPatterns -> st.antiPatterns(Some(Project), Seq(agent)).collect().toSeq.map(a =>
        a.id -> score(a.id, a.embedding, a.lastSeen, math.min(a.occurrenceCount.toDouble / 10.0, 1.0), 1.0)))
    val got = Map(
      MemoryType.Heuristics -> slice.heuristics.map(_.id),
      MemoryType.Outcomes -> slice.outcomes.map(_.id),
      MemoryType.Knowledge -> slice.knowledge.map(_.id),
      MemoryType.AntiPatterns -> slice.antiPatterns.map(_.id))
    val bad = scored.toSeq.sortBy(_._1).flatMap { case (t, rows) =>
      val byId = rows.toMap
      val want = rows.filter(_._2 >= m.minScore).sortBy { case (id, s) => (-s, id) }.take(k)
      val have = got(t)
      // Ties may order either way; scores must agree position by position.
      val same = have.size == want.size && have.zip(want).forall { case (h, (_, ws)) =>
        byId.get(h).exists(hs => math.abs(hs - ws) <= 1e-9)
      }
      if (same) None else Some(s"$t got=${have.mkString(",")} want=${want.map(_._1).mkString(",")}")
    }
    val wantPrefs = st.preferences().collect().toSeq.map(_.id).sorted.take(k)
    val prefsOk = slice.preferences.map(_.id) == wantPrefs
    val ok = bad.isEmpty && prefsOk
    if (!ok) failures += 1
    report.check("retrieve_brute_force", ok,
      if (ok) s"agent=$agent query=${op.f(2)}" else (bad :+ s"prefs_ok=$prefsOk").mkString("; "))
  }

  /** A fresh store on the same root must read back every acknowledged
    * write, or hold it in the archive, or have pruned it by the 90-day
    * rule of the last `maintain`.
    */
  private def checkStore(ph: Phase): Unit = {
    val st = new MemoryStore(spark, ph.root)
    val live = st.outcomes(Some(Project)).select("id").collect().map(_.getString(0)).toSet
    val archived = st.archived(MemoryType.Outcomes).select("id").collect().map(_.getString(0)).toSet
    val pruneBefore = ph.lastMaintain.map(_.getTime - 90L * 86400000L).getOrElse(Long.MinValue)
    val preMissing = preOutcomes.indices.count { i =>
      val id = preOutcomeId(i)
      !live(id) && !archived(id) && !(at(preOutcomes(i)(8)).getTime < pruneBefore)
    }
    val learnedMissing = ph.learned.count(id => !live(id) && !archived(id))
    val fbRows = st.feedback(Some(Project)).collect()
    val fbKeys = fbRows.map(r => (r.memoryId, r.signal, r.agent, r.timestamp.getTime)).toSet
    val fbIds = fbRows.map(_.id).toSet
    val feedbackMissing = ph.feedback.count(k => !fbKeys(k))
    val usageMissing = ph.usageIds.count(id => !fbIds(id))
    val missing = learnedMissing + feedbackMissing + usageMissing
    failures += missing + preMissing
    report.check("durability", missing + preMissing == 0,
      s"learned=${ph.learned.size} feedback=${ph.feedback.size} usage=${ph.usageIds.size} " +
        s"missing_preload=$preMissing missing_learned=$learnedMissing " +
        s"missing_feedback=$feedbackMissing missing_usage=$usageMissing")
  }

  // ---- metrics ------------------------------------------------------------

  private def endToEnd(recs: Seq[OpRec]): Unit = {
    val lat = recs.map(_.ms)
    report.attribution("ops_ms") = recs.map(r => s"${Report.str(r.kind)}:${Report.num(r.ms)}").mkString("[{", "},{", "}]")
    report.metric("ops_per_s", recs.size / (lat.sum / 1000.0), "1/s")
    report.metric("read_p50_ms", Stats.median(recs.filter(_.kind == "retrieve").map(_.ms)), "ms")
    callStats(recs)
  }

  /** Per-call latency attribution (artifact only). */
  private def callStats(recs: Seq[OpRec]): Unit =
    recs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      val l = rs.map(_.ms)
      report.attribution(s"call.$k") =
        s"""{"n":${rs.size},"p50_ms":${Report.num(Stats.median(l))},"p90_ms":${Report.num(Stats.quantile(l, 0.9))},"mean_ms":${Report.num(Stats.mean(l))}}"""
    }

  private def perLayer(plain: Phase, traced: Phase): Unit = {
    val recs = traced.recs.toSeq
    val n = recs.size.toDouble
    val cs = recs.flatMap(_.c)
    val total = cs.foldLeft(Counters())(_ + _)
    val busy = recs.map(_.ms).sum
    report.metric("spark.jobs_per_op", total.jobs / n, "count")
    report.metric("spark.stages_per_op", total.stages / n, "count")
    report.metric("spark.tasks_per_op", total.tasks / n, "count")
    report.metric("spark.job_ms_per_op", total.jobMs / n, "ms")
    report.metric("spark.driver_ms_per_op", (busy - total.jobMs) / n, "ms")
    report.metric("spark.shuffle_write_bytes_per_op", total.shuffleWrite / n, "B")
    report.metric("spark.spill_bytes_per_op", total.spill / n, "B")
    report.metric("catalyst.ms_per_op", total.catalystMs / n, "ms")
    report.metric("codegen.compiles_per_op", total.codegenCompiles / n, "count")
    report.metric("codegen.ms_per_op", total.codegenMs / n, "ms")

    def per(kind: String)(f: Counters => Double): Double = {
      val xs = recs.filter(_.kind == kind).flatMap(_.c)
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    }
    for (call <- Calls) {
      report.metric(s"$call.jobs_per_call", per(call)(_.jobs.toDouble), "count")
      report.metric(s"$call.tasks_per_call", per(call)(_.tasks.toDouble), "count")
    }
    report.metric("retrieve.codegen_compiles_per_call", per("retrieve")(_.codegenCompiles.toDouble), "count")
    report.metric("learn.codegen_compiles_per_call", per("learn")(_.codegenCompiles.toDouble), "count")
    val retr = recs.filter(_.kind == "retrieve")
    val hits = retr.count(_.c.exists(_.jobs == 0))
    report.metric("retrieval.retrieves", retr.size.toDouble, "count")
    report.metric("retrieval.cache_hit_ratio", if (retr.isEmpty) 0.0 else hits.toDouble / retr.size, "ratio")
    val results = retr.map(_.results.max(0)).sum
    report.metric("retrieval.rows_read_per_result",
      if (results == 0) 0.0 else retr.flatMap(_.c).map(_.recordsRead).sum.toDouble / results, "count")
    report.metric("storage.jobs_per_learn", per("learn")(_.jobsByModule.getOrElse("storage", 0L).toDouble), "count")
    report.metric("storage.files_per_table", traced.fragmentation.map(_._1).foldLeft(0L)(_ max _).toDouble, "count")
    report.metric("storage.snapshot_dirs", traced.fragmentation.map(_._2).foldLeft(0L)(_ max _).toDouble, "count")
    report.metric("storage.write_amp",
      if (traced.userBytes == 0) 0.0 else total.bytesWritten.toDouble / traced.userBytes, "ratio")
    report.metric("storage.bytes_per_user_byte",
      traced.liveBytesAfter.toDouble / (preloadUserBytes + traced.userBytes), "ratio")
    val plainMean = Stats.mean(plain.recs.toSeq.map(_.ms))
    val tracedMean = Stats.mean(recs.map(_.ms))
    report.metric("trace.overhead_ms_per_op", tracedMean - plainMean, "ms")
    report.metric("trace.overhead_pct", 100.0 * (tracedMean - plainMean) / plainMean, "%")

    // Attribution: per-call time split, and spans for every traced call.
    callStats(recs)
    for (call <- Calls) {
      val xs = recs.filter(_.kind == call)
      val jobMs = xs.flatMap(_.c).map(_.jobMs)
      if (xs.nonEmpty) report.attribution(s"split.$call") =
        s"""{"job_ms_per_call":${Report.num(jobMs.sum / xs.size)},"driver_ms_per_call":${Report.num((xs.map(_.ms).sum - jobMs.sum) / xs.size)},"codegen_ms_per_call":${Report.num(xs.flatMap(_.c).map(_.codegenMs).sum / xs.size)},"storage_job_ms_per_call":${Report.num(xs.flatMap(_.c).map(_.jobMsByModule.getOrElse("storage", 0.0)).sum / xs.size)}}"""
    }
    val modules = total.jobsByModule.toSeq.sortBy(_._1).map { case (m, j) => s"${Report.str(m)}:$j" }
    report.attribution("jobs_by_module") = modules.mkString("{", ",", "}")
  }

  // ---- store shape (listing the root) -------------------------------------

  /** (max parquet files in one table's current snapshot, snapshot dirs). */
  private def storeShape(root: String): (Long, Long) = {
    val tables = tableDirs(root)
    val files = tables.map(t => current(t).map(s => listFiles(s).count(_.toString.endsWith(".parquet")).toLong).getOrElse(0L))
    val snaps = tables.map(t => listDir(t).count(_.getFileName.toString.startsWith("snap_")).toLong)
    (files.foldLeft(0L)(_ max _), snaps.sum)
  }

  private def liveBytes(root: String): Long =
    tableDirs(root).flatMap(current).flatMap(listFiles).filter(_.toString.endsWith(".parquet"))
      .map(p => Files.size(p)).sum

  private def tableDirs(root: String): Seq[Path] =
    listFiles(Paths.get(root)).filter(_.getFileName.toString == "_CURRENT").map(_.getParent)

  private def current(table: Path): Option[Path] = {
    val name = new String(Files.readAllBytes(table.resolve("_CURRENT")), "UTF-8").trim
    Some(table.resolve(name)).filter(Files.isDirectory(_))
  }
}

object AgentLoop {
  val Project = "bench"
  val Clock0: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  val Calls = Seq("retrieve", "learn", "feedback", "maintain")
  /** Blocks of the script run untimed before the timed phase. */
  val WarmBlocks = 1

  /** Per-layer counters this workload never exercises (reported as 0). */
  val SweepOnly: Seq[(String, String)] = Seq("io.schema_jobs", "sweep.queries", "sweep.jobs",
    "sweep.jobs_build", "sweep.stages", "sweep.tasks", "sweep.codegen_compiles").map(_ -> "count") ++
    Seq("sweep.shuffle_write_bytes", "sweep.spill_bytes").map(_ -> "B")

  def callOf(kind: String): String = kind match {
    case "R" => "retrieve"
    case "L" => "learn"
    case "F" | "U" => "feedback"
    case "M" => "maintain"
  }

  sealed trait Ack
  object Ack {
    final case class Learned(id: String, bytes: Long) extends Ack
    final case class Feedback(memoryId: String, signal: String, agent: String, bytes: Long) extends Ack
    final case class Usage(ids: Seq[String], bytes: Long) extends Ack
    final case class Slice(s: MemorySlice) extends Ack
  }

  def readTsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(new File(path), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }

  def listDir(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }
}
