package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query layer split of one traced execution. */
final case class QueryTrace(startMs: Long, buildMs: Double, planMs: Double, execMs: Double,
    build: Counters, plan: Counters, exec: Counters) {
  def total: Counters = build + plan + exec
  def ms: Double = buildMs + planMs + execMs
}

/** The analytics sweep over `graft.SparkEntry.queries`, in sorted order.
  * Set-up runs untimed passes (JIT, codegen, SessionMemo); timed passes
  * then run whole until `--seconds` is used. A query is timed the way
  * `graft.Bench` times it: build the DataFrame, then run its own
  * physical plan through `toRdd`.
  */
final class Sweep(spark: SparkSession, opts: Opts, report: Report, sessionS: Double) {
  import Sweep._
  private val dir = s"${opts.input}/data"
  private val all = graft.SparkEntry.queries
  private val names: Seq[String] =
    (if (opts.queries.isEmpty) all.keys.toSeq else opts.queries).sorted
  names.foreach(n => require(all.contains(n), s"unknown query $n"))

  private val oracle = graft.SparkEntry.oracleSql
  private val outDir = s"${opts.work}/outputs"

  private var attempted = 0L
  private var failures = 0L

  private def fn(name: String): (SparkSession, String) => DataFrame = all(name)

  /** Run one query as `graft.Bench` does; (ms, rows produced). */
  private def runOnce(name: String): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = fn(name)(spark, dir).queryExecution.toRdd.count()
    (Main.ms(t0), rows)
  }

  private def runTraced(name: String, tracer: Tracer, pass: Int): QueryTrace = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (df, cb) = tracer.region(s"$pass|$name|build")(fn(name)(spark, dir))
    val t1 = System.nanoTime()
    val (_, cp) = tracer.region(s"$pass|$name|plan")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val (rows, ce) = tracer.region(s"$pass|$name|exec")(df.queryExecution.toRdd.count())
    val t3 = System.nanoTime()
    report.rows(name, rows)
    QueryTrace(start, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, cb, cp, ce)
  }

  /** One whole pass; per-query ms, or -1 for a failure. A timed pass
    * reports each query's row count for the oracle check.
    */
  private def pass(timed: Boolean): Seq[Double] = names.map { n =>
    if (timed) attempted += 1
    try {
      val (ms, rows) = runOnce(n)
      if (timed) report.rows(n, rows)
      ms
    } catch {
      case e: Exception =>
        if (timed) failures += 1
        System.err.println(s"[graftbench] $n failed: ${e.getMessage}")
        -1.0
    }
  }

  /** Write every output that has oracle SQL as Parquet, for the oracle
    * check; per-query ms.
    */
  private def writeOutputs(): Seq[Double] = names.filter(oracle.contains).map { n =>
    val t0 = System.nanoTime()
    try fn(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
    catch { case e: Exception => System.err.println(s"[graftbench] $n failed: ${e.getMessage}") }
    Main.ms(t0)
  }

  def run(): Unit = {
    // Set-up: untimed passes (JIT, codegen, SessionMemo); the first one
    // writes the outputs the oracle check reads. setup_s takes the median.
    writeOracleSql()
    val setupMs = (0 until SetupPasses).map(i => if (i == 0) writeOutputs() else pass(timed = false))
    val reps = setupMs.map(_.sum / 1000)
    report.metric("setup_s", sessionS + Stats.median(reps), "s")
    report.attribution("setup") =
      s"""{"session_s":${Report.num(sessionS)},"pass_s":[${reps.map(Report.num).mkString(",")}],"queries":${names.size},"query_ms":[${setupMs.map(_.map(Report.num).mkString("[", ",", "]")).mkString(",")}]}"""

    if (!opts.trace) {
      val passes = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
      var busy = 0.0
      while (passes.size < Main.MinRounds || busy < opts.seconds * 1000) {
        passes += pass(timed = true)
        busy += passes.last.filter(_ >= 0).sum
      }
      val lat = passes.flatten.filter(_ >= 0)
      report.metric("ops_per_s", lat.size / (lat.sum / 1000.0), "1/s")
      report.metric("read_p50_ms", Stats.median(lat), "ms")
      report.attribution("pass_s") = passes.map(p => Report.num(p.filter(_ >= 0).sum / 1000)).mkString("[", ",", "]")
      names.zipWithIndex.foreach { case (n, i) =>
        report.attribution(s"query.$n") =
          s"""{"p50_ms":${Report.num(Stats.median(passes.map(_(i)).filter(_ >= 0)))}}"""
      }
    } else traced()

    report.counts(attempted, failures)
  }

  /** Alternate untraced and traced passes; per-layer metrics from the
    * traced ones, tracing overhead from the difference.
    */
  private def traced(): Unit = {
    val tracer = new Tracer(spark)
    val plain = scala.collection.mutable.ArrayBuffer[Double]()
    val traces = scala.collection.mutable.ArrayBuffer[Seq[(String, QueryTrace)]]()
    var busy = 0.0
    var p = 0
    while (p < 2 || busy < opts.seconds * 1000) {
      if (p % 2 == 0) {
        val t = pass(timed = true).filter(_ >= 0).sum
        plain += t; busy += t
      } else {
        tracer.attach()
        val qs = try names.map { n =>
          attempted += 1
          n -> runTraced(n, tracer, p)
        } finally tracer.detach()
        traces += qs
        busy += qs.map(_._2.ms).sum
      }
      p += 1
    }
    val n = names.size.toDouble
    val last = traces.last
    val perPass = traces.map(_.map(_._2.total).foldLeft(Counters())(_ + _))
    val tot = perPass.last
    val passMs = traces.map(_.map(_._2.ms).sum)
    val buildJobs = last.map(_._2.build.jobs).sum
    report.metric("spark.jobs_per_op", tot.jobs / n, "count")
    report.metric("spark.stages_per_op", tot.stages / n, "count")
    report.metric("spark.tasks_per_op", tot.tasks / n, "count")
    report.metric("spark.job_ms_per_op", tot.jobMs / n, "ms")
    report.metric("spark.driver_ms_per_op", (passMs.last - tot.jobMs) / n, "ms")
    report.metric("spark.shuffle_write_bytes_per_op", tot.shuffleWrite / n, "B")
    report.metric("spark.spill_bytes_per_op", tot.spill / n, "B")
    report.metric("catalyst.ms_per_op", (last.map(_._2.planMs).sum + tot.catalystMs) / n, "ms")
    report.metric("codegen.compiles_per_op", tot.codegenCompiles / n, "count")
    report.metric("codegen.ms_per_op", tot.codegenMs / n, "ms")
    report.metric("io.schema_jobs", last.map(_._2.build.jobsByModule.getOrElse("io", 0L)).sum.toDouble, "count")
    report.metric("sweep.queries", n, "count")
    report.metric("sweep.jobs", tot.jobs.toDouble, "count")
    report.metric("sweep.jobs_build", buildJobs.toDouble, "count")
    report.metric("sweep.stages", tot.stages.toDouble, "count")
    report.metric("sweep.tasks", tot.tasks.toDouble, "count")
    report.metric("sweep.shuffle_write_bytes", tot.shuffleWrite.toDouble, "B")
    report.metric("sweep.spill_bytes", tot.spill.toDouble, "B")
    report.metric("sweep.codegen_compiles", tot.codegenCompiles.toDouble, "count")
    val plainMean = Stats.median(plain.toSeq) / n
    val tracedMean = Stats.median(passMs.toSeq) / n
    report.metric("trace.overhead_ms_per_op", tracedMean - plainMean, "ms")
    report.metric("trace.overhead_pct", 100.0 * (tracedMean - plainMean) / plainMean, "%")

    // Attribution: the pass-level layer split, counts that moved between
    // traced passes, and per-query values of the last traced pass.
    val split = Seq(
      "build_s" -> last.map(_._2.buildMs).sum / 1000, "plan_s" -> last.map(_._2.planMs).sum / 1000,
      "exec_s" -> last.map(_._2.execMs).sum / 1000, "codegen_ms" -> tot.codegenMs,
      "io_schema_ms" -> last.map(_._2.build.jobMsByModule.getOrElse("io", 0.0)).sum,
      "pass_s" -> passMs.last / 1000, "untraced_pass_s" -> Stats.median(plain.toSeq) / 1000)
    report.attribution("sweep") = split.map { case (k, v) => s""""$k":${Report.num(v)}""" }.mkString("{", ",", "}")
    val moved = Seq[(String, Counters => Long)]("jobs" -> (_.jobs), "stages" -> (_.stages),
      "tasks" -> (_.tasks), "codegen_compiles" -> (_.codegenCompiles)).collect {
      case (k, f) if perPass.map(f).distinct.size > 1 => s""""$k":[${perPass.map(f).mkString(",")}]"""
    }
    report.attribution("counts_moved_between_passes") = moved.mkString("{", ",", "}")
    report.zeros(AgentOnly)
    last.foreach { case (q, t) =>
      val c = t.total
      report.attribution(s"query.$q") =
        s"""{"build_ms":${Report.num(t.buildMs)},"plan_ms":${Report.num(t.planMs)},"exec_ms":${Report.num(t.execMs)},"jobs_build":${t.build.jobs},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"shuffle_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},"codegen_compiles":${c.codegenCompiles},"io_jobs":${t.build.jobsByModule.getOrElse("io", 0L)}}"""
    }
    // Spans: query → build/plan/exec → jobs → stages (last traced pass).
    last.foreach { case (q, t) =>
      val qid = report.nextSpanId()
      report.spans += Span(qid, 0, "query", q, t.startMs, t.startMs + t.ms.toLong,
        Map("build_ms" -> Report.num(t.buildMs), "plan_ms" -> Report.num(t.planMs), "exec_ms" -> Report.num(t.execMs)))
      val bounds = Seq(0.0, t.buildMs, t.buildMs + t.planMs, t.ms).map(ms => t.startMs + ms.toLong)
      Seq("build", "plan", "exec").zipWithIndex.foreach { case (ph, k) =>
        val pid = report.nextSpanId()
        report.spans += Span(pid, qid, "phase", ph, bounds(k), bounds(k + 1), Map.empty)
        report.spans ++= tracer.childSpans(s"${traces.size * 2 - 1}|$q|$ph", pid, () => report.nextSpanId())
      }
    }
  }

  private def writeOracleSql(): Unit = {
    val json = names.filter(oracle.contains).map(n => s"${Report.str(n)}:${Report.str(oracle(n))}")
      .mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json.getBytes("UTF-8"))
  }
}

object Sweep {
  /** Untimed set-up passes; setup_s takes the median. */
  val SetupPasses = 2

  /** Per-layer counters of the agent loop, which the sweep never reaches. */
  val AgentOnly: Seq[(String, String)] =
    (AgentLoop.Calls.flatMap(c => Seq(s"$c.jobs_per_call", s"$c.tasks_per_call")) ++
      Seq("retrieve.codegen_compiles_per_call", "learn.codegen_compiles_per_call",
        "retrieval.retrieves", "retrieval.rows_read_per_result", "storage.jobs_per_learn",
        "storage.files_per_table", "storage.snapshot_dirs")).map(_ -> "count") ++
      Seq("retrieval.cache_hit_ratio", "storage.write_amp", "storage.bytes_per_user_byte").map(_ -> "ratio")
}
