package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counters of one traced region (a facade call, a query phase). */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    jobMs: Double = 0, shuffleWrite: Long = 0, spill: Long = 0,
    recordsRead: Long = 0, bytesWritten: Long = 0,
    catalystMs: Double = 0, codegenCompiles: Long = 0, codegenMs: Double = 0,
    jobsByModule: Map[String, Long] = Map.empty,
    jobMsByModule: Map[String, Double] = Map.empty) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, jobMs + o.jobMs,
    shuffleWrite + o.shuffleWrite, spill + o.spill,
    recordsRead + o.recordsRead, bytesWritten + o.bytesWritten,
    catalystMs + o.catalystMs, codegenCompiles + o.codegenCompiles, codegenMs + o.codegenMs,
    (jobsByModule.keySet ++ o.jobsByModule.keySet).map(k =>
      k -> (jobsByModule.getOrElse(k, 0L) + o.jobsByModule.getOrElse(k, 0L))).toMap,
    (jobMsByModule.keySet ++ o.jobMsByModule.keySet).map(k =>
      k -> (jobMsByModule.getOrElse(k, 0.0) + o.jobMsByModule.getOrElse(k, 0.0))).toMap)
}

/** One timed region, kept in memory and written out at the end of a run. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, endMs: Long, attrs: Map[String, String])

/** Traced-mode instrumentation, all of it outside the engine:
  *  - a SparkListener counting jobs, stages, tasks, shuffle, spill and
  *    I/O per region (the region label rides on each job as a local
  *    property), and attributing every job to the graft module whose
  *    frame is innermost in the job's call site;
  *  - a QueryExecutionListener summing Catalyst phase time per region;
  *  - Spark's CodeGenerator compile counters, read around each region.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext

  private final class JobRec(val id: Int, val region: String, val site: String,
      val callSite: String, val execId: String, val startMs: Long) {
    var endMs: Long = startMs
    val stages = mutable.ArrayBuffer[StageRec]()
  }
  private final class StageRec(val id: Int, val name: String, val tasks: Int,
      val startMs: Long, val endMs: Long, val shuffleWrite: Long, val spill: Long,
      val recordsRead: Long, val bytesWritten: Long)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()

  private val execModule = mutable.HashMap[String, String]()

  /** A job's module. Jobs of a SQL execution often run on Spark's own
    * threads (adaptive stages, broadcasts), with no engine frame in their
    * call site: they take the module of the frame that started the
    * execution.
    */
  private def moduleOfJob(j: JobRec): String =
    if (j.site.nonEmpty) j.site
    else Option(j.execId).flatMap(execModule.get).filter(_.nonEmpty).getOrElse("other")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execModule(s.executionId.toString) = moduleOf(s.details) }
    case _ =>
  }
  private val stageJob = mutable.HashMap[Int, Int]()
  private val phaseMs = mutable.HashMap[String, Double]()
  @volatile private var currentRegion: String = null

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    // Every action's analysis/optimization/planning time, charged to the
    // region in force when the listener fires: regions are sequential and
    // the bus is drained when each one opens and closes.
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val r = currentRegion
      if (r != null) Tracer.this.synchronized { phaseMs(r) = phaseMs.getOrElse(r, 0.0) + ms }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` as region `label`; returns its value and counters. */
  def region[T](label: String)(body: => T): (T, Counters) = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val c0 = codegenNow()
    sc.setLocalProperty(RegionKey, label)
    currentRegion = label
    val out = try body finally {
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.setLocalProperty(RegionKey, null)
      currentRegion = null
    }
    val c1 = codegenNow()
    (out, countersOf(label).copy(codegenCompiles = c1._1 - c0._1, codegenMs = (c1._2 - c0._2) / 1e6))
  }

  private def countersOf(label: String): Counters = synchronized {
    val js = jobs.values.filter(_.region == label).toSeq
    val st = js.flatMap(_.stages)
    Counters(
      jobs = js.size, stages = st.size, tasks = st.map(_.tasks.toLong).sum,
      jobMs = coveredMs(js.map(j => (j.startMs, j.endMs))),
      shuffleWrite = st.map(_.shuffleWrite).sum, spill = st.map(_.spill).sum,
      recordsRead = st.map(_.recordsRead).sum, bytesWritten = st.map(_.bytesWritten).sum,
      catalystMs = phaseMs.getOrElse(label, 0.0),
      jobsByModule = js.groupBy(moduleOfJob).map { case (m, g) => m -> g.size.toLong },
      jobMsByModule = js.groupBy(moduleOfJob).map { case (m, g) =>
        m -> coveredMs(g.map(j => (j.startMs, j.endMs))) })
  }

  /** Child spans (jobs, and stages under each job) of a region. */
  def childSpans(label: String, parent: Int, nextId: () => Int): Seq[Span] = synchronized {
    jobs.values.filter(_.region == label).toSeq.flatMap { j =>
      val jid = nextId()
      Span(jid, parent, "job", s"job ${j.id}", j.startMs, j.endMs,
        Map("module" -> moduleOfJob(j), "call_site" -> j.callSite)) +:
        j.stages.toSeq.map(s => Span(nextId(), jid, "stage", s"stage ${s.id}", s.startMs, s.endMs,
          Map("name" -> s.name, "tasks" -> s.tasks.toString,
            "shuffle_write_bytes" -> s.shuffleWrite.toString, "spill_bytes" -> s.spill.toString)))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val region = Option(e.properties).flatMap(p => Option(p.getProperty(RegionKey))).orNull
    if (region != null) {
      // The last stage of a job is its result stage: its call site is
      // the driver frame that launched the job.
      val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val execId = Option(e.properties).map(_.getProperty("spark.sql.execution.id")).orNull
      jobs(e.jobId) = new JobRec(e.jobId, region, moduleOf(details), name, execId, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid)) {
      val m = si.taskMetrics
      j.stages += new StageRec(si.stageId, si.name, si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten)
    }
  }
}

object Tracer {
  val RegionKey = "graftbench.region"

  /** (compiles, compile nanos) so far in this JVM. */
  def codegenNow(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)

  private val Frame = """\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([\w$.]+):\d+\)""".r.unanchored

  /** The graft module of the innermost engine frame in a call site:
    * `graft.io.Tables$.load(...)` → `io`, `graft.Alma.learn(...)` →
    * `facade`; "" when no engine frame is on the stack.
    */
  def moduleOf(details: String): String =
    details.split("\n").iterator.collect { case Frame(cls, _) => cls }
      .find(c => c.startsWith("graft.")) match {
      case Some(cls) =>
        val parts = cls.split('.')
        if (parts.length <= 2) "facade" else parts(1)
      case None => ""
    }

  /** Wall-clock milliseconds covered by a set of intervals. */
  def coveredMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
