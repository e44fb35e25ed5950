package graft

import graft.io.ArtifactWriter
import graft.io.ArtifactWriter.r6
import graft.workflow.TaskDag
import org.apache.spark.sql.SparkSession

/** Task-dependency benchmark — the runner the reference scaffolds but
  * never wires (benchmarks/task_dependency/runner.py:1-54 prints
  * "Status: SCAFFOLDED"; dag_generator.py:1-227 provides the shapes
  * and the readiness oracle). Here the resolution API exists
  * (workflow.TaskDag), so the benchmark runs end to end:
  *
  *   1. generate each DAG shape at each size
  *   2. resolve execution waves with the distributed Kahn layering
  *   3. simulate wave-by-wave completion, verifying EVERY intermediate
  *      ready set against the reference's closed-form oracle
  *   4. reject the `cyclic` shape (must throw, not hang or mis-resolve)
  *   5. report per-(shape, size) wave counts and resolution wall time
  *
  * Usage: runMain graft.TaskDepRunner [shapes-csv] [sizes-csv]
  */
object TaskDepRunner {

  private val DefaultShapes = Seq("chain", "diamond", "wide_fan", "deep_narrow", "forest")
  private val DefaultSizes = Seq(10, 50, 100)

  final case class ShapeResult(shape: String, size: Int, tasks: Long,
      waves: Long, verifiedWaves: Long, timeS: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val shapes = if (args.nonEmpty) args(0).split(',').toSeq else DefaultShapes
    val sizes = if (args.length > 1) args(1).split(',').map(_.toInt).toSeq else DefaultSizes
    val spark = Entrypoint.session()
    val results = for (shape <- shapes; size <- sizes)
      yield runShape(spark, shape, size)
    val cyclicRejected =
      try { TaskDag.topoWaves(spark,
        TaskDag.toFrames(spark, TaskDag.generateDag("cyclic", 50))._1,
        TaskDag.toFrames(spark, TaskDag.generateDag("cyclic", 50))._2); false }
      catch { case _: IllegalArgumentException => true }
    val rows = results.map(r =>
      s"""{"shape":"${r.shape}","size":${r.size},"tasks":${r.tasks},"waves":${r.waves},"verified_waves":${r.verifiedWaves},"time_s":${r6(r.timeS)},"ok":${r.ok}}""")
      .mkString("[", ",", "]")
    val json = s"""{"metric":"task_dependency","cyclic_rejected":$cyclicRejected,"all_ok":${results.forall(_.ok)},"results":$rows}"""
    println(json)
    ArtifactWriter.publish("taskdep",
      sys.env.getOrElse("SPARK_GRAFT_TASKDEP_OUT", "bench/latest_taskdep.json"), json)
    spark.stop()
  }

  /** Resolve one (shape, size): Kahn waves via the distributed path,
    * then replay completion wave by wave, checking each intermediate
    * ready frontier against the closed-form oracle.
    */
  def runShape(spark: SparkSession, shape: String, size: Int): ShapeResult = {
    val t0 = System.nanoTime()
    val dag @ (ids, edgeList) = TaskDag.generateDag(shape, size)
    val (tasks, edges) = TaskDag.toFrames(spark, dag)
    val waves = TaskDag.topoWaves(spark, tasks, edges)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val byWave = waves.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (w, ts) => w -> ts.map(_._1).toSet }
    var completed = Set.empty[String]
    var verified = 0L
    var ok = true
    for ((w, frontier) <- byWave) {
      val expect = TaskDag.expectedReady(ids, edgeList, completed)
      if (expect == frontier) verified += 1 else ok = false
      completed ++= frontier
    }
    ok &&= completed == ids.toSet
    ShapeResult(shape, size, ids.size.toLong, byWave.size.toLong, verified,
      (System.nanoTime() - t0) / 1e9, ok)
  }
}
