package graft.functions

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import graft.functions.expressions.BoundParam
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** `BoundParam`: a per-call value that evaluates like `lit` but stays
  * out of the generated Java, so plans differing only in the value
  * share compiled classes.
  */
class BoundParamSpec extends SparkSpec {

  private def bound(v: Any): BoundParam = {
    val l = Literal(v)
    BoundParam(l.value, l.dataType)
  }

  private val values: Seq[Any] = Seq(
    1767225780000000L, 42, 2.5, 1.5f, true, "agent-7",
    Timestamp.valueOf("2026-01-01 00:03:00"), Date.valueOf("2026-01-01"))

  test("interpreted eval and codegen agree with the literal") {
    val exprs = values.map(bound)
    val generated = GenerateMutableProjection.generate(exprs).apply(InternalRow.empty)
    exprs.zipWithIndex.foreach { case (e, i) =>
      val want = Literal(values(i))
      assert(e.dataType == want.dataType)
      assert(e.eval() == want.eval(), s"interpreted ${values(i)}")
      assert(generated.get(i, e.dataType) == want.eval(), s"generated ${values(i)}")
    }
  }

  test("a whole-stage plan returns the rows the literal plan returns") {
    def plan(asOf: Column, tag: Column): DataFrame =
      spark.range(5).select(col("id"),
        ((asOf - col("id") * 1000000L).cast("double") / lit(86400000000.0)).as("days"),
        concat(tag, col("id").cast("string")).as("tag"))
    val asOfUs = 1767225780000000L
    assert(plan(BoundParam.of(asOfUs), BoundParam.of("agent-")).collect().toSeq ==
      plan(lit(asOfUs), lit("agent-")).collect().toSeq)
  }

  test("the optimizer does not fold it") {
    def optimized(c: Column): Expression =
      spark.range(1).select(c.as("v")).queryExecution.optimizedPlan
        .collectFirst { case p: Project => p.projectList.head }.get
    assert(optimized(lit(5L) + lit(1L)).children.head == Literal(6L),
      "control: literal arithmetic folds")
    val kept = optimized(BoundParam.of(5L) + lit(1L))
    assert(kept.find(_.isInstanceOf[BoundParam]).nonEmpty, kept.treeString)
    assert(!kept.foldable)
  }

  test("two values generate byte-identical code and the second plan compiles nothing") {
    def plan(p: Column): DataFrame =
      spark.range(8).select((p - col("id")).as("d"), (p * 2L).as("twice"))
    def source(df: DataFrame): String = {
      val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, "expected a whole-stage codegen region")
      stages.map(_.doCodeGen()._2.body).mkString("\n")
    }
    val a = plan(BoundParam.of(1000L))
    val b = plan(BoundParam.of(2000L))
    assert(source(a) == source(b))
    assert(source(plan(lit(1000L))) != source(plan(lit(2000L))),
      "control: a literal's value is part of the generated source")
    assert(a.collect().map(_.getLong(0)).head == 1000L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(b.collect().map(_.getLong(0)).head == 2000L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the second value recompiled the stage")
  }
}
