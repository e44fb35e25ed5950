package graft

/** Dev tool: dump formatted plans for headline queries.
  *
  * By default prints the INITIAL plan (`explain("formatted")` — what
  * Catalyst ships before AQE re-optimizes). With `--exec` as the first
  * arg, each query is executed first (`toRdd.count()`, the bench's
  * timed action) and the FINAL adaptive plan is printed instead — the
  * only place runtime-only effects like AQE ReuseExchange /
  * AQEShuffleRead coalescing are visible. `SPARK_GRAFT_SF_DIR`
  * overrides the data dir (default sf0.01, where plan SHAPE matches
  * the driver's correctness gate).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Entrypoint.session("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val exec = args.headOption.contains("--exec")
    val names = if (exec) args.drop(1) else args
    names.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, dir)
      if (exec) {
        df.queryExecution.toRdd.count(): Unit
        // After execution the adaptive root reprints with
        // isFinalPlan=true and every runtime rewrite applied.
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
