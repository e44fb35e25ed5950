package graft

/** The correctness dump never leaves an earlier run's output in place
  * of a query that failed this time.
  */
class VerifySpec extends SparkSpec {

  test("a failing query's stale output is deleted, so it shows as missing") {
    val out = s"$suiteTempDir/verify_out"
    val stale = new java.io.File(s"$out/q_topk")
    spark.range(3).write.parquet(stale.toString)
    assert(stale.isDirectory)
    // A directory with no tables: q_topk fails to load its input.
    val noTables = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(suiteTempDir, "no_tables")).toString
    Verify.writeOutputs(spark, noTables, out, Some(Set("q_topk")))
    assert(!stale.exists(), "the stale q_topk output survived a failed run")
  }
}
