package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE compact JSON line (totals + slowest
  * queries — guaranteed to survive the driver's ~2000-char stdout
  * truncation) and writes the full per-query JSON to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench/latest_bench.json`).
  *
  * Determinism rules (so per-query times are comparable across rounds):
  *   - queries run in sorted name order, never Map hash order — adding a
  *     query must not reshuffle who pays cold-start costs;
  *   - one cold pass runs first, then `SPARK_GRAFT_BENCH_ITERS`
  *     (default 1) full warm passes; each query reports the MEDIAN of
  *     its warm times. Per-query run-to-run spread measured ±25 % on
  *     single warm passes — closing-pair artifacts use ITERS=3 to
  *     tighten the regression band. Passes interleave whole sweeps
  *     (never N back-to-back runs of one query) so cache warmth stays
  *     representative of a mixed workload;
  *   - the cold pass total is still reported separately (`cold_total`)
  *     because first-touch cost is real, it just is not per-query signal.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def newSession(): SparkSession = {
      val s = Entrypoint.session(shuffle = Entrypoint.scaledShuffle)
      // The bounded single-partition sorts above `.limit(…)` candidate
      // cuts each emit a "No Partition Defined for Window operation"
      // WARN — hundreds per sweep, burying the result JSON in the tail.
      // They are plan-asserted bounded (PlanShapeSpec), so the bench
      // harness silences that one logger package rather than the
      // planner: a NEW unpartitioned window over a raw table would
      // still be caught by the spec, not by log archaeology.
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window",
        org.apache.logging.log4j.Level.ERROR)
      // Warm up the JVM/codegen/parquet-reader paths once so the first
      // measured query doesn't absorb session startup.
      s.range(1000000).selectExpr("sum(id)").collect()
      s.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
      s
    }
    var spark = newSession()

    // Execute the query's OWN physical plan and count its InternalRows.
    // A DataFrame .count() would instead optimize a count-rewritten
    // plan, and Catalyst rightly prunes everything cardinality-neutral
    // out of it — unreferenced aggregate expressions, left joins that
    // can't change row counts, whole column pipelines. For queries
    // whose cost lives in exactly those columns (q_span_scrub's scrub
    // machinery collapses to a bare token count under count()), that
    // measures a different, cheaper query. toRdd runs the plan as the
    // query ships it: every output column materialized.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: " + e.getMessage)
        // If the failure took the SparkContext down with it (an OOM on
        // an oversized run did exactly this once: every later query
        // "failed" in milliseconds against a dead context), rebuild the
        // session so one query's crash can't poison the rest of the
        // sweep's measurements.
        if (spark.sparkContext.isStopped) {
          System.err.println(s"[bench] SparkContext died during $name - restarting session")
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
          spark = newSession()
        }
        // A failed query reports -1.0 so it cannot hide inside a
        // healthy-looking total.
        -1.0
      }
    }

    // SPARK_GRAFT_QUERIES=a,b,c restricts the run (scaling-curve
    // measurements of one operator family); default is every query.
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.contains(n)) }
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "1").toInt.max(1)
    val cold = ordered.map { case (name, fn) => name -> runOnce(name, fn) }
    val warmPasses = (1 to iters).map { _ =>
      ordered.map { case (name, fn) => runOnce(name, fn) }
    }
    // Median over the warm passes; a query that failed in SOME passes
    // reports the median of its successes, one that failed in ALL
    // passes reports -1 (so a failure still cannot hide in a total).
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }
    val warm = ordered.map(_._1).zipWithIndex.map { case (name, i) =>
      name -> median(warmPasses.map(_(i)))
    }

    val qs = warm.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val warmTotal = warm.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    val failed = warm.count(_._2 < 0)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/latest_bench.json")
    val json = s"""{"metric":"total","value":$warmTotal,"unit":"sec","queries":$qs,"cold_total":$coldTotal,"failed":$failed,"iters":$iters,"sf":"$sfDir"}"""
    // The stdout line gets tail-truncated by log capture once the
    // per-query map outgrows ~2000 chars (163 queries did, and the
    // driver's parse came back null every round since). Stdout carries
    // a compact marker — totals plus only the slowest queries, always
    // parseable — and the full per-query JSON goes to the artifact
    // file, written atomically so a crash mid-write can't truncate it.
    val slowest = warm.sortBy { case (_, v) => -v }.take(5)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$warmTotal,"unit":"sec","queries":$slowest,"n_queries":${warm.size},"cold_total":$coldTotal,"failed":$failed,"iters":$iters,"sf":"$sfDir","full":"$outPath"}""")
    // The full per-query map can't ride the compact line (it outgrows the
    // ~2000-char stdout line capture), so it is ALSO emitted as a sequence
    // of short self-describing marker lines, each guaranteed under 1900
    // chars: {"metric":"queries_part","i":k,"n":N,"queries":{...}}. A
    // parser that concatenates the `queries` maps of parts 1..N (matching
    // on "n" and the shared "total" stamp) recovers the full map without
    // ever needing the artifact file. Values carry 6 decimals — microsecond
    // resolution, far below the ±25 % single-pass spread — formatted in
    // the root locale, so a comma-decimal JVM still prints valid JSON.
    // The guarantee assumes no single entry exceeds the 1700-char part
    // budget (query names are short identifiers); the chunker never splits
    // an entry, so a longer one fails here instead of breaking the bound.
    val partEntries = warm.map { case (k, v) =>
      "\"" + k + "\":" +
        (if (v < 0) "-1.0" else String.format(java.util.Locale.ROOT, "%.6f", Double.box(v)))
    }
    require(partEntries.forall(_.length + 1 <= 1700),
      "a queries_part entry exceeds the 1700-char part budget")
    val parts = {
      val buf = scala.collection.mutable.ArrayBuffer[List[String]]()
      var cur = List.empty[String]; var len = 0
      partEntries.foreach { e =>
        if (len + e.length + 1 > 1700 && cur.nonEmpty) { buf += cur.reverse; cur = Nil; len = 0 }
        cur = e :: cur; len += e.length + 1
      }
      if (cur.nonEmpty) buf += cur.reverse
      buf.toSeq
    }
    parts.zipWithIndex.foreach { case (entries, idx) =>
      println(s"""{"metric":"queries_part","i":${idx + 1},"n":${parts.size},"total":$warmTotal,"queries":${entries.mkString("{", ",", "}")}}""")
    }
    graft.io.ArtifactWriter.publish("bench", outPath, json)
    // Run-labeled copy so a later run at a different core count (the
    // driver's 8-core scaling pass) can't clobber the canonical 32-core
    // per-query data — the judge reconstructs round-over-round from these.
    val labeled = outPath.replaceAll("\\.json$", "") + s"_c${Entrypoint.cpus}.json"
    if (labeled != outPath) graft.io.ArtifactWriter.publish("bench", labeled, json)
    spark.stop()
  }
}
