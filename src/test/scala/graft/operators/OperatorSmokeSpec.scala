package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Every declared query runs at sf0.001 and returns a sane result; the
  * DuckDB value-level check runs in the driver's gate (and locally via
  * tools/compare.py) — this spec guards execution + determinism.
  */
class OperatorSmokeSpec extends SparkSpec {

  // Queries whose legitimate result can be empty at this tiny scale.
  private val mayBeEmpty = Set("q_anti_join", "q_except_set")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, Sf)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query has an oracle — no exemptions left") {
    // Round 5 closed the last rows-only entry: q_multimodal_decode's
    // byte-stat fallback branch is replayed in SQL (its image branch is
    // golden-tested in MultimodalSpec, since ImageIO is not SQL).
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
  }

  /** Files under `root` whose text satisfies `bad`, `except` excluded. */
  private def offenders(root: String, except: Set[String] = Set.empty)(bad: String => Boolean): List[String] = {
    val dir = java.nio.file.Paths.get(root)
    assert(java.nio.file.Files.isDirectory(dir), s"$dir not found from ${new java.io.File(".").getAbsolutePath}")
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.toString).filterNot(except)
      .filter(p => bad(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))).toList
    finally walk.close()
  }

  /** `src` without its comments. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("no operator names java.io.tmpdir — writing queries take their paths from Scratch") {
    // A fixed path under the JVM temp dir is shared by every process and
    // session on the host; graft.internal.Scratch scopes each writing
    // query's directory to its session and application.
    val found = offenders("src/main/scala/graft/operators")(_.contains("java.io.tmpdir"))
    assert(found.isEmpty, s"fixed temp paths in: ${found.mkString(", ")}")
  }

  test("no spec names java.io.tmpdir — suites write under their own suiteTempDir") {
    // Same hazard for specs: two suite runs on one host (or a suite and
    // any other user of a fixed name) would delete each other's tables.
    // This file names the property only to search for it.
    val self = "src/test/scala/graft/operators/OperatorSmokeSpec.scala"
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(self)), s"$self not found")
    val found = offenders("src/test", except = Set(self))(_.contains("java.io.tmpdir"))
    assert(found.isEmpty, s"fixed temp paths in: ${found.mkString(", ")}")
  }

  test("no main builds its own SparkSession — every entrypoint takes graft.Entrypoint.session") {
    // The one setup pins the locale, the UTC session zone Tables.load
    // relies on, and the core count; a hand-built session drifts from it.
    val setup = "src/main/scala/graft/Entrypoint.scala"
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(setup)), s"$setup not found")
    val builders = offenders("src/main", except = Set(setup))(s => code(s).contains("SparkSession.builder()"))
    assert(builders.isEmpty, s"SparkSession.builder() outside the entrypoint setup in: ${builders.mkString(", ")}")
  }

  test("no operator caches outside SessionMemo — no .persist( or .cache()") {
    // Spark's CacheManager is context-wide: a persisted frame is served
    // to every later call in every session, memos off included, and
    // stays until unpersisted. Values kept across calls go through
    // graft.internal.SessionMemo; a frame one query reads more than
    // once is a localCheckpoint, released with the frame.
    val found = offenders("src/main/scala/graft/operators") { s =>
      val c = code(s); c.contains(".persist(") || c.contains(".cache()")
    }
    assert(found.isEmpty, s"persist/cache in: ${found.mkString(", ")}")
  }

  test("flagship entry returns ranked rows") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse, "entry not sorted by score desc")
  }

  test("kNN is deterministic across runs") {
    val a = SparkEntry.queries("q_knn_cosine")(spark, Sf).collect().toSeq
    val b = SparkEntry.queries("q_knn_cosine")(spark, Sf).collect().toSeq
    assert(a == b)
  }

  test("LSH dedup plan contains no cartesian product") {
    val plan = SparkEntry.queries("q_dedup_minhash_lsh")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "LSH dedup must stay bucket-local")
  }
}
