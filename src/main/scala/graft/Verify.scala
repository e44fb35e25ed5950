package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Entrypoint.session()
    // Optional comma-separated name filter (same contract as Bench's
    // SPARK_GRAFT_QUERIES) — builder-side iteration aid; the driver
    // sets nothing and gets every query. Use a FRESH outDir per
    // filtered run: oracle_sql.json is rewritten with only the subset,
    // so stale parquet dirs from a previous full run in the same outDir
    // would no longer have oracle entries.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    writeOutputs(spark, sfDir, outDir, only)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each query's result (all of them, or those `only` names) to
    * `$outDir/<name>`. A query's old output is deleted before it runs,
    * so one that fails shows as missing, never as an earlier result.
    */
  def writeOutputs(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
  }
}
