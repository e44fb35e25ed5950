package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each operator pack contributes named queries plus (where the
  * semantics are SQL-expressible) a DuckDB oracle query; the driver
  * diff-checks them at sf0.01.
  */
object SparkEntry {

  private val packs: Seq[Q] =
    Relational.all ++ Scoring.all ++ TextSearch.all ++ TextAnalysis.all ++
      Dedup.all ++ VectorSearch.all ++ Multimodal.all ++ Retrieval.all ++
      Lifecycle.all ++ Compression.all ++ ScalePatterns.all ++ Analytics.all ++ Sessionize.all ++
      Entities.all ++ graft.sources.Normalizer.all ++ QualityFilters.all ++ Contracts.all ++
      Curation.all ++ Selection.all ++ Layout.all ++ Sketches.all ++ Pq.all ++
      TokenizerTrain.all ++ Profiling.all ++ Progress.all ++ OpsMetrics.all ++
      DomainValidate.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's read path (filter → kNN → score → threshold → top-k)
    * as one Spark plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    requireAsciiDigits()
    Retrieval.pipeline(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    requireAsciiDigits()
    Q.pack(packs)
  }

  /** Spark names Parquet part files (`part-%05d`) in the JVM's default
    * format locale, so under one with native digits (th-TH-u-nu-thai,
    * ar-EG, …) the first write fails on a path like `part-๐๐๐๐๐-…` and
    * leaves the JVM unable to write Parquet even after the locale is
    * restored. `SparkEntry` runs in its caller's JVM, so it cannot pin
    * the locale the way `Entrypoint` does; it refuses before any work.
    */
  private def requireAsciiDigits(): Unit = {
    val locale = java.util.Locale.getDefault(java.util.Locale.Category.FORMAT)
    val zero = java.text.DecimalFormatSymbols.getInstance(locale).getZeroDigit
    if (zero != '0') throw new IllegalStateException(
      s"default locale ${locale.toLanguageTag} formats digits natively (zero '$zero'); " +
        "Spark would fail every Parquet write — set an ASCII-digit default locale, " +
        "such as java.util.Locale.ROOT, before calling graft.SparkEntry")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Q.oracles(packs)
}
