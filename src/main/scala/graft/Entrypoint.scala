package graft

import graft.functions.{EmbeddingProvider, HashEmbeddingProvider, Word2VecEmbeddingProvider}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one setup every `main` goes through: its local session, core
  * count and embedding provider. Library code (`SparkEntry`, `Alma`)
  * never calls it — those run inside a caller's JVM and session.
  */
object Entrypoint {

  /** Local threads and default shuffle partitions: `SPARK_GRAFT_CPUS`,
    * else the machine's available processors.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Shuffle partitions for the scaling harnesses (`Bench`,
    * `CurationBench`): `SPARK_GRAFT_SHUFFLE`, else [[cpus]] — a
    * scaling-curve run sizes partitions with the data, the way a
    * cluster job would, rather than pinning them at 1× scale.
    */
  def scaledShuffle: Int = sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt)

  /** Pin the JVM default locale to ROOT. Spark formats part-file names
    * (`part-%05d`, `c%03d`) in the default locale, so under one with
    * native digits (th-TH-u-nu-thai, ar-EG, …) every Parquet write
    * fails on a path like `part-๐๐๐๐๐-…`, and `f"…"` output stops
    * being machine-readable.
    */
  def pinLocale(): Unit = java.util.Locale.setDefault(java.util.Locale.ROOT)

  /** The entrypoint session: locale pinned, `local[cpus]`, UI off, and
    * the session time zone pinned to UTC — load-bearing for
    * `Tables.load`'s TIMESTAMP_NTZ normalization, whose NTZ→timestamp
    * cast reads the session zone, so a non-UTC host would shift every
    * event instant away from the naive values DuckDB reads. After the
    * active session's context died, a caller that cleared the
    * active/default sessions gets a fresh one from the same call.
    */
  def session(logLevel: String = "WARN", shuffle: Int = cpus): SparkSession = {
    pinLocale()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** The embedding provider a harness runs with, and its name for the
    * result JSON — derived from the SAME match, so metrics can never be
    * labelled with an embedder that did not run. `w2v` trains MLlib
    * Word2Vec on `corpus`'s `textCol`; anything else, or no choice, is
    * the deterministic hash embedder, and `corpus` is never evaluated.
    */
  def provider(corpus: => DataFrame, textCol: String,
      choice: Option[String] = sys.env.get("SPARK_GRAFT_PROVIDER")): (EmbeddingProvider, String) =
    choice match {
      case Some("w2v") => (Word2VecEmbeddingProvider.train(corpus, textCol), "w2v")
      case _ => (HashEmbeddingProvider, "hash")
    }
}
