package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the benchmark tables (TPC-H-ish star schema + events +
  * documents + embeddings), mirroring the reference's storage scans
  * (reference: alma/storage/sqlite_local.py:934-983) as plain Parquet
  * scans so Catalyst gets native predicate/column pushdown.
  *
  * Each table's schema is inferred once per table state: a
  * [[graft.internal.SessionMemo]] keyed by the table path (its
  * file-listing fingerprint makes a rewritten file re-infer) holds the
  * schema, and every read declares it, so a warm load launches no Spark
  * job. With `spark.graft.memo.enabled=false` every load infers.
  * Loading never writes the caller's session conf.
  *
  * Scale note: at 100 TB these reads become partitioned-directory scans;
  * nothing here materializes data on the driver.
  */
object Tables {

  private val schemaMemo = new graft.internal.SessionMemo[StructType]("schema_build")

  /** Parquet schema inference, run on a child session that reads
    * TIMESTAMP(NANOS) as raw long nanos: Spark rejects that type
    * otherwise. The conf stays on the child; the declared schema then
    * reads the column as LongType without it.
    */
  private def inferSchema(spark: SparkSession, path: String): StructType = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    scoped.read.parquet(path).schema
  }

  /** Read one table with its memoized schema. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(schemaMemo.getOrBuild(spark, path)(inferSchema(spark, path)))
      .parquet(path)
    // The generator has shipped three physical encodings of `events.ts`
    // across rounds; normalize all of them to TimestampType (micros) so
    // every downstream unix_micros()/window sees one type:
    //  - TIMESTAMP(NANOS): inferred (and declared) as raw long nanos
    //  - TIMESTAMP_NTZ (isAdjustedToUTC=false): cast via the session
    //    time zone — every entrypoint session (graft.Entrypoint.session)
    //    pins it to UTC, so the wall clock maps 1:1 onto epoch micros
    //    exactly as DuckDB reads the same naive values
    //  - TIMESTAMP(MICROS): already what we want
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Spread a narrow scan across all cores before CPU-heavy per-row
    * work (shingling, hashing, embedding). A single-file input with one
    * row group plans as ONE task no matter what
    * spark.sql.files.maxPartitionBytes says (parquet cannot split
    * inside a row group), which serializes the whole transform on one
    * core. The repartition fires only when the scan's parallelism is
    * below the session default — on a real 100 TB layout the scan
    * already has thousands of splits and this adds no shuffle.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
