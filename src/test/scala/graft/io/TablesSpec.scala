package graft.io

import java.nio.file.{Files, Paths}

import graft.{JobCounter, SparkSpec}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.LogicalTypeAnnotation.{timestampType, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.parquet.schema.Types
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** [[Tables.load]]: one schema inference per table state, declared on
  * every read, and no write to the caller's session conf.
  */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def withJobs[A](body: JobCounter => A): A = {
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    try body(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("a warm load of an unchanged table launches no Spark job") {
    val dir = tempDir("tableswarm")
    Files.copy(Paths.get(s"$Sf/documents.parquet"), Paths.get(s"$dir/documents.parquet"))
    withJobs { jobs =>
      val cold = jobs.during(Tables.documents(spark, dir): Unit)
      assert(cold >= 1, s"the cold load must infer the schema ($cold jobs)")
      val warm = jobs.during(Tables.documents(spark, dir): Unit)
      assert(warm == 0, s"a warm load launched $warm jobs")
    }
  }

  test("with the memo switch off every load infers its schema") {
    val dir = tempDir("tablesoff")
    Files.copy(Paths.get(s"$Sf/region.parquet"), Paths.get(s"$dir/region.parquet"))
    spark.conf.set("spark.graft.memo.enabled", "false")
    try withJobs { jobs =>
      Tables.region(spark, dir): Unit
      val again = jobs.during(Tables.region(spark, dir): Unit)
      assert(again >= 1, s"an unmemoized load must infer ($again jobs)")
    } finally spark.conf.unset("spark.graft.memo.enabled")
  }

  test("a table rewritten with a different schema is read with the new schema") {
    val dir = tempDir("tablesrewrite")
    val path = s"$dir/part.parquet"
    spark.range(3).select(col("id").as("p_partkey")).write.parquet(path)
    assert(Tables.part(spark, dir).columns.toSeq == Seq("p_partkey"))
    spark.range(3).select(col("id").as("p_partkey"), lit("x").as("p_name"))
      .write.mode("overwrite").parquet(path)
    val reread = Tables.part(spark, dir)
    assert(reread.columns.toSeq == Seq("p_partkey", "p_name"), reread.schema.treeString)
    assert(reread.collect().map(_.getString(1)).toSeq == Seq("x", "x", "x"))
  }

  test("all three physical ts encodings load as TimestampType with the same micros; the conf is untouched") {
    val micros = Seq(1704067200000000L, 1704067200123456L, 1706745599999999L)
    // (unit, isAdjustedToUTC, stored value): TIMESTAMP(NANOS) carries
    // sub-microsecond digits the load truncates.
    val encodings = Seq(
      ("nanos", TimeUnit.NANOS, true, (us: Long) => us * 1000L + 789L),
      ("ntz", TimeUnit.MICROS, false, (us: Long) => us),
      ("micros", TimeUnit.MICROS, true, (us: Long) => us))
    val root = tempDir("tablests")
    val dirs = encodings.map { case (name, unit, adjusted, store) =>
      val schema = Types.buildMessage()
        .required(INT64).named("event_id")
        .required(INT64).as(timestampType(adjusted, unit)).named("ts")
        .named("events")
      val dir = s"$root/$name"
      val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      try {
        val groups = new SimpleGroupFactory(schema)
        micros.zipWithIndex.foreach { case (us, i) =>
          writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", store(us)))
        }
      } finally writer.close()
      name -> dir
    }
    spark.conf.unset(NanosAsLong)
    val before = spark.conf.getAll
    // Both Parquet readers: the declared LongType reads NANOS without
    // the conf on the vectorized and on the row-based path.
    Seq("true", "false").foreach { vectorized =>
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
      try dirs.foreach { case (name, dir) =>
        val events = Tables.events(spark, dir)
        assert(events.schema("ts").dataType == TimestampType, s"$name: ${events.schema("ts")}")
        val got = events.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0))
        assert(got.toSeq == micros, s"$name (vectorized=$vectorized): $got")
      } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    }
    assert(spark.conf.getAll == before, "loading changed the caller's session conf")
    assert(spark.conf.get(NanosAsLong) == "false")
  }
}
