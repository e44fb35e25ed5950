package graftbench

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options passed by `perfbench/run.py`. */
final case class Opts(
    workload: String, seconds: Double, trace: Boolean, cores: Int,
    input: String, work: String, out: String, queries: Seq[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"),
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      cores = m.getOrElse("cores", "4").toInt,
      input = m("input"),
      work = m("work"),
      out = m("out"),
      queries = m.get("queries").toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)))
  }
}

/** Metric lines and the run artifact. Every number is rendered without
  * the JVM's default locale, so a comma-decimal host prints the same
  * machine-readable output as any other.
  */
final class Report(workload: String) {
  private val lines = mutable.ArrayBuffer[String]()
  val attribution = mutable.LinkedHashMap[String, String]()
  val spans = mutable.ArrayBuffer[Span]()
  private var spanId = 0
  def nextSpanId(): Int = { spanId += 1; spanId }

  def metric(name: String, value: Double, unit: String): Unit = {
    val l = s"""{"metric":${Report.str(name)},"value":${Report.num(value)},"unit":${Report.str(unit)},"workload":${Report.str(workload)}}"""
    lines += l
    println("GRAFTBENCH " + l)
  }

  /** Counters of layers the workload never reaches, stated as zero. */
  def zeros(metrics: Seq[(String, String)]): Unit =
    metrics.foreach { case (n, unit) => metric(n, 0.0, unit) }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    val l = s"""{"check":${Report.str(name)},"ok":$ok,"detail":${Report.str(detail)},"workload":${Report.str(workload)}}"""
    lines += l
    println("GRAFTBENCH " + l)
  }

  /** Rows one timed query execution produced (checked against the oracle). */
  def rows(query: String, n: Long): Unit = {
    val l = s"""{"query":${Report.str(query)},"rows":$n,"workload":${Report.str(workload)}}"""
    lines += l
    println("GRAFTBENCH " + l)
  }

  def counts(attempted: Long, failed: Long): Unit = {
    val l = s"""{"attempted":$attempted,"failed":$failed,"workload":${Report.str(workload)}}"""
    lines += l
    println("GRAFTBENCH " + l)
  }

  def writeArtifact(path: String): Unit = {
    val spanJson = spans.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Report.str(k)}:${Report.str(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Report.str(s.kind)},"name":${Report.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":$attrs}"""
    }
    val attr = attribution.map { case (k, v) => s"${Report.str(k)}:$v" }.mkString("{", ",", "}")
    val body = s"""{"workload":${Report.str(workload)},"lines":[${lines.mkString(",")}],"attribution":$attr,"spans":[${spanJson.mkString(",")}]}"""
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
  }
}

object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def fmt(pattern: String, args: Any*): String = String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= fmt("\\u%04x", c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toVector.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Benchmark main: `graftbench.Main --workload <w> --input <dir> ...`.
  * Prints `GRAFTBENCH {...}` metric and check lines on stdout and writes
  * the run artifact (metric lines, per-query/per-call attribution,
  * spans) to `--out`.
  */
object Main {
  /** Timed rounds (agent blocks, sweep passes) a run measures at least,
    * so a slow host still gives every median the same op mix.
    */
  val MinRounds = 2

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opts = Opts.parse(args)
    val report = new Report(opts.workload)
    val spark = session(opts)
    val sessionS = (System.nanoTime() - mainStart) / 1e9
    try {
      opts.workload match {
        case "agent_loop" => new AgentLoop(spark, opts, report, sessionS).run()
        case "query_sweep" => new Sweep(spark, opts, report, sessionS).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      report.metric("jvm.peak_rss_mb", peakRssMb(), "MB")
      report.writeArtifact(opts.out)
    } finally spark.stop()
  }

  def session(opts: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
