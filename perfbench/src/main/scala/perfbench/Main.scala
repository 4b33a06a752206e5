package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, time one workload for a fixed
  * number of seconds, check its outputs, and write everything measured
  * to `<work>/result.json` for `run.py` to summarise.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --cores <n> --tables <dir>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cores: Int, tables: Path)

  /** What a run reports. Samples are in milliseconds. */
  final class Report(jvmStartMs: Long) {
    /** JVM start → first timed operation. */
    var setupWallMs = -1.0
    def timedStarts(): Unit = if (setupWallMs < 0)
      setupWallMs = (System.currentTimeMillis() - jvmStartMs).toDouble
    /** Set-up's parts, for the record. */
    val setup = ArrayBuffer.empty[(String, Double)]
    val inputsMs = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Double]
    val series = scala.collection.mutable.LinkedHashMap
      .empty[String, ArrayBuffer[Double]]
    val values = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0L
    var failed = 0L

    def sample(name: String, v: Double): Unit =
      series.getOrElseUpdate(name, ArrayBuffer.empty) += v
    def value(name: String, v: Any): Unit = values(name) = v match {
      case s: String => Json.str(s)
      case d: Double => Json.num(d)
      case other => other.toString
    }
    /** A correctness check; a failed one counts as a failed operation. */
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      checks += ((name, ok, if (ok) "" else detail))
      attempted += 1
      if (!ok) failed += 1
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    val report = new Report(jvmStartMs)
    val spark = session(args)
    report.setup += (("session_ms", (System.currentTimeMillis() - jvmStartMs).toDouble))
    val tracer = new Tracer(spark, args.trace)
    val counters = new EngineCounters
    val workload = args.workload match {
      case "daily_batch" => new DailyBatch(spark, args, report, tracer, counters)
      case "analytics_sf001" => new Analytics(spark, args, report, tracer, counters)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try workload.run()
    finally {
      tracer.drain()
      val spans = if (args.trace) tracer.spansJson() else "[]"
      tracer.close()
      val rssKb = peakRssKb()
      Files.writeString(args.work.resolve("result.json"),
        resultJson(args, report, counters, rssKb, spans))
      spark.stop()
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      need("--cores").toInt, Paths.get(need("--tables")).toAbsolutePath)
  }

  /** The session `PipelineCli` would build for `--cpus <cores>`, so its
    * `getOrCreate` conf writes are no-ops; the analytics workload adds
    * what `Bench` adds (the graft extensions, AQE on).
    */
  private def session(args: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    val s = (if (args.workload == "analytics_sf001")
      b.withExtensions(new graft.plans.GraftExtensions)
        .config("spark.sql.adaptive.enabled", "true")
    else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssKb(): Long = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  private def resultJson(args: Args, r: Report, c: EngineCounters,
      rssKb: Long, spans: String): String = {
    def arr(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val fields = Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "seconds" -> Json.num(args.seconds),
      "trace" -> args.trace.toString,
      "cores" -> args.cores.toString,
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "setup_wall_ms" -> Json.num(r.setupWallMs),
      "setup_ms" -> r.setup.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
        .mkString("{", ",", "}"),
      "inputs_ms" -> arr(r.inputsMs),
      "ops_ms" -> arr(r.ops),
      "series" -> r.series.map { case (k, v) => Json.str(k) + ":" + arr(v) }
        .mkString("{", ",", "}"),
      "values" -> r.values.map { case (k, v) => Json.str(k) + ":" + v }
        .mkString("{", ",", "}"),
      "checks" -> r.checks.map { case (n, ok, d) =>
        s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
      }.mkString("[", ",", "]"),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "peak_rss_kb" -> rssKb.toString,
      "engine" -> c.json,
      "spans" -> spans)
    fields.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",\n", "}\n")
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Process-wide engine counters over the timed region: codegen compiles
  * (Spark's `CodegenMetrics`), codegen fallbacks (`CodegenWatch`), GC
  * time, and the host's CPU steal (the share of CPU time the hypervisor
  * gave to other guests: context for a slow run, not a metric).
  */
final class EngineCounters {
  private val watch = graft.plans.CodegenWatch.install()
  private def compiles = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount
  private def gcMs = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  /** (steal ticks, all ticks) from the first line of /proc/stat. */
  private def cpuTicks: (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }
  private final case class At(compiles: Long, fallbacks: Long, gcMs: Long,
      steal: Long, ticks: Long)
  private def now = {
    val (steal, ticks) = cpuTicks
    At(compiles, watch.count.get, gcMs, steal, ticks)
  }
  private var start = now
  private var end = start

  def startTimed(): Unit = start = now
  def endTimed(): Unit = end = now

  def json: String = {
    val stealPct = 100.0 * (end.steal - start.steal) / math.max(1L, end.ticks - start.ticks)
    s"""{"codegen_compiles":${end.compiles - start.compiles},""" +
      s""""codegen_fallbacks":${end.fallbacks - start.fallbacks},""" +
      s""""gc_ms":${end.gcMs - start.gcMs},"steal_pct":${Json.num(stealPct)}}"""
  }
}

/** A timed loop that stops starting operations once `seconds` are up. */
final class Deadline(seconds: Double) {
  private val end = System.nanoTime() + (seconds * 1e9).toLong
  def open: Boolean = System.nanoTime() < end
}

object Timed {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
