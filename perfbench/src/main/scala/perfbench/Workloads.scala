package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.util.control.NonFatal

import graft.PipelineCli
import graft.ingest.PropertiesFrame
import graft.ml.Scoring
import graft.operators.Splits
import graft.sources.Sinks
import graft.transform.{Clean, Geocode, Serve}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

abstract class Workload(val spark: SparkSession, val args: Main.Args,
    val report: Main.Report, val tracer: Tracer, val counters: EngineCounters) {

  def run(): Unit

  /** Set-up's repeatable part, run `times` times into a fresh directory
    * each time; `setup_s` counts the median once.
    */
  protected def inputs[T](name: String, times: Int = 3)(make: Path => T): T = {
    var last: Option[T] = None
    (1 to times).foreach { _ =>
      val dir = args.work.resolve(name)
      deleteTree(dir)
      val (r, ms) = Timed.ms(make(dir))
      report.inputsMs += ms
      last = Some(r)
    }
    last.get
  }

  /** Marks the end of set-up: the timed region starts. */
  protected def startTimed(): Unit = {
    report.timedStarts()
    counters.startTimed()
  }

  /** Runs one operation; a throw counts as a failed operation. */
  protected def attempt[T](what: String)(body: => T): Option[T] = {
    report.attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        report.failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  protected def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** The product path: one `PipelineCli.main` call per run. */
object Daily {
  val Pages = 24

  final case class Summary(cleaned: Long, mae: Double)

  private val SummaryLine = """pipeline done: (\d+) cleaned rows, test MAE ([0-9.]+) ->.*""".r

  /** Calls `PipelineCli.main` and parses its one-line summary. */
  def cli(day: DailyInputs.Day, out: Path, cores: Int): Summary = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf) {
      PipelineCli.main(Array(day.dir.toString, day.locationCsv.toString,
        out.toString, "--cpus", cores.toString))
    }
    val text = buf.toString("UTF-8").trim
    text.linesIterator.collectFirst { case SummaryLine(n, mae) =>
      Summary(n.toLong, mae.toDouble)
    }.getOrElse(throw new IllegalStateException(s"no summary line in: $text"))
  }

  val CheckedColumns: Seq[String] = Seq("jnc_id", "rent", "admin_fee",
    "deposit", "gratuity", "layout", "area", "min_floor", "max_floor",
    "building_age", "building_floors", "ward", "district",
    "walk_time_station_min", "walk_time_station_avg")

  /** Scraped rows against the generator's expectation: same multiset. */
  def checkScraped(day: DailyInputs.Day, scraped: DataFrame,
      report: Main.Report): Unit = {
    val got = scraped.select(CheckedColumns.map(col): _*).collect()
      .map(_.toSeq.mkString("|")).sorted
    val want = day.expected.map(_.key).sorted
    report.check("scraped_rows_match_generator", got.sameElements(want),
      s"scraped ${got.length} rows, generator expects ${want.length}; " +
        s"first difference: ${got.zipAll(want, "-", "-").find(p => p._1 != p._2)}")
  }

  /** Relative MAE tolerance between `PipelineCli`'s summary (printed to
    * two decimals) and the traced run's own `Scoring.mae` on the same
    * split: the traced run caches each stage, which may reorder rows
    * within partitions, and GBT's split finding samples rows.
    */
  val MaeTolerance = 0.005
}

final class DailyBatch(spark: SparkSession, args: Main.Args, report: Main.Report,
    tracer: Tracer, counters: EngineCounters)
    extends Workload(spark, args, report, tracer, counters) {

  def run(): Unit = {
    val day = inputs("inputs")(dir => DailyInputs.generate(args.seed, Daily.Pages, dir))
    report.value("pages", day.pages)
    report.value("rooms_generated", day.roomsGenerated)
    report.value("rooms_expected", day.expected.size)
    val out = args.work.resolve("out")
    // Exactly one call, and no warm-up: the product runs one call per
    // process per day, so the call it pays for is the first in a fresh JVM.
    startTimed()
    tracer.newRun()
    val t0 = System.nanoTime()
    val summary = attempt("PipelineCli.main") {
      tracer.span("daily")(Daily.cli(day, out, args.cores))
    }
    summary.foreach(_ => report.ops += (System.nanoTime() - t0) / 1e6)
    counters.endTimed()
    report.value("ops_label", "PipelineCli.main calls")

    if (tracer.enabled && summary.nonEmpty) {
      // the stages one by one, then one more (warm) call to compare with
      tracer.newRun()
      // the call's own fetch time: it feeds the split hash, so the
      // layered pass reproduces the call's train/val/test membership
      val fetchedAt = spark.read.parquet(s"$out/scraped")
        .select(max(col("html_file_fetched_at"))).head().getDouble(0)
      attempt("layered daily pass") {
        val mae = layers(day, fetchedAt, args.work.resolve("layers"))
        val cli = summary.get
        report.value("traced_mae_jpy", mae)
        report.check("test_mae_matches_traced",
          math.abs(mae - cli.mae) <= Daily.MaeTolerance * cli.mae,
          s"PipelineCli MAE ${cli.mae}, traced Scoring.mae $mae")
      }
      attempt("warm PipelineCli.main") {
        tracer.span("daily_warm")(Daily.cli(day, args.work.resolve("out-warm"), args.cores))
      }
    }

    // checks, on the call's outputs
    summary.foreach { s =>
      report.value("cleaned_rows", s.cleaned)
      report.value("test_mae_jpy", s.mae)
      Daily.checkScraped(day, spark.read.parquet(s"$out/scraped"), report)
      val predicted = spark.read.parquet(s"$out/prediction").count()
      val served = spark.read.parquet(s"$out/served").count()
      report.check("prediction_rows_equal_cleaned", predicted == s.cleaned,
        s"prediction $predicted rows, cleaned ${s.cleaned}")
      report.check("served_rows_equal_cleaned", served == s.cleaned,
        s"served $served rows, cleaned ${s.cleaned}")
    }
    if (summary.isEmpty) report.check("daily_ran", ok = false, "the call failed")
  }

  /** `PipelineCli`'s stages one by one, each in its own span, each output
    * forced and cached so that a span is its layer's own time. Returns the
    * test MAE by `Scoring.mae`.
    */
  private def layers(day: DailyInputs.Day, fetchedAt: Double, out: Path): Double = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def force(df: DataFrame): (DataFrame, Long) = {
      val c = df.cache(); cached += c; (c, c.count())
    }
    try tracer.span("layers") {
      val (scraped, nScraped) = tracer.span("ingest") {
        force(PropertiesFrame.scrape(spark, day.dir.toString, Some(fetchedAt)))
      }
      val (geocoded, matched) = tracer.span("geocode") {
        val dim = Geocode.readLocationReference(spark, day.locationCsv.toString)
        val (g, _) = force(Geocode.addAddressCoords(scraped, dim))
        (g, g.filter(col("latitude").isNotNull).count())
      }
      val (cleaned, nCleaned) = tracer.span("clean") {
        force(Clean.cleanDf(Clean.addTargetVariable(geocoded)))
      }
      val splits = tracer.span("split") {
        Splits.threeWay(cleaned, valRatio = 0.1875, testRatio = 0.25, seed = 123L)
          .map { case (k, v) => k -> force(v)._1 }
      }
      val model = tracer.span("train") {
        Scoring.trainGbt(splits("train"), Some(splits("val")), maxIter = 50)
      }
      val (predictions, nPredicted) = tracer.span("predict") {
        force(Scoring.predict(model, cleaned))
      }
      val (served, _) = tracer.span("serve_join") {
        force(Serve.joinDataframes(predictions, cleaned.drop("y")))
      }
      tracer.span("sink") {
        Sinks.writeParquet(scraped.drop("source_file", "source_order"), s"$out/scraped")
        Sinks.writeParquet(predictions, s"$out/prediction")
        Sinks.writeParquet(served, s"$out/served")
      }
      report.sample("ingest.valid_ratio", nScraped.toDouble / day.roomsGenerated)
      report.sample("geocode.match_ratio", matched.toDouble / nScraped)
      report.sample("clean.keep_ratio", nCleaned.toDouble / nScraped)
      report.check("traced_scrape_rows", nScraped == day.expected.size,
        s"traced scrape ${nScraped} rows, generator expects ${day.expected.size}")
      report.check("traced_geocode_matches", matched == day.expected.size,
        s"geocoded $matched rows, generator expects ${day.expected.size}")
      report.check("traced_prediction_rows", nPredicted == nCleaned,
        s"prediction $nPredicted rows, cleaned $nCleaned")
      Scoring.mae(Scoring.predict(model, splits("test")))
    } finally cached.foreach(_.unpersist(blocking = true))
  }
}

/** The 14 queries `Bench` times, in a seeded order each pass. */
final class Analytics(spark: SparkSession, args: Main.Args,
    report: Main.Report, tracer: Tracer, counters: EngineCounters)
    extends Workload(spark, args, report, tracer, counters) {

  private val headline = graft.SparkEntry.headline
  private val headlineNames = headline.map(_.name).toSet
  private val all = headline ++ graft.SparkEntry.scaleBench
  private val tablesDir = args.tables.resolve(s"sf${AnalyticsInputs.Sf}").toString
  /** Every fingerprint each query's answer had, one per pass. */
  private val answers = scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]

  def run(): Unit = {
    report.value("sf", AnalyticsInputs.Sf)
    val rnd = new SplittableRandom(args.seed)

    // Warm-up: one cold pass on the timed passes' own path. Later passes
    // still get faster, but waiting for their level does not fit the
    // benchmark's time budget (README, "Budget"); the timed pass is always
    // the second in the JVM.
    val (_, warmMs) = Timed.ms(pass(shuffled(all, rnd), timed = false))
    report.setup += (("warmup_ms", warmMs))

    startTimed()
    val deadline = new Deadline(args.seconds)
    while (deadline.open) {
      tracer.newRun()
      val t0 = System.nanoTime()
      val fingerprints = tracer.span("pass")(pass(shuffled(all, rnd), timed = true))
      if (fingerprints.size == all.size) report.ops += (System.nanoTime() - t0) / 1e6
      // read after the pass's time is taken: the listener bus delivers them
      fingerprints.foreach { case (name, fp) => fingerprint(name, fp.get) }
    }
    counters.endTimed()
    report.value("ops_label", "passes over the 14 queries")
    // a query whose answer changed between passes reports every version,
    // which no recorded fingerprint equals
    answers.foreach { case (name, fps) =>
      report.value(s"fingerprint.$name", fps.toSeq.sorted.mkString(" "))
    }
  }

  private def fingerprint(name: String, fp: String): Unit =
    answers(name) = answers.getOrElse(name, Set.empty) + fp

  /** One pass through the noop sink. Returns the answers' fingerprints
    * of the queries that succeeded, still to be read. A timed pass also
    * records each query's time, in a span of its own, and the pass's
    * headline and scale parts; a warm-up pass reads its fingerprints.
    */
  private def pass(order: Seq[graft.QueryDef], timed: Boolean): Seq[(String, Fingerprint.Pending)] = {
    var h, s = 0.0
    val done = order.flatMap { d =>
      val q0 = System.nanoTime()
      val fp = attempt(d.name) {
        // the query's own eager jobs (iterative operators) run in d.fn
        def run(): Fingerprint.Pending = {
          val (df, fp) = Fingerprint.observed(d.fn(spark, tablesDir))
          df.write.format("noop").mode("overwrite").save()
          fp
        }
        if (timed) tracer.span(d.name)(run()) else run()
      }
      val sec = (System.nanoTime() - q0) / 1e9
      if (timed) report.sample(s"${d.name}.s", sec)
      if (headlineNames(d.name)) h += sec else s += sec
      fp.map(d.name -> _)
    }
    if (timed && done.size == order.size) {
      report.sample("headline_s", h)
      report.sample("scale_s", s)
    }
    if (!timed) done.foreach { case (name, fp) => fingerprint(name, fp.get) }
    done
  }

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Row count and an order-insensitive hash of a query's answer, observed
  * while the answer streams into the noop sink (`Dataset.observe`), so the
  * timed passes themselves are checked.
  */
object Fingerprint {
  /** Columns that describe a scraped page's file rather than its content
    * (q24): its absolute path and its mtime, which differ between
    * checkouts and runs. They are written, but not hashed.
    */
  val Unhashed = Set("source_file", "html_file_last_modified_at")

  final class Pending(obs: Observation) {
    def get: String = {
      val m = obs.get
      s"${m("n")}:${java.lang.Long.toHexString(m("h").asInstanceOf[Long])}"
    }
  }

  /** `df` with an observation of its row count and the sum of its rows'
    * 64-bit hashes, cut to 47 bits so that the sum cannot overflow.
    */
  def observed(df: DataFrame): (DataFrame, Pending) = {
    val hashed = df.columns.filterNot(Unhashed).map(c => df.col(s"`$c`"))
    val row = xxhash64(to_json(struct(hashed: _*))).bitwiseAND(lit((1L << 47) - 1))
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"), coalesce(sum(row), lit(0L)).as("h")),
      new Pending(obs))
  }
}
