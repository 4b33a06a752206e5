package graft

import graft.ingest.PropertiesFrame
import graft.sources.Sinks

/** The `scrape-properties` CLI (reference entry point libs/setup.py:24-27
  * → scraping._main, libs/otokuna/scraping.py:366-410): dir-or-zip of
  * HTML → properties table, CSV or parquet out.
  *
  * Usage: ScrapeCli <html_dir_or_zip> <output_path>
  *          [--output-format csv|parquet] [--fetched-today] [--cpus N]
  */
object ScrapeCli {

  def main(args: Array[String]): Unit = {
    var positional = Vector.empty[String]
    var format = "csv"
    var fetchedToday = false
    var cpus = Option.empty[Int]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--output-format" =>
          require(i + 1 < args.length, "--output-format needs a value")
          format = args(i + 1); i += 2
        case "--cpus" =>
          require(i + 1 < args.length, "--cpus needs a value")
          cpus = Some(args(i + 1).toInt); i += 2
        case "--fetched-today" => fetchedToday = true; i += 1
        case other => positional :+= other; i += 1
      }
    }
    require(positional.length == 2,
      "usage: ScrapeCli <html_dir_or_zip> <output_path> " +
        "[--output-format csv|parquet] [--fetched-today] [--cpus N]")
    val Vector(htmlPath, outputPath) = positional
    require(Set("csv", "parquet").contains(format), s"bad format: $format")

    Sessions.run(cpus) { spark =>
      val fetchedAt =
        if (fetchedToday) Some(math.rint(System.currentTimeMillis() / 1000.0))
        else None
      val df = PropertiesFrame.scrape(spark, htmlPath, fetchedAt)
        .drop("source_file", "source_order")
      if (format == "csv") Sinks.writeCsv(df, outputPath)
      else Sinks.writeParquet(df, outputPath)
      println(s"scraped ${df.count()} properties -> $outputPath ($format)")
    }
  }
}
