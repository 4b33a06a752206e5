package graft

import graft.ingest.PropertiesFrame
import graft.ml.Scoring
import graft.sources.Sinks
import graft.transform.{Clean, Geocode, Serve}
import org.apache.spark.sql.functions._

/** The daily batch lifecycle (SURVEY §3.2, PredictDailyMachine) as one
  * driver: scrape → geocode join → target → clean → train → score with
  * the all-rows re-join → serving frame, each stage materialized to
  * parquet under the output dir (the reference's per-Lambda S3 artifacts).
  *
  * Usage: PipelineCli <html_dir_or_zip> <location_csv> <out_dir> [--cpus N]
  */
object PipelineCli {

  def main(args: Array[String]): Unit = {
    var positional = Vector.empty[String]
    var cpus = Option.empty[Int]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--cpus" =>
          require(i + 1 < args.length, "--cpus needs a value")
          cpus = Some(args(i + 1).toInt); i += 2
        case other => positional :+= other; i += 1
      }
    }
    require(positional.length == 3,
      "usage: PipelineCli <html_dir_or_zip> <location_csv> <out_dir> [--cpus N]")
    val Vector(htmlPath, locationCsv, outDir) = positional

    Sessions.run(cpus) { spark =>
      // scrape (the ScrapePropertyData stage)
      val fetchedAt = math.rint(System.currentTimeMillis() / 1000.0)
      val scraped = PropertiesFrame.scrape(spark, htmlPath, Some(fetchedAt))
      Sinks.writeParquet(scraped.drop("source_file", "source_order"),
        s"$outDir/scraped")

      // geocode + clean + train + predict (the Predict stage)
      val dim = Geocode.readLocationReference(spark, locationCsv)
      val cleaned = Clean.cleanDf(Clean.addTargetVariable(
        Geocode.addAddressCoords(scraped, dim))).cache()
      try {
        val splits = graft.operators.Splits
          .threeWay(cleaned, valRatio = 0.1875, testRatio = 0.25, seed = 123L)
        val model = Scoring.trainGbt(splits("train"), Some(splits("val")),
          maxIter = 50)
        val predictions = Scoring.predict(model, cleaned)
        Sinks.writeParquet(predictions, s"$outDir/prediction")

        // serving frame (join_dataframes)
        val served = Serve.joinDataframes(predictions,
          cleaned.drop("y"))
        Sinks.writeParquet(served, s"$outDir/served")
        val mae = Scoring.mae(Scoring.predict(model, splits("test")))
        println(s"pipeline done: ${cleaned.count()} cleaned rows, " +
          f"test MAE $mae%.2f -> $outDir")
      } finally cleaned.unpersist()
    }
  }
}
