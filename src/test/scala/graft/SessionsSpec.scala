package graft

import java.nio.file.Files

import graft.ingest.SyntheticSuumo

/** The session factory never writes conf into a session it did not
  * create: the CLI mains, run inside this suite's JVM, must share the
  * test session untouched whatever `--cpus` they are given.
  */
class SessionsSpec extends SparkSpec {

  test("CLI mains with --cpus leave the running session's conf alone") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes")
    val before = keys.map(spark.conf.get)
    val pages = SyntheticSuumo.writePages(
      Files.createTempDirectory("graft_sessions_pages"), 8)
    val csv = SyntheticSuumo.writeLocationCsv(
      Files.createTempDirectory("graft_sessions_loc"))
    val out = Files.createTempDirectory("graft_sessions_out")
    ScrapeCli.main(Array(pages.toString, out.resolve("props").toString,
      "--cpus", "7"))
    PipelineCli.main(Array(pages.toString, csv.toString,
      out.resolve("daily").toString, "--cpus", "7"))
    assert(keys.map(spark.conf.get) === before)
    assert(!spark.sparkContext.isStopped && spark.range(3).count() === 3L)
  }

  test("cores: the caller's count, else SPARK_GRAFT_CPUS, else the host's") {
    assert(Sessions.cores(Some(3)) === 3)
    assert(Sessions.cores() === sys.env.get("SPARK_GRAFT_CPUS")
      .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}
