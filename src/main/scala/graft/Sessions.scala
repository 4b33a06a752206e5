package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft program gets its SparkSession.
  *
  * A session this factory creates carries the conf every entry point
  * shares: the graft SQL extensions, `local[n]` with n shuffle
  * partitions, 4 MB scan splits (binaryFile HTML pages fan out across
  * cores without a repartition shuffle; the SF-scale parquet tables are
  * below this bound either way), UTC, no UI and WARN logging. AQE is
  * Spark's default.
  *
  * A session that is already running (a test suite's, a REPL's, an
  * embedding harness's) is returned as it is: the factory writes no
  * conf into it, and only the caller that created a session stops it.
  *
  * Settings that apply to the whole JVM come from its launch line
  * (`build.sbt` `javaOptions`, mirrored by `tools/run_main.sh`): UTC,
  * the UI off, and the codegen cache size
  * (`spark.sql.codegen.cache.maxEntries=4000`). The cache size is not a
  * session conf because Spark reads it once per JVM, at the first
  * compile, into one cache every session shares. 4000 holds the
  * 300-odd classes one pass of the 14 benched queries generates many
  * times over; Spark's default of 100 made every pass recompile them
  * all (measured in SCALING.md, "Codegen cache").
  */
object Sessions {

  /** Cores for a new session: the caller's count, else
    * `SPARK_GRAFT_CPUS`, else the host's core count.
    */
  def cores(requested: Option[Int] = None): Int =
    requested
      .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt))
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The running session if there is one, else a new one; the flag
    * says whether this call created it (and so owns stopping it).
    * `warehouseDir` is a deployment path, used only for a new session.
    */
  def getOrCreate(cores: Option[Int] = None,
      warehouseDir: Option[String] = None): (SparkSession, Boolean) =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .filterNot(_.sparkContext.isStopped) match {
      case Some(running) => (running, false)
      case None =>
        val n = Sessions.cores(cores)
        val builder = SparkSession.builder()
          .withExtensions(new graft.plans.GraftExtensions)
          .master(s"local[$n]")
          .appName("graft")
          .config("spark.sql.shuffle.partitions", n.toString)
          .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
        val spark = warehouseDir
          .fold(builder)(builder.config("spark.sql.warehouse.dir", _))
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        (spark, true)
    }

  /** Runs `body` on [[getOrCreate]]'s session, stopping the session
    * afterwards only if this call created it.
    */
  def run[A](cores: Option[Int] = None)(body: SparkSession => A): A = {
    val (spark, created) = getOrCreate(cores)
    try body(spark) finally if (created) spark.stop()
  }
}
