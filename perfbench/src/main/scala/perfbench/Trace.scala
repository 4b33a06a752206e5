package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded call into a program layer. Times are epoch nanoseconds
  * (`startNs`/`endNs`) so spans can be matched against Spark's
  * wall-clock event times; `parent` is -1 for a root span.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long)

/** Engine-side work attributed to one span. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var planMs = 0.0

  def toJson: String =
    f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
      f""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
      f""""spill_bytes":$spillBytes,"output_bytes":$outputBytes,"plan_ms":$planMs%.3f}"""
}

/** Span recorder for the traced run. Spans are kept in memory and
  * written once, at the end, by the caller. Spark work is attributed to
  * the innermost open span through a job-local property that the driver
  * thread carries into every job it submits; planning time comes from
  * each query's `QueryExecution.tracker`, attributed by the wall-clock
  * instant its analysis phase started.
  *
  * With `enabled = false` a span is just the call: no property, no
  * listener, no allocation beyond the closure.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val MarkerKey = "perfbench.marker"
  private val nextId = new AtomicInteger(0)
  private val stack = mutable.Stack.empty[Int]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var run = 0

  // listener-side state, touched from the listener bus thread
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)] // (start ms, ms)

  private val sc = spark.sparkContext

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      if (span >= 0) {
        workOf(span).jobs += 1
        e.stageInfos.foreach(s => stageSpan.getOrElseUpdate(s.stageId, span))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val i = e.stageInfo
      stageSpan.get(i.stageId).foreach { span =>
        val w = workOf(span)
        val m = i.taskMetrics
        w.stages += 1
        w.tasks += i.numTasks
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.spillBytes += m.diskBytesSpilled
          w.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val startMs = phases.values.map(_.startTimeMs).min
        val ms = phases.values.map(_.durationMs).sum.toDouble
        lock(plans += ((startMs, ms)))
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def lock[T](body: => T): T = this.synchronized(body)
  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  /** Marks the start of a new unit of work; spans opened after this
    * share its run id.
    */
  def newRun(): Unit = run += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = if (stack.isEmpty) -1 else stack.top
      stack.push(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = epochNs()
      try body
      finally {
        val t1 = epochNs()
        stack.pop()
        sc.setLocalProperty(SpanKey,
          if (stack.isEmpty) null else stack.top.toString)
        lock(spans += Span(id, name, parent, run, t0, t1))
      }
    }

  /** Blocks until the listener bus has delivered every event posted so
    * far: a one-task marker job's events queue behind all earlier ones,
    * so once its end is seen the counters are complete.
    */
  def drain(): Unit = if (enabled) {
    val token = s"drain-${nextId.getAndIncrement()}"
    @volatile var markerJob = -1
    @volatile var done = false
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(MarkerKey) == token) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) done = true
    }
    sc.addSparkListener(probe)
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(MarkerKey, null)
      sc.setLocalProperty(SpanKey, saved)
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(2)
    sc.removeSparkListener(probe)
    require(done, "listener bus did not drain within 30 s")
  }

  /** Spans and their attributed work, as one JSON array. */
  def spansJson(): String = lock {
    // planning: innermost span whose interval holds the analysis start
    val sorted = spans.sortBy(s => s.endNs - s.startNs)
    // tracker times are whole milliseconds: widen each span to them
    plans.foreach { case (startMs, ms) =>
      sorted.find(s => s.startNs / 1000000L <= startMs &&
          startMs <= s.endNs / 1000000L).foreach { s =>
        workOf(s.id).planMs += ms
      }
    }
    plans.clear()
    spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"work":${workOf(s.id).toJson}}"""
    }.mkString("[", ",\n", "]")
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private val nsBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochNs(): Long = nsBase + System.nanoTime()
}
