package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Monotonic microseconds, offset to the epoch so that they line up
  * with the millisecond times on Spark's listener events.
  */
object Clock {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowUs: Long = (System.nanoTime() + epochOffsetNs) / 1000L
}

/** One timed interval. Times are microseconds since the epoch. The
  * benchmark's own spans have ids starting with `b`. `parent` is the id
  * of the enclosing span when the tracer knows it; Spark spans that leave
  * it empty are placed under the benchmark span that contains them when
  * the trace is analysed (`perfbench/metrics.py`).
  */
final case class Span(id: String, name: String, op: Int, start: Long, end: Long,
                      parent: String, attrs: Map[String, Double])

/** The traced run's recorder: spans around the benchmark's own calls into
  * the engine, plus Spark job, stage, SQL-execution and Catalyst-phase
  * spans from a `SparkListener` and a `QueryExecutionListener`.
  *
  * Ops run one at a time. Every event the listeners see between
  * [[beginOp]] and [[endOp]] belongs to the open op: `endOp` drains the
  * listener bus, so no event of one op is seen after the next begins.
  * Task events are attributed through the stage-to-op map that the
  * job-start event fills.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Clock.nowUs

  @volatile private var currentOp = -1
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[String]()
  private var benchIds = 0
  private val stageOp = new ConcurrentHashMap[Integer, Integer]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val jobs = new ConcurrentHashMap[Integer, SparkListenerJobStart]()
  private val stages = new ConcurrentHashMap[String, StageAgg]()
  private val execStarts = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val jobsStarted = new java.util.concurrent.atomic.AtomicInteger()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val qeIds = new java.util.concurrent.atomic.AtomicInteger()
  private val counters = new ConcurrentHashMap[(Int, String), java.lang.Double]()
  private def count(op: Int, key: String, v: Double): Unit =
    counters.merge((op, key), v, (a, b) => a + b)

  /** Add `v` to the open op's counter `key`. */
  def count(key: String, v: Double): Unit = count(currentOp, key, v)

  private final class StageAgg(val op: Int) {
    var tasks, failed = 0L
    var firstLaunchMs = Long.MaxValue
    var runMs, cpuNs, gcMs, inputB, shufReadB, shufWriteB, fetchWaitMs, resultB = 0L
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def beginOp(op: Int): Unit = { drain(); currentOp = op }

  /** Close the open op once every job it started has ended. */
  def endOp(): Unit = {
    drain()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (jobsEnded.get() != jobsStarted.get() && System.nanoTime() < deadline) {
      Thread.onSpinWait()
      drain()
    }
    currentOp = -1
  }

  private def drain(): Unit = Internals.drain(spark.sparkContext)

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T = {
    benchIds += 1
    val id = s"b$benchIds"
    val parent = stack.headOption.getOrElse("")
    stack.push(id)
    val t0 = nowUs
    try body
    finally {
      stack.pop()
      spans.add(Span(id, name, currentOp, t0, nowUs, parent, Map.empty))
    }
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def result: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq
  }

  /** Per-op counters: SQL executions, files and bytes written, and what
    * the harness added with [[count]].
    */
  def opCounters: Map[Int, Map[String, Double]] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.toSeq.groupBy(_._1._1).map { case (op, kvs) =>
      op -> kvs.map { case ((_, k), v) => k -> v.doubleValue }.toMap
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = currentOp
    if (op < 0) return
    jobsStarted.incrementAndGet()
    jobs.put(e.jobId, e)
    e.stageIds.foreach { sid => stageOp.put(sid, op); stageJob.put(sid, e.jobId) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = jobs.remove(e.jobId)
    if (start == null) return
    jobsEnded.incrementAndGet()
    val exec = Option(start.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val op = stageOp.get(start.stageIds.headOption.getOrElse(-1))
    spans.add(Span(s"job${e.jobId}", "scheduler.job", if (op == null) -1 else op,
      start.time * 1000L, e.time * 1000L, exec.map("exec" + _).getOrElse(""),
      Map("stages" -> start.stageIds.size.toDouble,
        "failed" -> (if (e.jobResult == JobSucceeded) 0.0 else 1.0))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = stageOp.get(info.stageId)
    if (op == null) return
    val agg = Option(stages.remove(s"${info.stageId}.${info.attemptNumber()}"))
      .getOrElse(new StageAgg(op))
    val submitted = info.submissionTime.getOrElse(0L)
    val jobId = jobOfStage(info.stageId)
    spans.add(Span(s"stage${info.stageId}.${info.attemptNumber()}", "scheduler.stage", op,
      submitted * 1000L, info.completionTime.getOrElse(submitted) * 1000L,
      jobId.map("job" + _).getOrElse(""),
      Map("tasks" -> agg.tasks.toDouble, "failed_tasks" -> agg.failed.toDouble,
        "task_wait_ms" -> (if (agg.firstLaunchMs == Long.MaxValue || submitted == 0L) 0.0
                           else math.max(0L, agg.firstLaunchMs - submitted).toDouble),
        "run_ms" -> agg.runMs.toDouble, "cpu_ns" -> agg.cpuNs.toDouble,
        "gc_ms" -> agg.gcMs.toDouble, "input_bytes" -> agg.inputB.toDouble,
        "shuffle_read_bytes" -> agg.shufReadB.toDouble,
        "shuffle_write_bytes" -> agg.shufWriteB.toDouble,
        "fetch_wait_ms" -> agg.fetchWaitMs.toDouble, "result_bytes" -> agg.resultB.toDouble)))
  }

  private def jobOfStage(stageId: Int): Option[Int] = Option(stageJob.get(stageId)).map(_.intValue)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null) return
    val agg = stages.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}", _ => new StageAgg(op))
    agg.synchronized {
      agg.tasks += 1
      if (e.reason != org.apache.spark.Success) agg.failed += 1
      agg.firstLaunchMs = math.min(agg.firstLaunchMs, e.taskInfo.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.inputB += m.inputMetrics.bytesRead
        agg.shufReadB += m.shuffleReadMetrics.totalBytesRead
        agg.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        agg.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        agg.resultB += m.resultSize
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if currentOp >= 0 =>
      execStarts.put(e.executionId, e.time)
    // write commands post their file and byte counts as driver-side SQL
    // metric updates, nested writes (inside CTAS, say) included
    case e: SparkListenerDriverAccumUpdates if currentOp >= 0 =>
      e.accumUpdates.foreach { case (id, v) =>
        Internals.accumulatorName(id) match {
          case Some("number of written files") => count(currentOp, "files_written", v.toDouble)
          case Some("written output") => count(currentOp, "bytes_written", v.toDouble)
          case _ =>
        }
      }
    case e: SparkListenerSQLExecutionEnd =>
      val t0 = execStarts.remove(e.executionId)
      if (t0 != null && currentOp >= 0)
        spans.add(Span(s"exec${e.executionId}", "sql.execution", currentOp, t0 * 1000L,
          e.time * 1000L, "", Map.empty))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val op = currentOp
    if (op < 0) return
    val n = qeIds.incrementAndGet()
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach { s =>
        spans.add(Span(s"qe$n.$p", s"catalyst.$p", op, s.startTimeMs * 1000L,
          s.endTimeMs * 1000L, "", Map.empty))
      }
    }
    count(op, "executions", 1)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

}
