package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for the traced run: scheduler and task metrics from
  * a `SparkListener`, planning phases from each `QueryExecution.tracker`
  * (delivered to a `QueryExecutionListener`), and AQE re-plans. All totals
  * are cumulative; spans keep differences. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val totals = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = totals(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1); jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("exec.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_ms", m.executorRunTime)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("exec.input_bytes", m.inputMetrics.bytesRead)
      add("exec.output_bytes", m.outputMetrics.bytesWritten)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(add("planning.aqe_updates", 1))
    case _ =>
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    add("planning.executions", 1)
    qe.tracker.phases.foreach { case (phase, summary) =>
      phase match {
        case "analysis" => add("planning.analysis_ms", summary.durationMs)
        case "optimization" => add("planning.optimization_ms", summary.durationMs)
        case "planning" => add("planning.physical_ms", summary.durationMs)
        case _ =>
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def snapshot(): Map[String, Double] = synchronized(totals.toMap)

  /** Wall time covered by the union of jobs that started in
    * [`fromMs`, `toMs`] (epoch milliseconds), clipped at `toMs`: a job's
    * end event can be stamped just after its caller resumed. */
  def jobWallMs(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = jobIntervals.collect { case (s, e) if s >= fromMs && s <= toMs => (s, math.min(e, toMs)) }
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered.toDouble
  }
}

/** One closed span: a named call the benchmark made into a layer, with
  * the counters that moved while it ran. `parent` is -1 for an operation
  * and the operation's span id for a call inside it. */
final case class Span(id: Int, parent: Int, name: String, wallMs: Double,
    stats: Map[String, Double])

/** Records spans around the benchmark's calls into the program. Disabled,
  * it runs the body and records nothing, so untraced runs pay nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters: Option[SparkCounters] =
    if (!enabled) None
    else {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Attach an operation's notes to its span, the last one closed at the
    * top level. */
  def annotateLastOp(notes: Map[String, Double]): Unit =
    if (enabled && notes.nonEmpty) {
      val i = spans.lastIndexWhere(_.parent == -1)
      if (i >= 0) spans(i) = spans(i).copy(stats = spans(i).stats ++ notes)
    }

  private def snapshot(c: SparkCounters): Map[String, Double] = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    c.snapshot() ++ FsCounters.snapshot()
  }

  def span[T](name: String)(body: => T): T = counters match {
    case None => body
    case Some(c) =>
      val before = snapshot(c)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        val wall1 = System.currentTimeMillis()
        val after = snapshot(c)
        stack = stack.tail
        val delta = (before.keySet ++ after.keySet).iterator
          .map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
        val jobWall = c.jobWallMs(wall0, wall1)
        spans += Span(id, parent, name, ms, delta ++ Map(
          "exec.job_wall_ms" -> jobWall,
          "driver.self_ms" -> math.max(0.0, ms - jobWall)))
      }
  }
}
