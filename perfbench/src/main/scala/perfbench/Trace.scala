package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one call (one span). Times are driver-clock
  * milliseconds; byte and task figures are summed over the span's tasks. */
final class Span(val name: String) {
  var startMs = 0L
  var endMs = 0L
  var jobs = 0L
  var tasks = 0L
  var sqlExecs = 0L
  var catalystMs = 0.0
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var spillBytes = 0L
  var failedTasks = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val openJobs = mutable.Map[Int, Long]()

  def wallMs: Long = endMs - startMs

  /** Span wall time not covered by any of its jobs: the time the call spent
    * on the Spark driver with no Spark job running. */
  def driverGapMs: Long = {
    val clipped = jobIntervals.map { case (s, e) => (s max startMs, e min endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    for ((s, e) <- clipped if e > reach) {
      covered += e - (s max reach)
      reach = e
    }
    wallMs - covered
  }

  def metrics: Seq[(String, Double)] = Seq(
    "wall_ms" -> wallMs.toDouble, "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble, "sql_execs" -> sqlExecs.toDouble,
    "catalyst_ms" -> catalystMs, "driver_gap_ms" -> driverGapMs.toDouble,
    "task_run_ms" -> taskRunMs.toDouble, "shuffle_bytes" -> shuffleBytes.toDouble,
    "output_bytes" -> outputBytes.toDouble, "gc_ms" -> gcMs.toDouble,
    "sched_delay_ms" -> schedDelayMs.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "failed_tasks" -> failedTasks.toDouble)
}

/** Attributes scheduler and SQL-execution events to the span that is open
  * when they are delivered. The harness drains the listener bus before it
  * opens and after it closes a span, and runs one call at a time, so every
  * event a call causes — including jobs of its concurrent audit legs, whose
  * pooled threads may carry another call's job group — lands in its span. */
final class Collector extends SparkListener with QueryExecutionListener {
  private var cur: Span = null

  def open(span: Span): Unit = synchronized { cur = span }
  def close(): Unit = synchronized { cur = null }

  private def withSpan(f: Span => Unit): Unit = synchronized {
    if (cur != null) f(cur)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = withSpan { s =>
    s.jobs += 1
    s.openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = withSpan { s =>
    s.openJobs.remove(e.jobId).foreach(t0 => s.jobIntervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withSpan { s =>
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskRunMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.outputBytes += m.outputMetrics.bytesWritten
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    }
  }

  private val catalystPhases = Seq("analysis", "optimization", "planning")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    withSpan { s =>
      s.sqlExecs += 1
      val phases = qe.tracker.phases
      s.catalystMs += catalystPhases.flatMap(phases.get).map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    withSpan(_.sqlExecs += 1)
}
