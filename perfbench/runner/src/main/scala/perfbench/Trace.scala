package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Posted on the listener bus before each traced query runs. Every
  * scheduler and SQL event that follows it, up to the next mark, belongs
  * to that query: the runner posts the mark, then runs the query's action,
  * which returns only after its job, stage and task events were posted. */
final case class QueryMark(query: String, pass: Int) extends SparkListenerEvent

/** What one query did in one traced pass, as the listeners saw it. */
final class Counts {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var executorCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var peakExecMemBytes = 0L
  var actions = 0
  var planMs = 0L
  /** [start, end] of each job, in epoch ms. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    jobSpans.map { case (s, e) => (s.max(from), e.min(to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - s.max(reach); reach = e }
      }
    covered
  }
}

/** SparkListener plus QueryExecutionListener that attributes every event
  * to the query named by the latest QueryMark. Both listeners sit on
  * Spark's shared listener queue, so marks and events arrive in posting
  * order on one thread; nothing here needs a lock once the bus is drained. */
final class Trace extends SparkListener with QueryExecutionListener {
  val byQuery = mutable.LinkedHashMap.empty[(String, Int), Counts]
  private var current: Counts = null
  private val jobStarts = mutable.Map.empty[Int, Long]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case QueryMark(q, pass) => current = byQuery.getOrElseUpdate((q, pass), new Counts)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (current != null) {
    current.jobs += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach(s => if (current != null) current.jobSpans += ((s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (current != null) current.stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (current != null) {
    current.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      current.executorCpuNs += m.executorCpuTime
      current.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      current.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      current.spillBytes += m.diskBytesSpilled
      current.inputBytes += m.inputMetrics.bytesRead
      current.outputBytes += m.outputMetrics.bytesWritten
      current.peakExecMemBytes = current.peakExecMemBytes.max(m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(qe)

  private def action(qe: QueryExecution): Unit = if (current != null) {
    current.actions += 1
    current.planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
}
