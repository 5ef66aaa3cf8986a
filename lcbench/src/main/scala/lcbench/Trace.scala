package lcbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary, with its parent. Times
  * are wall-clock milliseconds since the epoch. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** Wraps a call at a layer boundary in a span under `parent`; the body gets
  * the new span's id. */
trait Tracer {
  def apply[A](parent: Int, name: String)(f: Int => A): A
}

/** The untraced path: no span, no clock read. */
object NoTrace extends Tracer {
  def apply[A](parent: Int, name: String)(f: Int => A): A = f(0)
}

/** In-memory span store. Spans are kept until the run ends and written out
  * once. Spark jobs become child spans of the phase span whose job group
  * submitted them. */
final class Spans extends Tracer {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var next = 1

  def apply[A](parent: Int, name: String)(f: Int => A): A = {
    val id = next; next += 1
    val start = nowMs
    try f(id) finally spans += Span(id, parent, name, start, nowMs)
  }

  def add(parent: Int, name: String, start: Double, end: Double): Unit = {
    spans += Span(next, parent, name, start, end); next += 1
  }

  /** Duration minus the union of the children's intervals. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0.0
      var (lo, hi) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (lo.isNaN) { lo = a; hi = b }
        else if (a <= hi) hi = math.max(hi, b)
        else { covered += hi - lo; lo = a; hi = b }
      }
      if (!lo.isNaN) covered += hi - lo
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** One Spark job: the job group that submitted it, start and end (epoch ms). */
final case class JobRec(group: String, start: Double, var end: Double)

/** Engine counters from the listener bus, summed while attached. Jobs are
  * kept with their job group, which the benchmark sets per phase. One
  * recorder may outlive a SparkContext: a new context numbers its jobs from
  * 0 again, so jobs are kept in order of start, and only the running ones
  * are looked up by id. */
final class EngineRecorder extends SparkListener {
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  private val running = mutable.Map.empty[Int, JobRec]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = JobRec(g, e.time.toDouble, e.time.toDouble)
    jobs += j
    running(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    if (info.failed || info.killed) failedTasks += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      taskWaitMs += math.max(0L, info.launchTime - sub)
    }
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputRows += m.inputMetrics.recordsRead
      inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Catalyst phase times of every query execution that completes. */
final class PlanRecorder extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Micro-batch progress of every streaming query the ops start. */
final class StreamRecorder extends StreamingQueryListener {
  var queries = 0L
  val batchMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var inputRows = 0L
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { queries += 1 }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batchMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    inputRows += p.numInputRows
    stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def stateRowsTotal: Long = synchronized(stateRows.values.sum)
}
