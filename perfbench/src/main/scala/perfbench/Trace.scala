package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of a run: workload, pass, job or a layer call.
  * `job` is the benchmark job's sequence number, shared by every span
  * of that job (0 outside jobs). Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, job: Int, name: String, startMs: Double, endMs: Double)

/** Opens and closes spans and tags every Spark job started inside a
  * span with a job group that names it: `pb:<job>:<span name>:<span id>`.
  * The listener attributes Spark work by that group, never by timing. */
final class Spans(sc: SparkContext) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List.empty[(Int, Int, String)] // (span id, job, group)

  def span[T](name: String, job: Int = -1)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val j = if (job >= 0) job else stack.headOption.map(_._2).getOrElse(0)
    val group = s"pb:$j:$name:$id"
    val start = nowMs
    stack = (id, j, group) :: stack
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try body
    finally {
      done += Span(id, parent, j, name, start, nowMs)
      stack = stack.tail
      stack.headOption match {
        case Some((_, _, g)) => sc.setJobGroup(g, g.split(':')(2), interruptOnCancel = false)
        case None            => sc.clearJobGroup()
      }
    }
  }
}

object Attribution {
  final case class JobRec(id: Int, group: String, startMs: Long) {
    var endMs: Long = startMs
  }
  final case class StageRec(id: Int) {
    var submitMs: Long = -1L
    var completeMs: Long = -1L
  }
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                           shuffleReadBytes: Long, spillBytes: Long, inputBytes: Long,
                           outputBytes: Long, failed: Boolean)

  /** `pb:<job>:<span name>:<span id>` → (job, span name, span id). */
  def parseGroup(g: String): Option[(Int, String, Int)] =
    Option(g).map(_.split(':')).collect {
      case Array("pb", j, name, id) => (j.toInt, name, id.toInt)
    }
}

/** Records Spark jobs, stages and tasks keyed by their job group. Events
  * arrive on the listener thread; readers call [[org.apache.spark.PerfbenchBus.drain]]
  * first and then read under the same lock. `handlerNs` is the time
  * spent in the handlers, the listener's share of the tracing cost. */
final class Attribution extends SparkListener {
  import Attribution._
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  @volatile var handlerNs = 0L

  private def handle(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = handle {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = JobRec(e.jobId, group, e.time)
    e.stageInfos.foreach { s =>
      stages.getOrElseUpdate(s.stageId, StageRec(s.stageId))
      stageJob.getOrElseUpdate(s.stageId, e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = handle {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = handle {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId))
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = handle {
    stages.get(e.stageInfo.stageId).foreach(_.completeMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handle {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
      g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
      g(_.shuffleWriteMetrics.bytesWritten), g(_.shuffleWriteMetrics.recordsWritten),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      g(_.inputMetrics.bytesRead), g(_.outputMetrics.bytesWritten),
      i.failed || i.killed)
  }
}
