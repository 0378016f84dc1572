package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Run totals the tracer accumulates; a per-operation figure is the
  * difference of two snapshots taken with the listener bus drained.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    planMs: Long = 0, steps: Map[String, Long] = Map.empty) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    planMs - o.planMs,
    (steps.keySet ++ o.steps.keySet).map(k =>
      k -> (steps.getOrElse(k, 0L) - o.steps.getOrElse(k, 0L))).toMap)
}

/** Listens from outside the program: a SparkListener for jobs, stages and
  * task metrics, and a QueryExecutionListener for the planning phases of
  * every SQL execution. Job intervals are kept so that the time an
  * operation spends with no job running (the driver gap) can be derived.
  *
  * `stepOf` names the pipeline step a job belongs to from its call site
  * (the long form of the result stage's call stack), or None.
  */
final class Tracer(stepOf: String => Option[String])
    extends SparkListener with QueryExecutionListener {

  private var c = Counters()
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Option[String])]
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def snapshot(): Counters = synchronized(c)

  /** Union of job-running time inside [from, to] (epoch ms), in ms. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    jobStarts(e.jobId) = (e.time, stepOf(site))
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, step) =>
      intervals += ((start, e.time))
      step.foreach(s => c = c.copy(steps = c.steps.updated(s,
        c.steps.getOrElse(s, 0L) + (e.time - start))))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.diskBytesSpilled)
  }

  private def recordPlanning(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    c = c.copy(planMs = c.planMs + ms)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)
}
