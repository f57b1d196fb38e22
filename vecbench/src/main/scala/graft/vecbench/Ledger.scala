package graft.vecbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The Spark-engine layer, observed from outside by a listener the
  * benchmark registers for the traced run. It records every job, the
  * stages that ran and every finished task's metrics; [[attribute]] then
  * assigns jobs to the facade call that issued them. */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val stagesRun = mutable.Set[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
    jobs(e.jobId) = Job(e.jobId, group.flatMap(callOfGroup), e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** A copy of what has been recorded so far; drain the listener bus first. */
  def snapshot(): (Seq[Job], Seq[Task], Set[Int]) = synchronized {
    (jobs.values.toSeq, tasks.toSeq, stagesRun.toSet)
  }
}

object Ledger {
  val GroupKey = "spark.jobGroup.id"
  private val GroupPrefix = "vecbench-call-"

  /** The job group the benchmark sets around facade call `id`. */
  def groupOf(id: Long): String = GroupPrefix + id

  def callOfGroup(g: String): Option[Long] =
    if (g.startsWith(GroupPrefix)) g.drop(GroupPrefix.length).toLongOption else None

  final case class Job(id: Int, call: Option[Long], startMs: Long, endMs: Long, stageIds: Seq[Int])

  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleBytes: Long, inputBytes: Long, writtenBytes: Long,
                        spillBytes: Long)

  /** The window of one facade call, wall-clock milliseconds. */
  final case class Window(call: Long, startMs: Long, endMs: Long)

  /** Everything the engine did for one call. `jobMs` is the union of its
    * jobs' intervals; `schedWaitMs` the part of that union in which none
    * of its tasks ran. */
  final case class Usage(jobs: Seq[Job], stages: Int, tasks: Int, taskRunMs: Double,
                         taskCpuMs: Double, taskGcMs: Double, shuffleBytes: Double,
                         inputBytes: Double, writtenBytes: Double, spillBytes: Double,
                         jobMs: Double, schedWaitMs: Double)

  /** Assign each job to a call: by the job group the benchmark set, or,
    * for jobs Spark starts under a group of its own (broadcast exchanges),
    * by the call whose window contains the job's start. The client is one
    * thread, so at most one call is open at any instant. */
  def attribute(jobs: Seq[Job], tasks: Seq[Task], stagesRun: Set[Int],
                windows: Seq[Window]): Map[Long, Usage] = {
    val known = windows.map(_.call).toSet
    val owner: Map[Int, Long] = jobs.flatMap { j =>
      j.call.filter(known).orElse(
        windows.filter(w => w.startMs <= j.startMs && j.startMs <= w.endMs)
          .sortBy(-_.startMs).headOption.map(_.call)).map(j.id -> _)
    }.toMap
    // a stage runs in the first job that lists it; later jobs skip it
    val stageJob = mutable.Map[Int, Int]()
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.id)))
    val tasksByCall = tasks.groupBy(t => stageJob.get(t.stageId).flatMap(owner.get))
    val jobsByCall = jobs.filter(j => owner.contains(j.id)).groupBy(j => owner(j.id))
    windows.map { w =>
      val js = jobsByCall.getOrElse(w.call, Seq.empty)
      val ts = tasksByCall.getOrElse(Some(w.call), Seq.empty)
      val jobIv = js.map(j => (j.startMs, j.endMs))
      val taskIv = ts.map(t => (t.launchMs, t.finishMs))
      val jobMs = Trace.coveredNs(jobIv, w.startMs, w.endMs).toDouble
      val taskMs = Trace.coveredNs(taskIv, w.startMs, w.endMs)
      val bothMs = Trace.coveredNs(jobIv ++ taskIv, w.startMs, w.endMs)
      // |jobs ∩ tasks| = |jobs| + |tasks| − |jobs ∪ tasks|
      val overlap = jobMs + taskMs - bothMs
      val jobIds = js.map(_.id).toSet
      val stages = stageJob.count { case (s, j) => jobIds(j) && stagesRun(s) }
      w.call -> Usage(js, stages, ts.length, ts.map(_.runMs).sum.toDouble,
        ts.map(_.cpuNs).sum / 1e6, ts.map(_.gcMs).sum.toDouble,
        ts.map(_.shuffleBytes).sum.toDouble, ts.map(_.inputBytes).sum.toDouble,
        ts.map(_.writtenBytes).sum.toDouble, ts.map(_.spillBytes).sum.toDouble,
        jobMs, jobMs - overlap)
    }.toMap
  }
}
