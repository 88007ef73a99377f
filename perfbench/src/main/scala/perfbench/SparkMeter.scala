package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark job, stage and task events, recorded by the traced run only.
  * Times are epoch nanoseconds (listener events carry epoch millis). */
final class SparkMeter extends SparkListener {
  import SparkMeter.{Job, Stage}

  private val jobStarts = mutable.Map.empty[Int, (Long, Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val plans = mutable.Map.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStarts(e.jobId) = (e.time * 1000000L, exec, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (st, exec, ids) =>
      jobs += Job(e.jobId, st, e.time * 1000000L, exec, ids)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages(e.stageInfo.stageId) = Stage(e.stageInfo.stageId,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, m.executorRunTime)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { plans(s.executionId) = s.physicalPlanDescription }
    case _ =>
  }

  /** Jobs that started inside [from, to] (epoch ns), in start order. */
  def jobsIn(from: Long, to: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= from - 1000000L && j.start <= to).sortBy(_.start).toSeq
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  def tasksOf(stageId: Int): Seq[Long] = synchronized {
    taskMs.get(stageId).map(_.toSeq).getOrElse(Nil)
  }

  def plan(j: Job): String = synchronized(plans.getOrElse(j.execId, ""))
}

object SparkMeter {

  final case class Job(id: Int, start: Long, end: Long, execId: Long,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, shuffleWriteBytes: Long,
                         shuffleWriteRecords: Long, spillBytes: Long,
                         gcMs: Long, runMs: Long)

  // the write node's first argument is its output path; the formatted
  // plan lists it on the node's "Arguments:" line
  private val Written =
    """(?s)\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments: ([^,\s]+)""".r

  /** The `Build.run` phase a job belongs to, read from the physical plan
    * of the SQL execution that ran it: the directory it writes, or for a
    * read-only job what it reads. Jobs with no plan (RDD jobs such as the
    * ts artifact's) and every other write are bookkeeping: "stats". */
  def buildPhase(plan: String): String =
    Written.findFirstMatchIn(plan).map(_.group(1).split('/').last) match {
      case Some("staging_postings") => "stage"
      case Some("dict") => "segments"
      case Some(_) => "stats"
      case None if plan.contains("staging_postings") => "heavy_terms"
      case None => "stats"
    }

  /** max / median task time of a stage's tasks (1.0 for one task). */
  def skew(taskMs: Seq[Long]): Double =
    if (taskMs.isEmpty) 1.0
    else taskMs.max.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble)))
}
