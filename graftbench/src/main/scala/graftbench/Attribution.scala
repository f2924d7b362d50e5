package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** What one finished task did, in the units the listener reports them
  * (times in ms, sizes in bytes). */
final case class TaskSample(
    stageId: Int,
    launchMs: Long,
    finishMs: Long,
    busyMs: Long,
    gcMs: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    outputBytes: Long,
    resultBytes: Long)

/** Totals of the Spark work attributed to one job group. */
final case class GroupTotals(
    jobs: Long = 0,
    tasks: Long = 0,
    busyMs: Long = 0,
    gcMs: Long = 0,
    shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0,
    spillBytes: Long = 0,
    inputBytes: Long = 0,
    outputBytes: Long = 0,
    resultBytes: Long = 0) {
  def +(t: TaskSample): GroupTotals = copy(
    tasks = tasks + 1, busyMs = busyMs + t.busyMs, gcMs = gcMs + t.gcMs,
    shuffleWriteBytes = shuffleWriteBytes + t.shuffleWriteBytes,
    shuffleReadBytes = shuffleReadBytes + t.shuffleReadBytes,
    spillBytes = spillBytes + t.spillBytes, inputBytes = inputBytes + t.inputBytes,
    outputBytes = outputBytes + t.outputBytes, resultBytes = resultBytes + t.resultBytes)
  def ++(o: GroupTotals): GroupTotals = GroupTotals(
    jobs + o.jobs, tasks + o.tasks, busyMs + o.busyMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, resultBytes + o.resultBytes)
}

/** Attributes Spark jobs, and the tasks of their stages, to the job
  * group that was set when the job was submitted. Jobs without a group
  * are counted under `Attribution.Unattributed`. */
final class Attribution {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, GroupTotals]
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]

  def jobStarted(group: Option[String], stageIds: Seq[Int]): Unit = synchronized {
    val g = group.getOrElse(Attribution.Unattributed)
    // a stage reused by a later job keeps the group of the job that
    // first listed it: that is the job that runs its tasks
    stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    val t = totals.getOrElse(g, GroupTotals())
    totals(g) = t.copy(jobs = t.jobs + 1)
  }

  def taskEnded(t: TaskSample): Unit = synchronized {
    val g = stageGroup.getOrElse(t.stageId, Attribution.Unattributed)
    totals(g) = totals.getOrElse(g, GroupTotals()) + t
    intervals.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((t.launchMs, t.finishMs))
  }

  /** Totals over every group equal to `prefix` or below it (`prefix.x`). */
  def totalsUnder(prefix: String): GroupTotals = synchronized {
    totals.collect { case (g, t) if Attribution.under(g, prefix) => t }
      .foldLeft(GroupTotals())(_ ++ _)
  }

  /** Task run intervals (epoch ms) of the groups under `prefix`. */
  def taskIntervalsUnder(prefix: String): Seq[(Long, Long)] = synchronized {
    intervals.collect { case (g, iv) if Attribution.under(g, prefix) => iv.toSeq }
      .flatten.toSeq
  }
}

object Attribution {
  val Unattributed = "(none)"
  def under(group: String, prefix: String): Boolean =
    group == prefix || group.startsWith(prefix + ".")
}

/** Feeds listener events into an Attribution. */
final class AttributionListener(attribution: Attribution) extends SparkListener {

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    attribution.jobStarted(group, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) attribution.taskEnded(TaskSample(
      stageId = e.stageId,
      launchMs = info.launchTime,
      finishMs = info.finishTime,
      busyMs = m.executorRunTime,
      gcMs = m.jvmGCTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      spillBytes = m.diskBytesSpilled,
      inputBytes = m.inputMetrics.bytesRead,
      outputBytes = m.outputMetrics.bytesWritten,
      resultBytes = m.resultSize))
  }
}
