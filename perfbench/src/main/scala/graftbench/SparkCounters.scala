package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** Per-job-group Spark runtime counters, read from listener events.
  *
  * Every job is attributed to the job group it was started under
  * (`SparkContext.setJobGroup`; broadcast and subquery jobs inherit it),
  * its stages to the job, its tasks to the stage. The benchmark runs
  * each timed call under its own group, so `group(name)` is that call's
  * work alone.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters.Acc

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(group: String): Acc = accs.computeIfAbsent(group, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val a = acc(g)
    a.synchronized { a.jobs += 1 }
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    a.synchronized {
      a.stages += 1
      if (e.stageInfo.attemptNumber() > 0) a.stageRetries += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    val info = e.taskInfo
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      if (info != null) a.intervals += ((info.launchTime, info.finishTime))
      if (m != null) {
        a.taskCpuNs += m.executorCpuTime
        a.taskRunMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillMemBytes += m.memoryBytesSpilled
        a.spillDiskBytes += m.diskBytesSpilled
        val rows = m.inputMetrics.recordsRead
        a.scanRows += rows
        a.scanBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.bytesRead > 0 || rows > 0) {
          a.scanTasks += 1
          if (rows > 0) a.scanTasksUseful += 1
        }
        if (info != null) {
          // the Spark UI's definition: task duration not spent running,
          // deserializing, serializing the result or fetching it
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
          a.schedulerDelayMs += math.max(0L, delay)
        }
      }
    }
  }

  /** Counters of one group (zero if it ran no job). */
  def group(name: String): Acc = Option(accs.get(name)).getOrElse(new Acc)
}

object SparkCounters {

  final class Acc {
    var jobs, stages, tasks, taskFailures, stageRetries = 0L
    var taskCpuNs, taskRunMs, schedulerDelayMs, gcMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillMemBytes, spillDiskBytes = 0L
    var scanRows, scanBytes, scanTasks, scanTasksUseful = 0L
    val intervals = new ArrayBuffer[(Long, Long)]

    def +(o: Acc): Acc = {
      val r = new Acc
      r.jobs = jobs + o.jobs; r.stages = stages + o.stages; r.tasks = tasks + o.tasks
      r.taskFailures = taskFailures + o.taskFailures; r.stageRetries = stageRetries + o.stageRetries
      r.taskCpuNs = taskCpuNs + o.taskCpuNs; r.taskRunMs = taskRunMs + o.taskRunMs
      r.schedulerDelayMs = schedulerDelayMs + o.schedulerDelayMs; r.gcMs = gcMs + o.gcMs
      r.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
      r.shuffleReadBytes = shuffleReadBytes + o.shuffleReadBytes
      r.spillMemBytes = spillMemBytes + o.spillMemBytes; r.spillDiskBytes = spillDiskBytes + o.spillDiskBytes
      r.scanRows = scanRows + o.scanRows; r.scanBytes = scanBytes + o.scanBytes
      r.scanTasks = scanTasks + o.scanTasks; r.scanTasksUseful = scanTasksUseful + o.scanTasksUseful
      r.intervals ++= intervals; r.intervals ++= o.intervals
      r
    }

    /** Wall time of `[fromMs, toMs)` during which no task was running. */
    def driverGapMs(fromMs: Long, toMs: Long): Long =
      (toMs - fromMs) - Stats.unionLength(intervals.toSeq, fromMs, toMs)
  }

  /** Block until the listener bus has delivered every event posted so
    * far, so counters read afterwards include the finished call's tail.
    */
  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.BusDrain(sc)
}
