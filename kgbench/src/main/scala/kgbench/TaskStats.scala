package kgbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task totals of one job group (one layer of the build). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var recordsIn = 0L
  var recordsOut = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  /** task durations (ms) per stage, for the skew figure */
  val durations = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  /** max ÷ median task duration of the group's busiest stage. */
  def taskSkew: Double =
    if (durations.isEmpty) 1.0
    else {
      val ds = durations.values.maxBy(_.sum).sorted
      val med = ds(ds.length / 2).max(1L)
      ds.last.max(1L).toDouble / med
    }
}

/** Benchmark-owned SparkListener: per job group task CPU, records,
  * shuffle bytes, spill, peak execution memory and task durations. Jobs
  * are labelled with `SparkContext.setJobGroup` around each layer call;
  * jobs outside any group land under "-". */
final class TaskStats extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()

  private def group(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    group(g).synchronized { group(g).jobs += 1 }
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "-")
    val s = group(g)
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = group(stageGroup.getOrDefault(e.stageId, "-"))
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.recordsIn += m.inputMetrics.recordsRead
        s.recordsOut += m.outputMetrics.recordsWritten
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = s.peakExecMem.max(m.peakExecutionMemory)
        s.durations.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  /** Stats of one group once every event sent so far has been delivered. */
  def get(sc: SparkContext, g: String): GroupStats = {
    org.apache.spark.kgbench.ListenerBus.drain(sc)
    groups.getOrDefault(g, new GroupStats)
  }
}
