package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark-runtime counters for one job group: the benchmark sets a job
  * group around each of its calls into graft, and [[Probe]] files every
  * job, stage and task under the group that launched it. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var outputBytes = 0L
  var outputRows = 0L
  /** (submitted, completed) epoch ms of each completed stage. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  /** Max over median task run time, worst stage with >= 4 tasks. */
  var worstSkew = 1.0

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    scanBytes += o.scanBytes; scanRows += o.scanRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    stageSpans ++= o.stageSpans
    worstSkew = math.max(worstSkew, o.worstSkew)
  }
}

/** The benchmark's own listener. Registered only in traced runs. */
final class Probe extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val groups = mutable.HashMap.empty[String, GroupStats]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    stats(g).jobs += 1
    e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stats(stageGroup.getOrElse(e.stageId, "(none)"))
    g.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      g.taskRunMs += m.executorRunTime
      g.taskCpuNs += m.executorCpuTime
      g.gcMs += m.jvmGCTime
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      g.scanBytes += m.inputMetrics.bytesRead
      g.scanRows += m.inputMetrics.recordsRead
      g.outputBytes += m.outputMetrics.bytesWritten
      g.outputRows += m.outputMetrics.recordsWritten
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val g = stats(stageGroup.getOrElse(info.stageId, "(none)"))
      g.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        g.stageSpans += ((s, c, info.stageId))
      stageTaskMs.remove(info.stageId).foreach { ts =>
        if (ts.size >= 4) {
          val sorted = ts.sorted
          val med = math.max(sorted(sorted.size / 2), 1L)
          g.worstSkew = math.max(g.worstSkew, sorted.last.toDouble / med)
        }
      }
    }

  /** Remove and return the counters of every group. */
  def takeAll(): Map[String, GroupStats] = synchronized {
    val out = groups.toMap
    groups.clear()
    out
  }
}
