package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark counters of one op: everything its jobs did, grouped by the job
  * group the harness sets around the op. */
final class OpProfile {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** (job id, start ms, end ms) in epoch milliseconds. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  /** Wall time inside [startMs, endMs] with no job of this op running. */
  def idleMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var reach = startMs
    for ((_, s, e) <- jobSpans.sortBy(_._2)) {
      val lo = math.max(s, reach)
      val hi = math.min(e, endMs)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, endMs - startMs - covered)
  }
}

/** The benchmark's own SparkListener. Registered only in traced runs. */
final class Profiler extends SparkListener {
  private val byGroup = mutable.Map.empty[String, OpProfile]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]

  private def acc(g: String) = byGroup.getOrElseUpdate(g, new OpProfile)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStarts(e.jobId) = (g, e.time)
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, t0) => acc(g).jobSpans += ((e.jobId, t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val p = acc(g)
      p.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        p.cpuNs += m.executorCpuTime
        p.gcMs += m.jvmGCTime
        p.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        p.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        p.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Remove and return the counters of job group `g`. Call after
    * `BenchBridge.drainListeners`. */
  def take(g: String): OpProfile = synchronized(byGroup.remove(g).getOrElse(new OpProfile))
}
