package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job seen while tracing was on: its interval, the call site
  * of its result stage, and the task metrics of the stages it ran. */
final class JobRec(val id: Int, val startMs: Long, val site: String) {
  var endMs: Long = -1L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "start_ms" -> startMs, "end_ms" -> endMs, "site" -> site,
    "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)
}

/** The harness's only listener. Task CPU is always summed (the
  * end-to-end CPU metric needs it); job records are kept only while
  * `recording` is set, which is what "traced" means here. */
final class Tracer extends SparkListener {
  @volatile var recording = false
  private var cpuNsTotal = 0L
  private val stageJob = mutable.Map.empty[Int, JobRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]

  def cpuSeconds: Double = synchronized(cpuNsTotal / 1e9)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val last = j.stageInfos.maxByOption(_.stageId)
      val frames = last.toSeq.flatMap(_.details.split("\n").toSeq)
        .map(_.trim).filter(_.startsWith("graft."))
      // jobs Spark launches from its own pool threads (broadcast and
      // adaptive query stages) carry no program frame
      val site = frames.find(_.startsWith("graft.crawl.WaveEngine"))
        .orElse(frames.headOption)
        .orElse(last.map(s => if (s.name.contains("withThreadLocalCaptured"))
          "spark async stage" else s.name)).getOrElse("?")
      val rec = new JobRec(j.jobId, j.time, site)
      jobs += rec
      j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == j.jobId).foreach(_.endMs = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      cpuNsTotal += m.executorCpuTime
      stageJob.get(t.stageId).foreach { r =>
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
