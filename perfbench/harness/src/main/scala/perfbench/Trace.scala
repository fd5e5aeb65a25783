package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** What Spark reported for one query in one pass. */
final class Counters {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, deserializeMs, fetchWaitMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var scanBytes, scanRows, resultBytes = 0L
  var singleTaskStages, singleTaskRunMs = 0L
  var cacheWrittenBytes, cachePeakBytes = 0L
  /** [launch, finish] of every task, epoch ms. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** [start, end] of every job submitted while the query was being
    * declared, epoch ms. */
  val buildJobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener of the traced run. Jobs and stages are charged to the
  * (pass, query, phase) the harness put in the submitting thread's local
  * properties; tasks follow their stage. Block updates carry no
  * properties, so they are charged to the query running when the event
  * is handled. The bus delivers events on one thread; the harness reads
  * the counters only after draining the bus. */
final class LayerListener extends SparkListener {
  import LayerListener._

  @volatile var current: (Int, String) = (-1, "")

  private val counters = mutable.HashMap.empty[(Int, String), Counters]
  private val stageOwner = mutable.HashMap.empty[Int, (Int, String)]
  private val stageRunMs = mutable.HashMap.empty[Int, Long]
  private val jobStarts = mutable.HashMap.empty[Int, ((Int, String), Boolean, Long)]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L

  def of(pass: Int, query: String): Counters = synchronized {
    counters.getOrElse((pass, query), new Counters)
  }

  private def acc(key: (Int, String)): Counters =
    counters.getOrElseUpdate(key, new Counters)

  private def owner(p: java.util.Properties): ((Int, String), String) =
    Option(p).flatMap(p => Option(p.getProperty(QueryKey)).map { q =>
      ((p.getProperty(PassKey).toInt, q), p.getProperty(PhaseKey))
    }).getOrElse(((-1, ""), ""))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (key, phase) = owner(e.properties)
    val c = acc(key)
    c.jobs += 1
    if (phase == "build") c.buildJobs += 1
    jobStarts(e.jobId) = (key, phase == "build", e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (key, build, start) =>
      if (build) acc(key).buildJobSpans += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val (key, _) = owner(e.properties)
    stageOwner(e.stageInfo.stageId) = key
    acc(key).stages += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = acc(stageOwner.getOrElse(id, (-1, "")))
    if (e.stageInfo.numTasks == 1) {
      c.singleTaskStages += 1
      c.singleTaskRunMs += stageRunMs.getOrElse(id, 0L)
    }
    stageRunMs.remove(id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(stageOwner.getOrElse(e.stageId, (-1, "")))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val ti = e.taskInfo
    if (ti != null) c.taskSpans += ((ti.launchTime, ti.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserializeMs += m.executorDeserializeTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      if (e.taskType == "ResultTask") c.resultBytes += m.resultSize
      stageRunMs(e.stageId) = stageRunMs.getOrElse(e.stageId, 0L) + m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = blockBytes.getOrElse(id, 0L)
      if (size > 0) blockBytes(id) = size else blockBytes.remove(id)
      cachedBytes += size - prev
      val c = acc(current)
      if (size > prev) c.cacheWrittenBytes += size - prev
      c.cachePeakBytes = math.max(c.cachePeakBytes, cachedBytes)
    }
  }
}

object LayerListener {
  val PassKey = "perfbench.pass"
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"

  /** Total length of the union of [start, end] spans. */
  def unionMs(spans: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS, curE = Long.MinValue
    for ((s, e) <- spans.filter(p => p._2 > p._1).toSeq.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
