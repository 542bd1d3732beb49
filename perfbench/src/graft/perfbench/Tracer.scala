package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counters of one layer, summed over the spans attributed to it. */
final class LayerStats {
  var wallNs = 0L
  var runMs = 0L
  var waitMs = 0L
  var planMs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** (task run time summed, max/median task run time) per multi-task stage */
  val stageSkew = mutable.ArrayBuffer[(Long, Double)]()

  /** Run-time-weighted mean of the per-stage max/median task time. */
  def skew: Double = {
    val w = stageSkew.map(_._1).sum
    if (w == 0) 1.0 else stageSkew.map { case (t, r) => t * r }.sum / w
  }
}

/** One micro-batch of a streaming query, from its progress event: when its
  * trigger started (epoch ms), its phase durations (ms) and its input rows. */
final case class Batch(startMs: Long, durations: Map[String, Long], inputRows: Long)

/** Collects, from outside the program, what Spark reports about the work
  * done while a span is open. The benchmark's driver thread runs one span
  * at a time and drains the listener bus before closing it, so every event
  * received while a span is open belongs to that span; a job that carries
  * the span's job group is attributed by the group even so.
  *
  * Micro-batch progress is collected in every run (the micro-batches are
  * the steps of a streaming pass); the stage, task and planning counters only while
  * `tracing` is set. */
final class Tracer extends SparkListener {
  @volatile var tracing = false
  @volatile private var open: Option[String] = None // layer of the open span
  private val groupLayer = mutable.Map[String, String]()
  private val stageLayer = mutable.Map[Int, String]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val layers = mutable.LinkedHashMap[String, LayerStats]()
  val batches = mutable.ArrayBuffer[Batch]()
  var stagesInJobs = 0L
  var stagesRun = 0L
  /** Every task that ended while tracing, and those no layer took. */
  var tasksSeen = 0L
  var tasksUnattributed = 0L
  var runMsSeen = 0L
  var runMsUnattributed = 0L

  def stats(layer: String): LayerStats = synchronized(layers.getOrElseUpdate(layer, new LayerStats))

  def openSpan(group: String, layer: String): Unit = synchronized {
    groupLayer(group) = layer
    open = Some(layer)
  }

  def closeSpan(): Unit = { open = None }

  private def layerOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(groupLayer.get).orElse(open)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    layerOf(e.properties).foreach { l =>
      e.stageIds.foreach(stageLayer(_) = l)
      stagesInJobs += e.stageIds.size
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (tracing) synchronized {
    if (stageLayer.contains(e.stageInfo.stageId)) stagesRun += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) synchronized {
    val m = e.taskMetrics
    val runMs = if (m != null) m.executorRunTime else 0L
    val layer = stageLayer.get(e.stageId).orElse(open).filter(_ => m != null)
    tasksSeen += 1
    runMsSeen += runMs
    if (layer.isEmpty) { tasksUnattributed += 1; runMsUnattributed += runMs }
    layer.foreach { l =>
      val s = stats(l)
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val schedulerDelay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.waitMs += schedulerDelay + m.shuffleReadMetrics.fetchWaitTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) synchronized {
    for (ts <- stageTasks.remove(e.stageInfo.stageId) if ts.size >= 2;
         l <- stageLayer.get(e.stageInfo.stageId)) {
      val sorted = ts.sorted
      val median = math.max(1L, sorted(sorted.size / 2))
      stats(l).stageSkew += ((ts.sum, sorted.last.toDouble / median))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent if p.progress.numInputRows > 0 => synchronized {
      val d = p.progress.durationMs
      batches += Batch(java.time.Instant.parse(p.progress.timestamp).toEpochMilli,
        d.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.progress.numInputRows)
    }
    case x: SparkListenerSQLExecutionEnd if tracing => synchronized {
      open.foreach(l => stats(l).planMs += PerfbenchBridge.planningMs(x))
    }
    case _ =>
  }
}
