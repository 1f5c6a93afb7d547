package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Spark work attributed to one benchmark call (a "phase"). */
final class PhaseCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** Wall-clock [launch, finish] of every task, epoch ms. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Counts jobs, stages, tasks and task metrics per phase. The benchmark
  * names the phase in a local property before each call; Spark copies
  * local properties onto every job the call submits, including jobs it
  * submits from helper threads. */
final class LayerListener extends SparkListener {
  private val stagePhase = mutable.Map.empty[Int, String]
  private val counts = mutable.Map.empty[String, PhaseCounts]

  private def of(phase: String): PhaseCounts = counts.getOrElseUpdate(phase, new PhaseCounts)

  def phase(name: String): PhaseCounts = synchronized(counts.getOrElse(name, new PhaseCounts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(LayerListener.Key)))
      .getOrElse(LayerListener.Unattributed)
    of(p).jobs += 1
    e.stageIds.foreach(stagePhase(_) = p)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stagePhase.getOrElse(e.stageInfo.stageId, LayerListener.Unattributed)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stagePhase.getOrElse(e.stageId, LayerListener.Unattributed))
    c.tasks += 1
    c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

object LayerListener {
  val Key = "perfbench.phase"
  val Unattributed = "unattributed"
}

/** Micro-batch progress of the streaming subscriber, per phase. */
final class StreamListener extends StreamingQueryListener {
  @volatile var currentPhase: String = LayerListener.Unattributed
  private val progress = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Long]]]

  def batches(phase: String): Seq[Map[String, Long]] = synchronized(
    progress.get(phase).map(_.toSeq).getOrElse(Nil))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      progress.getOrElseUpdate(currentPhase, mutable.ArrayBuffer.empty) +=
        (d + ("numInputRows" -> p.numInputRows))
    }
  }
}
