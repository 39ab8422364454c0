package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Scheduler and executor-task counters per benchmark operation. The
  * harness tags each operation's jobs with the [[LayerListener.OpKey]]
  * local property; jobs posted without it are counted under
  * [[LayerListener.Untagged]]. Events arrive on the listener-bus thread,
  * so reads must follow `org.apache.spark.BusAccess.drain`. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val aggs = mutable.HashMap.empty[String, Agg]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val jobOp = mutable.HashMap.empty[Int, (String, Long)]

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).getOrElse(Untagged)
  private def agg(op: String): Agg = aggs.getOrElseUpdate(op, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobOp(e.jobId) = (op, e.time)
    agg(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) => agg(op).spans += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp(e.stageInfo.stageId) = opOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageOp.getOrElse(e.stageInfo.stageId, Untagged)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageOp.getOrElse(e.stageId, Untagged))
    a.tasks += 1
    if (e.reason != Success) a.tasksFailed += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
    }
  }

  /** Remove and return the counters of one operation key. */
  def take(op: String): Agg = synchronized { aggs.remove(op).getOrElse(new Agg) }
}

object LayerListener {
  val OpKey = "graftbench.op"
  val Untagged = "<untagged>"

  final class Agg {
    var jobs, stages = 0
    var tasks, tasksFailed = 0L
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    var runMs, cpuNs, gcMs, inBytes, inRecords = 0L
    var shuffleWriteBytes, shuffleRecords, shuffleReadBytes, fetchWaitMs = 0L
    var spillMem, spillDisk = 0L

    /** Wall milliseconds covered by the union of this op's job spans,
      * clipped to [from, to]. */
    def coveredMs(from: Long, to: Long): Long = {
      var covered = 0L
      var cur = from
      spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .sortBy(_._1).foreach { case (a, b) =>
          val s = math.max(a, cur)
          if (b > s) { covered += b - s; cur = b }
        }
      covered
    }
  }
}
