package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task and stage counters for a traced run.
  *
  * Every job the harness triggers runs under a job group naming its
  * context (`phase|source|sink|group`, see [[Ctx]]); stages inherit the
  * context of the job that submitted them. Totals are folded per
  * context at the end.
  */
final class Counters extends SparkListener {
  final class StageAgg {
    var ctx = ""
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var tasks = 0
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var outRecords = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val stageCtx = mutable.Map.empty[Int, String]
  private val stages = mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ctx = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageCtx(_) = ctx)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, { val a = new StageAgg; a.ctx = stageCtx.getOrElse(e.stageId, ""); a })
      s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime; s.tasks += 1
      s.inBytes += m.inputMetrics.bytesRead; s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten; s.outRecords += m.outputMetrics.recordsWritten
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
      s.durations += m.executorRunTime
    }
  }

  def stageAggs: Seq[StageAgg] = synchronized { stages.values.toList }
}

object Counters {

  /** Heap in use at its peak since the last reset, in MB. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }
}

/** The context a job runs under, carried as its job group id. */
object Ctx {
  def apply(phase: String, source: String, sink: String, group: String): String =
    s"$phase|$source|$sink|$group"
  def parse(s: String): (String, String, String, String) = s.split('|') match {
    case Array(a, b, c, d) => (a, b, c, d)
    case _ => ("", "", "", "")
  }

  /** Run `body` with its jobs under `ctx` (traced runs only). */
  def under[T](spark: org.apache.spark.sql.SparkSession, ctx: String)(body: => T): T =
    if (!Trace.enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(ctx, ctx)
      try body
      finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    }
}
