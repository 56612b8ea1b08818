package perfbench

import graft.core.{Connector, WriteMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Operation clock and layer spans around the library's `Connector`
  * calls.
  *
  * An operation is one table copy or one batch apply. Inside
  * `MigrationJob.runAll` the harness cannot see where one table ends, so
  * there an operation starts when the source is asked to read a table
  * and ends when the next read starts or `runAll` returns (`auto`).
  * `runOne` re-reads the sink and counts it after the write; that
  * recount ends with the operation, so its span is closed there.
  */
final class Ops(spark: SparkSession) {
  val done = mutable.ArrayBuffer.empty[Op]
  private var cur: Op = null
  private var opSpan: (Int, Int) = null
  private var recount: (String, Long, Int, Int) = null
  private var readEndNs = 0L
  /** Context of the current operation: source kind, sink kind, group. */
  var source = ""; var sink = ""; var group = ""
  /** Most cached RDDs (count, bytes) seen after any traced operation. */
  var cacheMax = (0.0, 0.0)

  def ctx(phase: String): String = Ctx(phase, source, sink, group)

  def begin(label: String): Unit = {
    end()
    cur = Op(label, System.nanoTime())
    if (Trace.enabled) { opSpan = Trace.open(); Trace.push(opSpan._1) }
  }

  def end(): Unit = if (cur != null) {
    val now = System.nanoTime()
    cur.endNs = now
    if (Trace.enabled) {
      if (recount != null) {
        val (kind, t0, id, parent) = recount
        Trace.record(Trace.Span(id, parent, s"sinks.$kind.recount", t0, now, Trace.runId))
      }
      Trace.pop()
      Trace.record(Trace.Span(opSpan._1, opSpan._2, "op", cur.startNs, now, Trace.runId))
      spark.sparkContext.clearJobGroup()
      val cached = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      cacheMax = (math.max(cacheMax._1, cached.length.toDouble),
        math.max(cacheMax._2, cached.map(r => r.memSize + r.diskSize).sum.toDouble))
    }
    recount = null
    done += cur
    cur = null
  }

  /** Run one explicit operation; `f` returns the rows it reports. */
  def run(label: String)(f: => Long): Long = {
    begin(label)
    val rows = f
    cur.rows = rows
    end()
    rows
  }

  private[perfbench] def readDone(): Unit = readEndNs = System.nanoTime()

  /** On tables with a transform and no dedup, the time between the
    * source read returning and the sink write is `Transform.apply`
    * building its plan inside `runOne`. */
  private[perfbench] def writeBegins(): Unit =
    if (Trace.enabled && readEndNs > 0 && group == "tx") {
      val (id, parent) = Trace.open()
      Trace.record(Trace.Span(id, parent, "transform.apply", readEndNs, System.nanoTime(), Trace.runId))
      readEndNs = 0L
    }

  private[perfbench] def recountBegins(kind: String): Unit = if (Trace.enabled) {
    val (id, parent) = Trace.open()
    recount = (kind, System.nanoTime(), id, parent)
    // the count runs after read() returns; its jobs keep this group
    spark.sparkContext.setJobGroup(ctx("recount"), "recount")
  }
}

/** One operation: its label, its interval, and the rows it reported. */
final case class Op(label: String, startNs: Long, var endNs: Long = 0L, var rows: Long = -1L)

/** A source seen through the operation clock. */
final case class SourceW(inner: Connector, kind: String, ops: Ops, auto: Boolean) extends Connector {
  def name: String = inner.name
  def read(spark: SparkSession, index: String): DataFrame = {
    if (auto) ops.begin(s"${inner.name}/$index")
    val df = Trace.span(s"sources.$kind.resolve") {
      Ctx.under(spark, ops.ctx("resolve"))(inner.read(spark, index))
    }
    ops.readDone()
    df
  }
  def write(df: DataFrame, index: String, mode: WriteMode): Unit = inner.write(df, index, mode)
  def listIndexes(spark: SparkSession): Seq[String] =
    Trace.span(s"sources.$kind.list")(inner.listIndexes(spark))
}

/** A sink seen through the operation clock. */
final case class SinkW(inner: Connector, kind: String, ops: Ops) extends Connector {
  def name: String = inner.name
  def read(spark: SparkSession, index: String): DataFrame = {
    ops.recountBegins(kind)
    inner.read(spark, index)
  }
  def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
    ops.writeBegins()
    Trace.span(s"sinks.$kind.write") {
      Ctx.under(df.sparkSession, ops.ctx("write"))(inner.write(df, index, mode))
    }
  }
  def listIndexes(spark: SparkSession): Seq[String] = inner.listIndexes(spark)
}
