package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.core.{Connector, FileConnector, JdbcConnector, ManifestTable, MigrationJob, WriteMode}
import graft.streaming.StreamingJobs
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** migrate_sync: change batches applied to non-empty targets, rotating
  * over five targets: local parquet and a manifest-committed
  * FileConnector with `Replace(id)`, two Derby tables the library
  * creates itself (`InsertIgnore(id)` and `Replace(id)`), and a
  * file-watch target fed by `StreamingJobs.incrementalFileCopy`.
  *
  * A window is a fixed number of batch applies, whatever `seconds` says:
  * the generator makes batches for three windows, and a faster program
  * must not run out of them.
  */
final class Sync(spark: SparkSession, dir: Path, spec: JsonNode) extends Workload {
  private val order = Seq("parquet", "manifest", "jdbc_ignore", "jdbc_replace", "stream")
  private val batches = order.map(t => t -> spec.get("targets").get(t).get("batches").asInt).toMap
  private val batchRows = order.map(t =>
    t -> Json.elems(spec.get("targets").get(t).get("batch_rows")).map(_.asLong).toIndexedSeq).toMap
  private val retryEvery = spec.get("stream_retry_every").asInt
  private val streamSchema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
    StructField("amt", DoubleType), StructField("ver", LongType)))
  private val derbyUrl = s"jdbc:derby:${dir.resolve("derby/sync")};create=true"
  private var rep = 0
  private val next = mutable.Map.empty[String, Int]
  private val appliedB = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
  private var streamOps = 0
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def sinkKind(t: String): String = t match {
    case "parquet" | "manifest" => t
    case "stream" => "stream"
    case _ => "jdbc"
  }
  private def outRoot(t: String): Path = dir.resolve(s"sync_out/r$rep/$t")
  private def target(t: String): Connector = t match {
    case "parquet" => FileConnector("tgt_parquet", outRoot(t).toString, "parquet")
    case "manifest" => FileConnector("tgt_manifest", outRoot(t).toString, "parquet", Map("commit" -> "manifest"))
    case _ => JdbcConnector("tgt_jdbc", derbyUrl)
  }
  private def table(t: String): String = t match {
    case "jdbc_ignore" => s"SYNC_IGNORE_R$rep"
    case "jdbc_replace" => s"SYNC_REPLACE_R$rep"
    case _ => "t"
  }
  private def mode(t: String): WriteMode = t match {
    case "jdbc_ignore" => WriteMode.InsertIgnore(Seq("id"))
    case _ => WriteMode.Replace(Seq("id"))
  }
  private def batchSource(t: String): Connector =
    FileConnector(s"src_$t", dir.resolve(s"sync/$t/src").toString, "parquet")
  private def bname(b: Int): String = f"b$b%04d"

  private def streamDirs = {
    val r = outRoot("stream")
    (r.resolve("src"), r.resolve("dst"), r.resolve("ckpt"))
  }

  /** Deliver staged file `b` into the watched directory (atomically, as
    * a new file or over the same path for a re-delivery) and drain it. */
  private def streamOnce(b: Int): Long = {
    val (src, dst, ckpt) = streamDirs
    Files.createDirectories(src)
    val tmp = src.resolve(s".deliver-${bname(b)}")
    Files.copy(dir.resolve(s"sync/stream/staged/${bname(b)}.json"), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, src.resolve(s"${bname(b)}.json"), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val q = Trace.span("streaming.incrementalFileCopy") {
      StreamingJobs.incrementalFileCopy(spark, src.toString, streamSchema, "json", dst.toString, ckpt.toString).get
    }
    q.awaitTermination()
    val ps = q.recentProgress.toSeq
    if (Trace.enabled) progress ++= ps
    ps.map(_.numInputRows).sum
  }

  /** The initial target load, done by the library: b0000 into each target. */
  def setup(): Seq[Double] = {
    val reps = (0 until 3).map { r =>
      rep = r
      val t0 = System.nanoTime()
      order.foreach { t =>
        if (t == "stream") streamOnce(0)
        else MigrationJob(batchSource(t), target(t), mode = WriteMode.Append).runOne(spark, bname(0), table(t))
      }
      (System.nanoTime() - t0) / 1e9
    }
    order.foreach { t => next(t) = 1; appliedB(t) = mutable.ArrayBuffer.empty }
    reps
  }

  private def applyOne(ops: Ops, t: String): Unit = {
    ops.source = if (t == "stream") "json" else "parquet"
    ops.sink = sinkKind(t); ops.group = t
    if (t == "stream") {
      streamOps += 1
      val redeliver = streamOps % retryEvery == 0 && appliedB(t).exists(_ > 0)
      val b = if (redeliver) appliedB(t).filter(_ > 0).last else { val b = next(t); next(t) = b + 1; b }
      ops.run(s"stream/${bname(b)}${if (redeliver) "/again" else ""}") {
        Ctx.under(spark, ops.ctx("write"))(streamOnce(b))
      }
      appliedB(t) += (if (redeliver) -b else b)
    } else {
      val b = next(t)
      next(t) = b + 1
      val job = MigrationJob(SourceW(batchSource(t), "parquet", ops, auto = false),
        SinkW(target(t), sinkKind(t), ops), mode = mode(t))
      ops.run(s"$t/${bname(b)}")(job.runOne(spark, bname(b), table(t)))
      appliedB(t) += b
    }
  }

  private def left(t: String): Boolean = next(t) <= batches(t)

  def window(seconds: Double, exactOps: Option[Int]): Window = {
    val n = exactOps.getOrElse(Sync.OpsPerWindow)
    val ops = new Ops(spark)
    val t0 = System.nanoTime()
    var i = 0
    while (ops.done.size < n) {
      val t = order(i % order.size)
      require(left(t), s"no batch left for $t after ${ops.done.size} of $n operations")
      applyOne(ops, t)
      i += 1
    }
    val rows = ops.done.map(o => expectedRows(o.label)).sum
    Window(ops.done.toList, (System.nanoTime() - t0) / 1e9, rows, ops.done.size, ops.cacheMax)
  }

  def expectedRows(label: String): Long = {
    val Array(t, b) = label.split('/').take(2)
    if (label.endsWith("/again")) 0L else batchRows(t)(b.stripPrefix("b").toInt - 1)
  }

  def fingerprints(): Map[String, Fingerprint.Fp] = {
    val props = new java.util.Properties()
    val (_, dst, _) = streamDirs
    val tables: Seq[(String, () => DataFrame)] = Seq(
      "manifest" -> (() => target("manifest").read(spark, "t")),
      "jdbc_ignore" -> (() => spark.read.jdbc(derbyUrl, table("jdbc_ignore"), props)),
      "jdbc_replace" -> (() => spark.read.jdbc(derbyUrl, table("jdbc_replace"), props)),
      "stream" -> (() => spark.read.parquet(dst.toString)))
    Fingerprint.many(spark, tables)
  }

  def parquetTargets: Map[String, Path] = Map("parquet" -> outRoot("parquet").resolve("t"))

  def someParquetTarget: Path = outRoot("parquet").resolve("t")

  def applied: Any = appliedB.map { case (k, v) => k -> v.toList }.toMap

  def layerExtras(w: Window): Map[String, Double] = {
    def dur(key: String): Double =
      progress.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    val table = new HPath(outRoot("manifest").resolve("t").toString)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = fs.getContentSummary(table).getLength.toDouble
    val live = ManifestTable.resolve(fs, table).toSeq.flatMap(_.entries)
      .flatMap(e => ManifestTable.entryPaths(table, e)).map(p => fs.getContentSummary(p).getLength).sum
    Map(
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "manifest.space_amp" -> (if (live > 0) all / live else 0.0))
  }
}

object Sync {
  /** Batch applies per window, 10 per target: enough for an 80th
    * percentile with 10 samples beyond it, few enough that a run ends
    * within about a minute on 4 cores. */
  val OpsPerWindow = 50
}
