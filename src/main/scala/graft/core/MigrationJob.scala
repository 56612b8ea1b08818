package graft.core

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.slf4j.LoggerFactory
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.{Failure, Success}

/** The `Migration` pipeline (SURVEY.md §3.1, `d22d/task.py:31-170`)
  * re-expressed as one declarative plan:
  *
  *   read → transform (P3) → dedup (P4) → limit (P5) → write (P8)
  *
  * What the reference does imperatively — window buffering, per-batch
  * retry, progress ETA — collapses into Spark: pipelining is whole-stage
  * codegen, retry is task/stage re-execution (kept safe by idempotent
  * [[WriteMode]]s), progress is one log line per table from [[runAll]].
  * The per-table loop over `get_indexes()` (P1, `d22d/task.py:78-101`)
  * becomes [[runAll]] over the source catalog.
  *
  * Scale: the plan is a narrow map-only pipeline (no shuffle) unless
  * dedup is on — dropDuplicates shuffles once on the dedup keys, which
  * replaces the reference's unbounded driver-side `set` (OOM class
  * eliminated; spills instead).
  */
final case class MigrationJob(
    source: Connector,
    sink: Connector,
    transform: Transform = Transform.identity,
    dedup: Boolean = false,             // quchong (P4): whole-row distinct
    dedupCols: Seq[String] = Nil,       // or keyed distinct
    limit: Option[Int] = None,          // size (P5)
    mode: WriteMode = WriteMode.Append,
    createDdl: Option[(DataFrame, String) => Unit] = None, // P7 hook: DDL emission before first write
) {

  /** Copy one table (`run_one` analog). Returns the rows handed to the
    * sink — after transform, dedup and limit — not the target's total:
    * an Append of 5 rows into a 100-row table returns 5, and an upsert
    * returns every row it delivered, whether it inserted, replaced or
    * was ignored. The count is an [[Observation]] on the plan the sink
    * executes, so it costs no second scan of source or sink. A sink
    * that returns without executing the plan fails with an
    * `IllegalStateException` instead of reporting a guess.
    */
  def runOne(spark: SparkSession, from: String, to: String): Long = {
    var df = transform(source.read(spark, from))
    if (dedup) df = if (dedupCols.nonEmpty) df.dropDuplicates(dedupCols) else df.dropDuplicates()
    limit.foreach(n => df = df.limit(n))
    createDdl.foreach(f => f(df, to))
    val delivered = Observation(s"graft_rows_delivered_${java.util.UUID.randomUUID()}")
    sink.write(df.observe(delivered, count(lit(1))), to, mode)
    MigrationJob.observedRows(spark, delivered, s"${sink.name}/$to")
  }

  /** Whole-database copy (P1): every index in the source catalog, with
    * optional per-table rename. Logs one progress line per table at
    * INFO — position, rows delivered, seconds and rows/s, the analog of
    * the reference's per-window ETA log.
    */
  def runAll(spark: SparkSession, renames: Map[String, String] = Map.empty): Map[String, Long] = {
    val indexes = source.listIndexes(spark)
    indexes.zipWithIndex.map { case (idx, i) =>
      val to = renames.getOrElse(idx, idx)
      val t0 = System.nanoTime()
      val rows = runOne(spark, idx, to)
      val secs = (System.nanoTime() - t0) / 1e9
      MigrationJob.log.info(f"${source.name} -> ${sink.name}: table ${i + 1}/${indexes.size} " +
        f"$idx -> $to: $rows rows in $secs%.3f s (${rows / math.max(secs, 1e-9)}%.0f rows/s)")
      idx -> rows
    }.toMap
  }
}

object MigrationJob {
  private val log = LoggerFactory.getLogger(classOf[MigrationJob])

  /** Observations complete on the listener bus after the write's SQL
    * execution ends: the common case finishes within this first wait. */
  private val FastWait = 200.millis

  /** Upper bound for draining the listener bus when the fast wait ran
    * out. Once the bus is empty every finished execution has been
    * delivered, so an observation still open then will never complete. */
  private val DrainTimeoutMs = 30000L

  /** The single `count(1)` an [[Observation]] collected, waiting at most
    * [[FastWait]] plus one bounded bus drain. Throws a named
    * `IllegalStateException` when the observed plan never ran to
    * completion (`what` names the target), never re-reads anything.
    */
  private def observedRows(spark: SparkSession, obs: Observation, what: String): Long = {
    try Await.ready(obs.future, FastWait)
    catch { case _: java.util.concurrent.TimeoutException => () }
    if (!obs.future.isCompleted) {
      try org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext, DrainTimeoutMs)
      catch { case _: java.util.concurrent.TimeoutException => () }
    }
    obs.future.value match {
      case Some(Success(row)) if row.length == 1 => row.getLong(0)
      case Some(Success(_)) =>
        throw new IllegalStateException(s"$what: a query over the delivered rows finished " +
          "without collecting their count (its plan was optimised to nothing, e.g. a " +
          "limit(0) probe before the real write); rows delivered are unknown")
      case Some(Failure(e)) =>
        throw new IllegalStateException(s"$what: counting delivered rows failed", e)
      case None =>
        throw new IllegalStateException(s"$what: the sink returned without executing the " +
          s"plan it was given (no count after a ${DrainTimeoutMs / 1000} s listener-bus " +
          "drain); rows delivered are unknown")
    }
  }
}
