package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loader for the driver-generated parquet corpus (TESTDATA.md).
  * One parquet file per table under a scale-factor directory.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some corpus
    * generations, which Spark's vectorized reader rejects. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong` so it arrives as a Long; we
    * convert to a µs timestamp here (the corpus carries no sub-µs bits,
    * so this is lossless). Micros-precision generations read natively
    * and skip the branch.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      // integral `div`, NOT `/`: the ns epoch (~1.7e18) exceeds a
      // double's 53-bit mantissa, so float division drifts by ~100 ns.
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Executor-JVM settings for `local-cluster[…]` masters (Verify's
    * cluster-cleanliness mode, the src/test fault harnesses): separate
    * executor JVMs need this project's main and test classes on their
    * classpath (spark-submit would ship a jar; a local mini-cluster
    * does not). The JDK-17 --add-opens need no listing here: Spark
    * prepends its default module options to the executor's java
    * options itself. The env must also carry SPARK_SCALA_VERSION=2.13
    * — the binary distro at SPARK_HOME has no build dirs for the
    * executor launcher to probe.
    */
  def clusterExecutorConf(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.executor.memory", "3g")
      .config("spark.executor.extraClassPath",
        Seq("classes", "test-classes")
          .map(d => new java.io.File(s"target/scala-2.13/$d").getAbsolutePath)
          .mkString(java.io.File.pathSeparator))
      // these runs exist to be shot at (fault injection, soak): one
      // executor death must cost a retry, not the job
      .config("spark.task.maxFailures", "8")
      .config("spark.stage.maxConsecutiveAttempts", "8")

  /** The one session factory: defaults shared by Verify / Bench / tests
    * / library users — including the graft extensions (SQL functions,
    * window-top-k rewrite, manifest metadata aggregates, planner
    * strategy) and the `graftcat` catalog. For a session that already
    * exists, [[graft.functions.GraftExtensions.register]] installs the
    * same extensions (catalog and read confs are construction-time
    * settings and stay with this builder).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The corpus writes naive (isAdjustedToUTC=false) timestamps; read
    // them as session-tz TIMESTAMP (UTC session above ⇒ identical
    // instants) so the timestamp operators (`unix_micros`, windows,
    // as-of) type-check. The DuckDB oracle reads the same bytes as
    // naive TIMESTAMP — values agree under the UTC session.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // field-id matching for column-mapped manifest tables (round 17);
    // inert for schemas without id metadata
    .config("spark.sql.parquet.fieldId.read.enabled", "true")
    .config("spark.ui.enabled", "false")
    // the graft V2 catalog (round 18): graftcat.<ns>.<table> resolves
    // onto manifest roots under the warehouse; SQL CREATE/INSERT/MERGE/
    // time-travel land on the same engine the Scala surface uses
    .config("spark.sql.catalog.graftcat", "graft.catalog.GraftCatalog")
    .withExtensions(new graft.functions.GraftExtensions)
}
