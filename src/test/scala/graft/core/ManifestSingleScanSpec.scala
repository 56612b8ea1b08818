package graft.core

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Round-14 verdict task 3: manifested tables as ONE native file-source
  * scan. [[ManifestFileIndex]] plugs the manifest's live file set into
  * Spark's FileIndex seam, so the plan carries a single `FileScan`
  * node with partition pruning and accurate stats — where
  * [[ManifestTable.read]] unions one scan leg per generation group.
  * These specs hold the two paths VALUE-IDENTICAL on a
  * max-fragmentation fixture (every partition its own generation) and
  * pin the plan shape: one scan, pruned partitions, pruned files.
  */
class ManifestSingleScanSpec extends SparkSpec {
  import spark.implicits._

  /** 5-day layout, 3 days compacted INDIVIDUALLY → adopted originals
    * plus three single-partition generations: the max-fragmentation
    * shape SCALING §14 and §17 price.
    */
  private lazy val layout: String = {
    val dir = tmpDir("single-scan") + "/events-layout"
    val events = spark.range(0, 300).select(
      col("id").as("event_id"), (col("id") % 7).as("value"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 5).cast("int")).as("day"))
    events.repartition(col("day")).write.partitionBy("day").parquet(dir)
    Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach(d =>
      graft.operators.StorageOps.compactDays(spark, dir, Seq(d)))
    dir
  }

  private def legacy(parts: Option[Set[String]] = None): DataFrame =
    ManifestTable.read(spark, layout, parts, partCol = "day")

  private def single(parts: Option[Set[String]] = None): DataFrame =
    ManifestFileIndex.relation(spark, layout, "day", parts)

  private def rows(df: DataFrame): Seq[String] =
    df.select("event_id", "value", "day").collect().map(_.toString).sorted.toSeq

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect() // materialize THIS queryExecution so its scan metrics fill
    df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
  }

  test("value parity with the legacy union read on a max-fragmentation fixture — schema, types, rows") {
    val l = legacy(); val s = single()
    assert(s.schema.map(f => (f.name, f.dataType)).sortBy(_._1) ==
      l.schema.map(f => (f.name, f.dataType)).sortBy(_._1),
      s"schema drift between read paths: ${s.schema} vs ${l.schema}")
    assert(rows(s) == rows(l))
    assert(rows(s).size == 300)
    // resolve-time partition selection parity
    val sel = Set("2024-01-02", "2024-01-04")
    assert(rows(single(Some(sel))) == rows(legacy(Some(sel))))
  }

  test("the plan is ONE FileScan regardless of generation count; the legacy path pays one leg per group") {
    val m = ManifestTable.resolve(
      new Path(layout).getFileSystem(spark.sessionState.newHadoopConf()), new Path(layout)).get
    val groups = m.entries
      .map(e => e.dir.stripSuffix(s"day=${e.part}").stripSuffix("/")).distinct.size
    assert(groups >= 4, s"fixture lost its fragmentation: $groups groups")
    assert(scans(single()).size == 1,
      "single-scan read still unions multiple FileScan legs")
    assert(scans(legacy()).size == groups,
      "legacy read's leg-per-group shape changed — update this pin AND SCALING §17")
  }

  test("catalyst partition filters prune partitions AND files inside the single scan") {
    val df = single().filter(col("day") === lit("2024-01-02").cast("date"))
    val expect = legacy().filter(col("day") === lit("2024-01-02").cast("date"))
    assert(rows(df) == rows(expect))
    val scan = scans(df).head
    assert(scan.metrics("numFiles").value == 1,
      s"partition filter did not prune files: read ${scan.metrics("numFiles").value}")
    // the unfiltered scan reads every live file, for contrast
    assert(scans(single()).head.metrics("numFiles").value >= 5)
  }

  test("spark.read.format(graftmanifest) and SQL views reach the same single-scan relation") {
    val viaFormat = spark.read.format("graftmanifest")
      .option("partCol", "day").load(layout)
    assert(rows(viaFormat.select("event_id", "value", "day")) == rows(legacy()))
    assert(scans(viaFormat).size == 1)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW events_live " +
      s"USING graftmanifest OPTIONS (path '$layout', partCol 'day')")
    val viaSql = spark.sql(
      "SELECT day, sum(value) AS sv FROM events_live GROUP BY day ORDER BY day")
    val expect = legacy().groupBy("day").agg(sum("value").as("sv")).orderBy("day")
    assert(viaSql.collect().map(_.toString).toSeq ==
      expect.collect().map(_.toString).toSeq)
    // resolve-time pruning through options
    val pruned = spark.read.format("graftmanifest")
      .option("partCol", "day").option("parts", "2024-01-03").load(layout)
    assert(rows(pruned.select("event_id", "value", "day")) ==
      rows(legacy(Some(Set("2024-01-03")))))
  }

  test("sizeInBytes reports the LIVE bytes so broadcast planning sees the truth") {
    val fs = new Path(layout).getFileSystem(spark.sessionState.newHadoopConf())
    val idx = new ManifestFileIndex(spark, new Path(layout), "day")
    val manifest = ManifestTable.resolve(fs, new Path(layout)).get
    val liveBytes = manifest.entries.flatMap(e => ManifestTable.entryPaths(new Path(layout), e))
      .flatMap { p =>
        val st = fs.getFileStatus(p)
        if (st.isDirectory) fs.listStatus(p).filter(s => s.isFile &&
          !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")).map(_.getLen).toSeq
        else Seq(st.getLen)
      }.sum
    assert(idx.sizeInBytes == liveBytes && liveBytes > 0)
    assert(idx.inputFiles.length.toLong == idx.listFiles(Nil, Nil).map(_.files.size).sum)
  }

  test("cross-generation schema drift fails the single-scan read loudly, like the legacy guard") {
    val dir = tmpDir("single-scan-drift") + "/t"
    spark.range(0, 10).select(col("id").as("event_id"), lit(1L).as("value"),
        lit("2024-01-01").cast("date").as("day"))
      .write.partitionBy("day").parquet(dir)
    graft.operators.StorageOps.compactDays(spark, dir, Seq("2024-01-01"))
    // plant a drifted generation by hand: extra column, own gen dir
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val gen = ManifestTable.GenPrefix + "drifted"
    spark.range(0, 5).select(col("id").as("event_id"), lit(2L).as("value"),
        lit("x").as("alien"))
      .write.parquet(s"$dir/$gen/day=2024-01-02")
    ManifestTable.commit(fs, new Path(dir), "day",
      Map("2024-01-02" -> Some(ManifestEntry("2024-01-02", s"$gen/day=2024-01-02", Nil))))
    val e = intercept[IllegalArgumentException] {
      ManifestFileIndex.relation(spark, dir, "day")
    }
    assert(e.getMessage.contains("schema drifted"), e.getMessage)
  }
}
