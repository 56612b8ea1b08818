package graft.core

import graft.SparkSpec
import graft.sources.{SqlDumpConnector, XlsxConnector}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline specs reproducing the reference's de-facto
  * acceptance tests (SURVEY §5): the example.py CSV→CSV transform
  * (rename/add-column), dedup/limit, write modes, whole-db loop.
  */
class MigrationJobSpec extends SparkSpec {
  import spark.implicits._

  private def csvConn(name: String): FileConnector =
    FileConnector(name, tmpDir(name), "csv")

  /** A parquet source holding `rows` under index "in". */
  private def source(name: String, rows: Seq[(Int, String)]): FileConnector = {
    val src = FileConnector(name, tmpDir(name), "parquet")
    src.write(rows.toDF("id", "v"), "in", WriteMode.Overwrite)
    src
  }

  /** 100 existing rows (ids 1..100) and 5 incoming: ids 99, 100 clash,
    * 101..103 are new. */
  private val existing = (1 to 100).map(i => (i, s"old$i"))
  private val incoming = Seq((99, "new99"), (100, "new100"), (101, "a"), (102, "b"), (103, "c"))
  private val keyedModes = Seq(WriteMode.Append, WriteMode.InsertIgnore(Seq("id")),
    WriteMode.Replace(Seq("id")))
  /** Target rows after each mode: Append keeps both copies of 99/100. */
  private def expectedTarget(mode: WriteMode): Long = if (mode == WriteMode.Append) 105L else 103L

  /** A sink whose `read` throws: proves the sink is never re-read. */
  private final case class NoReadBack(inner: Connector) extends Connector {
    def name: String = inner.name
    def read(spark: SparkSession, index: String): DataFrame =
      throw new AssertionError(s"sink $name/$index was re-read")
    def write(df: DataFrame, index: String, mode: WriteMode): Unit = inner.write(df, index, mode)
    def listIndexes(spark: SparkSession): Seq[String] = inner.listIndexes(spark)
  }

  /** Every keyed mode into a non-empty file target returns the 5 rows
    * it delivered, not the target's total. */
  private def checkNonEmptyFileTarget(tag: String, options: Map[String, String]): Unit = {
    val src = source(s"src$tag", incoming)
    keyedModes.foreach { mode =>
      val dst = FileConnector(s"dst$tag", tmpDir(s"dst$tag"), "parquet", options)
      dst.write(existing.toDF("id", "v"), "t", WriteMode.Overwrite)
      assert(MigrationJob(src, NoReadBack(dst), mode = mode).runOne(spark, "in", "t") == 5L, mode)
      assert(dst.read(spark, "t").count() == expectedTarget(mode), mode)
    }
  }

  test("CSV→CSV with rename/add transform (example.py test5 analog)") {
    val src = csvConn("src5")
    val dst = csvConn("dst5")
    // source table `user(user_id, sex)` — the example.py shape
    src.write(Seq(("b123", "male"), ("b124", "female")).toDF("user_id", "sex"),
      "user", WriteMode.Overwrite)

    val t = Transform.identity
      .rename("user_id", "uuid")
      .add("time", lit(1600000000L))
      .add("tag", lit("xs"))
    val n = MigrationJob(src, dst, t).runOne(spark, "user", "user2")
    assert(n == 2)

    val out = dst.read(spark, "user2")
    assert(out.columns.toSet == Set("uuid", "sex", "time", "tag"))
    assert(out.filter($"tag" === "xs").count() == 2)
    assert(out.filter($"uuid" === "b123" && $"sex" === "male").count() == 1)
  }

  test("filter-in-transform drops rows (falsy format_data parity)") {
    val src = csvConn("srcF")
    val dst = csvConn("dstF")
    src.write((1 to 10).map(i => (i, s"n$i")).toDF("id", "name"), "t", WriteMode.Overwrite)
    val n = MigrationJob(src, dst, Transform.identity.filter($"id" % 2 === 0))
      .runOne(spark, "t", "t")
    assert(n == 5)
  }

  test("dedup (quchong) and limit (size)") {
    val src = csvConn("srcD")
    val dst = csvConn("dstD")
    src.write(Seq((1, "a"), (1, "a"), (2, "b"), (2, "b"), (3, "c"))
      .toDF("id", "v"), "t", WriteMode.Overwrite)
    assert(MigrationJob(src, dst, dedup = true).runOne(spark, "t", "t_dedup") == 3)
    assert(MigrationJob(src, dst, limit = Some(2)).runOne(spark, "t", "t_lim") == 2)
  }

  test("InsertIgnore keeps existing rows on pk conflict; Replace overwrites") {
    val c = FileConnector("wm", tmpDir("wm"), "parquet")
    c.write(Seq((1, "old"), (2, "keep")).toDF("id", "v"), "t", WriteMode.Overwrite)

    val incoming = Seq((1, "new"), (3, "add")).toDF("id", "v")
    c.write(incoming, "t", WriteMode.InsertIgnore(Seq("id")))
    val afterIgnore = c.read(spark, "t").as[(Int, String)].collect().toMap
    assert(afterIgnore == Map(1 -> "old", 2 -> "keep", 3 -> "add"))

    c.write(incoming, "t", WriteMode.Replace(Seq("id")))
    val afterReplace = c.read(spark, "t").as[(Int, String)].collect().toMap
    assert(afterReplace == Map(1 -> "new", 2 -> "keep", 3 -> "add"))
  }

  test("whole-database loop over the source catalog (P1)") {
    val src = csvConn("srcAll")
    val dst = csvConn("dstAll")
    src.write(Seq((1, "x")).toDF("id", "v"), "t1", WriteMode.Overwrite)
    src.write(Seq((1, "y"), (2, "z")).toDF("id", "v"), "t2", WriteMode.Overwrite)
    assert(src.listIndexes(spark) == Seq("t1", "t2"))
    val counts = MigrationJob(src, NoReadBack(dst)).runAll(spark)
    assert(counts == Map("t1" -> 1L, "t2" -> 2L))
  }

  test("runOne returns rows delivered into a non-empty local parquet target, per mode") {
    checkNonEmptyFileTarget("P", Map.empty)
  }

  test("runOne returns rows delivered into a non-empty commit -> manifest target, per mode") {
    checkNonEmptyFileTarget("M", Map("commit" -> "manifest"))
  }

  test("runOne returns rows delivered into a column-mapped manifest table") {
    val root = tmpDir("dstMapped")
    ManifestWrite.write(existing.toDF("id", "v"), s"$root/t", "", SaveMode.Overwrite)
    val table = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ManifestTable.resolve(fs, table).exists(_.cols.nonEmpty), "target must carry field ids")
    val dst = FileConnector("mapped", root, "parquet", Map("commit" -> "manifest"))
    assert(MigrationJob(source("srcMapped", incoming), dst).runOne(spark, "in", "t") == 5L)
    assert(dst.read(spark, "t").count() == 105L)
  }

  test("runOne returns rows delivered into an existing Derby table, per mode") {
    val url = s"jdbc:derby:${tmpDir("mj-derby")}/db;create=true"
    val src = source("srcJ", incoming)
    // Append gets only the new keys: the table's primary key refuses 99/100
    src.write(incoming.filter(_._1 > 100).toDF("id", "v"), "fresh", WriteMode.Overwrite)
    val dst = JdbcConnector("derby", url)
    keyedModes.zipWithIndex.foreach { case (mode, i) =>
      val table = s"items$i"
      JdbcExec.execute(url, s"CREATE TABLE $table (id INT NOT NULL PRIMARY KEY, v VARCHAR(64))", Map.empty)
      dst.write(existing.toDF("id", "v"), table, WriteMode.Append)
      val (in, delivered) = if (mode == WriteMode.Append) ("fresh", 3L) else ("in", 5L)
      assert(MigrationJob(src, NoReadBack(dst), mode = mode).runOne(spark, in, table) == delivered, mode)
      assert(dst.read(spark, table).count() == 103L, mode)
    }
  }

  test("keyed Derby write into an absent table creates it and returns rows delivered") {
    val url = s"jdbc:derby:${tmpDir("mj-derby-new")}/db;create=true"
    val dst = JdbcConnector("derby", url)
    val n = MigrationJob(source("srcJN", incoming), NoReadBack(dst), mode = WriteMode.Replace(Seq("id")))
      .runOne(spark, "in", "fresh")
    assert(n == 5L)
    assert(JdbcExec.tableExists(url, "fresh", Map.empty))
    assert(dst.read(spark, "FRESH").count() == 5L)
  }

  test("sqldump and xlsx sinks return rows delivered") {
    val src = source("srcS", (1 to 1000).map(i => (i, s"v'$i")))
    val dump = SqlDumpConnector("dump", tmpDir("dstDump"), batchRows = 64)
    assert(MigrationJob(src, NoReadBack(dump)).runOne(spark, "in", "t") == 1000L)
    assert(dump.read(spark, "t").count() == 1000L)
    val xlsx = XlsxConnector("xlsx", tmpDir("dstXlsx"))
    assert(MigrationJob(src, NoReadBack(xlsx), limit = Some(700)).runOne(spark, "in", "t") == 700L)
    assert(xlsx.read(spark, "t").count() == 700L)
  }

  test("a 0-row source returns 0") {
    val src = source("srcE", Nil)
    val dst = FileConnector("dstE", tmpDir("dstE"), "parquet")
    dst.write(existing.toDF("id", "v"), "t", WriteMode.Overwrite)
    assert(MigrationJob(src, NoReadBack(dst)).runOne(spark, "in", "t") == 0L)
    assert(MigrationJob(src, NoReadBack(dst), mode = WriteMode.Replace(Seq("id")))
      .runOne(spark, "in", "t") == 0L)
    assert(dst.read(spark, "t").count() == 100L)
  }

  test("a sink that never executes the plan fails loudly and within a bound") {
    val src = source("srcNX", incoming)
    val lazySink = new Connector {
      def name = "lazy"
      def read(spark: SparkSession, index: String): DataFrame = throw new AssertionError("re-read")
      def write(df: DataFrame, index: String, mode: WriteMode): Unit = ()
      def listIndexes(spark: SparkSession): Seq[String] = Nil
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](MigrationJob(src, lazySink).runOne(spark, "in", "t"))
    assert(e.getMessage.contains("lazy/t") && e.getMessage.contains("without executing"))
    assert((System.nanoTime() - t0) / 1e9 < 60)
  }

  test("a sink that runs an emptied probe of the plan before writing fails loudly") {
    val src = source("srcProbe", incoming)
    val dst = FileConnector("dstProbe", tmpDir("dstProbe"), "parquet")
    val probing = new Connector {
      def name = "probing"
      def read(spark: SparkSession, index: String): DataFrame = throw new AssertionError("re-read")
      def write(df: DataFrame, index: String, mode: WriteMode): Unit = {
        df.limit(0).write.format("noop").mode(SaveMode.Overwrite).save()
        dst.write(df, index, mode)
      }
      def listIndexes(spark: SparkSession): Seq[String] = Nil
    }
    val e = intercept[IllegalStateException](MigrationJob(src, probing).runOne(spark, "in", "t"))
    assert(e.getMessage.contains("probing/t"))
  }

  /** Messages `logger` emits at `level` while `body` runs. Levels go
    * through the log4j configuration: a session's setLogLevel re-derives
    * every logger from it. */
  private def logged(logger: Class[_], level: org.apache.logging.log4j.Level)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("spec-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == level) lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val core = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger(logger.getName).asInstanceOf[Logger]
    val before = core.getLevel
    Configurator.setLevel(logger.getName, level)
    core.addAppender(appender)
    try body finally {
      core.removeAppender(appender)
      Configurator.setLevel(logger.getName, before)
    }
    lines.toArray.toSeq.map(_.toString)
  }

  test("runAll logs one progress line per table: position, rows, seconds, rows/s") {
    val src = csvConn("srcLog")
    src.write(Seq((1, "x")).toDF("id", "v"), "t1", WriteMode.Overwrite)
    src.write(Seq((1, "y"), (2, "z")).toDF("id", "v"), "t2", WriteMode.Overwrite)
    val got = logged(classOf[MigrationJob], org.apache.logging.log4j.Level.INFO) {
      MigrationJob(src, csvConn("dstLog")).runAll(spark, Map("t2" -> "t2b"))
    }
    assert(got.size == 2, got)
    assert(got(0).matches("""srcLog -> dstLog: table 1/2 t1 -> t1: 1 rows in [0-9.]+ s \([0-9]+ rows/s\)"""), got(0))
    assert(got(1).matches("""srcLog -> dstLog: table 2/2 t2 -> t2b: 2 rows in [0-9.]+ s \([0-9]+ rows/s\)"""), got(1))
  }

  test("a primary key Derby refuses on table creation is logged with table and SQLState") {
    val url = s"jdbc:derby:${tmpDir("mj-derby-pk")}/db;create=true"
    val keyed = Seq((Some(1), "a"), (None, "b")).toDF("id", "v") // nullable key: no PK possible
    val got = logged(classOf[JdbcConnector], org.apache.logging.log4j.Level.WARN) {
      JdbcConnector("derby", url).write(keyed, "nokey", WriteMode.InsertIgnore(Seq("id")))
    }
    assert(got.exists(m => m.contains("derby/nokey") && m.matches(".*SQLState [0-9A-Z]{5}.*")), got)
  }

  test("MemConnector (ListD) read/write/append") {
    val m = MemConnector("mem")
    m.write(Seq((1, "a")).toDF("id", "v"), "t", WriteMode.Overwrite)
    m.write(Seq((2, "b")).toDF("id", "v"), "t", WriteMode.Append)
    assert(m.read(spark, "t").count() == 2)
    assert(m.listIndexes(spark) == Seq("t"))
  }

  test("ndjson (JsonListD) round-trip") {
    val j = FileConnector("nd", tmpDir("nd"), "json")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    j.write(df, "t", WriteMode.Overwrite)
    val back = j.read(spark, "t")
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("id", "name", "score"))
  }
}
