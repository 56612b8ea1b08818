package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{Connector, FileConnector, JdbcConnector, MigrationJob, Transform, WriteMode}
import graft.merge.MergeJob
import graft.sources.SqlDumpConnector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** migrate_bulk: whole-database copies (`MigrationJob.runAll`) of every
  * source database into empty parquet and Derby targets, plus one
  * two-source `MergeJob`. One pass copies every table once; a window is
  * as many whole passes as fit in its seconds (at least one).
  */
final class Bulk(spark: SparkSession, dir: Path, spec: JsonNode) extends Workload {
  private val dbs = Json.elems(spec.get("dbs")).map(d =>
    (d.get("db").asText, d.get("kind").asText, d.get("group").asText)).sortBy(_._1)
  private val rowsOut: Map[String, Long] = Json.elems(spec.get("tables")).map(t =>
    s"${t.get("db").asText}/${t.get("table").asText}" -> t.get("rows_out").asLong).toMap ++
    Map("merge/merged" -> spec.get("merge_rows").asLong)
  private val tables: Map[String, Seq[String]] = Json.elems(spec.get("tables"))
    .groupBy(_.get("db").asText).map { case (db, ts) => db -> ts.map(_.get("table").asText) }
  private val tgtUrl = s"jdbc:derby:${dir.resolve("derby/tgt")};create=true"
  private var pass = 0
  private val tablesCopied = mutable.ArrayBuffer.empty[(Int, String, String, String)] // pass, db, kind, table

  /** Disclosed warm-up, three times: each source kind's one-table warm
    * database copied to parquet, and one of them to Derby. */
  def setup(): Seq[Double] = (0 until 3).map { r =>
    val t0 = System.nanoTime()
    Seq("sqldump", "csv", "json", "jdbc").foreach { kind =>
      val db = s"warm_$kind"
      MigrationJob(source(db, kind), FileConnector("warm", dir.resolve(s"out/warm/r$r/$db").toString, "parquet"))
        .runAll(spark)
    }
    MigrationJob(source("warm_csv", "csv"), JdbcConnector("tgt", tgtUrl)).runAll(spark, Map("warm" -> s"WARM_R$r"))
    (System.nanoTime() - t0) / 1e9
  }

  private def source(db: String, kind: String): Connector = {
    val root = dir.resolve("bulk").resolve(db).toString
    kind match {
      case "sqldump" => SqlDumpConnector(db, root)
      case "csv" | "json" => FileConnector(db, root, kind)
      case "jdbc" => JdbcConnector(db, s"jdbc:derby:${dir.resolve("derby").resolve("src_" + db)}")
    }
  }

  private def runPass(ops: Ops): Unit = {
    val p = pass
    pass += 1
    val outRoot = dir.resolve("out").resolve(s"p$p")
    dbs.foreach { case (db, kind, group) =>
      val toDerby = group == "derby"
      val (sinkKind, sink) =
        if (toDerby) ("jdbc", JdbcConnector("tgt", tgtUrl))
        else ("parquet", FileConnector("tgt", outRoot.resolve(db).toString, "parquet"))
      val transform =
        if (group == "tx" || group == "txdd")
          Transform().rename("name", "label").add("src", lit(kind)).filter(col("id") % 5 =!= 0)
        else Transform.identity
      val src = SourceW(source(db, kind), kind, ops, auto = true)
      val job = MigrationJob(src, SinkW(sink, sinkKind, ops), transform,
        dedupCols = if (group == "txdd") Seq("id") else Nil, dedup = group == "txdd")
      ops.source = kind; ops.sink = sinkKind; ops.group = group
      val before = ops.done.size
      val names = tables(db)
      val renames = if (toDerby) names.map(i => i -> Bulk.derbyName(kind, i, p)).toMap else Map.empty[String, String]
      val counts = Trace.span("migration.runAll") {
        val r = job.runAll(spark, renames)
        ops.end()
        r
      }
      ops.done.drop(before).foreach { o => o.rows = counts(o.label.stripPrefix(s"$db/")) }
      names.foreach(t => tablesCopied += ((p, db, kind, t)))
    }
    // Migration2DB: CSV left side joined to NDJSON right side
    val mroot = dir.resolve("bulk").resolve("merge").toString
    ops.source = "csv+json"; ops.sink = "parquet"; ops.group = "merge"
    ops.run("merge/merged") {
      val l = SourceW(FileConnector("merge", mroot, "csv"), "csv", ops, auto = false).read(spark, "m_left")
      val r = SourceW(FileConnector("merge", mroot, "json"), "json", ops, auto = false).read(spark, "m_right")
      val m = Trace.span("merge.merge")(MergeJob.merge(l, r, "id", "uid"))
      val sink = SinkW(FileConnector("tgt", outRoot.resolve("merge").toString, "parquet"), "parquet", ops)
      sink.write(m, "merged", WriteMode.Overwrite)
      sink.read(spark, "merged").count()
    }
  }

  def window(seconds: Double, exactOps: Option[Int]): Window = {
    val ops = new Ops(spark)
    val t0 = System.nanoTime()
    var passes = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes only; another starts only if it should fit
    def more = exactOps.fold(elapsed + last <= seconds)(ops.done.size < _)
    while (passes == 0 || more) {
      val ps = System.nanoTime()
      Trace.span("bulk.pass")(runPass(ops))
      last = (System.nanoTime() - ps) / 1e9
      passes += 1
    }
    Window(ops.done.toList, elapsed, ops.done.map(o => expectedRows(o.label)).sum, passes, ops.cacheMax)
  }

  def fingerprints(): Map[String, Fingerprint.Fp] = {
    val props = new java.util.Properties()
    Fingerprint.many(spark, tablesCopied.toSeq.collect { case (p, db, kind, t) if db.endsWith("_derby") =>
      s"p$p/$db/$t" -> (() => spark.read.jdbc(tgtUrl, Bulk.derbyName(kind, t, p), props))
    })
  }

  def parquetTargets: Map[String, Path] =
    tablesCopied.toSeq.collect { case (p, db, _, t) if !db.endsWith("_derby") =>
      s"p$p/$db/$t" -> dir.resolve(s"out/p$p/$db/$t")
    }.toMap ++ (0 until pass).map(p => s"p$p/merge/merged" -> dir.resolve(s"out/p$p/merge/merged"))

  def applied: Any = Map("passes" -> pass)

  def someParquetTarget: Path = parquetTargets.toSeq.minBy(_._1)._2

  def expectedRows(label: String): Long = rowsOut.getOrElse(label, -1L)

  def layerExtras(w: Window): Map[String, Double] = Map.empty
}

object Bulk {
  def derbyName(kind: String, table: String, pass: Int): String = s"${kind}_${table}_p$pass".toUpperCase

  /** Load the Derby source databases over plain JDBC (the generator's
    * side of the fence: no library code). Returns the seconds spent. */
  def loadDerbySources(dir: Path, spec: JsonNode): Double = {
    val t0 = System.nanoTime()
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val mapper = new ObjectMapper()
    Json.elems(spec.get("derby_src")).groupBy(_.get("db").asText).foreach { case (db, tables) =>
      val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:${dir.resolve("derby").resolve("src_" + db)};create=true")
      try {
        conn.setAutoCommit(false)
        tables.foreach { t =>
          val name = t.get("table").asText
          val st = conn.createStatement()
          st.executeUpdate(s"CREATE TABLE $name (ID BIGINT NOT NULL, NAME VARCHAR(400), AMT DOUBLE, CAT VARCHAR(32), NOTE VARCHAR(400))")
          st.close()
          val ps = conn.prepareStatement(s"INSERT INTO $name VALUES (?, ?, ?, ?, ?)")
          Files.readAllLines(dir.resolve(t.get("rows").asText)).forEach { line =>
            val r = mapper.readTree(line)
            ps.setLong(1, r.get("id").asLong)
            ps.setString(2, r.get("name").asText)
            if (r.get("amt").isNull) ps.setNull(3, java.sql.Types.DOUBLE) else ps.setDouble(3, r.get("amt").asDouble)
            ps.setString(4, r.get("cat").asText)
            if (r.get("note").isNull) ps.setNull(5, java.sql.Types.VARCHAR) else ps.setString(5, r.get("note").asText)
            ps.addBatch()
          }
          ps.executeBatch()
          ps.close()
        }
        conn.commit()
      } finally conn.close()
    }
    (System.nanoTime() - t0) / 1e9
  }
}
