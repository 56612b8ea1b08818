package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f)) // comma-separated name prefixes (local iteration)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=local-cluster[2,4,4096] runs the whole gate
    // on real separate-JVM executors — the catalog-wide cluster-
    // cleanliness check (serializable closures, no driver-local
    // assumptions); needs SPARK_SCALA_VERSION=2.13 in the env
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = Tables.configure(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus))
    // Optional artifact-root overrides (round 11): point every Pin and
    // StorageOps artifact at a non-default filesystem — the whole-gate
    // form of the PinMemFsSpec/LayoutMemFsSpec proof. Extra Hadoop FS
    // impls register via SPARK_GRAFT_HADOOP_CONF="k=v,k2=v2" (e.g.
    // fs.memfs.impl=graft.core.MemFs under Test/runMain, whose
    // classpath carries the test FS).
    sys.env.get("SPARK_GRAFT_HADOOP_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(s"spark.hadoop.$k", v)
    })
    val spark = (if (master.startsWith("local-cluster"))
      Tables.clusterExecutorConf(builder) else builder).getOrCreate()
    sys.env.get("SPARK_GRAFT_PIN_ROOT")
      .foreach(spark.conf.set(graft.core.Pin.RootConfKey, _))
    sys.env.get("SPARK_GRAFT_LAYOUT_ROOT")
      .foreach(spark.conf.set(graft.operators.StorageOps.RootConfKey, _))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = only match {
      case None => SparkEntry.queries
      case Some(f) =>
        val prefixes = f.split(',').toSeq
        SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
