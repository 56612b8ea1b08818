package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark harness: one fresh JVM per run, one workload, one client.
  *
  * {{{
  *   perfbench.Main --workload migrate_bulk|migrate_sync --dir <work dir>
  *                  --seconds <s> --trace 0|1 --out <result.json>
  * }}}
  *
  * `<work dir>/spec.json` and the input files come from `gen.py`. The
  * result lists every operation's time, the fingerprint of every target
  * (checked by `run.py` against the generator's expected state), the
  * set-up time and, when traced, the per-layer metrics.
  *
  * A traced run measures three windows in one JVM: untraced, traced,
  * and untraced again, each with the same operations, and reports the
  * traced window's wall minus the last one's as the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val spec = new ObjectMapper().readTree(dir.resolve("spec.json").toFile)
    val cores = opts("cores").toInt

    System.setProperty("derby.system.home", dir.resolve("derby").toString)
    System.setProperty("derby.stream.error.file", dir.resolve("derby.log").toString)
    // Derby source tables are input preparation, not the program's set-up
    val prepS = if (workload == "migrate_bulk") Bulk.loadDerbySources(dir, spec) else 0.0

    val spark = graft.Tables.configure(SparkSession.builder().master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - prepS

    val w: Workload = workload match {
      case "migrate_bulk" => new Bulk(spark, dir, spec)
      case "migrate_sync" => new Sync(spark, dir, spec)
      case other => sys.error(s"unknown workload $other")
    }
    val setupReps = w.setup()
    val result = Json.obj()
    result("session_s") = sessionS
    result("setup_reps_s") = setupReps
    result("setup_s") = sessionS + median(setupReps)

    Counters.resetHeapPeak()
    val untraced = w.window(seconds, exactOps = None)
    result("windows") = Seq(untraced.json)
    if (traced) {
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      Counters.resetHeapPeak()
      Trace.runId = s"$workload-${System.currentTimeMillis()}"
      Trace.enabled = true
      val t = sameSize(untraced, w.window(seconds, exactOps = Some(untraced.ops.size)))
      Trace.enabled = false
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
      val heapMb = Counters.heapPeakMb()
      val layerOfT = Layers.metrics(spark, counters, t, w)
      // the same work again untraced, as warm as the traced window
      val again = sameSize(untraced, w.window(seconds, exactOps = Some(untraced.ops.size)))
      result("windows") = Seq(untraced.json, t.json, again.json)
      val layer = layerOfT ++ Map(
        "session.start_s" -> sessionS,
        "jvm.heap_peak_mb" -> heapMb,
        "trace.overhead_s" -> (t.wallS - again.wallS),
        "trace.spans" -> Trace.count.toDouble)
      result("layer") = Json.obj(layer.toSeq.sortBy(_._1): _*)
      val outDir = Paths.get(opts("trace-out"))
      Files.createDirectories(outDir)
      Trace.writeJsonl(outDir.resolve("spans.jsonl"))
      val report = Trace.selfTimes.toSeq.sortBy(-_._2._2).map { case (n, (tot, self, calls)) =>
        Json.obj("name" -> n, "total_s" -> tot, "self_s" -> self, "calls" -> calls)
      }
      Files.writeString(outDir.resolve("self_times.json"), Json.render(report))
      Files.writeString(outDir.resolve("layers.json"), Json.render(result("layer")))
    }
    if (opts.get("corrupt").contains("1")) Main.corruptOneRow(spark, w.someParquetTarget)
    val c0 = System.nanoTime()
    val fps = w.fingerprints()
    result("check_s") = (System.nanoTime() - c0) / 1e9
    result("parquet_targets") = w.parquetTargets.map { case (k, p) => k -> p.toString }
    result("fingerprints") = Json.obj(fps.toSeq.sortBy(_._1).map { case (k, fp) =>
      k -> Json.obj("cols" -> fp.cols, "count" -> fp.count, "sum" -> fp.sum)
    }: _*)
    result("applied") = w.applied
    Files.writeString(Paths.get(opts("out")), Json.render(result))
    spark.stop()
  }

  /** Test hook: rewrite one value of one row of a parquet target, the
    * smallest wrong output the check must catch. */
  def corruptOneRow(spark: SparkSession, path: Path): Unit = {
    val df = spark.read.parquet(path.toString)
    val rows = df.collect()
    val i = df.schema.fields.indexWhere(_.dataType == org.apache.spark.sql.types.StringType)
    val bad = rows.head.toSeq.updated(i, rows.head.getString(i) + "?")
    val fixed = org.apache.spark.sql.Row.fromSeq(bad) +: rows.tail.toSeq
    val tmp = path.resolveSibling(path.getFileName.toString + ".corrupt")
    spark.createDataFrame(spark.sparkContext.parallelize(fixed, 1), df.schema).write.parquet(tmp.toString)
    val old = Files.walk(path)
    try old.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally old.close()
    Files.move(tmp, path)
  }

  /** The overhead and the per-layer metrics compare windows of equal work. */
  private def sameSize(first: Window, w: Window): Window = {
    require(w.ops.size == first.ops.size, s"window ran ${w.ops.size} operations, the first ran ${first.ops.size}")
    w
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

/** One measured window: its operations and its wall time. */
final case class Window(ops: Seq[Op], wallS: Double, rows: Long, units: Int, cacheMax: (Double, Double)) {
  def json: Json.Obj = Json.obj(
    "wall_s" -> wallS, "rows" -> rows, "units" -> units,
    "ops" -> ops.map(o => Json.obj("label" -> o.label, "s" -> (o.endNs - o.startNs) / 1e9, "rows" -> o.rows)))
}

trait Workload {
  /** Set-up repeated a few times; seconds of each repetition. */
  def setup(): Seq[Double]
  /** Closed-loop operations: the workload's own amount for `seconds`
    * (`exactOps` empty), or exactly `exactOps` of them. */
  def window(seconds: Double, exactOps: Option[Int]): Window
  def fingerprints(): Map[String, Fingerprint.Fp]
  /** What was applied, for the expected-state computation. */
  def applied: Any
  /** Workload-specific per-layer metrics of the last window. */
  def layerExtras(w: Window): Map[String, Double]
  /** Plain parquet targets, fingerprinted by run.py with pyarrow. */
  def parquetTargets: Map[String, Path]
  /** A parquet target the corruption test hook may damage. */
  def someParquetTarget: Path
  /** Expected rows written by an operation, by label. */
  def expectedRows(label: String): Long
}

/** Just enough JSON to write results; inputs are read with Jackson. */
object Json {
  final class Obj(val fields: scala.collection.mutable.LinkedHashMap[String, Any]) {
    def update(k: String, v: Any): Unit = fields(k) = v
    def apply(k: String): Any = fields(k)
  }
  def obj(kv: (String, Any)*): Obj = new Obj(scala.collection.mutable.LinkedHashMap(kv: _*))

  def render(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
