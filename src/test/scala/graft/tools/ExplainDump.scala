package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named catalog queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * `plans/rNN/` (`<query>_<suffix>.txt`). Runs the query first so AQE
  * final plans (join rewrites, coalesced reads) are what gets written.
  *
  * Usage: sbt "Test/runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>"
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.split(',').foreach { prefix =>
      // an ambiguous prefix must error, not dump an arbitrary match's
      // plan as evidence (round-18 ADVICE)
      val matches = graft.SparkEntry.queries.keys.filter(_.startsWith(prefix)).toSeq.sorted
      val full = matches match {
        case Seq(one) => one
        case Seq() => sys.error(s"no query matches '$prefix'")
        case many => sys.error(
          s"ambiguous prefix '$prefix' matches: ${many.mkString(", ")}")
      }
      val df = graft.SparkEntry.queries(full)(spark, sfDir)
      df.collect() // finalize AQE
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${full}_$suffix.txt"), plan)
      println(s"[explain-dump] wrote $outDir/${full}_$suffix.txt")
    }
    spark.stop()
  }
}
