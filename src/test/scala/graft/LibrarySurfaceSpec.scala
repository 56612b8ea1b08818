package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library jar ships exactly two entry points — the `graft.Bench`
  * and `graft.Verify` gates — and they are the only places that build a
  * session (through [[Tables.configure]]). Measurement mains, soak
  * harnesses and fixture generators live under src/test and run with
  * `Test/runMain`; this spec keeps them from growing back into src/main.
  */
class LibrarySurfaceSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val gates = Set("graft/Bench.scala", "graft/Verify.scala")

  /** Source files (relative to src/main/scala) with a code line — not a
    * scaladoc or comment line — containing `needle`.
    */
  private def filesWith(needle: String): Set[String] = {
    assert(Files.isDirectory(root), s"library sources not found at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).filter { p =>
      Files.readAllLines(p).asScala.exists { l =>
        val t = l.trim
        !(t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) && t.contains(needle)
      }
    }.map(p => root.relativize(p).toString).toSet
    finally walk.close()
  }

  test("only graft.Bench and graft.Verify define main in src/main") {
    assert(filesWith("def main(") === gates,
      "measurement/harness mains belong in src/test (run with Test/runMain)")
  }

  test("sink writers execute the plan they are given, never through df.rdd") {
    // a df.rdd write runs outside the frame's SQL execution, so the row
    // count MigrationJob.runOne observes on that frame reads 0; the one
    // df.rdd left is a read relation's buildScan
    assert(filesWith("df.rdd") === Set("graft/sources/v2/GraftManifestDataSource.scala"),
      "write through Dataset operations (write, foreachPartition, mapPartitions)")
  }

  test("only the two gates call SparkSession.builder() in src/main") {
    assert(filesWith("SparkSession.builder()") === gates,
      "library code must take a session, not build one; build sessions via Tables.configure")
  }
}
