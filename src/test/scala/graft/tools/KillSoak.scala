package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import scala.util.control.NonFatal

/** First-class executor-kill soak gate (round-10 verdict task:
  * "promote the kill-soak into the repeatable gate").
  *
  * Runs the FULL `SparkEntry.queries` catalog on a real standalone
  * mini-cluster (`local-cluster[2,4,4096]` — separate executor JVMs)
  * while a killer loop SIGKILLs one CoarseGrainedExecutorBackend every
  * `killEverySec` seconds, AND — concurrently with the catalog — soaks
  * one STATEFUL stream (`streamingLshCandidates`,
  * `flatMapGroupsWithState` over a checkpointed state store) in a
  * drain/verify loop, so the per-batch streaming paths (the round-10/11
  * localCheckpoint-purge class) are covered by the same kills as the
  * batch catalog, not only by the dedicated harness phases.
  *
  * Output contract (machine-readable, like BENCH_LOCAL):
  *   - each query's rows land at `outDir/<name>` parquet +
  *     `outDir/oracle_sql.json`, so the standard value gate applies:
  *     `python3 scripts/check.py <sfDir> <outDir>` must report all
  *     queries PASS — "green" below means "completed without
  *     exception"; value-exactness is check.py's job;
  *   - ONE summary JSON line on stdout, also written to
  *     `outDir/killsoak.json`:
  *     `{"tool":"killsoak","sf":…,"kills":N,"queries_attempted":…,
  *       "queries_green":…,"stream_iterations":…,"stream_green":…,
  *       "wall_sec":…}`.
  *   - exit 1 if any query failed, any stream drain diverged, or no
  *     kill landed (a soak with zero kills proves nothing).
  *
  * Four more concurrent [[SoakPhase]]s ride the same kills: remote
  * staging (FTP + SFTP `stageAll` over the in-JVM mini servers, each
  * iteration verified byte-identical with no orphaned partials),
  * optimistic upserts, a manifest streaming sink and row-level MERGE.
  *
  * Run (SPARK_SCALA_VERSION is REQUIRED — the binary Spark distro has
  * no build dirs for the executor launcher to probe):
  * {{{
  *   SPARK_SCALA_VERSION=2.13 sbt "Test/runMain graft.tools.KillSoak \
  *     <sfDir> [outDir] [killEverySec]"
  *   python3 scripts/check.py <sfDir> <outDir>
  * }}}
  *
  * Runtime budget: the catalog alone has taken ~4 min at sf0.01 and
  * ~8-10 min at sf0.1 on a many-core host, and ~21 min at sf0.01 on a
  * 4-core host (kills add retries); the stream soak and the phases
  * ride inside that window at no extra wall cost. Not part of the
  * ScalaTest wall — it kills JVMs; run it per round like
  * ClusterDeathHarness (SCALING §10 records the results).
  */
object KillSoak {

  private def executorPids(): Seq[Int] = {
    import scala.sys.process._
    val out = try Seq("bash", "-c",
      "ps -eo pid=,args= | grep CoarseGrainedExecutorBackend | grep -v grep").!!
    catch { case _: Exception => "" }
    out.linesIterator.map(_.trim).filter(_.nonEmpty)
      .flatMap(_.split("\\s+", 2).headOption)
      .flatMap(p => scala.util.Try(p.toInt).toOption).toSeq
  }

  private def kill9(pid: Int): Unit = {
    import scala.sys.process._
    val _ = Seq("kill", "-9", pid.toString).!
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: KillSoak <sfDir> [outDir] [killEverySec]")
    val sfDir = args(0)
    val outDir = args.lift(1).getOrElse("target/killsoak")
    val killEverySec = args.lift(2).map(_.toInt).getOrElse(20)
    require(killEverySec >= 5, s"killEverySec must be >= 5 (got $killEverySec)")
    val t0 = System.nanoTime()

    val spark = Tables.clusterExecutorConf(Tables.configure(SparkSession.builder()
      .master("local-cluster[2,4,4096]")
      .appName("graft-kill-soak")
      .config("spark.sql.shuffle.partitions", "8")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a couple of executor registrations can lag session-up
    var waited = 0
    while (executorPids().isEmpty && waited < 60) { Thread.sleep(1000); waited += 1 }
    require(executorPids().nonEmpty, "no executor JVMs found — not a real cluster run")

    new java.io.File(outDir).mkdirs()

    // ---- killer loop: one SIGKILL every killEverySec while soaking
    @volatile var soaking = true
    @volatile var kills = 0
    val killer = new Thread(() => {
      while (soaking) {
        Thread.sleep(killEverySec * 1000L)
        if (soaking) executorPids().headOption.foreach { pid =>
          kills += 1
          println(s"[soak] SIGKILL executor pid $pid (kill #$kills)")
          kill9(pid)
        }
      }
    }, "soak-killer")
    killer.setDaemon(true)
    killer.start()

    // ---- concurrent stateful-stream soak: drain streamingLshCandidates
    // over a 40-file backlog, verify against the deterministic batch
    // twin, repeat until the catalog finishes. A drain that dies
    // mid-batch restarts from its checkpoint (real recovery path); a
    // drain whose OUTPUT diverges is a failure.
    @volatile var streamIterations = 0
    @volatile var streamGreen = 0
    val streamSrc = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-soak-stream")
      val src = s"$tmp/src"
      Tables.load(spark, sfDir, "documents").repartition(40).write.parquet(src)
      src
    }
    val streamSchema = spark.read.parquet(streamSrc).schema
    val streamExpected = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(org.apache.spark.sql.functions.col("band"),
          org.apache.spark.sql.functions.col("bkey"))
      import org.apache.spark.sql.functions.{col, min => fmin}
      rows(graft.streaming.StreamingJobs.lshBands(spark.read.parquet(streamSrc))
        .withColumn("first", fmin(col("doc_id")).over(w))
        .filter(col("doc_id") =!= col("first"))
        .select(col("doc_id"), col("band"), col("bkey"), col("first").as("dup_of")))
    }
    val streamer = new Thread(() => {
      while (soaking) {
        val tmp = java.nio.file.Files.createTempDirectory("graft-soak-drain")
        val (dst, ckpt) = (s"$tmp/dst", s"$tmp/ckpt")
        val s = spark.newSession()
        def drain(): Boolean = {
          val q = graft.streaming.StreamingJobs.streamingLshCandidates(
              s.readStream.schema(streamSchema).parquet(streamSrc), stateTtl = None)
            .toDF().writeStream
            .format("parquet").option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .start()
          try { q.awaitTermination(); true }
          catch { case e: Exception =>
            println(s"[soak] stream drain died (${e.getClass.getSimpleName}) — checkpoint restart")
            false
          }
        }
        try {
          // ride-through or checkpoint-restart; bounded retries — the
          // killer fires forever, so "retry until clean" would not halt
          var drained = drain()
          var retries = 0
          while (!drained && retries < 5) { retries += 1; drained = drain() }
          streamIterations += 1
          if (drained && rows(s.read.parquet(dst)) == streamExpected) streamGreen += 1
          else println(s"[soak] stream iteration $streamIterations DIVERGED or never drained")
        } catch { case e: Exception =>
          streamIterations += 1
          println(s"[soak] stream iteration $streamIterations failed outright: ${e.getMessage}")
        } finally {
          // one tmp dir per drain — a 10-minute soak makes 100+ of
          // them; reap each after verification or the soak leaks disk
          def rec(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rec)
            f.delete(): Unit
          }
          rec(tmp.toFile)
        }
      }
    }, "soak-streamer")
    streamer.setDaemon(true)
    streamer.start()

    // ---- concurrent phases, each on its own thread: remote staging
    // whose transfer tasks run ON THE EXECUTORS being shot (an executor
    // dying mid-retrieve must cost a task retry that resumes per file,
    // never a torn or orphaned staging tree), optimistic upserts, a
    // manifest streaming sink and row-level MERGE
    val phases: Seq[SoakPhase] = Seq(
      new StageSoakPhase, new UpsertSoakPhase, new StreamSinkSoakPhase, new MergeSoakPhase)
    val phaseResults =
      new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
    val phaseThreads = phases.map { phase =>
      val t = new Thread(() => {
        phaseResults.put(phase.name, phase.run(spark, () => !soaking)); ()
      }, s"soak-${phase.name}")
      t.setDaemon(true)
      t.start()
      t
    }

    // ---- the catalog, one attempt per query, kills landing throughout
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    var green = 0
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      try {
        graft.SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        green += 1
      } catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[soak] $name FAILED: ${e.getMessage}")
      }
    }
    soaking = false
    streamer.join(120000)
    phaseThreads.foreach(_.join(240000))
    // per-phase counters + detail splits (e.g. the publish leg), read
    // only after the phase threads have exited
    val phaseSummary: Seq[(String, Int, Int, Map[String, Int])] = phases.map { ph =>
      val (it, green) = Option(phaseResults.get(ph.name)).getOrElse((0, 0))
      (ph.name, it, green, ph.detail)
    }

    // oracle SQL dump so scripts/check.py can value-verify the outputs
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      graft.SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))

    val wallSec = (System.nanoTime() - t0) / 1e9
    val json =
      s"""{"tool":"killsoak","sf":${q(sfDir)},"kill_every_sec":$killEverySec,""" +
      s""""kills":$kills,"queries_attempted":${names.size},"queries_green":$green,""" +
      s""""queries_failed":${failed.map(q).mkString("[", ",", "]")},""" +
      s""""stream_iterations":$streamIterations,"stream_green":$streamGreen,""" +
      phaseSummary.map { case (nm, it, green, detail) =>
        s""""${nm}_iterations":$it,"${nm}_green":$green,""" +
          detail.toSeq.sorted.map { case (k, v) => s""""${nm}_$k":$v,""" }.mkString
      }.mkString +
      f""""wall_sec":$wallSec%.1f,"out":${q(outDir)}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/killsoak.json"), json + "\n")
    spark.stop()
    // every phase gates like the primary pair: nonzero fully-green
    // iterations, and every `<k>_iterations` detail counter matched by
    // an equal `<k>_green` twin
    val phasesOk = phaseSummary.forall { case (_, it, green, detail) =>
      it > 0 && green == it && detail.keys
        .filter(_.endsWith("_iterations")).forall { k =>
          val dit = detail(k)
          dit > 0 && detail.getOrElse(k.stripSuffix("_iterations") + "_green", -1) == dit
        }
    }
    val ok = failed.isEmpty && kills > 0 &&
      streamIterations > 0 && streamGreen == streamIterations && phasesOk
    if (!ok) {
      if (kills == 0) System.err.println("[soak] ZERO kills landed — soak proved nothing")
      if (streamGreen != streamIterations)
        System.err.println(s"[soak] stream: $streamGreen/$streamIterations green")
      phaseSummary.foreach {
        case (nm, it, green, detail) if green != it || it == 0 ||
            detail.exists { case (k, v) => k.endsWith("_iterations") &&
              detail.getOrElse(k.stripSuffix("_iterations") + "_green", -1) != v } =>
          System.err.println(s"[soak] $nm: $green/$it green (detail: $detail)")
        case _ => ()
      }
      sys.exit(1)
    }
  }
}
