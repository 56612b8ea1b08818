package graft.operators

import org.apache.spark.sql.SparkSession
import graft.Tables
import scala.util.control.NonFatal

/** Per-artifact cold-cost itemization of the bench's shared-cache line
  * item (round-10 verdict task 3): `shared_cache_sec` doubled over two
  * rounds (31.0 → 37.1 s) while query time fell — the right trade, but
  * a single opaque number. This main builds every session-shared
  * artifact ONE AT A TIME in dependency order in a fresh session and
  * prints each build's incremental wall time, then re-runs the whole
  * warm sequence to show the steady-state (memo-hit) cost is ~0.
  *
  * "Incremental" is the honest unit: the pair table's cost is measured
  * WITH the shingle index already warm (that is how the bench builds
  * them, and how an ingest pipeline would — shared inputs are built
  * once, not re-billed to every downstream artifact).
  *
  * Output: one JSON line
  * `{"sf":…,"artifacts":{name:sec,…},"total":…,"steady_state_sec":…}`.
  * Consumer map and the three-decade table live in SCALING §11.
  *
  * Run: `sbt "Test/runMain graft.operators.CacheItemize <sfDir> [stepPrefixes]"`.
  */
object CacheItemize {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CacheItemize <sfDir> [stepPrefixes]")
    val dir = args(0)
    // optional 2nd arg: comma-separated step-name prefixes to time
    // (iteration aid — a filtered run measures ONLY those artifacts)
    val only = args.drop(1).headOption.map(_.split(',').toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // footer warm-up so artifact 1 isn't billed session start-up
    Tables.All.foreach { t =>
      try Tables.load(spark, dir, t).limit(1).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[itemize] footer warm-up of $t failed: $e")
      }
    }

    def step(name: String)(f: => Unit): (String, Double) = {
      if (!only.forall(_.exists(name.startsWith))) return name -> 0.0
      val t0 = System.nanoTime()
      f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[itemize] $name%-18s $sec%7.2f s")
      name -> sec
    }

    val allSteps: Seq[(String, Double)] = Seq(
      step("shingle_index")(TextDedup.warmShingleIndex(spark, dir)),
      step("pair_table")(TextDedup.warmPairTable(spark, dir)),
      step("kmeans_fit")(CorpusOps.warmSharedModel(spark, dir)),
      step("pq_artifacts")(CorpusOps.warmPqArtifacts(spark, dir)),
      step("two_stage_ann")(CorpusOps.warmTwoStage(spark, dir)),
      step("int8_store")(CorpusOps.warmInt8Store(spark, dir)),
      step("span_index")(SpanOps.warmSpanIndex(spark, dir)),
      step("vocab_index")(CorpusOps.warmVocabIndex(spark, dir)),
      step("dsir_features")(CorpusOps.warmDsirFeatures(spark, dir)),
      step("bucketed_tables")(StorageOps.warmBucketed(spark, dir)),
      step("event_layouts") { StorageOps.ensureEventLayouts(spark, dir); () },
      step("sorted_lineitem") { StorageOps.ensureSortedLineitem(spark, dir); () },
      step("audit_dim") { StorageOps.ensureAuditDim(spark, dir); () },
      step("zorder_lineitem") { StorageOps.ensureZorderLineitem(spark, dir); () },
      step("erased_layout") { StorageOps.ensureErasedLayout(spark, dir); () },
      step("bloom_lineitem") { StorageOps.ensureBloomLineitem(spark, dir); () },
      step("base_rollup") { SketchOps.ensureBaseRollup(spark, dir); () },
    )

    val steps = allSteps.filter(_._2 > 0.0)

    // steady state: the FULL bench warm sequence again — everything
    // must memo-hit (a nonzero step here means an artifact is not
    // actually session-shared and is being rebuilt per consumer).
    // Skipped on filtered runs (un-built artifacts would be billed).
    val t0 = System.nanoTime()
    def steadyStep(name: String)(f: => Unit): Unit = {
      val s0 = System.nanoTime(); f
      println(f"[itemize] steady $name%-18s ${(System.nanoTime() - s0) / 1e9}%6.2f s")
    }
    if (only.isEmpty) {
      steadyStep("dedup_caches")(TextDedup.warmSharedCaches(spark, dir))
      steadyStep("kmeans")(CorpusOps.warmSharedModel(spark, dir))
      steadyStep("ann")(CorpusOps.warmAnnArtifacts(spark, dir))
      steadyStep("span_index")(SpanOps.warmSpanIndex(spark, dir))
      steadyStep("vocab_index")(CorpusOps.warmVocabIndex(spark, dir))
      steadyStep("dsir_features")(CorpusOps.warmDsirFeatures(spark, dir))
      steadyStep("bucketed")(StorageOps.warmBucketed(spark, dir))
      steadyStep("layouts")(StorageOps.warmLayouts(spark, dir))
    }
    val steady = (System.nanoTime() - t0) / 1e9

    // ---- loop-round retention, MEASURED (round-12 verdict task 4):
    // sf0.1's organic near-dup graphs converge in ≤2 driver-side
    // rounds, so no measured run had ever actually retired a round
    // pin — pin_reclaimed_bytes sat at 0 and the retention win stayed
    // a spec-only claim. This probe forces the DISTRIBUTED loop over
    // a deep duplicate chain (the retention spec's 300-deep shape,
    // scaled to 4096 real doc ids), where hash-min + pointer-halving
    // takes ~CcHalvingAfter + log2(d) ≈ 20 PINNED rounds and
    // retention retires all but the last two as the loop walks. The
    // line prices the discipline: wall cost of the loop, bytes the
    // retirement reclaimed (≈ one round-pin per round, each O(nodes)).
    val reclaim0 = graft.core.Pin.reclaimedBytes
    val ccRetention =
      if (!only.forall(_.exists("cc_retention".startsWith))) 0.0
      else {
        val w0 = System.nanoTime()
        import org.apache.spark.sql.functions.col
        // 4096 consecutive ids → one path graph; the collect is the
        // fixture's, bounded by construction
        val ids = Tables.load(spark, dir, "documents").select(col("doc_id"))
          .orderBy(col("doc_id")).limit(4096)
          .collect().map(_.getLong(0))
        val pairs = spark.createDataFrame(
          spark.sparkContext.parallelize(
            ids.sliding(2).map(p => (p(0), p(1))).toSeq, 8))
          .toDF("a_id", "b_id")
        val labels = TextDedup.connectedComponents(pairs,
          smallGraphMax = -1, loopName = "cc-retention-probe")
        val comps = labels.select(col("comp")).distinct().count()
        require(comps == 1, s"chain fixture must form ONE component, got $comps")
        val sec = (System.nanoTime() - w0) / 1e9
        println(f"[itemize] cc_retention       $sec%7.2f s " +
          f"(reclaimed ${graft.core.Pin.reclaimedBytes - reclaim0}%d bytes)")
        sec
      }
    val ccReclaimed = graft.core.Pin.reclaimedBytes - reclaim0

    val items = steps.map { case (n, s) => s""""$n":${"%.2f".format(s)}""" }.mkString(",")
    println(s"""{"sf":"$dir","artifacts":{$items},""" +
      s""""total":${"%.2f".format(steps.map(_._2).sum)},""" +
      s""""steady_state_sec":${"%.2f".format(steady)},""" +
      s""""cc_retention_sec":${"%.2f".format(ccRetention)},""" +
      s""""cc_retention_reclaimed_bytes":$ccReclaimed,""" +
      s""""pin_reclaimed_bytes":${graft.core.Pin.reclaimedBytes}}""")
    spark.stop()
  }
}
