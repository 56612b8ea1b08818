package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced window: span wall times for the
  * calls made on the calling thread, listener counters for the tasks those calls
  * launched. Every workload reports every name; a layer a workload does
  * not use reads 0.
  */
object Layers {
  val Sources = Seq("sqldump", "csv", "json", "jdbc", "parquet")
  val Sinks = Seq("parquet", "manifest", "jdbc")

  def metrics(spark: SparkSession, c: Counters, w: Window, wl: Workload): Map[String, Double] = {
    val spans = Trace.selfTimes
    def total(n: String): Double = spans.get(n).map(_._1).getOrElse(0.0)
    val stages = c.stageAggs
    def ctxOf(s: c.StageAgg) = Ctx.parse(s.ctx)
    val out = Map.newBuilder[String, Double]

    Sources.foreach { k =>
      val scan = stages.filter { s => val (ph, src, _, _) = ctxOf(s); ph == "write" && src == k && s.inRecords > 0 }
      out += s"sources.$k.resolve_s" -> total(s"sources.$k.resolve")
      out += s"sources.$k.scan_s" -> scan.map(_.runMs).sum / 1000.0
      out += s"sources.$k.rows" -> scan.map(_.inRecords).sum.toDouble
    }
    Sinks.foreach { k =>
      val wr = stages.filter { s => val (ph, _, snk, _) = ctxOf(s); ph == "write" && snk == k }
      val recs = wr.map(_.outRecords).sum
      out += s"sinks.$k.write_s" -> total(s"sinks.$k.write")
      out += s"sinks.$k.recount_s" -> total(s"sinks.$k.recount")
      out += s"sinks.$k.bytes_per_row" -> (if (recs > 0) wr.map(_.outBytes).sum.toDouble / recs else 0.0)
    }
    // Derby upserts: rows per second inside the sink write call
    val upsertOps = w.ops.filter(o => o.label.startsWith("jdbc_ignore/") || o.label.startsWith("jdbc_replace/"))
    val upsertRows = upsertOps.map(o => wl.expectedRows(o.label)).sum
    val jdbcWrite = total("sinks.jdbc.write")
    out += "sinks.jdbc.upsert_rows_per_s" -> (if (upsertRows > 0 && jdbcWrite > 0) upsertRows / jdbcWrite else 0.0)

    out += "transform.self_s" -> total("transform.apply")
    // the stages after the dedup shuffle: final aggregation and the write it feeds
    out += "dedup.self_s" -> stages.filter { s => val (ph, _, _, g) = ctxOf(s); ph == "write" && g == "txdd" && s.shRead > 0 }
      .map(_.runMs).sum / 1000.0
    out += "merge.self_s" -> (total("merge.merge") +
      stages.filter(s => ctxOf(s)._4 == "merge" && ctxOf(s)._1 == "write").map(_.runMs).sum / 1000.0)

    out += "tasks.run_s" -> stages.map(_.runMs).sum / 1000.0
    out += "tasks.cpu_s" -> stages.map(_.cpuNs).sum / 1e9
    out += "tasks.gc_s" -> stages.map(_.gcMs).sum / 1000.0
    out += "tasks.count" -> stages.map(_.tasks).sum.toDouble
    val skews = stages.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.sorted
      d.last.toDouble / math.max(d(d.size / 2), 1L)
    }
    out += "tasks.skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size)
    out += "shuffle.write_bytes" -> stages.map(_.shWrite).sum.toDouble
    out += "shuffle.read_bytes" -> stages.map(_.shRead).sum.toDouble
    out += "shuffle.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1000.0
    out += "spill.bytes" -> stages.map(_.spill).sum.toDouble
    out += "input.bytes" -> stages.map(_.inBytes).sum.toDouble
    out += "output.bytes" -> stages.map(_.outBytes).sum.toDouble

    // runOne reports the sink's total rows, not the rows it wrote
    out += "migrate.rowcount_mismatch" -> w.ops.count(o =>
      !o.label.startsWith("stream/") && o.rows != wl.expectedRows(o.label)).toDouble
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    out += "cache.rdds_left" -> math.max(storage.length.toDouble, w.cacheMax._1)
    out += "cache.bytes_left" -> math.max(storage.map(r => r.memSize + r.diskSize).sum.toDouble, w.cacheMax._2)

    val extras = Map("streaming.trigger_s" -> 0.0, "streaming.planning_s" -> 0.0,
      "streaming.add_batch_s" -> 0.0, "streaming.wal_commit_s" -> 0.0, "manifest.space_amp" -> 0.0) ++
      wl.layerExtras(w)
    out.result() ++ extras
  }
}
