package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-fixture generator for the empirical scaling proof: replicates
  * the test corpus's `documents` / `events` / `embeddings` tables
  * ×`factor` with perturbed ids, so the heavy query families can be
  * benched at sf1-equivalent size (and beyond) without touching the
  * read-only source data.
  *
  * Replication is designed to keep DUPLICATE DENSITY constant — the
  * property a real 10× corpus has and naive row copying destroys:
  *  - `documents`: replica r > 0 suffixes EVERY word with `~r`. The
  *    word map is a bijection per replica, so each replica's shingle/
  *    gram/signature structure is exactly isomorphic to the source
  *    corpus (same dup pairs, same df distribution) while replica
  *    vocabularies are pairwise disjoint — cross-replica shingles,
  *    MinHash bands and SimHash bytes cannot collide, so pair-stage
  *    work scales ×factor, not ×factor². Sources/langs keep their
  *    ORIGINAL values: per-key row counts genuinely grow ×factor.
  *  - `embeddings`: replica vectors get deterministic ±1% per-element
  *    noise (xxhash64-seeded), so replicas are semantic NEAR-dups of
  *    their source vector — the corpus grows with realistic semantic
  *    redundancy instead of bit-identical copies.
  *  - `events`: pure replication with shifted event_ids over the SAME
  *    user population — per-user history ×factor, the realistic shape.
  *  - TPC-H side tables are copied verbatim (the scaling families
  *    don't read them; copies keep every `Tables.load` working).
  *
  * `skewPct > 0` additionally plants the Zipf hot key the round-6
  * verdict asked for: that percentage of ALL documents (across every
  * replica) get their text replaced by ONE fixed 40-word viral
  * template — the "shared boilerplate" worst case that concentrates a
  * single shingle/gram key across the whole corpus. The template
  * bypasses the replica suffix on purpose: the hot key must be GLOBAL,
  * or each replica would get its own merely-warm key.
  *
  * Usage: sbt "Test/runMain graft.tools.ScaleFixture <srcDir> <destDir> <factor> <skewPct>"
  */
object ScaleFixture {

  /** One fixed viral template — vocabulary drawn from the corpus's own
    * word soup so it interacts with real shingles, long enough (40
    * words) that span/dedup thresholds all engage.
    */
  private[graft] val ViralTemplate: String = (
    "spark batch value sort column fast query table hash line " +
      "group filter window stream merge data row key scan agg " +
      "spark batch value sort column fast query table hash line " +
      "group filter window stream merge data row key scan agg"
    ).split(" ").mkString(" ")

  private[graft] def scale(
      spark: SparkSession, src: String, dest: String,
      factor: Int, skewPct: Int,
      scaleTpch: Boolean = true): Unit = { // false: corpus tables only (spec fixtures)
    require(factor >= 1 && skewPct >= 0 && skewPct <= 100)
    new java.io.File(dest).mkdirs()

    // region/nation are true dimensions (tiny, fixed key domains the
    // fact tables reference by VALUE) — copied verbatim
    for (t <- Seq("region", "nation")) {
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      val to = java.nio.file.Paths.get(s"$dest/$t.parquet")
      if (java.nio.file.Files.isRegularFile(from))
        java.nio.file.Files.copy(from, to,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else // source already a directory: re-write through Spark
        spark.read.parquet(from.toString).write.mode("overwrite").parquet(to.toString)
    }

    def replicate(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).select(col("id").cast("int").as("r")))

    // ---- TPC-H star schema: ×factor with CONSISTENT key shifts ----
    // Every replica shifts each entity's keys by r × (that entity's
    // base count), applied to primary AND foreign keys alike, so
    // referential integrity holds within each replica: replica r's
    // lineitems join replica r's orders/parts/suppliers, and a join's
    // matched cardinality grows exactly ×factor. nation/region keys
    // stay unshifted (dimension values). The events stream keeps its
    // original user_id population, so replica-0 customers carry
    // ×factor the event history and later replicas are event-less —
    // the realistic shape when the customer base outgrows the
    // instrumented cohort.
    def shifted(t: String, shifts: Map[String, Long]): Unit = {
      val df = Tables.load(spark, src, t)
      replicate(df)
        .select(df.columns.map { c =>
          shifts.get(c) match {
            case Some(n) => (col(c) + col("r").cast("long") * n).as(c)
            case None => col(c)
          }
        }: _*)
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }
    if (scaleTpch) {
      val nCust = Tables.load(spark, src, "customer").count()
      val nSupp = Tables.load(spark, src, "supplier").count()
      val nPart = Tables.load(spark, src, "part").count()
      val nOrd = Tables.load(spark, src, "orders").count()
      shifted("customer", Map("c_custkey" -> nCust))
      shifted("supplier", Map("s_suppkey" -> nSupp))
      shifted("part", Map("p_partkey" -> nPart))
      shifted("orders", Map("o_orderkey" -> nOrd, "o_custkey" -> nCust))
      shifted("lineitem", Map(
        "l_orderkey" -> nOrd, "l_partkey" -> nPart, "l_suppkey" -> nSupp))
    } else {
      // corpus-only fixtures (spec-scale): star schema copied verbatim
      // at 1× — replicating without key shifts would fabricate
      // duplicate primary keys
      for (t <- Seq("customer", "supplier", "part", "orders", "lineitem")) {
        val from = java.nio.file.Paths.get(s"$src/$t.parquet")
        if (java.nio.file.Files.isRegularFile(from))
          java.nio.file.Files.copy(from,
            java.nio.file.Paths.get(s"$dest/$t.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        else
          spark.read.parquet(from.toString)
            .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      }
    }

    // ---- documents ----
    val docs = Tables.load(spark, src, "documents")
    val nDocs = docs.count()
    val suffixed = expr(
      "concat_ws(' ', transform(split(text, ' '), w -> concat(w, '~', cast(r as string))))")
    val scaledText = when(col("r") === 0, col("text")).otherwise(suffixed)
    val withSkew =
      if (skewPct == 0) scaledText
      else when(pmod(col("doc_id") * lit(factor) + col("r"), lit(100)) < skewPct,
        lit(ViralTemplate)).otherwise(scaledText)
    replicate(docs)
      .select((col("doc_id") + col("r").cast("long") * nDocs).as("doc_id"),
        withSkew.as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")

    // ---- embeddings ----
    val emb = Tables.load(spark, src, "embeddings")
    val nVec = emb.count()
    val noisy = expr(
      """transform(embedding, (x, i) -> cast(x +
        |  (cast(pmod(xxhash64(concat(cast(vec_id as string), '_',
        |                             cast(i as string), '_',
        |                             cast(r as string))), 1000) as double)
        |   / 1000.0 - 0.5) * 0.02 as float))""".stripMargin)
    replicate(emb)
      .select((col("vec_id") + col("r").cast("long") * nVec).as("vec_id"),
        when(col("r") === 0, col("embedding")).otherwise(noisy).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")

    // ---- events ----
    val ev = Tables.load(spark, src, "events")
    val nEv = ev.count()
    replicate(ev)
      .select((col("event_id") + col("r").cast("long") * nEv).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dest/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorS, skewPctS) = args.padTo(4, "0").take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dest, factorS.toInt, skewPctS.toInt)
    println(s"[scale-fixture] wrote $dest factor=$factorS skewPct=$skewPctS")
    spark.stop()
  }
}
