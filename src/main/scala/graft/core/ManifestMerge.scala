package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._

/** What a merge did — returned so callers (and specs; SCALING §20
  * records the measured selectivity) can see file-level selectivity: at 100 TB the
  * whole point is `touchedFiles` tracking the source's KEY range, not
  * the table's file count.
  */
final case class MergeResult(
    totalFiles: Int, candidateFiles: Int, touchedFiles: Int,
    carriedFiles: Int, rewrittenParts: Seq[String], attempts: Int)

/** Row-level MERGE INTO a manifested table, pruned by the per-file
  * column envelopes the manifest records (round-16 verdict task 1 —
  * the Delta MERGE discipline, and the finer-grained form of the
  * reference's key-granular upsert surface: `ON DUPLICATE KEY UPDATE`
  * `d22d/model/mysqlmodel.py:285-302` and chunked UPDATE
  * `mysqlmodel.py:167-194`, which address ROWS, not partitions).
  *
  * Where [[graft.operators.StorageOps]]' partition rewrite engine and
  * the connector upsert rewrite whole partitions, this rewrites only
  * the FILES that provably may hold matched keys:
  *
  *   1. '''Prune''' (driver, zero I/O): the source's per-key min/max
  *      (one small agg job) is turned into range predicates and run
  *      through [[ManifestSkipping.mayMatch]] against every live
  *      file's recorded envelope — files whose key envelope cannot
  *      intersect the source's key range are out before anything is
  *      read. Stats-less files stay candidates (conservatism).
  *   2. '''Find touched''' (one scan of the candidates): candidates
  *      are joined to the source's distinct keys; files with at least
  *      one REAL match are the touched set (Delta's findTouchedFiles
  *      job — envelope overlap alone would rewrite near-missed files).
  *   3. '''Rewrite''' (one job over the touched files only): matched
  *      rows are updated/deleted, unmatched rows kept; not-matched
  *      source rows are inserted into their own partitions. Output
  *      lands in a fresh generation; every UNtouched file of a touched
  *      partition is carried BY REFERENCE into the new entry
  *      ([[ManifestEntry.carry]]) — byte-identical, never read, never
  *      copied. Untouched partitions are not even in the commit.
  *
  * Concurrency: same optimistic discipline as the partition-rewrite
  * engine — derived from one committed snapshot, committed with
  * `expectedSeq`, staleness re-derives from the interleaved state,
  * commit success is terminal (a post-commit transient must never
  * delete the generation the live manifest references).
  *
  * Update expressions must not touch key or partition columns (a row
  * may not change identity or location in a file-local rewrite — the
  * same restriction Delta enforces on partition columns in practice).
  * With matched actions, duplicate source keys fail loudly by default
  * (a target row matching two source rows is nondeterministic — the
  * ANSI MERGE cardinality error).
  */
final case class ManifestMerge(
    layoutDir: String,
    keys: Seq[String],
    partCol: String = "day",
    updateExprs: Map[String, (DataFrame, DataFrame) => Column] = Map.empty,
    deleteMatched: Boolean = false,
    insertNotMatched: Boolean = false,
    insertExprs: Map[String, DataFrame => Column] = Map.empty,
    validateSourceKeys: Boolean = true,
    changeFeed: Boolean = false,
    keepCommits: Int = ManifestTable.KeepCommits,
    persistRetain: Boolean = false,
) {
  require(keepCommits >= 2, s"keepCommits must be >= 2, got $keepCommits")
  require(keys.nonEmpty, "MERGE needs key columns")

  /** Matched rows: each listed column replaced by expr(source, target);
    * unlisted columns keep the target value.
    */
  def whenMatchedUpdate(exprs: Map[String, (DataFrame, DataFrame) => Column]): ManifestMerge = {
    require(!exprs.keys.exists(c => keys.contains(c) || c == partCol),
      s"MERGE update may not assign key/partition columns (${keys.mkString(",")}, $partCol)")
    copy(updateExprs = exprs, deleteMatched = false)
  }

  /** Matched rows are removed. */
  def whenMatchedDelete(): ManifestMerge = copy(deleteMatched = true, updateExprs = Map.empty)

  /** Unmatched source rows are inserted (into their own partitions). */
  def whenNotMatchedInsert(): ManifestMerge = copy(insertNotMatched = true)

  /** Unmatched source rows are inserted with per-column VALUE
    * expressions over the (unmatched) source rows (round 18 — the SQL
    * `WHEN NOT MATCHED THEN INSERT (…) VALUES (…)` surface); target
    * columns not listed insert as the same-named source column when
    * present, else null.
    */
  def whenNotMatchedInsert(exprs: Map[String, DataFrame => Column]): ManifestMerge =
    copy(insertNotMatched = true, insertExprs = exprs)

  /** Capture this merge's row-level changes (round 16, the Delta
    * change-data-feed discipline): alongside the rewrite, the exact
    * changed rows — `update_preimage`/`update_postimage`/`delete`/
    * `insert`, in Delta's vocabulary — land as a parquet record under
    * `_changes/<gen>`, and the commit names it atomically
    * ([[Manifest.changes]]). [[ManifestChanges]] then serves
    * `table_changes(from, to)` and the streaming change feed EXACTLY
    * across this commit instead of failing on the rewrite.
    *
    * Cost contract: one extra job bounded by the TOUCHED files + the
    * source — the same pruned inputs the rewrite reads, never the
    * table — and O(changed rows) of gc-swept storage. A crash between
    * the record write and the commit leaves an unreferenced record the
    * next gc ages out; the commit itself can never land without its
    * record.
    *
    * Determinism (round 17): the record is derived from the PINNED
    * source materialization ([[run]] pins once per call) plus
    * immutable touched files, so its pre/post images cannot diverge
    * from the rows the rewrite actually committed even for
    * non-deterministic source plans (round-16 ADVICE).
    */
  def withChangeFeed(enabled: Boolean = true): ManifestMerge = copy(changeFeed = enabled)

  /** Post-commit gc retention for this writer (round 16): the change
    * feed, time travel and lagging streams are all windowed by how
    * many commits gc keeps, and the table's MUTATING writer is where
    * that window is actually enforced — a merge that always gc'd at
    * the 2-commit default silently destroyed the lag headroom the
    * retention contract tells consumers to size. Set it to cover
    * worst-case consumer lag (versions, not time).
    */
  def withKeepCommits(n: Int): ManifestMerge =
    // Round 17: the choice is PERSISTED in the manifest header on this
    // merge's commit, and [[ManifestTable.gc]] takes the max of its
    // caller's window and the persisted one — so any OTHER
    // gc-triggering writer (compaction, erasure, sink, a later merge
    // left at the default) can no longer silently collapse the window
    // this call sized (round-16 ADVICE).
    copy(keepCommits = n, persistRetain = true)

  private val MaxAttempts = 10

  def run(rawSource: DataFrame): MergeResult = {
    val spark = rawSource.sparkSession
    require(updateExprs.nonEmpty || deleteMatched || insertNotMatched,
      "MERGE with no WHEN clause is a no-op — add an update/delete/insert action")
    require(keys.forall(rawSource.columns.contains), s"source lacks key cols $keys")

    // ---- pin the source ONCE per run (round-17 verdict task 3 — the
    // same rationale Delta documents for materializing the MERGE
    // source): the key summary, the dup check, the find-touched join,
    // the rewrite, the change record and every optimistic retry below
    // all re-evaluate the source plan; a non-deterministic source
    // (rand(), limit, a concurrently-changing input table) would let
    // the captured change record disagree with the rows actually
    // committed — a feed silently diverging from the table. One
    // durable materialization (Pin.shared: parquet on the shared
    // store, cluster-safe where persist() dies with an executor)
    // hands every consumer identical bytes; retired when the run ends.
    val pinName = s"merge-src-${Pin.tag(layoutDir)}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val source = Pin.shared(spark, pinName)(rawSource)
    // releaseArtifact, not retireArtifact (round-18 ADVICE): the pin
    // name is a fresh uuid per run, so the memo entry can never
    // fast-forward a later call — keeping it would leak one
    // (session, name) map entry retaining a DataFrame plan per merge
    // in a long-lived session (e.g. a foreachBatch MERGE sink)
    try runPinned(spark, source)
    finally { Pin.releaseArtifact(spark, pinName); () }
  }

  private def runPinned(spark: SparkSession, source: DataFrame): MergeResult = {
    // ---- source key summary: one small agg job, reused across retries
    val keyRange: Option[Map[String, (Any, Any)]] = {
      val aggs = keys.flatMap(k => Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
      val row = source.agg(aggs.head, aggs.tail: _*).head()
      if (keys.exists(k => row.isNullAt(row.fieldIndex(s"__mn_$k")))) None // empty source (or all-null keys)
      else Some(keys.map(k => k ->
        (row.getAs[Any](s"__mn_$k"), row.getAs[Any](s"__mx_$k"))).toMap)
    }
    if (validateSourceKeys && (updateExprs.nonEmpty || deleteMatched) && keyRange.isDefined) {
      val dup = source.groupBy(keys.map(col): _*).count().filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"MERGE source has duplicate keys (e.g. ${dup.head.mkString(",")}) — a target row " +
          "matching multiple source rows is nondeterministic (ANSI MERGE cardinality violation); " +
          "de-duplicate the source or pass validateSourceKeys=false to accept arbitrary winners")
    }
    val rangeFilters: Seq[Expression] = keyRange.fold(Seq.empty[Expression]) { kr =>
      keys.map { k =>
        val dt = source.schema(k).dataType
        val a = AttributeReference(k, dt, nullable = true)()
        org.apache.spark.sql.catalyst.expressions.And(
          GreaterThanOrEqual(a, Literal.create(kr(k)._1, dt)),
          LessThanOrEqual(a, Literal.create(kr(k)._2, dt)))
      }
    }

    val root = new Path(layoutDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    var attempts = 0
    while (attempts < MaxAttempts) {
      attempts += 1
      val manifest = ManifestTable.resolve(fs, root)
        .getOrElse(ManifestTable.adoptIfPlain(fs, root, partCol))
      val gen = ManifestTable.GenPrefix + java.util.UUID.randomUUID().toString.take(8)
      try {
        return attempt(spark, fs, root, manifest, gen, source, rangeFilters,
          keyRange.isDefined, attempts)
      } catch {
        case _: ManifestStaleException =>
          fs.delete(new Path(root, gen), true)
          fs.delete(new Path(root, s"${ManifestTable.ChangesDir}/$gen"), true)
        case scala.util.control.NonFatal(e) =>
          // commit success is TERMINAL (round-15 discipline): attempt()
          // swallows everything after its successful commit, so a
          // NonFatal here is pre-commit. A concurrent winner's gc can
          // retire this attempt's base files mid-derivation — retry iff
          // the table really advanced; else the failure is genuine
          // (propagate WITHOUT deleting the generation: commit() may
          // conceivably have landed before throwing, and gc sweeps aged
          // orphans anyway)
          val nowSeq = ManifestTable.resolve(fs, root).map(_.seq).getOrElse(0L)
          if (nowSeq == manifest.seq) throw e
          val committedByUs = ManifestTable.resolve(fs, root).exists(_.entries.exists(en =>
            en.dir == gen || en.dir.startsWith(gen + "/")))
          if (committedByUs) throw e
          fs.delete(new Path(root, gen), true)
          fs.delete(new Path(root, s"${ManifestTable.ChangesDir}/$gen"), true)
      }
    }
    throw new java.io.IOException(
      s"MERGE at $layoutDir lost the optimistic-commit race $MaxAttempts times — " +
        "sustained concurrent-writer contention; nothing was lost, retry when it clears")
  }

  private def attempt(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      root: Path, manifest: Manifest, gen: String, source: DataFrame,
      rangeFilters: Seq[Expression], sourceNonEmpty: Boolean,
      attempts: Int): MergeResult = {
    require(manifest.partCol == partCol,
      s"manifest at $root partitions on '${manifest.partCol}', caller expected '$partCol'")

    // ---- the live file inventory, root-relative (metadata only)
    val refs: Seq[FileRef] = ManifestTable.liveFileRefs(fs, root, manifest)

    // ---- phase 1: envelope pruning, zero I/O
    val candidates =
      if (!sourceNonEmpty) Nil
      else refs.filter(r => r.stat.forall(st =>
        ManifestSkipping.mayMatch(rangeFilters, st.rowCount, st.cols)))

    // A COLUMN-MAPPED table (round 17) reads every file with the
    // manifest-held logical schema — names + field ids — so files
    // written before a rename still resolve by id in every phase.
    val pinnedSchema: Option[org.apache.spark.sql.types.StructType] =
      if (manifest.cols.isEmpty) None
      else {
        ManifestColumns.ensureReadConf(spark)
        Some(ManifestColumns.schemaOf(manifest.cols))
      }

    // ---- phase 2: exact touched set — one scan of the candidates,
    // projected to (keys, file) BEFORE the union (metadata columns
    // resolve only directly above a file source, not through a union)
    val srcKeysDf = source.select(keys.map(col): _*).dropDuplicates(keys)
    val candKeysDf: Option[DataFrame] =
      if (candidates.isEmpty) None
      else Some(readRefs(spark, root, candidates, pinnedSchema,
        project = Some(keys.map(col) :+ col("_metadata.file_path").as("__file"))))
    // an insert-ONLY merge touches no existing file (matched rows have
    // no action) — skip the find-touched job and rewrite nothing
    val needRewrite = updateExprs.nonEmpty || deleteMatched
    val touchedPaths: Set[String] = candKeysDf match {
      case _ if !needRewrite => Set.empty
      case None => Set.empty
      case Some(df) =>
        df.join(srcKeysDf, keys.toSeq)
          .select("__file").distinct().collect().map(r => pathKey(r.getString(0))).toSet
    }
    val touched = candidates.filter(r =>
      touchedPaths.contains(pathKey(fs.makeQualified(new Path(root, r.rootRel)).toString)))
    val touchedByPart = touched.groupBy(_.part)

    // ---- phase 3: one rewrite job over touched files (+ inserts)
    // Data-file schema from ONE live file's footer (merge needs the
    // uniform live schema this engine's writers maintain); the insert
    // branch null-fills target columns the source lacks with the
    // probe's exact types, so every union below is schema-exact.
    val probeSchema: org.apache.spark.sql.types.StructType =
      pinnedSchema.getOrElse {
        val probe = refs.headOption.getOrElse(
          throw new IllegalArgumentException(s"manifested table at $root has no files"))
        spark.read.parquet(new Path(root, probe.rootRel).toString).schema
      }
    val tgtCols: Seq[String] =
      if (partCol.nonEmpty) probeSchema.fieldNames.toSeq :+ partCol
      else probeSchema.fieldNames.toSeq
    // change capture (round 16, CDF): the exact changed rows, built
    // from the SAME pruned inputs the rewrite reads (touched files +
    // source) — one extra bounded job, written under _changes/<gen>
    // and named atomically by the commit below
    var changeParts = Seq.empty[DataFrame] // each: tgtCols + _change_type
    def tagged(df: DataFrame, kind: String): DataFrame =
      df.select(tgtCols.map(col): _*).withColumn("_change_type", lit(kind))
    val rewritten: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val tgtRows = readRefs(spark, root, touched, pinnedSchema)
        val keep = tgtRows.join(srcKeysDf, keys.toSeq, "left_anti")
        def matched = tgtRows.join(srcKeysDf, keys.toSeq, "left_semi")
        val out =
          if (deleteMatched) {
            if (changeFeed) changeParts :+= tagged(matched, "delete")
            keep
          } else {
            val joined = tgtRows.alias("t").join(source.alias("s"), keys.toSeq, "inner")
            val cols = tgtRows.columns.toSeq.map { c =>
              updateExprs.get(c) match {
                case Some(f) => f(source, tgtRows).as(c)
                case None    => col(s"t.$c").as(c)
              }
            }
            if (changeFeed) {
              changeParts :+= tagged(matched, "update_preimage")
              changeParts :+= tagged(joined.select(cols: _*), "update_postimage")
            }
            keep.unionByName(joined.select(cols: _*))
          }
        Some(out.select(tgtCols.map(col): _*))
      }
    val inserts: Option[DataFrame] =
      if (!insertNotMatched) None
      else {
        if (partCol.nonEmpty)
          require(source.columns.contains(partCol) || insertExprs.contains(partCol),
            s"MERGE insert into a $partCol-partitioned table needs '$partCol' in the " +
              "source (or an insert expression for it)")
        // any target row matching a source key lives in a candidate
        // file (envelope conservatism), so anti-joining the candidate
        // rows IS anti-joining the whole target
        val unmatched = candKeysDf.fold(source)(ck =>
          source.join(ck.select(keys.map(col): _*).dropDuplicates(keys), keys.toSeq, "left_anti"))
        val filled = tgtCols.map { c =>
          insertExprs.get(c) match {
            case Some(f) =>
              // cast to the target column's exact type (SQL literals
              // arrive as their own types); the partition column has no
              // probe entry — its type is structural, pass through
              if (probeSchema.fieldNames.contains(c))
                f(unmatched).cast(probeSchema(c).dataType).as(c)
              else f(unmatched).as(c)
            case None if unmatched.columns.contains(c) => col(c)
            case None => lit(null).cast(probeSchema(c).dataType).as(c)
          }
        }
        Some(unmatched.select(filled: _*))
      }
    if (changeFeed) inserts.foreach(i => changeParts :+= tagged(i, "insert"))
    val outDf: Option[DataFrame] = (rewritten, inserts) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    if (outDf.isEmpty)
      return MergeResult(refs.size, candidates.size, 0, 0, Nil, attempts)

    val genPath = new Path(root, gen)
    // column-mapped tables stamp their field ids into every output
    // file (round 17) — computed columns lose source metadata, so the
    // stamp is explicit, and the clone pins field-id writing on
    def stamped(df: DataFrame): DataFrame =
      if (manifest.cols.isEmpty) df
      else ManifestColumns.stamp(df, manifest.cols, partCol)
    outDf.map(stamped).foreach { df =>
      // PRIVATE cloned session for the generation write: timestamps
      // must land as TIMESTAMP_MICROS for ts envelopes, but flipping
      // the SHARED session's conf races every concurrent writer — the
      // merge soak phase caught an unrelated dump written mid-merge
      // coming out UTC-annotated. The clone's conf is invisible outside.
      val ws = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
      ws.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      ws.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      val bound = org.apache.spark.sql.graft.Bridge.ofRows(ws, df.queryExecution.analyzed)
      // REBALANCE, not repartition(partCol) (round-17 verdict task 2):
      // repartition hashed every partition's rows into ONE task, so a
      // merge touching one hot partition rewrote it single-threaded
      // however wide the cluster. The rebalance hint keeps rows
      // co-located by partition but lets AQE split oversized shuffle
      // partitions into multiple write tasks (advisoryPartitionSizeInBytes
      // decides, at runtime, from the REAL row volume — better than any
      // static pmod(hash(keys), N) guess) and merge undersized ones, so
      // small merges still land one file per partition while a hot
      // partition parallelizes. Unpartitioned tables get the same
      // treatment instead of the old repartition(1) bottleneck.
      if (partCol.nonEmpty)
        bound.hint("rebalance", col(partCol))
          .write.mode("error").partitionBy(partCol).parquet(genPath.toString)
      else
        bound.hint("rebalance").write.mode("error").parquet(genPath.toString)
      fs.delete(new Path(genPath, "_SUCCESS"), false)
    }

    // ---- change record BEFORE the commit that names it: the pointer
    // flip atomically activates data AND change feed together; a crash
    // in between leaves an unreferenced record gc ages out
    val changesRel: Option[String] =
      if (changeParts.isEmpty) None
      else {
        val rel = s"${ManifestTable.ChangesDir}/$gen"
        val chg0 = changeParts.reduce(_ unionByName _)
        // the record carries the data columns' ids too (the feed reads
        // them back by id); the tag column stays id-less by design
        val chg =
          if (manifest.cols.isEmpty) chg0
          else ManifestColumns.stamp(chg0, manifest.cols, partCol, Set("_change_type"))
        val ws = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
        ws.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        ws.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        val bound = org.apache.spark.sql.graft.Bridge.ofRows(ws, chg.queryExecution.analyzed)
        bound.write.mode("error").parquet(new Path(root, rel).toString)
        fs.delete(new Path(new Path(root, rel), "_SUCCESS"), false)
        Some(rel)
      }

    // ---- assemble the commit: new files + carried untouched files
    val touchedSet = touched.map(_.rootRel).toSet
    val writtenParts: Map[String, Seq[FileStat]] =
      if (outDf.isEmpty) Map.empty
      else if (partCol.isEmpty)
        Map("" -> ManifestTable.fileStats(fs, genPath, manifest.statsCols))
      else if (!fs.exists(genPath)) Map.empty // all rows merged away
      else fs.listStatus(genPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
        .map(s => s.getPath.getName.substring(partCol.length + 1) ->
          ManifestTable.fileStats(fs, s.getPath, manifest.statsCols)).toMap

    val byPart = manifest.entries.map(e => e.part -> e).toMap
    val affected = (touchedByPart.keySet ++ writtenParts.keySet).toSeq.sorted
    val updates: Map[String, Option[ManifestEntry]] = affected.map { p =>
      val newStats = writtenParts.getOrElse(p, Nil)
      val carried = byPart.get(p).map { e =>
        val dirPrefix = if (e.dir.isEmpty) "" else e.dir + "/"
        val ownKept = e.stats.filterNot(st => touchedSet.contains(dirPrefix + st.name))
          .map(st => st.copy(name = dirPrefix + st.name)) ++
          e.carry.filterNot(st => touchedSet.contains(st.name))
        // a pre-stats entry's kept files need (name, len) synthesized
        val listedKept =
          if (e.allStats.isEmpty)
            refs.filter(r => r.part == p && !touchedSet.contains(r.rootRel))
              .map(r => FileStat(r.rootRel, r.len))
          else Nil
        ownKept ++ listedKept
      }.getOrElse(Nil)
      val entryDir = if (partCol.isEmpty) gen else s"$gen/$partCol=$p"
      p -> (
        if (newStats.isEmpty && carried.isEmpty) None
        else Some(ManifestEntry(p, entryDir, Nil, newStats, Nil, carried)))
    }.toMap

    if (updates.isEmpty) // nothing matched, nothing to insert
      return MergeResult(refs.size, candidates.size, 0, 0, Nil, attempts)

    ManifestMerge.beforeMergeCommit()
    // File-level conflict detection (round-17 verdict task 4, Delta's
    // conflict-checking discipline): when the commit loses the
    // optimistic race, diff the interleaved state against THIS merge's
    // read/write sets instead of throwing the whole derivation away.
    // Safe to re-commit unchanged iff the interleaved commits
    //   (a) touched none of the partitions this merge rewrites (our
    //       entry replacement would clobber their files), and
    //   (b) added no file whose key envelope may intersect the
    //       source's key range (its rows could match keys this merge
    //       already resolved as update/delete/insert — missing them
    //       breaks MERGE semantics).
    // Removals outside (a) cannot invalidate us: a removed candidate
    // had no real key match (else it would be in our touched set,
    // which lives in an affected partition). Disjoint-key concurrent
    // merges therefore both land in ONE derivation each.
    val affectedSet = affected.toSet
    val oldRels = refs.map(_.rootRel).toSet
    val relPart = refs.map(r => r.rootRel -> r.part).toMap
    var expected = manifest.seq
    var fastRetries = 0
    var landed = false
    while (!landed) {
      try {
        ManifestTable.commit(fs, root, partCol, updates, expectedSeq = Some(expected),
          changes = changesRel,
          retain = if (persistRetain) Some(keepCommits) else None): Unit
        landed = true
      } catch {
        case e: ManifestStaleException =>
          if (fastRetries >= 5) throw e
          val cur = ManifestTable.resolve(fs, root).getOrElse(throw e)
          if (cur.partCol != partCol) throw e
          val curRefs = ManifestTable.liveFileRefs(fs, root, cur)
          val curRels = curRefs.map(_.rootRel).toSet
          val addedRefs = curRefs.filterNot(r => oldRels.contains(r.rootRel))
          val removedRels = oldRels.diff(curRels)
          val conflict =
            addedRefs.exists(r => affectedSet.contains(r.part)) ||
              removedRels.exists(rel => relPart.get(rel).exists(affectedSet.contains)) ||
              addedRefs.exists(r => r.stat.forall(st =>
                ManifestSkipping.mayMatch(rangeFilters, st.rowCount, st.cols)))
          if (conflict) throw e
          ManifestMerge.fastPathRecommits.increment()
          expected = cur.seq
          fastRetries += 1
      }
    }
    // commit success is TERMINAL: anything after the pointer flip is
    // best-effort — a transient gc failure must never fail (or worse,
    // retry and double-apply) a merge that already landed
    try {
      ManifestMerge.afterMergeCommit()
      ManifestTable.gc(fs, root, keepCommits = keepCommits); ()
    } catch { case scala.util.control.NonFatal(_) => () }
    MergeResult(refs.size, candidates.size, touched.size,
      updates.values.flatten.map(_.carry.size).sum, affected, attempts)
  }

  /** Read a set of referenced files as a DataFrame that INCLUDES the
    * partition column: files are grouped by their enclosing generation
    * base so Spark's partition inference sees uniform `partCol=` depth
    * per group (mixed depths under one basePath are rejected), then
    * unioned. Unpartitioned tables read flat.
    */
  private def readRefs(spark: SparkSession, root: Path, refs: Seq[FileRef],
      pinned: Option[org.apache.spark.sql.types.StructType],
      project: Option[Seq[Column]] = None): DataFrame = {
    def proj(df: DataFrame): DataFrame = project.fold(df)(cs => df.select(cs: _*))
    def reader = pinned.fold(spark.read)(s => spark.read.schema(s))
    if (partCol.isEmpty) {
      proj(reader.parquet(refs.map(r => new Path(root, r.rootRel).toString): _*))
    } else {
      val groups = refs.groupBy { r =>
        val comps = r.rootRel.split('/')
        require(comps.length >= 2 && comps(comps.length - 2).startsWith(partCol + "="),
          s"file ${r.rootRel} is not under a $partCol= partition directory")
        comps.dropRight(2).mkString("/")
      }
      groups.toSeq.sortBy(_._1).map { case (base, rs) =>
        val basePath = if (base.isEmpty) root else new Path(root, base)
        proj(reader.option("basePath", basePath.toString)
          .parquet(rs.map(r => new Path(root, r.rootRel).toString): _*))
      }.reduce(_ unionByName _)
    }
  }

  /** Canonical comparison key for a file path: the scheme-less path
    * component (`file:/a/b` and `file:///a/b` spell the same file;
    * `_metadata.file_path` and `makeQualified` may disagree on the
    * spelling but never on the component).
    */
  private def pathKey(s: String): String = new Path(s).toUri.getPath

}

/** Test seams (same discipline as the partition-rewrite engine's):
  * between derivation and commit — the staleness window; and between a
  * SUCCESSFUL commit and gc — a failure there must read as success.
  * Production no-ops.
  */
object ManifestMerge {
  @volatile private[graft] var beforeMergeCommit: () => Unit = () => ()
  @volatile private[graft] var afterMergeCommit: () => Unit = () => ()

  /** Commits salvaged by file-level conflict detection (re-committed
    * against an interleaved-but-disjoint state without re-deriving) —
    * observable by specs (SCALING §22 records the contention curve).
    */
  private[graft] val fastPathRecommits = new java.util.concurrent.atomic.LongAdder
}
