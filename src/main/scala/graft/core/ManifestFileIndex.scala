package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, EqualNullSafe, EqualTo, Expression, In, InSet, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ONE-scan reads for manifested tables (round-14 verdict task 3).
  *
  * [[ManifestTable.read]] unions one scan leg per live generation
  * group — correct, but each leg costs fixed driver time (file
  * listing, plan node) and the union denies Spark a single uniform
  * scan: at the gc-bounded worst case of one group per partition
  * (36 legs), ~0.6 s of plan-time overhead independent of data size
  * (SCALING §14 and §17 record the measurement). This class removes the legs
  * entirely: it implements Spark's [[FileIndex]] — the exact seam
  * `InMemoryFileIndex` (plain directories) and Delta's
  * `TahoeLogFileIndex` plug into — so the manifest's live file set
  * feeds ONE `FileScan parquet` node through the native
  * `FileSourceStrategy`, with:
  *   - partition pruning intact: `listFiles(partitionFilters, …)`
  *     evaluates the pruned predicate against each entry's partition
  *     value, so unselected partitions are never listed into the scan
  *     (`PruneFileSourcePartitions` pushes catalyst filters here);
  *   - accurate `sizeInBytes` from the manifest's own file statuses,
  *     so broadcast-join decisions see the LIVE bytes, not a stale
  *     directory estimate;
  *   - whole-stage codegen, vectorized parquet, pushed data filters —
  *     everything the native file source gives a plain directory.
  *
  * The file set resolves ONCE at construction, driver-side, straight
  * from the manifest entries (generation dirs are immutable by
  * protocol, so the record cannot go stale while this index lives;
  * `refresh()` re-resolves the pointer). Partition-column TYPE follows
  * the same inference a per-leg basePath read would produce for the
  * layouts this engine writes (int / long / ISO-date / string) so the
  * two read paths stay schema-identical — proven by the parity spec.
  *
  * Scale contract (100 TB, round 15): on a stats-bearing manifest
  * (every commit since the writers started recording per-file
  * (name, len) — [[FileStat]]) construction makes ZERO filesystem
  * data-listing calls: the statuses are synthesized from the manifest
  * itself, so a million-file table on real S3 resolves in the time it
  * takes to read one small commit file — the Iceberg "manifest IS the
  * listing" discipline (`ManifestStatsSpec` counts the calls; cost is
  * flat in file count). Pre-upgrade entries fall back to listing,
  * CONCURRENTLY (never the round-14 serial per-entry RPCs). The scan
  * itself is a single native parquet scan over exactly the live bytes.
  */
final class ManifestFileIndex(
    spark: SparkSession,
    val root: Path,
    private[graft] val partColName: String,
    selected: Option[Set[String]] = None,
    asOfSeq: Option[Long] = None,
    partTypeOverride: Option[DataType] = None,
) extends FileIndex {

  private val fs: FileSystem = root.getFileSystem(spark.sessionState.newHadoopConf())

  /** (manifest, per-partition file statuses, per-path column
    * envelopes, lazy?) — resolved once; immutable generations make the
    * record stable for this index's lifetime. In LAZY mode (round-18
    * verdict task 2) the manifest is the commit HEADER only — entries
    * live in segment files fetched per bucket at [[listFiles]] time,
    * AFTER the pushed data filters have been evaluated against each
    * bucket's aggregate envelope ([[SegAgg]]): a selective filtered
    * read of a segmented table pays O(surviving buckets) of metadata,
    * not O(table). Lazy engages for live, unselected reads of
    * segmented COLUMN-MAPPED tables whose every segment carries an
    * aggregate (the schema comes from the mapping, so nothing needs a
    * footer probe); everything else keeps the eager path.
    */
  @volatile private var state: (Manifest, Seq[(String, Seq[FileStatus])], Map[Path, FileStat], Boolean) = load()

  /** Per-bucket materialization cache for the lazy path: (statuses,
    * envelopes) keyed by bucket id. Segments are immutable, so entries
    * can never go stale while this index lives; refresh() clears.
    */
  private val bucketCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Seq[(String, Seq[FileStatus])], Map[Path, FileStat])]()

  private def dataFile(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".")

  private def load(): (Manifest, Seq[(String, Seq[FileStatus])], Map[Path, FileStat], Boolean) = {
    def eager(m: Manifest): (Manifest, Seq[(String, Seq[FileStatus])], Map[Path, FileStat], Boolean) = {
      val wanted = selected match {
        case Some(sel) => m.entries.filter(e => sel.contains(e.part))
        case None      => m.entries
      }
      require(wanted.nonEmpty, s"manifested table at $root has no matching partitions")
      val (pp, env) = materialize(wanted)
      (m, pp, env, false)
    }
    def strict(): Manifest = ManifestTable.resolve(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $root"))
    val out = asOfSeq match {
      case Some(seq) => eager(ManifestTable.resolveAt(fs, root, seq).getOrElse(
        throw new IllegalArgumentException(
          s"no retained version $seq at $root — retained: " +
            s"[${ManifestTable.versions(fs, root).mkString(", ")}] " +
            s"(history window is ManifestTable.KeepCommits=${ManifestTable.KeepCommits} " +
            "commits; gc retires older versions)")))
      case None =>
        selected match {
          case Some(sel) =>
            // a partition selection resolves PRUNED (round 17): only
            // the segment buckets that can hold the selected parts are
            // read — O(selected buckets) of metadata
            eager(ManifestTable.resolvePruned(fs, root, sel).getOrElse(
              throw new IllegalArgumentException(s"no committed manifest at $root")))
          case None =>
            val hdr = ManifestTable.resolveHeader(fs, root).getOrElse(
              throw new IllegalArgumentException(s"no committed manifest at $root"))
            if (hdr.segRefs.isEmpty) eager(hdr) // inline: header IS complete
            else if (hdr.cols.nonEmpty && hdr.segRefs.forall(_.agg.isDefined))
              (hdr, Nil, Map.empty[Path, FileStat], true) // lazy: buckets fetched per query
            else
              // segmented but lazy-ineligible (pre-agg commits, or an
              // unmapped table that needs a schema probe): materialize
              // everything now; a torn segment falls back through the
              // strict resolve's all-or-nothing discipline
              try eager(hdr.copy(entries =
                ManifestTable.loadSegmentEntries(fs, root, hdr.segRefs).sortBy(_.part)))
              catch { case _: java.io.IOException => eager(strict()) }
        }
    }
    require(out._1.partCol == partColName,
      s"manifest at $root partitions on '${out._1.partCol}', caller expected '$partColName'")
    out
  }

  /** Entries → (per-partition statuses, envelope map). Stats-bearing
    * entries (anything committed since round 15) synthesize their
    * FileStatus set straight from the manifest — ZERO filesystem
    * calls, however many files the table holds: the manifest IS the
    * listing, and generation immutability makes the record permanently
    * accurate. makeQualified is client-side path arithmetic, not an
    * RPC. Block size is nominal (128 MB): Spark's split sizing uses
    * maxPartitionBytes/openCostInBytes from the session conf, never
    * the per-file block size; mtime is 0 (the
    * `_metadata.file_modification_time` column of a stats-read file
    * reports epoch — the same trade Delta's log-backed listing makes).
    */
  private def materialize(wanted: Seq[ManifestEntry]): (Seq[(String, Seq[FileStatus])], Map[Path, FileStat]) = {
    val listed = {
      val need = wanted.zipWithIndex.filter(_._1.allStats.isEmpty)
      if (need.isEmpty) Map.empty[Int, Seq[FileStatus]]
      else {
        // pre-upgrade manifests fall back to listing — CONCURRENTLY,
        // the same discipline the legacy read's leg builds use (serial
        // per-entry RPCs were the round-14 verdict's scale-killer)
        def listEntry(e: ManifestEntry): Seq[FileStatus] =
          ManifestTable.entryPaths(root, e).flatMap { p =>
            val st = fs.getFileStatus(p)
            if (st.isDirectory)
              fs.listStatus(p).toSeq.filter(s => s.isFile && dataFile(s.getPath.getName))
            else Seq(st)
          }
        ManifestTable.parMap(need) { case (e, i) => i -> listEntry(e) }.toMap
      }
    }
    val envelopes = Map.newBuilder[Path, FileStat]
    val perPart = wanted.zipWithIndex.map { case (e, i) =>
      val statuses = listed.getOrElse(i, {
        val dir = if (e.dir.isEmpty) root else new Path(root, e.dir)
        def synth(st: FileStat, base: Path): FileStatus = {
          val p = fs.makeQualified(new Path(base, st.name))
          // column envelopes ride the same manifest record — files
          // whose recorded min/max cannot satisfy the pushed filters
          // are dropped in listFiles (ManifestSkipping), zero RPCs
          if (st.rowCount >= 0 || st.cols.nonEmpty) envelopes += (p -> st)
          new FileStatus(st.len, false, 1, 128L * 1024 * 1024, 0L, p)
        }
        // carried files (round 16, row-level MERGE) are root-relative
        // references into OTHER generations — same zero-RPC synthesis
        e.stats.map(synth(_, dir)) ++ e.carry.map(synth(_, root))
      })
      e.part -> statuses
    }
    (perPart, envelopes.result())
  }

  /** Fetch (and cache) the given buckets' entries, materialized. */
  private def fetchBuckets(refs: Seq[SegRef]): (Seq[(String, Seq[FileStatus])], Map[Path, FileStat]) = {
    val parts = ManifestTable.parMap(refs)(r =>
      bucketCache.computeIfAbsent(r.bucket, _ =>
        materialize(ManifestTable.loadSegmentEntries(fs, root, Seq(r)).sortBy(_.part))))
    (parts.flatMap(_._1), parts.foldLeft(Map.empty[Path, FileStat])(_ ++ _._2))
  }

  /** Exact bucket set for partition-column equality/IN filters, or
    * None when the filters don't pin values. Only for string/date
    * partition types: their literal→directory-string rendering is a
    * guaranteed roundtrip (ISO dates re-print canonically; strings are
    * verbatim), whereas an int-typed "03" directory would hash to a
    * different bucket than its parsed value re-printed as "3" — a
    * silently dropped partition, so numeric types decline.
    */
  private def equalityBuckets(partitionFilters: Seq[Expression], of: Int): Option[Set[Int]] = {
    if (partColName.isEmpty) return None
    if (partType != StringType && partType != DateType) return None
    def str(v: Any): Option[String] = v match {
      case null => None
      case i: Integer if partType == DateType =>
        Some(java.time.LocalDate.ofEpochDay(i.toLong).toString)
      case u: UTF8String if partType == StringType => Some(u.toString)
      case _ => None
    }
    def values(e: Expression): Option[Set[String]] = e match {
      case EqualTo(a: AttributeReference, Literal(v, _)) if a.name == partColName => str(v).map(Set(_))
      case EqualTo(Literal(v, _), a: AttributeReference) if a.name == partColName => str(v).map(Set(_))
      case EqualNullSafe(a: AttributeReference, Literal(v, _)) if a.name == partColName => str(v).map(Set(_))
      case EqualNullSafe(Literal(v, _), a: AttributeReference) if a.name == partColName => str(v).map(Set(_))
      case In(a: AttributeReference, list) if a.name == partColName &&
          list.forall(_.isInstanceOf[Literal]) =>
        val ss = list.map { case Literal(v, _) => str(v); case _ => None }
        if (ss.exists(_.isEmpty)) None else Some(ss.flatten.toSet)
      case InSet(a: AttributeReference, hset) if a.name == partColName =>
        val ss = hset.toSeq.map(str)
        if (ss.exists(_.isEmpty)) None else Some(ss.flatten.toSet)
      case _ => None
    }
    val sets = partitionFilters.flatMap(values)
    if (sets.isEmpty) None
    else Some(sets.reduce(_ intersect _).map(ManifestTable.bucketOf(_, of)))
  }

  /** Partition-column type, inferred over ALL partition values with the
    * same ladder Spark's own partition inference applies to the layouts
    * this engine writes: int → long → ISO date → string. Inferring over
    * every value (not a sample) keeps one alien value from silently
    * coercing the column.
    */
  val partType: DataType = partTypeOverride.getOrElse {
    if (partColName.isEmpty) NullType
    else if (state._4) {
      // lazy: unify the per-segment tags — each tag asserts "all my
      // part keys parse as X", so the ladder reconstructs exactly the
      // all-values inference without materializing any entries
      val tags = state._1.segRefs.flatMap(_.agg).map(_.partTag).toSet
      if (tags == Set('i')) IntegerType
      else if (tags.subsetOf(Set('i', 'l'))) LongType
      else if (tags == Set('d')) DateType
      else StringType
    } else {
      val vs = state._2.map(_._1)
      if (vs.forall(_.toIntOption.isDefined)) IntegerType
      else if (vs.forall(_.toLongOption.isDefined)) LongType
      else if (vs.forall(v => scala.util.Try(java.time.LocalDate.parse(v)).isSuccess)) DateType
      else StringType
    }
  }
  partTypeOverride.foreach(dt => require(
    dt == IntegerType || dt == LongType || dt == DateType || dt == StringType,
    s"manifest partition column must be int/long/date/string, got ${dt.simpleString}"))

  private def toInternal(v: String): Any = partType match {
    case IntegerType => v.toInt
    case LongType    => v.toLong
    case DateType    => java.time.LocalDate.parse(v).toEpochDay.toInt
    case _           => UTF8String.fromString(v)
  }

  /** The resolved entries this index serves (post partition
    * selection) — what the metadata-aggregate fast path
    * ([[graft.plans.ManifestMetadataAggRule]]) answers from. Derived
    * from the SAME resolved manifest the scan reads, so a metadata
    * answer can never drift from what the scan would return.
    */
  /** The resolved manifest this index serves — the column-mapping
    * read path needs its `cols` (round 17).
    */
  private[graft] def manifest: Manifest = state._1

  private[graft] def selectedEntries: Seq[ManifestEntry] = {
    val m = state._1
    // lazy headers carry no entries — the metadata-aggregate consumer
    // needs the COMPLETE state, so materialize every bucket (cached in
    // ManifestTable's segment LRU; one fetch per segment per JVM)
    val entries =
      if (state._4) ManifestTable.loadSegmentEntries(fs, root, m.segRefs).sortBy(_.part)
      else m.entries
    selected match {
      case Some(sel) => entries.filter(e => sel.contains(e.part))
      case None      => entries
    }
  }

  /** Partition value → internal catalyst value, exposed for the
    * metadata-aggregate path (partition-column min/max from entry
    * keys).
    */
  private[graft] def partValueInternal(v: String): Any = toInternal(v)

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSchema: StructType =
    if (partColName.isEmpty) StructType(Nil)
    else StructType(Seq(StructField(partColName, partType, nullable = false)))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (m, perPart0, envelopes0, lzy) = state
    val (perPart, envelopes) =
      if (!lzy) (perPart0, envelopes0)
      else {
        // LAZY bucket pruning (round 18): before any segment is
        // fetched, drop buckets whose AGGREGATE envelope proves the
        // pushed data filters unsatisfiable (same conservatism
        // contract as per-file skipping — an unprovable condition
        // keeps the bucket), and map partition-column equality
        // filters straight to their hash buckets. Metadata cost is
        // O(surviving buckets); the per-file skim below then applies
        // inside them as always.
        val refs = m.segRefs
        val dataSurvive =
          if (dataFilters.isEmpty) refs
          else refs.filter(_.agg.forall(a =>
            ManifestSkipping.mayMatch(dataFilters, a.rowCount, a.cols)))
        val survive = equalityBuckets(partitionFilters, refs.head.of) match {
          case Some(bs) => dataSurvive.filter(r => bs.contains(r.bucket))
          case None     => dataSurvive
        }
        fetchBuckets(survive)
      }
    // manifest-level data skipping (round 15): a file whose recorded
    // column envelopes PROVE the pushed data filters unsatisfiable
    // never enters the scan — decided from the already-read manifest,
    // zero filesystem calls, on top of (and before) the row-group
    // skipping parquet does from the same footer stats at read time.
    // ManifestSkipping is conservative by contract: any unprovable
    // condition keeps the file, so results never change (parity
    // spec-proven), only file counts do. Evaluated AFTER partition
    // pruning below, so its driver cost scales with the files the
    // query actually selects, not the table's total file count.
    def skimmed(sts: Seq[FileStatus]): Seq[FileStatus] =
      if (dataFilters.isEmpty || envelopes.isEmpty) sts
      else sts.filter { st =>
        envelopes.get(st.getPath).forall(e =>
          ManifestSkipping.mayMatch(dataFilters, e.rowCount, e.cols))
      }
    if (partColName.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, skimmed(perPart.flatMap(_._2)).toArray))
    else {
      val selectedParts =
        if (partitionFilters.isEmpty) perPart
        else {
          // bind the pruned predicate to the single-column partition
          // row — the same evaluation PartitioningAwareFileIndex does,
          // minus the multi-column generality this layout never has.
          // EXACT name match (round 16), unifying with the discipline
          // the stats paths adopted (ManifestSkipping/MetadataAgg):
          // Spark routes partitionFilters here by attribute identity
          // against partitionSchema, whose field carries the manifest's
          // exact casing — so exact equality is sufficient, and
          // case-folding could conflate columns differing only in case
          // under spark.sql.caseSensitive=true
          val bound = partitionFilters.reduce(And).transform {
            case a: AttributeReference if a.name == partColName =>
              BoundReference(0, partType, nullable = false)
          }
          val pred = Predicate.createInterpreted(bound)
          pred.initialize(0)
          perPart.filter { case (part, _) => pred.eval(InternalRow(toInternal(part))) }
        }
      selectedParts.map { case (part, sts) =>
        PartitionDirectory(InternalRow(toInternal(part)), skimmed(sts).toArray)
      }
    }
  }

  override def inputFiles: Array[String] =
    if (state._4) fetchBuckets(state._1.segRefs)._1.flatMap(_._2)
      .map(_.getPath.toString).toArray
    else state._2.flatMap(_._2).map(_.getPath.toString).toArray

  override def sizeInBytes: Long =
    // lazy: the full table's recorded bytes straight from the segment
    // aggregates — zero fetches; conservative (an overestimate can
    // only make the planner more careful about broadcasting this side)
    if (state._4) state._1.segRefs.flatMap(_.agg).map(_.dataBytes).sum
    else state._2.flatMap(_._2).map(_.getLen).sum

  override def refresh(): Unit = { bucketCache.clear(); state = load() }

  /** One sample file per generation group, group-name-sorted — the
    * schema-inference probes ([[ManifestFileIndex.relation]]) read
    * exactly two of these (first + last group), never O(groups)
    * footers.
    */
  private[core] def sampleFilePerGroup: Seq[(String, Path)] = {
    // only the UNMAPPED schema-probe path calls this, and lazy mode
    // requires a mapping — so state is always eager here; guard anyway
    val (m, perPart, _, lzy) = state
    require(!lzy, "sampleFilePerGroup is not reachable in lazy mode (mapped tables probe nothing)")
    val groupOf: ManifestEntry => String = e =>
      if (e.dir.startsWith(ManifestTable.GenPrefix)) e.dir.takeWhile(_ != '/') else ""
    val entryByPart = m.entries.map(e => e.part -> e).toMap
    perPart.flatMap { case (part, sts) =>
      sts.headOption.flatMap(st =>
        entryByPart.get(part).map(e => groupOf(e) -> st.getPath))
    }.groupBy(_._1).map { case (g, xs) => g -> xs.head._2 }.toSeq.sortBy(_._1)
  }

  override def toString: String =
    s"ManifestFileIndex($root, seq=${state._1.seq}, parts=${state._2.size})"
}

object ManifestFileIndex {

  /** Additive union of per-generation schemas (round-15 verdict task 5;
    * the `mergeSchema=true` contract): fields keyed by name, first-seen
    * order, everything nullable (a column absent from older files reads
    * as null — the reconciliation parquet/json readers already do by
    * name). A same-name TYPE conflict stays a loud error — silently
    * coercing (or worse, reading int bytes as long) is the failure mode
    * the default drift guard exists to prevent, and opting into
    * additive evolution must not opt into that.
    */
  private[graft] def mergeSchemas(root: String,
      groups: Seq[(String, StructType)],
      allowMissing: Boolean = false): StructType = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (StructField, String)]
    groups.foreach { case (g, st) =>
      st.fields.foreach { f =>
        out.get(f.name) match {
          case None => out(f.name) = (f.copy(nullable = true), g)
          case Some((prev, g0)) =>
            require(prev.dataType == f.dataType,
              s"manifest read at $root (mergeSchema): column '${f.name}' is " +
                s"${prev.dataType.simpleString} in generation '$g0' but " +
                s"${f.dataType.simpleString} in '$g' — additive evolution merges " +
                "NEW columns only; a type conflict needs a rewrite (Overwrite)")
        }
      }
    }
    // Rename contract (round-16 verdict task 7): additive evolution
    // means the live generations' column sets form a CHAIN under
    // inclusion (each write only ever adds columns). A RENAME reads
    // structurally as drop+add — one generation has A-not-B, another
    // B-not-A — which breaks the chain, so it fails loudly here by
    // default instead of silently splitting one logical column into
    // two half-null ones. mergeSchemaAllowMissing=true is the
    // documented opt-out: read the union, missing columns null.
    // A PURE drop is NOT detectable: generation names carry no order,
    // so {.(id,v), (id,v,extra)} is indistinguishable from the add
    // that additive evolution exists to support — it reads as the
    // union (the dropped column stays, null in the dropping
    // generation's rows), stated in README so nobody relies on drops
    // disappearing.
    if (!allowMissing && groups.size > 1) {
      val bySize = groups.sortBy { case (g, st) => (st.fields.length, g) }
      bySize.sliding(2).foreach {
        case Seq((g0, s0), (g1, s1)) =>
          val missing = s0.fieldNames.toSet diff s1.fieldNames.toSet
          if (missing.nonEmpty) {
            val added = s1.fieldNames.toSet diff s0.fieldNames.toSet
            throw new IllegalArgumentException(
              s"manifest read at $root (mergeSchema): generations '$g0' and '$g1' " +
                s"do not form an additive chain — '$g1' lacks " +
                s"${missing.toSeq.sorted.mkString(", ")} while adding " +
                s"${added.toSeq.sorted.mkString(", ")}: a RENAME reads as drop+add, " +
                "and additive evolution never removes columns. Rewrite (Overwrite) " +
                "to rename, or pass mergeSchemaAllowMissing=true to read the union " +
                "with missing columns as null")
          }
        case _ => ()
      }
    }
    StructType(out.values.map(_._1).toSeq)
  }

  private def fileFormatFor(format: String): FileFormat = format match {
    case "parquet" => new ParquetFileFormat
    case "csv"     => new CSVFileFormat
    case "json"    => new JsonFileFormat
    case other => throw new IllegalArgumentException(
      s"graftmanifest: unsupported format '$other' (parquet|csv|json)")
  }

  /** The manifested table at `root` as ONE native file-source scan.
    * Semantics match [[ManifestTable.read]] (same rows, same schema,
    * same loud failure on cross-generation schema drift); the plan is a
    * single `FileScan` instead of one leg per generation group. `parts`
    * prunes at resolve time exactly like the legacy read; catalyst
    * partition filters additionally prune through [[FileIndex.listFiles]].
    */
  def relation(spark: SparkSession, root: String, partCol: String,
      parts: Option[Set[String]] = None, format: String = "parquet",
      options: Map[String, String] = Map.empty,
      asOfSeq: Option[Long] = None, mergeSchema: Boolean = false,
      mergeSchemaAllowMissing: Boolean = false,
      partType: Option[DataType] = None): DataFrame = {
    val index = new ManifestFileIndex(spark, new Path(root), partCol, parts, asOfSeq,
      partType)
    val effOptions = FormatDefaults.read(format) ++ options
    // COLUMN MAPPING (round 17): a mapped table's data schema comes
    // straight from the manifest — logical names + field ids + types,
    // zero footer probes, no drift guards (identity is by id: a file
    // written before a rename matches by id, one written before an add
    // null-fills). mergeSchema flags are moot — the mapping IS the
    // authoritative union.
    if (format == "parquet" && index.manifest.cols.nonEmpty) {
      ManifestColumns.ensureReadConf(spark)
      val rel0 = HadoopFsRelation(
        location = index,
        partitionSchema = index.partitionSchema,
        dataSchema = ManifestColumns.schemaOf(index.manifest.cols),
        bucketSpec = None,
        fileFormat = fileFormatFor(format),
        options = effOptions)(spark)
      return Bridge.ofRows(spark, LogicalRelation(rel0, isStreaming = false))
    }
    val samples = index.sampleFilePerGroup
    def inferOn(path: Path): StructType =
      spark.read.options(effOptions).format(format).load(path.toString).schema
    val dataSchema: StructType = if (mergeSchema) {
      // Opt-in additive evolution (round 15): the single most common
      // table change is Append with a new nullable column, and the
      // default guard forced a full rewrite for it. With
      // mergeSchema=true the data schema is the UNION of every
      // generation group's fields (one footer probe per group — O(live
      // generations, gc-bounded), paid only by callers who opted in);
      // files missing a column read it as null via the by-name
      // reconciliation parquet and json already do. csv is refused:
      // it is POSITIONAL, so a file missing a middle column would
      // silently shift every later value into the wrong column.
      require(format != "csv",
        s"manifest read at $root: mergeSchema is not supported for csv — " +
          "csv files are positional; a missing column would misalign rows")
      mergeSchemas(root, samples.map { case (g, p) => g -> inferOn(p) },
        mergeSchemaAllowMissing)
    } else {
      // Data schema from the FIRST generation group's footers, with the
      // same drift guard the legacy read applies: ONE tail group is
      // spot-checked (two footer probes total, never O(groups)) and a
      // drifted column-name set fails loudly instead of silently
      // narrowing — cross-generation evolution needs mergeSchema=true
      // (additive) or a rewrite.
      val first = inferOn(samples.head._2)
      if (samples.size > 1) {
        val probe = inferOn(samples.last._2)
        val drift = (probe.fieldNames.toSet diff first.fieldNames.toSet) ++
          (first.fieldNames.toSet diff probe.fieldNames.toSet)
        require(drift.isEmpty,
          s"manifest read at $root: generation '${samples.last._1}' schema drifted from " +
            s"'${samples.head._1}' on columns ${drift.toSeq.sorted.mkString(", ")} — " +
            "pass mergeSchema=true for additive column evolution, or rewrite " +
            "(Overwrite) for anything else")
      }
      first
    }
    val rel = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = fileFormatFor(format),
      options = effOptions)(spark)
    Bridge.ofRows(spark, LogicalRelation(rel, isStreaming = false))
  }
}
