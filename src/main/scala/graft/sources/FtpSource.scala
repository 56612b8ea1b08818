package graft.sources

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** FTP transfer tier — the reference's `FtpController`
  * (`d22d/model/ftpmodel.py:306`) re-expressed as a dependency-free
  * RFC 959 client plus a Spark bridge: remote files stage to a local
  * directory and the existing parsers (`spark.read.csv/json`, the
  * graft XLS/SQL-dump sources) take over; a sink uploads written
  * parts back. The distinctive reference behavior — resumable
  * transfer with PREFIX-CONSISTENCY verification
  * (`ftpmodel.py:686-720`: before resuming it re-reads the start of
  * the remote file and refuses if it differs from the local bytes) —
  * is implemented for both directions: a partial local/remote file
  * resumes from its length via `REST` only after the overlapping
  * prefix is verified byte-identical; a mismatch restarts from zero
  * instead of splicing two different files together.
  *
  * Scale note: FTP transfer is driver/edge I/O, not a distributed
  * scan — the same shape as the reference (one control + one data
  * connection per file). The Spark-side contract is that staging is
  * a ONE-TIME ingest step: files land once, parse once, and all
  * analytics run on the parquet/bucketed layouts the storage tier
  * maintains. For wide ingest, run one `FtpClient` per executor over
  * a file-list RDD — the client is self-contained and serializable
  * work can partition by file; the protocol layer below is
  * deliberately free of any shared state.
  */
object FtpSource {

  final case class FtpConfig(
      host: String,
      port: Int,
      user: String,
      password: String,
      connectTimeoutMs: Int = 10000,
      readTimeoutMs: Int = 30000)

  /** One remote directory entry (MLSD fact line) — the shared staging
    * entry type since the SFTP tier arrived.
    */
  type FtpEntry = RemoteEntry
  val FtpEntry: RemoteEntry.type = RemoteEntry

  /** How many overlapping bytes the resume path re-reads and compares
    * before trusting a partial transfer (the reference checks 800 KB,
    * `ftpmodel.py:704`; 64 KB keeps the spec fixture honest while
    * still catching any real divergence in the first block).
    */
  val ResumeCheckBytes: Int = 64 * 1024

  /** Minimal RFC 959 control/data client: USER/PASS login, binary
    * TYPE I, passive-mode data connections, MLSD listings, REST
    * resume. Blocking sockets, no locks — one client = one control
    * connection, exactly the reference's concurrency unit (its
    * `with_ftp_lock` serializes per controller, `ftpmodel.py:263`).
    */
  final class FtpClient(cfg: FtpConfig) extends RemoteFileClient {
    private val ctrl = new Socket()
    ctrl.connect(new InetSocketAddress(cfg.host, cfg.port), cfg.connectTimeoutMs)
    ctrl.setSoTimeout(cfg.readTimeoutMs)
    private val in =
      new BufferedReader(new InputStreamReader(ctrl.getInputStream, US_ASCII))
    private val out =
      new BufferedWriter(new OutputStreamWriter(ctrl.getOutputStream, US_ASCII))

    /** Read one (possibly multiline `nnn-…` / `nnn …`) reply. */
    private def reply(): (Int, String) = {
      val first = Option(in.readLine()).getOrElse(sys.error("FTP control closed"))
      require(first.length >= 4, s"short FTP reply: '$first'")
      val code = first.substring(0, 3).toInt
      val sb = new StringBuilder(first)
      if (first.charAt(3) == '-') {
        val end = f"$code%03d "
        var line = ""
        while ({ line = in.readLine(); line != null && !line.startsWith(end) })
          sb.append('\n').append(line)
        if (line != null) sb.append('\n').append(line)
      }
      (code, sb.toString)
    }

    private def cmd(s: String): (Int, String) = {
      out.write(s); out.write("\r\n"); out.flush(); reply()
    }

    private def expect(s: String, ok: Int*): String = {
      val (code, text) = cmd(s)
      require(ok.contains(code), s"FTP '$s' failed: $text")
      text
    }

    // login + binary mode at construction
    locally {
      val (greet, gText) = reply()
      require(greet == 220, s"unexpected FTP greeting: $gText")
      val (uCode, uText) = cmd(s"USER ${cfg.user}")
      uCode match {
        case 331 => expect(s"PASS ${cfg.password}", 230)
        case 230 => // password-less account
        case _ => sys.error(s"FTP login rejected: $uText")
      }
      expect("TYPE I", 200)
    }

    /** Open a passive-mode data connection (PASV; 227 host,port). */
    private def dataSocket(): Socket = {
      val text = expect("PASV", 227)
      val nums = "\\d+".r.findAllIn(text.substring(text.indexOf('('))).toSeq.map(_.toInt)
      require(nums.length >= 6, s"unparseable PASV reply: $text")
      val host = nums.slice(0, 4).mkString(".")
      val port = nums(4) * 256 + nums(5)
      val s = new Socket()
      s.connect(new InetSocketAddress(host, port), cfg.connectTimeoutMs)
      s.setSoTimeout(cfg.readTimeoutMs)
      s
    }

    def pwd(): String = {
      val t = expect("PWD", 257)
      val i = t.indexOf('"'); val j = t.indexOf('"', i + 1)
      t.substring(i + 1, j)
    }

    def cwd(path: String): Unit = expect(s"CWD $path", 250)
    def mkdir(path: String): Unit = expect(s"MKD $path", 257)
    def rmdir(path: String): Unit = expect(s"RMD $path", 250)
    def delete(path: String): Unit = expect(s"DELE $path", 250)

    def rename(from: String, to: String): Unit = {
      expect(s"RNFR $from", 350)
      expect(s"RNTO $to", 250)
    }

    override def size(path: String): Option[Long] = cmd(s"SIZE $path") match {
      case (213, t) => Some(t.drop(4).trim.toLong)
      case _ => None
    }

    /** MLSD machine-readable listing of `path` (the modern, parseable
      * replacement for the reference's locale-fragile LIST callback
      * parsing, `ftpmodel.py:469-497`). `ignoreHidden` mirrors its
      * `toggle_hidden_files`.
      */
    override def list(path: String, ignoreHidden: Boolean): Seq[FtpEntry] = {
      val ds = dataSocket()
      val (c150, t150) = cmd(s"MLSD $path")
      require(c150 == 150, s"MLSD rejected: $t150")
      val lines =
        try {
          val r = new BufferedReader(new InputStreamReader(ds.getInputStream, US_ASCII))
          Iterator.continually(r.readLine()).takeWhile(_ != null).toVector
        } finally ds.close()
      val (cEnd, tEnd) = reply()
      require(cEnd == 226, s"MLSD transfer did not complete: $tEnd")
      // Malformed lines fail LOUDLY (round-11 fuzz hardening): the old
      // parse silently DROPPED a line with no fact separator (silent
      // file loss from a listing is exactly the corruption class the
      // resume checks exist to prevent) and crashed with raw
      // StringIndexOutOfBounds / NumberFormatException on a fact
      // without '=' or a non-numeric size — now each is a diagnosable
      // IllegalArgumentException carrying the offending line.
      val entries = lines.flatMap { line =>
        if (line.isEmpty) None // blank lines carry no entry to lose
        else {
          val sep = line.indexOf(' ')
          require(sep >= 0, s"unparseable MLSD line (no name separator): '$line'")
          val facts = line.substring(0, sep).split(';').filter(_.nonEmpty)
            .map { f =>
              val i = f.indexOf('=')
              require(i > 0, s"unparseable MLSD fact '$f' in line: '$line'")
              f.substring(0, i).toLowerCase -> f.substring(i + 1)
            }
            .toMap
          val name = line.substring(sep + 1)
          require(name.nonEmpty, s"unparseable MLSD line (empty name): '$line'")
          val size = facts.get("size").fold(0L) { s =>
            s.toLongOption.filter(_ >= 0L).getOrElse(throw new IllegalArgumentException(
              s"unparseable MLSD size '$s' in line: '$line'"))
          }
          Some(FtpEntry(name, size,
            facts.get("type").exists(t => t == "dir" || t == "cdir" || t == "pdir")))
        }
      }.filterNot(e => e.name == "." || e.name == "..")
      if (ignoreHidden) entries.filterNot(_.name.startsWith(".")) else entries
    }

    /** First `n` bytes of `remote` — the prefix the resume check
      * compares. Reads a REST-0 RETR and closes the data socket as
      * soon as it has enough (the reference's StopIteration trick,
      * `ftpmodel.py:710-716`); the 226/426 the server answers with
      * either way is drained so the control stream stays in sync.
      */
    private def remotePrefix(remote: String, n: Int): Array[Byte] = {
      val ds = dataSocket()
      val (c, t) = cmd(s"RETR $remote")
      require(c == 150, s"RETR rejected: $t")
      val buf = new Array[Byte](n)
      var got = 0
      try {
        val is = ds.getInputStream
        var r = 0
        while (got < n && { r = is.read(buf, got, n - got); r >= 0 }) got += r
      } finally ds.close()
      reply() // 226 if the file fit, 426 if the server saw the abort — both fine
      java.util.Arrays.copyOf(buf, got)
    }

    /** True iff `local`'s first min(`n`, [[ResumeCheckBytes]]) bytes
      * equal `remote`'s — the overlap check both resume directions and
      * the staged-file skip run before trusting existing bytes.
      */
    override def prefixMatches(remote: String, local: Path, n: Long): Boolean = {
      val check = math.min(n, ResumeCheckBytes.toLong).toInt
      if (check <= 0) true
      else {
        val remoteStart = remotePrefix(remote, check)
        val localStart = {
          val is = Files.newInputStream(local)
          try is.readNBytes(check) finally is.close()
        }
        remoteStart.length == check &&
          java.util.Arrays.equals(remoteStart, localStart)
      }
    }

    /** Download `remote` to `local`. With `resume = true` and a
      * partial local file present, verifies the overlapping prefix
      * ([[ResumeCheckBytes]]) is byte-identical, then RESTarts from
      * the local length; a mismatched prefix restarts from zero
      * (the reference refuses outright, `ftpmodel.py:706-708` — a
      * restart is the strictly-safer recovery). Returns bytes
      * transferred in this call.
      *
      * Command sequence is PASV → data connect → REST → RETR — RFC
      * 959/3659 require the restart marker to be the LAST command
      * before the transfer command (the ftplib/curl order); a strict
      * server resets REST on any intervening command, which with the
      * old REST-first order would silently stream from byte 0 into a
      * file positioned at `offset`. Belt-and-braces, the transferred
      * byte count is also checked against `SIZE - offset`, so even a
      * server that ignores REST outright cannot splice a corrupt file.
      */
    override def retrieve(remote: String, local: Path, resume: Boolean): Long = {
      val remoteLen = size(remote) // before PASV: nothing may intervene REST→RETR
      val offset =
        if (resume && Files.exists(local) && Files.size(local) > 0L) {
          val localLen = Files.size(local)
          // clamp to the remote size (store() has the symmetric guard):
          // a remote file REPLACED by a shorter one whose prefix still
          // matches the local bytes must restart from zero — a REST
          // past EOF would otherwise make every re-run fail its
          // byte-count check until someone deleted the local file
          if (remoteLen.exists(_ < localLen)) 0L
          else if (prefixMatches(remote, local, localLen)) localLen
          else 0L
        } else 0L
      val ds = dataSocket()
      if (offset > 0L) expect(s"REST $offset", 350)
      val (c, t) = cmd(s"RETR $remote")
      require(c == 150, s"RETR rejected: $t")
      Option(local.getParent).foreach(Files.createDirectories(_))
      val os = Files.newByteChannel(local,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      var moved = 0L
      try {
        os.position(offset)
        if (offset == 0L) os.truncate(0L)
        val is = ds.getInputStream
        val buf = new Array[Byte](64 * 1024)
        var r = 0
        while ({ r = is.read(buf); r >= 0 }) {
          os.write(java.nio.ByteBuffer.wrap(buf, 0, r)); moved += r
        }
      } finally { os.close(); ds.close() }
      val (cEnd, tEnd) = reply()
      require(cEnd == 226, s"RETR did not complete: $tEnd")
      remoteLen.foreach { rl =>
        require(moved == rl - offset,
          s"RETR $remote moved $moved bytes, expected ${rl - offset} " +
            s"(REST $offset of $rl — did the server honor REST?)")
        require(Files.size(local) == rl,
          s"staged $local is ${Files.size(local)} bytes, remote is $rl")
      }
      moved
    }

    /** Upload `local` to `remote`, resuming past a verified-identical
      * remote prefix (SIZE + prefix compare, then REST) — the upload
      * half of the reference's resume discipline
      * (`ftpmodel.py:686-720`). Returns bytes transferred.
      *
      * Same strict sequence as [[retrieve]]: PASV → data connect →
      * REST → STOR, and the final remote SIZE is verified against the
      * local length — a server that reset or ignored REST (accepting
      * from byte 0 while the client skipped the local prefix) leaves a
      * short file, which this check turns into a loud failure instead
      * of a silent splice.
      */
    override def store(local: Path, remote: String, resume: Boolean): Long = {
      val localLen = Files.size(local)
      val offset =
        if (resume) size(remote) match {
          case Some(remoteLen) if remoteLen > 0 && remoteLen <= localLen =>
            if (prefixMatches(remote, local, remoteLen)) remoteLen else 0L
          case _ => 0L
        } else 0L
      val ds = dataSocket()
      if (offset > 0L) expect(s"REST $offset", 350)
      val (c, t) = cmd(s"STOR $remote")
      require(c == 150, s"STOR rejected: $t")
      var moved = 0L
      try {
        val is = Files.newInputStream(local)
        try {
          is.skipNBytes(offset)
          val os = ds.getOutputStream
          val buf = new Array[Byte](64 * 1024)
          var r = 0
          while ({ r = is.read(buf); r >= 0 }) { os.write(buf, 0, r); moved += r }
          os.flush()
        } finally is.close()
      } finally ds.close()
      val (cEnd, tEnd) = reply()
      require(cEnd == 226, s"STOR did not complete: $tEnd")
      size(remote).foreach { rl =>
        require(rl == localLen,
          s"STOR $remote left $rl bytes, expected $localLen " +
            s"(REST $offset — did the server honor REST?)")
      }
      moved
    }

    /** Directory probe via CWD (restoring cwd), not SIZE: RFC 3659
      * defines SIZE for files only — most servers answer 550 for a
      * directory whether or not it exists, which made MKD
      * unconditional with every error blanket-swallowed. Only a lost
      * already-exists race is swallowed; real MKD failures
      * (permissions, missing parent) surface here, not as an opaque
      * later STOR error.
      */
    override def ensureDir(path: String): Unit = {
      val home = pwd()
      val dirExists =
        try { cwd(path); cwd(home); true }
        catch { case NonFatal(_) => false } // CWD refused: not a directory (yet)
      if (!dirExists)
        try mkdir(path)
        catch {
          case NonFatal(e)
              if e.getMessage != null &&
                e.getMessage.toLowerCase.contains("exist") => ()
        }
    }

    override def close(): Unit = {
      // best-effort goodbye: the socket closes either way
      try cmd("QUIT") catch { case NonFatal(_) => }
      ctrl.close()
    }
  }

  /** The staging/scan/sink surface below delegates to the shared
    * [[RemoteStaging]] layer (extracted verbatim from this tier when
    * SFTP arrived — see RemoteFiles.scala for the skip/resume/verify
    * re-entry contract and the per-executor fan-out story).
    */
  def stageFiles(cfg: FtpConfig, remoteDir: String, pattern: String,
      stagingDir: String): Seq[String] =
    RemoteStaging.stageFiles(() => new FtpClient(cfg), remoteDir, pattern, stagingDir)

  def stageAll(spark: SparkSession, cfg: FtpConfig, remoteFiles: Seq[String],
      stagingDir: String, slices: Int = 0,
      publishTo: Option[String] = None): Seq[(String, String, Long)] =
    RemoteStaging.stageAll(spark, () => new FtpClient(cfg), remoteFiles,
      stagingDir, slices, publishTo)

  def scanCsv(spark: SparkSession, cfg: FtpConfig, remoteDir: String,
      stagingDir: String, pattern: String = ".*\\.csv",
      options: Map[String, String] = Map("header" -> "true", "inferSchema" -> "true"),
      publishTo: Option[String] = None): DataFrame =
    RemoteStaging.scanCsv(spark, () => new FtpClient(cfg), remoteDir, stagingDir,
      pattern, options, publishTo)

  def scanNdjson(spark: SparkSession, cfg: FtpConfig, remoteDir: String,
      stagingDir: String, pattern: String = ".*\\.(json|ndjson)",
      publishTo: Option[String] = None): DataFrame =
    RemoteStaging.scanNdjson(spark, () => new FtpClient(cfg), remoteDir, stagingDir,
      pattern, publishTo)

  def sinkCsv(df: DataFrame, cfg: FtpConfig, remoteDir: String,
      stagingDir: String): Seq[String] =
    RemoteStaging.sinkCsv(df, () => new FtpClient(cfg), remoteDir, stagingDir)
}
