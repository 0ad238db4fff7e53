package graft.sources.arrivals

import java.util
import java.nio.charset.Charset
import java.time.format.DateTimeFormatter
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `arrivals` — a Structured Streaming source that watches a directory and
  * emits one row of file METADATA per newly-arrived file, then marks the
  * file consumed by renaming it with a completed suffix. A Spark-native
  * rebuild of the reference's Flume directory source (CephFsSource.java /
  * CephFSEventReader.java), with its semantics preserved and its defects
  * fixed:
  *
  *   - schema `{file_name, file_path, last_modified, body}` — the typed
  *     form of the reference's 3-field CSV event
  *     (CephFSEventReader.java:89-94); `body` carries the exact CSV bytes
  *     (scheme-less absolute path and non-padded `yyyy-MM-dd H:m:s`
  *     timestamp, CephFSEventReader.java:230-235) encoded in the
  *     configured charset (:94). `file_path` is the FULLY-QUALIFIED URI
  *     (file:/…, s3a://…), directly loadable with `spark.read` on any
  *     filesystem the session reaches.
  *   - candidate filter (CephFSEventReader.java:111-121): skips dirs,
  *     completed-suffix files, dot-hidden files — and ENFORCES
  *     `ignorePattern`, which the reference documents (README.md:26) but
  *     never applies (dead config in its accept()).
  *   - consumeOrder OLDEST|YOUNGEST|RANDOM (CephFsSourceConfigrationConstants
  *     .java:26-30) with the lexicographic tiebreak (CephFSEventReader.java:
  *     161-166), applied to the whole pending set per micro-batch: list
  *     once, sort once, take N — O(n log n) per batch vs the reference's
  *     O(n²) drain (re-list per file, README.md:31 warns about it).
  *   - commit-by-rename happens AFTER the micro-batch is durably
  *     committed — the reference renames BEFORE delivery
  *     (CephFSEventReader.java:96 before CephFsSource.java:148) and loses
  *     the event if the channel put fails. Rename is idempotent on replay
  *     (dest-exists with source gone = already committed, SURVEY.md §7.4-1);
  *     a genuine collision (source AND dest exist) still throws, matching
  *     CephFSEventReader.java:189-192.
  *   - startup canary (CephFSEventReader.java:52-66): create/write/read/
  *     delete a probe file, failing fast if the directory isn't read-write.
  *   - operational metrics (ref R8, the SourceCounter accept/append
  *     counters in CephFsSource.java:39,144-145,162-163): pendingFiles,
  *     filesOffered, filesRenamed, renameFailures, lastBatchFiles/Seq via
  *     DSv2 `ReportsSourceMetrics`, visible in every
  *     `StreamingQueryProgress.sources[i].metrics` alongside the
  *     engine's own numInputRows.
  *
  * Scale: the driver only LISTS the directory and ships plain metadata;
  * executors never touch the filesystem — partitions carry their rows.
  * Listing is CURSORED, not per-trigger: one full listing builds an
  * ordered in-memory backlog that subsequent triggers drain with zero
  * listing calls (a million-file backlog costs ONE directory scan per
  * drain cycle, not one per trigger). Files that arrive mid-drain —
  * clock-skewed or late-copied gap files included — are admitted by the
  * next full listing, when the backlog drains; a (mtime, name) watermark
  * persisted in every offset records the cursor position. The
  * `listingCalls` source metric exposes the complexity class. Commit
  * renames run sequentially on the driver, as the reference's do
  * (CephFSEventReader.java:196-207). The filesystem is resolved
  * through the active SparkSession's Hadoop configuration, so `path` may
  * be any scheme the session is configured for (file://, hdfs://, s3a://;
  * a CephFS mount is just file:// as in the reference, README.md:3),
  * minus Hadoop's client-side checksum layer (`ArrivalsUtil.fileSystem`):
  * on file:// the source lists and renames through `RawLocalFileSystem`.
  * Backpressure is `maxFilesPerTrigger` admission control — Structured
  * Streaming pulls per trigger, so the reference's channel-full
  * exponential backoff (CephFsSource.java:149-160) has no analog.
  *
  * NOTE: the rename-on-commit makes a stream CONSUME files; run at most
  * one streaming query per watched directory (use the read-only batch
  * mode, or chain downstream queries off the first query's sink, for
  * additional consumers).
  */
class ArrivalsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrivals"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    ArrivalsOptions.from(options.asScala.toMap) // eager validation + inert-key warn
    ArrivalsTable.schema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ArrivalsTable(ArrivalsOptions.from(properties.asScala.toMap))
}

/** Parsed, validated options — mirrors CephFsSourceConfigrationConstants
  * .java:7-30 (path ⇔ cephFS dir, fileSuffix, ignorePattern, inputCharset,
  * consumeOrder, plus maxFilesPerTrigger for batch admission). */
final case class ArrivalsOptions(
    path: String,
    fileSuffix: String,
    ignorePattern: String,
    inputCharset: String,
    consumeOrder: String,
    maxFilesPerTrigger: Int,
    timeZone: String) {
  require(path.nonEmpty, "option 'path' is required")
  // an empty suffix makes every name a completed one (isCandidate admits
  // nothing) and every rename target equal to its source
  require(fileSuffix.nonEmpty, "fileSuffix must be non-empty")
  require(maxFilesPerTrigger > 0, "maxFilesPerTrigger must be > 0")
  require(Set("OLDEST", "YOUNGEST", "RANDOM").contains(consumeOrder),
    s"consumeOrder must be OLDEST|YOUNGEST|RANDOM, got '$consumeOrder'")
  Charset.forName(inputCharset) // fail fast on bad charset
  if (ignorePattern.nonEmpty) ignorePattern.r // fail fast on bad regex
  java.time.ZoneId.of(timeZone) // fail fast on bad zone id
}

object ArrivalsOptions {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  def from(m: Map[String, String]): ArrivalsOptions = {
    val norm = m.map { case (k, v) => k.toLowerCase(java.util.Locale.ENGLISH) -> v }
    val opts = ArrivalsOptions(
      path = norm.getOrElse("path", ""),
      fileSuffix = norm.getOrElse("filesuffix", ".COMPLETED"),
      ignorePattern = norm.getOrElse("ignorepattern", ""),
      inputCharset = norm.getOrElse("inputcharset", "UTF-8"),
      consumeOrder = norm.getOrElse("consumeorder", "OLDEST").toUpperCase(java.util.Locale.ENGLISH),
      maxFilesPerTrigger = norm.getOrElse("maxfilespertrigger", "1000").toInt,
      // zone for the body CSV's rendered timestamp. The reference renders
      // with a default-zone Calendar (CephFSEventReader.java:230-235);
      // set this to the ingest host's zone for byte-fidelity with it.
      // Default stays UTC — the typed last_modified column is zoneless
      // either way (epoch micros).
      timeZone = norm.getOrElse("timezone", "UTC"))
    // inert keys (see warnInertOptions) must still be
    // VALIDATED AND WARNED on every construction path — a user-supplied
    // schema bypasses inferSchema entirely, so neither can live there
    warnInertOptions(m).foreach(log.warn)
    opts
  }

  /** The reference's channel-backoff knobs (`maxBackoffSleep`,
    * `backoffSleepIncrement`, `CephFsSourceConfigrationConstants.java:
    * 19-23`) have NO effect under Structured Streaming's pull model —
    * the engine asks for data per trigger instead of the source pushing
    * into a channel that can fill. A migrated reference config may still
    * carry them: accept and VALIDATE them (so a typo'd config still
    * fails fast) but warn that they are inert rather than silently
    * absorbing or hard-rejecting the keys.
    *
    * Two of the source's own former options are warned the same way: a
    * config written for the executor rename fan-out or the mid-drain
    * refresh listing still starts, but is told that the key does nothing. */
  private val backoffKeys = Seq("maxbackoffsleep", "backoffsleepincrement")
  private val removedKeys = Seq(
    "executorrenamethreshold" -> "commit renames always run sequentially on the driver",
    "listingrefreshtriggers" ->
      "files arriving mid-drain are admitted by the full listing taken when the backlog drains")
  def warnInertOptions(m: Map[String, String]): Seq[String] = {
    val norm = m.map { case (k, v) => k.toLowerCase(java.util.Locale.ENGLISH) -> v }
    backoffKeys.flatMap { k =>
      norm.get(k).map { v =>
        require(v.toLong >= 0, s"option '$k' must be a non-negative duration (ms), got '$v'")
        s"arrivals option '$k'=$v is accepted for reference-config compatibility " +
          "but has no effect: the pull model has no channel to back off from " +
          "(use maxFilesPerTrigger + trigger cadence for admission control)"
      }
    } ++ removedKeys.flatMap { case (k, why) =>
      norm.get(k).map(v => s"arrivals option '$k'=$v has no effect: $why")
    }
  }
}

object ArrivalsTable {
  val schema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("last_modified", TimestampType, nullable = false),
    StructField("body", BinaryType, nullable = false)))
}

/** Driver-side helpers shared by the streaming and batch paths — one
  * definition of the candidate predicate, pending-set listing, partition
  * slicing, and filesystem resolution (through the active session's
  * Hadoop conf, so spark.hadoop.* settings apply). */
object ArrivalsUtil {
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** The filesystem the source lists and renames through: `path`'s own,
    * minus Hadoop's client-side checksum layer (`RawLocalFileSystem` for
    * file:, any other filesystem unchanged). The source never reads file
    * bytes, so that layer guards nothing here, while its `rename`
    * re-stats both paths and probes for `.name.crc` sidecars: about 3×
    * the raw cost per file (`RenameBench`). A sidecar left by a
    * Hadoop-client writer now stays behind when its file is renamed; it
    * is dot-hidden, so never a candidate, and the reference's
    * `java.io.File` rename (CephFSEventReader.java:196-207) leaves it the
    * same way. */
  def fileSystem(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** Candidate predicate (ref R2, CephFSEventReader.java:111-121) with
    * ignorePattern enforced as documented (fixing the dead config). */
  def isCandidate(opts: ArrivalsOptions, ignoreRe: Option[scala.util.matching.Regex])(
      st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.endsWith(opts.fileSuffix) && !n.startsWith(".") &&
      ignoreRe.forall(_.findFirstIn(n).isEmpty)
  }

  /** All current candidates, unordered and uncapped. Stores the
    * FULLY-QUALIFIED URI (scheme + authority + path): the emitted
    * file_path must stay readable by spark.read on non-default
    * filesystems (s3a://, hdfs://) — a scheme-less path silently rebinds
    * to the default FS downstream. */
  def listCandidates(fs: FileSystem, dirPath: Path, opts: ArrivalsOptions,
      ignoreRe: Option[scala.util.matching.Regex]): Seq[FileMeta] =
    fs.listStatus(dirPath).toSeq.filter(isCandidate(opts, ignoreRe))
      .map(st => FileMeta(st.getPath.toString, st.getModificationTime))

  /** List once, order the whole pending set (ref R3 semantics batched:
    * SURVEY.md §7.4-3), admit up to maxFilesPerTrigger. */
  def listPending(fs: FileSystem, dirPath: Path, opts: ArrivalsOptions,
      ignoreRe: Option[scala.util.matching.Regex]): Seq[FileMeta] =
    ConsumeOrder.order(listCandidates(fs, dirPath, opts, ignoreRe), opts.consumeOrder)
      .take(opts.maxFilesPerTrigger)

  /** Split a batch into `min(files, defaultParallelism)` contiguous runs
    * in admission order (one partition with no active session) — the
    * session's own width, the rule `Par.spread` follows. Metadata rows are
    * tiny, so each scan task costs its scheduling, not its rows: a fixed
    * 32 slices on a 4-core session spent 100-120 ms of a ~410 ms trigger
    * on the scan stage and made the downstream shuffle fetch 32 map
    * outputs. */
  def slice(files: Seq[FileMeta], opts: ArrivalsOptions): Array[InputPartition] = {
    val all = files.toIndexedSeq
    val n = all.size
    val width = SparkSession.getActiveSession.map(_.sparkContext.defaultParallelism).getOrElse(1)
    val k = math.min(n, width)
    Array.tabulate[InputPartition](k) { i =>
      ArrivalsPartition(all.slice(i * n / k, (i + 1) * n / k), opts.inputCharset, opts.timeZone)
    }
  }

  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new ArrivalsPartitionReader(partition.asInstanceOf[ArrivalsPartition])
  }

  /** One commit-rename attempt (ref R5 semantics: collision-loud,
    * idempotent on replay). Returns Right(true) if a rename happened,
    * Right(false) if already committed / vanished, Left(message) on
    * collision or failed rename. */
  def renameOne(fs: FileSystem, path: String, suffix: String): Either[String, Boolean] = {
    val src = new Path(path)
    val dst = new Path(path + suffix)
    val srcExists = fs.exists(src)
    val dstExists = fs.exists(dst)
    if (srcExists && dstExists) {
      // matches the reference's refusal to overwrite (CephFSEventReader
      // .java:189-192): a different file reused a consumed name
      Left(s"Name re-used: both $path and $dst exist; refusing to overwrite")
    } else if (srcExists) {
      if (fs.rename(src, dst)) Right(true)
      else Left(s"Failed to rename $path to $dst")
    } else Right(false)
    // !srcExists && dstExists: already committed (post-crash replay) — ok
    // neither exists: file vanished externally; nothing to mark
  }
}

class ArrivalsTable(opts: ArrivalsOptions) extends Table with SupportsRead {
  override def name(): String = s"arrivals(${opts.path})"
  override def schema(): StructType = ArrivalsTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ArrivalsTable.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ArrivalsMicroBatchStream(opts)
        // Batch mode: a read-only snapshot of the current pending set
        // (same candidate filter + consumeOrder + cap); nothing is
        // renamed — consumption semantics belong to the stream.
        override def toBatch(): Batch = new ArrivalsBatch(opts)
      }
    }
}

class ArrivalsBatch(opts: ArrivalsOptions) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val dirPath = new Path(opts.path)
    val fs = ArrivalsUtil.fileSystem(dirPath, ArrivalsUtil.hadoopConf())
    val ignoreRe = if (opts.ignorePattern.nonEmpty) Some(opts.ignorePattern.r) else None
    ArrivalsUtil.slice(
      ArrivalsUtil.listPending(fs, dirPath, opts, ignoreRe), opts)
  }
  override def createReaderFactory(): PartitionReaderFactory = ArrivalsUtil.readerFactory
}

/** One pending file's metadata — the unit of both offsets and rows. */
final case class FileMeta(path: String, mtimeMs: Long) extends Serializable {
  def name: String = path.substring(path.lastIndexOf('/') + 1)
}

/** consumeOrder semantics as a pure function (ref R3,
  * CephFSEventReader.java:127-157): OLDEST = mtime asc, YOUNGEST = mtime
  * desc, tie in both → lexicographically smallest name (:139-140,:150-151,
  * :161-166); RANDOM = input (listing) order. Property-tested equal to the
  * reference's repeated single-pick on a quiescent directory. */
object ConsumeOrder {
  def order(files: Seq[FileMeta], mode: String): Seq[FileMeta] = mode match {
    case "OLDEST" => files.sortBy(f => (f.mtimeMs, f.name))
    case "YOUNGEST" => files.sortBy(f => (-f.mtimeMs, f.name))
    case "RANDOM" => files
  }
}

/** Offset = (monotonic batch seq, the exact file set of that batch, and
  * the listing cursor's high-watermark — the largest (mtime, name) the
  * source has admitted to its backlog, persisted so the cursor position
  * survives restarts and is inspectable in the offset log; the header
  * record is `seq` alone — also the pre-cursor legacy layout, still
  * parsed — or `seq\tw mtime\tw name`).
  * Self-contained: replay after restart re-emits rows from the offset log
  * alone, never from a re-listing (the files may already be renamed).
  *
  * Encoding MUST be a single line with NO \n or \r — Spark's offset log
  * is read line-by-line (BufferedReader.readLine treats both as
  * terminators); a raw line break here is parsed as a second source and
  * fails the restart with "N sources in the checkpoint offsets". Records
  * are -separated, fields \t-separated, with \\ \n \r \t  escaped in
  * paths (file paths are arbitrary byte-ish strings). */
final case class ArrivalsOffset(seq: Long, files: Seq[FileMeta],
    watermark: Option[(Long, String)] = None) extends Offset {
  override def json(): String = {
    val header = seq.toString + watermark.map { case (m, n) =>
      s"\t$m\t${ArrivalsOffset.esc(n)}"
    }.getOrElse("")
    (header +: files.map(f => s"${f.mtimeMs}\t${ArrivalsOffset.esc(f.path)}"))
      .mkString("\u0001")
  }
}

object ArrivalsOffset {
  private def escaped(c: Char): Boolean =
    c == '\\' || c == '\n' || c == '\r' || c == '\t' || c == '\u0001'
  // ordinary paths contain none of the escaped characters: return them as is
  def esc(s: String): String =
    if (!s.exists(escaped)) s
    else s.flatMap {
      case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case '\u0001' => "\\1"; case c => c.toString
    }
  def unesc(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); case 'r' => b.append('\r')
          case 't' => b.append('\t'); case '1' => b.append('\u0001')
          case '\\' => b.append('\\')
          case other => b.append(other)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }
  def fromJson(json: String): ArrivalsOffset = {
    val recs = json.split("\u0001", -1)
    // header: `seq` (legacy, pre-watermark layout) or `seq\tmtime\tname`
    val head = recs.head.split('\t')
    val wm = if (head.length >= 3) Some((head(1).toLong, unesc(head(2)))) else None
    val files = recs.drop(1).filter(_.nonEmpty).map { l =>
      val tab = l.indexOf('\t')
      FileMeta(unesc(l.substring(tab + 1)), l.substring(0, tab).toLong)
    }
    ArrivalsOffset(head(0).toLong, files.toSeq, wm)
  }
}

class ArrivalsMicroBatchStream(opts: ArrivalsOptions) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {
  private val dirPath = new Path(opts.path)
  private val fs: FileSystem = ArrivalsUtil.fileSystem(dirPath, ArrivalsUtil.hadoopConf())
  private val ignoreRe = if (opts.ignorePattern.nonEmpty) Some(opts.ignorePattern.r) else None

  // Operational counters (ref R8 — the SourceCounter accept/append
  // analogs, CephFsSource.java:39,144-145,162-163), surfaced per
  // progress event through DSv2 ReportsSourceMetrics into
  // StreamingQueryProgress.sources[i].metrics. All driver-side.
  private val filesOffered = new java.util.concurrent.atomic.AtomicLong()
  private val filesRenamed = new java.util.concurrent.atomic.AtomicLong()
  private val renameFailures = new java.util.concurrent.atomic.AtomicLong()
  private val pendingGauge = new java.util.concurrent.atomic.AtomicLong()
  private val listingCalls = new java.util.concurrent.atomic.AtomicLong()

  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] =
    Map(
      "pendingFiles" -> pendingGauge.get.toString,
      "filesOffered" -> filesOffered.get.toString,
      "filesRenamed" -> filesRenamed.get.toString,
      "renameFailures" -> renameFailures.get.toString,
      "lastBatchFiles" -> lastOffset.files.size.toString,
      "lastBatchSeq" -> lastOffset.seq.toString,
      // directory-listing RPCs issued since start: with a backlog in hand
      // this must NOT grow per trigger (the million-file-backlog scale
      // guard — specs pin the complexity class through this counter)
      "listingCalls" -> listingCalls.get.toString,
      "listingWatermark" -> watermark.map { case (m, n) => s"$m/$n" }.getOrElse("")).asJava
  // The most recent offset the engine is working against: either the last
  // offset WE returned this run, or (until we return one) the offset
  // restored from the checkpoint. Its files are excluded from new batches
  // and renamed once the engine moves past them.
  @volatile private var lastOffset: ArrivalsOffset = ArrivalsOffset(0L, Nil)
  @volatile private var offeredAny: Boolean = false
  // The last offset whose renames succeeded on this instance: the engine's
  // commit(end) for the batch latestOffset() already renamed, and every
  // idle trigger's latestOffset(), skip it instead of re-statting each
  // file. A fresh instance (the restart replay) starts without one.
  @volatile private var renamed: Option[ArrivalsOffset] = None

  // Startup canary (ref R9, CephFSEventReader.java:42-66): directory must
  // exist, be a directory, and be read-write — probed with a real file.
  {
    require(fs.exists(dirPath), s"arrivals path does not exist: ${opts.path}")
    require(fs.getFileStatus(dirPath).isDirectory, s"arrivals path is not a directory: ${opts.path}")
    val canary = new Path(dirPath, s".arrivals-canary-${java.util.UUID.randomUUID()}")
    try {
      val out = fs.create(canary, false)
      out.write("canary".getBytes("UTF-8")); out.close()
      val in = fs.open(canary)
      val buf = new Array[Byte](6); in.readFully(buf); in.close()
      require(new String(buf, "UTF-8") == "canary", "canary read-back mismatch")
    } catch {
      case e: Exception =>
        throw new IllegalStateException(
          s"Directory ${opts.path} failed read/write probe: ${e.getMessage}", e)
    } finally {
      if (fs.exists(canary)) fs.delete(canary, false)
    }
  }

  // Ordered pending backlog — ONE listing builds it, subsequent triggers
  // drain it with ZERO listing calls (the scale fix for million-file
  // backlogs: per-trigger re-listing is O(dir) × O(backlog/trigger)
  // driver work; FS APIs can't filter a listing server-side, so NOT
  // listing beats listing incrementally). This generalizes the
  // reference's cached-listing-iterator (CephFSEventReader.java:
  // 32-33,107-110,123-124: re-lists ONLY when the iterator drains —
  // files arriving mid-drain wait for the next rescan) from RANDOM to
  // every consumeOrder. Driver-only state, rebuilt from a fresh full
  // listing after restart; replay safety is unaffected because rows
  // always come from the offset log, never from this queue.
  private val backlog = scala.collection.mutable.Queue.empty[FileMeta]
  // Largest (mtime, name) admitted to the backlog in this listing
  // cycle — the cursor position, persisted in each offset.
  @volatile private var watermark: Option[(Long, String)] = None

  private def wmKey(f: FileMeta): (Long, String) = (f.mtimeMs, f.name)

  private def enumerate(): Seq[FileMeta] = {
    listingCalls.incrementAndGet()
    ArrivalsUtil.listCandidates(fs, dirPath, opts, ignoreRe)
  }

  /** Pending = up to maxFilesPerTrigger files dequeued from the backlog.
    * Empty backlog → one FULL listing (minus the current offset's files:
    * offered-but-not-yet-renamed; re-admitting them would duplicate)
    * rebuilds it and resets the watermark cursor. Non-empty backlog →
    * no listing at all. Admission is by set-difference, not a watermark
    * comparison, so gap files — failed renames, clock-skewed or
    * late-copied arrivals whose (mtime, name) sits at or below the
    * watermark — are admitted by the drain-time full list: no file is
    * lost, only deferred. The watermark tracks the max (mtime, name)
    * admitted — the persisted, inspectable cursor position. The
    * pendingFiles gauge reports the backlog's remainder
    * (what the source still intends to offer before the next rescan). */
  private def pending(): Seq[FileMeta] = {
    val offered = lastOffset.files.map(_.path).toSet
    if (backlog.isEmpty) {
      val cand = enumerate().filterNot(f => offered.contains(f.path))
      backlog.enqueueAll(ConsumeOrder.order(cand, opts.consumeOrder))
      watermark = if (cand.isEmpty) None else Some(cand.map(wmKey).max)
    }
    pendingGauge.set(backlog.size)
    (0 until math.min(opts.maxFilesPerTrigger, backlog.size))
      .map(_ => backlog.dequeue())
  }

  override def initialOffset(): Offset = ArrivalsOffset(0L, Nil)

  override def latestOffset(): Offset = {
    // Batches are strictly sequential: by the time the engine asks for the
    // next offset, every previously-returned offset's batch has completed
    // and is durably logged — so the previous batch's files can be marked
    // consumed NOW. (The engine's own commit() callback only fires when a
    // LATER batch runs, which would leave the final batch's files
    // unrenamed indefinitely on a quiet directory.) Replay stays safe
    // either way: rows are materialized from the offset log, never from
    // re-reading the files.
    renameOnce(lastOffset)
    val p = pending()
    if (p.isEmpty) lastOffset
    else {
      lastOffset = ArrivalsOffset(lastOffset.seq + 1, p, watermark)
      offeredAny = true
      filesOffered.addAndGet(p.size)
      lastOffset
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val raw = ArrivalsOffset.fromJson(json)
    // Migrate offsets checkpointed before FileMeta switched to
    // fully-qualified URIs: a scheme-less '/dir/f' from an old offset
    // log would never set-match the 'file:/dir/f' a fresh listing
    // produces, re-emitting the whole crash window. Qualify through the
    // SAME filesystem handle the listing uses.
    val o = raw.copy(files = raw.files.map { f =>
      if (new Path(f.path).toUri.getScheme == null)
        f.copy(path = fs.makeQualified(new Path(f.path)).toString)
      else f
    })
    // The checkpointed offset seeds our cursor ONLY until we have offered
    // an offset ourselves: once latestOffset() has returned one, the
    // engine is driving batches against OUR offsets and the checkpoint
    // deserialization (start-offset restore / replay) must not displace
    // them. Comparing seq numbers here would be wrong — in-memory seqs
    // reset on restart and can be arbitrarily behind or colliding with
    // checkpointed ones (either direction loses or duplicates files).
    // The restored watermark is diagnostic continuity only: the restart's
    // first pending() finds an empty backlog and does a FULL list (which
    // resets the cursor) — filtering that rebuild by a restored watermark
    // would LOSE the listed-but-not-yet-offered files below it that died
    // with the previous process's in-memory backlog.
    if (!offeredAny) {
      lastOffset = o
      watermark = o.watermark
    }
    o
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ArrivalsOffset]
    val e = end.asInstanceOf[ArrivalsOffset]
    // A batch emits exactly end.files MINUS start.files: the start offset's
    // files were already emitted by the previous batch. This must NOT
    // compare seq numbers — on restart the engine may call latestOffset()
    // on a fresh instance BEFORE deserializeOffset(), so an in-memory seq
    // can collide with the checkpointed one (observed: the collision made
    // a seq-equality check plan an empty batch while the offset advanced —
    // silent data loss). Set difference is also what makes the
    // crash-window replay safe: files already in the start offset are
    // never re-emitted, and engine-driven no-data batches (start == end)
    // naturally plan nothing.
    val startSet = s.files.toSet
    // rows come from the offset itself — executors never list/read the
    // FS, so replay is deterministic even after files were renamed
    ArrivalsUtil.slice(e.files.filterNot(startSet.contains), opts)
  }

  override def createReaderFactory(): PartitionReaderFactory = ArrivalsUtil.readerFactory

  /** Commit-by-rename (ref R5) AFTER durable checkpoint commit — idempotent
    * for replay, loud for genuine name collisions. */
  override def commit(end: Offset): Unit = renameOnce(end.asInstanceOf[ArrivalsOffset])

  /** Rename `o`'s files unless this instance already did. Compares the
    * fields, not references: the engine commits a copy deserialized from
    * its offset log (and `Offset.equals` would render both to json). */
  private def renameOnce(o: ArrivalsOffset): Unit =
    if (!renamed.exists(r => r.seq == o.seq && r.files == o.files && r.watermark == o.watermark)) {
      renameConsumed(o.files)
      renamed = Some(o)
    }

  /** Commit renames, sequentially on the driver through the stream's
    * own filesystem handle. The first failure stops the pass and is
    * rethrown with the reference's collision semantics; the files after
    * it are renamed by the replayed commit. */
  private def renameConsumed(files: Seq[FileMeta]): Unit =
    files.foreach { f =>
      ArrivalsUtil.renameOne(fs, f.path, opts.fileSuffix) match {
        case Left(err) =>
          renameFailures.incrementAndGet()
          throw new IllegalStateException(err)
        case Right(r) => if (r) filesRenamed.incrementAndGet()
      }
    }

  override def stop(): Unit = ()
}

final case class ArrivalsPartition(files: Seq[FileMeta], charset: String, timeZone: String)
  extends InputPartition

class ArrivalsPartitionReader(p: ArrivalsPartition) extends PartitionReader[InternalRow] {
  // Non-padded H:m:s (ref CephFSEventReader.java:230-235) rendered in the
  // configured zone. The default (UTC) matches the harness session
  // timezone, so `body` ≡ concat_ws over the typed columns; setting
  // timeZone to the ingest host's zone reproduces the reference's
  // default-zone Calendar rendering byte-for-byte.
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd H:m:s")
    .withZone(java.time.ZoneId.of(p.timeZone))
  private val cs = Charset.forName(p.charset)
  private val it = p.files.iterator
  private var cur: FileMeta = _
  override def next(): Boolean = { if (it.hasNext) { cur = it.next(); true } else false }
  override def get(): InternalRow = {
    // body keeps the reference's CSV byte-for-byte (scheme-less absolute
    // path, CephFSEventReader.java:89-94); the TYPED file_path column is
    // the fully-qualified URI so spark.read works on any filesystem
    val refPath = new Path(cur.path).toUri.getPath
    val body = s"${cur.name},$refPath,${fmt.format(Instant.ofEpochMilli(cur.mtimeMs))}"
    InternalRow(
      UTF8String.fromString(cur.name),
      UTF8String.fromString(cur.path),
      cur.mtimeMs * 1000L, // TimestampType micros
      body.getBytes(cs))
  }
  override def close(): Unit = ()
}
