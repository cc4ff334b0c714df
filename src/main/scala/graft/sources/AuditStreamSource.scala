package graft.sources

import java.time.LocalDate
import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.slf4j.LoggerFactory
import graft.ingest.{AuditSource, Watermark}

/** DataSource V2 STREAMING source over the reference's dated-directory
  * audit drop (audit_data_ingest.py:129-150) — the pipeline's incremental
  * 12-hour loop (`/root/reference/ci/resources.yml:20-23`) re-expressed as
  * a native Structured Streaming source instead of an external scheduler
  * re-running a batch job.
  *
  * `spark.readStream.format("graft-audit").option("srcDir", dir).load()`
  * yields rows of `(path string, content binary, day date)`.
  *
  * Semantics, mapped onto streaming machinery:
  *  - **Offset = the watermark.** An offset is the last fully-committed
  *    day (`{"day":"YYYY-MM-DD"}` / `{"day":null}` for "nothing yet"), so
  *    Spark's checkpointed offset log IS the reference's progress file —
  *    restart resumes from the last committed day with no extra state.
  *  - **One micro-batch per day, oldest first** (admission control): each
  *    `latestOffset(start, limit)` admits exactly the next pending day, so
  *    a batch failure leaves the watermark on the last good day and the
  *    whole failed day re-runs — the reference's day-commit-or-abort loop
  *    (audit_data_ingest.py:50-68), at-least-once.
  *  - **Strict `>` pruning**: days at-or-before the start offset are never
  *    listed into a batch ([[Watermark.isPending]], ref :26-33).
  *  - **`Trigger.AvailableNow`**: [[SupportsTriggerAvailableNow]] pins the
  *    ceiling day at query start, so one invocation drains the backlog and
  *    terminates — the reference's scheduled-run shape.
  *  - An optional `progressFile` is the initial watermark, and each
  *    committed day is mirrored into it ([[AuditMicroBatchStream.latestOffset]]),
  *    keeping the batch core and the stream interchangeable.
  *
  * The batch form, `spark.read.format("graft-audit")`, reads every day
  * after the optional watermark in one scan; with the `days` option
  * ([[AuditStreamSourceProvider.daysOption]]) it reads exactly the listed
  * days and lists no day directory itself ([[AuditSource.readPending]],
  * the batch core's one scan).
  *
  * 100 TB posture: the driver holds only day names and file metadata
  * (path, length) for the days being planned; content bytes are read by
  * executors straight from the source filesystem. A day is listed by a
  * recursive `listStatus` walk. Files are bin-packed into input partitions
  * of at most `min(128 MiB, ceil(bytes / defaultParallelism))`
  * ([[AuditMicroBatchStream.binCap]]), so parallelism scales with bytes,
  * not file count, and a small batch still spreads over every core.
  * Zero-length files are read like any other.
  */
class AuditStreamSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-audit"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AuditStreamSourceProvider.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new AuditStreamTable(new CaseInsensitiveStringMap(properties))
}

object AuditStreamSourceProvider {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("day", DateType, nullable = false)
  ))

  /** Batch-scan option naming the exact days to read. */
  val DaysOption = "days"

  /** The [[DaysOption]] value for `days`: their names, comma-separated. A
    * day's dir is `<root>/<day>` ([[AuditSource.root]]).
    */
  def daysOption(days: Seq[LocalDate]): String = days.mkString(",")

  private[sources] def parseDays(value: String): Seq[LocalDate] =
    value.split(',').toSeq.filter(_.nonEmpty).map(LocalDate.parse)
}

private[sources] class AuditStreamTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val srcDir = {
    val d = options.get("srcdir")
    require(d != null && d.nonEmpty, "graft-audit source requires option 'srcDir'")
    d
  }

  override def name(): String = s"graft-audit($srcDir)"
  override def schema(): StructType = AuditStreamSourceProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = AuditStreamSourceProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          require(!options.containsKey(AuditStreamSourceProvider.DaysOption),
            s"option '${AuditStreamSourceProvider.DaysOption}' is for batch reads only")
          new AuditMicroBatchStream(srcDir, options)
        }
        // Batch form: the listed days, or ALL days after the watermark, in
        // one scan, sharing the streaming reader's listing, bin-packing
        // and whole-file reader. ONE batch per Scan: Spark's planner may
        // call toBatch more than once while building/cloning the physical
        // plan, and each listing is a real RPC against the source
        // filesystem.
        private lazy val batch = new AuditBatchScan(srcDir, options)
        override def toBatch: Batch = batch
      }
    }
}

/** One-shot batch scan of the days the `days` option names, else of every
  * pending day (strict `>` the optional `startDay`/`progressFile`
  * watermark, like the stream's initial offset).
  */
private[sources] class AuditBatchScan(srcDir: String, options: CaseInsensitiveStringMap) extends Batch {
  // ONE stream per scan and at most ONE day-listing per plan (none when
  // the days are given); IngestStreamSpec and IngestJobSpec pin the count.
  private val stream = new AuditMicroBatchStream(srcDir, options)
  private lazy val planned: Array[InputPartition] =
    Option(options.get(AuditStreamSourceProvider.DaysOption)) match {
      case Some(days) => stream.planDays(AuditStreamSourceProvider.parseDays(days), "(listed days)")
      case None => stream.planAllPending()
    }

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory = stream.createReaderFactory()
}

/** Offset: the last fully-committed day (None = nothing committed). */
private[sources] case class AuditDayOffset(day: Option[LocalDate]) extends Offset {
  override def json(): String = day match {
    case Some(d) => s"""{"day":"$d"}"""
    case None => """{"day":null}"""
  }
}

private[sources] object AuditDayOffset {
  private val DayPat = """\{\s*"day"\s*:\s*"(\d{4}-\d{2}-\d{2})"\s*\}""".r
  private val NullPat = """\{\s*"day"\s*:\s*null\s*\}""".r

  def fromJson(json: String): AuditDayOffset = json.trim match {
    case DayPat(d) => AuditDayOffset(Some(LocalDate.parse(d)))
    case NullPat() => AuditDayOffset(None)
    case other => throw new IllegalArgumentException(s"Corrupt graft-audit offset: '$other'")
  }
}

/** One input partition: a bin-packed batch of whole files from one batch's
  * day range. Files are never split — each is an opaque unit the transform
  * compresses/encrypts whole, like the reference's per-file loop.
  */
private[sources] case class AuditFilesPartition(files: Seq[(String, Long, Int)])
    extends InputPartition // (path, length, epochDay)

private[sources] class AuditMicroBatchStream(srcDir: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow with BroadcastHadoopConf {
  private val log = LoggerFactory.getLogger(getClass)
  private def spark = SparkSession.active

  private val progressFile = Option(options.get("progressfile")).filter(_.nonEmpty)
  private val startDay = Option(options.get("startday")).filter(_.nonEmpty).map(LocalDate.parse)
  private lazy val root = AuditSource.root(spark, srcDir)

  /** Ceiling pinned by Trigger.AvailableNow at query start: the newest day
    * listed then; later-arriving days wait for the next run, exactly like
    * one scheduled run of the reference. `availableNowPinned` distinguishes
    * "prepare ran and listed NOTHING" (admit nothing — a day landing
    * mid-run must wait) from "not an AvailableNow run" (no bound): a bare
    * `Option` ceiling can't represent both as `None`.
    */
  @volatile private var availableNowCeiling: Option[LocalDate] = None
  @volatile private var availableNowPinned: Boolean = false

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCeiling = AuditSource.listDays(spark, srcDir).lastOption.map(_.day)
    availableNowPinned = true
    log.info(s"AvailableNow ceiling pinned at $availableNowCeiling")
  }

  override def initialOffset(): Offset = {
    // Precedence: explicit startDay option, else the reference-format
    // progress file when present (batch-loop -> stream migration), else
    // everything is pending.
    val wm = startDay.orElse(progressFile.flatMap(Watermark.read))
    AuditDayOffset(wm)
  }

  override def deserializeOffset(json: String): Offset = AuditDayOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Newest day the last `latestOffset` listing saw (`Some(None)`: it saw
    * none), kept for [[reportLatestOffset]] so a trigger lists the source
    * once. `None` until `latestOffset` has run.
    */
  @volatile private var lastListedDay: Option[Option[LocalDate]] = None

  /** Admit exactly ONE day per micro-batch: the oldest pending day after
    * `start`, bounded by the AvailableNow ceiling. Returning `start`
    * unchanged signals "no new data".
    *
    * The one writer of the `progressFile` mirror, too: `start` is written
    * to it when ahead of it (forward only: a mirror a batch run moved past
    * stays). Spark passes as `start` the end of the last committed batch
    * (on a fresh checkpoint, the initial offset: the mirror or `startDay`)
    * on every trigger, the one ending an AvailableNow drain included, so a
    * trailing day with no files is mirrored too. Crash window: between a
    * batch's commit and the next trigger the mirror lags the commit log by
    * one day (a rerun with nothing pending restores it); it is never ahead
    * of it or of `startDay`. This assumes async progress tracking is off,
    * under which Spark may plan a batch before the last commit is durable.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val wm = start.asInstanceOf[AuditDayOffset].day
    for (pf <- progressFile; day <- wm if Watermark.read(pf).forall(_.isBefore(day)))
      Watermark.commit(pf, day)
    val listed = AuditSource.listDays(spark, srcDir)
    lastListedDay = Some(listed.lastOption.map(_.day))
    val all = listed.filter(d => Watermark.isPending(d.day, wm))
    val pending =
      if (!availableNowPinned) all
      else availableNowCeiling match {
        case Some(c) => all.filter(d => !d.day.isAfter(c))
        case None => Nil // pinned on an empty source: nothing admitted this run
      }
    pending.headOption match {
      case Some(next) => AuditDayOffset(Some(next.day))
      case None => start
    }
  }

  override def latestOffset(): Offset =
    throw new IllegalStateException("latestOffset(Offset, ReadLimit) should be called instead")

  override def reportLatestOffset(): Offset =
    AuditDayOffset(lastListedDay.getOrElse(AuditSource.listDays(spark, srcDir).lastOption.map(_.day)))

  /** Plan the files of every day in (start, end] — normally exactly one
    * day — bin-packed by [[planDays]]. Driver state is O(#files-in-batch)
    * metadata; bytes stay on the executors.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startWm = start.asInstanceOf[AuditDayOffset].day
    val endDay = end.asInstanceOf[AuditDayOffset].day.getOrElse(return Array.empty)
    val days = AuditSource.pendingDays(spark, srcDir, startWm).filter(!_.isAfter(endDay))
    planDays(days, s"(${startWm.getOrElse("-")}, $endDay]")
  }

  /** Batch form ([[AuditBatchScan]]): EVERY pending day planned from one
    * day-listing — no separate initial/latest-offset listings.
    */
  private[sources] def planAllPending(): Array[InputPartition] = {
    val wm = initialOffset().asInstanceOf[AuditDayOffset].day
    planDays(AuditSource.pendingDays(spark, srcDir, wm), s"(${wm.getOrElse("-")}, *]")
  }

  /** Every file under each of `days`' dirs, nested ones included, tagged
    * with its day, bin-packed to the [[AuditMicroBatchStream.binCap]].
    */
  private[sources] def planDays(days: Seq[LocalDate], range: String): Array[InputPartition] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = days.flatMap { day =>
      val epochDay = day.toEpochDay.toInt
      AuditMicroBatchStream
        .filesUnder(fs, new Path(root, day.toString))
        .map(st => (st.getPath.toString, st.getLen, epochDay))
    }
    val cap = AuditMicroBatchStream.binCap(
      files.iterator.map(_._2).sum, AuditMicroBatchStream.MaxPartitionBytes, spark.sparkContext.defaultParallelism)
    val bins = AuditMicroBatchStream.binPack(files, cap)
    log.info(s"Batch $range: ${files.size} file(s) in ${bins.length} partition(s) of at most $cap bytes")
    bins.map(b => AuditFilesPartition(b): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = AuditPartitionReaderFactory(hadoopConf)

  /** Nothing to discard; [[latestOffset]] writes the mirror. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[sources] object AuditMicroBatchStream {

  /** Every file under `dir`, by a recursive `listStatus` walk. Not
    * `listFiles`: it wraps each status in a `LocatedFileStatus`, whose
    * constructor reads the owner and permission, and Hadoop's local FS
    * without libhadoop forks an `ls -ld` per file to get them.
    */
  private def filesUnder(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap(st => if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st))

  /** The largest bin [[binCap]] allows, Spark's `maxPartitionBytes` default. */
  val MaxPartitionBytes: Long = 128L << 20

  /** Largest bin for `totalBytes` over `cores`: `maxPartitionBytes`, or
    * less so that the bytes spread over every core (Spark's own
    * `maxSplitBytes` rule for file scans). At least 1, so zero-length
    * files share a bin.
    */
  private[sources] def binCap(totalBytes: Long, maxPartitionBytes: Long, cores: Int): Long = {
    val n = math.max(cores, 1)
    math.max(1L, math.min(maxPartitionBytes, (totalBytes + n - 1) / n))
  }

  /** Best-fit-decreasing bin-packing by file size, O(n log bins) via a
    * remaining-capacity index — a first-fit linear scan over bins is
    * O(n x bins), which at a realistic 10⁶-files/128 MiB-bins day is
    * ~10¹² operations on the driver. Oversized files (> cap) get their
    * own bin; packing quality: one huge file never drags a long tail of
    * small ones into its task.
    */
  private[sources] def binPack(
      files: Seq[(String, Long, Int)],
      cap: Long
  ): Array[Seq[(String, Long, Int)]] = {
    val bins = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[(String, Long, Int)]]()
    val used = scala.collection.mutable.ArrayBuffer[Long]()
    // remaining capacity -> bin indices with exactly that much room
    val byRemaining = new java.util.TreeMap[java.lang.Long, java.util.ArrayDeque[Integer]]()
    def index(rem: Long, i: Int): Unit =
      if (rem > 0)
        byRemaining.computeIfAbsent(rem, _ => new java.util.ArrayDeque[Integer]()).add(i)
    files.sortBy(-_._2).foreach { f =>
      val fit = byRemaining.ceilingEntry(f._2) // smallest remaining >= size = best fit
      if (fit == null) {
        bins += scala.collection.mutable.ArrayBuffer(f)
        used += f._2
        index(cap - f._2, bins.size - 1)
      } else {
        val i: Int = fit.getValue.poll()
        if (fit.getValue.isEmpty) byRemaining.remove(fit.getKey)
        bins(i) += f
        used(i) += f._2
        index(cap - used(i), i)
      }
    }
    bins.map(_.toSeq).toArray
  }
}

private[sources] case class AuditPartitionReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AuditFileReader(partition.asInstanceOf[AuditFilesPartition], conf.value.value)
}

/** Reads each whole file into one row; one open stream at a time, constant
  * memory beyond the current file's bytes.
  */
private[sources] class AuditFileReader(partition: AuditFilesPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val it = partition.files.iterator
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val (pathStr, len, epochDay) = it.next()
    // One file = one row = one in-memory byte array (the reference reads
    // whole files too, audit_data_ingest.py:118); fail loudly rather than
    // silently truncating past the JVM array limit.
    require(len <= Int.MaxValue, s"$pathStr is $len bytes — exceeds the 2 GiB single-row limit")
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(path)
    try {
      var off = 0
      while (off < buf.length) {
        val n = in.read(buf, off, buf.length - off)
        if (n < 0) throw new java.io.EOFException(s"$pathStr truncated at $off/${buf.length}")
        off += n
      }
    } finally in.close()
    current = new GenericInternalRow(Array[Any](UTF8String.fromString(pathStr), buf, epochDay))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
