package graft.sources

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.{col, count, from_json, lit, max, min, struct, to_json}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.ingest.Publish

/** `graft-shards`: a batch DSv2 sink that lands a corpus as the standard
  * training-data container — newline-delimited JSON in gzip shards
  * (`.jsonl.gz`), rolled at a document/byte target, plus a job-commit
  * `_MANIFEST.json` naming every committed shard with its document count
  * and raw byte size.
  *
  * Why not `df.write.text`: the built-in text writer emits exactly one
  * file per partition with no size control and no manifest; a training
  * loader wants uniformly-sized shards it can schedule and a manifest it
  * can checksum. Why single-column: the sink takes one `line` string
  * column (callers serialize with `to_json(struct(...))` — see
  * [[TrainingShards.write]]), so the writer is pure container logic and
  * any schema ships through unchanged.
  *
  * Commit protocol — THE MANIFEST IS THE READ GATE:
  *   - Shard names carry the job's query-id token plus (partitionId,
  *     taskId), so a retried task never collides with its predecessor and
  *     a second job never collides with an earlier one's files.
  *   - Only shards from COMMITTED tasks of a COMMITTED job enter the
  *     manifest. Aborted tasks/jobs delete their files best-effort; any
  *     survivor of a crashed delete is an orphan that
  *     [[TrainingShards.read]] (which reads exactly the manifest-listed
  *     files) never sees.
  *   - `append` mode MERGES the prior manifest's entries with the new
  *     job's, so the manifest always accounts for every committed shard
  *     in the directory. `overwrite` mode truncates: the new manifest
  *     holds only the new job's shards, and stale part files are removed
  *     at job commit (never earlier — a failed overwrite leaves the
  *     previous committed state intact and readable).
  *   - Concurrent writers to one directory are NOT coordinated (same as
  *     Hadoop's output committers): the last job's manifest merge wins.
  *
  * All file IO goes through the Hadoop FileSystem API resolved from the
  * destination path's scheme, so the sink works on any Hadoop-supported
  * filesystem (local, HDFS, s3a, ...) — the Hadoop configuration is
  * captured driver-side and shipped to executors with the writer
  * factory. The 100 TB posture: the driver handles shard NAMES and
  * counts only; all bytes move executor-side, one gzip stream open per
  * task at a time.
  */
class ShardSinkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-shards"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ShardSinkProvider.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    // getTable receives the options with their ORIGINAL key case (unlike
    // inferSchema's CaseInsensitiveStringMap) — normalize before lookup.
    val opts = new CaseInsensitiveStringMap(properties)
    def opt(k: String, default: String): String =
      Option(opts.get(k)).filter(_.nonEmpty).getOrElse(default)
    val path = Option(opts.get("path")).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("graft-shards requires option 'path'"))
    val conf = new SerializableHadoopConf(
      SparkSession.active.sparkContext.hadoopConfiguration)
    val maxFiles = Option(opts.get("maxfilespertrigger")).filter(_.nonEmpty).map { v =>
      val n = scala.util.Try(v.toInt).getOrElse(
        throw new IllegalArgumentException(s"graft-shards maxFilesPerTrigger must be an int, got '$v'"))
      require(n > 0, s"graft-shards maxFilesPerTrigger must be positive, got $n")
      n
    }
    // jobToken is deliberately NOT empty-filtered: an explicitly pinned
    // empty token is a caller error the validator must reject, not a
    // silent fallback to unpinned-append semantics.
    val codec = opt("codec", "gzip")
    require(codec == "gzip" || codec == "zstd",
      s"graft-shards codec must be gzip or zstd, got '$codec'")
    new ShardTable(path, opt("maxdocspershard", "100000").toLong,
      opt("maxshardbytes", s"${64L << 20}").toLong,
      Option(opts.get("jobtoken")), maxFiles, codec, conf)
  }
}

object ShardSinkProvider {
  val schema: StructType = StructType(Seq(StructField("line", StringType, nullable = false)))
}

/** Hadoop `Configuration` is not `java.io.Serializable`; this carries it
  * through task serialization via its own writable form (the same shape
  * Spark uses internally for its private equivalent).
  */
private[sources] class SerializableHadoopConf(@transient var conf: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = conf.write(out)
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

private[sources] class ShardTable(
    path: String, maxDocs: Long, maxBytes: Long,
    explicitToken: Option[String], maxFilesPerTrigger: Option[Int], codec: String,
    conf: SerializableHadoopConf
) extends Table with SupportsWrite with SupportsRead {
  require(maxDocs > 0 && maxBytes > 0, s"shard targets must be positive (docs=$maxDocs bytes=$maxBytes)")
  override def name(): String = s"graft-shards($path)"
  override def schema(): StructType = ShardSinkProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  /** Streaming read: tail the manifest — see [[ShardMicroBatchStream]]. */
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ShardSinkProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ShardMicroBatchStream(path, maxFilesPerTrigger, conf)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val cols = info.schema().fieldNames.toSeq
    require(cols == Seq("line"),
      s"graft-shards sink expects exactly one 'line' string column, got $cols")
    require(info.schema().fields.head.dataType == StringType,
      s"graft-shards 'line' column must be string, got ${info.schema().fields.head.dataType.simpleString}")
    // The query id makes shard names unique ACROSS jobs, so an append
    // can never silently overwrite an earlier job's shard of the same
    // (partition, task) coordinates. A caller may instead pin the token
    // via option("jobToken", ...) to make a RE-RUN of the same logical
    // job replace its own earlier shards (manifest entries under
    // `part-{token}-` are dropped at commit) — the idempotent-replay
    // hook foreachBatch sinks need, since Spark's queryId changes per
    // attempt while the caller's batch id does not.
    //
    // Pinned tokens are VALIDATED, never normalized: silently stripping
    // non-alphanumerics or truncating would let distinct logical jobs
    // collide on one token ("job-1" vs "job1", or two long tokens
    // sharing a 24-char prefix), and a collision under replace-on-commit
    // semantics makes one job's commit silently DELETE the other job's
    // shards. Rejecting the token keeps "distinct token in ⇒ distinct
    // replacement scope" a real invariant.
    explicitToken.foreach(t => require(t.matches("[A-Za-z0-9]{1,24}"),
      s"jobToken must be 1-24 ASCII alphanumeric characters ([A-Za-z0-9]); got '$t' — " +
        "distinct tokens must map to distinct shard prefixes, so the sink never normalizes them"))
    val jobToken = explicitToken
      .getOrElse(info.queryId().replace("-", "").take(16))
    val pinnedToken = explicitToken.isDefined
    new WriteBuilder with SupportsTruncate {
      private var truncateExisting = false
      override def truncate(): WriteBuilder = { truncateExisting = true; this }
      override def build(): Write = {
        val t = truncateExisting
        new Write {
          override def toBatch: BatchWrite =
            new ShardBatchWrite(path, jobToken, pinnedToken, maxDocs, maxBytes, t, codec, conf)
          override def toStreaming: StreamingWrite =
            new ShardStreamingWrite(path, jobToken, maxDocs, maxBytes, codec, conf)
        }
      }
    }
  }
}

private[sources] class ShardBatchWrite(
    path: String, jobToken: String, pinnedToken: Boolean, maxDocs: Long, maxBytes: Long,
    truncateExisting: Boolean, codec: String, conf: SerializableHadoopConf
) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ShardWriterFactory(path, jobToken, maxDocs, maxBytes, codec, conf)

  /** Job commit = publish the manifest naming every committed shard:
    * the new job's shards merged with the prior manifest's on append,
    * or exactly the new job's on truncate (overwrite) — the superseded
    * layout's files stay on disk, snapshot-protected, until vacuum.
    * Under a caller-pinned token, prior manifest entries bearing the
    * SAME token are replaced (their files stay on disk, unreferenced,
    * until [[TrainingShards.vacuum]] reclaims them), so re-running the
    * same logical job is idempotent even though task ids — and so shard
    * file names — differ across attempts.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(path).getFileSystem(conf.conf)
    val dirPath = new HPath(path)
    val fresh = messages.collect { case ShardsWritten(s) => s }.flatten.toSeq
    val tokenPrefix = s"part-$jobToken-"
    val priorLive = ShardManifest.readIfExists(fs, dirPath)
    val prior0 = if (truncateExisting) Seq.empty else priorLive
    val replaced = if (pinnedToken) prior0.filter(_.file.startsWith(tokenPrefix)) else Seq.empty
    val prior = prior0.filterNot(replaced.contains)
    val all = (prior ++ fresh).sortBy(_.file)
    require(all.map(_.file).distinct.size == all.size,
      s"shard name collision in ${dirPath}: committed and prior manifests overlap")
    // EVERY superseding commit — truncate AND pinned-token replace, not
    // just compaction — snapshots the outgoing manifest (plus the
    // schema chain's head) before the new one goes live: vacuum's
    // retain>=2 window is defined over these snapshots, a mid-batch
    // tailer on the outgoing layout keeps its files, and a time-travel
    // read ([[TrainingShards.readAsOf]]) serves the superseded corpus
    // until vacuum's retention expires it.
    if ((truncateExisting && priorLive.nonEmpty) || replaced.nonEmpty)
      ShardManifest.archiveCurrent(fs, dirPath, ShardManifest.readGeneration(fs, dirPath))
    ShardManifest.writeAtomic(fs, dirPath, all)
    // superseded data files are RETAINED on disk, unreferenced by the
    // live manifest (the lakehouse contract: a commit changes which
    // files are LIVE, never which files EXIST). Physical reclamation
    // has exactly one owner — [[TrainingShards.vacuum]] — so the
    // snapshot archived above always describes files that are still
    // there, time-travel reads within the retention window always
    // succeed, and a commit crash cannot strand a half-deleted layout.
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(path).getFileSystem(conf.conf)
    messages.collect { case ShardsWritten(s) => s }.flatten
      .foreach(s => fs.delete(new HPath(path, s.file), false))
  }
}

/** Native Structured Streaming write: each epoch's shards land under an
  * epoch-scoped token (`{jobToken}-e{epoch}`) so no two epochs can
  * collide on shard names, and each epoch COMMIT merges the manifest
  * exactly like a batch append: the shard directory is a consistent,
  * loadable corpus between any two epochs. Epoch re-commit after a
  * driver failure is idempotent BY TOKEN, not by file name: a replayed
  * epoch's tasks get fresh task ids (so fresh file names), and the
  * commit drops every prior manifest entry under the same
  * `{jobToken}-e{epoch}` prefix before merging — the replay REPLACES
  * the epoch's shards instead of double-counting them; the superseded
  * files stay on disk, unreferenced, until vacuum (the manifest-
  * trusting reader never serves them either way).
  */
private[sources] class ShardStreamingWrite(
    path: String, jobToken: String, maxDocs: Long, maxBytes: Long, codec: String,
    conf: SerializableHadoopConf
) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    ShardStreamingWriterFactory(path, jobToken, maxDocs, maxBytes, codec, conf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dirPath = new HPath(path)
    val fs = dirPath.getFileSystem(conf.conf)
    val fresh = messages.collect { case ShardsWritten(s) => s }.flatten.toSeq
    val epochPrefix = s"part-$jobToken-e$epochId-"
    val prior0 = ShardManifest.readIfExists(fs, dirPath)
    val replaced = prior0.filter(_.file.startsWith(epochPrefix))
    val all = (prior0.filterNot(replaced.contains) ++ fresh).sortBy(_.file)
    // an epoch REPLAY supersedes the crashed attempt's committed shards —
    // snapshot the outgoing manifest so vacuum's retention window
    // protects them like any other superseded layout (normal epochs have
    // no prior entries under their prefix and archive nothing)
    if (replaced.nonEmpty)
      ShardManifest.archiveCurrent(fs, dirPath, ShardManifest.readGeneration(fs, dirPath))
    ShardManifest.writeAtomic(fs, dirPath, all)
    // the replaced attempt's files are retained (unreferenced) until
    // vacuum — the batch commit's lakehouse contract applies per epoch
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(path).getFileSystem(conf.conf)
    messages.collect { case ShardsWritten(s) => s }.flatten
      .foreach(s => fs.delete(new HPath(path, s.file), false))
  }
}

private[sources] case class ShardStreamingWriterFactory(
    path: String, jobToken: String, maxDocs: Long, maxBytes: Long, codec: String,
    conf: SerializableHadoopConf
) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ShardDataWriter(path, s"$jobToken-e$epochId", partitionId, taskId, maxDocs, maxBytes, codec, conf)
}

private[sources] case class ShardWriterFactory(
    path: String, jobToken: String, maxDocs: Long, maxBytes: Long, codec: String,
    conf: SerializableHadoopConf
) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardDataWriter(path, jobToken, partitionId, taskId, maxDocs, maxBytes, codec, conf)
}

/** Rolls compressed shard files as lines arrive: a shard closes once it
  * holds `maxDocs` documents or `maxBytes` raw (pre-compression) bytes.
  * One open stream per task; files are named
  * `part-{jobToken}-{partitionId}-{taskId}.{seq}.jsonl.{gz|zst}` so
  * neither a task retry nor a later job can collide, and the commit
  * message (not the directory listing) is the source of truth for what
  * this attempt produced. `codec` picks gzip (the interop default) or
  * zstd (zstd-jni, level 3 — ~3-4x faster compress and decompress at
  * comparable ratio, the right choice when the same corpus is re-read
  * every training epoch); extension carries the codec, so readers —
  * Spark's own json reader included — decode by file name.
  */
private[sources] class ShardDataWriter(
    path: String, jobToken: String, partitionId: Int, taskId: Long,
    maxDocs: Long, maxBytes: Long, codec: String, conf: SerializableHadoopConf
) extends DataWriter[InternalRow] {
  private val written = scala.collection.mutable.ArrayBuffer.empty[ShardInfo]
  @transient private lazy val fs: FileSystem = new HPath(path).getFileSystem(conf.conf)
  private var out: java.io.OutputStream = _
  private var seq = 0
  private var docs = 0L
  private var rawBytes = 0L

  private val ext = if (codec == "zstd") "zst" else "gz"
  private def fileName(n: Int) = f"part-$jobToken-$partitionId%05d-$taskId.$n%03d.jsonl.$ext"

  private def roll(): Unit = {
    closeCurrent()
    val raw = new BufferedOutputStream(fs.create(new HPath(path, fileName(seq)), true), 1 << 16)
    out = if (codec == "zstd") new com.github.luben.zstd.ZstdOutputStream(raw, 3)
          else new GZIPOutputStream(raw)
    docs = 0L
    rawBytes = 0L
  }

  private def closeCurrent(): Unit =
    if (out != null) {
      out.close() // GZIP/Zstd close() finishes the frame then closes
      written += ShardInfo(fileName(seq), docs, rawBytes)
      out = null
      seq += 1
    }

  override def write(row: InternalRow): Unit = {
    val bytes = (row.getUTF8String(0).toString + "\n").getBytes(UTF_8)
    if (out == null || docs >= maxDocs || rawBytes + bytes.length > maxBytes) roll()
    out.write(bytes)
    docs += 1
    rawBytes += bytes.length
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    ShardsWritten(written.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) { out.close(); out = null }
    (0 to seq).foreach(n => fs.delete(new HPath(path, fileName(n)), false))
  }

  override def close(): Unit = if (out != null) { out.close(); out = null }
}

case class ShardInfo(file: String, docs: Long, rawBytes: Long)
case class ShardsWritten(shards: Seq[ShardInfo]) extends WriterCommitMessage

/** Render / parse / atomically publish `_MANIFEST.json`. */
private[sources] object ShardManifest {
  val FileName = "_MANIFEST.json"

  def render(shards: Seq[ShardInfo]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val entries = shards.map { s =>
      s"""{"file": ${q(s.file)}, "docs": ${s.docs}, "raw_bytes": ${s.rawBytes}}"""
    }
    s"""{"n_shards": ${shards.length}, "total_docs": ${shards.map(_.docs).sum},
       |"total_raw_bytes": ${shards.map(_.rawBytes).sum},
       |"shards": [${entries.mkString(",\n  ")}]}""".stripMargin
  }

  def parse(json: String): Seq[ShardInfo] = {
    import org.json4s._
    def num(j: JValue): Long = j match {
      case JInt(n)  => n.toLong
      case JLong(n) => n
      case other    => throw new IllegalStateException(s"malformed manifest number: $other")
    }
    org.json4s.jackson.JsonMethods.parse(json) \ "shards" match {
      case JArray(items) =>
        items.map { i =>
          val file = i \ "file" match {
            case JString(f) => f
            case other      => throw new IllegalStateException(s"malformed manifest file: $other")
          }
          ShardInfo(file, num(i \ "docs"), num(i \ "raw_bytes"))
        }
      case other => throw new IllegalStateException(s"malformed manifest: shards = $other")
    }
  }

  /** Layout generation: bumped by [[TrainingShards.compact]] (which
    * re-lands consumed rows under new file names). A streaming tailer
    * records the generation it started under in its offsets and fails
    * LOUDLY on mismatch — the explicit-file-set offset has no way to
    * recognize compacted shards as already-consumed, so resuming a
    * pre-compaction checkpoint would silently re-serve the whole
    * corpus. Absent file = generation 0.
    */
  val GenerationFileName = "_GENERATION"

  def readGeneration(fs: FileSystem, dir: HPath): Long = {
    val p = new HPath(dir, GenerationFileName)
    if (!fs.exists(p)) 0L
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, UTF_8).trim.toLong
    }
  }

  def bumpGeneration(fs: FileSystem, dir: HPath): Long = {
    val next = readGeneration(fs, dir) + 1
    Publish.file(fs, new HPath(dir, GenerationFileName), next.toString.getBytes(UTF_8))
    next
  }

  def readIfExists(fs: FileSystem, dir: HPath): Seq[ShardInfo] = {
    val p = new HPath(dir, FileName)
    if (!fs.exists(p)) Seq.empty else readFile(fs, p)
  }

  private def readFile(fs: FileSystem, p: HPath): Seq[ShardInfo] = {
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf)
    finally in.close()
    parse(new String(buf, UTF_8))
  }

  /** Generation-stamped manifest SNAPSHOTS: every SUPERSEDING commit —
    * compaction's overwrite, a caller truncate, a pinned-token replace,
    * a replayed streaming epoch — archives the outgoing layout's
    * manifest as `_MANIFEST.g<gen>.json` just before publishing the new
    * one, so [[TrainingShards.vacuum]] can tell a crash-orphaned file
    * the previous layout still REFERENCED (an in-flight tailer may be
    * mid-batch on it — retain) from one no manifest within the
    * retention window names (delete). Zero-padded so lexicographic file
    * order equals generation order; supersedes at the SAME generation
    * (truncates/replays never bump it) overwrite one snapshot, so the
    * window protects the most recently superseded layout per
    * generation.
    */
  def archiveName(gen: Long): String = f"_MANIFEST.g$gen%019d.json"

  /** Schema snapshot twin of [[archiveName]]: the read schema that was
    * in force when generation `gen`'s layout was superseded, written by
    * [[archiveCurrent]] so a time-travel read ([[TrainingShards
    * .readAsOf]]) reproduces not just the files but the recorded
    * column set of the run that consumed them. Absent when the
    * directory had no schema chain at supersede time (legacy dirs —
    * readAsOf falls back to inference there, like read()).
    */
  def schemaAsOfName(gen: Long): String = f"_SCHEMA_ASOF.g$gen%019d.json"

  def readSchemaAsOf(fs: FileSystem, dir: HPath, gen: Long): Option[StructType] = {
    val p = new HPath(dir, schemaAsOfName(gen))
    if (!fs.exists(p)) None
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(DataType.fromJson(new String(buf, UTF_8)).asInstanceOf[StructType])
    }
  }

  def archiveCurrent(fs: FileSystem, dir: HPath, gen: Long): Unit = {
    Publish.file(fs, new HPath(dir, archiveName(gen)), render(readIfExists(fs, dir)).getBytes(UTF_8))
    // snapshot the schema chain's current head beside the manifest so
    // readAsOf serves the superseded layout under the columns its own
    // consumers saw (written AFTER the manifest archive: a crash
    // between the two leaves a readable generation that falls back to
    // the live chain — degraded, never wrong-files)
    ShardSchemas.readLatest(fs, dir).foreach { case (_, st) =>
      Publish.file(fs, new HPath(dir, schemaAsOfName(gen)), st.json.getBytes(UTF_8))
    }
  }

  /** Archived snapshot names under `dir`, oldest first. */
  def listArchives(fs: FileSystem, dir: HPath): Seq[String] =
    fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("_MANIFEST.g") && n.endsWith(".json"))
      .toSeq.sorted

  def readArchive(fs: FileSystem, dir: HPath, name: String): Seq[ShardInfo] =
    readFile(fs, new HPath(dir, name))

  def writeAtomic(fs: FileSystem, dir: HPath, shards: Seq[ShardInfo]): Unit =
    Publish.file(fs, new HPath(dir, FileName), render(shards).getBytes(UTF_8))
}

/** Per-generation SCHEMA RECORDS for a shard directory — the schema
  * evolution story: the sink's JSON lines are schema-flexible by
  * construction (a row simply carries whatever keys it has), so the
  * thing that must be governed is the READ schema and the
  * compatibility of what writers claim. Each evolution writes
  * `_SCHEMA.g<n>.json` (zero-padded, lexicographic = generation
  * order, published by `Publish.file`); the LATEST record is by construction
  * the union of everything ever appended, so [[TrainingShards.read]]
  * uses it as the read schema — older rows null-fill columns added
  * after them, and inference never silently narrows a mixed corpus.
  */
private[sources] object ShardSchemas {
  private def name(gen: Long): String = f"_SCHEMA.g$gen%019d.json"

  def list(fs: FileSystem, dir: HPath): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("_SCHEMA.g") && n.endsWith(".json"))
      .toSeq.sorted

  def readLatest(fs: FileSystem, dir: HPath): Option[(Long, StructType)] =
    list(fs, dir).lastOption.map { n =>
      val p = new HPath(dir, n)
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      val gen = n.stripPrefix("_SCHEMA.g").stripSuffix(".json").toLong
      (gen, DataType.fromJson(new String(buf, UTF_8)).asInstanceOf[StructType])
    }

  def write(fs: FileSystem, dir: HPath, gen: Long, schema: StructType): Unit =
    Publish.file(fs, new HPath(dir, name(gen)), schema.json.getBytes(UTF_8))

  def clear(fs: FileSystem, dir: HPath): Unit =
    list(fs, dir).foreach(n => fs.delete(new HPath(dir, n), false))
}

/** Caller-facing API over the `graft-shards` container. */
object TrainingShards {
  /** Serialize every column of `df` into JSON lines and land them as
    * `.jsonl.gz` shards under `dir`. Shard targets bound DOCUMENT count
    * and RAW byte size per shard (compression ratio varies by corpus;
    * the raw bound is what a training loader's memory budget sees).
    * `mode` is `append` (manifest-merging) by default; pass `overwrite`
    * to truncate the directory to this write's shards at commit.
    * Pass `jobToken` to make a RE-RUN of the same logical job replace
    * its own earlier shards at commit instead of appending twice — the
    * idempotency hook a replayed foreachBatch body needs (derive the
    * token from the batch id).
    *
    * `zOrderBy`: cluster rows by the Morton z-order of the named
    * columns before serialization ([[LakeLayout]] — the same layout
    * option as the parquet writer, applied to the shard container):
    * each shard then holds a tight multi-dimensional slice of the
    * corpus, so a training loader selecting on those fields can skip
    * whole shards by their content range instead of decompressing
    * everything. Costs one count job (to size the range partitioning to
    * the shard doc target) plus the range shuffle.
    */
  def write(df: DataFrame, dir: String, maxDocsPerShard: Long = 100000L,
            maxShardBytes: Long = 64L << 20, mode: String = "append",
            jobToken: Option[String] = None, codec: String = "gzip",
            zOrderBy: Seq[String] = Nil, zOrderBitsPerDim: Int = 8): Unit = {
    // ---- schema evolution gate ----
    // Append: every written column already in the chain must carry the
    // IDENTICAL type (a type change would make old and new rows of one
    // column unparseable under a single read schema — fail loudly, never
    // coerce); NEW columns evolve the chain to their superset, recorded
    // BEFORE the data lands (a crash after the record but before the
    // commit leaves a harmless extra null-filled column; the reverse
    // order would let committed rows' new columns vanish silently from
    // reads). Writing a SUBSET of the chain is fine as-is — JSON rows
    // simply lack those keys and read back as nulls. Overwrite: the
    // chain resets to this write's schema AFTER the commit (the
    // truncate protocol keeps the OLD corpus readable if the job dies,
    // so the old chain must keep describing it until the new data is
    // live).
    val dirPath = new HPath(dir)
    val sfs = dirPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val latest = ShardSchemas.readLatest(sfs, dirPath)
    if (mode != "overwrite") latest match {
      case Some((gen, prev)) =>
        val prevByName = prev.fields.map(f => f.name -> f.dataType).toMap
        df.schema.fields.foreach { f =>
          prevByName.get(f.name).foreach { pt =>
            require(pt == f.dataType,
              s"graft-shards schema evolution: column '${f.name}' was recorded as " +
                s"${pt.simpleString} but this append writes ${f.dataType.simpleString} — " +
                "type changes are incompatible (old rows could not parse under one read " +
                "schema); write the new type under a new column name or overwrite the corpus")
          }
        }
        val added = df.schema.fields.filterNot(f => prevByName.contains(f.name))
        if (added.nonEmpty)
          ShardSchemas.write(sfs, dirPath, gen + 1,
            StructType(prev.fields ++ added.map(_.copy(nullable = true))))
      case None =>
        // record generation 0 only for a FRESH corpus: a legacy
        // directory (committed shards, no schema records) may hold
        // columns this append lacks — recording this write's schema
        // would make read() silently DROP them; legacy dirs keep
        // reading by inference until an overwrite resets them
        if (ShardManifest.readIfExists(sfs, dirPath).isEmpty)
          ShardSchemas.write(sfs, dirPath, 0L, df.schema)
    }
    val clustered =
      if (zOrderBy.isEmpty) df
      else {
        val zc = "__graft_z"
        require(!df.columns.contains(zc), s"column name $zc is reserved by the z-order writer")
        // ONE aggregation pays for both the range-partition sizing (row
        // count) and the quantizer bounds (per-dim min/max) — an
        // unpersisted streaming batch frame must not be recomputed once
        // per statistic
        val aggs = count(lit(1L)) +:
          zOrderBy.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
        val stats = df.agg(aggs.head, aggs.tail: _*).head()
        val nParts = math.max(1, math.ceil(stats.getLong(0).toDouble / maxDocsPerShard).toInt)
        val bounds = zOrderBy.indices.map { i =>
          if (stats.isNullAt(1 + 2 * i)) None
          else Some((stats.getDouble(1 + 2 * i), stats.getDouble(2 + 2 * i)))
        }
        df.withColumn(zc, LakeLayout.zorderColumnFromBounds(zOrderBy, zOrderBitsPerDim, bounds))
          .repartitionByRange(nParts, col(zc))
          .sortWithinPartitions(zc)
          .drop(zc)
      }
    val w = clustered.select(to_json(struct(df.columns.map(col): _*)).as("line"))
      .write.format("graft-shards")
      .option("path", dir)
      .option("maxDocsPerShard", maxDocsPerShard.toString)
      .option("maxShardBytes", maxShardBytes.toString)
      .option("codec", codec)
    jobToken.foreach(t => w.option("jobToken", t))
    w.mode(mode).save()
    if (mode == "overwrite") {
      ShardSchemas.clear(sfs, dirPath)
      ShardSchemas.write(sfs, dirPath, 0L, df.schema)
    }
  }

  /** Read a shard directory back as rows, trusting the manifest: exactly
    * the committed, manifest-listed shards are read, so orphans from
    * aborted attempts (whose best-effort delete lost a race) are never
    * served as data. Fails loudly on a directory with no manifest — that
    * directory holds no committed write. Pass `schema` to skip
    * inference (required when the manifest lists zero shards).
    */
  /** The manifest gate shared by [[read]] and [[compact]]: resolve the
    * filesystem, fail loudly on an uncommitted directory, and return
    * the manifest-listed shards with their absolute paths.
    */
  private def committedShards(
      spark: SparkSession, dir: String): (FileSystem, HPath, Seq[ShardInfo], Seq[String]) = {
    val dirPath = new HPath(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new HPath(dirPath, ShardManifest.FileName)),
      s"no ${ShardManifest.FileName} under $dir — not a committed graft-shards directory")
    val shards = ShardManifest.readIfExists(fs, dirPath)
    (fs, dirPath, shards, shards.map(s => new HPath(dirPath, s.file).toString))
  }

  def read(spark: SparkSession, dir: String, schema: Option[StructType] = None): DataFrame = {
    val (fs, dirPath, _, files) = committedShards(spark, dir)
    // explicit schema > recorded evolution chain > inference: the LATEST
    // recorded schema is the union of every appended generation, so
    // rows written before a column existed read back with it null —
    // the two-generation evolved read, without inference ever narrowing
    // a mixed corpus to whichever shard it sampled
    val effective = schema.orElse(ShardSchemas.readLatest(fs, dirPath).map(_._2))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        effective.getOrElse(throw new IllegalArgumentException(
          s"manifest under $dir lists zero shards; pass a schema to read an empty corpus")))
    else {
      val base = spark.read
      effective.fold(base)(base.schema).json(files: _*)
    }
  }

  /** Readable generations of a shard directory, oldest first: every
    * archived layout snapshot's generation plus the LIVE one (the
    * current generation marker). A generation number names the marker
    * value current when that layout was superseded (compaction bumps
    * the marker before its overwrite commit, so a compaction from
    * marker g archives the outgoing layout as g+1 and leaves the
    * compacted corpus live at g+2 — the bump-twice tailer contract);
    * supersedes at the SAME marker value (truncates, pinned-token
    * replays) overwrite one snapshot, so the live generation shadows
    * any same-numbered archive.
    */
  def generations(spark: SparkSession, dir: String): Seq[Long] = {
    val dirPath = new HPath(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val archived = ShardManifest.listArchives(fs, dirPath)
      .map(_.stripPrefix("_MANIFEST.g").stripSuffix(".json").toLong)
    (archived :+ ShardManifest.readGeneration(fs, dirPath)).distinct.sorted
  }

  /** TIME-TRAVEL read: the corpus exactly as generation `asOfGeneration`
    * served it — the lakehouse completion of the generation-snapshot
    * machinery (reproducing a training run against the exact corpus it
    * consumed). The live generation delegates to [[read]]; an archived
    * one serves its snapshot's file list under its OWN recorded
    * schema-as-of (columns appended since then do not appear, exactly
    * as that generation's consumers saw the corpus; falls back to the
    * live chain, then inference, for pre-snapshot legacy dirs). Fails
    * LOUDLY — naming the readable generations — when the requested
    * generation was never archived or [[vacuum]] has reclaimed it, and
    * when the snapshot survives but a listed data file is gone (a
    * crash window vacuum closes on its next run): a reproducibility
    * read must never silently serve a partial corpus. Reproducible
    * pipelines pin `vacuum(retainGenerations = n)` to the history
    * depth they need.
    */
  def readAsOf(spark: SparkSession, dir: String, asOfGeneration: Long,
      schema: Option[StructType] = None): DataFrame = {
    val dirPath = new HPath(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = ShardManifest.readGeneration(fs, dirPath)
    if (asOfGeneration == live) read(spark, dir, schema)
    else {
      val archive = ShardManifest.archiveName(asOfGeneration)
      require(fs.exists(new HPath(dirPath, archive)),
        s"generation $asOfGeneration of $dir is not readable (available: " +
          s"${generations(spark, dir).mkString(", ")}) — either it never existed or " +
          "vacuum reclaimed its snapshot; pin vacuum's retainGenerations to the history " +
          "depth a reproducible run needs")
      val shards = ShardManifest.readArchive(fs, dirPath, archive)
      val missing = shards.map(_.file).filterNot(f => fs.exists(new HPath(dirPath, f)))
      require(missing.isEmpty,
        s"generation $asOfGeneration's snapshot names ${missing.size} data files that are " +
          s"gone (first: ${missing.headOption.getOrElse("")}) — vacuum reclaimed the layout " +
          "out from under its snapshot (crash-window state its next run clears); this " +
          "generation is no longer reproducible")
      val effective = schema
        .orElse(ShardManifest.readSchemaAsOf(fs, dirPath, asOfGeneration))
        .orElse(ShardSchemas.readLatest(fs, dirPath).map(_._2))
      val files = shards.map(s => new HPath(dirPath, s.file).toString)
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          effective.getOrElse(throw new IllegalArgumentException(
            s"generation $asOfGeneration of $dir lists zero shards; pass a schema")))
      else {
        val base = spark.read
        effective.fold(base)(base.schema).json(files: _*)
      }
    }
  }

  /** Tail a shard directory as a STREAM: each micro-batch serves the
    * shards that entered the manifest since the last batch, parsed back
    * into typed rows — the training-loader side of the incremental
    * ingest→curate→shard flow. See [[ShardMicroBatchStream]] for the
    * offset semantics (consumed-file set + layout generation).
    *
    * Delivery contract: exactly-once while the writer runs normally;
    * AT-LEAST-ONCE across writer crash recovery — a replayed epoch or
    * pinned-token batch re-lands the SAME rows under fresh file names,
    * which an explicit-file-set offset must treat as new (the standard
    * streaming-source posture; dedup downstream on a content key if
    * the loader needs exactly-once across writer failures). Compaction
    * invalidates tailer checkpoints entirely and FAILS the tailer
    * loudly via the generation marker rather than double-serving.
    */
  def readStream(spark: SparkSession, dir: String, schema: StructType,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("graft-shards").option("path", dir)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    r.load().select(from_json(col("line"), schema).as("doc")).select("doc.*")
  }

  /** Compact a shard directory in place: rewrite the manifest-listed
    * corpus as balanced shards at the given targets, replacing the old
    * layout atomically (new manifest first; the superseded files stay
    * on disk for time-travel reads until vacuum). The cure for the
    * MANY-TINY-SHARDS layout an incremental writer accumulates: each
    * micro-batch/epoch lands one shard per task, so a high-parallelism
    * stream of small batches produces thousands of KB-sized files a
    * training loader then pays per-file open/seek costs for. Raw LINES
    * are shuffled, never parsed — compaction is byte-faithful whatever
    * the rows hold. The repartition count targets the doc bound
    * (balanced shards need ≈docs/maxDocsPerShard tasks; the byte bound
    * still rolls oversized tasks). Single-writer contract: do not
    * compact concurrently with appends — the manifest overwrite would
    * drop a racing append's entries. Compaction also BUMPS the layout
    * generation marker: every consumed row re-lands under a new file
    * name, so any live OR checkpointed tailer's consumed-file offset
    * becomes meaningless — the marker turns what would be a silent
    * full-corpus re-serve into a loud failure telling the operator to
    * restart the tailer with a fresh checkpoint.
    *
    * The generation is bumped TWICE — once before the overwrite commit
    * and once after — because each bump closes a different race:
    *
    *  - Bump-before: a live tailer that consumed the OLD layout and
    *    polls `latestOffset` after the commit must not see its own
    *    (old) generation next to the re-landed shard names — it would
    *    silently admit the whole corpus as new. The pre-commit bump
    *    makes that poll fail the moment the marker lands.
    *  - Bump-after: a FRESH tailer whose `initialOffset` runs inside
    *    the bump-to-commit window pins the bumped generation while its
    *    first polls still read the OLD manifest; once the commit lands,
    *    the pinned generation would match again and every re-landed
    *    shard would be admitted as unseen on top of the old-layout rows
    *    already served — a silent double-serve. The post-commit bump
    *    makes that tailer's next poll fail the generation check.
    *
    * Only a tailer whose ENTIRE read window falls strictly between the
    * two bumps (pins bump-1, reads only post-commit files) dies
    * spuriously — a restart-with-fresh-checkpoint, never a
    * double-serve. A compaction that crashes between bump-1 and the
    * commit leaves the LAYOUT intact but the generation advanced, so
    * tailers fail loudly over an unchanged corpus — the same benign
    * trade.
    */
  def compact(spark: SparkSession, dir: String,
              maxDocsPerShard: Long = 100000L, maxShardBytes: Long = 64L << 20): Unit =
    compactWithHook(spark, dir, maxDocsPerShard, maxShardBytes, () => ())

  /** Test seam: `betweenBumpAndCommit` runs after the generation bump
    * and before the overwrite commit, so specs can drive a tailer poll
    * inside the exact race window the bump-first ordering closes.
    */
  private[sources] def compactWithHook(
      spark: SparkSession, dir: String, maxDocsPerShard: Long, maxShardBytes: Long,
      betweenBumpAndCommit: () => Unit): Unit = {
    val (fs, dirPath, shards, files) = committedShards(spark, dir)
    if (shards.nonEmpty) {
      // the outgoing layout's manifest snapshot (vacuum's retention
      // unit) is written by the OVERWRITE COMMIT itself, at the exact
      // moment the old layout is superseded — see ShardBatchWrite.commit;
      // a compaction that crashes before that commit leaves the old
      // layout LIVE, protected by the live manifest, no snapshot needed
      ShardManifest.bumpGeneration(fs, dirPath)
      betweenBumpAndCommit()
      val totalDocs = shards.map(_.docs).sum
      val nParts = math.max(1, math.ceil(totalDocs.toDouble / maxDocsPerShard).toInt)
      // preserve the layout's codec (extension carries it; mixed layouts
      // compact to the first-listed shard's codec)
      val codec = if (shards.head.file.endsWith(".zst")) "zstd" else "gzip"
      val lines = spark.read.text(files: _*).repartition(nParts)
      lines.select(col("value").as("line"))
        .write.format("graft-shards")
        .option("path", dir)
        .option("maxDocsPerShard", maxDocsPerShard.toString)
        .option("maxShardBytes", maxShardBytes.toString)
        .option("codec", codec)
        .mode("overwrite")
        .save()
      // second bump: invalidates any tailer that pinned the first bump's
      // generation while still reading the pre-commit manifest (see the
      // bump-twice contract on compact() above)
      ShardManifest.bumpGeneration(fs, dirPath)
    }
  }

  /** Garbage-collect crash-orphaned shard files: every `part-*` data
    * file under `dir` that no manifest inside the retention window
    * references is deleted, and snapshots older than the window go with
    * it. Orphans accumulate from exactly the crash cases the commit
    * protocol tolerates by design — an abort whose best-effort delete
    * lost a race, a [[compact]] or pinned-token replace that died after
    * publishing its manifest but before deleting the superseded files —
    * and nothing else ever removes them, so a long-lived incremental
    * directory leaks disk without a vacuum.
    *
    * `retainGenerations = n` keeps the files referenced by the LIVE
    * manifest plus the last `n − 1` archived layout snapshots — written
    * by EVERY superseding commit (compaction, truncate, pinned-token
    * replace, epoch replay) at the moment it replaces a layout, so the
    * guarantee below covers all of them, not just compaction:
    *
    *  - `n = 2` (the default) is the safe operating point: a tailer
    *    mid-batch on the pre-compaction layout can still finish reading
    *    its planned files; its NEXT offset poll fails loudly on the
    *    generation marker either way (the [[ShardMicroBatchStream]]
    *    contract). Nothing a tailer could be holding is deleted.
    *  - `n = 1` reclaims everything but the live layout: a straggling
    *    tailer's read then fails with FileNotFound — LOUD, never a
    *    silent wrong answer, because the manifest-trusting batch reader
    *    and the generation-checked tailer both refuse superseded state
    *    rather than serving it.
    *
    * Single-admin contract (same as [[compact]]): do not vacuum
    * concurrently with a WRITER — an uncommitted task's rolling shard
    * is on disk but in no manifest yet, which is indistinguishable from
    * an orphan. Concurrent READERS are what the retention window is
    * for. Returns the deleted data-file names.
    */
  def vacuum(spark: SparkSession, dir: String, retainGenerations: Int = 2): Seq[String] = {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1 (the live layout is never vacuumable), got $retainGenerations")
    val (fs, dirPath, live, _) = committedShards(spark, dir)
    val archives = ShardManifest.listArchives(fs, dirPath)
    val keptArchives = archives.takeRight(retainGenerations - 1)
    val referenced: Set[String] =
      live.map(_.file).toSet ++
        keptArchives.flatMap(a => ShardManifest.readArchive(fs, dirPath, a).map(_.file))
    val orphans = fs.listStatus(dirPath).iterator
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("part-") &&
          (n.endsWith(".jsonl.gz") || n.endsWith(".jsonl.zst")) &&
          !referenced(n)
      }
      .toSeq
    orphans.foreach(p => fs.delete(p, false))
    // expired snapshots describe layouts whose files are now gone —
    // keeping them would let a LATER vacuum resurrect a stale
    // "referenced" set that protects nothing; their schema-as-of twins
    // go with them (a schema snapshot for an unreadable generation is
    // dead weight, and readAsOf fails loudly on the missing MANIFEST
    // archive either way)
    archives.dropRight(retainGenerations - 1).foreach { a =>
      fs.delete(new HPath(dirPath, a), false)
      val gen = a.stripPrefix("_MANIFEST.g").stripSuffix(".json").toLong
      val s = new HPath(dirPath, ShardManifest.schemaAsOfName(gen))
      if (fs.exists(s)) fs.delete(s, false)
    }
    orphans.map(_.getName)
  }
}
