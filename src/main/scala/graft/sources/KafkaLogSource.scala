package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
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

/** DataSource V2 micro-batch source over KAFKA-WIRE-FORMAT log segments —
  * the upstream the reference's data originates from ("Ingest encrypted UC
  * Kafka audit data", `/root/reference/README.md:5`) even though the
  * script itself reads the HDFS drop. This closes the "Structured
  * Streaming with Kafka source" north star against an offline environment
  * with no Kafka broker or client jars: the on-disk layout and record
  * framing are Kafka's own public formats, read directly.
  *
  * Layout (Kafka's log directory convention):
  * {{{
  *   root/<topic>-<partition>/<20-digit base offset>.log
  * }}}
  *
  * Record framing: BOTH public on-disk formats, dispatched per frame on
  * the magic byte (which Kafka deliberately keeps at the same frame
  * position — byte 16 — across formats, exactly so readers can do this):
  *
  *  - **Legacy v1 messages** (protocol guide, "Messagesets"), big-endian:
  *    {{{
  *    offset:8  message_size:4  crc:4  magic:1  attributes:1
  *    timestamp:8  key_len:4  key  value_len:4  value
  *    }}}
  *    `crc` is CRC-32 of everything after the crc field. Compressed
  *    wrapper messages (attributes bits 0-2: gzip, xerial-framed snappy,
  *    or lz4) are decompressed: the wrapper's value is an inner message
  *    set with RELATIVE offsets, the wrapper offset is the absolute
  *    offset of the LAST inner record, so `absolute = wrapper - lastRel
  *    + rel` (the consumer-side rule from the protocol guide). v1-era
  *    lz4 wrappers carry a legacy frame-header checksum (pre-KIP-57
  *    clients hashed the frame magic too) — the lenient lz4 decoder
  *    accepts either convention and rejects frames matching neither.
  *  - **Record batches v2** (magic 2) — what every Kafka >= 0.11 broker
  *    writes:
  *    {{{
  *    baseOffset:8  batchLength:4  partitionLeaderEpoch:4  magic:1
  *    crc:4(CRC-32C of attributes..end)  attributes:2  lastOffsetDelta:4
  *    baseTimestamp:8  maxTimestamp:8  producerId:8  producerEpoch:2
  *    baseSequence:4  recordCount:4  records
  *    }}}
  *    Each record is varint-framed (zigzag, protobuf-style):
  *    length, attributes:1, timestampDelta(varlong), offsetDelta(varint),
  *    keyLen(varint, -1=null), key, valueLen(varint, -1=null), value,
  *    headerCount(varint) then per-header varint-framed key/value pairs
  *    (parsed and skipped — the output schema mirrors Spark's Kafka
  *    source's default, headerless shape). Compressed record areas are
  *    inflated with the full broker codec table — gzip, xerial-framed
  *    snappy, LZ4 frame, zstd (the codec jars ship inside Spark itself,
  *    so executors always have them); control batches (bit 5)
  *    yield no rows, like a consumer. CRC-32C (Castagnoli,
  *    `java.util.zip.CRC32C`) is verified per batch; corrupt frames fail
  *    loudly with file/offset context.
  *
  * Output schema mirrors Spark's own Kafka source (key, value, topic,
  * partition, offset, timestamp, timestampType), so downstream transforms
  * written against a real Kafka source run unchanged.
  *
  * Semantics:
  *  - **Offset = {topicPartition -> next offset to read}**, checkpointed
  *    by Spark's offset log — restart resumes exactly, at-least-once into
  *    an idempotent sink (the object store's overwrite-same-key).
  *  - **Packed slices.** A batch plans one slice per topic-partition
  *    with admitted records, its `[start, end)` plus the segments that
  *    can hold it (segments are named by base offset, so choosing them is
  *    a linear scan over the listed names, no file reads). The slices are
  *    packed, largest first, into at most `defaultParallelism` input
  *    partitions balanced by record count, so a batch of many small
  *    slices runs as one wave of tasks; a task reads its slices in turn.
  *    A reader header-skips every frame that ends below its slice's start
  *    and decodes only the rest.
  *  - `maxRecordsPerTrigger` caps each batch's admitted records,
  *    distributed as a max-min fair share across partitions (equal
  *    splits, surplus from quiet partitions rolling to deep backlogs).
  *  - [[SupportsTriggerAvailableNow]] pins the end offsets at query start:
  *    one invocation drains the backlog and terminates.
  *
  * 100 TB posture: the driver holds only directory names and per-partition
  * offset longs; discovering a partition's log-end offset header-skips the
  * LAST segment only (seek past payloads, never reading them), and record
  * bytes stream through executors. A batch's parallelism is the smaller
  * of its topic-partitions with admitted records (a slice is never split,
  * the ceiling a real Kafka consumer group has) and `defaultParallelism`.
  */
class KafkaLogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kafkalog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KafkaLogFormat.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new KafkaLogTable(new CaseInsensitiveStringMap(properties))
}

/** Wire format reader, v1 writer and schema. The reader (v1 messages,
  * compressed v1 wrappers, v2 record batches) is the executor-side hot
  * path; the writer produces plain v1 fixture segments.
  */
object KafkaLogFormat {
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("timestampType", IntegerType, nullable = false)
  ))

  val Magic: Byte = 1 // legacy v1: has a timestamp field
  val MagicV2: Byte = 2 // record-batch format
  val CreateTime = 1 // Kafka TimestampType.CREATE_TIME

  // Codec ids from the batch/message attributes bits 0-2 (Kafka's public
  // compression-type table). v2 batches support all four; legacy v1
  // wrappers support gzip, snappy, and lz4 — v1-era LZ4 framing carried
  // the pre-KIP-57 header checksum (hashed over the frame magic too),
  // which the lenient decoder detects and normalizes before a standard
  // frame decode. zstd never existed for the legacy wrapper format.
  val NoCodec = 0
  val GzipCodec = 1
  val SnappyCodec = 2
  val Lz4Codec = 3
  val ZstdCodec = 4
  private[sources] val V2HeaderLen = 49 // partitionLeaderEpoch..recordCount, before records

  def segmentName(baseOffset: Long): String = f"$baseOffset%020d.log"

  /** One decoded record. `timestampMs` is the producer CreateTime. */
  case class Record(offset: Long, timestampMs: Long, key: Array[Byte], value: Array[Byte])

  private def crcOf(buf: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(buf, from, len)
    c.getValue
  }

  private[sources] def crc32cOf(buf: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(buf, from, len)
    c.getValue
  }


  private[sources] def gunzip(data: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(data))
    try in.readAllBytes() finally in.close()
  }


  /** Decompress an LZ4 frame accepting BOTH header-checksum conventions:
    * the LZ4 spec's (XXH32 over the frame descriptor, excluding the
    * 4-byte magic) and the legacy Kafka one (pre-KIP-57 clients hashed
    * the whole header INCLUDING the magic — the "v1-era" framing that
    * shipped with message-format-v0/v1 producers). A legacy frame gets
    * its HC byte rewritten to the spec value and decodes through the
    * standard frame reader; a frame matching NEITHER checksum is corrupt
    * and is rejected loudly.
    */
  private[sources] def lz4DecompressLenient(data: Array[Byte], ctx: => String): Array[Byte] = {
    require(data.length >= 7, s"$ctx: truncated LZ4 frame (${data.length} bytes)")
    require(
      data(0) == 0x04.toByte && data(1) == 0x22.toByte &&
        data(2) == 0x4d.toByte && data(3) == 0x18.toByte,
      s"$ctx: not an LZ4 frame (bad magic)")
    val flg = data(4)
    require(((flg >> 6) & 0x03) == 1, s"$ctx: unsupported LZ4 frame version")
    var hcPos = 6 // magic(4) + FLG + BD
    if ((flg & 0x08) != 0) hcPos += 8 // content-size field present
    if ((flg & 0x01) != 0) hcPos += 4 // dictionary-id field present
    require(data.length > hcPos, s"$ctx: truncated LZ4 frame header")
    val xx = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
    def hcFrom(from: Int): Byte = ((xx.hash(data, from, hcPos - from, 0) >> 8) & 0xff).toByte
    val stored = data(hcPos)
    val fixed =
      if (stored == hcFrom(4)) data // spec-correct framing
      else if (stored == hcFrom(0)) { // legacy: hash included the magic
        val d = data.clone(); d(hcPos) = hcFrom(4); d
      } else
        throw new IllegalArgumentException(
          s"$ctx: LZ4 frame header checksum matches neither the spec nor the legacy Kafka variant")
    val in = new net.jpountz.lz4.LZ4FrameInputStream(new java.io.ByteArrayInputStream(fixed))
    try in.readAllBytes() finally in.close()
  }


  private def decompress(codec: Int, data: Array[Byte], ctx: => String): Array[Byte] =
    codec match {
      case NoCodec => data
      case GzipCodec => gunzip(data)
      case SnappyCodec =>
        val in = new org.xerial.snappy.SnappyInputStream(new java.io.ByteArrayInputStream(data))
        try in.readAllBytes() finally in.close()
      case Lz4Codec =>
        val in = new net.jpountz.lz4.LZ4FrameInputStream(new java.io.ByteArrayInputStream(data))
        try in.readAllBytes() finally in.close()
      case ZstdCodec =>
        val in = new com.github.luben.zstd.ZstdInputStream(new java.io.ByteArrayInputStream(data))
        try in.readAllBytes() finally in.close()
      case c => throw new IllegalArgumentException(s"$ctx: unsupported compression codec $c")
    }

  // ---- varints (zigzag + base-128, the protobuf encoding v2 uses) ----

  private[sources] def readVarLong(bb: java.nio.ByteBuffer): Long = {
    var z = 0L
    var shift = 0
    var b = bb.get()
    while ((b & 0x80) != 0) {
      z |= (b & 0x7fL) << shift
      shift += 7
      require(shift <= 63, "malformed varint (over 10 bytes)")
      b = bb.get()
    }
    z |= (b & 0x7fL) << shift
    (z >>> 1) ^ -(z & 1L)
  }

  private def readVarInt(bb: java.nio.ByteBuffer): Int = {
    val v = readVarLong(bb)
    require(v >= Int.MinValue && v <= Int.MaxValue, s"varint out of int range: $v")
    v.toInt
  }

  // ---- v1 (legacy message) encoding ----

  /** Encode one record to the v1 wire bytes. `attributes` bits 0-2 carry
    * the compression codec (0 = none, 1 = gzip wrapper).
    */
  def encode(r: Record, attributes: Byte = 0): Array[Byte] = {
    val keyLen = if (r.key == null) -1 else r.key.length
    val valLen = if (r.value == null) -1 else r.value.length
    val msgSize = 4 + 1 + 1 + 8 + 4 + math.max(keyLen, 0) + 4 + math.max(valLen, 0)
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + msgSize) // big-endian by default
    bb.putLong(r.offset).putInt(msgSize)
    val crcPos = bb.position()
    bb.putInt(0) // crc back-patched below
    bb.put(Magic).put(attributes).putLong(r.timestampMs)
    bb.putInt(keyLen); if (keyLen > 0) bb.put(r.key)
    bb.putInt(valLen); if (valLen > 0) bb.put(r.value)
    val arr = bb.array()
    val crc = crcOf(arr, crcPos + 4, arr.length - crcPos - 4)
    bb.putInt(crcPos, crc.toInt)
    arr
  }



  /** Write pre-encoded frames (v1 messages, wrappers, or v2 batches — a
    * real post-upgrade segment mixes them) as one segment file named by
    * `baseOffset`, published whole by [[graft.ingest.Publish.file]]. An
    * existing segment is never replaced: that throws Hadoop's
    * `FileAlreadyExistsException`. The file has no `.crc` sidecar; every
    * frame carries its own CRC, which the reader checks. Returns the
    * segment path.
    */
  def writeSegmentFrames(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path,
      baseOffset: Long,
      frames: Seq[Array[Byte]]
  ): Path = {
    require(frames.nonEmpty, "empty segment")
    val seg = new Path(dir, segmentName(baseOffset))
    graft.ingest.Publish.file(fs, seg, Array.concat(frames: _*), overwrite = false)
    seg
  }

  /** Write records as one v1 segment file named by the first record's
    * offset. Returns the segment path.
    */
  def writeSegment(fs: org.apache.hadoop.fs.FileSystem, dir: Path, records: Seq[Record]): Path =
    writeSegmentFrames(fs, dir, records.head.offset, records.map(r => encode(r)))


  // ---- decoding ----

  /** Decode one v1 message body (bytes after the 12-byte frame header).
    * Returns 1 record, or the inflated inner records of a gzip wrapper
    * (with absolute offsets reconstructed). `allowWrapper=false` rejects
    * nested compression, which the format forbids.
    */
  private def decodeV1(
      offset: Long,
      body: Array[Byte],
      segPath: String,
      allowWrapper: Boolean
  ): Seq[Record] = {
    val mb = java.nio.ByteBuffer.wrap(body)
    val crc = mb.getInt & 0xffffffffL
    val actual = crcOf(body, 4, body.length - 4)
    require(crc == actual,
      s"$segPath: CRC mismatch at offset $offset (stored $crc, computed $actual)")
    val magic = mb.get()
    require(magic == Magic,
      s"$segPath: unsupported magic $magic at offset $offset (v1 and v2 record batches only)")
    val attributes = mb.get()
    val codec = attributes & 0x07
    val ts = mb.getLong
    val keyLen = mb.getInt
    val key = if (keyLen < 0) null else { val a = new Array[Byte](keyLen); mb.get(a); a }
    val valLen = mb.getInt
    val value = if (valLen < 0) null else { val a = new Array[Byte](valLen); mb.get(a); a }
    codec match {
      case NoCodec => Seq(Record(offset, ts, key, value))
      case GzipCodec | SnappyCodec | Lz4Codec =>
        require(allowWrapper, s"$segPath: nested compressed wrapper at offset $offset")
        require(value != null, s"$segPath: compressed wrapper with null value at offset $offset")
        // v1-era lz4 wrappers may carry the legacy (pre-KIP-57) frame
        // header checksum computed over the magic bytes — the lenient
        // decoder accepts both conventions and rejects anything else.
        val inflated =
          if (codec == Lz4Codec)
            lz4DecompressLenient(value, s"$segPath: lz4 wrapper at offset $offset")
          else decompress(codec, value, s"$segPath: wrapper at offset $offset")
        val inner = decodeInnerSet(inflated, segPath)
        require(inner.nonEmpty, s"$segPath: empty compressed wrapper at offset $offset")
        // magic-1 rule: wrapper offset = absolute offset of the LAST inner
        // record; inner offsets are relative
        val lastRel = inner.last.offset
        inner.map(r => r.copy(offset = offset - lastRel + r.offset))
      case c =>
        // zstd never existed for the legacy wrapper format.
        throw new IllegalArgumentException(
          s"$segPath: unsupported v1 compression codec $c at offset $offset (none/gzip/snappy/lz4)")
    }
  }

  /** Parse a concatenated v1 message set held in memory (a wrapper's
    * inflated value).
    */
  private def decodeInnerSet(bytes: Array[Byte], segPath: String): Seq[Record] = {
    val out = Seq.newBuilder[Record]
    var pos = 0
    while (pos + 12 <= bytes.length) {
      val hb = java.nio.ByteBuffer.wrap(bytes, pos, 12)
      val off = hb.getLong
      val size = hb.getInt
      require(size >= 22 && pos + 12 + size <= bytes.length,
        s"$segPath: corrupt inner frame at byte $pos of wrapper (message_size=$size)")
      val body = java.util.Arrays.copyOfRange(bytes, pos + 12, pos + 12 + size)
      out ++= decodeV1(off, body, s"$segPath (wrapper)", allowWrapper = false)
      pos += 12 + size
    }
    out.result()
  }

  /** Decode one v2 record batch body (bytes after the 12-byte frame
    * header): CRC-32C verify, then varint-framed records; control
    * batches yield nothing.
    */
  private def decodeV2(baseOffset: Long, body: Array[Byte], segPath: String): Seq[Record] = {
    require(body.length >= V2HeaderLen,
      s"$segPath: truncated v2 batch header at base offset $baseOffset (${body.length} bytes)")
    val storedCrc = java.nio.ByteBuffer.wrap(body, 5, 4).getInt & 0xffffffffL
    val actualCrc = crc32cOf(body, 9, body.length - 9)
    require(storedCrc == actualCrc,
      s"$segPath: CRC-32C mismatch in batch at base offset $baseOffset " +
        s"(stored $storedCrc, computed $actualCrc)")
    val bb = java.nio.ByteBuffer.wrap(body)
    bb.position(9)
    val attributes = bb.getShort
    val codec = attributes & 0x07
    val isControl = (attributes & 0x20) != 0
    val lastOffsetDelta = bb.getInt
    val baseTs = bb.getLong
    bb.getLong // maxTimestamp
    bb.getLong // producerId
    bb.getShort // producerEpoch
    bb.getInt // baseSequence
    val count = bb.getInt
    val recArea = decompress(
      codec,
      java.util.Arrays.copyOfRange(body, V2HeaderLen, body.length),
      s"$segPath: batch at base offset $baseOffset")
    if (isControl) return Seq.empty // commit/abort markers: a consumer never surfaces these
    val rb = java.nio.ByteBuffer.wrap(recArea)
    val out = Seq.newBuilder[Record]
    var i = 0
    var lastDelta = 0
    while (i < count) {
      val len = readVarInt(rb)
      val end = rb.position() + len
      require(len > 0 && end <= recArea.length,
        s"$segPath: corrupt record $i in batch at base offset $baseOffset (length=$len)")
      rb.get() // record attributes (always 0 today)
      val tsDelta = readVarLong(rb)
      val offDelta = readVarInt(rb)
      val keyLen = readVarInt(rb)
      val key = if (keyLen < 0) null else { val a = new Array[Byte](keyLen); rb.get(a); a }
      val valLen = readVarInt(rb)
      val value = if (valLen < 0) null else { val a = new Array[Byte](valLen); rb.get(a); a }
      var headers = readVarInt(rb)
      while (headers > 0) {
        val hkLen = readVarInt(rb)
        require(hkLen >= 0, s"$segPath: null header key in batch at base offset $baseOffset")
        rb.position(rb.position() + hkLen)
        val hvLen = readVarInt(rb)
        if (hvLen > 0) rb.position(rb.position() + hvLen)
        headers -= 1
      }
      require(rb.position() == end,
        s"$segPath: record $i length mismatch in batch at base offset $baseOffset " +
          s"(declared $len, consumed ${rb.position() - (end - len)})")
      out += Record(baseOffset + offDelta, baseTs + tsDelta, key, value)
      lastDelta = offDelta
      i += 1
    }
    require(lastDelta == lastOffsetDelta || count == 0,
      s"$segPath: lastOffsetDelta $lastOffsetDelta != last record delta $lastDelta " +
        s"in batch at base offset $baseOffset")
    out.result()
  }

  /** Bytes of a frame body that name its first and last offsets: magic at
    * 4, v1's attributes at 5 (a wrapper or not) and v2's lastOffsetDelta
    * at 11. Every frame has them (size >= 22).
    */
  private val BodyPrefixLen = 15

  /** Iterate records of a segment starting at its first frame, verifying
    * CRCs and dispatching v1 messages / gzip wrappers / v2 batches on the
    * magic byte. The segment is read in one forward pass through the
    * stream's own position, with `seek` past any body that is not decoded;
    * no positional `readFully(pos, ...)` is made, since on a checksummed
    * local FS each one opens and closes the data and `.crc` files again.
    *
    * A frame's LAST offset comes from its header and the first 15 bytes of
    * its body: the v1 message or wrapper offset, or the v2 base plus
    * `lastOffsetDelta`. A frame whose last offset is below `from` is
    * skipped there, never decoded nor CRC-checked, so a reader starting
    * mid-segment does not decode what it would throw away. Likewise a
    * frame whose FIRST offset is at or past `until` ends the iterator
    * there, its body past the prefix unread: a reader stopping at a slice
    * end does not decode the next slice's first frame. A frame that
    * straddles `until` is still decoded whole. `skipPayloadsOnly` =
    * header scan for log-end discovery: yields ONE record per frame
    * carrying the frame's last offset, with null key/value.
    */
  def readSegment(
      in: org.apache.hadoop.fs.FSDataInputStream,
      segLen: Long,
      segPath: String,
      skipPayloadsOnly: Boolean,
      from: Long = Long.MinValue,
      until: Long = Long.MaxValue
  ): Iterator[Record] = new Iterator[Record] {
    private var pos = 0L
    private val header = new Array[Byte](12 + BodyPrefixLen)
    private var pending: Iterator[Record] = Iterator.empty
    if (in.getPos != 0L) in.seek(0L)

    override def hasNext: Boolean = {
      while (!pending.hasNext && pos + 12 <= segLen) loadFrame()
      pending.hasNext
    }

    override def next(): Record = {
      if (!hasNext) throw new NoSuchElementException(segPath)
      pending.next()
    }

    private def loadFrame(): Unit = {
      in.readFully(header, 0, 12)
      val hb = java.nio.ByteBuffer.wrap(header)
      val headerOffset = hb.getLong // v1: record/wrapper offset; v2: baseOffset
      val size = hb.getInt
      require(size >= 22 && pos + 12 + size <= segLen,
        s"$segPath: corrupt frame at byte $pos (frame_size=$size, segment=$segLen bytes)")
      in.readFully(header, 12, BodyPrefixLen)
      // a v1 wrapper's header names its LAST inner offset; its first is
      // known only once inflated, so it never ends the range unread
      val (first, last) = header(12 + 4) match {
        case MagicV2 => (headerOffset, headerOffset + hb.getInt(12 + 11))
        case _ if (header(12 + 5) & 0x07) != NoCodec => (Long.MinValue, headerOffset)
        case _ => (headerOffset, headerOffset)
      }
      val next = pos + 12 + size
      if (first >= until) pos = segLen // starts past the range: end here
      else {
        if (last < from) {
          pending = Iterator.empty
          in.seek(next)
        } else if (skipPayloadsOnly) {
          pending = Iterator.single(Record(last, 0L, null, null))
          in.seek(next)
        } else {
          val body = new Array[Byte](size)
          System.arraycopy(header, 12, body, 0, BodyPrefixLen)
          in.readFully(body, BodyPrefixLen, size - BodyPrefixLen)
          pending = (body(4) match {
            case MagicV2 => decodeV2(headerOffset, body, segPath)
            case _ => decodeV1(headerOffset, body, segPath, allowWrapper = true)
          }).iterator
        }
        pos = next
      }
    }
  }
}

private[sources] class KafkaLogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val root = {
    val r = options.get("root")
    require(r != null && r.nonEmpty, "graft-kafkalog source requires option 'root'")
    r
  }
  override def name(): String = s"graft-kafkalog($root)"
  override def schema(): StructType = KafkaLogFormat.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KafkaLogFormat.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KafkaLogMicroBatchStream(root, options)
        private lazy val batchScan = new KafkaLogBatchScan(root, options)
        override def toBatch: Batch = batchScan
      }
    }
}

/** Batch form: everything from offset 0 to the current log end, one scan. */
private[sources] class KafkaLogBatchScan(root: String, options: CaseInsensitiveStringMap)
    extends Batch {
  private val stream = new KafkaLogMicroBatchStream(root, options)
  private lazy val planned: Array[InputPartition] = {
    val end = stream.endOffsets()
    stream.plan(end.map { case (tp, _) => tp -> 0L }, end)
  }
  override def planInputPartitions(): Array[InputPartition] = planned
  override def createReaderFactory(): PartitionReaderFactory = stream.createReaderFactory()
}

/** Offset: topicPartition dir name -> next offset to read (Kafka's shape). */
private[sources] case class KafkaLogOffset(offsets: Map[String, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sorted.map { case (tp, o) => s""""$tp":$o""" }.mkString("{", ",", "}")
}

private[sources] object KafkaLogOffset {
  private val Entry = """"([^"]+)"\s*:\s*(\d+)""".r
  def fromJson(json: String): KafkaLogOffset = {
    val t = json.trim
    require(t.startsWith("{") && t.endsWith("}"), s"Corrupt graft-kafkalog offset: '$json'")
    KafkaLogOffset(Entry.findAllMatchIn(t).map(m => m.group(1) -> m.group(2).toLong).toMap)
  }
}

/** One topic-partition's admitted range plus its segment files
  * (path, length, baseOffset), sorted by base offset.
  */
private[sources] case class KafkaLogSlice(
    topic: String,
    partition: Int,
    startOffset: Long,
    endOffset: Long,
    segments: Seq[(String, Long, Long)]
) {
  def records: Long = endOffset - startOffset
}

/** One task's share of a batch: slices of distinct topic-partitions,
  * read one after another.
  */
private[sources] case class KafkaLogPartition(slices: Seq[KafkaLogSlice]) extends InputPartition

private[sources] class KafkaLogMicroBatchStream(root: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow with BroadcastHadoopConf {
  private val log = LoggerFactory.getLogger(getClass)
  private def spark = SparkSession.active
  private val maxRecordsPerTrigger =
    Option(options.get("maxrecordspertrigger")).map(_.toLong).filter(_ > 0)

  private val TpDir = """(.+)-(\d+)""".r

  /** topicPartition dir name -> sorted segment files (path, len, baseOffset). */
  private def listSegments(): Map[String, Seq[(String, Long, Long)]] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    fs.listStatus(p).filter(_.isDirectory).collect {
      case st if TpDir.pattern.matcher(st.getPath.getName).matches() =>
        val segs = fs.listStatus(st.getPath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".log"))
          .map(s => (s.getPath.toString, s.getLen, s.getPath.getName.stripSuffix(".log").toLong))
          .sortBy(_._3).toSeq
        st.getPath.getName -> segs
    }.toMap
  }

  /** Log-end offset per partition: header-skip the LAST segment only. */
  private[sources] def endOffsets(): Map[String, Long] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    listSegments().map { case (tp, segs) =>
      tp -> segs.lastOption.map { case (path, len, base) =>
        val in = fs.open(new Path(path))
        try {
          val it = KafkaLogFormat.readSegment(in, len, path, skipPayloadsOnly = true)
          var end = base
          while (it.hasNext) end = it.next().offset + 1
          end
        } finally in.close()
      }.getOrElse(0L)
    }
  }

  @volatile private var availableNowEnd: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowEnd = Some(endOffsets())
    log.info(s"AvailableNow end offsets pinned at $availableNowEnd")
  }

  override def initialOffset(): Offset = KafkaLogOffset(Map.empty) // absent partition = 0

  override def deserializeOffset(json: String): Offset = KafkaLogOffset.fromJson(json)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** The log end the last `latestOffset` call saw (the pinned end under
    * AvailableNow), kept for [[reportLatestOffset]] so a trigger does not
    * list and header-skim every partition a second time. Never older than
    * one `latestOffset` call — Spark's own Kafka source keeps its
    * `latestPartitionOffsets` the same way.
    */
  @volatile private var lastSeenEnd: Option[Map[String, Long]] = None

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[KafkaLogOffset].offsets
    val end = availableNowEnd.getOrElse(endOffsets())
    lastSeenEnd = Some(end)
    val admitted = maxRecordsPerTrigger match {
      case None => end
      case Some(budget) =>
        // max-min fair share: walk partitions by ASCENDING backlog
        // (name-tiebroken), giving each an equal split of the budget
        // still unspent — a partition with less backlog than its share
        // takes only its backlog and the surplus rolls forward, so a hot
        // partition can never starve a quiet one within the batch, and
        // integer-division remainders land on the deepest backlogs.
        var remaining = math.max(budget, 0L)
        val byBacklog = end.toSeq
          .map { case (tp, e) =>
            val s = from.getOrElse(tp, 0L)
            (tp, s, math.max(e - s, 0L))
          }
          .sortBy { case (tp, _, backlog) => (backlog, tp) }
        var partsLeft = byBacklog.size
        byBacklog.map { case (tp, s, backlog) =>
          val fair = if (partsLeft > 0) remaining / partsLeft else 0L
          val take = math.min(backlog, fair)
          remaining -= take
          partsLeft -= 1
          tp -> (s + take)
        }.toMap
    }
    val merged = (from.keySet ++ admitted.keySet)
      .map(tp => tp -> math.max(from.getOrElse(tp, 0L), admitted.getOrElse(tp, 0L))).toMap
    KafkaLogOffset(merged)
  }

  override def latestOffset(): Offset =
    throw new IllegalStateException("latestOffset(Offset, ReadLimit) should be called instead")
  override def reportLatestOffset(): Offset = KafkaLogOffset(lastSeenEnd.getOrElse(endOffsets()))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    plan(start.asInstanceOf[KafkaLogOffset].offsets, end.asInstanceOf[KafkaLogOffset].offsets)

  /** One slice per topic-partition with records in `[from, to)`, packed
    * into at most `defaultParallelism` partitions so a batch runs as one
    * wave of tasks ([[KafkaLogMicroBatchStream.pack]]). A topic-partition
    * with nothing admitted yields no slice.
    */
  private[sources] def plan(
      from: Map[String, Long],
      to: Map[String, Long]
  ): Array[InputPartition] = {
    val segs = listSegments()
    val slices = to.toSeq.sorted.flatMap { case (tp, e) =>
      val s = from.getOrElse(tp, 0L)
      if (e <= s) None
      else {
        val TpDir(topic, pnum) = tp
        val all = segs.getOrElse(tp, Nil)
        // keep segments that can contain [s, e): a segment holds offsets
        // from its base up to its successor's base (a linear scan over the
        // listed names, no file reads)
        val wanted = all.zipWithIndex.filter { case (_, i) =>
          val nextBase = all.lift(i + 1).map(_._3).getOrElse(Long.MaxValue)
          nextBase > s && all(i)._3 < e
        }.map(_._1)
        Some(KafkaLogSlice(topic, pnum.toInt, s, e, wanted))
      }
    }
    KafkaLogMicroBatchStream
      .pack(slices, spark.sparkContext.defaultParallelism)
      .map(KafkaLogPartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = KafkaLogReaderFactory(hadoopConf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object KafkaLogMicroBatchStream {

  /** Pack slices into at most `bins` partitions balanced by admitted record
    * count: largest slice first, each into the partition with the fewest
    * records so far (ties to the lower index, so a plan is deterministic).
    * The inverse of Spark's Kafka `minPartitions`: a batch of many small
    * slices runs as one wave of tasks instead of several.
    */
  private[sources] def pack(slices: Seq[KafkaLogSlice], bins: Int): Array[Seq[KafkaLogSlice]] = {
    val n = math.min(math.max(bins, 1), slices.size)
    val packed = Array.fill(n)(Vector.empty[KafkaLogSlice])
    val lightest = scala.collection.mutable.PriorityQueue.empty[(Long, Int)](Ordering[(Long, Int)].reverse)
    (0 until n).foreach(i => lightest.enqueue((0L, i)))
    slices.sortBy(s => (-s.records, s.topic, s.partition)).foreach { s =>
      val (load, i) = lightest.dequeue()
      packed(i) :+= s
      lightest.enqueue((load + s.records, i))
    }
    packed.map(_.toSeq)
  }
}

private[sources] case class KafkaLogReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KafkaLogRecordReader(partition.asInstanceOf[KafkaLogPartition], conf.value.value)
}

/** Streams the records of a partition's slices in turn, each slice's
  * admitted [start, end) of one topic-partition, one open segment at a
  * time. Frames that end below a slice's start are skipped undecoded, and
  * a segment is read no further than the first frame that starts at or
  * past the slice's end.
  */
private[sources] class KafkaLogRecordReader(
    p: KafkaLogPartition,
    conf: Configuration
) extends PartitionReader[InternalRow] {
  private val sliceIt = p.slices.iterator
  private var slice: KafkaLogSlice = _
  private var topicUtf8: UTF8String = _
  private var segIt: Iterator[(String, Long, Long)] = Iterator.empty
  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private var recIt: Iterator[KafkaLogFormat.Record] = Iterator.empty
  private var current: InternalRow = _

  /** Open the current slice's next segment, else start the next slice;
    * false once every slice is drained.
    */
  private def advance(): Boolean = {
    close()
    if (segIt.hasNext) {
      val (path, len, _) = segIt.next()
      val hp = new Path(path)
      in = hp.getFileSystem(conf).open(hp)
      recIt = KafkaLogFormat.readSegment(
        in, len, path, skipPayloadsOnly = false, from = slice.startOffset, until = slice.endOffset)
      true
    } else if (sliceIt.hasNext) {
      slice = sliceIt.next()
      topicUtf8 = UTF8String.fromString(slice.topic)
      segIt = slice.segments.iterator
      true
    } else false
  }

  override def next(): Boolean = {
    while (true) {
      if (recIt.hasNext) {
        val r = recIt.next()
        if (r.offset >= slice.endOffset) { // slice drained: skip its remaining segments
          segIt = Iterator.empty
          recIt = Iterator.empty
        } else if (r.offset >= slice.startOffset) {
          current = new GenericInternalRow(Array[Any](
            r.key, r.value, topicUtf8, slice.partition, r.offset,
            r.timestampMs * 1000L, KafkaLogFormat.CreateTime))
          return true
        }
      } else if (!advance()) return false
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (in != null) { in.close(); in = null }
}
