package graft.sources

import org.apache.hadoop.fs.Path

import KafkaLogFormat._

/** Writers for the Kafka wire formats that only the specs produce: the
  * codec framings brokers use on disk, compressed v1 wrappers (including
  * the pre-KIP-57 LZ4 framing) and v2 record batches. The plain v1 writer
  * ([[KafkaLogFormat.writeSegment]]) stays in the main tree, where the
  * benchmark fixtures use it.
  */
object KafkaLogFixtures {

  def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(data); g.close()
    bos.toByteArray
  }

  /** Compress `data` with a Kafka codec id, using the SAME stream framings
    * brokers use on disk: gzip = JDK deflate-gzip, snappy = xerial
    * SnappyOutputStream block framing, lz4 = standard LZ4 frame, zstd =
    * standard zstd frame. snappy-java / lz4-java / zstd-jni ship with
    * Spark itself, so executors always have them.
    */
  def compress(codec: Int, data: Array[Byte]): Array[Byte] = codec match {
    case NoCodec => data
    case GzipCodec => gzip(data)
    case SnappyCodec =>
      val bos = new java.io.ByteArrayOutputStream()
      val out = new org.xerial.snappy.SnappyOutputStream(bos)
      out.write(data); out.close()
      bos.toByteArray
    case Lz4Codec =>
      val bos = new java.io.ByteArrayOutputStream()
      val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      out.write(data); out.close()
      bos.toByteArray
    case ZstdCodec =>
      com.github.luben.zstd.Zstd.compress(data)
    case c => throw new IllegalArgumentException(s"unknown compression codec $c")
  }

  /** Frame `data` the way a pre-KIP-57 producer did: a standard LZ4 frame
    * whose header checksum covers the magic bytes too.
    */
  def lz4BrokenFrame(data: Array[Byte]): Array[Byte] = {
    val framed = compress(Lz4Codec, data)
    val flg = framed(4)
    var hcPos = 6
    if ((flg & 0x08) != 0) hcPos += 8
    if ((flg & 0x01) != 0) hcPos += 4
    val xx = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
    framed(hcPos) = ((xx.hash(framed, 0, hcPos, 0) >> 8) & 0xff).toByte
    framed
  }

  def writeVarLong(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7fL) != 0) { out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
    out.write(z.toInt)
  }

  /** Encode records as one gzip wrapper message (v1 compressed message
    * set): inner set carries RELATIVE offsets 0..n-1; the wrapper's
    * offset is the ABSOLUTE offset of the last record — the shape a
    * gzip-configured pre-0.11 producer (or an old log segment) has on
    * disk per the protocol guide.
    */
  def encodeGzipWrapperV1(records: Seq[Record]): Array[Byte] =
    encodeWrapperV1(records, GzipCodec)

  /** Encode a compressed v1 wrapper with any v1-supported codec. */
  def encodeWrapperV1(records: Seq[Record], codec: Int): Array[Byte] = {
    require(records.nonEmpty, "empty wrapper")
    val inner = new java.io.ByteArrayOutputStream()
    records.zipWithIndex.foreach { case (r, i) => inner.write(encode(r.copy(offset = i.toLong))) }
    encode(
      Record(records.last.offset, records.last.timestampMs, null,
        compress(codec, inner.toByteArray)),
      attributes = codec.toByte)
  }

  /** Encode a v1 lz4 wrapper the way a pre-KIP-57 producer framed it
    * (legacy header checksum over the magic bytes): the wrapper shape
    * old mirrored topics still hold on disk.
    */
  def encodeLz4BrokenWrapperV1(records: Seq[Record]): Array[Byte] = {
    require(records.nonEmpty, "empty wrapper")
    val inner = new java.io.ByteArrayOutputStream()
    records.zipWithIndex.foreach { case (r, i) => inner.write(encode(r.copy(offset = i.toLong))) }
    encode(
      Record(records.last.offset, records.last.timestampMs, null,
        lz4BrokenFrame(inner.toByteArray)),
      attributes = Lz4Codec.toByte)
  }

  /** Encode records as one v2 record batch (magic 2) framed the way a
    * modern broker lays it on disk: varint record fields, batch-level
    * CRC-32C over attributes..end, records area optionally compressed
    * with any of Kafka's four codecs. `control` marks a control batch
    * (attributes bit 5) whose records a reader must not surface.
    */
  def encodeBatchV2(
      records: Seq[Record],
      codec: Int = NoCodec,
      control: Boolean = false,
      partitionLeaderEpoch: Int = 0
  ): Array[Byte] = {
    require(records.nonEmpty, "empty batch")
    val base = records.head.offset
    val baseTs = records.head.timestampMs
    val recOut = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      val body = new java.io.ByteArrayOutputStream()
      body.write(0) // record attributes (unused by the format today)
      writeVarLong(body, r.timestampMs - baseTs)
      writeVarLong(body, r.offset - base)
      if (r.key == null) writeVarLong(body, -1L)
      else { writeVarLong(body, r.key.length.toLong); body.write(r.key) }
      if (r.value == null) writeVarLong(body, -1L)
      else { writeVarLong(body, r.value.length.toLong); body.write(r.value) }
      writeVarLong(body, 0L) // header count
      val b = body.toByteArray
      writeVarLong(recOut, b.length.toLong)
      recOut.write(b)
    }
    val recArea = compress(codec, recOut.toByteArray)
    val attributes = (codec | (if (control) 0x20 else 0)).toShort
    val batchLen = V2HeaderLen + recArea.length
    val bb = java.nio.ByteBuffer.allocate(12 + batchLen)
    bb.putLong(base).putInt(batchLen)
    bb.putInt(partitionLeaderEpoch).put(MagicV2)
    val crcPos = bb.position()
    bb.putInt(0) // CRC-32C back-patched below
    bb.putShort(attributes)
    bb.putInt((records.last.offset - base).toInt) // lastOffsetDelta
    bb.putLong(baseTs).putLong(records.map(_.timestampMs).max)
    bb.putLong(-1L).putShort(-1) // producerId, producerEpoch (non-transactional)
    bb.putInt(-1) // baseSequence
    bb.putInt(records.size)
    bb.put(recArea)
    val arr = bb.array()
    bb.putInt(crcPos, crc32cOf(arr, crcPos + 4, arr.length - crcPos - 4).toInt)
    arr
  }

  /** Write records as one v2 single-batch segment file. */
  def writeSegmentV2(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path,
      records: Seq[Record],
      codec: Int = NoCodec
  ): Path =
    writeSegmentFrames(fs, dir, records.head.offset, Seq(encodeBatchV2(records, codec)))
}
