package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The "Structured Streaming with Kafka source" north star, drained
  * against Kafka-wire-format log segments (no broker in this
  * environment): framing round-trip with CRC verification, AvailableNow
  * drain, exactly-once-resume via the checkpointed offset log, admission
  * control, and the Kafka-source-compatible schema.
  */
class KafkaLogSourceSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSpec.spark
  import KafkaLogFormat.Record

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeTp(root: java.nio.file.Path, tp: String, records: Seq[Record]): Unit = {
    val dir = new Path(root.resolve(tp).toString)
    fs.mkdirs(dir)
    KafkaLogFormat.writeSegment(fs, dir, records)
  }

  private def rec(offset: Long, v: String, k: String = null): Record =
    Record(offset, 1600000000000L + offset, if (k == null) null else k.getBytes, v.getBytes)

  test("wire format round-trips and the CRC catches a flipped payload byte") {
    val dir = Files.createTempDirectory("kwire")
    val seg = KafkaLogFormat.writeSegment(
      fs, new Path(dir.toString),
      Seq(rec(0, "alpha", "k0"), rec(1, "beta"), Record(2, 5L, "k".getBytes, null)))
    val in = fs.open(seg)
    val len = fs.getFileStatus(seg).getLen
    val got = KafkaLogFormat.readSegment(in, len, seg.toString, skipPayloadsOnly = false).toList
    in.close()
    assert(got.map(_.offset) == List(0L, 1L, 2L))
    assert(new String(got.head.value) == "alpha" && new String(got.head.key) == "k0")
    assert(got(1).key == null && got(2).value == null)

    // flip one payload byte of the segment on disk -> loud CRC failure
    // with context (the segment has no .crc sidecar: the frame CRC is
    // the check)
    val onDisk = java.nio.file.Paths.get(seg.toUri.getPath)
    assert(!Files.exists(onDisk.resolveSibling(s".${onDisk.getFileName}.crc")))
    val bytes = Files.readAllBytes(onDisk)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x01).toByte
    Files.write(onDisk, bytes)
    val cin = fs.open(seg)
    val e = intercept[IllegalArgumentException] {
      KafkaLogFormat.readSegment(cin, bytes.length, seg.toString, skipPayloadsOnly = false).toList
    }
    cin.close()
    assert(e.getMessage.contains("CRC mismatch"))
  }

  test("a second segment at the same base offset is refused and the first file keeps its bytes") {
    val dir = new Path(Files.createTempDirectory("kwire-dup").resolve("t-0").toString) // made by the write
    val seg = KafkaLogFormat.writeSegment(fs, dir, Seq(rec(0, "first")))
    val first = Files.readAllBytes(java.nio.file.Paths.get(seg.toUri.getPath))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      KafkaLogFormat.writeSegment(fs, dir, Seq(rec(0, "second")))
    }
    assert(Files.readAllBytes(java.nio.file.Paths.get(seg.toUri.getPath)).sameElements(first))
    assert(fs.listStatus(dir).map(_.getPath.getName).toSeq == Seq(KafkaLogFormat.segmentName(0)))
  }

  test("v2 record batch round-trips; CRC-32C catches a flipped byte in the records area") {
    val dir = Files.createTempDirectory("kwire2")
    val records = Seq(rec(10, "alpha", "k0"), rec(11, "beta"), Record(12, 1600000000099L, "k".getBytes, null))
    val seg = KafkaLogFixtures.writeSegmentV2(fs, new Path(dir.toString), records)
    val in = fs.open(seg)
    val len = fs.getFileStatus(seg).getLen
    val got = KafkaLogFormat.readSegment(in, len, seg.toString, skipPayloadsOnly = false).toList
    in.close()
    assert(got.map(_.offset) == List(10L, 11L, 12L))
    assert(got.map(_.timestampMs) == records.map(_.timestampMs))
    assert(new String(got.head.value) == "alpha" && new String(got.head.key) == "k0")
    assert(got(1).key == null && got(2).value == null)

    // log-end discovery must read lastOffsetDelta from the batch header
    val hin = fs.open(seg)
    val skim = KafkaLogFormat.readSegment(hin, len, seg.toString, skipPayloadsOnly = true).toList
    hin.close()
    assert(skim.map(_.offset) == List(12L), "header skim yields one record at the batch's LAST offset")

    // flip one byte inside the varint records area -> loud CRC-32C failure
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(seg.toUri.getPath))
    bytes(bytes.length - 2) = (bytes(bytes.length - 2) ^ 0x01).toByte
    val corrupt = dir.resolve("corrupt-0")
    java.nio.file.Files.createDirectories(corrupt)
    java.nio.file.Files.write(corrupt.resolve(KafkaLogFormat.segmentName(10)), bytes)
    val cp = new Path(corrupt.resolve(KafkaLogFormat.segmentName(10)).toString)
    val cin = fs.open(cp)
    val e = intercept[IllegalArgumentException] {
      KafkaLogFormat.readSegment(cin, bytes.length, cp.toString, skipPayloadsOnly = false).toList
    }
    cin.close()
    assert(e.getMessage.contains("CRC-32C mismatch"))
  }

  test("gzip v1 wrapper drains into the same rows as its uncompressed twin") {
    val records = (0L until 5L).map(o => rec(o, s"payload-$o", s"k$o"))
    val root = Files.createTempDirectory("kgzip")
    val plainDir = new Path(root.resolve("plain-0").toString)
    val gzDir = new Path(root.resolve("gz-0").toString)
    fs.mkdirs(plainDir); fs.mkdirs(gzDir)
    KafkaLogFormat.writeSegment(fs, plainDir, records)
    KafkaLogFormat.writeSegmentFrames(fs, gzDir, 0L, Seq(KafkaLogFixtures.encodeGzipWrapperV1(records)))

    def readAll(dir: Path): List[(Long, Long, String, String)] = {
      val seg = new Path(dir, KafkaLogFormat.segmentName(0))
      val in = fs.open(seg)
      val got = KafkaLogFormat.readSegment(
        in, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = false).toList
      in.close()
      got.map(r => (r.offset, r.timestampMs, new String(r.key), new String(r.value)))
    }
    assert(readAll(gzDir) == readAll(plainDir))

    // the wrapper's header-skim end offset equals the plain segment's
    val seg = new Path(gzDir, KafkaLogFormat.segmentName(0))
    val in = fs.open(seg)
    val skim = KafkaLogFormat.readSegment(
      in, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = true).toList
    in.close()
    assert(skim.map(_.offset) == List(4L))
  }

  test("gzip-compressed v2 batch and a control batch: inflate one, surface nothing from the other") {
    val dir = Files.createTempDirectory("kgzip2")
    val records = (100L until 104L).map(o => rec(o, s"z$o"))
    val frames = Seq(
      KafkaLogFixtures.encodeBatchV2(records, KafkaLogFormat.GzipCodec),
      KafkaLogFixtures.encodeBatchV2( // txn commit marker shape: reader must yield no rows
        Seq(Record(104L, 1600000000104L, Array[Byte](0, 0, 0, 1), Array[Byte](0, 0))),
        control = true)
    )
    val seg = KafkaLogFormat.writeSegmentFrames(fs, new Path(dir.toString), 100L, frames)
    val in = fs.open(seg)
    val got = KafkaLogFormat.readSegment(
      in, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = false).toList
    in.close()
    assert(got.map(_.offset) == (100L until 104L).toList)
    assert(got.map(r => new String(r.value)) == records.map(r => new String(r.value)).toList)
    // but the control batch still advances the log-end offset, like a broker
    val hin = fs.open(seg)
    val skim = KafkaLogFormat.readSegment(
      hin, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = true).toList
    hin.close()
    assert(skim.map(_.offset) == List(103L, 104L))
  }

  test("snappy/lz4/zstd v2 batches drain into the same rows as their uncompressed twin") {
    import KafkaLogFormat.{SnappyCodec, Lz4Codec, ZstdCodec}
    val records = (0L until 6L).map(o => rec(o, s"codec-payload-$o" * 10, s"k$o"))
    val root = Files.createTempDirectory("kcodecs")
    def readAll(codec: Int, name: String): List[(Long, Long, String, String)] = {
      val dir = new Path(root.resolve(name).toString)
      fs.mkdirs(dir)
      val seg = KafkaLogFixtures.writeSegmentV2(fs, dir, records, codec)
      val in = fs.open(seg)
      val got = KafkaLogFormat.readSegment(
        in, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = false).toList
      in.close()
      got.map(r => (r.offset, r.timestampMs, new String(r.key), new String(r.value)))
    }
    val plain = readAll(KafkaLogFormat.NoCodec, "plain-0")
    assert(readAll(SnappyCodec, "snappy-0") == plain)
    assert(readAll(Lz4Codec, "lz4-0") == plain)
    assert(readAll(ZstdCodec, "zstd-0") == plain)
  }

  test("snappy/lz4 v1 wrappers drain like gzip — incl. the pre-KIP-57 broken-checksum lz4 frame") {
    val records = (0L until 4L).map(o => rec(o, s"snap-$o", s"k$o"))
    val root = Files.createTempDirectory("kv1snap")
    def drain(frame: Array[Byte], name: String): List[(Long, String)] = {
      val dir = new Path(root.resolve(name).toString)
      fs.mkdirs(dir)
      val seg = KafkaLogFormat.writeSegmentFrames(fs, dir, 0L, Seq(frame))
      val in = fs.open(seg)
      val got = KafkaLogFormat.readSegment(
        in, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = false).toList
      in.close()
      got.map(r => (r.offset, new String(r.value)))
    }
    val expected = records.map(r => (r.offset, new String(r.value))).toList
    assert(drain(KafkaLogFixtures.encodeWrapperV1(records, KafkaLogFormat.SnappyCodec), "s-0") == expected)
    // modern (spec-checksum) lz4 framing
    assert(drain(KafkaLogFixtures.encodeWrapperV1(records, KafkaLogFormat.Lz4Codec), "l-0") == expected)
    // v1-era framing: header checksum hashed over the frame magic too
    val broken = KafkaLogFixtures.encodeLz4BrokenWrapperV1(records)
    assert(drain(broken, "l-1") == expected)
    // the broken frame really is rejected by a strict spec decoder
    // (otherwise this test would not be exercising the lenient path)
    val bb = java.nio.ByteBuffer.wrap(broken)
    bb.getLong; bb.getInt // frame header: offset, message_size
    bb.getInt; bb.get; bb.get; bb.getLong // crc, magic, attrs, ts
    val kl = bb.getInt; if (kl > 0) bb.position(bb.position() + kl)
    val vl = bb.getInt
    val wrapped = new Array[Byte](vl); bb.get(wrapped)
    assertThrows[Exception] {
      val in = new net.jpountz.lz4.LZ4FrameInputStream(new java.io.ByteArrayInputStream(wrapped))
      try in.readAllBytes() finally in.close()
    }
    // a frame whose header checksum matches NEITHER convention is
    // corrupt → the lenient decoder rejects instead of guessing
    val neither = wrapped.clone()
    val flg = neither(4)
    var hcPos = 6
    if ((flg & 0x08) != 0) hcPos += 8
    if ((flg & 0x01) != 0) hcPos += 4
    neither(hcPos) = (neither(hcPos) ^ 0x5a).toByte
    val e = intercept[IllegalArgumentException] {
      KafkaLogFormat.lz4DecompressLenient(neither, "corrupt-fixture")
    }
    assert(e.getMessage.contains("neither the spec nor the legacy"), e.getMessage)
  }

  test("out-of-table codec ids are rejected loudly, not silently skipped") {
    val dir = Files.createTempDirectory("kcodec")
    val fsDir = new Path(dir.toString)
    // codec 5 is outside Kafka's public compression table on both formats
    val v1Bad = KafkaLogFormat.encode(rec(0, "x"), attributes = 5)
    val seg = KafkaLogFormat.writeSegmentFrames(fs, fsDir, 0L, Seq(v1Bad))
    val in = fs.open(seg)
    val e = intercept[IllegalArgumentException] {
      KafkaLogFormat.readSegment(
        in, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = false).toList
    }
    in.close()
    assert(e.getMessage.contains("unsupported v1 compression codec 5"))
  }

  test("mixed v1/v2 directory drains both formats through the streaming source") {
    val root = Files.createTempDirectory("kmixed")
    // audit-0: one segment holding a v1 message THEN a v2 batch (post-upgrade roll shape)
    val dir0 = new Path(root.resolve("audit-0").toString)
    fs.mkdirs(dir0)
    KafkaLogFormat.writeSegmentFrames(fs, dir0, 0L, Seq(
      KafkaLogFormat.encode(rec(0, "old-0")),
      KafkaLogFormat.encode(rec(1, "old-1")),
      KafkaLogFixtures.encodeBatchV2(Seq(rec(2, "new-2"), rec(3, "new-3")))
    ))
    // audit-1: pure v2 segment
    val dir1 = new Path(root.resolve("audit-1").toString)
    fs.mkdirs(dir1)
    KafkaLogFixtures.writeSegmentV2(fs, dir1, (0L until 3L).map(o => rec(o, s"b$o")))

    val checkpoint = Files.createTempDirectory("kmixed-ckpt").toString
    val sink = Files.createTempDirectory("kmixed-sink").toString
    val q = spark.readStream.format("graft-kafkalog").option("root", root.toString).load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", sink)
      .start()
    q.awaitTermination(60000)
    assert(!q.isActive)

    val rows = spark.read.parquet(sink).collect()
      .map(r => (r.getString(2), r.getInt(3), r.getLong(4), new String(r.getAs[Array[Byte]](1))))
      .toSet
    assert(rows == Set(
      ("audit", 0, 0L, "old-0"), ("audit", 0, 1L, "old-1"),
      ("audit", 0, 2L, "new-2"), ("audit", 0, 3L, "new-3"),
      ("audit", 1, 0L, "b0"), ("audit", 1, 1L, "b1"), ("audit", 1, 2L, "b2")))

    // restart after a new v2 segment lands: reads ONLY the appended batch
    KafkaLogFixtures.writeSegmentV2(fs, dir1, Seq(rec(3, "b3")))
    val q2 = spark.readStream.format("graft-kafkalog").option("root", root.toString).load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", sink)
      .start()
    q2.awaitTermination(60000)
    val after = spark.read.parquet(sink)
    assert(after.count() == 8, "restart must read ONLY the appended v2 record")
  }

  test("maxRecordsPerTrigger admission that cuts mid-batch resumes inside the v2 batch") {
    val root = Files.createTempDirectory("kmidbatch")
    val dir0 = new Path(root.resolve("t-0").toString)
    fs.mkdirs(dir0)
    KafkaLogFixtures.writeSegmentV2(fs, dir0, (0L until 10L).map(o => rec(o, s"v$o")))
    val stream = new KafkaLogMicroBatchStream(
      root.toString,
      new CaseInsensitiveStringMap(Map("root" -> root.toString, "maxRecordsPerTrigger" -> "4").asJava))
    val first = stream.latestOffset(KafkaLogOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[KafkaLogOffset]
    assert(first.offsets == Map("t-0" -> 4L), "admission lands mid-batch")
    def drain(fromTo: (Map[String, Long], Map[String, Long])): Seq[Long] = {
      val parts = stream.plan(fromTo._1, fromTo._2)
      val factory = stream.createReaderFactory()
      parts.flatMap { p =>
        val r = factory.createReader(p)
        val out = Seq.newBuilder[Long]
        while (r.next()) out += r.get().getLong(4)
        r.close()
        out.result()
      }.toSeq
    }
    assert(drain((Map.empty, first.offsets)) == (0L until 4L))
    val second = stream.latestOffset(first, ReadLimit.allAvailable()).asInstanceOf[KafkaLogOffset]
    assert(second.offsets == Map("t-0" -> 8L))
    assert(drain((first.offsets, second.offsets)) == (4L until 8L),
      "second trigger resumes inside the same batch, no duplicates")
  }

  test("AvailableNow drains two topic-partitions; restart from checkpoint reads only appended records") {
    val root = Files.createTempDirectory("klog")
    writeTp(root, "audit-0", (0L until 5L).map(o => rec(o, s"a0-$o")))
    writeTp(root, "audit-1", (0L until 3L).map(o => rec(o, s"a1-$o")))
    val checkpoint = Files.createTempDirectory("klog-ckpt").toString
    val sink = Files.createTempDirectory("klog-sink").toString

    def drain(): Unit = {
      val q = spark.readStream.format("graft-kafkalog").option("root", root.toString).load()
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", sink)
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }

    drain()
    val first = spark.read.parquet(sink)
    assert(first.count() == 8)
    assert(first.schema.fieldNames.toSeq ==
      Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType"))
    val vals = first.collect().map(r =>
      (r.getString(2), r.getInt(3), r.getLong(4), new String(r.getAs[Array[Byte]](1)))).toSet
    assert(vals.contains(("audit", 0, 4L, "a0-4")) && vals.contains(("audit", 1, 2L, "a1-2")))

    // a new segment lands (base offset = next offset, Kafka's roll shape)
    val dir0 = new Path(root.resolve("audit-0").toString)
    KafkaLogFormat.writeSegment(fs, dir0, (5L until 7L).map(o => rec(o, s"a0-$o")))
    drain()
    val after = spark.read.parquet(sink)
    assert(after.count() == 10, "restart must read ONLY the two appended records")
    assert(after.groupBy().max("offset").head().getLong(0) == 6L)
  }

  test("maxRecordsPerTrigger splits the admission budget max-min fairly across partitions") {
    val root = Files.createTempDirectory("klog-adm")
    writeTp(root, "t-0", (0L until 10L).map(o => rec(o, s"x$o")))
    writeTp(root, "t-1", (0L until 10L).map(o => rec(o, s"y$o")))
    val stream = new KafkaLogMicroBatchStream(
      root.toString,
      new CaseInsensitiveStringMap(Map("root" -> root.toString, "maxRecordsPerTrigger" -> "6").asJava))
    val first = stream.latestOffset(KafkaLogOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[KafkaLogOffset]
    // equal backlogs, even budget: 3 each — no partition starves
    assert(first.offsets == Map("t-0" -> 3L, "t-1" -> 3L))
    val second = stream.latestOffset(first, ReadLimit.allAvailable()).asInstanceOf[KafkaLogOffset]
    assert(second.offsets == Map("t-0" -> 6L, "t-1" -> 6L))
  }

  test("fair-share budget: a quiet partition's surplus rolls to the hot one") {
    val root = Files.createTempDirectory("klog-adm2")
    writeTp(root, "t-0", (0L until 1L).map(o => rec(o, s"x$o")))
    writeTp(root, "t-1", (0L until 10L).map(o => rec(o, s"y$o")))
    val stream = new KafkaLogMicroBatchStream(
      root.toString,
      new CaseInsensitiveStringMap(Map("root" -> root.toString, "maxRecordsPerTrigger" -> "6").asJava))
    val first = stream.latestOffset(KafkaLogOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[KafkaLogOffset]
    // t-0 needs only 1 of its 3-share; the surplus 2 rolls to t-1 (1 + 5 = 6)
    assert(first.offsets == Map("t-0" -> 1L, "t-1" -> 5L))
  }

  private def cappedStream(root: java.nio.file.Path, cap: Int) = new KafkaLogMicroBatchStream(
    root.toString,
    new CaseInsensitiveStringMap(Map("root" -> root.toString, "maxRecordsPerTrigger" -> cap.toString).asJava))

  test("reportLatestOffset: the log end before any latestOffset, the pinned end under AvailableNow") {
    val root = Files.createTempDirectory("klog-report")
    writeTp(root, "t-0", (0L until 6L).map(o => rec(o, s"x$o")))
    writeTp(root, "t-1", (0L until 3L).map(o => rec(o, s"y$o")))
    val logEnd = KafkaLogOffset(Map("t-0" -> 6L, "t-1" -> 3L))
    assert(cappedStream(root, 2).reportLatestOffset() == logEnd)

    val pinned = cappedStream(root, 2)
    pinned.prepareForTriggerAvailableNow()
    // lands after the pin: past the end this run drains to
    KafkaLogFormat.writeSegment(fs, new Path(root.resolve("t-0").toString), (6L until 9L).map(o => rec(o, s"x$o")))
    val first = pinned.latestOffset(KafkaLogOffset(Map.empty), ReadLimit.allAvailable())
    assert(first == KafkaLogOffset(Map("t-0" -> 1L, "t-1" -> 1L)))
    assert(pinned.reportLatestOffset() == logEnd)
    pinned.latestOffset(first, ReadLimit.allAvailable())
    assert(pinned.reportLatestOffset() == logEnd)
  }

  test("reportLatestOffset without AvailableNow: never older than the last latestOffset") {
    val root = Files.createTempDirectory("klog-report2")
    writeTp(root, "t-0", (0L until 4L).map(o => rec(o, s"x$o")))
    val stream = cappedStream(root, 2)
    val first = stream.latestOffset(KafkaLogOffset(Map.empty), ReadLimit.allAvailable())
    assert(stream.reportLatestOffset() == KafkaLogOffset(Map("t-0" -> 4L)))
    KafkaLogFormat.writeSegment(fs, new Path(root.resolve("t-0").toString), (4L until 7L).map(o => rec(o, s"x$o")))
    // kept from the last latestOffset: no second scan of the log per trigger
    assert(stream.reportLatestOffset() == KafkaLogOffset(Map("t-0" -> 4L)))
    stream.latestOffset(first, ReadLimit.allAvailable())
    assert(stream.reportLatestOffset() == KafkaLogOffset(Map("t-0" -> 7L)))
  }

  /** Offsets read by draining every planned partition through the factory. */
  private def drainPlanned(stream: KafkaLogMicroBatchStream, parts: Array[InputPartition]): Seq[(String, Long)] = {
    val factory = stream.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[(String, Long)]
      try while (r.next()) out += ((s"${r.get().getUTF8String(2)}-${r.get().getInt(3)}", r.get().getLong(4)))
      finally r.close()
      out.result()
    }
  }

  test("plan packs one slice per topic-partition into at most defaultParallelism partitions") {
    val cores = spark.sparkContext.defaultParallelism
    val tps = cores + 3
    val root = Files.createTempDirectory("klog-pack")
    (0 until tps).foreach(p => writeTp(root, s"t-$p", (0L until (3L + p)).map(o => rec(o, s"v$p-$o"))))
    val stream = cappedStream(root, 1000)
    // t-0 admits nothing (start == end); every other slice starts at 1
    val from = (0 until tps).map(p => s"t-$p" -> 1L).toMap + ("t-0" -> 3L)
    val to = (0 until tps).map(p => s"t-$p" -> (3L + p)).toMap
    val planned = stream.plan(from, to)
    val parts = planned.map(_.asInstanceOf[KafkaLogPartition])
    assert(parts.length == cores, "more slices than cores: one partition per core")
    val slices = parts.toSeq.flatMap(_.slices)
    assert(slices.map(s => s"${s.topic}-${s.partition}").sorted == (1 until tps).map(p => s"t-$p").sorted,
      "each admitted slice in exactly one partition; the empty slice in none")
    slices.foreach(s => assert(s.startOffset == 1L && s.endOffset == 3L + s.partition))
    // largest first into the lightest partition: loads end within one slice of each other
    val loads = parts.map(_.slices.map(_.records).sum)
    assert(loads.max - loads.min <= slices.map(_.records).max, s"unbalanced: ${loads.toSeq}")
    assert(drainPlanned(stream, planned).sorted ==
      (1 until tps).flatMap(p => (1L until 3L + p).map(o => (s"t-$p", o))).sorted,
      "a packed reader drains each of its slices, start to end, once")

    // fewer slices than cores: one partition each, nothing empty
    val two = stream.plan(Map.empty, Map("t-1" -> 2L, "t-2" -> 5L)).map(_.asInstanceOf[KafkaLogPartition])
    assert(two.map(_.slices.map(s => (s.topic, s.partition, s.startOffset, s.endOffset))).toSeq ==
      Seq(Seq(("t", 2, 0L, 5L)), Seq(("t", 1, 0L, 2L))))
    assert(stream.plan(Map("t-1" -> 4L), Map("t-1" -> 4L)).isEmpty, "nothing admitted, no partition")
  }

  test("the reader factory carries one broadcast conf per stream, not the conf itself") {
    val root = Files.createTempDirectory("klog-conf")
    writeTp(root, "t-0", Seq(rec(0, "x")))
    val stream = cappedStream(root, 10)
    val f1 = stream.createReaderFactory().asInstanceOf[KafkaLogReaderFactory]
    val f2 = stream.createReaderFactory().asInstanceOf[KafkaLogReaderFactory]
    assert(f1.conf.id == f2.conf.id, "every batch of a stream shares one broadcast")
    assert(cappedStream(root, 10).createReaderFactory().asInstanceOf[KafkaLogReaderFactory].conf.id != f1.conf.id)
    val audit = new AuditMicroBatchStream(root.toString, new CaseInsensitiveStringMap(Map("srcDir" -> root.toString).asJava))
    val a1 = audit.createReaderFactory().asInstanceOf[AuditPartitionReaderFactory]
    assert(audit.createReaderFactory().asInstanceOf[AuditPartitionReaderFactory].conf.id == a1.conf.id)
    def serializedBytes(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(o); out.close()
      bos.size()
    }
    val confBytes = serializedBytes(new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    Seq(f1, a1).foreach { f =>
      assert(serializedBytes(f) * 10 < confBytes, s"$f ships ${serializedBytes(f)} bytes; the conf is $confBytes")
    }
  }

  test("frames that end below the start offset are skipped undecoded; a read that covers them still checks CRCs") {
    val root = Files.createTempDirectory("klog-skip")
    val frames = (0L until 4L).map(o => KafkaLogFormat.encode(rec(o, s"v1-$o"))) ++
      Seq(KafkaLogFixtures.encodeBatchV2((4L until 7L).map(o => rec(o, s"v2-$o")))) ++
      (7L until 10L).map(o => KafkaLogFormat.encode(rec(o, s"v1-$o")))
    // flip the last payload byte of the v1 frame at offset 1 and of the v2 batch (4..6)
    val bytes = frames.reduce(_ ++ _)
    def flipLastByteOf(frame: Int): Unit = {
      val at = frames.take(frame + 1).map(_.length).sum - 1
      bytes(at) = (bytes(at) ^ 0x01).toByte
    }
    flipLastByteOf(1)
    flipLastByteOf(4)
    val dir = root.resolve("t-0")
    Files.createDirectories(dir)
    val segFile = dir.resolve(KafkaLogFormat.segmentName(0))
    Files.write(segFile, bytes)
    val seg = new Path(segFile.toString)

    def offsetsFrom(from: Long): List[Long] = {
      val in = fs.open(seg)
      try KafkaLogFormat.readSegment(in, bytes.length, seg.toString, skipPayloadsOnly = false, from = from)
        .map(_.offset).toList
      finally in.close()
    }
    assert(offsetsFrom(7L) == List(7L, 8L, 9L), "both corrupt frames end below 7: never decoded")
    val stream = cappedStream(root, 100)
    assert(drainPlanned(stream, stream.plan(Map("t-0" -> 7L), Map("t-0" -> 9L))).map(_._2) == Seq(7L, 8L))
    // the v2 batch ends at 6: a start of 5 or 6 decodes it
    assert(intercept[IllegalArgumentException](offsetsFrom(6L)).getMessage.contains("CRC-32C mismatch"))
    assert(intercept[IllegalArgumentException](offsetsFrom(2L)).getMessage.contains("CRC-32C mismatch"))
    assert(intercept[IllegalArgumentException](offsetsFrom(0L)).getMessage.contains("CRC mismatch at offset 1"))
    val e = intercept[IllegalArgumentException] {
      drainPlanned(stream, stream.plan(Map("t-0" -> 1L), Map("t-0" -> 3L)))
    }
    assert(e.getMessage.contains("CRC mismatch at offset 1"), e.getMessage)
    // the log-end header skim reads no body past its 15-byte prefix either
    val hin = fs.open(seg)
    try assert(KafkaLogFormat.readSegment(hin, bytes.length, seg.toString, skipPayloadsOnly = true)
      .map(_.offset).toList == List(0L, 1L, 2L, 3L, 6L, 7L, 8L, 9L))
    finally hin.close()
  }

  test("a read stops at the first frame starting at its end, undecoded; a straddling frame is decoded whole") {
    val root = Files.createTempDirectory("klog-until")
    val frames = (0L until 4L).map(o => KafkaLogFormat.encode(rec(o, s"v1-$o"))) ++
      Seq(KafkaLogFixtures.encodeBatchV2((4L until 7L).map(o => rec(o, s"v2-$o")))) ++
      (7L until 10L).map(o => KafkaLogFormat.encode(rec(o, s"v1-$o"))) ++
      Seq(KafkaLogFixtures.encodeGzipWrapperV1((10L until 13L).map(o => rec(o, s"gz-$o")))) ++
      Seq(KafkaLogFormat.encode(rec(13L, "v1-13")))
    // flip the last payload byte of the v1 frame at offset 7
    val bytes = frames.reduce(_ ++ _)
    val at = frames.take(6).map(_.length).sum - 1
    bytes(at) = (bytes(at) ^ 0x01).toByte
    val dir = root.resolve("t-0")
    Files.createDirectories(dir)
    val segFile = dir.resolve(KafkaLogFormat.segmentName(0))
    Files.write(segFile, bytes)
    val seg = new Path(segFile.toString)

    def offsets(from: Long, until: Long): List[Long] = {
      val in = fs.open(seg)
      try KafkaLogFormat.readSegment(in, bytes.length, seg.toString, skipPayloadsOnly = false, from = from, until = until)
        .map(_.offset).toList
      finally in.close()
    }
    assert(offsets(0L, 7L) == (0L until 7L).toList, "the corrupt frame starts at 7: never decoded")
    assert(intercept[IllegalArgumentException](offsets(0L, 8L)).getMessage.contains("CRC mismatch at offset 7"))
    // the v2 batch 4..6 straddles 5, the gzip wrapper 10..12 straddles 11
    assert(offsets(0L, 5L) == (0L until 7L).toList)
    assert(offsets(10L, 11L) == List(10L, 11L, 12L))
    val stream = cappedStream(root, 100)
    assert(drainPlanned(stream, stream.plan(Map.empty, Map("t-0" -> 7L))).map(_._2) == (0L until 7L))
    assert(drainPlanned(stream, stream.plan(Map("t-0" -> 10L), Map("t-0" -> 11L))).map(_._2) == Seq(10L))
    val e = intercept[IllegalArgumentException] {
      drainPlanned(stream, stream.plan(Map("t-0" -> 5L), Map("t-0" -> 8L)))
    }
    assert(e.getMessage.contains("CRC mismatch at offset 7"), e.getMessage)
  }

  test("batch read form scans offset 0 to log end") {
    // more topic-partitions than cores: the batch scan packs them too
    val cores = spark.sparkContext.defaultParallelism
    val root = Files.createTempDirectory("klog-batch")
    (0 until cores + 2).foreach(p => writeTp(root, s"b-$p", (0L until (2L + p)).map(o => rec(o, s"v$p-$o"))))
    val df = spark.read.format("graft-kafkalog").option("root", root.toString).load()
    assert(df.rdd.getNumPartitions == cores)
    val got = df.select("partition", "offset").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got.sorted == (0 until cores + 2).flatMap(p => (0L until 2L + p).map(o => (p, o))))
    assert(df.filter(org.apache.spark.sql.functions.col("offset") === 3L).count() == cores, "b-2 and up hold offset 3")
  }

  test("north star end-to-end: kafka-format stream -> object-store sink, keyed by topic/partition/offset") {
    val root = Files.createTempDirectory("klog-ns")
    writeTp(root, "audit-0", (0L until 3L).map(o => rec(o, s"payload-$o")))
    val out = Files.createTempDirectory("klog-ns-out").toString
    val checkpoint = Files.createTempDirectory("klog-ns-ckpt").toString

    val q = spark.readStream.format("graft-kafkalog").option("root", root.toString).load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("topic", "partition", "offset", "value").foreachPartition {
          rows: Iterator[org.apache.spark.sql.Row] =>
            val store = new graft.ingest.LocalDirObjectStore(out)
            rows.foreach { r =>
              store.put(
                s"${r.getString(0)}/${r.getInt(1)}/${r.getLong(2)}",
                r.getAs[Array[Byte]](3),
                Map("source" -> "kafkalog"))
            }
        }
        ()
      }
      .start()
    q.awaitTermination(60000)

    val store = new graft.ingest.LocalDirObjectStore(out)
    val keys = store.listKeys("audit/")
    assert(keys.size == 3, s"got $keys")
    assert(new String(store.get("audit/0/2")) == "payload-2")
    assert(store.getMetadata("audit/0/2") == Map("source" -> "kafkalog"))
  }
}
