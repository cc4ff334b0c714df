package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized round-trip laws for the Kafka wire formats: ANY sequence of
  * records — null/empty/binary keys and values, arbitrary offsets and
  * timestamps — must survive frame → segment → read back bit-identically,
  * under every framing x codec the reader supports (v1 messages,
  * gzip/snappy v1 wrappers, v2 record batches across the full broker
  * codec table — none/gzip/snappy/lz4/zstd). Plus the varint (zigzag)
  * codec law the v2 format rests on.
  */
class KafkaFramingPropertySpec extends AnyFunSuite {
  import KafkaLogFormat.Record

  private lazy val fs =
    new Path("/").getFileSystem(new org.apache.hadoop.conf.Configuration())

  private def check(p: Prop, n: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  private val bytesOrNullGen: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null.asInstanceOf[Array[Byte]]),
    1 -> Gen.const(Array.emptyByteArray),
    4 -> Gen.choose(0, 64).flatMap(n =>
      Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
  )

  /** 1..8 records at a random base offset with ascending (gapless within
    * the frame, as Kafka producers batch) offsets and arbitrary timestamp
    * jitter around a random base.
    */
  private val recordsGen: Gen[Seq[Record]] = for {
    base <- Gen.choose(0L, 1L << 40)
    n <- Gen.choose(1, 8)
    ts0 <- Gen.choose(0L, 1L << 45)
    recs <- Gen.sequence[Seq[Record], Record]((0 until n).map { i =>
      for {
        dts <- Gen.choose(-1000L, 1000L)
        k <- bytesOrNullGen
        v <- bytesOrNullGen
      } yield Record(base + i, ts0 + dts, k, v)
    })
  } yield recs

  private def same(a: Array[Byte], b: Array[Byte]): Boolean =
    (a == null && b == null) || (a != null && b != null && a.sameElements(b))

  private def roundTrip(frames: Seq[Array[Byte]], base: Long): Seq[Record] = {
    val dir = Files.createTempDirectory("kprop")
    val seg = KafkaLogFormat.writeSegmentFrames(fs, new Path(dir.toString), base, frames)
    val in = fs.open(seg)
    try KafkaLogFormat.readSegment(
      in, fs.getFileStatus(seg).getLen, seg.toString, skipPayloadsOnly = false).toList
    finally {
      in.close()
      fs.delete(new Path(dir.toString), true)
    }
  }

  private def matches(got: Seq[Record], want: Seq[Record]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.offset == w.offset && g.timestampMs == w.timestampMs &&
        same(g.key, w.key) && same(g.value, w.value)
    }

  test("varint zigzag round-trips the full signed-long range") {
    val longGen = Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, 1L, Long.MinValue, Long.MaxValue, Int.MinValue.toLong, Int.MaxValue.toLong))
    check(Prop.forAll(longGen) { v =>
      val out = new java.io.ByteArrayOutputStream()
      KafkaLogFixtures.writeVarLong(out, v)
      val bytes = out.toByteArray
      bytes.length <= 10 &&
        KafkaLogFormat.readVarLong(java.nio.ByteBuffer.wrap(bytes)) == v
    }, n = 500)
  }

  test("every supported framing x codec round-trips arbitrary record sequences bit-identically") {
    import KafkaLogFormat.{NoCodec, GzipCodec, SnappyCodec, Lz4Codec, ZstdCodec}
    // v1 wrappers: the codecs v1-era producers shipped; v2 batches: the
    // full broker table.
    val framingGen = Gen.oneOf(
      Seq("v1" -> NoCodec) ++
        Seq(GzipCodec, SnappyCodec).map("v1wrap" -> _) ++
        Seq(NoCodec, GzipCodec, SnappyCodec, Lz4Codec, ZstdCodec).map("v2" -> _))
    check(Prop.forAll(recordsGen, framingGen) { case (recs, (framing, codec)) =>
      val frames = framing match {
        case "v1" => recs.map(r => KafkaLogFormat.encode(r))
        case "v1wrap" => Seq(KafkaLogFixtures.encodeWrapperV1(recs, codec))
        case "v2" => Seq(KafkaLogFixtures.encodeBatchV2(recs, codec))
      }
      matches(roundTrip(frames, recs.head.offset), recs)
    }, n = 160)
  }

  test("a segment mixing all four framings reads back as the concatenation") {
    check(Prop.forAll(recordsGen) { recs0 =>
      // rebase the same shapes into four consecutive frames
      def shifted(k: Int): Seq[Record] =
        recs0.map(r => r.copy(offset = r.offset + k * recs0.size))
      val parts = (0 until 4).map(shifted)
      val frames =
        parts(0).map(r => KafkaLogFormat.encode(r)) ++
          Seq(
            KafkaLogFixtures.encodeGzipWrapperV1(parts(1)),
            KafkaLogFixtures.encodeBatchV2(parts(2)),
            KafkaLogFixtures.encodeBatchV2(parts(3), KafkaLogFormat.GzipCodec))
      matches(roundTrip(frames, recs0.head.offset), parts.flatten)
    }, n = 40)
  }
}
