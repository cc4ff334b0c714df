package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** WARC/1.0 codec laws: records and gzip members must survive
  * frame → segment → parse bit-identically in any plain/gzip mix, and
  * every corruption mode must fail loudly (offset + reason), never by
  * silently skipping a record.
  */
class WarcCodecSpec extends AnyFunSuite {

  private def rec(id: Int, body: Array[Byte]): Array[Byte] =
    WarcCodec.record(
      Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:uuid:r-$id>",
        "WARC-Target-URI" -> s"http://h.example.com/doc/$id"
      ),
      body
    )

  test("plain record round-trips headers and block") {
    val body = "HTTP/1.1 200 OK\r\n\r\nhello".getBytes(US_ASCII)
    val parsed = WarcCodec.parse(rec(7, body))
    assert(parsed.size == 1)
    val r = parsed.head
    assert(r.header("WARC-Type").contains("response"))
    assert(r.targetUri == "http://h.example.com/doc/7")
    assert(r.contentLength == body.length)
    assert(java.util.Arrays.equals(r.block, body))
    assert(!r.gzipped)
  }

  test("gzip member round-trips and reports gzipped=true") {
    val body = Array.tabulate[Byte](3000)(i => (i % 251).toByte)
    val parsed = WarcCodec.parse(WarcCodec.gzipMember(rec(3, body)))
    assert(parsed.size == 1)
    assert(parsed.head.gzipped)
    assert(java.util.Arrays.equals(parsed.head.block, body))
  }

  test("mixed plain/gzip segment parses in order") {
    val bodies = (0 until 9).map(i => s"payload-$i".getBytes(US_ASCII))
    val seg = new java.io.ByteArrayOutputStream()
    bodies.zipWithIndex.foreach { case (b, i) =>
      val r = rec(i, b)
      seg.write(if (i % 2 == 0) WarcCodec.gzipMember(r) else r)
    }
    val parsed = WarcCodec.parse(seg.toByteArray)
    assert(parsed.size == bodies.size)
    parsed.zipWithIndex.foreach { case (r, i) =>
      assert(r.targetUri.endsWith(s"/doc/$i"))
      assert(java.util.Arrays.equals(r.block, bodies(i)))
      assert(r.gzipped == (i % 2 == 0))
    }
  }

  test("gzip member with FNAME and FEXTRA optional fields parses") {
    // Hand-frame the RFC 1952 optional fields the JDK writer never emits.
    val record = rec(1, "x".getBytes(US_ASCII))
    val plainGz = WarcCodec.gzipMember(record)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, (0x08 | 0x04).toByte, 0, 0, 0, 0, 0, 0)) // FNAME|FEXTRA
    out.write(Array[Byte](3, 0)) // XLEN=3
    out.write(Array[Byte](1, 2, 3)) // extra field
    out.write("seg-00001.warc".getBytes(US_ASCII)); out.write(0) // FNAME, NUL-terminated
    out.write(plainGz, 10, plainGz.length - 10) // deflate body + trailer from the JDK member
    val parsed = WarcCodec.parse(out.toByteArray)
    assert(parsed.size == 1 && parsed.head.gzipped)
    assert(java.util.Arrays.equals(parsed.head.block, "x".getBytes(US_ASCII)))
  }

  test("CRC32 corruption fails loudly") {
    val gz = WarcCodec.gzipMember(rec(5, "abcdef".getBytes(US_ASCII)))
    gz(gz.length - 5) = (gz(gz.length - 5) ^ 0x40).toByte // flip a CRC bit
    val e = intercept[IllegalArgumentException](WarcCodec.parse(gz))
    assert(e.getMessage.contains("CRC32 mismatch"))
  }

  test("truncated plain record fails loudly") {
    val r = rec(2, "0123456789".getBytes(US_ASCII))
    val e = intercept[IllegalArgumentException](WarcCodec.parse(r.dropRight(6)))
    assert(e.getMessage.contains("truncated"))
  }

  test("missing Content-Length fails loudly") {
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\n\r\n" + "body\r\n\r\n").getBytes(US_ASCII)
    val e = intercept[IllegalArgumentException](WarcCodec.parse(bad))
    assert(e.getMessage.contains("Content-Length"))
  }

  test("a gzip member holding two records is rejected") {
    val two = rec(1, "a".getBytes(US_ASCII)) ++ rec(2, "b".getBytes(US_ASCII))
    val e = intercept[IllegalArgumentException](WarcCodec.parse(WarcCodec.gzipMember(two)))
    assert(e.getMessage.contains("exactly one record"))
  }

  test("property: any record sequence survives a mixed segment round-trip") {
    val genBody = Gen.choose(0, 2048).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    val genSeg = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.zip(genBody, Gen.oneOf(true, false))))
    val p = Prop.forAll(genSeg) { items =>
      val seg = new java.io.ByteArrayOutputStream()
      items.zipWithIndex.foreach { case ((b, gz), i) =>
        val r = rec(i, b)
        seg.write(if (gz) WarcCodec.gzipMember(r) else r)
      }
      val parsed = WarcCodec.parse(seg.toByteArray)
      parsed.size == items.size && parsed.zip(items).zipWithIndex.forall { case ((r, (b, gz)), i) =>
        r.gzipped == gz && java.util.Arrays.equals(r.block, b) && r.targetUri.endsWith(s"/doc/$i")
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.status.toString)
  }
}
