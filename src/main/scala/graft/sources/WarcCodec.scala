package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.zip.{CRC32, GZIPOutputStream, Inflater}

/** One parsed WARC record: the named headers (case preserved, first
  * occurrence wins) and the raw content block. `gzipped` records whether
  * the record arrived as its own gzip member — the layout
  * web-archive tooling writes (`.warc.gz` = one gzip member per record,
  * so readers can seek to a record without inflating the whole file).
  */
case class WarcRecord(headers: Map[String, String], block: Array[Byte], gzipped: Boolean) {
  def header(name: String): Option[String] = headers.get(name.toLowerCase)
  def targetUri: String = header("WARC-Target-URI").getOrElse("")
  def contentLength: Long = header("Content-Length").map(_.trim.toLong).getOrElse(-1L)
}

/** WARC/1.0 container codec — the on-disk format of web-crawl corpora
  * (ISO 28500; the Common Crawl layout). Writer + member-wise streaming
  * parser, built from the published format only:
  *
  *  - a record = `WARC/1.0` version line, CRLF header lines, CRLF CRLF,
  *    exactly `Content-Length` block bytes, CRLF CRLF trailer;
  *  - a `.warc.gz` segment = independent gzip members, ONE record per
  *    member, concatenated — members must be read one at a time (a
  *    whole-stream gunzip would lose the record/member alignment that
  *    makes the format seekable), so [[gunzipMember]] walks the RFC 1952
  *    layout by hand: fixed header + flagged optional fields, raw
  *    DEFLATE via `Inflater(nowrap)`, then the CRC32 + ISIZE trailer,
  *    both verified.
  *
  * Scale posture: segments are the unit of parallelism — gzip members
  * are not block-splittable, so (like every public WARC reader) one task
  * owns one segment and throughput scales with segment COUNT. Crawls
  * shard into many ~1 GiB segments, so a 100 TB corpus is ~100k
  * independent tasks, not one giant file.
  */
object WarcCodec {

  private val Crlf = "\r\n"
  private val GzipMagic0 = 0x1f.toByte
  private val GzipMagic1 = 0x8b.toByte

  // ---------------------------------------------------------------- write

  /** Frame one WARC record around a content block. Headers are emitted in
    * the given order; Content-Length is appended automatically.
    */
  def record(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.0").append(Crlf)
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append(Crlf) }
    sb.append("Content-Length: ").append(block.length).append(Crlf).append(Crlf)
    val head = sb.toString.getBytes(US_ASCII)
    val out = new ByteArrayOutputStream(head.length + block.length + 4)
    out.write(head)
    out.write(block)
    out.write(Crlf.getBytes(US_ASCII))
    out.write(Crlf.getBytes(US_ASCII))
    out.toByteArray
  }

  /** An HTTP response block (`application/http;msgtype=response`) — the
    * body a `WARC-Type: response` record carries.
    */
  def httpResponseBlock(contentType: String, body: Array[Byte]): Array[Byte] = {
    val head =
      s"HTTP/1.1 200 OK${Crlf}Content-Type: $contentType${Crlf}Content-Length: ${body.length}$Crlf$Crlf"
        .getBytes(US_ASCII)
    val out = new ByteArrayOutputStream(head.length + body.length)
    out.write(head)
    out.write(body)
    out.toByteArray
  }

  /** Wrap one record as an independent gzip member (the `.warc.gz`
    * member-per-record layout). Fixed mtime/OS byte keep the member
    * deterministic for task retries.
    */
  def gzipMember(recordBytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(recordBytes.length / 2 + 64)
    val gz = new GZIPOutputStream(bos) // writes mtime=0: members are bit-deterministic under task retry
    gz.write(recordBytes)
    gz.close()
    bos.toByteArray
  }

  // ---------------------------------------------------------------- read

  /** Parse a whole segment into its records, walking plain records and
    * gzip members in any mix. Fails loudly (offset + reason) on malformed
    * input — a silently skipped record is corpus loss.
    */
  def parse(segment: Array[Byte]): Seq[WarcRecord] = {
    val out = Seq.newBuilder[WarcRecord]
    var p = 0
    while (p < segment.length) {
      if (p + 1 < segment.length && segment(p) == GzipMagic0 && segment(p + 1) == GzipMagic1) {
        val (member, consumed) = gunzipMember(segment, p)
        val (rec, used) = parseRecord(member, 0)
        if (used != member.length)
          throw new IllegalArgumentException(
            s"WARC: gzip member at offset $p holds ${member.length} bytes but the record ends at $used " +
              "(members must contain exactly one record)")
        out += rec.copy(gzipped = true)
        p += consumed
      } else {
        val (rec, used) = parseRecord(segment, p)
        out += rec
        p = used
      }
    }
    out.result()
  }

  /** Parse one plain record starting at `from`; returns (record, end offset). */
  private def parseRecord(buf: Array[Byte], from: Int): (WarcRecord, Int) = {
    var p = from
    def line(): String = {
      val start = p
      while (p + 1 < buf.length && !(buf(p) == '\r' && buf(p + 1) == '\n')) p += 1
      if (p + 1 >= buf.length)
        throw new IllegalArgumentException(s"WARC: unterminated header line at offset $start")
      val s = new String(buf, start, p - start, US_ASCII)
      p += 2
      s
    }
    val version = line()
    if (!version.startsWith("WARC/"))
      throw new IllegalArgumentException(s"WARC: expected version line at offset $from, got '$version'")
    val headers = Map.newBuilder[String, String]
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i <= 0) throw new IllegalArgumentException(s"WARC: malformed header '$h' near offset $p")
      headers += h.substring(0, i).trim.toLowerCase -> h.substring(i + 1).trim
      h = line()
    }
    val rec = WarcRecord(headers.result(), Array.emptyByteArray, gzipped = false)
    val len = rec.contentLength
    if (len < 0)
      throw new IllegalArgumentException(s"WARC: record at offset $from has no Content-Length")
    if (p + len + 4 > buf.length)
      throw new IllegalArgumentException(
        s"WARC: record at offset $from truncated (need ${len + 4} block+trailer bytes, have ${buf.length - p})")
    val block = java.util.Arrays.copyOfRange(buf, p, p + len.toInt)
    p += len.toInt
    if (!(buf(p) == '\r' && buf(p + 1) == '\n' && buf(p + 2) == '\r' && buf(p + 3) == '\n'))
      throw new IllegalArgumentException(
        s"WARC: record at offset $from missing CRLF CRLF trailer at offset $p")
    (rec.copy(block = block), p + 4)
  }

  /** Read ONE gzip member (RFC 1952) starting at `from`: fixed header,
    * flag-dependent optional fields, raw-DEFLATE body, CRC32 + ISIZE
    * trailer (both verified). Returns (inflated bytes, bytes consumed) —
    * the consumed count is what lets [[parse]] walk member-concatenated
    * segments without an index.
    */
  private[sources] def gunzipMember(buf: Array[Byte], from: Int): (Array[Byte], Int) = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"WARC: bad gzip member at offset $from: $msg")
    if (from + 10 > buf.length) fail("truncated header")
    if (buf(from) != GzipMagic0 || buf(from + 1) != GzipMagic1) fail("bad magic")
    if (buf(from + 2) != 8) fail(s"compression method ${buf(from + 2)} (only DEFLATE=8)")
    val flags = buf(from + 3) & 0xff
    var p = from + 10 // magic(2) method(1) flags(1) mtime(4) xfl(1) os(1)
    if ((flags & 0x04) != 0) { // FEXTRA
      if (p + 2 > buf.length) fail("truncated FEXTRA")
      val xlen = (buf(p) & 0xff) | ((buf(p + 1) & 0xff) << 8)
      p += 2 + xlen
    }
    if ((flags & 0x08) != 0) { while (p < buf.length && buf(p) != 0) p += 1; p += 1 } // FNAME
    if ((flags & 0x10) != 0) { while (p < buf.length && buf(p) != 0) p += 1; p += 1 } // FCOMMENT
    if ((flags & 0x02) != 0) p += 2 // FHCRC
    if (p >= buf.length) fail("truncated optional fields")

    val inflater = new Inflater(true)
    inflater.setInput(buf, p, buf.length - p)
    val out = new ByteArrayOutputStream(4096)
    val chunk = new Array[Byte](8192)
    try {
      while (!inflater.finished()) {
        val n = inflater.inflate(chunk)
        if (n == 0 && inflater.needsInput()) fail("truncated DEFLATE stream")
        out.write(chunk, 0, n)
      }
    } catch {
      case e: java.util.zip.DataFormatException => fail(s"corrupt DEFLATE stream: ${e.getMessage}")
    }
    val deflateBytes = inflater.getBytesRead.toInt
    inflater.end()
    val trailerAt = p + deflateBytes
    if (trailerAt + 8 > buf.length) fail("truncated CRC32/ISIZE trailer")
    def le32(i: Int): Long =
      (buf(i) & 0xffL) | ((buf(i + 1) & 0xffL) << 8) | ((buf(i + 2) & 0xffL) << 16) | ((buf(i + 3) & 0xffL) << 24)
    val data = out.toByteArray
    val crc = new CRC32
    crc.update(data)
    if (crc.getValue != le32(trailerAt))
      fail(f"CRC32 mismatch (stored ${le32(trailerAt)}%08x, computed ${crc.getValue}%08x)")
    if ((data.length & 0xffffffffL) != le32(trailerAt + 4))
      fail(s"ISIZE mismatch (stored ${le32(trailerAt + 4)}, inflated ${data.length})")
    (data, trailerAt + 8 - from)
  }
}
