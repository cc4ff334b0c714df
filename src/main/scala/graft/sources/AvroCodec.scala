package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import graft.ingest.Zlib

/** Avro Object Container File codec — the row-oriented interchange
  * format data platforms hand an ingest engine next to parquet/ORC
  * (q98) and CSV (q99). Writer + streaming parser hand-built from the
  * PUBLISHED Avro 1.12 spec only (the in-image avro-1.12.1 jars serve
  * as the independent cross-check in AvroCodecSpec: bytes we write are
  * read back by `DataFileStream`, bytes `DataFileWriter` produces parse
  * through this reader — interop in both directions):
  *
  *  - file = magic `Obj\1`, file-metadata map (at least `avro.schema`,
  *    `avro.codec`), one 16-byte sync marker, then data blocks;
  *  - block = record count (zigzag varint), byte size of the
  *    (post-codec) payload, payload, sync marker repeated — the marker
  *    is what makes OCF split-seekable: a reader can align to any block
  *    boundary by scanning for it, so blocks are the parallel unit the
  *    same way WARC members are ([[WarcCodec]]);
  *  - `deflate` codec = RFC 1951 RAW deflate (nowrap — zlib headers are
  *    the classic interop mistake);
  *  - primitives: long/int = zigzag varint, string = length varint +
  *    UTF-8 bytes; a record = its fields in schema order, no per-record
  *    framing.
  *
  * The codec handles flat records of long/int/string fields — the
  * `documents` shape; nested unions/arrays are out of scope and the
  * schema parser rejects them loudly rather than mis-decoding.
  */
object AvroCodec {

  val Magic: Array[Byte] = Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte)

  /** Flat record schema: ordered (name, type) with type in
    * {"long", "int", "string"}.
    */
  case class FlatSchema(name: String, fields: Seq[(String, String)]) {
    require(fields.nonEmpty, "empty record schema")
    fields.foreach { case (f, t) =>
      require(Set("long", "int", "string")(t), s"unsupported field type $t for $f")
    }
    def json: String = {
      val fs = fields
        .map { case (f, t) => s"""{"name":"$f","type":"$t"}""" }
        .mkString(",")
      s"""{"type":"record","name":"$name","fields":[$fs]}"""
    }
  }

  /** Minimal schema-JSON reader for the flat shape this codec speaks;
    * anything else (unions, nested records, logical types) fails loudly.
    */
  def parseSchema(json: String): FlatSchema = {
    import org.json4s._
    val v = org.json4s.jackson.JsonMethods.parse(json)
    val name = v \ "name" match { case JString(s) => s; case _ => "record" }
    val fields = v \ "fields" match {
      case JArray(fs) =>
        fs.map { f =>
          val fn = f \ "name" match {
            case JString(s) => s
            case other => throw new IllegalArgumentException(s"malformed field name: $other")
          }
          val ft = f \ "type" match {
            case JString(s) => s
            case other =>
              throw new IllegalArgumentException(
                s"field $fn: only flat long/int/string fields are supported, got $other")
          }
          (fn, ft)
        }
      case other => throw new IllegalArgumentException(s"malformed schema fields: $other")
    }
    FlatSchema(name, fields)
  }

  // ------------------------------------------------------------ varints

  def writeLong(out: ByteArrayOutputStream, n: Long): Unit = {
    var z = (n << 1) ^ (n >> 63) // zigzag
    while ((z & ~0x7fL) != 0L) {
      out.write(((z & 0x7f) | 0x80).toInt)
      z >>>= 7
    }
    out.write(z.toInt)
  }

  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeLong(out, b.length.toLong)
    out.write(b)
  }

  private def writeBytes(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
    writeLong(out, b.length.toLong)
    out.write(b)
  }

  /** Mutable cursor over a byte array (the WavCodec walking style). */
  final class Cursor(val bytes: Array[Byte], var pos: Int) {
    def readLong(): Long = {
      var shift = 0
      var acc = 0L
      var b = 0
      do {
        require(pos < bytes.length, "truncated varint")
        b = bytes(pos) & 0xff
        pos += 1
        acc |= (b & 0x7fL) << shift
        shift += 7
        require(shift <= 70, "varint too long")
      } while ((b & 0x80) != 0)
      (acc >>> 1) ^ -(acc & 1) // un-zigzag
    }
    def readRaw(n: Int): Array[Byte] = {
      require(pos + n <= bytes.length, s"truncated: need $n bytes at $pos")
      val r = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n
      r
    }
    def readString(): String = new String(readRaw(readLong().toInt), UTF_8)
    def atEnd: Boolean = pos >= bytes.length
  }

  // -------------------------------------------------------------- write

  private def encodeRecord(out: ByteArrayOutputStream, schema: FlatSchema, rec: Seq[Any]): Unit = {
    require(rec.length == schema.fields.length,
      s"record arity ${rec.length} != schema arity ${schema.fields.length}")
    schema.fields.zip(rec).foreach {
      case ((_, "long"), v) => writeLong(out, v.asInstanceOf[Long])
      case ((_, "int"), v) => writeLong(out, v.asInstanceOf[Int].toLong)
      case ((_, "string"), v) => writeString(out, v.asInstanceOf[String])
      case ((f, t), _) => throw new IllegalStateException(s"unreachable: $f:$t")
    }
  }

  /** Frame records into one OCF byte array. The sync marker is derived
    * deterministically from the schema (md5) so identical inputs frame
    * identically — the reproducible-fixture property every golden test
    * here relies on; uniqueness across files is not load-bearing for a
    * non-appended container.
    */
  def write(
      schema: FlatSchema,
      records: Iterator[Seq[Any]],
      codec: String = "deflate",
      recordsPerBlock: Int = 1024): Array[Byte] = {
    require(codec == "deflate" || codec == "null", s"unsupported codec $codec")
    val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(schema.json.getBytes(UTF_8)) // 16 bytes
    val out = new ByteArrayOutputStream()
    out.write(Magic)
    // metadata map: one block of 2 entries, then the 0 terminator
    writeLong(out, 2L)
    writeString(out, "avro.schema"); writeBytes(out, schema.json.getBytes(UTF_8))
    writeString(out, "avro.codec"); writeBytes(out, codec.getBytes(UTF_8))
    writeLong(out, 0L)
    out.write(sync)
    records.grouped(recordsPerBlock).foreach { group =>
      val payload = new ByteArrayOutputStream()
      group.foreach(encodeRecord(payload, schema, _))
      val enc = if (codec == "deflate") Zlib.compress(payload.toByteArray, nowrap = true) else payload.toByteArray
      writeLong(out, group.length.toLong)
      writeLong(out, enc.length.toLong)
      out.write(enc)
      out.write(sync)
    }
    out.toByteArray
  }

  // --------------------------------------------------------------- read

  /** Parse a whole OCF: returns the schema and the decoded records
    * (field values in schema order). Verifies magic, codec, every
    * block's sync marker, and per-block record counts.
    */
  def parse(bytes: Array[Byte]): (FlatSchema, Seq[Seq[Any]]) = {
    val c = new Cursor(bytes, 0)
    require(java.util.Arrays.equals(c.readRaw(4), Magic), "not an Avro object container (bad magic)")
    // metadata map: blocks of (count, entries...) until a 0 count; a
    // negative count is |count| followed by a byte-size varint (legal
    // per spec, emitted by some writers for skippability)
    val meta = scala.collection.mutable.Map.empty[String, Array[Byte]]
    var n = c.readLong()
    while (n != 0L) {
      if (n < 0L) { c.readLong(); n = -n } // skip the block byte-size
      var i = 0L
      while (i < n) {
        val k = c.readString()
        val v = c.readRaw(c.readLong().toInt)
        meta(k) = v
        i += 1
      }
      n = c.readLong()
    }
    val schema = parseSchema(new String(
      meta.getOrElse("avro.schema", throw new IllegalArgumentException("missing avro.schema")), UTF_8))
    val codec = meta.get("avro.codec").map(new String(_, UTF_8)).getOrElse("null")
    require(codec == "deflate" || codec == "null", s"unsupported codec $codec")
    val sync = c.readRaw(16)
    val rows = Seq.newBuilder[Seq[Any]]
    while (!c.atEnd) {
      val count = c.readLong()
      val size = c.readLong().toInt
      val raw = c.readRaw(size)
      val data = if (codec == "deflate") Zlib.decompress(raw, nowrap = true) else raw
      val rc = new Cursor(data, 0)
      var i = 0L
      while (i < count) {
        rows += schema.fields.map {
          case (_, "long") => rc.readLong(): Any
          case (_, "int") => rc.readLong().toInt: Any
          case (_, "string") => rc.readString(): Any
          case (f, t) => throw new IllegalStateException(s"unreachable: $f:$t")
        }
        i += 1
      }
      require(rc.atEnd, s"block decoded ${rc.pos} of ${data.length} bytes — schema/data mismatch")
      require(java.util.Arrays.equals(c.readRaw(16), sync),
        "sync marker mismatch — corrupt or mis-framed block")
    }
    (schema, rows.result())
  }
}
