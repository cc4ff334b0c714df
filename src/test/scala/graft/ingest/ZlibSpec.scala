package graft.ingest

import graft.SparkSpec
import graft.functions.CompressionFunctions.{zlib_compress, zlib_decompress}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.Deflater
import scala.util.Random

/** Pins the single-buffer zlib kernel: its bytes equal a plain JDK
  * `Deflater` loop's at the same level, it inverts itself across every
  * buffer-growth regime, the SQL expressions agree under codegen and
  * interpretation, and its sizing cannot overflow.
  */
class ZlibSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** Deflate through a fixed 8 KB chunk, the textbook JDK loop. */
  private def referenceDeflate(data: Array[Byte], level: Int, nowrap: Boolean = false): Array[Byte] = {
    val d = new Deflater(level, nowrap)
    try {
      d.setInput(data)
      d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** ~3 MB of newline-delimited audit events, the ingest path's payload. */
  private def auditJson(): Array[Byte] = {
    val rnd = new Random(11)
    val actions = Array("login", "logout", "read", "write", "delete", "grant")
    val sb = new StringBuilder
    var i = 0
    while (sb.length < (3 << 20)) {
      sb.append(s"""{"ts":"2024-03-${1 + i % 28}T${i % 24}:${i % 60}:00Z","user":"u${rnd.nextInt(5000)}",""")
      sb.append(s""""action":"${actions(rnd.nextInt(actions.length))}","status":${200 + rnd.nextInt(4) * 100},""")
      sb.append(s""""bytes":${rnd.nextInt(1 << 20)},"request_id":"${java.lang.Long.toHexString(rnd.nextLong())}"}""")
      sb.append('\n')
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  private lazy val inputs: Seq[(String, Array[Byte])] = {
    val random = new Array[Byte](200 << 10)
    new Random(5).nextBytes(random)
    Seq(
      "empty" -> Array.emptyByteArray,
      "one byte" -> Array[Byte](42),
      "200 KB random" -> random,
      "1 MB zeros" -> new Array[Byte](1 << 20),
      "3 MB audit JSON" -> auditJson()
    )
  }

  test("compress equals a plain Deflater loop at compressing levels, zlib and raw") {
    // level 0 is left out: zlib sizes its stored blocks by the output
    // space it is given, so any two buffer sizes frame them differently
    for ((name, data) <- inputs; level <- Seq(Deflater.DEFAULT_COMPRESSION, 1, 9); nowrap <- Seq(false, true))
      assert(Zlib.compress(data, level, nowrap).sameElements(referenceDeflate(data, level, nowrap)),
        s"$name at level $level, nowrap = $nowrap")
  }

  test("decompress inverts compress, through output larger than the initial buffer") {
    for ((name, data) <- inputs) {
      val c = Zlib.compress(data)
      assert(Zlib.decompress(c).sameElements(data), name)
      assert(Zlib.decompress(Zlib.compress(data, nowrap = true), nowrap = true).sameElements(data), name)
    }
    // the cases that outgrow `len / 3` (deflate) and `len * 3` (inflate)
    val random = inputs.find(_._1 == "200 KB random").get._2
    assert(Zlib.compress(random).length > Zlib.capacity(random.length / 3L))
    val zeros = Zlib.compress(new Array[Byte](1 << 20))
    assert((1 << 20) > 8 * Zlib.capacity(zeros.length * 3L), "inflate doubles at least three times")
  }

  test("graft_zlib_compress/decompress give the kernel's bytes under codegen and interpretation") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(inputs.map(_._2).zipWithIndex, 2).toDF("payload", "id")
    def run(mode: String): Map[Int, (Array[Byte], Array[Byte])] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("id"), zlib_compress(col("payload")).as("z"))
        .select(col("id"), col("z"), zlib_decompress(col("z")).as("back"))
        .collect().map(r => r.getInt(0) -> (r.getAs[Array[Byte]]("z"), r.getAs[Array[Byte]]("back"))).toMap
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    val codegen = run("CODEGEN_ONLY")
    val interpreted = run("NO_CODEGEN")
    for (((name, data), i) <- inputs.zipWithIndex; (z, back) <- Seq(codegen(i), interpreted(i))) {
      assert(z.sameElements(Zlib.compress(data)), name)
      assert(back.sameElements(data), name)
    }
  }

  test("buffer sizing clamps in Long and fails loudly past the largest array") {
    assert(Zlib.capacity(0L) == 64)
    assert(Zlib.capacity(Int.MaxValue * 3L) == Zlib.MaxArrayLength)
    assert(Zlib.capacity((Int.MaxValue - 1) / 3L) == (Int.MaxValue - 1) / 3)
    assert(Zlib.grow(new Array[Byte](64)).length == 128)
    assert(Zlib.grow(new Array[Byte](60), limit = 100).length == 100)
    val e = intercept[IllegalStateException](Zlib.grow(new Array[Byte](100), limit = 100))
    assert(e.getMessage.contains("largest byte array (100 bytes)"))
  }
}
