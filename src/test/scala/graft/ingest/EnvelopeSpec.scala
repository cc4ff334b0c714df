package graft.ingest

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import java.util.Base64
import java.util.zip.{DataFormatException, Deflater}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

class EnvelopeSpec extends AnyFunSuite with TimeLimits {
  private lazy val (pub, priv) = Envelope.generateKeyPair()

  test("zlib round-trip identity") {
    val data = "hello audit data" * 100
    val c = Zlib.compress(data.getBytes("UTF-8"))
    assert(c.length < data.length)
    assert(new String(Zlib.decompress(c), "UTF-8") == data)
  }

  test("zlib emits RFC1950 framing (0x78 header), not gzip") {
    // The reference uses python zlib.compress — raw zlib, despite the
    // `.gz.enc` suffix (audit_data_ingest.py:117,119).
    val c = Zlib.compress("x".getBytes)
    assert((c(0) & 0xff) == 0x78)
  }

  test("zlib handles empty input") {
    assert(Zlib.decompress(Zlib.compress(Array.emptyByteArray)).isEmpty)
  }

  test("a preset-dictionary (FDICT) stream fails instead of spinning forever") {
    val d = new Deflater()
    val withDict = try {
      d.setDictionary("audit record".getBytes)
      d.setInput(("audit record " * 100).getBytes)
      d.finish()
      val buf = new Array[Byte](4096)
      val n = d.deflate(buf)
      assert(d.finished())
      buf.take(n)
    } finally d.end()
    assert((withDict(1) & 0x20) != 0, "FDICT bit set in the zlib header")
    // Inflater returns 0 forever on such a stream; the decode runs on its
    // own thread so a regression fails on the timeout instead of hanging
    implicit val signaler: Signaler = ThreadSignaler
    val e = failAfter(Span(30, Seconds)) {
      intercept[DataFormatException] {
        Await.result(Future(Zlib.decompress(withDict))(ExecutionContext.global), Duration.Inf)
      }
    }
    assert(e.getMessage.contains("preset dictionary"))
  }

  test("a stream truncated mid-body fails with DataFormatException") {
    val rnd = new Random(3)
    val words = Array("audit ", "record ", "user ", "login ")
    val body = Array.fill(20000)(words(rnd.nextInt(words.length))).mkString
    val c = Zlib.compress(body.getBytes("UTF-8"))
    assert(intercept[DataFormatException](Zlib.decompress(c.take(c.length / 2))).getMessage == "truncated zlib stream")
    val raw = Zlib.compress(body.getBytes("UTF-8"), nowrap = true)
    assert(intercept[DataFormatException](Zlib.decompress(raw.take(raw.length / 2), nowrap = true))
      .getMessage == "truncated deflate payload")
  }

  test("compress . decompress = id over random byte arrays (property)") {
    val rnd = new Random(42)
    for (_ <- 1 to 50) {
      val bytes = new Array[Byte](rnd.nextInt(100000))
      rnd.nextBytes(bytes)
      assert(Zlib.decompress(Zlib.compress(bytes)).sameElements(bytes))
    }
  }

  test("envelope encrypt produces exactly the 3 reference metadata keys") {
    val obj = Envelope.encrypt("payload".getBytes, pub, "key-id-123")
    assert(obj.metadata.keySet == Set("iv", "ciphertext", "datakeyencryptionkeyid"))
    assert(obj.metadata("datakeyencryptionkeyid") == "key-id-123")
    // iv and ciphertext are valid base64 of the right sizes
    assert(Base64.getDecoder.decode(obj.metadata("iv")).length == Envelope.NonceBytes)
    assert(Base64.getDecoder.decode(obj.metadata("ciphertext")).length == 256) // RSA-2048 block
  }

  test("envelope round-trip: decrypt(encrypt(x)) = x") {
    val payload = "some audit log content".getBytes("UTF-8")
    val obj = Envelope.encrypt(payload, pub, "k")
    assert(Envelope.decrypt(obj, priv).sameElements(payload))
  }

  test("fresh key+nonce per object: same plaintext -> different ciphertext") {
    val p = "same".getBytes
    val a = Envelope.encrypt(p, pub, "k")
    val b = Envelope.encrypt(p, pub, "k")
    assert(!a.ciphertext.sameElements(b.ciphertext))
    assert(a.metadata("iv") != b.metadata("iv"))
    assert(a.metadata("ciphertext") != b.metadata("ciphertext"))
  }

  test("full transform round-trips: inflate(decrypt(encrypt(deflate(x)))) = x (property)") {
    val rnd = new Random(7)
    for (_ <- 1 to 20) {
      val orig = new Array[Byte](rnd.nextInt(20000))
      rnd.nextBytes(orig)
      val obj = Envelope.encrypt(Zlib.compress(orig), pub, "k")
      assert(Zlib.decompress(Envelope.decrypt(obj, priv)).sameElements(orig))
    }
  }

  test("public key survives base64 round-trip (SSM transport shape)") {
    val b64 = Base64.getEncoder.encodeToString(pub.getEncoded)
    val parsed = Envelope.publicKeyFromBase64(b64)
    val obj = Envelope.encrypt("x".getBytes, parsed, "k")
    assert(Envelope.decrypt(obj, priv).sameElements("x".getBytes))
  }

  test("EAX mode: reference-parity envelope (16-byte nonce, discarded tag) round-trips") {
    val payload = "eax mode payload".getBytes
    val obj = Envelope.encrypt(payload, pub, "k", Envelope.AesMode.Eax)
    assert(obj.metadata.keySet == Set("iv", "ciphertext", "datakeyencryptionkeyid"))
    assert(Base64.getDecoder.decode(obj.metadata("iv")).length == Envelope.EaxNonceBytes)
    // tag discarded: ciphertext is CTR output only, same length as plaintext
    assert(obj.ciphertext.length == payload.length)
    assert(Envelope.decrypt(obj, priv, Envelope.AesMode.Eax).sameElements(payload))
  }

  test("wrapKey/unwrapKey round-trips the 16-byte data key") {
    val dk = Envelope.generateDataKey()
    assert(dk.length == 16) // AES-128, matching get_random_bytes(16)
    assert(Envelope.unwrapKey(Envelope.wrapKey(dk, pub), priv).sameElements(dk))
  }
}
