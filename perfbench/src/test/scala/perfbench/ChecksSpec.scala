package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Envelope, LocalDirObjectStore, Watermark, Zlib}

class ChecksSpec extends AnyFunSuite {
  private val (pub, priv) = Envelope.generateKeyPair()
  private val expected: Map[String, Array[Byte]] =
    (1 to 5).map(i => s"audit/2021-07-0$i/f$i.json.gz.enc" -> s"""{"event":$i,"pad":"${"x" * (i * 50)}"}""".getBytes(UTF_8)).toMap

  /** A sink landed the way the pipeline lands it: zlib, envelope, put. */
  private def landed(): (LocalDirObjectStore, java.nio.file.Path) = {
    val root = Files.createTempDirectory("checks-spec")
    val store = new LocalDirObjectStore(root.toString)
    expected.foreach { case (k, v) =>
      val obj = Envelope.encrypt(Zlib.compress(v), pub, "key-id")
      store.put(k, obj.ciphertext, obj.metadata)
    }
    (store, root)
  }

  private def failed(checks: Seq[(String, Option[String])]): Set[String] = checks.collect { case (n, Some(_)) => n }.toSet
  private def check(store: LocalDirObjectStore) = Checks.landed(store, "audit/", expected, priv, 1L, expected.size)

  test("a correct sink passes every check") {
    val (store, _) = landed()
    assert(failed(check(store)).isEmpty)
  }

  test("a flipped ciphertext byte fails the round trip") {
    val (store, _) = landed()
    val k = expected.keys.min
    val data = store.get(k)
    data(data.length / 2) = (data(data.length / 2) ^ 1).toByte
    store.put(k, data, store.getMetadata(k))
    assert(failed(check(store)) == Set("roundtrip"))
  }

  test("a dropped metadata key fails the metadata check") {
    val (store, _) = landed()
    val k = expected.keys.max
    store.put(k, store.get(k), store.getMetadata(k) - "iv")
    assert(failed(check(store)).contains("metadata"))
  }

  test("a missing object fails the count and key checks") {
    val (store, root) = landed()
    val k = expected.keys.min
    Files.delete(root.resolve(k))
    Files.delete(root.resolve(k + ".metadata.json"))
    assert(failed(check(store)) == Set("count", "keys"))
  }

  test("a key off the layout fails the layout check") {
    val (store, _) = landed()
    val k = expected.keys.min
    val moved = k.replace("2021-07-0", "day-")
    store.put(moved, store.get(k), store.getMetadata(k))
    assert(failed(Checks.landed(store, "audit/", expected + (moved -> expected(k)), priv, 1L, 0)) == Set("layout"))
  }

  test("a wrong watermark or an object from the non-dated directory fails the day commit") {
    val wm = Files.createTempDirectory("checks-spec").resolve("wm.txt").toString
    val day = java.time.LocalDate.of(2021, 7, 9)
    Watermark.commit(wm, day)
    assert(failed(Checks.dayCommit(wm, day, Seq("audit/2021-07-09/a.gz.enc"), "incoming-tmp")).isEmpty)
    assert(failed(Checks.dayCommit(wm, day.plusDays(1), Nil, "incoming-tmp")) == Set("watermark"))
    assert(failed(Checks.dayCommit(wm, day, Seq("audit/incoming-tmp/a.gz.enc"), "incoming-tmp")) == Set("non_dated"))
  }

  test("a read-back digest that differs from the generator's fails") {
    val want: Checks.Digests = expected.map { case (k, v) => k -> (Checks.sha256Hex(v), v.length.toLong) }
    assert(failed(Checks.readBack(want.size.toLong, want, want)).isEmpty)
    val k = want.keys.min
    assert(failed(Checks.readBack(want.size.toLong, want.updated(k, (Checks.sha256Hex(Array[Byte](1)), 1L)), want)) == Set("digest"))
    assert(failed(Checks.readBack(want.size.toLong - 1, want - k, want)).contains("digest"))
    assert(failed(Checks.readBack(want.size.toLong + 1, want, want)) == Set("rows"))
  }
}
