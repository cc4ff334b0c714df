package perfbench

import java.security.PrivateKey
import java.time.LocalDate

import graft.ingest.{EncryptedObject, Envelope, ObjectStore, Watermark, Zlib}

/** Output checks. Each check returns `None` when it passes and a message
  * when it fails; a run counts every failed check as a failed operation.
  */
object Checks {
  val MetadataKeys: Set[String] = Set("iv", "ciphertext", "datakeyencryptionkeyid")

  /** A landed sink against the generator's `expected` key -> plaintext map:
    * the count, the key set, the key layout `{prefix}{day}/{name}.gz.enc`,
    * the exact metadata keys of every object, and a seeded sample that
    * must decrypt and inflate back to its source bytes.
    */
  def landed(
      store: ObjectStore,
      prefix: String,
      expected: Map[String, Array[Byte]],
      priv: PrivateKey,
      sampleSeed: Long,
      sampleSize: Int
  ): Seq[(String, Option[String])] = {
    val keys = store.listKeys(prefix)
    val keySet = keys.toSet
    val layout = ("^" + java.util.regex.Pattern.quote(prefix) + """\d{4}-\d{2}-\d{2}/[^/]+\.gz\.enc$""").r
    def fail(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)
    val missing = expected.keySet -- keySet
    val extra = keySet -- expected.keySet
    val badLayout = keys.filterNot(k => layout.pattern.matcher(k).matches())
    val badMeta = keys.filter(k => store.getMetadata(k).keySet != MetadataKeys)
    val present = expected.keys.filter(keySet).toIndexedSeq.sorted
    val rng = new java.util.SplittableRandom(sampleSeed)
    val sample = if (present.size <= sampleSize) present else Seq.fill(sampleSize)(present(rng.nextInt(present.size)))
    val badRoundTrip = sample.filter { k =>
      try {
        val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv))
        !java.util.Arrays.equals(plain, expected(k))
      } catch { case scala.util.control.NonFatal(_) => true }
    }
    Seq(
      "count" -> fail(keys.size == expected.size, s"landed ${keys.size} objects, expected ${expected.size}"),
      "keys" -> fail(missing.isEmpty && extra.isEmpty,
        s"${missing.size} missing (${missing.take(3).mkString(", ")}), ${extra.size} unexpected (${extra.take(3).mkString(", ")})"),
      "layout" -> fail(badLayout.isEmpty, s"${badLayout.size} keys off the layout, e.g. ${badLayout.take(3).mkString(", ")}"),
      "metadata" -> fail(badMeta.isEmpty, s"${badMeta.size} objects without exactly $MetadataKeys, e.g. ${badMeta.take(3).mkString(", ")}"),
      "roundtrip" -> fail(badRoundTrip.isEmpty, s"${badRoundTrip.size}/${sample.size} sampled objects do not decrypt to their source, e.g. ${badRoundTrip.take(3).mkString(", ")}")
    )
  }

  /** The watermark names the last day, and no key comes from `skippedDir`. */
  def dayCommit(progressFile: String, lastDay: LocalDate, keys: Seq[String], skippedDir: String): Seq[(String, Option[String])] = {
    val wm = scala.util.Try(Watermark.read(progressFile)).toOption.flatten
    val stray = keys.filter(_.contains(skippedDir))
    Seq(
      "watermark" -> (if (wm.contains(lastDay)) None else Some(s"watermark $wm, expected $lastDay")),
      "non_dated" -> (if (stray.isEmpty) None else Some(s"${stray.size} objects from $skippedDir"))
    )
  }

  /** Per-object SHA-256 of plaintext and its length, keyed by object key. */
  type Digests = Map[String, (String, Long)]

  def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  /** Read-back rows against the generator: one row per object, the same
    * keys, and every object's plaintext digest and length equal to its
    * source's.
    */
  def readBack(rows: Long, actual: Digests, expected: Digests): Seq[(String, Option[String])] = {
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    val wrong = expected.keys.filter(k => actual.get(k).exists(_ != expected(k)))
    Seq("rows" -> (if (rows == actual.size) None else Some(s"$rows rows for ${actual.size} distinct keys")),
      "digest" -> (if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) None
      else Some(s"${missing.size} objects not read, ${extra.size} unexpected, ${wrong.size} with other plaintext, " +
        s"e.g. ${(missing ++ extra ++ wrong).take(3).mkString(", ")}")))
  }
}
