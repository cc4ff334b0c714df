package perfbench

import graft.ingest.{EncryptedObject, Envelope, Zlib}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
}

/** Single-threaded replays of the per-object layers over a workload's own
  * payloads. They are the one-core baseline beside the Spark drain.
  */
object Replay {
  private def mb(bytes: Long): Double = bytes / 1e6

  def zlib(payloads: Seq[Array[Byte]]): (Map[String, Double], Seq[Array[Byte]]) = {
    val raw = payloads.iterator.map(_.length.toLong).sum
    var compressed: Seq[Array[Byte]] = Nil
    val cMs = Fs.timeMs { compressed = payloads.map(p => Zlib.compress(p)) }
    val packed = compressed.iterator.map(_.length.toLong).sum
    val dMs = Fs.timeMs(compressed.foreach(c => Zlib.decompress(c)))
    (Map(
      "Zlib.compress_ms_per_mb" -> cMs / mb(raw),
      "Zlib.decompress_ms_per_mb" -> dMs / mb(packed),
      "Zlib.ratio" -> raw.toDouble / packed
    ), compressed)
  }

  /** Objects in the per-object RSA replays; the AES pass covers all bytes. */
  val EnvelopeObjects = 200

  def envelope(compressed: Seq[Array[Byte]], keys: Keys): Map[String, Double] = {
    val pub = Envelope.publicKeyFromBase64(keys.pubB64)
    val sample = Iterator.continually(compressed).flatten.take(EnvelopeObjects).toSeq
    val dataKey = Envelope.generateDataKey()
    val nonce = Envelope.generateNonce()
    val wrapUs = Fs.timeMs(sample.foreach(_ => Envelope.wrapKey(dataKey, pub))) * 1000 / sample.size
    val wrapped = Envelope.wrapKey(dataKey, pub)
    val unwrapUs = Fs.timeMs(sample.foreach(_ => Envelope.unwrapKey(wrapped, keys.priv))) * 1000 / sample.size
    val aesMs = Fs.timeMs(compressed.foreach(c => Envelope.aesEncrypt(c, dataKey, nonce)))
    var objs: Seq[EncryptedObject] = Nil
    val encUs = Fs.timeMs { objs = sample.map(c => Envelope.encrypt(c, pub, "replay")) } * 1000 / sample.size
    val decUs = Fs.timeMs(objs.foreach(o => Envelope.decrypt(o, keys.priv))) * 1000 / sample.size
    Map(
      "Envelope.wrap_us" -> wrapUs,
      "Envelope.encrypt_us" -> encUs,
      "Envelope.aes_ms_per_mb" -> aesMs / mb(compressed.iterator.map(_.length.toLong).sum),
      "Envelope.unwrap_us" -> unwrapUs,
      "Envelope.decrypt_us" -> decUs
    )
  }
}
