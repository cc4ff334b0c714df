package graft.ingest

import java.security.{KeyFactory, KeyPairGenerator, PrivateKey, PublicKey, SecureRandom}
import java.security.spec.{PKCS8EncodedKeySpec, X509EncodedKeySpec}
import java.util.Base64
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}
import java.util.Arrays
import java.util.zip.{DataFormatException, Deflater, Inflater}

/** zlib (RFC 1950) compression, byte-compatible with Python's
  * `zlib.compress`/`zlib.decompress` used by the reference
  * (audit_data_ingest.py:119) — note the reference writes a `.gz.enc`
  * suffix but the payload is zlib-framed, NOT gzip (no gzip header).
  * `nowrap` gives raw RFC 1951 deflate (Avro's `deflate` codec).
  *
  * Both directions write into one `Array[Byte]`, doubled when full up to
  * the JVM's largest array (past it they throw) and trimmed once; at
  * levels 1-9 the bytes equal any other `Deflater` loop's. `decompress`
  * throws `DataFormatException` on a truncated stream and on an FDICT
  * (preset-dictionary) header, where `Inflater` returns 0 forever.
  */
object Zlib {
  private[ingest] val MaxArrayLength = Int.MaxValue - 8

  /** `wanted` clamped to [64, MaxArrayLength], in `Long` so `len * 3` cannot wrap. */
  private[ingest] def capacity(wanted: Long): Int = math.max(64L, math.min(wanted, MaxArrayLength)).toInt

  private[ingest] def grow(out: Array[Byte], limit: Int = MaxArrayLength): Array[Byte] = {
    if (out.length >= limit) throw new IllegalStateException(s"zlib output exceeds the largest byte array ($limit bytes)")
    Arrays.copyOf(out, math.min(out.length * 2L, limit).toInt)
  }

  def compress(data: Array[Byte], level: Int = Deflater.DEFAULT_COMPRESSION, nowrap: Boolean = false): Array[Byte] = {
    val deflater = new Deflater(level, nowrap)
    try {
      deflater.setInput(data)
      deflater.finish()
      var out = new Array[Byte](capacity(data.length / 3L))
      var len = 0
      while (!deflater.finished()) {
        if (len == out.length) out = grow(out)
        len += deflater.deflate(out, len, out.length - len)
      }
      Arrays.copyOf(out, len)
    } finally deflater.end()
  }

  def decompress(data: Array[Byte], nowrap: Boolean = false): Array[Byte] = {
    val inflater = new Inflater(nowrap)
    try {
      inflater.setInput(data)
      var out = new Array[Byte](capacity(data.length * 3L))
      var len = 0
      while (!inflater.finished()) {
        if (len == out.length) out = grow(out)
        val n = inflater.inflate(out, len, out.length - len)
        // with output space free, no progress means no input or no dictionary
        if (n == 0 && !inflater.finished())
          throw new DataFormatException(
            if (inflater.needsDictionary()) "zlib stream needs a preset dictionary (FDICT)"
            else if (nowrap) "truncated deflate payload"
            else "truncated zlib stream")
        len += n
      }
      Arrays.copyOf(out, len)
    } finally inflater.end()
  }
}

/** One encrypted object: ciphertext plus the 3-key string metadata the
  * reference attaches to every S3 object (audit_data_ingest.py:121-125):
  *   iv                      — b64 AES nonce
  *   ciphertext              — b64 RSA-OAEP-SHA256-wrapped AES data key
  *   datakeyencryptionkeyid  — the configured master-key id
  */
final case class EncryptedObject(ciphertext: Array[Byte], metadata: Map[String, String])

/** DKS-style envelope encryption, re-expressed on JCE.
  *
  * Reference semantics (audit_data_ingest.py:107-126): per file, generate a
  * random 16-byte AES session key, wrap it with RSA PKCS1-OAEP + SHA-256,
  * encrypt the (zlib-compressed) payload with AES-EAX, and emit
  * `{iv, ciphertext, datakeyencryptionkeyid}` metadata. The reference calls
  * only `cipher_aes.encrypt(...)` — the EAX auth tag is computed but
  * DISCARDED (no `encrypt_and_digest`), so its output carries no integrity
  * protection anyway.
  *
  * Two AES modes ([[AesMode]]):
  *  - [[AesMode.Eax]] — reference parity: AES-EAX exactly as pycryptodome
  *    `AES.MODE_EAX` (verified against the EAX paper's published test
  *    vectors, see [[Eax]]), 16-byte nonce, and the tag DISCARDED like
  *    the reference does — stored bytes are CTR output alone.
  *  - [[AesMode.Gcm]] (default) — the hardened mode: AES/GCM/NoPadding
  *    with the auth tag kept inside the ciphertext, identical envelope +
  *    metadata shape. Recommended for new deployments; the reference's
  *    tag-discarding is a faithful quirk, not a feature.
  */
object Envelope {
  sealed trait AesMode
  object AesMode {
    case object Gcm extends AesMode
    case object Eax extends AesMode
  }

  val DataKeyBytes = 16 // AES-128, matching get_random_bytes(16) (audit_data_ingest.py:109)
  val NonceBytes = 12 // GCM-recommended nonce length
  val EaxNonceBytes = 16 // pycryptodome EAX default, what the reference used
  private val GcmTagBits = 128
  private val RsaTransform = "RSA/ECB/OAEPWithSHA-256AndMGF1Padding"

  private val rng = new SecureRandom()

  def generateDataKey(): Array[Byte] = {
    val k = new Array[Byte](DataKeyBytes)
    rng.synchronized(rng.nextBytes(k))
    k
  }

  def generateNonce(len: Int = NonceBytes): Array[Byte] = {
    val n = new Array[Byte](len)
    rng.synchronized(rng.nextBytes(n))
    n
  }

  /** Parse an X.509/SPKI DER public key, optionally base64-wrapped — the
    * reference receives the key base64-encoded from SSM and decodes it
    * (audit_data_ingest.py:78,108).
    */
  def publicKeyFromDer(der: Array[Byte]): PublicKey =
    KeyFactory.getInstance("RSA").generatePublic(new X509EncodedKeySpec(der))

  def publicKeyFromBase64(b64: String): PublicKey =
    publicKeyFromDer(Base64.getDecoder.decode(b64.replaceAll("\\s", "")))

  def privateKeyFromDer(der: Array[Byte]): PrivateKey =
    KeyFactory.getInstance("RSA").generatePrivate(new PKCS8EncodedKeySpec(der))

  /** RSA-OAEP-SHA256 wrap of the data key (audit_data_ingest.py:110-113). */
  def wrapKey(dataKey: Array[Byte], publicKey: PublicKey): Array[Byte] = {
    val c = Cipher.getInstance(RsaTransform)
    c.init(Cipher.ENCRYPT_MODE, publicKey)
    c.doFinal(dataKey)
  }

  def unwrapKey(wrapped: Array[Byte], privateKey: PrivateKey): Array[Byte] = {
    val c = Cipher.getInstance(RsaTransform)
    c.init(Cipher.DECRYPT_MODE, privateKey)
    c.doFinal(wrapped)
  }

  def aesEncrypt(plaintext: Array[Byte], key: Array[Byte], nonce: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new GCMParameterSpec(GcmTagBits, nonce))
    c.doFinal(plaintext)
  }

  def aesDecrypt(ciphertext: Array[Byte], key: Array[Byte], nonce: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"), new GCMParameterSpec(GcmTagBits, nonce))
    c.doFinal(ciphertext)
  }

  /** Full per-object envelope: fresh data key + nonce, wrap, encrypt,
    * 3-key metadata — the Spark-side unit of audit_data_ingest.py:107-125.
    */
  def encrypt(
      plaintext: Array[Byte],
      publicKey: PublicKey,
      masterKeyId: String,
      mode: AesMode = AesMode.Gcm
  ): EncryptedObject = {
    val dataKey = generateDataKey()
    val nonce = mode match {
      case AesMode.Gcm => generateNonce(NonceBytes)
      case AesMode.Eax => generateNonce(EaxNonceBytes)
    }
    val wrapped = wrapKey(dataKey, publicKey)
    val ct = mode match {
      case AesMode.Gcm => aesEncrypt(plaintext, dataKey, nonce)
      case AesMode.Eax => Eax.encrypt(dataKey, nonce, plaintext)._1 // tag discarded (ref :120)
    }
    EncryptedObject(
      ct,
      Map(
        "iv" -> Base64.getEncoder.encodeToString(nonce),
        "ciphertext" -> Base64.getEncoder.encodeToString(wrapped),
        "datakeyencryptionkeyid" -> masterKeyId
      )
    )
  }

  /** Inverse of [[encrypt]] given the wrapping private key. */
  def decrypt(obj: EncryptedObject, privateKey: PrivateKey, mode: AesMode = AesMode.Gcm): Array[Byte] = {
    val nonce = Base64.getDecoder.decode(obj.metadata("iv"))
    val wrapped = Base64.getDecoder.decode(obj.metadata("ciphertext"))
    val dataKey = unwrapKey(wrapped, privateKey)
    mode match {
      case AesMode.Gcm => aesDecrypt(obj.ciphertext, dataKey, nonce)
      case AesMode.Eax => Eax.decrypt(dataKey, nonce, obj.ciphertext, tag = None)
    }
  }

  /** True iff `pubB64` (X.509/SPKI, base64) is the public counterpart of
    * `privDerB64` (PKCS#8 DER, base64) — derived from the private key's
    * CRT parameters and compared by encoding. Never throws: unparseable or
    * non-CRT material is simply "not a pair". Used by the optimizer to
    * prove `decrypt(encrypt(x))` is the identity before eliding it.
    */
  def isKeyPair(pubB64: String, privDerB64: String): Boolean =
    try {
      val priv = privateKeyFromDer(Base64.getDecoder.decode(privDerB64.replaceAll("\\s", "")))
      priv match {
        case crt: java.security.interfaces.RSAPrivateCrtKey =>
          val derived = KeyFactory
            .getInstance("RSA")
            .generatePublic(new java.security.spec.RSAPublicKeySpec(crt.getModulus, crt.getPublicExponent))
          java.util.Arrays.equals(derived.getEncoded, publicKeyFromBase64(pubB64).getEncoded)
        case _ => false
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Test-only helper: generate an RSA-2048 keypair (the reference's key
    * comes from an HSM via SSM; tests need a local stand-in).
    */
  def generateKeyPair(): (PublicKey, PrivateKey) = {
    val gen = KeyPairGenerator.getInstance("RSA")
    gen.initialize(2048)
    val kp = gen.generateKeyPair()
    (kp.getPublic, kp.getPrivate)
  }
}
