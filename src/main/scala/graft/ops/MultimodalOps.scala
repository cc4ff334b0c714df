package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, processed per partition in
  * batches. The Spark-side machinery (schema, partitioning, batch shape,
  * feature/frame output layout) is real; the codec itself is a
  * deterministic STUB ([[StubCodec]]) because no image/audio libraries
  * exist in this environment — swap `decode` for a real decoder (JavaCV,
  * TwelveMonkeys, ffmpeg-over-pipe) without touching the plumbing.
  */
object MultimodalOps {

  /** A media asset row: opaque payload + typed metadata, the multimodal
    * twin of the ingest pipeline's (path, content) records.
    */
  case class MediaAsset(
      asset_id: Long,
      media_type: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long
  )

  case class MediaFeatures(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      byte_entropy: Double,
      feature: Array[Float]
  )

  case class FrameSample(asset_id: Long, frame_idx: Int, frame_hash: Long)

  /** THE CODEC SEAM. Implement with a real decoder (JavaCV, TwelveMonkeys,
    * ffmpeg-over-a-pipe) and inject it into [[extractFeatures]]/
    * [[sampleFrames]]/[[resize]] — the distributed plumbing (schema,
    * partitioning, batch shape, fan-out layout) never changes.
    *
    * Contract (MultimodalCodecSpec property-checks it over the stub):
    *  - Serializable: instances ship inside task closures;
    *  - deterministic per payload: tasks are retried and speculated, so
    *    decode(p) must be a pure function of the bytes;
    *  - `decode` returns exactly `featureDim` components, each finite and
    *    >= 0, with L1 norm 1 for non-empty payloads (0 for empty) — the
    *    normalization downstream similarity ops assume;
    *  - `sampleFrames` yields at most `maxFrames` frames, indexed
    *    contiguously from 0.
    */
  trait MediaCodec extends Serializable {
    def featureDim: Int

    /** "Decode + feature-extract" one payload into a feature vector. */
    def decode(payload: Array[Byte]): Array[Float]

    /** "Frame sampling": asset -> up to maxFrames (frameIdx, frameHash). */
    def sampleFrames(payload: Array[Byte], strideBytes: Int, maxFrames: Int): Seq[(Int, Long)]

    /** "Resize/transcode" one payload (thumbnailer shape). */
    def resizePayload(payload: Array[Byte], scaleDiv: Int): Array[Byte]
  }

  /** ENGINE-PORTABLE frame hash: the first 15 hex chars (60 bits, safely
    * positive) of the md5 of the byte range, parsed as a long — the same
    * portability argument as the x01/x03/x04 signature families, which is
    * what lets m02's frame rows carry an exact DuckDB oracle
    * (`('0x'||substr(md5(frame),1,15))::BIGINT` on identical bytes). Both
    * codecs hash frames through this, so frame identity semantics stay
    * codec-uniform.
    */
  def frameHash(payload: Array[Byte], from: Int, until: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(payload, from, math.max(0, until - from))
    val hex = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** BYTE-LEVEL portable frame hash: md5 over the LOWERCASE HEX dump of
    * the byte range (then the same 15-hex-char/60-bit prefix as
    * [[frameHash]]). The indirection through hex exists because the
    * oracle engine's md5() accepts only valid-UTF-8 strings — an
    * arbitrary 64-BYTE slice of a multi-byte payload can split a UTF-8
    * sequence and be unrepresentable as a string, but its hex dump
    * always is, on both engines, byte-for-byte. Frame identity
    * semantics are unchanged (hex is injective on bytes).
    */
  def hexFrameHash(payload: Array[Byte], from: Int, until: Int): Long = {
    val hi = math.min(until, payload.length)
    val sb = new java.lang.StringBuilder(math.max(0, hi - from) * 2)
    var i = from
    while (i < hi) { sb.append(f"${payload(i) & 0xff}%02x"); i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val hex = digest.take(8).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Shannon byte entropy (bits/byte) — codec-independent signal used for
    * corrupt/blank-media triage regardless of the injected decoder.
    */
  def byteEntropy(payload: Array[Byte]): Double = {
    if (payload.isEmpty) return 0.0
    val counts = new Array[Long](256)
    payload.foreach(b => counts(b & 0xff) += 1)
    val n = payload.length.toDouble
    counts.foldLeft(0.0) { (acc, c) =>
      if (c == 0) acc else acc - (c / n) * (math.log(c / n) / math.log(2))
    }
  }

  /** Deterministic stand-in for the real media codec (no media libraries
    * exist in this environment). A real implementation decodes
    * pixels/samples; this derives stable pseudo-features from the payload
    * bytes so the distributed plumbing is fully testable end-to-end.
    */
  object StubCodec extends MediaCodec {
    val FeatureDim = 8
    override def featureDim: Int = FeatureDim

    /** Byte histogram folded to FeatureDim buckets, L1-normalised —
      * deterministic in the payload alone.
      */
    override def decode(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Long](FeatureDim)
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) % FeatureDim) += 1
        i += 1
      }
      val total = math.max(1L, payload.length.toLong)
      hist.map(h => (h.toDouble / total).toFloat)
    }

    /** Every strideBytes-th window hashed (portable md5-prefix hash) —
      * the shape of video frame extraction (asset -> many indexed frames).
      */
    override def sampleFrames(payload: Array[Byte], strideBytes: Int, maxFrames: Int): Seq[(Int, Long)] = {
      val n = math.min(maxFrames, math.max(0, payload.length / math.max(1, strideBytes)))
      (0 until n).map { i =>
        val start = i * strideBytes
        val end = math.min(payload.length, start + strideBytes)
        (i, frameHash(payload, start, end))
      }
    }

    /** Deterministic payload-size reduction (every scaleDiv-th byte). */
    override def resizePayload(payload: Array[Byte], scaleDiv: Int): Array[Byte] =
      payload.grouped(scaleDiv).map(_.head).toArray
  }

  /** Batch feature extraction: one pass over payload partitions, no
    * shuffle; parallelism follows the source partitioning by bytes.
    * Equivalent shape to a vectorized-batch UDF: per-partition iterator in,
    * iterator out, constant memory beyond one asset.
    */
  def extractFeatures(assets: Dataset[MediaAsset], codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val payload = Option(a.payload).getOrElse(Array.emptyByteArray)
        MediaFeatures(
          a.asset_id,
          a.media_type,
          payload.length.toLong,
          byteEntropy(payload),
          codec.decode(payload)
        )
      }
    }
  }

  /** Frame sampling: fan-out flatMap (1 asset -> up to maxFrames rows).
    * At scale the output is re-partitionable by (asset_id, frame_idx)
    * for downstream per-frame work.
    */
  def sampleFrames(
      assets: Dataset[MediaAsset],
      strideBytes: Int = 4096,
      maxFrames: Int = 16,
      codec: MediaCodec = StubCodec
  ): Dataset[FrameSample] = {
    import assets.sparkSession.implicits._
    assets.flatMap { a =>
      val payload = Option(a.payload).getOrElse(Array.emptyByteArray)
      codec.sampleFrames(payload, strideBytes, maxFrames).map { case (i, h) =>
        FrameSample(a.asset_id, i, h)
      }
    }
  }

  /** "Resize" stub: deterministic payload-size reduction keeping the
    * metadata contract (width/height scaled) — the plumbing for a real
    * thumbnailer.
    */
  def resize(assets: Dataset[MediaAsset], scaleDiv: Int, codec: MediaCodec = StubCodec): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.map { a =>
      val payload = Option(a.payload).getOrElse(Array.emptyByteArray)
      a.copy(
        payload = codec.resizePayload(payload, scaleDiv),
        width = a.width / scaleDiv,
        height = a.height / scaleDiv
      )
    }
  }

  /** Synthesize a deterministic asset table from the documents corpus —
    * lets the multimodal path run against driver-provided data with no
    * binary fixtures in the repo.
    */
  /** The m-family's synthetic payload boundary, enforced LOUDLY: the
    * byte-replay oracles (m01-m05, m07-m08, m11) replay the codecs
    * char-by-char in SQL (`string_split` + `ascii()` / `substr`), which
    * is byte-faithful only for 7-bit text. US_ASCII getBytes would
    * silently map every non-ASCII char to '?' (0x3F) - and the
    * cast-to-binary path would emit multi-byte UTF-8 - while the SQL
    * side sees codepoints: divergent results with NO error, the one
    * failure mode worse than a crash. A corpus with multi-byte text
    * needs byte-level oracles (DuckDB blob functions) before these
    * queries can claim it; until then the boundary fails loudly
    * (MultimodalAsciiSpec pins both paths).
    */
  private[ops] def asciiPayload(text: String): Array[Byte] = {
    var i = 0
    while (i < text.length) {
      require(text.charAt(i) < 128,
        s"m-family byte-replay oracles are pinned to ASCII corpora: char " +
          f"U+${text.charAt(i).toInt}%04X at index $i would be silently mangled " +
          "(US_ASCII encodes it as '?') while the SQL replay sees its codepoint - " +
          "byte-level oracles are required for multi-byte text")
      i += 1
    }
    text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Column twin of [[asciiPayload]] for the untyped path: UTF-8 and
    * the char-level SQL replay agree iff every char is single-byte.
    */
  private[ops] def asciiPayloadCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(length(text) =!= octet_length(text),
      raise_error(concat(lit("m-family byte-replay oracles are pinned to ASCII corpora: "),
        lit("multi-byte text needs byte-level oracles - doc text begins '"),
        substring(text, 1, 24), lit("'"))))
      .otherwise(text.cast("binary"))

  /** The multi-byte probe appended to every doc for the BYTE-LEVEL
    * oracle paths (m01/m11/m12): 'é' (2 UTF-8 bytes), '中' (3), '€' (3)
    * — so every payload in those queries contains bytes ≥ 0x80 and the
    * oracle compare would fail loudly if either engine fell back to
    * codepoint (char-level) semantics anywhere. Built from escapes, not
    * literals, so source-encoding drift can never change the fixture;
    * the DuckDB side builds the identical string with chr(233) ||
    * chr(20013) || chr(8364).
    */
  private[ops] val NonAsciiSuffix: String = "é中€"

  /** BYTE-LEVEL payload: the UTF-8 bytes of the doc text with
    * [[NonAsciiSuffix]] appended — the m-family boundary the char-level
    * replay could not cross ([[asciiPayload]]'s guard), now in-gate:
    * DuckDB replays these payloads byte-by-byte via hex(encode(...))
    * pair extraction (BLOB functions), never through ascii()/substr
    * codepoint semantics.
    */
  private[ops] def utf8Payload(text: String): Array[Byte] =
    (text + NonAsciiSuffix).getBytes(java.nio.charset.StandardCharsets.UTF_8)


  def syntheticAssets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    Tables
      .t(spark, dir, "documents")
      .select(
        col("doc_id").as("asset_id"),
        when(col("doc_id") % 3 === 0, "image").when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("media_type"),
        asciiPayloadCol(col("text")).as("payload"),
        (pmod(col("doc_id"), lit(640)) + 1).cast("int").as("width"),
        (pmod(col("doc_id"), lit(480)) + 1).cast("int").as("height"),
        (col("n_chars") * 10).as("duration_ms")
      )
      .as[MediaAsset]
  }

  /** The asset table over BYTE-LEVEL payloads: UTF-8 bytes of the
    * [[NonAsciiSuffix]]-augmented text — every payload contains
    * multi-byte characters, and no path through here touches the
    * [[asciiPayloadCol]] guard. `encode(_, 'UTF-8')` is codegen'd; the
    * payload column is ordinary BINARY all the way to the codec seam.
    */
  def syntheticAssetsUtf8(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    Tables
      .t(spark, dir, "documents")
      .select(
        col("doc_id").as("asset_id"),
        when(col("doc_id") % 3 === 0, "image").when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("media_type"),
        encode(concat(col("text"), lit(NonAsciiSuffix)), "UTF-8").as("payload"),
        (pmod(col("doc_id"), lit(640)) + 1).cast("int").as("width"),
        (pmod(col("doc_id"), lit(480)) + 1).cast("int").as("height"),
        (col("n_chars") * 10).as("duration_ms")
      )
      .as[MediaAsset]
  }

  val queries: Map[String, Tables.Q] = Map(
    // Media feature extraction over binary payloads — EXACT-oracle at
    // BYTE level: payloads are the UTF-8 bytes of the multi-byte-
    // augmented text ([[syntheticAssetsUtf8]] — every payload contains
    // bytes ≥ 0x80), and DuckDB replays the byte histogram from
    // hex(encode(...)) pair extraction, never per-CHAR ascii() — the
    // byte-level oracle the old ASCII guard demanded before multi-byte
    // corpora could be in-gate. The float32 leading feature is emitted
    // as its exact integer numerator (count of bytes in stub bucket 0,
    // recovered via round(f0*n) — exact for n < 2^24) plus the fraction
    // recomputed in double from that integer, so no float32 value ever
    // crosses the hash compare. Entropy is a double all the way through
    // (byteEntropy), rounded 4dp.
    "m01_media_features" -> ((s, dir) => {
      extractFeatures(syntheticAssetsUtf8(s, dir))
        .toDF()
        .select(
          col("asset_id"),
          col("media_type"),
          col("n_bytes"),
          round(col("byte_entropy"), 4).as("byte_entropy"),
          round(element_at(col("feature"), 1).cast("double") * col("n_bytes")).cast("long").as("f0_count"))
        .withColumn("f0", round(col("f0_count").cast("double") / greatest(col("n_bytes"), lit(1L)), 4))
        .orderBy("asset_id")
    }),
    // Frame sampling fan-out — EXACT-oracle: frames are fixed-stride byte
    // slices and the frame hash is the portable md5-prefix ([[frameHash]]),
    // so DuckDB rebuilds each frame with substr and hashes it identically.
    "m02_frame_samples" -> ((s, dir) => {
      sampleFrames(syntheticAssets(s, dir), strideBytes = 64, maxFrames = 4)
        .toDF()
        .orderBy("asset_id", "frame_idx")
    }),
    // BYTE-LEVEL frame sampling — m02's shape over the multi-byte
    // payloads ([[syntheticAssetsUtf8]]): frames are fixed-stride
    // 64-BYTE slices (which freely split UTF-8 sequences — exactly
    // what a real binary media payload looks like), hashed through
    // [[hexFrameHash]] so the oracle replays identity from the hex
    // dump on both engines. Same fan-out flatMap plumbing, no shuffle.
    "m12_frame_samples_bytes" -> ((s, dir) => {
      import s.implicits._
      syntheticAssetsUtf8(s, dir)
        .flatMap { a =>
          val payload = Option(a.payload).getOrElse(Array.emptyByteArray)
          val n = math.min(4, payload.length / 64)
          (0 until n).map { i =>
            FrameSample(a.asset_id, i, hexFrameHash(payload, i * 64, i * 64 + 64))
          }
        }
        .toDF()
        .orderBy("asset_id", "frame_idx")
    }),
    // REAL-codec round trip with an EXACT oracle: every document becomes
    // a genuine PPM P6 image (solid color derived from asset_id), encoded
    // to real image bytes on the executors, decoded back through
    // PpmCodec's pixel parser, and the channel-proportion features are
    // closed-form computable — so DuckDB hash-checks an actual
    // encode→decode→featurize media pipeline. Color components are
    // multiples of 85, making every proportion a ratio of small integers
    // whose 4dp rounding is unambiguous across float/double.
    // FRAME-level dedup across assets: group m02's sampled frame hashes
    // and keep hashes appearing in ≥2 distinct assets — the
    // shared-scene/boilerplate-frame detection a video pipeline runs
    // after frame sampling (dedup at a granularity below the whole
    // asset, the m06 counterpart for temporal media). One
    // map-side-combinable agg on the 8-byte frame hash.
    "m07_frame_dedup" -> ((s, dir) => {
      sampleFrames(syntheticAssets(s, dir), strideBytes = 64, maxFrames = 4)
        .toDF()
        .groupBy("frame_hash")
        .agg(
          count(lit(1)).as("n_frames"),
          countDistinct(col("asset_id")).as("n_assets"),
          min(col("asset_id")).as("keeper_asset"))
        .filter(col("n_assets") >= 2)
        .orderBy("frame_hash")
    }),

    // Image NEAR-DUP dedup via perceptual hashing: every doc renders as
    // a real 9x8 grayscale P6 gradient (pattern class = doc_id % 8),
    // encodes and DECODES through PpmCodec on the executors, and the
    // decoded pixels produce the classic 64-bit dHash (horizontal
    // neighbor luminance comparisons). Equal hashes group into dup
    // clusters exactly like d01's content-hash dedup — but over PIXELS,
    // so re-encoded/metadata-differing copies of the same image still
    // collide. The hash is a closed form of the pattern class, so DuckDB
    // replays the whole bit grid and hash-checks the decode path. The
    // hash rides as a 64-char bit string (engine-portable, no BIGINT
    // sign games); grouping is one map-side-combinable agg.
    "m06_phash_dedup" -> ((s, dir) => {
      import s.implicits._
      val hashes = Tables.t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val p = (id % 8).toInt
        val img = PpmCodec.encodePixels(9, 8) { (x, y) =>
          val lum = (17 * (x + 1) * (p + 1) + 31 * y * p) % 256
          (lum, lum, lum)
        }
        val (w, h, px) = PpmCodec.decodePixels(img)
        def lumAt(x: Int, y: Int): Int = {
          val o = 3 * (y * w + x)
          ((px(o) & 0xff) * 299 + (px(o + 1) & 0xff) * 587 + (px(o + 2) & 0xff) * 114) / 1000
        }
        val sb = new StringBuilder(64)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w - 1) { sb.append(if (lumAt(x + 1, y) > lumAt(x, y)) '1' else '0'); x += 1 }
          y += 1
        }
        (id, sb.toString)
      }
      hashes
        .toDF("doc_id", "dhash")
        .groupBy("dhash")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
        .orderBy("dhash")
    }),

    "m04_ppm_features" -> ((s, dir) => {
      import s.implicits._
      val assets = Tables.t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (3 + id % 5).toInt
        val h = (2 + id % 3).toInt
        val r = (85 * (1 + id % 3)).toInt // 1+.. keeps ΣRGB > 0 (black forbidden)
        val g = (85 * (id % 4)).toInt
        val b = (85 * ((id / 3) % 4)).toInt
        MediaAsset(id, "image", PpmCodec.encodeSolid(w, h, r, g, b), w, h, 0L)
      }
      extractFeatures(assets, PpmCodec)
        .toDF()
        .select(
          col("asset_id"),
          col("n_bytes"),
          round(element_at(col("feature"), 1).cast("double"), 4).as("f_r"),
          round(element_at(col("feature"), 2).cast("double"), 4).as("f_g"),
          round(element_at(col("feature"), 3).cast("double"), 4).as("f_b")
        )
        .orderBy("asset_id")
    }),
    // REAL audio-container round trip with an EXACT oracle: every document
    // becomes a genuine RIFF/WAVE file (PCM16 samples derived from its
    // ASCII bytes), encoded on the executors and decoded back through
    // WavCodec's chunk walker (which must skip the odd-sized LIST metadata
    // chunk and honor the pad byte on every row). Features are
    // integer-exact: sample count, byte length (closed-form
    // HeaderBytes + 2n), and sum of squared samples ((ascii-64)*256 ⇒
    // 65536·Σ(ascii-64)², exact in BIGINT) — so DuckDB hash-checks a real
    // encode→parse→featurize audio pipeline from the same text bytes.
    "m05_wav_features" -> ((s, dir) => {
      import s.implicits._
      val feats = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val rate = 8000 + (id % 3).toInt * 4000
          val samples = asciiPayload(text)
            .map(b => ((b - 64) * 256).toShort)
          val wav = WavCodec.encodePcm16(samples, rate)
          val info = WavCodec.parse(wav)
          var sumSq = 0L
          info.samples.foreach(v => sumSq += v.toLong * v)
          (id, wav.length.toLong, info.sampleRate, info.channels, info.bitsPerSample,
            info.samples.length.toLong, sumSq,
            info.sampleRate == rate && java.util.Arrays.equals(info.samples, samples))
        }
        .toDF("doc_id", "n_bytes", "sample_rate", "channels", "bits", "n_samples", "sum_sq", "roundtrip_ok")
      feats.orderBy("doc_id")
    }),
    // Energy-based voice-activity segmentation over REAL decoded audio:
    // each doc's WAV (same PCM16 mapping as m05) round-trips through
    // WavCodec on the executors, the decoded samples frame at 16 samples
    // per frame, a frame is "voiced" when its peak |sample| clears the
    // gate, and consecutive voiced frames merge into segments via the
    // gaps-and-islands rank difference — the VAD-shaped preprocessing an
    // audio-training pipeline runs before transcription/filtering. The
    // islands window partitions by doc_id (high-cardinality), and frames
    // per doc are bounded by doc length. Exact oracle: DuckDB replays
    // frames/peaks/islands from the same ASCII bytes.
    // REAL image downsampling: each doc's bytes become a 16×16 grayscale
    // image, round-trip through the PPM codec on executors, and a 2×
    // box downsample (the bilinear kernel at exact 2× positions)
    // produces the 8×8 thumbnail — the resize step of an image-training
    // pipeline with EXACT pixel math: the 4-pixel box average is integer
    // floor division, so both engines compute identical bytes and the
    // thumbnail's portable md5-prefix hash is an exact oracle column
    // (not a stub decimation like m03). Narrow map, no shuffle.
    "m10_box_downsample" -> ((s, dir) => {
      import s.implicits._
      val feats = Tables.t(s, dir, "documents")
        .where(length(col("text")) >= 256)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val v = text.take(256).map(_.toInt & 0xff).toArray
          val img = PpmCodec.encodePixels(16, 16) { (x, y) => val p = v(y * 16 + x); (p, p, p) }
          val (w, _, px) = PpmCodec.decodePixels(img)
          def gray(x: Int, y: Int): Int = px((y * w + x) * 3) & 0xff
          val out = for (r <- 0 until 8; c <- 0 until 8) yield
            (gray(2 * c, 2 * r) + gray(2 * c + 1, 2 * r) +
              gray(2 * c, 2 * r + 1) + gray(2 * c + 1, 2 * r + 1)) / 4
          (id, 8, 8, out.map(_.toLong).sum, out.mkString(","))
        }
        .toDF("doc_id", "out_w", "out_h", "pix_sum", "csv")
      feats.select(
        col("doc_id"), col("out_w"), col("out_h"), col("pix_sum"),
        round(col("pix_sum").cast("double") / 64.0, 4).as("mean_v"),
        expr("CAST(conv(substr(md5(CAST(csv AS BINARY)), 1, 15), 16, 10) AS BIGINT)").as("resized_hash"))
        .orderBy("doc_id")
    }),

    // REAL PNG round trip ([[PngCodec]] — RFC 2083 on java.util.zip):
    // each doc's ASCII bytes become the RGB pixels of a (3+id%4) x
    // (5+id%3) truecolor image, ENCODED with a rotating per-row filter
    // (id+y) % 5 — height >= 5 means every image exercises ALL FIVE
    // predictive filters (None/Sub/Up/Average/Paeth) — then decoded
    // back through the full chunk/CRC/inflate/unfilter path on the
    // executors. roundtrip_ok pins byte-exact pixel recovery; the
    // per-channel sums are closed-form from the text bytes, so DuckDB
    // hash-checks a genuine compressed-raster decode without ever
    // inflating a byte (the m05 discipline for coded formats: assert
    // the DECODED values, never the implementation-defined compressed
    // length). Narrow map, no shuffle.
    "m11_png_features" -> ((s, dir) => {
      import s.implicits._
      // the empty-text guard keeps the modulo pixel rule total (the
      // fixture has no empty docs today; a future one must not throw
      // on an executor). BYTE-LEVEL payloads ([[utf8Payload]] — the
      // multi-byte-augmented UTF-8 bytes): pixels now span the full
      // 0x00-0xFF range (UTF-8 continuation bytes ≥ 0x80), exercising
      // the Sub/Average/Paeth filters in value ranges 7-bit text never
      // reached; the oracle replays the same bytes from
      // hex(encode(...)) pairs, never per-char ascii()
      val feats = Tables.t(s, dir, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val w = (3 + id % 4).toInt
          val h = (5 + id % 3).toInt
          val bytes = utf8Payload(text)
          val rgb = Array.tabulate(3 * w * h)(k => bytes(k % bytes.length))
          val png = PngCodec.encodeRgb(w, h, rgb, y => ((id + y) % 5).toInt)
          val (dw, dh, back) = PngCodec.decodePixels(png)
          var sr, sg, sb = 0L
          var i = 0
          while (i < back.length) {
            sr += back(i) & 0xff; sg += back(i + 1) & 0xff; sb += back(i + 2) & 0xff
            i += 3
          }
          (id, dw, dh, sr, sg, sb,
            dw == w && dh == h && java.util.Arrays.equals(back, rgb))
        }
        .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b", "roundtrip_ok")
      feats.orderBy("doc_id")
    }),

    // Spectral features over REAL decoded audio: each doc's WAV (the
    // m05 PCM16 mapping) round-trips through WavCodec on the
    // executors, the first 64 decoded samples form one analysis frame,
    // and an 8-bin DFT yields the magnitude spectrum — the front end
    // of every audio-quality / language-ID feature stack. Embarrassingly
    // parallel narrow map (512 cos/sin per doc), no shuffle. Exact
    // oracle discipline for transcendentals: both engines evaluate the
    // SAME expression shapes in the SAME fold order (ascending n; the
    // phase argument is ((2π·k)·n)/64 left-associated; negation
    // commutes with correctly-rounded addition so the im fold matches),
    // samples are descaled by the exact power-of-two 256 so magnitudes
    // stay ≤ ~4k and the 4dp rounding grain dwarfs the ≤1-ulp libm-vs-
    // Math.cos divergence.
    "m09_spectral_features" -> ((s, dir) => {
      import s.implicits._
      val feats = Tables.t(s, dir, "documents")
        .where(length(col("text")) >= 64)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val rate = 8000 + (id % 3).toInt * 4000
          val samples = asciiPayload(text)
            .map(b => ((b - 64) * 256).toShort)
          val decoded = WavCodec.parse(WavCodec.encodePcm16(samples, rate)).samples
          val x = decoded.take(64).map(v => v.toDouble / 256.0)
          (0 until 8).map { k =>
            var re = 0.0
            var im = 0.0
            var n = 0
            while (n < 64) {
              val arg = 2.0 * math.Pi * k * n / 64
              re += x(n) * math.cos(arg)
              im += -(x(n) * math.sin(arg))
              n += 1
            }
            (id, k, math.sqrt(re * re + im * im))
          }
        }
        .toDF("doc_id", "bin", "mag_raw")
      feats
        .select(col("doc_id"), col("bin"), round(col("mag_raw"), 4).as("mag"))
        .orderBy("doc_id", "bin")
    }),

    "m08_voiced_segments" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val samples = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val pcm = asciiPayload(text)
            .map(b => ((b - 64) * 256).toShort)
          val decoded = WavCodec.parse(WavCodec.encodePcm16(pcm, 8000)).samples
          (id, decoded.map(_.toInt))
        }.toDF("doc_id", "samples")
      val fr = samples
        .select(col("doc_id"), posexplode(col("samples")).as(Seq("i", "v")))
        .groupBy(col("doc_id"), floor(col("i") / 16).as("frame"))
        .agg(max(abs(col("v"))).as("peak"))
      val voiced = fr.where(col("peak") >= 14080)
      val segs = voiced
        .withColumn("grp",
          col("frame") - row_number().over(Window.partitionBy("doc_id").orderBy("frame")))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"), max("len").as("longest_segment"))
      fr.groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("peak") >= 14080, 1L).otherwise(0L)).as("n_voiced"))
        .join(segs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"), col("n_voiced"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("longest_segment"), lit(0L)).as("longest_segment"))
        .orderBy("doc_id")
    }),

    // Resize pass: payloads shrunk by the codec (stub: stride-decimate),
    // emitting before/after sizes and the re-extracted leading feature —
    // the downsample-then-refeaturize step of a media pipeline. Narrow
    // per-partition map, no shuffle. EXACT-oracle: the decimated payload
    // is the odd-subscript chars, so DuckDB re-derives the same bytes;
    // the feature rides as its integer numerator like m01.
    "m03_resize_stats" -> ((s, dir) => {
      val before = syntheticAssets(s, dir)
      val after = resize(before, scaleDiv = 2)
      val b = before.toDF().select(col("asset_id"), length(col("payload")).as("orig_bytes"))
      val a = extractFeatures(after)
        .toDF()
        .select(
          col("asset_id"),
          col("n_bytes").as("resized_bytes"),
          round(element_at(col("feature"), 1).cast("double") * col("n_bytes")).cast("long")
            .as("f0_count_resized"))
      b.join(a, "asset_id")
        .select(
          col("asset_id"),
          col("orig_bytes"),
          col("resized_bytes"),
          (col("resized_bytes") <= col("orig_bytes")).as("shrunk"),
          col("f0_count_resized"),
          round(col("f0_count_resized").cast("double") / greatest(col("resized_bytes"), lit(1L)), 4)
            .as("f0_resized"))
        .orderBy("asset_id")
    })
  )

  /** Two oracle regimes. BYTE-LEVEL (m01/m11/m12): payloads are UTF-8
    * bytes of the multi-byte-augmented text, and DuckDB replays them
    * from hex(encode(...)) pair extraction — multi-byte corpora are
    * in-gate on these paths and the ASCII guard is retired there.
    * CHAR-LEVEL (m02/m03/m05/m07-m10): the stub replays char-by-char
    * (histogram buckets via ascii()%8, frames via substr + the portable
    * md5-prefix hash, decimation via odd subscripts), valid only for
    * 7-bit text — [[asciiPayload]] keeps that boundary loud. m04's
    * closed form: a solid-color image's channel proportions are
    * r/(r+g+b) etc., and its byte size is the exact header + 3wh — no
    * text bytes touch that path at all.
    */
  val oracleSql: Map[String, String] = Map(
    "m06_phash_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS p FROM documents),
        |bits AS (SELECT d.doc_id, y.y AS y, x.x AS x,
        |  CASE WHEN (17 * (x.x + 2) * (d.p + 1) + 31 * y.y * d.p) % 256 >
        |            (17 * (x.x + 1) * (d.p + 1) + 31 * y.y * d.p) % 256 THEN '1' ELSE '0' END AS b
        |  FROM d, (SELECT unnest(range(0, 8)) AS y) y, (SELECT unnest(range(0, 8)) AS x) x),
        |h AS (SELECT doc_id, string_agg(b, '' ORDER BY y, x) AS dhash FROM bits GROUP BY 1)
        |SELECT dhash, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // BYTE-LEVEL replay: the payload is the UTF-8 encoding of the
    // multi-byte-augmented text; bytes come from hex() pair extraction
    // on the BLOB (never per-char ascii(), which would see codepoints)
    "m01_media_features" ->
      """WITH d AS (SELECT doc_id, hex(encode(text || chr(233) || chr(20013) || chr(8364))) AS hx,
        |                  octet_length(encode(text || chr(233) || chr(20013) || chr(8364))) AS n
        |           FROM documents),
        |by AS (SELECT doc_id, ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::INT AS b
        |       FROM d, UNNEST(range(0, n)) u(i)),
        |hist AS (SELECT doc_id, b, count(*) AS c FROM by GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        |e AS (SELECT h.doc_id,
        |        round(-sum((CAST(h.c AS DOUBLE) / n.n) * log2(CAST(h.c AS DOUBLE) / n.n)), 4) AS ent,
        |        CAST(coalesce(sum(h.c) FILTER (WHERE h.b % 8 = 0), 0) AS BIGINT) AS f0c
        |      FROM hist h JOIN n USING (doc_id) GROUP BY 1)
        |SELECT e.doc_id AS asset_id,
        |  CASE WHEN e.doc_id % 3 = 0 THEN 'image' WHEN e.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  n.n AS n_bytes, e.ent AS byte_entropy, e.f0c AS f0_count,
        |  round(CAST(e.f0c AS DOUBLE) / greatest(n.n, 1), 4) AS f0
        |FROM e JOIN n USING (doc_id) ORDER BY asset_id""".stripMargin,
    "m12_frame_samples_bytes" ->
      """WITH d AS (SELECT doc_id, lower(hex(encode(text || chr(233) || chr(20013) || chr(8364)))) AS hx,
        |                  octet_length(encode(text || chr(233) || chr(20013) || chr(8364))) AS n
        |           FROM documents),
        |f AS (SELECT doc_id, i, substr(hx, CAST(i * 128 + 1 AS INT), 128) AS frhex
        |      FROM d, UNNEST(range(0, least(4, n // 64))) u(i))
        |SELECT doc_id AS asset_id, CAST(i AS INT) AS frame_idx,
        |  ('0x' || substr(md5(frhex), 1, 15))::BIGINT AS frame_hash
        |FROM f ORDER BY asset_id, frame_idx""".stripMargin,
    "m07_frame_dedup" ->
      """WITH d AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
        |f AS (SELECT doc_id, substr(text, CAST(i * 64 + 1 AS INT), 64) AS fr
        |      FROM d, UNNEST(range(0, least(4, n // 64))) u(i)),
        |h AS (SELECT doc_id, ('0x' || substr(md5(fr), 1, 15))::BIGINT AS frame_hash FROM f)
        |SELECT frame_hash, count(*) AS n_frames,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_assets,
        |  min(doc_id) AS keeper_asset
        |FROM h GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2 ORDER BY 1""".stripMargin,
    "m02_frame_samples" ->
      """WITH d AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
        |f AS (SELECT doc_id, i, substr(text, CAST(i * 64 + 1 AS INT), 64) AS fr
        |      FROM d, UNNEST(range(0, least(4, n // 64))) u(i))
        |SELECT doc_id AS asset_id, CAST(i AS INT) AS frame_idx,
        |  ('0x' || substr(md5(fr), 1, 15))::BIGINT AS frame_hash
        |FROM f ORDER BY asset_id, frame_idx""".stripMargin,
    "m03_resize_stats" ->
      """WITH rc AS (SELECT doc_id, unnest(string_split(text, '')) AS ch,
        |                   generate_subscripts(string_split(text, ''), 1) AS i, strlen(text) AS n
        |            FROM documents),
        |r AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS orig_bytes, CAST(count(*) AS BIGINT) AS rn,
        |             CAST(coalesce(sum(CASE WHEN ascii(ch) % 8 = 0 THEN 1 END), 0) AS BIGINT) AS f0c
        |      FROM rc WHERE i % 2 = 1 GROUP BY 1)
        |SELECT doc_id AS asset_id, orig_bytes, rn AS resized_bytes, rn <= orig_bytes AS shrunk,
        |  f0c AS f0_count_resized, round(CAST(f0c AS DOUBLE) / greatest(rn, 1), 4) AS f0_resized
        |FROM r ORDER BY asset_id""".stripMargin,
    "m04_ppm_features" ->
      """WITH c AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
        |  85 * (1 + doc_id % 3) AS r, 85 * (doc_id % 4) AS g, 85 * ((doc_id // 3) % 4) AS b
        |  FROM documents)
        |SELECT doc_id AS asset_id,
        |  CAST(length(concat('P6', chr(10), w, ' ', h, chr(10), '255', chr(10))) + 3 * w * h AS BIGINT) AS n_bytes,
        |  round(CAST(r AS DOUBLE) / (r + g + b), 4) AS f_r,
        |  round(CAST(g AS DOUBLE) / (r + g + b), 4) AS f_g,
        |  round(CAST(b AS DOUBLE) / (r + g + b), 4) AS f_b
        |FROM c ORDER BY asset_id""".stripMargin,
    // m05 closed form: PCM16 samples are (ascii-64)*256, so the squared
    // sum is 65536·Σ(ascii-64)² (BIGINT-exact), the byte length is the
    // fixed 62-byte header layout (WavCodec.HeaderBytes, LIST pad
    // included) + 2 bytes/sample, and the format
    // fields replay the synthesis formulas. roundtrip_ok pinned TRUE =
    // the real RIFF walker recovered every sample bit-identically.
    "m08_voiced_segments" ->
      """WITH ch AS (SELECT doc_id, ascii(c) AS a, i
        |            FROM (SELECT doc_id, unnest(string_split(text, '')) AS c,
        |                         generate_subscripts(string_split(text, ''), 1) AS i FROM documents)),
        |fr AS (SELECT doc_id, CAST(floor((i - 1) / 16) AS BIGINT) AS frame,
        |              max(abs((a - 64) * 256)) AS peak
        |       FROM ch GROUP BY 1, 2),
        |isl AS (SELECT doc_id, frame,
        |          frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame) AS grp
        |        FROM fr WHERE peak >= 14080),
        |seg AS (SELECT doc_id, count(*) AS n_segments, max(len) AS longest_segment
        |        FROM (SELECT doc_id, grp, count(*) AS len FROM isl GROUP BY 1, 2) GROUP BY 1),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |           CAST(sum(CASE WHEN peak >= 14080 THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced
        |         FROM fr GROUP BY 1)
        |SELECT b.doc_id, b.n_frames, b.n_voiced,
        |  CAST(coalesce(s.n_segments, 0) AS BIGINT) AS n_segments,
        |  CAST(coalesce(s.longest_segment, 0) AS BIGINT) AS longest_segment
        |FROM base b LEFT JOIN seg s USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    "m10_box_downsample" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 256) AS t FROM documents WHERE strlen(text) >= 256),
        |px AS (SELECT doc_id, list_transform(string_split(t, ''), c -> ascii(c)) AS v FROM d),
        |cells AS (SELECT doc_id, rr.r, cc.c FROM px CROSS JOIN range(0, 8) rr(r) CROSS JOIN range(0, 8) cc(c)),
        |o AS (SELECT p.doc_id, ce.r, ce.c,
        |    (p.v[2 * ce.r * 16 + 2 * ce.c + 1] + p.v[2 * ce.r * 16 + 2 * ce.c + 2] +
        |     p.v[(2 * ce.r + 1) * 16 + 2 * ce.c + 1] + p.v[(2 * ce.r + 1) * 16 + 2 * ce.c + 2]) // 4 AS val
        |  FROM px p JOIN cells ce USING (doc_id)),
        |s AS (SELECT doc_id, CAST(sum(val) AS BIGINT) AS pix_sum,
        |      string_agg(val, ',' ORDER BY r, c) AS csv FROM o GROUP BY doc_id)
        |SELECT doc_id, CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h, pix_sum,
        |  round(pix_sum / 64.0, 4) AS mean_v,
        |  ('0x' || substr(md5(csv), 1, 15))::BIGINT AS resized_hash
        |FROM s ORDER BY doc_id""".stripMargin,
    "m09_spectral_features" ->
      """WITH t AS (SELECT doc_id, string_split(text, '') AS cs FROM documents WHERE strlen(text) >= 64),
        |frame AS (SELECT doc_id, list_transform(cs[1:64], c -> CAST(ascii(c) - 64 AS DOUBLE)) AS x FROM t),
        |bins AS (SELECT doc_id, x, unnest(range(0, 8)) AS k FROM frame),
        |d AS (SELECT doc_id, k,
        |  list_sum(list_transform(range(1, 65), n -> x[n] * cos(2 * pi() * k * (n - 1) / 64))) AS re,
        |  list_sum(list_transform(range(1, 65), n -> -(x[n] * sin(2 * pi() * k * (n - 1) / 64)))) AS im
        |  FROM bins)
        |SELECT doc_id, CAST(k AS INT) AS bin, round(sqrt(re * re + im * im), 4) AS mag
        |FROM d ORDER BY doc_id, bin""".stripMargin,
    // PNG round trip, BYTE-LEVEL: pixel k = UTF-8 byte k mod n_bytes of
    // the augmented payload (hex-pair extraction — continuation bytes
    // ≥ 0x80 included); roundtrip_ok is the pinned decode-exactness
    // claim over the full byte range.
    "m11_png_features" ->
      """WITH d AS (SELECT doc_id, CAST(3 + doc_id % 4 AS BIGINT) AS w,
        |                  CAST(5 + doc_id % 3 AS BIGINT) AS h,
        |                  hex(encode(text || chr(233) || chr(20013) || chr(8364))) AS hx,
        |                  octet_length(encode(text || chr(233) || chr(20013) || chr(8364))) AS L
        |           FROM documents WHERE strlen(text) > 0),
        |px AS (SELECT doc_id, w, h,
        |         ('0x' || substr(hx, CAST(2 * (i % L) + 1 AS INT), 2))::INT AS v, i % 3 AS chan
        |       FROM d, UNNEST(range(0, 3 * w * h)) u(i))
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sum(CASE WHEN chan = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN chan = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN chan = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        |  TRUE AS roundtrip_ok
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    "m05_wav_features" ->
      """WITH ch AS (SELECT doc_id, ascii(c) - 64 AS v
        |            FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |             CAST(sum(v * v) AS BIGINT) * 65536 AS sum_sq
        |      FROM ch GROUP BY doc_id)
        |SELECT doc_id, CAST(62 + 2 * n_samples AS BIGINT) AS n_bytes,
        |       CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |       1 AS channels, 16 AS bits, n_samples, sum_sq, TRUE AS roundtrip_ok
        |FROM s ORDER BY doc_id""".stripMargin
  )
}
