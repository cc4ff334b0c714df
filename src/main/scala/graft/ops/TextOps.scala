package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables.{t, Q}
import scala.util.Random

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface: exact dedup, MinHash-LSH /
  * SimHash near-dedup, n-gram Jaccard verification, language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * All are pure DataFrame -> DataFrame transforms built from codegen'd
  * built-in functions (no UDFs), so they scale by partitioning alone:
  * the only shuffles are the hash-aggregations/joins on doc or band keys.
  */
object TextOps {

  private def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** Word n-grams as rows: `(doc_id, gram)` with one row per n-gram of
    * `width` consecutive tokens. Docs shorter than `width` yield nothing.
    * Built on the CODEGEN path — explode the start index, then
    * slice+concat_ws — because a lambda `transform(...)` here is
    * CodegenFallback and benchmarked ~30x slower. Shared by the
    * contamination, set-similarity, and novelty operators (the MinHash
    * shingler keeps its own variant: it must also emit one truncated
    * shingle for short docs, the reference semantics its signatures pin).
    */
  private def ngramRows(docs: DataFrame, width: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= width)
      .select(col("doc_id"), col("t"), expr(s"explode(sequence(1, size(t) - ${width - 1})) AS i"))
      .select(col("doc_id"), concat_ws(" ", slice(col("t"), col("i"), lit(width))).as("gram"))

  /** DISTINCT (doc_id, gram) rows with per-doc set semantics computed
    * IN-ROW: each doc's gram array is deduped with `array_distinct`
    * before the explode, so no corpus-wide `.distinct()` shuffle is ever
    * paid — per-doc dedup needs no cross-doc information. The `transform`
    * lambda is CodegenFallback but evaluates once per DOCUMENT (unlike
    * the per-shingle hash pipelines, where the interpreted path measured
    * ~30x slower). The upfront repartition spreads the explode: the
    * documents table is a single parquet split at every test SF, and
    * without it the whole expansion runs as one task.
    *
    * ONLY for callers that persist the result (or consume it once): with
    * no shuffle boundary after the explode, every downstream consumer
    * re-evaluates the lambda, whereas `.distinct()`'s exchange is reused
    * across consumers — measured 2x WORSE on the multi-consumer d32 when
    * tried there unpersisted.
    */
  private def ngramRowsDistinct(docs: DataFrame, width: Int): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= width)
      .select(
        col("doc_id"),
        explode(array_distinct(
          expr(s"transform(sequence(1, size(t) - ${width - 1}), i -> concat_ws(' ', slice(t, i, $width)))")
        )).as("gram"))

  // ---------------------------------------------------------------- MinHash
  // Deterministic universal-hash family h_i(x) = (a_i * x + b_i) mod P over
  // a Murmur3 base hash. Constants are fixed-seed so every run (and every
  // cluster) produces identical signatures.
  private val P = 2147483647L // 2^31 - 1, Mersenne prime
  private val NumHashes = 32
  private val BandRows = 4 // 8 bands x 4 rows
  private val hashParams: Seq[(Long, Long)] = {
    val rnd = new Random(12345)
    Seq.fill(NumHashes)((rnd.nextLong().abs % (P - 1) + 1, rnd.nextLong().abs % P))
  }

  /** Per-doc MinHash signature over `w`-token shingles.
    * Output: (doc_id, sig array<bigint>).
    */
  def minhashSignatures(docs: DataFrame, shingleWidth: Int): DataFrame = {
    // Shingles are built on the CODEGEN path (explode the start index,
    // then slice+concat_ws): a lambda `transform(...)` is CodegenFallback
    // and benchmarked ~30x slower. Duplicate shingles are NOT deduped —
    // min() is insensitive to multiplicity, so signatures are unchanged
    // and the per-doc array_distinct pass is saved. Short docs keep the
    // reference semantics: sequence(0, greatest(n - w, 0)) always emits
    // index 0, so a doc shorter than the shingle width yields one
    // truncated shingle rather than none.
    val tokenized = docs.select(col("doc_id"), tokens(col("text")).as("tokens"))
    val exploded =
      (if (shingleWidth <= 1) tokenized.select(col("doc_id"), explode(col("tokens")).as("shingle"))
       else
         tokenized
           .select(
             col("doc_id"),
             col("tokens"),
             expr(s"explode(sequence(0, greatest(size(tokens) - $shingleWidth, 0))) AS i")
           )
           .select(col("doc_id"), concat_ws(" ", slice(col("tokens"), col("i") + 1, lit(shingleWidth))).as("shingle")))
        .select(col("doc_id"), pmod(hash(col("shingle")).cast("bigint"), lit(P)).as("h"))
    val sigCols = hashParams.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"sig_$i")
    }
    exploded
      .groupBy("doc_id")
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"), array((0 until NumHashes).map(i => col(s"sig_$i")): _*).as("sig"))
  }

  /** LSH banding: (doc_id, band, band_hash) — docs sharing a (band,
    * band_hash) bucket are near-dup candidates. Shuffle key is the bucket,
    * so candidate generation is a balanced hash join, never a cross join.
    */
  def minhashBands(sigs: DataFrame): DataFrame = {
    val numBands = NumHashes / BandRows
    val bandStructs = (0 until numBands).map { j =>
      struct(
        lit(j).as("band"),
        hash((0 until BandRows).map(r => col("sig").getItem(j * BandRows + r)): _*).as("band_hash")
      )
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.band_hash"))
  }

  /** Candidate pairs from LSH buckets, verified with EXACT token-set
    * Jaccard (the n-gram Jaccard verify step), thresholded.
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    *
    * Scale controls (the two levers that keep this sub-quadratic on
    * degenerate corpora where many docs share a signature):
    *  - mega-buckets (> maxBucket docs colliding in one band) are skipped:
    *    a bucket of B docs yields B²/2 candidates, so one boilerplate
    *    cluster can otherwise dominate the whole job — the standard
    *    production mitigation for near-dup at web scale;
    *  - candidates are pre-filtered by ESTIMATED Jaccard from the already
    *    computed signatures (fraction of equal minhash components) before
    *    the exact token-set verify, so the expensive array join touches
    *    only plausibly-duplicate pairs.
    */
  def minhashDedupPairs(
      docs: DataFrame,
      shingleWidth: Int,
      threshold: Double,
      maxBucket: Int = 200
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The signature/band/token tables are each consumed 2-4 times by the
    // joins below; without persist, Catalyst re-derives the whole
    // shingle->hash->32-way-min pipeline from the raw scan at every use
    // (observed 4x recompute in the physical plan). They are tiny
    // relative to the corpus (a few longs per doc), so caching them is
    // the standard LSH-dedup pattern at any scale. The caches live only
    // for this call: the (small) pair result is eagerly materialized via
    // localCheckpoint below, then every intermediate is unpersisted — in
    // round 1 these leaked and degraded the whole shared-JVM bench run.
    val sigs = minhashSignatures(docs, shingleWidth).persist()
    val bands = minhashBands(sigs).persist()
    val tok = docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks")).persist()
    try {
      // Eager: compute the pairs while the caches above are alive, and
      // truncate lineage so the returned frame no longer references them.
      // localCheckpoint blocks are cleaned by the ContextCleaner when the
      // result is dropped (CacheManager entries are not — hence unpersist).
      minhashPairsFromShared(sigs, bands, tok, threshold, maxBucket).localCheckpoint()
    } finally {
      sigs.unpersist(blocking = false)
      bands.unpersist(blocking = false)
      tok.unpersist(blocking = false)
    }
  }

  /** Candidate→verify pipeline over PREBUILT signature/band/token tables.
    * Split out of [[minhashDedupPairs]] so one signature pass can serve
    * several LSH configurations: minhash signatures are strictly per-doc,
    * so a doc_id-subset run is just a `filter` of the full tables rather
    * than a second scan→shingle→hash→32-way-min pipeline (x02 exploits
    * this for its tuned-config recall probe). Callers own persisting the
    * inputs and materializing (localCheckpoint) the result before the
    * caches are released.
    */
  def minhashPairsFromShared(
      sigs: DataFrame,
      bands: DataFrame,
      tok: DataFrame,
      threshold: Double,
      maxBucket: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounded = bands
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band", "band_hash")))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val candidates = bounded
      .as("a")
      .join(
        bounded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val estJaccard =
      aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0),
        (acc, v) => acc + v
      ).cast("double") / NumHashes
    val plausible = candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .filter(estJaccard >= threshold - 0.15)
      .select("doc_a", "doc_b")
    plausible
      .join(tok.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "toks_a"), "doc_a")
      .join(tok.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "toks_b"), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        round(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))),
          4
        ).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  // ---------------------------------------------------------------- SimHash
  /** 32-bit SimHash over an ENGINE-PORTABLE hash: bit j of the signature
    * is the sign of the sum over tokens of (bit j of h(token) ? +1 : -1),
    * where h is the first 8 hex chars of md5(token), which Spark and
    * DuckDB compute identically — so the signatures are
    * exact-oracle-checkable cross-engine. 32 bits (not 64) keeps the
    * hex→int conversion inside safe BIGINT range in both engines.
    */
  def simhash32Portable(docs: DataFrame): DataFrame =
    portableSimhash(docs, bits = 32, hexChars = 8, outCol = "simhash32")

  /** 60-bit portable SimHash — 15 md5 hex chars parse to a 60-bit value
    * that stays inside BIGINT range in both engines (the same trick the
    * portable frame-id family uses). The extra width exists for
    * [[simhashHammingPairs]]: Hamming-band LSH needs bands wide enough
    * that band-value collisions between UNRELATED docs stay rare as the
    * corpus grows, and 32 bits / 4 bands = 8-bit bands top out at 256
    * buckets — candidate pairs then grow as n²/256 (measured 35× at the
    * 10× blow-up). 60 bits / 4 bands = 15-bit bands give 32768 buckets
    * per band, restoring ~linear candidate growth at the same recall-1
    * pigeonhole guarantee.
    */
  def simhash60Portable(docs: DataFrame): DataFrame =
    portableSimhash(docs, bits = 60, hexChars = 15, outCol = "simhash60")

  private def portableSimhash(docs: DataFrame, bits: Int, hexChars: Int, outCol: String): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"), expr(s"CAST(conv(substr(md5(CAST(tok AS BINARY)), 1, $hexChars), 16, 10) AS BIGINT)").as("hv"))
    val bitSums = (0 until bits).map { j =>
      sum(when(expr(s"(hv >> $j) & 1") === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val withBits = exploded.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits)
      .map(j => when(col(s"b_$j") > 0, expr(s"CAST(1 AS BIGINT) << $j")).otherwise(0L))
      .reduce(_ + _) // disjoint bits: sum == bitwise-or, and matches the oracle's SUM
    withBits.select(col("doc_id"), sig.as(outCol))
  }

  /** SimHash near-duplicate PAIRS via Hamming-band LSH (the pigeonhole
    * scheme Google's simhash dedup uses): split the 60-bit portable
    * signature into `maxHamming + 1` contiguous bands; a pair within
    * Hamming distance `maxHamming` differs in at most `maxHamming` bands,
    * so at least one band matches EXACTLY and an equi-join on
    * (band index, band value) generates every qualifying candidate —
    * recall is 1 by construction, which makes the banded plan's output
    * EQUAL the brute-force all-pairs answer. The oracle recomputes that
    * answer by brute force, so the gate is an exactness check of the
    * banding algorithm itself, not a soundness summary.
    *
    * 100 TB posture: the LSH self-join runs over DISTINCT signatures,
    * not docs — signature cardinality tracks content diversity, not
    * corpus size (this corpus: 3,812 distinct sigs at both 5k and 50k
    * docs), so candidate generation is effectively constant-cost as the
    * corpus grows and the doc-level expansion below it is pure
    * output-bound keyed-join work. The doc-level OUTPUT is inherently
    * quadratic in duplicate-group size (a 2,510-doc identical-sig group
    * owes C(2510,2) pairs — that's the operator's contract, matching the
    * brute-force oracle); downstream dedup consumers that only need
    * cluster structure should consume the signature-level edges + the
    * sig→doc membership instead of the expanded pairs. 15-bit bands give
    * 2^15 buckets per band, keeping unrelated-sig collisions rare; the
    * exact Hamming re-check (`bit_count(a XOR b)`) is one codegen'd
    * integer op per candidate; multi-band agreements collapse in a keyed
    * distinct over the (tiny) signature-pair set.
    */
  def simhashHammingPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    val width = 60 / bands // 15-bit bands at the default
    // Eagerly truncate the signature pipeline: membership is consumed on
    // both expansion sides and the distinct-sig table twice more, and
    // Spark does not reuse the exchange across them — without this the
    // explode→md5→60-way-bit-sum agg runs repeatedly. Two longs per doc,
    // negligible at any corpus size; blocks freed by the ContextCleaner.
    val membership = simhash60Portable(docs).localCheckpoint()
    val sigs = membership.select(col("simhash60").as("sig")).distinct().localCheckpoint()
    val bandCols = (0 until bands).map(b => expr(s"(sig >> ${b * width}) & ${(1 << width) - 1}"))
    val banded = sigs.select(col("sig"), posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    // Signature-level qualifying edges: strictly-ordered so each
    // unordered sig pair appears exactly once after the distinct.
    val sigPairs = banded.as("l")
      .join(
        banded.as("r"),
        col("l.band") === col("r.band") && col("l.bv") === col("r.bv") &&
          col("l.sig") < col("r.sig"))
      .select(
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"),
        expr("CAST(bit_count(l.sig ^ r.sig) AS INT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    // Expand cross-signature edges to doc pairs (each doc pair appears
    // exactly once — docs have one signature and sig pairs are unique;
    // least/greatest restores the doc_a < doc_b contract)...
    val cross = sigPairs
      .join(membership.select(col("simhash60").as("sig_a"), col("doc_id").as("da")), "sig_a")
      .join(membership.select(col("simhash60").as("sig_b"), col("doc_id").as("db")), "sig_b")
      .select(
        least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("hamming"))
    // ...and add the hamming-0 pairs implied by identical-signature
    // groups (a keyed self-join on the signature, no banding needed).
    val within = membership.as("l")
      .join(membership.as("r"),
        col("l.simhash60") === col("r.simhash60") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"), lit(0).as("hamming"))
    cross.unionAll(within)
  }

  // ------------------------------------------- fastText-style quality score
  /** Linear text-quality classifier in the fastText/DCLM shape: hash each
    * token into `buckets` feature buckets, sum per-bucket weights over the
    * document's tokens, squash with a logistic. The weight table is a
    * BROADCAST dimension — in production it is the trained model's weight
    * vector loaded as a (bucket, weight) table; here the weights are a
    * deterministic md5-derived stand-in so the score is exact-oracle
    * (swap [[fasttextWeights]] for a real model without touching the
    * pipeline). Arithmetic is integer-exact up to the final logistic:
    * integer milli-weights sum exactly in both engines, and the one
    * `exp` call sees a bit-identical double (score rounded 6dp).
    *
    * 100 TB posture: one narrow map over tokens, one keyed (doc, bucket)
    * aggregation with map-side combine, one broadcast-hash join against
    * the O(buckets) weight dim, one keyed doc aggregation. No shuffle
    * carries text — only (doc_id, bucket, count) triples.
    */
  def fasttextQuality(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    val weights = broadcast(fasttextWeights(spark, buckets))
    val tokCounts = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("bucket",
        expr(s"CAST(conv(substr(md5(CAST(concat('w:', tok) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $buckets"))
    tokCounts
      .join(weights, "bucket")
      .groupBy("doc_id")
      .agg(
        sum(col("wt") * col("c")).cast("long").as("wsum"),
        sum(col("c")).cast("long").as("n_tok"))
      .select(
        col("doc_id"), col("wsum"), col("n_tok"),
        round(lit(1.0) / (lit(1.0) + exp(-(col("wsum") / (lit(1000.0) * col("n_tok"))))), 6)
          .as("quality_score"),
        (lit(1.0) / (lit(1.0) + exp(-(col("wsum") / (lit(1000.0) * col("n_tok"))))) >= 0.5)
          .as("keep"))
  }

  /** Deterministic stand-in weight table: bucket b gets an integer
    * milli-weight in [-1000, 1000] derived from md5("b:" + b) — the same
    * derivation the oracle replays. A trained model replaces this with
    * its own (bucket, weight) rows; everything downstream is unchanged.
    */
  def fasttextWeights(spark: SparkSession, buckets: Int): DataFrame =
    spark.range(buckets).select(
      col("id").as("bucket"),
      expr("CAST(conv(substr(md5(CAST(concat('b:', CAST(id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000")
        .as("wt"))

  /** Distributed TRAINING for the hashed-feature quality classifier —
    * the step the d39/d40 family assumes has already happened
    * (DCLM/fastText-style model filtering first DISTILLS an expensive
    * quality judgment into a cheap linear classifier trained ON the
    * corpus; reference capability surface: quality scoring over
    * ingested text). Full-batch logistic-regression gradient descent;
    * the label distilled here is a LEXICON rule — y = doc uses 'slow'
    * more than 'fast' — chosen because the fixture admits nothing
    * else: the 20 synthetic sources share one uniform 31-word
    * vocabulary (a domain label is pure noise — measured: training on
    * source==src0 lands exactly at the majority-class base rate), and
    * a length gate is inexpressible for a no-bias linear model and
    * ill-conditioned with one (measured: both degenerate to
    * all-one-class). The lexicon rule is scale-free and linear, so the
    * spec can pin the strongest possible claim: GD RECOVERS the
    * generating lexicon — w['slow' bucket] strongly positive,
    * w['fast' bucket] strongly negative, every other weight small.
    * Features are the same 'w:'-salted md5 unigram buckets as d39/d40
    * (plus a standard intercept feature) — swap the label column for
    * any judge's verdict without touching the loop.
    *
    * Exact-oracle discipline for iterative training — FIXED-POINT
    * weights: weights live in integer micro-logits, so z = Σ c·w and
    * the gradient Σ e·c are INTEGER sums (order-independent, exact in
    * both engines — no pinned-fold machinery needed); the only float
    * per iteration is the logistic, computed on a bit-identical double
    * and 6dp-rounded (the d39 precedent), then re-quantized to an
    * integer micro-error. The learning step divides by a POWER OF TWO
    * (g divided by a power of two is exact in binary floating point) and floor(x+0.5)
    * rounds identically everywhere. The DuckDB oracle replays all
    * `iters` iterations as unrolled CTEs and must reproduce every
    * weight bit-for-bit.
    *
    * 100 TB posture: the per-doc feature map is built once and
    * checkpointed; each iteration computes the margin and error IN ROW
    * (the fused map_dot kernel) and pays exactly ONE bucket-keyed
    * aggregate (the gradient — map-side combinable, O(buckets) rows
    * collected); weights ride as an O(buckets) reference object. That
    * is the data-parallel training shape: the corpus is never moved —
    * or re-keyed — only gradients are.
    */
  def logregTrain(
      docs: DataFrame,
      buckets: Int = 256,
      iters: Int = 3,
      lrDiv: Double = 2097152.0
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(iters == 3, "output schema (w1, w2, w3) is pinned to 3 unrolled iterations")
    val (db, hist) = logregFit(docs, buckets, iters, lrDiv)
    val nw = buckets + 1
    val w = hist.last
    val metrics = db
      .withColumn("wm", element_at(typedLit(w.toSeq), col("bucket").cast("int") + 1))
      .groupBy("doc_id", "y")
      .agg(sum(col("c") * col("wm")).as("z"))
      .select(col("y"), expr("round(1.0/(1.0+exp(-(z/1000000.0))), 6)").as("p"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("y")).cast("long").as("n_pos"),
        sum(when((col("p") >= 0.5).cast("int") === col("y"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("y") === 1 && col("p") >= 0.5, 1L).otherwise(0L)).as("n_pos_correct"))
      .select(col("n_docs"), col("n_pos"), col("n_correct"), col("n_pos_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 4).as("train_acc"))
    (0 until nw).map(j => (j.toLong, hist(0)(j), hist(1)(j), hist(2)(j)))
      .toDF("bucket", "w1", "w2", "w3")
      .crossJoin(broadcast(metrics))
      .orderBy("bucket")
  }

  /** The descent loop behind [[logregTrain]], exposed so a pipeline can
    * TRAIN on one slice and APPLY the weights elsewhere (the p05
    * train→filter composition). Returns the (doc_id, y, bucket, c)
    * feature frame (an explode view over the checkpointed per-doc
    * feature map — same rows, order-free consumers only) and the
    * per-iteration weight snapshots (integer micro-logits, length
    * buckets+1, intercept last).
    */
  def logregFit(
      docs: DataFrame,
      buckets: Int = 256,
      iters: Int = 3,
      lrDiv: Double = 2097152.0,
      initW: Option[Array[Long]] = None
  ): (DataFrame, Array[Array[Long]]) = {
    // the exact-replay contract REQUIRES a power of two: g/lrDiv is then
    // exact in binary floating point, so floor(x+0.5) rounds the same
    // value in both engines (the oracle's literal derives from this one)
    require(lrDiv > 0 && lrDiv == lrDiv.toLong.toDouble &&
      java.lang.Long.bitCount(lrDiv.toLong) == 1,
      s"lrDiv must be a positive power of two for bit-exact oracle replay, got $lrDiv")
    // checkpointed: three consumers (token explode, intercept rows, the
    // class counts) would otherwise each re-run the scan + tokenize +
    // label lambdas — the q106 multi-consumer lesson
    val labeled = docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("y",
        (size(filter(col("toks"), t => t === "slow")) >
          size(filter(col("toks"), t => t === "fast"))).cast("int"))
      .select(col("doc_id"), col("y"), col("toks"))
      .localCheckpoint()
    // bucket `buckets` (one past the hash range) is the standard
    // INTERCEPT feature: constant c=1 per doc (near-zero for this
    // scale-free label, load-bearing for any thresholded one).
    val db0 = labeled
      .select(col("doc_id"), col("y"), explode(col("toks")).as("tok"))
      .withColumn("bucket",
        expr(s"CAST(conv(substr(md5(CAST(concat('w:', tok) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $buckets"))
      .groupBy("doc_id", "y", "bucket")
      .agg(count(lit(1)).as("c"))
      .union(labeled.select(col("doc_id"), col("y"),
        lit(buckets.toLong).as("bucket"), lit(1L).as("c")))
    // ONE map row per doc: each iteration's margin z = Σ c·w[bucket] is
    // computed IN ROW by the fused [[graft.functions.MapDotWeights]]
    // kernel, so an iteration is ONE job with a single O(buckets)-row
    // aggregate — no per-iteration doc-keyed exchange and no broadcast
    // error-frame build (guide §2.4/§1.2; the r18 revert's named
    // follow-up — the interpreted higher-order `aggregate` fold was the
    // only thing wrong with this shape, and the codegen kernel removes
    // it). Checkpointed once; the map build replaces (not adds to) the
    // old flat-frame checkpoint.
    val dbm = db0
      .groupBy("doc_id", "y")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("c")))).as("f"))
      .localCheckpoint() // feeds z + gradient every iteration, built once
    // the (doc_id, y, bucket, c) contract frame consumers score with is
    // the map view exploded back out — same rows (order-free consumers
    // only), derived from the checkpoint, never a second corpus pass
    val db = dbm.select(col("doc_id"), col("y"),
      explode(col("f")).as(Seq("bucket", "c")))
    // EXACT integer class balancing: positive errors scale by n_neg,
    // negative errors by n_pos — each class contributes the same total
    // gradient mass (a truncated n_neg/n_pos ratio leaves a prior
    // drift that measurably swamps 3 full-batch steps; the src0 domain
    // experiment at 19:1 degenerated to the base rate outright). The
    // multipliers are corpus counts, so the quantized errors stay
    // integer-exact and the oracle replays the same derivation.
    val Array(nPosL, nNegL) = labeled
      .agg(sum(col("y").cast("long")), sum((lit(1L) - col("y"))))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val nw = buckets + 1 // hash buckets + the intercept
    // warm start ([[graft.streaming.ModelStreams]]'s refresh loop):
    // CONTINUE the descent from previously published weights instead of
    // zero. The default (None) keeps logregTrain/p05's from-zero
    // descent — and their bit-exact oracles — untouched.
    val w = initW.map { iw =>
      require(iw.length == nw, s"initW length ${iw.length} != buckets+1 = $nw")
      iw.clone()
    }.getOrElse(Array.fill(nw)(0L))
    val hist = Array.ofDim[Long](iters, nw)
    for (t <- 0 until iters) {
      // per-doc integer micro-error under the CURRENT weights, in row:
      // z is the fused-kernel integer dot (order-free, bit-identical to
      // the old sum(c·wm) aggregate), the one float (the logistic) is
      // 6dp-rounded then re-quantized to micro units (positive-class
      // errors scaled by the integer class weight), so everything that
      // crosses the one bucket-keyed exchange is integer-exact.
      // w.clone(): the kernel holds the array by reference and w is
      // mutated between iterations.
      val grads = dbm
        .withColumn("z", graft.functions.VectorFunctions.map_dot(col("f"), w.clone()))
        .withColumn("e",
          expr("CAST(round((round(1.0/(1.0+exp(-(z/1000000.0))), 6) - y) * 1000000.0) AS BIGINT)") *
            when(col("y") === 1, lit(nNegL)).otherwise(lit(nPosL)))
        .select(col("e"), explode(col("f")).as(Seq("bucket", "c")))
        .groupBy("bucket")
        .agg(sum(col("e") * col("c")).as("g"))
        .collect().map(r => r.getAs[Long]("bucket").toInt -> r.getAs[Long]("g")).toMap
      var j = 0
      while (j < nw) {
        // g/2^k is exact in doubles; floor(x+0.5) is the engine-portable round
        w(j) -= math.floor(grads.getOrElse(j, 0L) / lrDiv + 0.5).toLong
        hist(t)(j) = w(j)
        j += 1
      }
    }
    (db, hist)
  }

  /** Score documents with a TRAINED micro-logit weight vector (length
    * buckets+1, intercept last) — the APPLY half of the DCLM/fastText
    * train-then-filter loop that [[logregFit]] is the train half of.
    * Same 'w:'-salted md5 buckets as training; z = Σ c·w is an exact
    * integer sum; the one logistic sees a bit-identical double and is
    * 6dp-rounded; keep compares the ROUNDED score so both engines
    * decide from the same value.
    *
    * 100 TB posture: the weight vector is an O(buckets) plan literal —
    * one narrow tokenize, one doc-keyed aggregate with map-side
    * combine, no join, no second corpus pass.
    */
  def logregScore(docs: DataFrame, weights: Array[Long], buckets: Int = 256): DataFrame = {
    require(weights.length == buckets + 1, "weights = hash buckets + trailing intercept")
    val toks = docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("toks"))
    val db = toks
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("bucket",
        expr(s"CAST(conv(substr(md5(CAST(concat('w:', tok) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $buckets"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("c"))
      .union(toks.select(col("doc_id"), lit(buckets.toLong).as("bucket"), lit(1L).as("c")))
    db
      .withColumn("wm", element_at(typedLit(weights.toSeq), col("bucket").cast("int") + 1))
      .groupBy("doc_id")
      .agg(
        sum(col("c") * col("wm")).as("z"),
        sum(when(col("bucket") < buckets, col("c")).otherwise(0L)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr("round(1.0/(1.0+exp(-(z/1000000.0))), 6)").as("score"))
      .withColumn("keep", col("score") >= 0.5)
  }

  // ------------------------------------------------ DSIR importance weights
  /** DSIR-style importance weights for target-domain resampling (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): estimate the target-domain and raw-pool unigram
    * distributions over HASHED features (the same 1024-bucket md5 family
    * as [[fasttextQuality]], so the feature space matches the quality
    * classifier's), score every raw-pool document by its mean per-token
    * log importance ratio ln(p_target / p_raw) (Laplace-smoothed), and
    * keep the docs at or above the `keepQuantile` score — the resampling
    * step that tilts a web-scale corpus toward a high-quality target.
    * The target domain here is one `source` value; swap the predicate
    * for any target definition without touching the pipeline.
    *
    * 100 TB posture: two corpus passes, both narrow-plus-keyed-agg — the
    * standard estimate-then-score shape. Pass 1 builds BOTH distributions
    * in one explode→groupBy(bucket) shuffle (conditional sums, map-side
    * combinable) whose output is O(buckets). Pass 2 re-streams tokens
    * against the BROADCAST O(buckets) log-ratio table and aggregates per
    * doc. Totals and the selection cutoff ride 1-row broadcast frames
    * (the d35 pattern) — no global sort, no window over the corpus.
    */
  def dsirWeights(
      docs: DataFrame,
      buckets: Int = 1024,
      targetSource: String = "src0",
      keepQuantile: Double = 0.8
  ): DataFrame = {
    // ONE tokenize→hash pass: the (doc, bucket) occurrence counts are
    // aggregated once and eagerly materialized (localCheckpoint), then
    // serve BOTH consumers — the bucket-stats build and the per-doc
    // scoring. The previous form referenced the exploded+md5'd token
    // stream twice, so Catalyst re-derived the whole scan→explode→md5
    // pipeline for each consumer (the dominant cost: one md5 per token
    // OCCURRENCE, twice) and the scoring aggregate shuffled raw token
    // rows; this form pays the hash pass once and shuffles only
    // (doc, bucket, count) rows — bounded by docs × min(doc_len,
    // buckets) at any corpus size. The per-doc mean log-ratio becomes
    // the count-weighted sum(l*c)/sum(c) — same value, 6dp-rounded in
    // both engines before the quantile compare.
    val db = docs
      .select(
        col("doc_id"),
        (col("source") === targetSource).as("tgt"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn(
        "bucket",
        expr(s"CAST(conv(substr(md5(CAST(concat('w:', tok) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $buckets"))
      .groupBy("doc_id", "tgt", "bucket")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bstats = db.groupBy("bucket").agg(
      sum(when(col("tgt"), col("c")).otherwise(0L)).as("ct"),
      sum(when(!col("tgt"), col("c")).otherwise(0L)).as("cr"))
    val totals = bstats.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val ratio = bstats.crossJoin(broadcast(totals)).select(
      col("bucket"),
      (log((col("ct") + 1.0) / (col("nt") + buckets)) -
        log((col("cr") + 1.0) / (col("nr") + buckets))).as("l"))
    val scored = db
      .where(!col("tgt"))
      .join(broadcast(ratio), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        round(sum(col("l") * col("c")) / sum(col("c")), 6).as("dsir_logratio"))
    scored
      .crossJoin(broadcast(scored.agg(percentile(col("dsir_logratio"), lit(keepQuantile)).as("c"))))
      .select(
        col("doc_id"), col("n_tokens"), col("dsir_logratio"),
        (col("dsir_logratio") >= col("c")).as("kept"))
  }

  /** MinHash signatures over an ENGINE-PORTABLE permutation family:
    * permutation i hashes a shingle to md5("i:shingle") and the signature
    * element is the lexicographic MIN digest (md5 yields identical
    * lowercase hex in Spark and DuckDB, and both order strings bytewise).
    * Same shingle semantics as [[minhashSignatures]] (short docs emit one
    * truncated shingle). The xxhash64 family there stays the production
    * default for LSH banding: one 8-byte hash per shingle beats `perms`
    * 16-byte digests when cross-engine parity isn't required.
    * Output: (doc_id, sig0..sig{perms-1} string).
    */
  def minhashSignaturesPortable(docs: DataFrame, shingleWidth: Int, perms: Int): DataFrame = {
    val w = shingleWidth
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), expr(s"explode(sequence(0, greatest(size(t) - $w, 0))) AS i"))
      .select(col("doc_id"), concat_ws(" ", slice(col("t"), col("i") + 1, lit(w))).as("shingle"))
    val sigs = (0 until perms).map(i =>
      min(md5(concat_ws(":", lit(i), col("shingle")).cast("binary"))).as(s"sig$i"))
    sh.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
  }

  /** Winnowing fingerprints (Schleimer et al.'s local document
    * fingerprinting): md5 each character `k`-gram of the
    * whitespace-normalized text, take the minimum digest per sliding
    * window of `w` consecutive grams, and dedup. Engine-portable by the
    * same md5 argument as above, and row-based (explode + window min) so
    * the whole pipeline stays on the codegen path — the previous
    * array-lambda form was CodegenFallback. A doc shorter than one full
    * window contributes its global minimum (the window at the last gram,
    * frame-truncated), matching the slice-truncation semantics of the
    * array form. Output: (doc_id, n_fingerprints, min_fp, max_fp).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val grams = docs
      .select(col("doc_id"), lower(regexp_replace(trim(col("text")), "\\s+", " ")).as("norm"))
      .select(col("doc_id"), col("norm"), greatest(length(col("norm")) - (k - 1), lit(1)).as("n"))
      .select(col("doc_id"), col("n"), expr("explode(sequence(1, n)) AS i"), col("norm"))
      .select(col("doc_id"), col("n"), col("i"), expr(s"md5(CAST(substring(norm, i, $k) AS BINARY))").as("h"))
    val win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(w - 1), 0)
    grams
      .withColumn("fp", min(col("h")).over(win))
      .where(col("i") >= least(lit(w), col("n")))
      .groupBy("doc_id")
      .agg(
        countDistinct(col("fp")).as("n_fingerprints"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
  }

  // ------------------------------------------------- bigram LM scoring
  /** Per-doc mean add-1-smoothed bigram log-probability under the corpus
    * LM — the model-based quality signal (low scores flag disfluent or
    * degenerate text). Corpus counts join back to doc bigrams by key; the
    * vocab size rides as a 1-row broadcast. No broadcast hint on the
    * count tables: at 100 TB the unigram/bigram tables outgrow a
    * broadcast and AQE picks the strategy per actual size. Docs with
    * fewer than two tokens have no bigrams and are dropped.
    * Output: (doc_id, n_bigrams, avg_logprob). Shared by d29 (the raw
    * scores) and d35 (CCNet-style bucketing).
    */
  def bigramLogprobScores(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("tok")).groupBy("tok").agg(count(lit(1)).as("c"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val docBg = toks
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"), expr("explode(sequence(1, size(t) - 1)) AS i"))
      .selectExpr("doc_id", "t[i - 1] AS a", "t[i] AS b")
    val bgCounts = docBg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    docBg
      .join(bgCounts, Seq("a", "b"))
      .join(uni.select(col("tok").as("a"), col("c")), "a")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), log((col("c_ab") + 1).cast("double") / (col("c") + col("v"))).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("logp")), 6).as("avg_logprob"))
  }

  // ------------------------------------------------- span-level dedup
  /** Duplicated-SPAN removal — the token-level analogue of ExactSubstr
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): any `spanWidth`-token span occurring more than once
    * ANYWHERE in the corpus keeps only its globally-first occurrence
    * (smallest (doc_id, position)); every token covered by a later
    * occurrence is dropped, and each document is rebuilt from its
    * surviving tokens. Catches cross-document boilerplate that
    * whole-document dedup (d01) and near-dup pruning (x02/d28) both miss.
    *
    * Spark shape, sized for 100 TB: spans shuffle ONCE, keyed by the md5
    * of the span text (16 bytes crossing the wire instead of the span
    * string; 128 bits makes collisions negligible at any corpus size —
    * a 64-bit key would birthday-collide at ~10^13 spans). The
    * first-occurrence winner is a plain MIN aggregate over the packed
    * (doc_id, pos) key — no row_number window, so map-side partial
    * aggregation applies and a hot span (common boilerplate) costs one
    * combiner cell per map task, not a skewed window partition. Removal
    * positions fan back out through an equi-join on the same key, and
    * the rebuild is one groupBy(doc_id). The packed key requires
    * `pos < posCap` (docs under ~1M tokens at the default); the final
    * array_sort+transform rebuild runs once per output doc, off the
    * per-span hot path.
    *
    * Output: (doc_id, n_tokens, n_removed, rebuilt).
    */
  def spanDedup(docs: DataFrame, spanWidth: Int = 8, posCap: Long = 1L << 20): DataFrame = {
    val w = spanWidth
    val docIdCap = Long.MaxValue / posCap // packed key doc_id*posCap+p must not overflow
    // tokenize ONCE: tok feeds the span builder, the kept-token rebuild,
    // and the per-doc totals — left lazy, the regex tokenizer re-runs
    // for each consumer
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("t")).withColumn("n", size(col("t")))
      .localCheckpoint()
    val tokRows = tok
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    // Packed first-occurrence key: valid ONLY while pos < posCap and
    // doc_id below the overflow bound. A doc outside either bound would
    // silently corrupt first-occurrence ordering, so fail LOUDLY instead
    // (raise a per-row error naming the offender; raise_error stays on
    // the codegen path and costs one branch per span).
    def packedKey(p: Column): Column =
      when(
        p >= posCap || col("doc_id") < 0 || col("doc_id") >= docIdCap,
        raise_error(format_string(
          s"spanDedup: packed key out of range (doc_id=%s pos=%s, posCap=$posCap): " +
            "raise posCap (and keep doc_id*posCap within Long) or pre-split long docs",
          col("doc_id"),
          p)).cast("long"))
        .otherwise(col("doc_id") * posCap + p)
    val spans = tok
      .where(col("n") >= w)
      .select(col("doc_id"), col("t"), expr(s"explode(sequence(1, n - ${w - 1})) AS p"))
      .select(
        col("doc_id"),
        col("p"),
        md5(concat_ws(" ", slice(col("t"), col("p"), lit(w))).cast("binary")).as("gh"))
    // First-occurrence selection stays an AGGREGATE (map-side
    // combinable: a boilerplate span duplicated across the corpus
    // collapses to one partial per task before the shuffle), never a
    // window over the skewable span key — the d34 plan pin. Both
    // consumers of `spans` hash by gh, so ReuseExchange shares one
    // span-stream shuffle between the agg and the join-back.
    val byGram = spans
      .groupBy("gh")
      .agg(count(lit(1)).as("cnt"), min(packedKey(col("p"))).as("first_key"))
    val covered = spans
      .join(byGram, "gh")
      .where(col("cnt") > 1 && packedKey(col("p")) =!= col("first_key"))
      .select(col("doc_id"), explode(expr(s"sequence(p, p + ${w - 1})")).as("pos"))
      .distinct()
    val kept = tokRows.join(covered, Seq("doc_id", "pos"), "left_anti")
    // per-doc token totals come straight off the tokenized array — no
    // second posexplode pass (n >= 1 preserves the old token-stream
    // semantics: a zero-token doc produced no rows)
    val totals = tok.where(col("n") >= 1)
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"))
    val keptAgg = kept
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"))
          .as("rebuilt"))
    totals
      .join(keptAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("rebuilt"), lit("")).as("rebuilt"))
  }

  // ------------------------------------------------- set-similarity join
  /** EXACT set-similarity self-join with LOSSLESS prefix filtering
    * (All-Pairs/PPJoin family): emits every doc pair whose shingle-set
    * Jaccard is >= `threshold` — no recall loss, unlike the MinHash-LSH
    * path ([[minhashDedupPairs]]) — while never forming the corpus
    * cross-product.
    *
    * Prefix filter: under any TOTAL order on shingles, if
    * J(x,y) >= t then |x∩y| >= t·|x| (and symmetrically t·|y|), so x and
    * y must collide on at least one shingle inside their first
    * `|x| - ceil(t·|x|) + 1` shingles of that order. Ordering by global
    * document-frequency ASCENDING puts the rarest shingles in the
    * prefix, so the candidate join is keyed on rare shingles: the
    * mega-frequent shingles that would skew a shingle-keyed join sort
    * LAST and almost never enter a prefix. Verification computes the
    * exact intersection size as a (doc, shingle) equi-join — arrays are
    * never carried through a shuffle.
    *
    * Every stage is an equi-join or keyed agg; wall-clock scales with
    * candidates (true near-dup density), not corpus².
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  /** @param materialize eagerly compute the (small) pair set and release
    *        the intermediate caches before returning — the default, and
    *        the same cache hygiene as [[minhashDedupPairs]]. Pass false
    *        only to inspect the un-truncated lazy plan (tests).
    */
  def setSimilarityJoin(
      docs: DataFrame,
      shingleWidth: Int,
      threshold: Double,
      materialize: Boolean = true
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // Consumed by four joins below; persisted for the call and (when
    // materializing) released after the pair result is checkpointed — a
    // leaked persist would pin the full shingle expansion in the block
    // manager for the session lifetime. The lazy (test) path skips the
    // persist entirely rather than leak it.
    // Set semantics via [[ngramRowsDistinct]]: in-row per-doc dedup, no
    // corpus-wide distinct shuffle (saved ~0.5s of d28's bench time).
    val shBase = ngramRowsDistinct(docs, shingleWidth).withColumnRenamed("gram", "sh")
    val sh = if (materialize) shBase.persist() else shBase
    try {
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      val byDoc = Window.partitionBy("doc_id")
      val ranked = sh
        .join(dfreq, "sh")
        .withColumn("n", count(lit(1)).over(byDoc))
        .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("sh"))))
      // Hapax pruning: a gram with corpus-wide df = 1 occurs in exactly
      // one document, so it can never witness a CROSS-doc candidate in
      // the self-join below — dropping it from both sides is lossless
      // (any shared gram has df >= 2 by definition). On natural corpora
      // the overwhelming majority of shingles are hapaxes (95% here at
      // w=5), so this shrinks the self-join input by an order of
      // magnitude; the verification joins still use the FULL shingle
      // table, keeping intersection counts exact.
      val prefix = ranked
        .where(col("rk") <= col("n") - ceil(col("n") * threshold) + 1)
        .where(col("df") > 1)
        .select(col("doc_id"), col("sh"), col("df"), col("rk"), col("n"))
      // Positional filter (PPJoin's second pruning rule, lossless): let
      // w be the FIRST shared prefix shingle of a pair in the global
      // (df, sh) order, at ranks (i, j) of the docs' full ordered
      // shingle sets. Any shared shingle ordered before w would sit at
      // rank < i and < j — inside BOTH prefixes (hapax removal cannot
      // hide it: shared shingles have df >= 2) — contradicting w's
      // minimality. So every common shingle is w or ordered after it:
      // overlap <= 1 + min(n_a - i, n_b - j), and J >= t needs
      // overlap >= t/(1+t)·(n_a+n_b).
      //
      // Applied in two stages so pruned pairs are never GENERATED, not
      // just discarded: call a prefix entry EARLY when
      // rk <= n·(1-t)/(1+t) + 1. If both sides' entries at w are late,
      // then 1 + min(n_a-i, n_b-j) < 2t/(1+t)·min(n_a,n_b)
      // <= t/(1+t)·(n_a+n_b) — the filter fails. So every surviving
      // pair has an EARLY entry at w on at least one side, and the
      // candidate join can probe the early subset only, with the full
      // per-pair bound as a join residual. This is what keeps a
      // boilerplate-heavy corpus linear: a mostly-template doc runs out
      // of rare shingles, so template shingles (df ~ corpus size) enter
      // its prefix — but only near its END, always late, so template
      // buckets never cross-product. Without the split the dupskew
      // fixture generates 2.3e9 candidate rows (vs 2.1e5 uniform) and
      // the join runs for minutes; with it the fixture stays linear.
      val earlyBound = col("n") * ((1 - threshold) / (1 + threshold)) + 1
      val probe = prefix.where(col("rk") <= earlyBound)
      val cand = prefix.as("a")
        .join(
          probe.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id") &&
            (lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))) >=
              lit(threshold / (1 + threshold)) * (col("a.n") + col("b.n")))
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
        // Threshold on the UNROUNDED ratio: the prefix filter is lossless
        // only for true J >= t, so a pair whose true J is in [t-5e-5, t)
        // must NOT round its way into the result — it may already have
        // been pruned. Round only the emitted column.
        .where(col("i").cast("double") / (col("n_a") + col("n_b") - col("i")) >= threshold)
        .select(
          col("doc_a"),
          col("doc_b"),
          round(col("i").cast("double") / (col("n_a") + col("n_b") - col("i")), 4).as("jaccard")
        )
      if (materialize) pairs.localCheckpoint() else pairs
    } finally {
      if (materialize) sh.unpersist(blocking = false)
    }
  }

  /** d16's corpus-curation composition: exact-dedup keepers (min doc_id
    * per content hash) that also clear the quality floors, summarized
    * per language. Keeper selection is min(struct(doc_id, payload)) in
    * a plain groupBy on the hash — NOT a window: WindowExec cannot
    * partial-aggregate, so a boilerplate document duplicated 10⁹ times
    * (routine in web crawls) would serialize its whole group into one
    * task, and AQE skew-split does not apply to windows. The struct-min
    * agg combines map-side (each task contributes ONE candidate row per
    * hash it sees — Dedup16SkewSpec measures this on a 90%-one-hash
    * corpus) and carries the keeper's payload columns through, so no
    * rejoin is needed either — still ONE shuffle, now skew-immune.
    * doc_id leads the struct and is unique, so the lexicographic min IS
    * the min-doc_id row. Expects (doc_id, lang, n_chars, text).
    */
  def corpusCuration(docs: DataFrame): DataFrame =
    docs
      .select(
        md5(col("text")).as("content_hash"),
        struct(
          col("doc_id"), col("lang"), col("n_chars"),
          size(tokens(col("text"))).cast("long").as("n_tokens")).as("doc")
      )
      .groupBy("content_hash")
      .agg(min(col("doc")).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.n_chars").as("n_chars"), col("k.n_tokens").as("n_tokens"))
      .filter(col("n_tokens") >= 5 && col("n_chars") >= 20)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_curated"),
        sum(col("n_tokens")).as("curated_tokens"),
        min(col("doc_id")).as("min_doc")
      )
      .orderBy("lang")

  /** One RSA wrapping keypair per JVM for x06 — see the query's comment. */
  private lazy val X06KeyPair = graft.ingest.Envelope.generateKeyPair()

  /** A fresh scratch dir swept by ONE shutdown hook: for queries whose
    * returned frame reads the scratch LAZILY (so an in-body delete
    * would race the caller's evaluation) and whose timed cost must not
    * absorb an eager materialization. Keeps the timed window identical
    * to the plain-temp-dir shape while guaranteeing no cross-run
    * filesystem accumulation.
    */
  private val exitScratch = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private lazy val exitSweepInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitScratch.forEach { d =>
        try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
        catch { case _: Throwable => () } // exit-path best effort
      }))
  private def scratchDeletedOnExit(prefix: String): String = {
    exitSweepInstalled
    // Prefer RAM-backed tmpfs for this by-construction-ephemeral store:
    // x06's put storm (2 small files per object, 10k files at sf0.1) is
    // ext4-WRITEBACK-bound, not compute-bound — the r18 adjudication
    // proved the 2.5x bimodality is the kernel flushing dirty pages of
    // thousands of tiny files (guide §6: small files hurt; the fix is
    // fewer/larger objects or, for scratch that never needs durability,
    // memory). tmpfs puts never touch the disk; the dir is swept on JVM
    // exit either way.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val d =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, prefix).toString
      else java.nio.file.Files.createTempDirectory(prefix).toString
    exitScratch.add(d)
    d
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: content-hash grouping, keep min doc_id.
    "d01_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    }),

    // Heavy hitters via a Misra-Gries mergeable summary (custom
    // TypedImperativeAggregate, functions/MisraGries.scala): pass 1
    // holds ≤ k counters per source (ObjectHashAggregate — map-side
    // partial summaries merge under the Agarwal-et-al rule, so the
    // shuffle moves one ≤k-entry summary per task per source, never the
    // token stream); pass 2 exact-counts ONLY the ≤ k×sources candidate
    // tokens (broadcast semi-join prunes the stream before the count,
    // so the groupBy's key space is candidate-bounded at any corpus
    // size). The MG guarantee — every token with frequency > n/(k+1)
    // survives the summary — makes candidates a superset of the true
    // heavy set, so the exact filter returns exactly the tokens the
    // full-cardinality groupBy would: same rows, bounded state.
    // θ = 1/50 (k=49): tokens above 2% of a source's token stream.
    "d56_heavy_hitters" -> ((s, dir) => {
      val k = 49
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      // the candidate frame feeds TWO joins below; its upstream is the
      // full MG token pass, and the two broadcast exchanges differ so
      // ReuseExchange cannot dedupe — checkpoint the k×sources-bounded
      // frame so the summary pass runs once (the r12/p01 rule)
      val cands = toks.groupBy("source")
        .agg(
          graft.functions.MisraGries.candidates(col("tok"), k).as("cands"),
          count(lit(1)).as("n_tokens"))
        .select(col("source"), col("n_tokens"), explode(col("cands")).as("tok"))
        .localCheckpoint()
      val exact = toks
        .join(broadcast(cands.select("source", "tok")), Seq("source", "tok"), "left_semi")
        .groupBy("source", "tok")
        .agg(count(lit(1)).as("cnt"))
      exact
        .join(broadcast(cands), Seq("source", "tok"))
        .where(col("cnt") * (k + 1) > col("n_tokens"))
        .select(col("source"), col("tok"), col("cnt"), col("n_tokens"))
        .orderBy("source", "tok")
    }),

    // Seeded epoch shuffle — the training loader's other half: every
    // epoch permutes the corpus deterministically (seeded md5 order)
    // and assigns each doc a (shard, position) slot, so N data-loader
    // workers can each read one contiguous shard of a fresh global
    // permutation with zero coordination. The global rank NEVER plans
    // as a corpus-wide window (one task): the md5 key's first byte
    // chunks the order space 256 ways and the two-phase chunked prefix
    // sum stitches chunk offsets — the r06/d13 machinery applied to
    // ranking. Two epochs emitted; the spec pins that their
    // permutations genuinely differ while each covers every doc once.
    "d58_epoch_shuffle" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val perEpoch = Seq(0, 1).map { e =>
        val keyed = docs
          .withColumn("epoch", lit(e))
          .withColumn("ord", md5(concat(lit(s"epoch$e:"), col("doc_id").cast("string"))))
          .withColumn("chunk", substring(col("ord"), 1, 2))
          .withColumn("one", lit(1L))
        graft.ops.PrefixOps
          .chunkedCumSum(keyed, "epoch", "chunk", Seq("ord", "doc_id"), "one", "position")
      }
      perEpoch.reduce(_ unionByName _)
        .select(
          col("epoch"), col("doc_id"),
          expr("(position - 1) DIV 64").as("shard_id"),
          pmod(col("position") - 1, lit(64L)).as("pos_in_shard"))
        .orderBy("epoch", "doc_id")
    }),

    // Corpus-derived stopword ratio — the quality signal for corpora
    // with no language resources: the stopword list is DISCOVERED from
    // the corpus itself (its global heavy hitters — function words are
    // precisely the tokens above a few percent of the stream), then
    // each document is scored by its stopword density (Gopher's
    // stopword floor with a learned list). Composes the d56 machinery
    // at global scope: one MG pass (single group — 32 map-side partial
    // summaries merge to ≤ k counters), exact verification over the
    // broadcast candidates, then the per-doc ratio as one broadcast
    // join + map-side-combinable count. The token stream never
    // full-shuffles.
    "d57_stopword_ratio" -> ((s, dir) => {
      val k = 49
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      // checkpointed for the same two-consumer reason as d56's cands
      val cand = toks
        .agg(graft.functions.MisraGries.candidates(col("tok"), k).as("cands"),
          count(lit(1)).as("n_total"))
        .select(col("n_total"), explode(col("cands")).as("tok"))
        .localCheckpoint()
      val exact = toks
        .join(broadcast(cand.select("tok")), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val stop = exact.join(broadcast(cand), "tok")
        .where(col("cnt") * (k + 1) > col("n_total"))
        .select("tok")
      toks
        .join(broadcast(stop.withColumn("is_stop", lit(1L))), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(coalesce(col("is_stop"), lit(0L))).as("n_stop"))
        .withColumn("stop_ratio", round(col("n_stop") / col("n_tokens"), 4))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser-Ney bigram scoring — the other classic LM
    // smoothing next to d42's Jelinek-Mercer ladder: absolute
    // discounting (D=0.75) on the bigram estimate, with the discount
    // mass re-spent on the CONTINUATION probability (how many distinct
    // contexts a word follows, not how often it occurs) — the
    // distinction that stops high-count-but-single-context words
    // ("francisco") from stealing backoff mass. All quantities are
    // integer count tables derived from one bigram frame: c(a,b);
    // context totals c(a·) and left fan-out N1+(a·) by grouping on a;
    // right fan-in N1+(·b) by grouping on b; bigram-type total B as a
    // broadcast 1-row frame. Every scored position has c(a,b) ≥ 1, so
    // the discounted term stays positive and no division needs a
    // guard. Count tables join by key (AQE sizes them); docs under two
    // tokens have no bigram positions and drop, mirroring d29/d42.
    "d55_kneser_ney" -> ((s, dir) => {
      val D = 0.75
      val toks = t(s, dir, "documents").select(col("doc_id"), tokens(col("text")).as("t"))
      val docBg = toks
        .where(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"), expr("explode(sequence(1, size(t) - 1)) AS i"))
        .selectExpr("doc_id", "t[i - 1] AS a", "t[i] AS b")
      // bg's shuffle exchange is REUSED by ctx/cont/totals and the
      // final join (ReuseExchange: identical subplans share one
      // exchange), so the corpus is scanned exactly twice. Two
      // alternatives MEASURED SLOWER at both SFs: checkpointing a
      // per-(doc,bigram) count frame (eager materialization barrier +
      // full position shuffle), and pre-joining the count tables into a
      // per-type score table (pushes the position stream into a shuffle
      // join instead of three stacked broadcast probes).
      val bg = docBg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      val ctx = bg.groupBy("a").agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("n1p_left"))
      val cont = bg.groupBy("b").agg(count(lit(1)).as("n1p_right"))
      val totals = bg.agg(count(lit(1)).as("btypes"))
      docBg
        .join(bg, Seq("a", "b"))
        .join(ctx, "a")
        .join(cont, "b")
        .crossJoin(broadcast(totals))
        .select(
          col("doc_id"),
          log(
            (col("c_ab") - lit(D)) / col("c_a") +
              lit(D) * col("n1p_left") / col("c_a") * (col("n1p_right") / col("btypes")))
            .as("logp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), round(avg(col("logp")), 6).as("avg_kn_logprob"))
        .orderBy("doc_id")
    }),

    // Token counting (whitespace tokenizer).
    "d02_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(tokens(col("text"))).as("n_tokens"),
          length(col("text")).as("n_chars_actual")
        )
        .orderBy("doc_id")
    }),

    // Quality scoring: structural character ratios.
    "d03_text_quality" -> ((s, dir) => {
      val len = length(col("text")).cast("double")
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          round((len - length(regexp_replace(col("text"), " ", ""))) / len, 4).as("space_ratio"),
          round(length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / len, 4).as("alpha_ratio"),
          length(col("text")).as("n_chars")
        )
        .orderBy("doc_id")
    }),

    // Language ID: stopword-density heuristic (n-gram heuristic family).
    "d04_lang_guess" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          when(
            expr(
              "size(filter(split(lower(text), '\\\\s+'), x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))"
            ).cast("double") / size(split(lower(col("text")), "\\s+")) > 0.05,
            "en"
          ).otherwise("other").as("lang_pred")
        )
        .orderBy("doc_id")
    }),

    // Document fingerprint: hash of whitespace-normalized lowercase text.
    "d05_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")).cast("binary")).as("fingerprint")
        )
        .orderBy("doc_id")
    }),

    // Vocabulary size per doc.
    "d06_distinct_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"))
        .orderBy("doc_id")
    }),

    // MinHash signatures over the engine-portable md5 permutation family —
    // DuckDB recomputes the identical signatures, so this is EXACT-oracle
    // (the xxhash64 production family stays on the x02 LSH path).
    "x01_minhash_signatures" -> ((s, dir) => {
      minhashSignaturesPortable(t(s, dir, "documents"), shingleWidth = 3, perms = 4)
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup pairs + exact-Jaccard verify. Token-level
    // shingles with a high threshold: the synthetic docs draw from a tiny
    // vocabulary, so token-Jaccard saturates — 0.95 isolates genuine
    // near-dups. LSH recall at j=0.95 is ~1-(1-0.95^4)^8 ~ 1.0.
    // MinHash-LSH near-dup soundness summary (the s03 shape): the banded
    // LSH candidate path is engine-hash-dependent, but every emitted pair
    // carries the EXACT token Jaccard, re-verified here independently —
    // one-sided soundness over ALL emitted pairs (zero false positives,
    // zero score drift), with DuckDB recomputing the capped exact-pair
    // count by brute force. Recall within the cap is intentionally LOW on
    // this corpus (measured 7-10%): the 31-word vocabulary makes token
    // sets near-universal, so almost every bucket is a mega-bucket the
    // maxBucket guard drops — the documented candidate-explosion
    // mitigation doing its job. The floor (5%) is a collapse detector,
    // not a quality bar; d28 is the exact-recall path for this corpus.
    // Beside it, a TUNED run (mega-bucket guard lifted WITHIN a smaller
    // capped subset — bounded O(tcap²), constant at any SF) must clear a
    // 0.8 recall floor: 8x4 banding at j>=0.95 collides with
    // p ~ 1-1.3e-6, so anything below the floor means the signature/
    // banding kernel itself collapsed, and the ORACLE GATE (not just
    // SimilarityRecallSpec) goes red. tcap=200 (not the verify cap of
    // 500) keeps the uncapped-bucket candidate volume — and its exact
    // array verify — ~6x cheaper at identical detection power. The hit
    // counters stay engine-internal (LSH hits depend on the xxhash64
    // family, so no SQL engine can recompute them): the OUTPUT carries
    // only the engine-computed floor booleans plus the two exact-pair
    // counts DuckDB genuinely recomputes by brute force — every column
    // is SF-portable, so this oracle is green at any gate SF (the
    // every-exact-pair-recovered tuned claim is asserted in OpsSpec).
    "x02_minhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cap = 500L
      val tcap = 200L
      // ONE signature/band/token pass serves both LSH configs: signatures
      // are per-doc, so the tuned probe's tables are doc_id filters of the
      // full ones, not a second scan→shingle→sig pipeline (this halved
      // x02's bench time). Both pair frames are materialized inside the
      // try so the caches can be released before the summary aggregates.
      val sigs = minhashSignatures(docs, shingleWidth = 1).persist()
      val bands = minhashBands(sigs).persist()
      val tokAll = docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks")).persist()
      val (ann, tuned, exact) = try {
        val annPairs = minhashPairsFromShared(sigs, bands, tokAll, 0.95, maxBucket = 200)
        val tunedPairs = minhashPairsFromShared(
          sigs.filter(col("doc_id") < tcap),
          bands.filter(col("doc_id") < tcap),
          tokAll.filter(col("doc_id") < tcap),
          0.95,
          maxBucket = tcap.toInt + 1
        )
        // The capped brute force: repartition first — the documents table
        // is one parquet split, so without it the nested-loop join would
        // evaluate all cap² array intersections in a single task.
        val toksOf = tokAll.filter(col("doc_id") < cap)
          .repartition(s.sparkContext.defaultParallelism)
        val exactPairs = toksOf.select(col("doc_id").as("va"), col("toks").as("ta"))
          .crossJoin(toksOf.select(col("doc_id").as("vb"), col("toks").as("tb")))
          .filter(col("va") < col("vb"))
          .select(col("va"), col("vb"),
            round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
              size(array_union(col("ta"), col("tb"))), 4).as("j"))
          .filter(col("j") >= 0.95)
        // All three pair frames share one (bigint, bigint, double) shape,
        // so a tagged union materializes them in ONE eager job — the
        // branches run concurrently in a single DAG instead of three
        // sequential localCheckpoint jobs each underusing the cluster.
        // The exact side additionally feeds THREE summary aggregates
        // below, so checkpointing stops the crossJoin subplan
        // triplicating in the final plan.
        val combined = annPairs.withColumn("src", lit("a"))
          .unionAll(tunedPairs.withColumn("src", lit("t")))
          .unionAll(exactPairs
            .select(col("va").as("doc_a"), col("vb").as("doc_b"), col("j").as("jaccard"))
            .withColumn("src", lit("e")))
          .localCheckpoint()
        (
          combined.filter(col("src") === "a").drop("src"),
          combined.filter(col("src") === "t").drop("src"),
          combined.filter(col("src") === "e")
            .select(col("doc_a").as("va"), col("doc_b").as("vb"), col("jaccard").as("j"))
        )
      } finally {
        sigs.unpersist(blocking = false)
        bands.unpersist(blocking = false)
        tokAll.unpersist(blocking = false)
      }
      val rechecked = ann
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("txt_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("txt_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          round(size(array_intersect(array_distinct(tokens(col("txt_a"))),
            array_distinct(tokens(col("txt_b"))))).cast("double") /
            size(array_union(array_distinct(tokens(col("txt_a"))),
              array_distinct(tokens(col("txt_b"))))), 4).as("rj"))
      val pairStats = rechecked.agg(
        sum(when(col("rj") < 0.95, 1L).otherwise(0L)).as("n_false_pos"),
        sum(when(col("jaccard") =!= col("rj"), 1L).otherwise(0L)).as("n_score_mismatch"))
      val hits = ann.filter(col("doc_a") < cap && col("doc_b") < cap)
        .join(exact, col("doc_a") === col("va") && col("doc_b") === col("vb"))
        .agg(count(lit(1)).as("n_hit"))
      val hitsTuned = tuned
        .join(exact, col("doc_a") === col("va") && col("doc_b") === col("vb"))
        .agg(count(lit(1)).as("n_hit_tuned"))
      val exactN = exact.agg(
        count(lit(1)).as("n_exact_pairs_cap"),
        count(when(col("va") < tcap && col("vb") < tcap, 1)).as("n_exact_pairs_tcap"))
      pairStats.crossJoin(exactN).crossJoin(hits).crossJoin(hitsTuned)
        .select(
          col("n_false_pos"), col("n_score_mismatch"), col("n_exact_pairs_cap"),
          (col("n_hit") >= col("n_exact_pairs_cap") * 0.05).as("recall_cap_ok"),
          col("n_exact_pairs_tcap"),
          (col("n_hit_tuned") >= col("n_exact_pairs_tcap") * 0.8).as("recall_tuned_ok"))
    }),

    // SimHash signatures over the engine-portable 32-bit md5 family —
    // exact-oracle.
    "x03_simhash" -> ((s, dir) => simhash32Portable(t(s, dir, "documents")).orderBy("doc_id")),

    // SimHash near-dup pairs via Hamming-band LSH — the banded equi-join
    // has recall 1 by pigeonhole, so its output must EQUAL the oracle's
    // brute-force all-pairs answer (exactness gate on the algorithm).
    "x07_simhash_pairs" -> ((s, dir) =>
      simhashHammingPairs(t(s, dir, "documents")).orderBy("doc_a", "doc_b")),

    // fastText-style hashed-feature quality classifier (DCLM-style model
    // filtering): broadcast weight dim, integer-exact sums, one logistic.
    "d39_fasttext_quality" -> ((s, dir) =>
      fasttextQuality(t(s, dir, "documents")).orderBy("doc_id")),

    // DSIR importance resampling: hashed-unigram log importance ratios
    // against the src0 target domain, top-20% of the raw pool kept.
    "d40_dsir_weights" -> ((s, dir) =>
      dsirWeights(t(s, dir, "documents")).orderBy("doc_id")),

    // TRAINING the d39-shape classifier on the cluster (full-batch
    // logistic-regression GD, fixed-point weights — see [[logregTrain]]):
    // 3 unrolled iterations, every weight integer-exact, the DuckDB
    // oracle re-derives the whole descent from the raw corpus.
    "d64_logreg_train" -> ((s, dir) =>
      logregTrain(t(s, dir, "documents"))),

    // BPE-ish tokenization: subword-flavored regex segmentation (letters /
    // digits / punctuation runs with optional leading space), the second
    // tokenizer family next to the whitespace one in d02.
    "d07_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(expr("regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)")).as("n_bpe_tokens")
        )
        .orderBy("doc_id")
    }),

    // Edit distance between consecutive docs' prefixes (fuzzy-similarity
    // scalar function family; linear chain join, not pairwise).
    "d08_edit_distance" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), substring(col("text"), 1, 40).as("pfx"))
      docs
        .as("a")
        .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(col("a.doc_id") < 100)
        .select(
          col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"),
          levenshtein(col("a.pfx"), col("b.pfx")).as("edit_dist")
        )
        .orderBy("doc_a")
    }),

    // Codegen zlib expressions over binary payloads: per-doc round-trip
    // identity + original size, ORACLE-CHECKED (DuckDB recomputes the
    // byte length; the round-trip boolean is the engine's computed
    // claim). The exact compressed size stays covered by property specs
    // — no zlib exists in the oracle — but it is bounded here by zlib's
    // public stored-block worst case (raw + 11 + 5 per 16383-byte block),
    // so a pathological deflate regression still trips the gate.
    "x05_zlib_roundtrip" -> ((s, dir) => {
      import graft.functions.CompressionFunctions._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"), col("payload"), zlib_compress(col("payload")).as("z"))
        .select(
          col("doc_id"),
          length(col("payload")).as("orig_bytes"),
          (zlib_decompress(col("z")) === col("payload")).as("roundtrip_ok"),
          (length(col("z")) <= length(col("payload")) + lit(11) +
            lit(5) * (length(col("payload")).cast("long") / 16383 + 1).cast("long"))
            .as("size_bounded_ok")
        )
        .orderBy("doc_id")
    }),

    // The zstd twin of x05 (functions/CompressionExpressions.scala:
    // ZstdCompress/ZstdDecompress over zstd-jni, the codec Spark itself
    // ships for parquet/shuffle): byte-exact round trip plus the
    // single-frame worst-case size bound (zstd's compressBound ≈
    // n + n/256 + 64 covers incompressible input). Same
    // soundness-summary oracle shape as x05 — compressed bytes are
    // engine-side only; the booleans and exact lengths are what DuckDB
    // pins.
    "x08_zstd_roundtrip" -> ((s, dir) => {
      import graft.functions.CompressionFunctions._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"), col("payload"), zstd_compress(col("payload")).as("z"))
        .select(
          col("doc_id"),
          length(col("payload")).as("orig_bytes"),
          (zstd_decompress(col("z")) === col("payload")).as("roundtrip_ok"),
          (length(col("z")).cast("long") <=
            length(col("payload")).cast("long") + length(col("payload")).cast("long") / 256 + 64)
            .as("size_bounded_ok")
        )
        .orderBy("doc_id")
    }),

    // End-to-end envelope round-trip through the DSv2 object-store sink
    // AND source: compress+encrypt the documents corpus with the codegen/
    // expression pipeline, land it as objects (`graft-objects` BATCH_WRITE),
    // read it back (BATCH_READ), decrypt∘inflate with the expression duals,
    // and recover the exact pre-ingest rows — oracle-checked against the
    // documents table itself. The one query that proves write path, read
    // path, and both envelope expressions agree byte-for-byte.
    //
    // The RSA keypair is cached per JVM ([[X06KeyPair]]), matching the
    // deployment (keys are FETCHED — the reference reads its wrapping key
    // from a parameter store — never generated per run) and removing a
    // benchmark confound diagnosed in round 17: RSA-2048 keygen's
    // probabilistic prime search has genuinely random latency
    // (~0.05–2s), which masqueraded for four rounds as an x06
    // "regression" and polluted every rep of the closing clean run.
    "x06_envelope_roundtrip" -> ((s, dir) => {
      import graft.functions.{CompressionFunctions => CF, EnvelopeFunctions => EF}
      val (pub, priv) = X06KeyPair
      val pubB64 = java.util.Base64.getEncoder.encodeToString(pub.getEncoded)
      val privB64 = java.util.Base64.getEncoder.encodeToString(priv.getEncoded)
      // Scratch lifecycle: the returned frame reads these objects
      // LAZILY (the caller evaluates it after this function returns),
      // so an in-body delete would race the read, and the eager
      // localCheckpoint route was measured at 1.7-3x the cost
      // (rejected twice — r17 and r18). A JVM-exit sweep is the shape
      // that keeps the timed window identical while stopping the
      // cross-run /tmp accumulation (148 leaked 10k-file stores
      // measured before this fix — ext4 litter that feeds the
      // writeback weather x06's put storm is sensitive to).
      val root = scratchDeletedOnExit("x06-store")
      // The documents table is one parquet split, so without an explicit
      // repartition the whole encrypt (an RSA wrap per row) + object write
      // runs as ONE task; spread it across the cluster first.
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(
          concat(lit("x06/"), col("doc_id")).as("key"),
          EF.envelope_encrypt(CF.zlib_compress(encode(col("text"), "UTF-8")), pubB64, "x06-key").as("obj")
        )
        .select(
          col("key"),
          col("obj.data").as("data"),
          map(
            lit("iv"), col("obj.iv"),
            lit("ciphertext"), col("obj.wrapped_key"),
            lit("datakeyencryptionkeyid"), col("obj.key_id")
          ).as("metadata")
        )
        .write.format("graft-objects").option("root", root).mode("append").save()
      graft.ingest.IngestReader
        .read(s, root, "x06/", privB64)
        .select(
          element_at(split(col("key"), "/"), -1).cast("long").as("doc_id"),
          decode(col("content"), "UTF-8").as("text")
        )
        .orderBy("doc_id")
    }),

    // Sequence packing by running token budget — the pre-training step
    // that groups documents into ~fixed-token-count bins (context-length
    // packing). Contiguous packing: bin = floor(running-token-start /
    // budget) per SOURCE shard. The running sum is [[PrefixOps]]'s
    // two-phase prefix sum — a window partitioned by the low-cardinality
    // `source` key alone would move each source's rows to ONE task at
    // scale; the chunked form is 256-way parallel per source with a
    // broadcast offset join. Deterministic and SQL-identical in both
    // engines (greedy best-fit packing is order-dependent and
    // engine-specific; contiguous packing is the reproducible variant).
    "d13_sequence_pack" -> ((s, dir) => {
      val budget = 512
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      PrefixOps.partitionedCumSum(base, "source", Seq("doc_id"), "n_tokens", "cum")
        .withColumn("bin_id", floor((col("cum") - col("n_tokens")) / lit(budget)).cast("long"))
        .groupBy("source", "bin_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc")
        )
        .orderBy("source", "bin_id")
    }),

    // Deterministic stratified sampling: every 5th document per LANGUAGE
    // stratum (rank by doc_id within lang) — the reproducible
    // mixture-control sampler a data pipeline needs (hash-based sampling
    // is engine-specific; rank-based is portable and auditable). The
    // rank is [[PrefixOps]]'s two-phase row number — a window
    // partitioned by the handful-of-values `lang` key alone would rank
    // each stratum in ONE task at scale.
    "d14_stratified_sample" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      PrefixOps.partitionedRowNumber(base, "lang", Seq("doc_id"), "rn")
        .filter(pmod(col("rn"), lit(5)) === 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: flag training documents sharing any
    // 8-gram with the held-out set (doc_id % 97 == 0 stands in for the
    // benchmark corpus). The eval n-gram set is TINY relative to the
    // corpus, so it broadcasts — the scan side streams once with a hash
    // probe, no corpus shuffle; output is per-train-doc shared-gram
    // counts. The standard n-gram-overlap decontamination shape.
    // SEMANTIC decontamination composed after d15's lexical rung — the
    // modern benchmark-decontamination stack: d15 catches verbatim
    // leakage (shared 8-grams with the held-out set), this adds the
    // embedding side (paraphrased leakage): every corpus vector scores
    // its max cosine against the HELD-OUT benchmark embeddings
    // (vec_id % 97 = 0, the same held-out convention as d15, linked to
    // docs by the p02 doc_id = vec_id identity) and survivors must
    // clear BOTH arms. Scale shape: the benchmark side is broadcast as
    // plain arrays (benchmark sets are thousands of rows however large
    // the corpus) and scored in ONE narrow pass with the exact
    // expression cosine fold — no shuffle before the per-doc verdict;
    // the lexical arm is d15's broadcast-semi-join. Oracle: fully exact
    // (corpus × benchmark is |corpus|·|bench| rounded cosines — DuckDB
    // replays every pair, no cap needed), composed with d15's own gram
    // CTEs. τ = 0.35 sits in the fixture's discriminative band
    // (max-cos p99 ≈ 0.33-0.37, max ≈ 0.40-0.47): both flagged and
    // clean rows exist at every gate SF.
    "d60_semantic_decontam" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val tau = 0.35
      // The benchmark panel is CAPPED at 64 vectors (vec_id < 97*64):
      // a real decontamination suite is a fixed eval set, so the
      // broadcast side must be SF-constant (the s20/s21 bounded-panel
      // rule) — an uncapped mod-97 slice grows with the corpus and
      // turns the per-vector max-cosine scan O(N·B) quadratic at the
      // scale fixture (measured 5.3x at 10x before the cap).
      val bench = emb.filter(pmod(col("vec_id"), lit(97)) === 0 && col("vec_id") < 97L * 64)
        .orderBy("vec_id").select("embedding").as[Array[Float]].collect()
      val bb = s.sparkContext.broadcast(bench)
      val sem = emb.filter(pmod(col("vec_id"), lit(97)) =!= 0)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .map { case (id, v) =>
          var m = -2.0 // max of per-pair ROUNDED cosines, matching the oracle's max(round(...))
          bb.value.foreach { b =>
            val c = BigDecimal(NswIndex.cos(v, b))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (c > m) m = c
          }
          (id, m)
        }
        .toDF("vec_id", "bench_max_cos")
      val grams = ngramRows(
        t(s, dir, "documents").repartition(
          graft.SessionTuning.spreadParts(t(s, dir, "documents"))), width = 8)
        .withColumnRenamed("gram", "g")
      val eval8 = grams.filter(pmod(col("doc_id"), lit(97)) === 0).select(col("g")).distinct()
      val lex = grams.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .join(broadcast(eval8), "g")
        .groupBy("doc_id").agg(countDistinct(col("g")).as("shared_8grams"))
        .withColumnRenamed("doc_id", "vec_id")
      sem.join(lex, Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          coalesce(col("shared_8grams"), lit(0L)).as("shared_8grams"),
          col("bench_max_cos"),
          (coalesce(col("shared_8grams"), lit(0L)) >= 1).as("lex_contam"),
          (col("bench_max_cos") >= tau).as("sem_contam"),
          (coalesce(col("shared_8grams"), lit(0L)) < 1 && col("bench_max_cos") < tau).as("keep"))
        .orderBy("vec_id")
    }),

    "d15_contamination" -> ((s, dir) => {
      // One parquet split feeds the [[ngramRows]] expansion, so
      // repartition first — size-derived (r18 scaling ratio 0.57: a
      // hard 32-way spread of the tiny split was pure task overhead).
      val docs = ngramRows(
        t(s, dir, "documents").repartition(
          graft.SessionTuning.spreadParts(t(s, dir, "documents"))),
        width = 8
      ).withColumnRenamed("gram", "g")
      val eval8 = docs
        .filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("g"))
        .distinct()
      docs
        .filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .join(broadcast(eval8), "g")
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("shared_8grams"))
        .orderBy("doc_id")
    }),

    // PageRank over the near-dup graph (same edge set as d12/d22): three
    // power iterations with damping 0.85 — the canonical iterated
    // message-passing shape. Each iteration is ONE join (edges × ranks,
    // keyed on the source vertex) + ONE agg (keyed on the destination) —
    // the exact shuffle structure a 100 TB graph pays per round; the
    // tiny node count broadcasts. A fixed iteration count keeps it
    // SQL-expressible (chained CTEs in the oracle), unlike d12's
    // converge-until-done loop.
    "d23_pagerank" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val left = tok
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), explode(array(lit(1), lit(2), lit(3))).as("off"))
        .select(col("doc_a"), col("toks_a"), (col("doc_a") + col("off")).as("doc_b"))
      val pairs = left
        .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .filter(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))) >= 0.7
        )
        .select(col("doc_a"), col("doc_b"))
      val edges = pairs
        .unionAll(pairs.select(col("doc_b"), col("doc_a")))
        .toDF("u", "v")
        .localCheckpoint()
      val deg = edges.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      val nNodes = deg.agg(count(lit(1)).as("n"))
      var pr = deg
        .crossJoin(broadcast(nNodes))
        .select(col("id"), col("deg"), (lit(1.0) / col("n")).as("pr"))
        .localCheckpoint()
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(pr.withColumnRenamed("id", "u"), "u")
          .groupBy(col("v").as("id"))
          .agg(sum(col("pr") / col("deg")).as("s"))
        pr = deg
          .crossJoin(broadcast(nNodes))
          .join(contrib, Seq("id"), "left")
          .select(
            col("id"),
            col("deg"),
            (lit(0.15) / col("n") + lit(0.85) * coalesce(col("s"), lit(0.0))).as("pr")
          )
          .localCheckpoint()
      }
      pr.select(col("id").as("doc_id"), col("deg").cast("long").as("degree"), round(col("pr"), 6).as("pagerank"))
        .orderBy("doc_id")
    }),

    // Triangle count over the near-dup graph (same SQL-expressible edge
    // set as d12): the classic distributed-graph statistic, computed as
    // an ORDERED three-way self-join (a<b<c) so each triangle counts
    // exactly once and every join is an equi-join on vertex ids — at
    // scale this is the standard shuffle-keyed triangle enumeration, no
    // cartesian anywhere. Degeneracy guard: the candidate set is already
    // band-limited (offsets 1..3), so edge lists stay linear in corpus.
    "d22_triangles" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val left = tok
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), explode(array(lit(1), lit(2), lit(3))).as("off"))
        .select(col("doc_a"), col("toks_a"), (col("doc_a") + col("off")).as("doc_b"))
      val edges = left
        .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .filter(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))) >= 0.7
        )
        .select(col("doc_a"), col("doc_b")) // a < b by construction
        .localCheckpoint()
      val tri = edges.as("ab")
        .join(edges.as("bc"), col("ab.doc_b") === col("bc.doc_a"))
        .join(
          edges.as("ac"),
          col("ac.doc_a") === col("ab.doc_a") && col("ac.doc_b") === col("bc.doc_b")
        )
      tri
        .agg(count(lit(1)).as("n_triangles"))
        .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
        .select(col("n_edges"), col("n_triangles"))
    }),

    // Per-doc bigram ENTROPY — the repetitiveness signal one rung above
    // d17's repeat ratios: a doc cycling few bigrams scores near 0, a
    // diverse doc near ln(n). Computed as ln(n) - Σ c·ln(c) / n from
    // per-doc bigram counts (one keyed agg; the identity avoids a
    // second normalization pass over the counts).
    "d45_bigram_entropy" -> ((s, dir) => {
      val docBg = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"), expr("explode(sequence(1, size(t) - 1)) AS i"))
        .selectExpr("doc_id", "t[i - 1] AS a", "t[i] AS b")
      docBg
        .groupBy("doc_id", "a", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n_bigrams"),
          round(
            log(sum(col("c")).cast("double")) -
              sum(col("c").cast("double") * log(col("c").cast("double"))) / sum(col("c")),
            6).as("entropy"))
        .orderBy("doc_id")
    }),

    // N-gram novelty scoring: per doc, the fraction of its distinct
    // bigrams appearing for the FIRST time in doc_id order — the
    // freshness signal an incremental crawl pipeline ranks candidate
    // docs by (a near-1 score is genuinely new material; near-0 is
    // recombination of what the corpus already holds). One gram-keyed
    // min aggregate (map-side combinable) + one gram-keyed join — the
    // same shuffle shape as exact dedup, never a scan over prior docs
    // per candidate.
    "d50_ngram_novelty" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"), expr("explode(sequence(1, size(t) - 1)) AS i"))
        .select(col("doc_id"), concat_ws(" ", expr("t[i - 1]"), expr("t[i]")).as("gram"))
        .distinct()
      val first = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      grams
        .join(first, "gram")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", round(col("n_novel").cast("double") / col("n_grams"), 4))
        .orderBy("doc_id")
    }),

    // Language-ID quality audit: the confusion matrix of d04's heuristic
    // classifier against the labeled lang column — per (true, predicted)
    // cell, doc count and the fraction of the true class it captures.
    // The per-class totals are a broadcast dim (there are a handful of
    // langs); the cross-tab itself is one map-side-combinable agg. This
    // is the eval loop a pipeline closes before trusting a classifier to
    // route 100 TB.
    "d49_lang_confusion" -> ((s, dir) => {
      val pred = t(s, dir, "documents")
        .select(
          col("lang"),
          when(
            expr(
              "size(filter(split(lower(text), '\\\\s+'), x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))"
            ).cast("double") / size(split(lower(col("text")), "\\s+")) > 0.05,
            "en"
          ).otherwise("other").as("lang_pred"))
      val cells = pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
      val totals = pred.groupBy("lang").agg(count(lit(1)).as("n_true"))
      cells
        .join(broadcast(totals), "lang")
        .select(col("lang"), col("lang_pred"), col("n_docs"),
          round(col("n_docs").cast("double") / col("n_true"), 4).as("class_frac"))
        .orderBy("lang", "lang_pred")
    }),

    // RAG-style sliding-window chunking: fixed W-token windows at stride
    // S — the retrieval-corpus construction step between cleaning and
    // embedding. Purely narrow codegen (slice over an exploded start
    // sequence): no shuffle at all until a downstream op asks for one,
    // so chunk construction streams at scan speed at any corpus size.
    // Window geometry: starts at 0, S, 2S, ... while start < n_tokens;
    // the final window may be short (a loader masks padding anyway).
    "d46_chunk_windows" -> ((s, dir) => {
      val W = 32
      val S = 16
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          explode(expr(s"sequence(0, CAST(floor((size(t) - 1) / $S) AS INT))")).as("c"))
        .select(
          col("doc_id"),
          col("c").cast("int").as("chunk_id"),
          expr(s"size(slice(t, c * $S + 1, $W))").cast("long").as("n_tokens"),
          expr(s"array_join(slice(t, c * $S + 1, $W), ' ')").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }),

    // DoReMi-flavored source mixture reweighting: per-source mean token
    // surprisal under the corpus unigram LM (the "excess loss" proxy —
    // harder sources get upweighted), softmaxed at temperature tau into
    // mixture weights a sampler would draw with. Everything is either a
    // map-side-combinable agg keyed on term/source or a broadcast 1-row
    // frame; the softmax normalizer is an agg over the handful-of-rows
    // per-source frame. Surprisal rounds to 6dp BEFORE exp so both
    // engines softmax the same inputs.
    "d47_mixture_weights" -> ((s, dir) => {
      val tau = 2.0
      val rows = t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("term"))
      val freq = rows.groupBy("term").agg(count(lit(1)).as("cf"))
      val total = rows.agg(count(lit(1)).cast("double").as("tt"))
      val perSource = rows
        .join(broadcast(freq), "term")
        .crossJoin(broadcast(total))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_tokens"),
          round(avg(-log(col("cf").cast("double") / col("tt"))), 6).as("avg_surprisal"))
      val z = perSource.agg(sum(exp(col("avg_surprisal") / tau)).as("z"))
      perSource
        .crossJoin(broadcast(z))
        .select(
          col("source"), col("n_tokens"), col("avg_surprisal"),
          round(exp(col("avg_surprisal") / tau) / col("z"), 6).as("mixture_weight"))
        .orderBy("source")
    }),

    // Bounded-round k-core peel (k=2, 3 unrolled rounds) over the same
    // banded near-dup edge graph d22/d23 use: each round drops nodes
    // with degree < k and recomputes degrees among survivors. The round
    // a node is peeled approximates its coreness ordering (the signal a
    // curation pass uses to find densely-duplicated clusters worth
    // auditing); survivors of all rounds are the 3-peel 2-core
    // approximation. Per round: one keyed degree agg + two semi-joins —
    // all map-side-combinable, rounds FIXED (the unbounded-iteration
    // exact peel is the d12-style loop; a fixed unroll is what an
    // incremental/streaming pipeline would run per batch).
    "d43_kcore_peel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val edges = tok
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
          explode(array(lit(1), lit(2), lit(3))).as("off"))
        .select(col("doc_a"), col("toks_a"), (col("doc_a") + col("off")).as("doc_b"))
        .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .filter(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))) >= 0.7)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val adj = edges.select(col("doc_a").as("v"), col("doc_b").as("u"))
        .union(edges.select(col("doc_b").as("v"), col("doc_a").as("u")))
        .localCheckpoint()
      def survivors(a: org.apache.spark.sql.DataFrame) =
        a.groupBy("v").agg(count(lit(1)).as("d")).filter(col("d") >= 2).select(col("v"))
      def restrict(a: org.apache.spark.sql.DataFrame, s1: org.apache.spark.sql.DataFrame) =
        a.join(s1, "v").join(s1.withColumnRenamed("v", "u"), "u").select(col("v"), col("u"))
      val deg0 = adj.groupBy("v").agg(count(lit(1)).as("deg0"))
      val s1 = survivors(adj)
      val adj1 = restrict(adj, s1).localCheckpoint()
      val s2 = survivors(adj1)
      val adj2 = restrict(adj1, s2).localCheckpoint()
      val s3 = survivors(adj2)
      def mark(s0: org.apache.spark.sql.DataFrame, name: String) =
        s0.select(col("v").as("doc_id")).withColumn(name, lit(true))
      docs.select(col("doc_id"))
        .join(deg0.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
        .join(mark(s1, "a1"), Seq("doc_id"), "left")
        .join(mark(s2, "a2"), Seq("doc_id"), "left")
        .join(mark(s3, "a3"), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("deg0"), lit(0L)).as("deg0"),
          when(!coalesce(col("a1"), lit(false)), 1)
            .when(!coalesce(col("a2"), lit(false)), 2)
            .when(!coalesce(col("a3"), lit(false)), 3)
            .otherwise(0).as("peel_round"),
          (coalesce(col("a1"), lit(false)) && coalesce(col("a2"), lit(false)) &&
            coalesce(col("a3"), lit(false))).as("in_2core"))
        .orderBy("doc_id")
    }),

    // Context-window chunking with overlap: each document's tokens split
    // into windows of 64 with stride 48 (16-token overlap) — the chunking
    // step that feeds context-bounded training or retrieval indexing.
    // One narrow generate per row (posexplode of the window slices), no
    // shuffle before the final sort.
    "d21_chunking" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(
          col("doc_id"),
          posexplode(expr("transform(sequence(1, size(toks), 48), x -> slice(toks, x, 64))"))
        )
        .select(
          col("doc_id"),
          col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("n_tokens"),
          element_at(col("col"), 1).as("first_token"),
          element_at(col("col"), -1).as("last_token")
        )
        .orderBy("doc_id", "chunk_idx")
    }),

    // Pattern scrub/masking: redact a configurable token pattern (the
    // PII-redaction shape — here a word stoplist, since the synthetic
    // corpus carries no emails/SSNs) and report per-doc mask counts.
    // Pure narrow projection: regexp_count + regexp_replace are
    // codegen'd, no shuffle before the final sort.
    "d24_mask_tokens" -> ((s, dir) => {
      val pat = "\\b(value|key|hash|table)\\b"
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("int").as("n_masked"),
          length(regexp_replace(col("text"), pat, "<MASK>")).cast("int").as("masked_len"),
          substring(regexp_replace(col("text"), pat, "<MASK>"), 1, 80).as("masked_prefix")
        )
        .orderBy("doc_id")
    }),

    // Bigram PMI (pointwise mutual information): the collocation-mining
    // statistic over the corpus. Two keyed aggs (unigrams, bigrams), the
    // tiny vocab side broadcast into the count-threshold survivors, and
    // the two corpus totals ride as 1-row broadcasts — at 100 TB the only
    // heavy shuffles are the two hash aggs, both map-side combined.
    "d25_pmi_bigrams" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("tok")).groupBy("tok").agg(count(lit(1)).as("c"))
      val bg = toks
        .where(size(col("t")) >= 2)
        .select(col("t"), expr("explode(sequence(1, size(t) - 1)) AS i"))
        .selectExpr("t[i - 1] AS a", "t[i] AS b")
        .groupBy("a", "b")
        .agg(count(lit(1)).as("c_ab"))
      val nBg = bg.agg(sum(col("c_ab")).as("n_bigrams"))
      val nUni = uni.agg(sum(col("c")).as("n_uni"))
      bg.filter(col("c_ab") >= 5)
        .join(broadcast(uni.select(col("tok").as("a"), col("c").as("c_a"))), "a")
        .join(broadcast(uni.select(col("tok").as("b"), col("c").as("c_b"))), "b")
        .crossJoin(broadcast(nBg))
        .crossJoin(broadcast(nUni))
        .select(
          col("a"),
          col("b"),
          col("c_ab"),
          round(
            log(col("c_ab").cast("double") * col("n_uni") * col("n_uni") /
              (col("n_bigrams") * col("c_a") * col("c_b"))),
            6
          ).as("pmi")
        )
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Zipf-law fit: regress log(frequency) on log(rank) over the top-1000
    // token types — the corpus-health diagnostic (natural text ≈ -1).
    // The rank step is a TakeOrderedAndProject top-k, never a global
    // sort, so vocabulary size doesn't bound the plan. The rank WITHIN
    // the top-k needs no single-partition global window either (the
    // repo-wide WindowExec-No-Partition ban): rows rank as (# rows with
    // a strictly higher count) + (row number among count-ties by tok) —
    // the offset census is a broadcast self-join over the ≤1000-row
    // per-count table, the tie-break window is KEYED by c. Identical
    // ranks to row_number over (c desc, tok) because (c, tok) is unique.
    "d26_zipf_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val freq = t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(1000)
      val byCount = freq.groupBy("c").agg(count(lit(1)).as("nc"))
      val offs = byCount.as("a")
        .join(broadcast(byCount.select(col("c").as("hc"), col("nc").as("hnc"))),
          col("hc") > col("c"), "left")
        .groupBy("c")
        .agg(coalesce(sum(col("hnc")), lit(0L)).as("off"))
      freq
        .join(broadcast(offs), "c")
        .select(col("c"),
          (col("off") + row_number().over(Window.partitionBy("c").orderBy("tok"))).as("r"))
        .select(log(col("c").cast("double")).as("lc"), log(col("r").cast("double")).as("lr"))
        .agg(
          round(expr("regr_slope(lc, lr)"), 6).as("zipf_slope"),
          round(expr("regr_intercept(lc, lr)"), 6).as("zipf_intercept"),
          round(expr("regr_r2(lc, lr)"), 6).as("r2"),
          count(lit(1)).as("n_types")
        )
    }),

    // Hapax-legomena ratio per language stratum: the vocabulary-richness
    // signal (share of types occurring exactly once). One (lang, token)
    // agg then one per-lang agg — both map-side combined.
    "d27_hapax_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok")
        .agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          count(lit(1)).as("n_vocab")
        )
        .select(
          col("lang"),
          col("n_hapax"),
          col("n_vocab"),
          round(col("n_hapax").cast("double") / col("n_vocab"), 6).as("hapax_ratio")
        )
        .orderBy("lang")
    }),

    // Bigram language-model score: each doc's mean add-1-smoothed bigram
    // log-probability under the corpus LM — the model-based quality
    // signal (low scores flag disfluent/degenerate text). Corpus counts
    // join back to doc bigrams by key; the vocab size rides as a 1-row
    // broadcast. No broadcast hint on the count tables: at 100 TB the
    // unigram/bigram tables outgrow a broadcast and AQE picks the
    // strategy per actual size.
    "d29_bigram_logprob" -> ((s, dir) =>
      bigramLogprobScores(t(s, dir, "documents")).orderBy("doc_id")),

    // Interpolated trigram LM scoring — the Jelinek-Mercer ladder
    // (0.6·trigram + 0.3·bigram + 0.1·add-1-unigram) the KenLM-style
    // quality filters run. Each backoff level is exact by construction
    // where it is evaluated (the scored position itself contributes its
    // own context occurrence, so no denominator is ever zero), and the
    // unigram floor keeps p > 0 for every position. All count tables
    // join by key (no broadcast hint — at 100 TB the n-gram tables
    // outgrow a broadcast and AQE picks per actual size); only the
    // 1-row (T, V) totals frame broadcasts. Docs under three tokens
    // have no trigram positions and drop, mirroring d29's floor.
    "d42_trigram_logprob" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"), tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("tok")).groupBy("tok").agg(count(lit(1)).as("c1"))
      val totals = uni.agg(sum(col("c1")).cast("double").as("tt"), count(lit(1)).as("v"))
      val bg = toks
        .where(size(col("t")) >= 2)
        .select(col("t"), expr("explode(sequence(1, size(t) - 1)) AS i"))
        .selectExpr("t[i - 1] AS a", "t[i] AS b")
        .groupBy("a", "b").agg(count(lit(1)).as("c2"))
      val docTg = toks
        .where(size(col("t")) >= 3)
        .select(col("doc_id"), col("t"), expr("explode(sequence(2, size(t) - 1)) AS i"))
        .selectExpr("doc_id", "t[i - 2] AS a", "t[i - 1] AS b", "t[i] AS c")
      val tg = docTg.groupBy("a", "b", "c").agg(count(lit(1)).as("c3"))
      docTg
        .join(tg, Seq("a", "b", "c"))
        .join(bg.select(col("a"), col("b"), col("c2").as("c_ab")), Seq("a", "b"))
        .join(bg.select(col("a").as("b"), col("b").as("c"), col("c2").as("c_bc")), Seq("b", "c"))
        .join(uni.select(col("tok").as("b"), col("c1").as("c_b")), "b")
        .join(uni.select(col("tok").as("c"), col("c1").as("c_c")), "c")
        .crossJoin(broadcast(totals))
        .select(
          col("doc_id"),
          log(
            lit(0.6) * col("c3").cast("double") / col("c_ab") +
              lit(0.3) * col("c_bc").cast("double") / col("c_b") +
              lit(0.1) * (col("c_c") + 1).cast("double") / (col("tt") + col("v")))
            .as("logp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"), round(avg(col("logp")), 6).as("avg_logprob3"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing: score every doc under the corpus
    // bigram LM (d29's signal), cut the score distribution at its
    // terciles, and report each head/middle/tail bucket's size, mean
    // score, and token share — the quality-tiering step a CCNet-shaped
    // pipeline uses to keep/downsample/drop. Buckets come from PERCENTILE
    // CUTOFFS broadcast back over the docs, not a global ntile window —
    // a rank window would funnel every doc through one sorted partition,
    // while the cutoff pass is one small aggregate (exact here for oracle
    // parity; approx_percentile is the drop-in at 100 TB) plus a
    // broadcast compare. Cutoff floats are safe cross-engine: scores are
    // rounded to 6dp first, and a tercile index that doesn't land exactly
    // on a data point puts the interpolated cutoff strictly between two
    // rounded scores, so a last-ulp difference can't flip a bucket.
    "d35_perplexity_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = bigramLogprobScores(docs)
      val ntok = docs
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .where(col("n_tokens") >= 2)
      val cuts = scored.agg(
        percentile(col("avg_logprob"), lit(2.0 / 3.0)).as("b1"),
        percentile(col("avg_logprob"), lit(1.0 / 3.0)).as("b2"))
      val labeled = scored
        .join(ntok, "doc_id")
        .crossJoin(broadcast(cuts))
        .select(
          when(col("avg_logprob") >= col("b1"), "head")
            .when(col("avg_logprob") >= col("b2"), "middle")
            .otherwise("tail").as("bucket"),
          col("avg_logprob"),
          col("n_tokens"))
      val total = labeled.agg(sum(col("n_tokens")).as("tt"))
      labeled
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("avg_logprob")), 6).as("avg_score"),
          sum(col("n_tokens")).as("bucket_tokens"))
        .crossJoin(broadcast(total))
        .select(
          col("bucket"),
          col("n_docs"),
          col("avg_score"),
          round(col("bucket_tokens").cast("double") / col("tt"), 6).as("token_share"))
        .orderBy("bucket")
    }),

    // Mixture re-weighting: per-language sampling weights that would
    // equalize each language's token share — the mixture-balancing
    // arithmetic a pre-training data recipe runs over curation stats.
    // One agg shuffle keyed on lang; the 1-row corpus total broadcasts.
    "d20_mixture_weights" -> ((s, dir) => {
      val perLang = t(s, dir, "documents")
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
      val totals = perLang.agg(
        sum(col("lang_tokens")).as("total_tokens"),
        count(lit(1)).as("n_langs")
      )
      perLang
        .crossJoin(broadcast(totals))
        .select(
          col("lang"),
          col("n_docs"),
          col("lang_tokens"),
          round(col("lang_tokens").cast("double") / col("total_tokens"), 6).as("actual_share"),
          // weight = target_share / actual_share; target = uniform across langs
          round(
            (col("total_tokens").cast("double") / col("n_langs")) / col("lang_tokens"),
            6
          ).as("weight")
        )
        .orderBy("lang")
    }),

    // Intra-document repetition: share of repeated 3-grams per document —
    // the cheap generation-loop/boilerplate quality signal (high ratio =
    // degenerate text). Pure per-row array math, no shuffle before the
    // final sort; SQL-identical in both engines.
    "d17_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          when(
            size(col("toks")) >= 3,
            expr("transform(sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' '))")
          ).otherwise(array().cast("array<string>")).as("g")
        )
        .select(
          col("doc_id"),
          size(col("g")).as("n_3grams"),
          size(array_distinct(col("g"))).as("n_distinct"),
          when(size(col("g")) > 0, round(lit(1.0) - size(array_distinct(col("g"))).cast("double") / size(col("g")), 6))
            .otherwise(lit(0.0)).as("rep_ratio")
        )
        .orderBy("doc_id")
    }),

    // Corpus curation COMPOSITION: the end-to-end filter a training-data
    // pipeline runs before tokenization — see [[corpusCuration]] for the
    // skew-immune keeper-selection design.
    "d16_corpus_curation" -> ((s, dir) => corpusCuration(t(s, dir, "documents"))),

    // Exact-Jaccard verify kernel with a SQL-expressible candidate set:
    // each doc against the next 3 doc_ids, as an EQUI-join (offsets
    // exploded onto the left side — no range/theta join, so at scale it
    // is a plain hash join). This is the oracle-checked twin of the
    // verify stage inside x02, whose LSH candidate set is engine-specific.
    "d09_jaccard_pairs" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val left = tok
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), explode(array(lit(1), lit(2), lit(3))).as("off"))
        .select(col("doc_a"), col("toks_a"), (col("doc_a") + col("off")).as("doc_b"))
      left
        .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .select(
          col("doc_a"),
          col("doc_b"),
          round(
            size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
              size(array_union(col("toks_a"), col("toks_b"))),
            4
          ).as("jaccard")
        )
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental (cross-corpus) dedup: flag each INCOMING doc against an
    // existing BASE corpus — exact duplicate via content-hash left join
    // (dup_of = keeper in the base), near-duplicate via the fraction of
    // its 5-grams already present in the base's gram set. The batch-vs-
    // corpus shape every rolling ingest pipeline runs; all equi-joins
    // keyed on hash/gram/doc, the base gram set never leaves executors.
    "d32_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bh = docs.filter(col("doc_id") < 400)
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("dup_of"))
      val g = ngramRows(docs, 5).distinct()
      val bg = g.filter(col("doc_id") < 400).select("gram").distinct()
      val ig = g.filter(col("doc_id") >= 400).groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val shared = g.filter(col("doc_id") >= 400)
        .join(bg, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("shared_grams"))
      docs.filter(col("doc_id") >= 400)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(ig, "doc_id")
        .join(bh, Seq("h"), "left")
        .join(shared, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("dup_of"),
          col("dup_of").isNotNull.as("exact_dup"),
          col("n_grams"),
          coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
          round(coalesce(col("shared_grams"), lit(0L)).cast("double") / col("n_grams"), 4).as("overlap_frac")
        )
        .orderBy("doc_id")
    }),

    // Gopher-style rule-based quality filtering (Rae et al. 2021 §A1.1,
    // the RedPajama/Dolma recipe): hard per-doc rules — word count floor,
    // mean-word-length band, minimum distinct stopwords, top-token
    // dominance cap — each emitted as its own boolean next to the stat it
    // tests, plus the conjunctive keep. Thresholds are corpus-tuned (the
    // synthetic vocabulary has only 'the'/'a' as stopwords and no
    // symbols/bullets, so those Gopher rules are inapplicable). One
    // explode + two keyed aggs; rule compares run on the 4dp-ROUNDED
    // stats in BOTH engines so a last-ulp division difference can never
    // flip a boolean.
    "d36_gopher_rules" -> ((s, dir) => {
      val tokCounts = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
      tokCounts
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("wc"),
          round(sum(length(col("tok")) * col("c")).cast("double") / sum(col("c")), 4).as("mwl"),
          sum(when(col("tok").isin("the", "a"), 1L).otherwise(0L)).as("n_stop"),
          round(max(col("c")).cast("double") / sum(col("c")), 4).as("top_share"))
        .select(
          col("doc_id"), col("wc"), col("mwl"), col("n_stop"), col("top_share"),
          (col("wc") >= 20).as("wc_ok"),
          (col("mwl") >= 3.0 && col("mwl") <= 4.5).as("mwl_ok"),
          (col("n_stop") >= 2).as("stop_ok"),
          (col("top_share") <= 0.12).as("rep_ok"))
        .withColumn("keep", col("wc_ok") && col("mwl_ok") && col("stop_ok") && col("rep_ok"))
        .orderBy("doc_id")
    }),

    // Temperature-scaled mixture weights (the multilingual alpha-sampling
    // recipe, mT5/XLM-R style): sampling share proportional to
    // actual_share^alpha at alpha=0.3, flattening the distribution so
    // low-resource slices are upsampled — next to d20's uniform-target
    // arithmetic. Shares are rounded to 6dp BEFORE the pow in both
    // engines and pow-derived outputs round at 4dp, keeping the one
    // libm-sensitive step inside a safe margin. Same one-agg + broadcast
    // shape as d20.
    "d37_temperature_mix" -> ((s, dir) => {
      val perLang = t(s, dir, "documents")
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
      val total = perLang.agg(sum(col("lang_tokens")).as("tt"))
      val shared = perLang
        .crossJoin(broadcast(total))
        .select(
          col("lang"), col("n_docs"), col("lang_tokens"),
          round(col("lang_tokens").cast("double") / col("tt"), 6).as("actual_share"))
        .withColumn("pa", pow(col("actual_share"), lit(0.3)))
      val z = shared.agg(sum(col("pa")).as("z"))
      shared
        .crossJoin(broadcast(z))
        .select(
          col("lang"), col("n_docs"), col("lang_tokens"), col("actual_share"),
          round(col("pa") / col("z"), 4).as("temp_share"),
          round(col("pa") / col("z") / col("actual_share"), 4).as("upsample_factor"))
        .orderBy("lang")
    }),

    // Train/test split-leakage audit: assign every doc a deterministic
    // hash split (md5-prefix % 10 — engine-portable), then surface every
    // NEAR-DUP pair (exact set-similarity join, the d28 kernel) that
    // crosses splits — the pairs through which a random split leaks
    // training data into eval (the contamination mechanism the dedup
    // papers warn about: near-dups must be split-assigned as a group, or
    // deduped first). Cost = d28's prefix-filtered join + one keyed join
    // to the split table; no new shuffle shape.
    "d38_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = docs.select(
        col("doc_id"),
        pmod(expr("CAST(conv(substr(md5(CAST(text AS BINARY)), 1, 8), 16, 10) AS BIGINT)"), lit(10L))
          .as("split"))
      setSimilarityJoin(docs, shingleWidth = 5, threshold = 0.5)
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .select(
          col("doc_a"), col("doc_b"), col("jaccard"),
          col("split_a"), col("split_b"),
          (col("split_a") =!= col("split_b")).as("leaks"))
        .orderBy("doc_a", "doc_b")
    }),

    // Duplicated-span removal (ExactSubstr-style, see [[spanDedup]]):
    // 8-token spans seen more than once corpus-wide keep only their
    // globally-first occurrence; later occurrences' tokens are dropped
    // and docs rebuilt. Exact oracle: DuckDB replays the identical
    // first-occurrence-wins semantics over the same md5 span keys.
    "d34_span_dedup" -> ((s, dir) =>
      spanDedup(t(s, dir, "documents"), spanWidth = 8).orderBy("doc_id")),

    // TRUE suffix-array ExactSubstr ([[SuffixArrayOps]]): Lee et al.'s
    // actual method — a distributed arity-8 prefix-doubling suffix
    // array (ONE round for window=8: one per-doc window pass + one
    // range-partitioned two-phase dense rank; never a hash, never a
    // per-suffix loop) finds every duplicated 8-token window by TRUE
    // equality, then maximal duplicated spans fall out as merged
    // covered-token intervals (the islands trick over the per-doc
    // covered set). Where d34 hashes fixed-width spans, this recovers
    // the MAXIMAL span a long duplicate produces — a planted 30-token
    // duplicate surfaces as ONE 30-token interval, not 23 overlapping
    // windows (spec-pinned). Oracle: DuckDB replays the same semantics
    // closed-form (group the actual window text, cover, merge islands).
    // nParts is SIZE-derived (≈4 MB of source bytes per range
    // partition, capped at 2× parallelism) — a hard-coded
    // defaultParallelism scheduled 32 near-empty sort tasks per round
    // at sf0.1 and was the suite's worst 8c/32c anti-scaler (0.44).
    "d65_suffix_spans" -> ((s, dir) =>
      SuffixArrayOps.maximalDupSpans(t(s, dir, "documents"), window = 8,
        nParts = graft.SessionTuning.adaptiveParts(t(s, dir, "documents"), 4L << 20))),

    // TRUE ExactSubstr REMOVAL ([[SuffixArrayOps.suffixDedup]]): d34's
    // first-occurrence-wins rebuild driven by the suffix-array rank
    // groups — equality is the actual window text (rank identity), not
    // an md5; everything else (packed first key, covered-token drop,
    // rebuild) matches d34 exactly, so the two forms are directly
    // comparable and must agree wherever md5 is collision-free (i.e.
    // everywhere in practice — the spec pins the agreement).
    "d66_suffix_dedup" -> ((s, dir) =>
      SuffixArrayOps.suffixDedup(t(s, dir, "documents"), window = 8,
        nParts = graft.SessionTuning.adaptiveParts(t(s, dir, "documents"), 4L << 20))
        .orderBy("doc_id")),

    // Context-window chunking: split each document into fixed-size token
    // windows with overlap (64-token chunks, stride 48) — the training-
    // prep step that turns documents into model-context-sized examples
    // while keeping stride-overlap continuity. Pure per-row fan-out on
    // the codegen path (explode the chunk start index + slice), no
    // shuffle before the final sort; at 100 TB the output partitioning
    // follows the input, one pass. The last chunk is the remainder
    // (shorter than the window), never dropped — padding policy belongs
    // to the tokenizer downstream.
    "d33_doc_chunking" -> ((s, dir) => {
      val window = 64
      val stride = 48
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"), col("toks"),
          expr(s"explode(sequence(0, greatest(ceil((size(toks) - $window) / $stride.0d), 0)))").as("chunk_idx"))
        .select(
          col("doc_id"),
          col("chunk_idx").cast("int").as("chunk_idx"),
          least(size(col("toks")) - col("chunk_idx") * stride, lit(window)).cast("int").as("n_tokens"),
          expr(s"element_at(toks, CAST(chunk_idx * $stride + 1 AS INT))").as("first_token"),
          expr(s"element_at(toks, CAST(least(chunk_idx * $stride + $window, size(toks)) AS INT))")
            .as("last_token"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Content-defined chunking (the LBFS/Rabin scheme at token
    // granularity): a chunk boundary falls after token position e
    // whenever the hash of the 4-token window ENDING at e is ≡ 0 mod 16
    // (plus a terminal boundary at the doc end), so expected chunk length
    // is ~16 tokens and boundaries are stable under insertions — the
    // property fixed-stride chunking (d33) lacks and dedup storage
    // depends on. The rolling hash is the engine-portable md5 family, so
    // DuckDB replays boundaries exactly. Per-doc fan-out on the codegen
    // path; the only shuffle is the keyed per-doc lag window (doc_id is
    // high-cardinality, so the window partitioning scales). Scale note:
    // the 10x ratio (4.59x, bench_scale's worst) is the md5-per-window-
    // position CPU — linear by construction; a cheaper rolling hash
    // would halve it but break the exact DuckDB boundary replay, and
    // an in-row lambda variant is WORSE (interpreted CodegenFallback
    // per position vs the codegen explode path, the documented ~30x
    // penalty of per-element lambdas).
    "d41_cdc_chunks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wTok = 4 // divisor fixed at 16 — encoded as the hex-digit test below
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      val wins = toks
        .where(col("n") >= wTok)
        .select(col("doc_id"), col("t"), col("n"),
          expr(s"explode(sequence(1, size(t) - ${wTok - 1})) AS i"))
        .select(col("doc_id"), col("n"), (col("i") + (wTok - 1)).as("e"),
          concat_ws(" ", slice(col("t"), col("i"), lit(wTok))).as("win"))
        // value(first 8 hex chars) % 16 == 0 ⟺ the 8th hex char is '0':
        // same boundary set as the oracle's conv(...) % 16 = 0 replay,
        // without a conv() string-parse + BIGINT cast per window position
        .where(substring(md5(col("win").cast("binary")), 8, 1) === lit("0") &&
          col("e") < col("n"))
        .select(col("doc_id"), col("e"))
      val bounds = wins.unionAll(toks.select(col("doc_id"), col("n").as("e")))
      val byDoc = Window.partitionBy("doc_id").orderBy("e")
      bounds
        .select(
          col("doc_id"),
          row_number().over(byDoc).as("chunk_idx"),
          (coalesce(lag(col("e"), 1).over(byDoc), lit(0)) + 1).cast("long").as("start_pos"),
          col("e").cast("long").as("end_pos"))
        .select(
          col("doc_id"), col("chunk_idx"), col("start_pos"), col("end_pos"),
          (col("end_pos") - col("start_pos") + 1).as("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // N-gram novelty: the fraction of each doc's distinct 8-grams whose
    // FIRST appearance (min doc_id) is the doc itself — the incremental-
    // contribution signal an ordered-ingest dedup pass uses to decide
    // whether a new document adds anything. One gram→min(doc) agg + one
    // join back; grams built on the codegen path.
    "d31_ngram_novelty" -> ((s, dir) => {
      val grams = ngramRows(t(s, dir, "documents"), width = 5).distinct()
      val first = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      grams
        .join(first, "gram")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel")
        )
        .select(
          col("doc_id"),
          col("n_grams"),
          col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty")
        )
        .orderBy("doc_id")
    }),

    // Native RECURSIVE CTE (Spark 4's WITH RECURSIVE): bounded 5-hop
    // neighborhood expansion over the near-dup DAG — the frontier-
    // expansion query d12/d22/d23 hand-roll as driver loops, expressed
    // declaratively and planned by Catalyst's recursion operator. The
    // edge set is the same SQL-expressible near-dup graph; UNION ALL +
    // a depth guard keeps the expansion bounded (Spark does not yet
    // support UNION-distinct recursion), and doc_a < doc_b by
    // construction makes the graph acyclic.
    "d30_khop_neighborhood" -> ((s, dir) => {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val (ev, dv) = (s"edges_k_$tag", s"docs_k_$tag")
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val left = tok
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), explode(array(lit(1), lit(2), lit(3))).as("off"))
        .select(col("doc_a"), col("toks_a"), (col("doc_a") + col("off")).as("doc_b"))
      left
        .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .filter(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))) >= 0.7
        )
        .select(col("doc_a"), col("doc_b"))
        // each recursion step re-reads this relation: materialize the
        // (expensive) similarity join once instead of 5 replays
        .localCheckpoint()
        .createOrReplaceTempView(ev)
      t(s, dir, "documents").select(col("doc_id")).createOrReplaceTempView(dv)
      val df = s.sql(s"""
        WITH RECURSIVE reach(seed, node, depth) AS (
          SELECT doc_id, doc_id, 0 FROM $dv WHERE doc_id < 50
          UNION ALL
          SELECT r.seed, e.doc_b, r.depth + 1 FROM reach r JOIN $ev e ON e.doc_a = r.node WHERE r.depth < 5)
        SELECT seed, count(DISTINCT node) AS n_reachable, CAST(max(depth) AS BIGINT) AS max_depth
        FROM reach GROUP BY seed ORDER BY seed
      """)
      Seq(ev, dv).foreach(s.catalog.dropTempView)
      df
    }),

    // Exact set-similarity self-join with lossless prefix filtering
    // ([[setSimilarityJoin]]): EVERY pair at 5-shingle Jaccard >= 0.5
    // across the whole corpus — unlike d09 (id-window candidates) or x02
    // (LSH, recall < 1), this is the full all-pairs answer computed
    // without the all-pairs join. Oracle = DuckDB's literal O(n²)
    // all-pairs jaccard, which the prefix-filtered result must equal
    // exactly (losslessness is the theorem under test).
    "d28_setsim_join" -> ((s, dir) => {
      setSimilarityJoin(t(s, dir, "documents"), shingleWidth = 5, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Winnowing document fingerprints: character 5-gram md5 digests,
    // minimum per sliding window of 4 — the standard local fingerprinting
    // scheme, on the engine-portable hash so DuckDB replays the exact
    // window minima (and on the codegen row path, not array lambdas).
    "x04_winnow_fingerprints" -> ((s, dir) =>
      winnowFingerprints(t(s, dir, "documents"), k = 5, w = 4).orderBy("doc_id")),

    // Duplicate CLUSTERING — the step after near-dup pair generation:
    // connected components over the pair graph, one cluster id (= min
    // doc_id in the component) per involved doc, so dedup can keep one
    // representative per cluster. Min-label propagation WITH POINTER
    // DOUBLING (label(label) folded in each round), so convergence is
    // O(log diameter) rounds — the sf corpus has components of ~100 docs
    // with diameter ~30+, where naive neighbor-min would need ~30 shuffle
    // rounds; this needs ~7. Each round is two small self-joins keyed on
    // ids; lineage is truncated per round with localCheckpoint. At 100 TB
    // the same loop runs with the pair table as the only large input
    // (|labels| = #docs-in-pairs << corpus).
    "d12_dup_clusters" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val left = tok
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), explode(array(lit(1), lit(2), lit(3))).as("off"))
        .select(col("doc_a"), col("toks_a"), (col("doc_a") + col("off")).as("doc_b"))
      val pairs = left
        .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .filter(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))) >= 0.7
        )
        .select(col("doc_a"), col("doc_b"))
      val edges = pairs
        .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("u", "v")
        .localCheckpoint()
      val maxRounds = 20
      var labels = edges.select(col("u").as("id")).distinct().withColumn("label", col("id")).localCheckpoint()
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        val nm = edges
          .join(labels.withColumnRenamed("id", "v"), "v")
          .groupBy(col("u").as("id"))
          .agg(min(col("label")).as("nlabel"))
        val l1 = labels
          .join(nm, Seq("id"), "left")
          .select(col("id"), least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        val jump = l1.select(col("id").as("jid"), col("label").as("jlabel"))
        val l2 = l1
          .join(jump, l1("label") === jump("jid"))
          .select(col("id"), least(col("label"), col("jlabel")).as("label"))
        // Convergence check piggybacks on the SAME job that materializes
        // the round (the eager localCheckpoint): the changed-count is an
        // observed metric folded into that query, so each round costs ONE
        // driver action instead of checkpoint + a separate join-and-scan.
        val obs = org.apache.spark.sql.Observation(s"d12_round_$rounds")
        val cp = l2
          .join(labels.withColumnRenamed("label", "old"), "id")
          .select(col("id"), col("label"), (col("label") =!= col("old")).as("chg"))
          .observe(obs, sum(col("chg").cast("long")).as("changed"))
          .localCheckpoint()
        // sum over zero rows is null => treat as converged (empty graph).
        converged = Option(obs.get("changed")).forall(_.asInstanceOf[Long] == 0L)
        labels = cp.select("id", "label")
        rounds += 1
      }
      // Pointer doubling needs component diameter > ~2^maxRounds to hit the
      // cap, but if it ever does, a silent return would be a WRONG answer
      // (non-converged labels) — fail loudly instead.
      if (!converged)
        throw new IllegalStateException(
          s"d12_dup_clusters: label propagation did not converge within $maxRounds rounds"
        )
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id")).orderBy("doc_id")
    }),

    // TF-IDF: each document's most characteristic term. tf = in-doc
    // count, idf = ln(N / df); top term per doc by (score desc, term asc)
    // so ties are deterministic. Shuffles are keyed on (doc_id, term) and
    // term — both high-cardinality, no skew pivot; the 1-row corpus count
    // is broadcast.
    "d10_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df")) // tf rows are distinct per (doc, term)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df_, "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term").as("top_term"), round(col("score"), 6).as("tfidf"))
        .orderBy("doc_id")
    }),

    // Corpus n-gram (bigram) frequencies — the other half of n-gram
    // analysis next to d09's Jaccard: top-20 bigrams by count. One narrow
    // generate + one agg shuffle keyed on the bigram, top-k via
    // TakeOrderedAndProject.
    "d11_bigram_freq" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(tokens(col("text")).as("toks"))
        .select(
          explode(
            when(
              size(col("toks")) >= 2,
              expr("transform(sequence(1, size(toks) - 1), i -> concat(toks[i - 1], ' ', toks[i]))")
            ).otherwise(array().cast("array<string>"))
          ).as("bigram")
        )
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    }),

    // Synchronous label propagation (3 rounds) over the near-dup edge
    // graph (same bounded-offset Jaccard edges as d43/d22): every node
    // starts as its own community; each round it adopts its neighbors'
    // modal label (count desc, label asc tie-break), keeping its own
    // when isolated. Distinct from d12's connected components: LPA can
    // split a weakly-bridged component. Per round: one keyed join + one
    // (v, lab) count + one map-side-combinable min(struct) argmax — no
    // windows; edges localCheckpointed once so the 3 rounds do not
    // re-derive the Jaccard join.
    "d52_label_prop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val edges = tok
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
          explode(array(lit(1), lit(2), lit(3))).as("off"))
        .select(col("doc_a"), col("toks_a"), (col("doc_a") + col("off")).as("doc_b"))
        .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
        .filter(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))) >= 0.7)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val adj = edges.select(col("doc_a").as("v"), col("doc_b").as("u"))
        .union(edges.select(col("doc_b").as("v"), col("doc_a").as("u")))
        .localCheckpoint()
      val l0 = docs.select(col("doc_id").as("v"), col("doc_id").as("lab"))
      val l3 = (1 to 3).foldLeft(l0) { (labels, _) =>
        val modal = adj
          .join(labels.withColumnRenamed("v", "u"), "u")
          .groupBy("v", "lab").agg(count(lit(1)).as("c"))
          .groupBy("v")
          .agg(min(struct((-col("c")).as("nc"), col("lab"))).as("best"))
          .select(col("v"), col("best.lab").as("new_lab"))
        labels.join(modal, Seq("v"), "left")
          .select(col("v"), coalesce(col("new_lab"), col("lab")).as("lab"))
      }
      val sizes = l3.groupBy("lab").agg(count(lit(1)).as("community_size"))
      l3.join(sizes, "lab")
        .select(col("v").as("doc_id"), col("lab").as("community"), col("community_size"))
        .orderBy("doc_id")
    }),

    // BLEU-style modified n-gram precision between consecutive docs
    // (candidate = doc b, reference = doc a = b-1; the d08 bounded-pair
    // precedent): clipped gram-count overlap over candidate mass, for
    // unigrams and bigrams. The gram-count frames shuffle once keyed on
    // (doc, gram); each precision is one keyed join + one pair agg.
    "d53_ngram_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def gramCounts(n: Int) = {
        val base = docs.select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= n)
        val g =
          if (n == 1) base.select(col("doc_id"), explode(col("t")).as("g"))
          else base.select(col("doc_id"),
            explode(expr("transform(sequence(1, size(t) - 1), i -> concat(t[i - 1], ' ', t[i]))")).as("g"))
        g.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      }
      def prec(gr: DataFrame, out: String) = {
        val a = gr.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca"))
        val b = gr.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb"))
        b.filter(col("doc_b").between(1, 100))
          .withColumn("doc_a", col("doc_b") - 1)
          .join(a, Seq("doc_a", "g"), "left")
          .groupBy("doc_a", "doc_b")
          .agg(round(
            sum(least(coalesce(col("ca"), lit(0L)), col("cb"))).cast("double") / sum(col("cb")),
            4).as(out))
      }
      prec(gramCounts(1), "p1")
        .join(prec(gramCounts(2), "p2"), Seq("doc_a", "doc_b"), "left")
        .orderBy("doc_a")
    }),

    // Tokenizer fertility per language: BPE-ish tokens (d07's regex
    // family) per whitespace word — the compression-rate signal that
    // decides per-language token budgets and flags scripts a tokenizer
    // handles poorly. One narrow map + one keyed agg.
    "d54_token_fertility" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("ws"),
          size(expr("regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)")).cast("long").as("bpe"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          round(avg(col("bpe").cast("double") / col("ws")), 4).as("avg_fertility"),
          round(sum(col("bpe")).cast("double") / sum(col("ws")), 4).as("corpus_fertility"))
        .orderBy("lang")
    }),

    // Heaps'-law vocabulary growth curve: cumulative corpus tokens vs
    // cumulative distinct vocabulary in doc_id order — the corpus-size
    // planning curve ("how much more data until the vocab saturates?").
    // Each token's vocabulary contribution is charged to its FIRST doc
    // (a min-agg per token, map-side combinable), per-doc novel counts
    // follow, and both running totals go through the two-phase
    // [[PrefixOps.partitionedCumSum]] under a constant key — 256-way
    // parallel chunked cumsum, never a single-task global window.
    "d51_vocab_growth" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      val novel = tok.groupBy("token").agg(min(col("doc_id")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      val base = perDoc.join(novel, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
        .withColumn("__all", lit(0))
      val c1 = PrefixOps.partitionedCumSum(base, "__all", Seq("doc_id"), "n_tokens", "corpus_tokens")
      PrefixOps.partitionedCumSum(c1, "__all", Seq("doc_id"), "n_novel", "vocab_size")
        .select(col("doc_id"), col("n_tokens"), col("n_novel"),
          col("corpus_tokens"), col("vocab_size"))
        .orderBy("doc_id")
    })
  )

  /** The d64 fixed-point descent as DuckDB CTEs (through `w3`, the
    * final integer micro-logit weights per bucket) - THE one SQL
    * rendering of [[logregFit]]'s loop, shared by every oracle that
    * replays the training (d64 itself, r21's learned-sparse impacts):
    * one definition site per side, the bm25Contrib/bm25Sql discipline.
    */
  private[ops] val LogregDescentSql: String = {
    def iter(t: Int): String =
        s"""z$t AS (SELECT doc_id, y, CAST(sum(c * wm) AS BIGINT) AS z FROM db JOIN w${t - 1} USING (bucket) GROUP BY 1, 2),
           |e$t AS (SELECT doc_id, CAST(round((round(1.0/(1.0+exp(-(z/1000000.0))), 6) - y) * 1000000.0) AS BIGINT)
           |               * (CASE WHEN y = 1 THEN pw.n_neg ELSE pw.n_pos END) AS e FROM z$t, pw),
           |g$t AS (SELECT bucket, CAST(sum(e * c) AS BIGINT) AS g FROM db JOIN e$t USING (doc_id) GROUP BY 1),
           |w$t AS (SELECT bk.bucket, w${t - 1}.wm - CAST(floor(coalesce(g$t.g, 0)/2097152.0 + 0.5) AS BIGINT) AS wm
           |        FROM bk JOIN w${t - 1} USING (bucket) LEFT JOIN g$t USING (bucket))""".stripMargin
    s"""tk0 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents),
         |dy AS (SELECT doc_id, CAST(count(*) FILTER (WHERE tok = 'slow') > count(*) FILTER (WHERE tok = 'fast') AS INT) AS y
         |       FROM tk0 GROUP BY 1),
         |tk AS (SELECT tk0.doc_id, dy.y, tk0.tok FROM tk0 JOIN dy USING (doc_id)),
         |db AS (SELECT doc_id, y, ('0x'||substr(md5('w:'||tok),1,8))::BIGINT % 256 AS bucket, count(*) AS c
         |       FROM tk GROUP BY 1, 2, 3
         |       UNION ALL SELECT doc_id, y, CAST(256 AS BIGINT), CAST(1 AS BIGINT) FROM dy),
         |bk AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(257)),
         |pw AS (SELECT CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS n_pos,
         |              CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS n_neg FROM dy),
         |w0 AS (SELECT bucket, CAST(0 AS BIGINT) AS wm FROM bk),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // Exact heavy hitters: DuckDB recomputes the full-cardinality
    // per-source counts; the engine's MG-candidate path must land on
    // the identical set (the summary guarantee makes candidates a
    // superset, the exact verification join trims it).
    "d56_heavy_hitters" ->
      """WITH toks AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
        |tot AS (SELECT source, count(*) AS n_tokens FROM toks GROUP BY 1),
        |cnt AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2)
        |SELECT c.source, c.tok, c.cnt, t.n_tokens
        |FROM cnt c JOIN tot t USING (source)
        |WHERE c.cnt * 50 > t.n_tokens
        |ORDER BY source, tok""".stripMargin,
    "d58_epoch_shuffle" ->
      """WITH e AS (SELECT doc_id, ep.epoch FROM documents CROSS JOIN (VALUES (0), (1)) ep(epoch)),
        |r AS (SELECT epoch, doc_id,
        |  row_number() OVER (PARTITION BY epoch ORDER BY md5('epoch' || epoch || ':' || doc_id), doc_id) AS position
        |  FROM e)
        |SELECT CAST(epoch AS INT) AS epoch, doc_id,
        |  (position - 1) // 64 AS shard_id, (position - 1) % 64 AS pos_in_shard
        |FROM r ORDER BY epoch, doc_id""".stripMargin,
    "d57_stopword_ratio" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks),
        |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |stop AS (SELECT tok FROM cnt, tot WHERE c * 50 > n),
        |agg AS (SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM toks t LEFT JOIN stop s USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, n_stop, round(n_stop / n_tokens, 4) AS stop_ratio
        |FROM agg ORDER BY doc_id""".stripMargin,
    "d55_kneser_ney" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |db AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> struct_pack(a := t[i], b := t[i + 1]))) AS s
        |       FROM tok WHERE len(t) >= 2),
        |dbf AS (SELECT doc_id, s.a AS a, s.b AS b FROM db),
        |bg AS (SELECT a, b, count(*) AS c_ab FROM dbf GROUP BY 1, 2),
        |ctx AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a, count(*) AS n1p_left FROM bg GROUP BY 1),
        |cont AS (SELECT b, count(*) AS n1p_right FROM bg GROUP BY 1),
        |tot AS (SELECT count(*) AS btypes FROM bg),
        |lp AS (SELECT d.doc_id,
        |         ln((bg.c_ab - 0.75) / ctx.c_a + 0.75 * ctx.n1p_left / ctx.c_a * (CAST(cont.n1p_right AS DOUBLE) / tot.btypes)) AS logp
        |       FROM dbf d JOIN bg ON d.a = bg.a AND d.b = bg.b
        |       JOIN ctx ON d.a = ctx.a JOIN cont ON d.b = cont.b, tot)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 6) AS avg_kn_logprob
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin,
    "d33_doc_chunking" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, t, unnest(range(0, CAST(greatest(ceil((len(t) - 64) / 48.0), 0) AS BIGINT) + 1)) AS chunk_idx FROM tok)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(least(len(t) - chunk_idx * 48, 64) AS INT) AS n_tokens,
        |  t[CAST(chunk_idx * 48 + 1 AS BIGINT)] AS first_token,
        |  t[CAST(least(chunk_idx * 48 + 64, len(t)) AS BIGINT)] AS last_token
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // x02's soundness row: the assertion booleans are engine-computed
    // claims (pinned TRUE here — any soundness or recall-floor
    // regression flips one and fails the hash), and both exact-pair
    // counts are genuinely recomputed by brute force — same
    // tolerance-band shape as s03. No SF-dependent literal remains, so
    // this row is green at ANY gate SF; the fixture-specific strong
    // claim (the tuned run recovers EVERY exact pair inside tcap) is
    // asserted in OpsSpec instead, where fixture-dependence belongs.
    "x02_minhash_pairs" ->
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 500),
        |p AS (SELECT a.doc_id AS va, b.doc_id AS vb,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(list_cat(a.toks, b.toks))), 4) AS j
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id)
        |SELECT CAST(0 AS BIGINT) AS n_false_pos, CAST(0 AS BIGINT) AS n_score_mismatch,
        |  CAST(count(*) AS BIGINT) AS n_exact_pairs_cap, TRUE AS recall_cap_ok,
        |  CAST(count(*) FILTER (WHERE va < 200 AND vb < 200) AS BIGINT) AS n_exact_pairs_tcap,
        |  TRUE AS recall_tuned_ok
        |FROM p WHERE j >= 0.95""".stripMargin,
    // x05: byte length cross-checked (documents are ASCII, so DuckDB's
    // char length = Spark's binary length — d02 already proves this
    // parity); round-trip identity and the stored-block size bound are
    // engine-computed claims.
    "x05_zlib_roundtrip" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS orig_bytes,
        |  TRUE AS roundtrip_ok, TRUE AS size_bounded_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x08_zstd_roundtrip" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS orig_bytes,
        |  TRUE AS roundtrip_ok, TRUE AS size_bounded_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The round-trip must reproduce the source table exactly — the oracle
    // IS the pre-ingest corpus (encrypt/decrypt happen engine-side only).
    "x06_envelope_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    "d13_sequence_pack" ->
      """WITH tok AS (
        |  SELECT doc_id, source, CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tokens, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM tok)
        |SELECT source, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM cum GROUP BY 1, 2 ORDER BY source, bin_id""".stripMargin,
    "d14_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn % 5 = 1 ORDER BY doc_id""".stripMargin,
    "d24_mask_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(value|key|hash|table)\b')) AS INT) AS n_masked,
        |  CAST(length(regexp_replace(text, '\b(value|key|hash|table)\b', '<MASK>', 'g')) AS INT) AS masked_len,
        |  substring(regexp_replace(text, '\b(value|key|hash|table)\b', '<MASK>', 'g'), 1, 80) AS masked_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d25_pmi_bigrams" ->
      """WITH toks AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)), i -> struct_pack(a := t[i], b := t[i + 1]))) AS s FROM toks),
        |bc AS (SELECT s.a AS a, s.b AS b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
        |n AS (SELECT (SELECT sum(c_ab) FROM bc) AS n_bigrams, (SELECT sum(c) FROM uc) AS n_uni)
        |SELECT a, b, c_ab, round(ln(CAST(c_ab AS DOUBLE) * n.n_uni * n.n_uni / (n.n_bigrams * ca.c * cb.c)), 6) AS pmi
        |FROM bc JOIN uc ca ON bc.a = ca.tok JOIN uc cb ON bc.b = cb.tok, n
        |WHERE c_ab >= 5
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    "d26_zipf_slope" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |ranked AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM freq)
        |SELECT round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6) AS zipf_slope,
        |       round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6) AS zipf_intercept,
        |       round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6) AS r2,
        |       count(*) AS n_types
        |FROM ranked WHERE r <= 1000""".stripMargin,
    "d27_hapax_ratio" ->
      """WITH toks AS (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
        |freq AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax, count(*) AS n_vocab,
        |       round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / count(*), 6) AS hapax_ratio
        |FROM freq GROUP BY 1 ORDER BY 1""".stripMargin,
    "d60_semantic_decontam" ->
      """WITH be AS (SELECT embedding FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < 6208),
        |sm AS (SELECT c.vec_id, max(round(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)) AS bench_max_cos
        |  FROM embeddings c, be b WHERE c.vec_id % 97 <> 0 GROUP BY 1),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
        |    THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
        |    ELSE [] END) AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |lex AS (SELECT g.doc_id, count(DISTINCT g.gram) AS shared
        |        FROM g JOIN ev USING (gram) WHERE g.doc_id % 97 <> 0 GROUP BY 1)
        |SELECT s.vec_id, CAST(coalesce(l.shared, 0) AS BIGINT) AS shared_8grams, s.bench_max_cos,
        |  coalesce(l.shared, 0) >= 1 AS lex_contam, s.bench_max_cos >= 0.35 AS sem_contam,
        |  coalesce(l.shared, 0) < 1 AND s.bench_max_cos < 0.35 AS keep
        |FROM sm s LEFT JOIN lex l ON l.doc_id = s.vec_id ORDER BY s.vec_id""".stripMargin,
    "d15_contamination" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
        |    THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
        |    ELSE [] END) AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, count(DISTINCT g.gram) AS shared_8grams
        |FROM g JOIN ev USING (gram) WHERE g.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d23_pagerank" ->
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON b.doc_id - a.doc_id BETWEEN 1 AND 3
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks)) >= 0.7),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION ALL SELECT doc_b, doc_a FROM p),
        |deg AS (SELECT u AS id, count(*) AS deg FROM e GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM deg),
        |pr0 AS (SELECT id, deg, 1.0 / n.n AS pr FROM deg, n),
        |pr1 AS (SELECT d.id, d.deg, 0.15 / n.n + 0.85 * coalesce(c.s, 0) AS pr
        |        FROM deg d CROSS JOIN n LEFT JOIN (SELECT e.v AS id, sum(p.pr / p.deg) AS s FROM e JOIN pr0 p ON e.u = p.id GROUP BY 1) c ON c.id = d.id),
        |pr2 AS (SELECT d.id, d.deg, 0.15 / n.n + 0.85 * coalesce(c.s, 0) AS pr
        |        FROM deg d CROSS JOIN n LEFT JOIN (SELECT e.v AS id, sum(p.pr / p.deg) AS s FROM e JOIN pr1 p ON e.u = p.id GROUP BY 1) c ON c.id = d.id),
        |pr3 AS (SELECT d.id, d.deg, 0.15 / n.n + 0.85 * coalesce(c.s, 0) AS pr
        |        FROM deg d CROSS JOIN n LEFT JOIN (SELECT e.v AS id, sum(p.pr / p.deg) AS s FROM e JOIN pr2 p ON e.u = p.id GROUP BY 1) c ON c.id = d.id)
        |SELECT id AS doc_id, CAST(deg AS BIGINT) AS degree, round(pr, 6) AS pagerank FROM pr3 ORDER BY doc_id""".stripMargin,
    "d45_bigram_entropy" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |bgu AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> struct_pack(a := t[i], b := t[i + 1]))) AS s
        |        FROM tok WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, s.a AS a, s.b AS b, count(*) AS c FROM bgu GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(ln(CAST(sum(c) AS DOUBLE)) - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
        |FROM bc GROUP BY 1 ORDER BY 1""".stripMargin,
    "d50_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
        |      FROM toks WHERE len(t) >= 2),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novelty
        |FROM g JOIN f USING (gram) GROUP BY 1 ORDER BY 1""".stripMargin,
    "d49_lang_confusion" ->
      """WITH p AS (SELECT lang,
        |  CASE WHEN CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |         x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE) /
        |       len(regexp_split_to_array(lower(text), '\s+')) > 0.05
        |    THEN 'en' ELSE 'other' END AS lang_pred
        |  FROM documents),
        |cells AS (SELECT lang, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang, count(*) AS n_true FROM p GROUP BY 1)
        |SELECT c.lang, c.lang_pred, CAST(c.n_docs AS BIGINT) AS n_docs,
        |  round(CAST(c.n_docs AS DOUBLE) / t.n_true, 4) AS class_frac
        |FROM cells c JOIN tot t USING (lang) ORDER BY c.lang, c.lang_pred""".stripMargin,
    "d46_chunk_windows" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, t, unnest(range(0, CAST(floor((len(t) - 1) / 16) AS INT) + 1)) AS chunk_id FROM tok)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(len(list_slice(t, chunk_id * 16 + 1, chunk_id * 16 + 32)) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(t, chunk_id * 16 + 1, chunk_id * 16 + 32), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "d47_mixture_weights" ->
      """WITH tok AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
        |freq AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
        |total AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM tok),
        |ps AS (SELECT source, count(*) AS n_tokens,
        |         round(avg(-ln(CAST(f.cf AS DOUBLE) / t.tt)), 6) AS avg_surprisal
        |       FROM tok JOIN freq f USING (term), total t GROUP BY 1),
        |z AS (SELECT sum(exp(avg_surprisal / 2.0)) AS z FROM ps)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, avg_surprisal,
        |  round(exp(avg_surprisal / 2.0) / z.z, 6) AS mixture_weight
        |FROM ps, z ORDER BY source""".stripMargin,
    "d43_kcore_peel" ->
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents),
        |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON b.doc_id - a.doc_id BETWEEN 1 AND 3
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks)) >= 0.7),
        |adj AS (SELECT doc_a AS v, doc_b AS u FROM e UNION ALL SELECT doc_b, doc_a FROM e),
        |deg0 AS (SELECT v, count(*) AS deg0 FROM adj GROUP BY 1),
        |s1 AS (SELECT v FROM deg0 WHERE deg0 >= 2),
        |adj1 AS (SELECT adj.v, adj.u FROM adj JOIN s1 a ON adj.v = a.v JOIN s1 b ON adj.u = b.v),
        |s2 AS (SELECT v FROM (SELECT v, count(*) AS d FROM adj1 GROUP BY 1) WHERE d >= 2),
        |adj2 AS (SELECT adj1.v, adj1.u FROM adj1 JOIN s2 a ON adj1.v = a.v JOIN s2 b ON adj1.u = b.v),
        |s3 AS (SELECT v FROM (SELECT v, count(*) AS d FROM adj2 GROUP BY 1) WHERE d >= 2)
        |SELECT d.doc_id, CAST(coalesce(deg0.deg0, 0) AS BIGINT) AS deg0,
        |  CAST(CASE WHEN s1.v IS NULL THEN 1 WHEN s2.v IS NULL THEN 2 WHEN s3.v IS NULL THEN 3 ELSE 0 END AS INT) AS peel_round,
        |  (s1.v IS NOT NULL AND s2.v IS NOT NULL AND s3.v IS NOT NULL) AS in_2core
        |FROM documents d
        |LEFT JOIN deg0 ON deg0.v = d.doc_id
        |LEFT JOIN s1 ON s1.v = d.doc_id
        |LEFT JOIN s2 ON s2.v = d.doc_id
        |LEFT JOIN s3 ON s3.v = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d22_triangles" ->
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents),
        |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON b.doc_id - a.doc_id BETWEEN 1 AND 3
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks)) >= 0.7),
        |t AS (SELECT count(*) AS n_triangles FROM e ab JOIN e bc ON ab.doc_b = bc.doc_a
        |        JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b)
        |SELECT (SELECT count(*) FROM e) AS n_edges, n_triangles FROM t""".stripMargin,
    "d21_chunking" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |ch AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1, 48),
        |    s -> {'idx': CAST((s - 1) / 48 AS INT), 'chunk': t[s:s+63]})) AS u
        |  FROM tok WHERE len(t) > 0)
        |SELECT doc_id, u.idx AS chunk_idx, CAST(len(u.chunk) AS INT) AS n_tokens,
        |  u.chunk[1] AS first_token, u.chunk[-1] AS last_token
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "d20_mixture_weights" ->
      """WITH pl AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS lang_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens, count(*) AS n_langs FROM pl)
        |SELECT lang, n_docs, lang_tokens,
        |  round(CAST(lang_tokens AS DOUBLE) / total_tokens, 6) AS actual_share,
        |  round((CAST(total_tokens AS DOUBLE) / n_langs) / lang_tokens, 6) AS weight
        |FROM pl, t ORDER BY lang""".stripMargin,
    "d17_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [] END AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents))
        |SELECT doc_id, CAST(len(g) AS INT) AS n_3grams, CAST(len(list_distinct(g)) AS INT) AS n_distinct,
        |  CASE WHEN len(g) > 0 THEN round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6) ELSE 0.0 END AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "d16_corpus_curation" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
        |    md5(text) AS content_hash
        |  FROM documents),
        |k AS (SELECT content_hash, min(doc_id) AS doc_id FROM d GROUP BY 1)
        |SELECT d.lang, count(*) AS n_curated, CAST(sum(d.n_tokens) AS BIGINT) AS curated_tokens,
        |  min(d.doc_id) AS min_doc
        |FROM d JOIN k USING (content_hash, doc_id)
        |WHERE d.n_tokens >= 5 AND d.n_chars >= 20
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Connected components as a recursive reachability CTE: cluster id =
    // min doc_id reachable in the undirected pair graph.
    "d12_dup_clusters" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON b.doc_id - a.doc_id BETWEEN 1 AND 3
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks)) >= 0.7),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION ALL SELECT doc_b, doc_a FROM p),
        |reach AS (SELECT u AS id, u AS r FROM edges UNION SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "d10_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC, tf.term) AS rn
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term AS top_term, round(score, 6) AS tfidf FROM scored WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d11_bigram_freq" ->
      """WITH toks AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram FROM toks)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "d02_token_stats" ->
      """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens, CAST(length(text) AS INT) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d03_text_quality" ->
      """SELECT doc_id,
        |  round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / length(text), 4) AS space_ratio,
        |  round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha_ratio,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d04_lang_guess" ->
      """SELECT doc_id, lang,
        |  CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 1.0 / len(regexp_split_to_array(lower(text), '\s+')) > 0.05 THEN 'en' ELSE 'other' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d05_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d06_distinct_tokens" ->
      """SELECT doc_id, CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS INT) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d07_bpe_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d08_edit_distance" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS INT) AS edit_dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id < 100 ORDER BY a.doc_id""".stripMargin,
    "d32_incremental_dedup" ->
      """WITH bh AS (SELECT md5(text) AS h, min(doc_id) AS dup_of FROM documents WHERE doc_id < 400 GROUP BY 1),
        |tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1), i -> array_to_string(t[i:i+4], ' '))) AS gram
        |      FROM tok WHERE len(t) >= 5),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 400),
        |ig AS (SELECT doc_id, count(*) AS n_grams FROM g WHERE doc_id >= 400 GROUP BY 1),
        |shared AS (SELECT g.doc_id, count(*) AS shared_grams FROM g JOIN bg USING (gram) WHERE g.doc_id >= 400 GROUP BY 1)
        |SELECT i.doc_id, bh.dup_of, (bh.dup_of IS NOT NULL) AS exact_dup,
        |  ig.n_grams, coalesce(shared.shared_grams, 0) AS shared_grams,
        |  round(CAST(coalesce(shared.shared_grams, 0) AS DOUBLE) / ig.n_grams, 4) AS overlap_frac
        |FROM (SELECT * FROM documents WHERE doc_id >= 400) i
        |JOIN ig ON ig.doc_id = i.doc_id
        |LEFT JOIN bh ON bh.h = md5(i.text)
        |LEFT JOIN shared ON shared.doc_id = i.doc_id
        |ORDER BY i.doc_id""".stripMargin,
    "d31_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1), i -> array_to_string(t[i:i+4], ' '))) AS gram
        |      FROM tok WHERE len(t) >= 5),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT) AS n_novel,
        |  round(CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS DOUBLE) / count(*), 6) AS novelty
        |FROM g JOIN f USING (gram) GROUP BY 1 ORDER BY 1""".stripMargin,
    "d30_khop_neighborhood" ->
      """WITH RECURSIVE tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents),
        |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON b.doc_id - a.doc_id BETWEEN 1 AND 3
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(list_cat(a.toks, b.toks))) >= 0.7),
        |reach(seed, node, depth) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT r.seed, e.doc_b, r.depth + 1 FROM reach r JOIN e ON e.doc_a = r.node WHERE r.depth < 5)
        |SELECT seed, CAST(count(DISTINCT node) AS BIGINT) AS n_reachable, CAST(max(depth) AS BIGINT) AS max_depth
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    "d42_trigram_logprob" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |uni AS (SELECT tok, count(*) AS c1 FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS tt, count(*) AS v FROM uni),
        |bgu AS (SELECT unnest(list_transform(range(1, len(t)), i -> struct_pack(a := t[i], b := t[i + 1]))) AS s
        |        FROM toks WHERE len(t) >= 2),
        |bg AS (SELECT s.a AS a, s.b AS b, count(*) AS c2 FROM bgu GROUP BY 1, 2),
        |dtgu AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> struct_pack(a := t[i], b := t[i + 1], c := t[i + 2]))) AS s
        |         FROM toks WHERE len(t) >= 3),
        |dtg AS (SELECT doc_id, s.a AS a, s.b AS b, s.c AS c FROM dtgu),
        |tg AS (SELECT a, b, c, count(*) AS c3 FROM dtg GROUP BY 1, 2, 3),
        |lp AS (SELECT d.doc_id,
        |  ln(0.6 * CAST(tg.c3 AS DOUBLE) / ab.c2 +
        |     0.3 * CAST(bc.c2 AS DOUBLE) / ub.c1 +
        |     0.1 * CAST(uc.c1 + 1 AS DOUBLE) / (tot.tt + tot.v)) AS logp
        |  FROM dtg d
        |  JOIN tg ON d.a = tg.a AND d.b = tg.b AND d.c = tg.c
        |  JOIN bg ab ON d.a = ab.a AND d.b = ab.b
        |  JOIN bg bc ON d.b = bc.a AND d.c = bc.b
        |  JOIN uni ub ON d.b = ub.tok
        |  JOIN uni uc ON d.c = uc.tok, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams, round(avg(logp), 6) AS avg_logprob3
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin,
    "d29_bigram_logprob" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uc),
        |db AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> struct_pack(a := t[i], b := t[i + 1]))) AS s
        |       FROM toks WHERE len(t) >= 2),
        |dbf AS (SELECT doc_id, s.a AS a, s.b AS b FROM db),
        |bc AS (SELECT a, b, count(*) AS c_ab FROM dbf GROUP BY 1, 2),
        |lp AS (SELECT d.doc_id, ln(CAST(bc.c_ab + 1 AS DOUBLE) / (uc.c + v.v)) AS logp
        |       FROM dbf d JOIN bc ON d.a = bc.a AND d.b = bc.b JOIN uc ON d.a = uc.tok, v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 6) AS avg_logprob
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin,
    "d28_setsim_join" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 4, 0) + 1), i -> array_to_string(t[i:i+4], ' '))) AS s
        |       FROM tok WHERE len(t) >= 5),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM p WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "d09_jaccard_pairs" ->
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(list_cat(a.toks, b.toks))), 4) AS jaccard
        |FROM tok a JOIN tok b ON b.doc_id BETWEEN a.doc_id + 1 AND a.doc_id + 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Exact signature replay: same md5 permutation family, same truncated-
    // shingle semantics for short docs (range(1, greatest(n-2,1)+1) mirrors
    // Spark's sequence(0, greatest(n-3,0)) start set; t[i:i+2] is DuckDB's
    // inclusive 1-based slice, truncating like Spark's slice()).
    "x01_minhash_signatures" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
        |       FROM tok, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) u(i))
        |SELECT doc_id, min(md5('0:'||shingle)) AS sig0, min(md5('1:'||shingle)) AS sig1,
        |       min(md5('2:'||shingle)) AS sig2, min(md5('3:'||shingle)) AS sig3
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // 32-bit simhash replay: bit j of ('0x'||first-8-hex-of-md5)::BIGINT
    // equals Spark's conv(substr(md5,1,8),16,10) bit j; the per-bit sign
    // sums and the final disjoint-bit SUM are integer-exact.
    "x03_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS tk FROM documents),
        |h AS (SELECT doc_id, ('0x'||substr(md5(tk),1,8))::BIGINT AS hv FROM tok),
        |b AS (SELECT doc_id, j, CASE WHEN sum(CASE WHEN (hv >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |                 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END AS bit
        |      FROM h, range(32) r(j) GROUP BY doc_id, j)
        |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash32 FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Brute-force all-pairs Hamming over the same portable signatures:
    // Spark's banded-LSH plan has recall 1 by pigeonhole, so the two
    // answers must be identical row-for-row.
    "x07_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS tk FROM documents),
        |h AS (SELECT doc_id, ('0x'||substr(md5(tk),1,15))::BIGINT AS hv FROM tok),
        |b AS (SELECT doc_id, j, CASE WHEN sum(CASE WHEN (hv >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |                 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END AS bit
        |      FROM h, range(60) r(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS s FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // fastText-score replay: same md5-derived bucket/weight derivation,
    // integer-exact weighted sums, one logistic on a bit-identical double
    // (rounded 6dp in both engines).
    "d39_fasttext_quality" ->
      """WITH tc AS (SELECT doc_id, tok, count(*) AS c
        |            FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents)
        |            GROUP BY doc_id, tok),
        |f AS (SELECT doc_id, c, ('0x'||substr(md5('w:'||tok),1,8))::BIGINT % 1024 AS bucket FROM tc),
        |w AS (SELECT doc_id, c, (('0x'||substr(md5('b:'||bucket),1,8))::BIGINT % 2001) - 1000 AS wt FROM f),
        |s AS (SELECT doc_id, CAST(sum(wt * c) AS BIGINT) AS wsum, CAST(sum(c) AS BIGINT) AS n_tok
        |      FROM w GROUP BY doc_id)
        |SELECT doc_id, wsum, n_tok,
        |       round(1.0 / (1.0 + exp(-(wsum / (1000.0 * n_tok)))), 6) AS quality_score,
        |       (1.0 / (1.0 + exp(-(wsum / (1000.0 * n_tok))))) >= 0.5 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    // CDC replay: same md5-mod-16 boundary rule on 4-token windows (e < n
    // keeps the terminal boundary unique), same lag-window chunk rebuild.
    "d41_cdc_chunks" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tok),
        |w AS (SELECT tok.doc_id, CAST(i + 3 AS BIGINT) AS e
        |      FROM tok, UNNEST(range(1, len(t) - 2)) u(i)
        |      WHERE len(t) >= 4
        |        AND ('0x'||substr(md5(array_to_string(t[CAST(i AS INT):CAST(i + 3 AS INT)], ' ')),1,8))::BIGINT % 16 = 0),
        |b AS (SELECT w.doc_id, w.e FROM w JOIN nn ON w.doc_id = nn.doc_id WHERE w.e < nn.n
        |      UNION ALL SELECT doc_id, n AS e FROM nn),
        |c AS (SELECT doc_id, e,
        |             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY e) AS INT) AS chunk_idx,
        |             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS start_pos
        |      FROM b)
        |SELECT doc_id, chunk_idx, CAST(start_pos AS BIGINT) AS start_pos, e AS end_pos,
        |       e - start_pos + 1 AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // DSIR replay: same 'w:'-salted md5 buckets, same Laplace-smoothed
    // log ratio, same quantile_cont cutoff over the 6dp-rounded scores
    // (Spark `percentile` and DuckDB `quantile_cont` both interpolate —
    // the d35 pairing).
    "d40_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source = 'src0' AS tgt,
        |                   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
        |b AS (SELECT doc_id, tgt, bucket, count(*) AS c FROM (
        |       SELECT doc_id, tgt, ('0x'||substr(md5('w:'||tok),1,8))::BIGINT % 1024 AS bucket FROM tk)
        |      GROUP BY 1, 2, 3),
        |bs AS (SELECT bucket, coalesce(sum(c) FILTER (WHERE tgt), 0) AS ct,
        |       coalesce(sum(c) FILTER (WHERE NOT tgt), 0) AS cr
        |       FROM b GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bs),
        |r AS (SELECT bucket, ln((ct + 1.0) / (nt + 1024)) - ln((cr + 1.0) / (nr + 1024)) AS l FROM bs, tot),
        |sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, round(sum(l * c) / sum(c), 6) AS dsir_logratio
        |       FROM b JOIN r USING (bucket) WHERE NOT tgt GROUP BY doc_id),
        |cut AS (SELECT quantile_cont(dsir_logratio, 0.8) AS c FROM sc)
        |SELECT doc_id, n_tokens, dsir_logratio, dsir_logratio >= cut.c AS kept
        |FROM sc, cut ORDER BY doc_id""".stripMargin,
    // Logistic-regression training replay: the full 3-iteration descent
    // re-derived from the raw corpus — same 'w:'-salted buckets, integer
    // micro-logit weights (all cross-engine sums integer-exact), the
    // logistic 6dp-rounded then re-quantized, power-of-two learning step
    // via floor(g/2^21 + 0.5). Weights must match bit-for-bit.
    "d64_logreg_train" -> {
      s"""WITH $LogregDescentSql,
         |zf AS (SELECT doc_id, y, CAST(sum(c * wm) AS BIGINT) AS z FROM db JOIN w3 USING (bucket) GROUP BY 1, 2),
         |pf AS (SELECT y, round(1.0/(1.0+exp(-(z/1000000.0))), 6) AS p FROM zf),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos,
         |             CAST(count(*) FILTER (WHERE CAST(p >= 0.5 AS INT) = y) AS BIGINT) AS n_correct,
         |             CAST(count(*) FILTER (WHERE y = 1 AND p >= 0.5) AS BIGINT) AS n_pos_correct FROM pf)
         |SELECT bk.bucket, w1.wm AS w1, w2.wm AS w2, w3.wm AS w3,
         |       m.n_docs, m.n_pos, m.n_correct, m.n_pos_correct,
         |       round(CAST(m.n_correct AS DOUBLE) / m.n_docs, 4) AS train_acc
         |FROM bk JOIN w1 USING (bucket) JOIN w2 USING (bucket) JOIN w3 USING (bucket), m
         |ORDER BY bk.bucket""".stripMargin
    },

    // Split-leakage replay: d28's exact all-pairs jaccard + the portable
    // md5-prefix split assignment.
    "d38_split_leakage" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 4, 0) + 1), i -> array_to_string(t[i:i+4], ' '))) AS s
        |       FROM tok WHERE len(t) >= 5),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |sp AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT % 10 AS split FROM documents),
        |l AS (SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM p WHERE j >= 0.5)
        |SELECT l.doc_a, l.doc_b, l.jaccard, sa.split AS split_a, sb.split AS split_b,
        |       sa.split <> sb.split AS leaks
        |FROM l JOIN sp sa ON l.doc_a = sa.doc_id JOIN sp sb ON l.doc_b = sb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Gopher-rule replay: identical stats from the same (doc, token)
    // count table; every boolean compares the 4dp-ROUNDED stat, so both
    // engines decide from bit-identical values.
    "d36_gopher_rules" ->
      """WITH tc AS (SELECT doc_id, tok, count(*) AS c
        |            FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents)
        |            GROUP BY doc_id, tok),
        |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS wc,
        |        round(CAST(sum(len(tok) * c) AS DOUBLE) / sum(c), 4) AS mwl,
        |        CAST(count(*) FILTER (WHERE tok IN ('the', 'a')) AS BIGINT) AS n_stop,
        |        round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_share
        |      FROM tc GROUP BY doc_id)
        |SELECT doc_id, wc, mwl, n_stop, top_share,
        |  wc >= 20 AS wc_ok, mwl >= 3.0 AND mwl <= 4.5 AS mwl_ok, n_stop >= 2 AS stop_ok, top_share <= 0.12 AS rep_ok,
        |  (wc >= 20 AND mwl >= 3.0 AND mwl <= 4.5 AND n_stop >= 2 AND top_share <= 0.12) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    // Temperature-mix replay: same 6dp share rounding before the pow,
    // same 4dp rounding after it.
    "d37_temperature_mix" ->
      """WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS lang_tokens
        |            FROM documents GROUP BY lang),
        |tt AS (SELECT CAST(sum(lang_tokens) AS DOUBLE) AS tt FROM pl),
        |sh AS (SELECT lang, n_docs, lang_tokens, round(lang_tokens / tt, 6) AS actual_share,
        |              pow(round(lang_tokens / tt, 6), 0.3) AS pa FROM pl, tt),
        |z AS (SELECT sum(pa) AS z FROM sh)
        |SELECT lang, n_docs, lang_tokens, actual_share, round(pa / z, 4) AS temp_share,
        |       round(pa / z / actual_share, 4) AS upsample_factor
        |FROM sh, z ORDER BY lang""".stripMargin,
    // Perplexity-bucket replay: d29's LM scoring CTEs + quantile_cont
    // tercile cutoffs (Spark percentile() has the same interpolating
    // definition — the q28 precedent); bucket compare is on 6dp-rounded
    // scores so a last-ulp cutoff difference can't flip an assignment.
    "d35_perplexity_buckets" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uc),
        |db AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> struct_pack(a := t[i], b := t[i + 1]))) AS s
        |       FROM toks WHERE len(t) >= 2),
        |dbf AS (SELECT doc_id, s.a AS a, s.b AS b FROM db),
        |bc AS (SELECT a, b, count(*) AS c_ab FROM dbf GROUP BY 1, 2),
        |lp AS (SELECT d.doc_id, ln(CAST(bc.c_ab + 1 AS DOUBLE) / (uc.c + v.v)) AS logp
        |       FROM dbf d JOIN bc ON d.a = bc.a AND d.b = bc.b JOIN uc ON d.a = uc.tok, v),
        |scored AS (SELECT doc_id, round(avg(logp), 6) AS score FROM lp GROUP BY 1),
        |ntok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks WHERE len(t) >= 2),
        |cuts AS (SELECT quantile_cont(score, 2.0/3.0) AS b1, quantile_cont(score, 1.0/3.0) AS b2 FROM scored),
        |lab AS (SELECT s.doc_id, CASE WHEN s.score >= c.b1 THEN 'head' WHEN s.score >= c.b2 THEN 'middle' ELSE 'tail' END AS bucket,
        |               s.score, n.n_tokens
        |        FROM scored s JOIN ntok n USING (doc_id), cuts c),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt FROM lab)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs, round(avg(score), 6) AS avg_score,
        |       round(sum(n_tokens) / tt, 6) AS token_share
        |FROM lab, tot GROUP BY bucket, tt ORDER BY bucket""".stripMargin,
    // Span-dedup replay: same md5 span keys, same packed (doc_id, pos)
    // first-occurrence rule, same rebuild. range(1, len(t) - 6) is
    // p in 1..n-7 = the n-w+1 span starts for w=8.
    "d34_span_dedup" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |tr AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM tok),
        |sp AS (SELECT doc_id, p, md5(array_to_string(t[p:p+7], ' ')) AS gh
        |       FROM tok, UNNEST(range(1, len(t) - 6)) u(p) WHERE len(t) >= 8),
        |g AS (SELECT gh, count(*) AS cnt, min(doc_id * 1048576 + p) AS first_key FROM sp GROUP BY gh),
        |rm AS (SELECT sp.doc_id, sp.p FROM sp JOIN g USING (gh) WHERE g.cnt > 1 AND sp.doc_id * 1048576 + sp.p <> g.first_key),
        |cov AS (SELECT DISTINCT doc_id, pos FROM rm, UNNEST(range(p, p + 8)) v(pos)),
        |kept AS (SELECT tr.doc_id, tr.pos, tr.tok FROM tr LEFT JOIN cov ON tr.doc_id = cov.doc_id AND tr.pos = cov.pos WHERE cov.pos IS NULL),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tr GROUP BY doc_id),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tok, ' ' ORDER BY pos) AS rebuilt FROM kept GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_tokens, tot.n_tokens - coalesce(ka.n_kept, 0) AS n_removed, coalesce(ka.rebuilt, '') AS rebuilt
        |FROM tot LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin,
    // d34's removal replay with the md5 span key replaced by the ACTUAL
    // window text — the engine's rank groups are true text equality, so
    // the oracle must be too.
    "d66_suffix_dedup" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |tr AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM tok),
        |sp AS (SELECT doc_id, p, array_to_string(t[p:p+7], ' ') AS gh
        |       FROM tok, UNNEST(range(1, len(t) - 6)) u(p) WHERE len(t) >= 8),
        |g AS (SELECT gh, count(*) AS cnt, min(doc_id * 1048576 + p) AS first_key FROM sp GROUP BY gh),
        |rm AS (SELECT sp.doc_id, sp.p FROM sp JOIN g USING (gh) WHERE g.cnt > 1 AND sp.doc_id * 1048576 + sp.p <> g.first_key),
        |cov AS (SELECT DISTINCT doc_id, pos FROM rm, UNNEST(range(p, p + 8)) v(pos)),
        |kept AS (SELECT tr.doc_id, tr.pos, tr.tok FROM tr LEFT JOIN cov ON tr.doc_id = cov.doc_id AND tr.pos = cov.pos WHERE cov.pos IS NULL),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tr GROUP BY doc_id),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tok, ' ' ORDER BY pos) AS rebuilt FROM kept GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_tokens, tot.n_tokens - coalesce(ka.n_kept, 0) AS n_removed, coalesce(ka.rebuilt, '') AS rebuilt
        |FROM tot LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Suffix-array ExactSubstr replay, closed-form: duplicated 8-token
    // windows by TRUE text equality (no hashing on either side), covered
    // positions unioned, maximal spans via the islands trick — exactly
    // the engine's semantics, reached without a suffix array (DuckDB can
    // afford the direct group-by at oracle scale; the engine cannot at
    // 100 TB, which is what the prefix doubling is for).
    "d65_suffix_spans" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |sp AS (SELECT doc_id, p, array_to_string(t[p:p+7], ' ') AS gram
        |       FROM tok, UNNEST(range(1, len(t) - 6)) u(p) WHERE len(t) >= 8),
        |g AS (SELECT gram FROM sp GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos FROM sp JOIN g USING (gram), UNNEST(range(p, p + 8)) v(pos)),
        |isl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM cov)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, CAST(count(*) AS BIGINT) AS span_len
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,
    // Winnow replay: same normalization (regexp_replace needs the 'g' flag
    // here — DuckDB replaces first-match-only by default, Spark replaces
    // all), same truncated-window rule (a doc with n < w grams keeps only
    // the window at its last gram = the global min).
    "x04_winnow_fingerprints" ->
      """WITH nm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |g AS (SELECT doc_id, i, md5(substr(norm, CAST(i AS INT), 5)) AS h, greatest(len(norm) - 4, 1) AS n
        |      FROM nm, UNNEST(range(1, greatest(len(norm) - 4, 1) + 1)) u(i)),
        |f AS (SELECT doc_id, i, n, min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp FROM g)
        |SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints, min(fp) AS min_fp, max(fp) AS max_fp
        |FROM f WHERE i >= least(4, n) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d54_token_fertility" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS BIGINT) AS bpe_tokens,
        |  round(avg(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) * 1.0 /
        |            len(regexp_split_to_array(lower(trim(text)), '\s+'))), 4) AS avg_fertility,
        |  round(sum(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) * 1.0 /
        |        sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))), 4) AS corpus_fertility
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // LPA replay: same edges as d43/d22, three synchronous rounds
    // unrolled, same (count desc, label asc) modal tie-break.
    "d52_label_prop" ->
      """WITH tok AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents),
        |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM tok a JOIN tok b ON b.doc_id - a.doc_id BETWEEN 1 AND 3
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks)) >= 0.7),
        |adj AS (SELECT doc_a AS v, doc_b AS u FROM e UNION ALL SELECT doc_b, doc_a FROM e),
        |l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents),
        |n1 AS (SELECT adj.v, l.lab, count(*) AS c FROM adj JOIN l0 l ON l.v = adj.u GROUP BY 1, 2),
        |m1 AS (SELECT v, lab FROM (SELECT v, lab, row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn FROM n1) WHERE rn = 1),
        |l1 AS (SELECT l0.v, coalesce(m1.lab, l0.lab) AS lab FROM l0 LEFT JOIN m1 ON m1.v = l0.v),
        |n2 AS (SELECT adj.v, l.lab, count(*) AS c FROM adj JOIN l1 l ON l.v = adj.u GROUP BY 1, 2),
        |m2 AS (SELECT v, lab FROM (SELECT v, lab, row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn FROM n2) WHERE rn = 1),
        |l2 AS (SELECT l1.v, coalesce(m2.lab, l1.lab) AS lab FROM l1 LEFT JOIN m2 ON m2.v = l1.v),
        |n3 AS (SELECT adj.v, l.lab, count(*) AS c FROM adj JOIN l2 l ON l.v = adj.u GROUP BY 1, 2),
        |m3 AS (SELECT v, lab FROM (SELECT v, lab, row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn FROM n3) WHERE rn = 1),
        |l3 AS (SELECT l2.v, coalesce(m3.lab, l2.lab) AS lab FROM l2 LEFT JOIN m3 ON m3.v = l2.v),
        |sz AS (SELECT lab, count(*) AS community_size FROM l3 GROUP BY 1)
        |SELECT l3.v AS doc_id, l3.lab AS community, CAST(sz.community_size AS BIGINT) AS community_size
        |FROM l3 JOIN sz USING (lab) ORDER BY doc_id""".stripMargin,
    // Overlap replay: same tokenization/bigram forms as d02/d11, same
    // clipped-count precision and pair construction.
    "d53_ngram_overlap" ->
      """WITH t1 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS g FROM documents),
        |c1 AS (SELECT doc_id, g, count(*) AS c FROM t1 GROUP BY 1, 2),
        |tt AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |t2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
        |       FROM tt WHERE len(t) >= 2),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM t2 GROUP BY 1, 2),
        |p1 AS (SELECT b.doc_id - 1 AS doc_a, b.doc_id AS doc_b,
        |         round(sum(least(coalesce(a.c, 0), b.c)) * 1.0 / sum(b.c), 4) AS p1
        |       FROM c1 b LEFT JOIN c1 a ON a.doc_id = b.doc_id - 1 AND a.g = b.g
        |       WHERE b.doc_id BETWEEN 1 AND 100 GROUP BY 1, 2),
        |p2 AS (SELECT b.doc_id - 1 AS doc_a, b.doc_id AS doc_b,
        |         round(sum(least(coalesce(a.c, 0), b.c)) * 1.0 / sum(b.c), 4) AS p2
        |       FROM c2 b LEFT JOIN c2 a ON a.doc_id = b.doc_id - 1 AND a.g = b.g
        |       WHERE b.doc_id BETWEEN 1 AND 100 GROUP BY 1, 2)
        |SELECT p1.doc_a, p1.doc_b, p1.p1, p2.p2
        |FROM p1 LEFT JOIN p2 USING (doc_a, doc_b) ORDER BY doc_a""".stripMargin,
    "d51_vocab_growth" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token FROM documents),
        |per AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1),
        |fs AS (SELECT token, min(doc_id) AS doc_id FROM tok GROUP BY 1),
        |novel AS (SELECT doc_id, count(*) AS n_novel FROM fs GROUP BY 1),
        |j AS (SELECT p.doc_id, p.n_tokens, coalesce(n.n_novel, 0) AS n_novel
        |      FROM per p LEFT JOIN novel n USING (doc_id))
        |SELECT doc_id, n_tokens, n_novel,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS corpus_tokens,
        |  CAST(sum(n_novel) OVER (ORDER BY doc_id) AS BIGINT) AS vocab_size
        |FROM j ORDER BY doc_id""".stripMargin
  )
}
