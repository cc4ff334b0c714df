package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, collect_list, count, explode, expr, lit, lower, map_from_entries, md5, pmod, size, split, struct, to_json, trim, xxhash64}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** The streaming CURATION rung: ingest → exact-dedup → quality floor →
  * training shards, running incrementally — the stream twin of the
  * batch `d16_corpus_curation` keeper chain landing in the
  * `graft-shards` container (`p01` is the batch composition; this is
  * the same head of that pipeline as an unbounded incremental flow).
  *
  * A crawl drop-folder is watched as a file stream; each micro-batch's
  * documents are content-hashed, deduplicated against ALL previously
  * accepted documents (streaming `dropDuplicates` state — one tiny row
  * per distinct content hash, the exact cross-batch guarantee batch
  * reruns get from d01's groupBy), floored on the d16 quality rules,
  * and appended to a shard directory whose manifest merges per commit —
  * so a training loader can read a consistent corpus at any point
  * between batches.
  *
  * State posture at scale: dedup state is one (hash) row per DISTINCT
  * accepted document — the same cardinality the batch keeper aggregate
  * shuffles, held in the state store instead. On a truly unbounded
  * crawl, bound it by re-keying to `dropDuplicatesWithinWatermark` on
  * an ingest-time column; the synthetic documents table carries no ingest
  * timestamp, so the unbounded-state exact form is the faithful twin
  * here and the caveat is this scaladoc.
  */
object DocumentStreams {

  /** Schema of the `documents` table (TESTDATA.md). */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** File-source stream over a drop-folder of document parquet files.
    * `maxFilesPerTrigger = 1` makes each dropped file its own
    * micro-batch (the spec drives exactly this); offsets live in the
    * checkpoint like the reference's watermark file.
    */
  def readDocumentStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(documentSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** The incremental curation transform: content-hash exact dedup with
    * cross-batch state plus the d16 quality floors. First arrival wins
    * the dedup — on a mod-time-ordered drop folder that is the earliest
    * file's copy, matching the batch keeper's min-doc_id choice when
    * files arrive in id order.
    */
  def curatedDocuments(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withColumn("n_tokens", size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .dropDuplicates("content_hash")
      .filter(col("n_tokens") >= 5 && col("n_chars") >= 20)

  /** Streaming dedup with BOUNDED state: a Bloom filter per key-space
    * partition instead of `dropDuplicates`' one-row-per-distinct-hash
    * state. The exact rung ([[curatedDocuments]]) is the right default;
    * this is the knob a truly unbounded crawl reaches for when even
    * one tiny row per distinct document is too much state — the classic
    * memory/recall trade:
    *
    *  - a DUPLICATE is always dropped (Bloom filters have no false
    *    negatives), so the zero-dups-admitted guarantee is kept;
    *  - a NOVEL document is wrongly dropped with probability ≤ fpp
    *    (false positive) — bounded data loss, zero duplication;
    *  - state per group is the filter's bit array, sized ONCE from
    *    (expectedItems, fpp) and CONSTANT for the stream's lifetime —
    *    `state_bytes` is emitted with every row so a monitor (and the
    *    spec) can see it not growing. Size expectedItems to the
    *    anticipated distinct count per group or fpp degrades.
    *
    * Documents route to one of `groups` state partitions by their
    * content hash, so every copy of a document — whatever batch it
    * arrives in — meets the same filter. Uses Spark's own
    * `util.sketch.BloomFilter` (the q50 sketch) serialized into the
    * state store. Within a batch the group walks rows in doc_id order,
    * so the admitted set is deterministic.
    */
  case class BloomDedupState(bytes: Array[Byte], admitted: Long)

  def streamingBloomDedup(
      docs: DataFrame,
      groups: Int = 8,
      expectedItems: Long = 100000L,
      fpp: Double = 0.01): org.apache.spark.sql.Dataset[(Int, Long, Long, Int)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.util.sketch.BloomFilter
    docs
      .withColumn("content_hash", md5(col("text")))
      .select(col("content_hash"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey { case (hash, _) => math.floorMod(hash.hashCode, groups) }
      .flatMapGroupsWithState[BloomDedupState, (Int, Long, Long, Int)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (group: Int, rows: Iterator[(String, Long)], state: GroupState[BloomDedupState]) =>
          val bloom = state.getOption match {
            case Some(st) => BloomFilter.readFrom(new java.io.ByteArrayInputStream(st.bytes))
            case None => BloomFilter.create(expectedItems, fpp)
          }
          var admitted = state.getOption.map(_.admitted).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).flatMap { case (hash, id) =>
            if (bloom.mightContain(hash)) None
            else {
              bloom.put(hash)
              admitted += 1
              Some((group, id, admitted, 0)) // state size patched below
            }
          }
          val ser = new java.io.ByteArrayOutputStream()
          bloom.writeTo(ser)
          val bytes = ser.toByteArray
          state.update(BloomDedupState(bytes, admitted))
          out.map { case (g, id, cum, _) => (g, id, cum, bytes.length) }.iterator
      }
  }

  /** Deterministic hashed bag-of-words featurizer: token `t` adds 1 to
    * bucket `xxhash64(t) mod dim`, yielding a `dim`-wide float vector
    * per document — the doc→vector seam of the streaming index loop
    * (ingest → curate → shard → tail → upsert). It is a STAND-IN with
    * the real pipeline shape: one narrow explode + two map-side-
    * combinable aggregates, no UDF, byte-stable across runs (the
    * multimodal-stub posture — production swaps in a learned encoder
    * behind the same (doc_id, text) ⇒ (vec_id, embedding) contract,
    * and nothing downstream changes). Cosine over these vectors is
    * lexical similarity, which is exactly what the loop's drift metric
    * wants to watch move.
    */
  def hashedEmbeddings(docs: DataFrame, dim: Int = 16): DataFrame = {
    require(dim >= 2, s"embedding dim must be >= 2, got $dim")
    docs
      .select(col("doc_id").as("vec_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("vec_id"), pmod(xxhash64(col("tok")), lit(dim.toLong)).cast("int").as("b"))
      .agg(count(lit(1)).cast("float").as("c"))
      .groupBy("vec_id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"))
      .select(col("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), i -> coalesce(element_at(m, i), CAST(0.0 AS FLOAT)))")
          .as("embedding"))
  }

  /** Wires the curated stream into the `graft-shards` container through
    * the sink's NATIVE streaming write (`TableCapability.STREAMING_WRITE`),
    * with no foreachBatch hook: the epoch commit itself merges the
    * manifest, shard names are epoch-scoped so replayed epochs cannot
    * collide, and the directory is a loadable corpus between any two
    * epochs.
    */
  def curatedShardStreamNative(
      docs: DataFrame,
      outDir: String,
      checkpoint: String,
      maxDocsPerShard: Long = 100000L
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    val curated = curatedDocuments(docs).drop("content_hash", "n_tokens")
    curated
      .select(to_json(struct(curated.columns.map(col): _*)).as("line"))
      .writeStream
      .format("graft-shards")
      .option("path", outDir)
      .option("maxDocsPerShard", maxDocsPerShard.toString)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
  }
}
