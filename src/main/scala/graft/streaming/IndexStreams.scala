package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.ops.IvfIndex
import graft.ops.IvfIndex.Centroids

/** Streaming maintenance of the materialized IVF index (s04's
  * posture): new embeddings arrive as a stream and are folded into the
  * index INCREMENTALLY — assign each vector to its nearest centroid
  * (the k-row sidecar broadcasts with the task closure) and land it in
  * that cell's partition, so [[IvfIndex]]-style searches keep pruning
  * to the probed cells with zero re-clustering work per batch.
  *
  * Layout: the batch-built `assignment/` stays immutable; streamed rows
  * land under `stream_assignment/batch=<epoch>/cluster=<c>/`. Both
  * sides carry `cluster` as a partition column, so one
  * `cluster IN (probes)` filter prunes BOTH scans at plan time — the
  * search cost stays nprobe/k of the corpus whether rows arrived by
  * build or by stream. Epoch REPLAY is idempotent by construction: a
  * batch overwrites exactly its own `batch=<epoch>` directory, so a
  * foreachBatch retry re-lands the same rows in the same place instead
  * of appending twice (the jobToken idea, expressed as a partition).
  *
  * Centroids are NOT updated by the stream — that is the documented
  * contract (the index's geometry is fixed at build time, as in every
  * production IVF deployment; FAISS included). The emitted per-batch
  * metric (mean cosine of new vectors to their assigned centroid) is
  * the drift signal: when it decays, rebuild and re-point.
  */
object IndexStreams {

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))

  /** File-source stream over a drop-folder of embedding parquet files. */
  def readEmbeddingStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(embeddingSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** One batch's upsert: assign against the FIXED centroids and
    * overwrite this batch's own partition directory (idempotent under
    * replay). Returns (rows landed, mean cosine to assigned centroid —
    * the drift metric). Exposed separately from the stream wiring so
    * specs can drive the exact replay case.
    */
  def upsertBatch(batch: DataFrame, batchId: Long, indexDir: String, cents: Centroids): (Long, Double) = {
    // max cosine over the k centroids = similarity to the ASSIGNED
    // centroid (assignment is argmax-cosine), shuffle-free — the fused
    // codegen kernel; the old array_max over k cosine columns fell out
    // of whole-stage codegen at k=64 and ran interpreted
    val simToAssigned =
      graft.functions.VectorFunctions.nearest_centroid(col("embedding"), cents)
        .getField("sim")
    // ONE Spark job per batch: the count/drift metrics ride the write
    // itself as observed metrics (CollectMetrics in the write plan)
    // instead of the former localCheckpoint + agg + write triple — at a
    // 3-epoch churn script that is 6 fewer sequential jobs per query,
    // and at 100 TB one pass over the batch instead of two.
    val obs = org.apache.spark.sql.Observation()
    val assigned = IvfIndex.assignments(batch.select("vec_id", "embedding"), cents)
      .withColumn("cos_sim", simToAssigned)
      .observe(obs, count(lit(1)).as("n"), avg(col("cos_sim")).as("drift"))
    // Stage-then-publish: land in an underscore-prefixed staging dir
    // (Hadoop's hidden-path filter makes `_…` invisible to every reader),
    // then publish it with [[graft.ingest.Publish.stagedDir]]: an EMPTY
    // batch publishes nothing. Replay overwrites the staging dir. Still
    // ONE Spark job.
    val staging = new org.apache.hadoop.fs.Path(s"$indexDir/stream_assignment/_staging_batch=$batchId")
    assigned
      .drop("cos_sim")
      .write.mode("overwrite")
      .partitionBy("cluster")
      .parquet(staging.toString)
    val row = obs.get
    val n = row("n").asInstanceOf[Long]
    graft.ingest.Publish.stagedDir(staging.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration),
      staging, new org.apache.hadoop.fs.Path(s"$indexDir/stream_assignment/batch=$batchId"), n)
    (n, row.get("drift").flatMap(Option(_)).map(_.asInstanceOf[Double]).getOrElse(Double.NaN))
  }

  /** One batch's DELETES: land the tombstoned ids under
    * `tombstones/batch=<id>` — the same epoch-partition channel as the
    * upserts, so a replayed epoch overwrites exactly its own tombstone
    * set (idempotent) and [[graft.ops.IvfIndex.searchIndexLive]] applies
    * them merge-on-read with last-writer-wins by epoch: a tombstone
    * kills every row of the same id from batches at-or-before it (base
    * rows included), while a LATER re-upsert resurfaces the id.
    * Compaction ([[graft.ops.IvfIndex.compactLiveIndex]]) retires both
    * sides into a fresh base generation.
    */
  def tombstoneBatch(spark: SparkSession, ids: Seq[Long], batchId: Long, indexDir: String): Unit = {
    import spark.implicits._
    ids.toDF("vec_id")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$indexDir/tombstones/batch=$batchId")
  }

  /** Record one batch's drift metric under its OWN `batch=<id>`
    * directory (mirroring the data path's layout), so an epoch replay
    * overwrites the same row instead of appending a duplicate — the
    * log honors the same idempotency contract as the data.
    */
  def logBatchMetric(spark: SparkSession, indexDir: String, batchId: Long, rows: Long, meanCos: Double): Unit = {
    import spark.implicits._
    Seq((rows, meanCos)).toDF("rows", "mean_cos")
      .write.mode("overwrite").parquet(s"$indexDir/upsert_log/batch=$batchId")
  }

  /** Read the drift log back as a (batch, rows, mean_cos) table. */
  def readUpsertLog(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/upsert_log").select("batch", "rows", "mean_cos")

  /** Wire the stream: every micro-batch folds into the index and the
    * drift metric lands in `indexDir/upsert_log/batch=<id>` (rows,
    * mean_cos) — readable as a table by whoever watches the index.
    */
  def streamingIvfUpsert(
      embStream: DataFrame,
      indexDir: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = embStream.sparkSession
    embStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // centroids re-loaded PER micro-batch: a retrain compaction
        // republishes the centroid sidecar mid-stream, and assigning
        // pending rows under the old geometry while searches probe with
        // the new one would let the cluster-pruned tail miss them
        val cents = IvfIndex.loadCentroids(spark, indexDir)
        val (rows, meanCos) = upsertBatch(batch, batchId, indexDir, cents)
        logBatchMetric(spark, indexDir, batchId, rows, meanCos)
      }
  }
}
