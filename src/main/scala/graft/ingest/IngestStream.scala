package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.slf4j.LoggerFactory

/** Totals of one [[IngestStream.runKafkaAvailableNow]] run: micro-batches
  * processed, records landed, and tombstones (null values) skipped.
  */
final case class KafkaDrainSummary(batches: Long, records: Long, tombstones: Long)

/** Streaming form of the ingest pipeline: the reference's scheduled
  * 12-hour incremental run (`/root/reference/ci/resources.yml:20-23`)
  * expressed as ONE Structured Streaming query over the custom
  * `graft-audit` DSv2 source ([[graft.sources.AuditStreamSourceProvider]])
  * instead of an external scheduler re-invoking a batch job.
  *
  * Shape: `readStream.format("graft-audit")` admits one pending day per
  * micro-batch (oldest first); `foreachBatch` runs the same executor-side
  * compress→envelope-encrypt→put loop as the batch core
  * ([[IngestJob.uploadFiles]]); `Trigger.AvailableNow` drains the backlog
  * then terminates. The checkpointed offset log IS the watermark — a
  * restart resumes from the last committed day — and the source mirrors
  * each committed day into the reference-format progress file so batch
  * and stream stay interchangeable.
  *
  * Failure semantics match the reference's commit-or-abort day loop
  * (audit_data_ingest.py:50-68): any failed file in a day raises, the
  * micro-batch aborts, its offset is never committed, and the next run
  * re-processes the whole day (at-least-once, fresh key+nonce per
  * attempt).
  *
  * Checkpoint logs: both streams write their offset log (before a batch)
  * and commit log (after it) through [[CheckpointFiles]], which on the
  * local FS writes and publishes each log file with java.nio instead of
  * Hadoop calls that fork `chmod` and `readlink` per file. The manager is
  * scoped to these two queries: [[startWithCheckpointFiles]] sets
  * `spark.sql.streaming.checkpointFileManagerClass` on the caller's session
  * around `start()` only and restores it in a `finally`. `start()` builds
  * the query's own clone of the session, and Spark builds the query's logs
  * from that clone's Hadoop conf, so the setting reaches this query's logs
  * and no other query's. A stream that another thread starts on the same
  * session inside that window gets the same manager, which changes nothing
  * off the local FS and only the fork count on it.
  *
  * Each checkpoint has one writer: one query runs per checkpoint at a
  * time, as the reference runs one pipeline instance (`max_in_flight: 1`).
  * The manager does not rely on it for its no-overwrite publish (link(2)
  * refuses an existing log file even to a second writer); the single
  * writer is what makes deleting a stale checksum before a publish safe.
  */
object IngestStream {
  private val log = LoggerFactory.getLogger(getClass)

  /** The streaming source DataFrame of `(path, content, day)`. */
  def source(spark: SparkSession, cfg: IngestConfig): DataFrame =
    spark.readStream
      .format("graft-audit")
      .option("srcDir", cfg.srcDir)
      .option("progressFile", cfg.progressFile)
      .load()

  /** Spark's setting that names a query's checkpoint file manager class. */
  private[ingest] val CheckpointManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start `writer` on `spark` with [[CheckpointFiles]] as the query's
    * checkpoint manager, then put the session's setting back as it was
    * (unset if it was), also when `start()` throws.
    */
  private[ingest] def startWithCheckpointFiles(spark: SparkSession, writer: DataStreamWriter[Row]): StreamingQuery = {
    val prior = spark.conf.getOption(CheckpointManagerConf)
    spark.conf.set(CheckpointManagerConf, classOf[CheckpointFiles].getName)
    try writer.start()
    finally prior.fold(spark.conf.unset(CheckpointManagerConf))(spark.conf.set(CheckpointManagerConf, _))
  }

  /** Process one micro-batch (≈ one day): encrypt+upload every file, then
    * commit-or-abort (the source mirrors the day once Spark commits it).
    * Defensive about multi-day batches (possible only if a foreign
    * ReadLimit coalesces days): files carry their own day, so keys stay
    * correct regardless.
    */
  private[ingest] def processBatch(cfg: IngestConfig, batch: DataFrame, batchId: Long): Unit = {
    val root = AuditSource.root(batch.sparkSession, cfg.srcDir).toUri.getPath
    val pubB64 = cfg.wrappingKeyB64() // one fetch per micro-batch (ref :78)
    val summary = IngestSummary(IngestJob.uploadFiles(IngestJob.auditRows(batch), cfg, _ => pubB64, root))
    if (summary.filesFailed > 0)
      throw new RuntimeException(s"Batch $batchId: ${summary.filesFailed} file(s) failed: ${summary.failureDetail}")
    log.info(s"Batch $batchId committed: ${summary.filesOk} file(s)")
  }

  /** Run one `Trigger.AvailableNow` drain of the backlog: every pending
    * day in order, one micro-batch each, then terminate. Restart-safe via
    * `checkpointDir`; throws on a poisoned day (offset stays on the last
    * good day).
    */
  def runAvailableNow(spark: SparkSession, cfg: IngestConfig, checkpointDir: String): Unit = {
    val query = startWithCheckpointFiles(spark, source(spark, cfg).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(cfg, df, id)))
    try query.awaitTermination()
    finally if (query.isActive) query.stop()
  }

  /** The north-star pipeline as ONE call: Kafka-wire-format source →
    * compress → envelope-encrypt → object store
    * ([[graft.sources.KafkaLogSourceProvider]] in,
    * the same executor-side loop as the day drain out). Differences from
    * the day-based drain, by design:
    *  - the CHECKPOINTED OFFSET MAP is the only watermark (Kafka
    *    semantics); the reference-format day progress file is not
    *    mirrored — records of many days interleave within one batch, so
    *    "last completed day" is not a meaningful commit point here;
    *  - object keys are `{prefix}{day}/{topic}-{partition}-{offset}.gz.enc`
    *    — day from the record's CreateTime, name from the record's
    *    coordinates, so replays after a crash re-put the SAME key
    *    (at-least-once into an idempotent sink, fresh ciphertext per
    *    attempt like the reference's re-run semantics).
    *
    * @return this run's totals over the micro-batches it processed
    */
  def runKafkaAvailableNow(
      spark: SparkSession,
      cfg: IngestConfig,
      kafkaRoot: String,
      checkpointDir: String,
      maxRecordsPerTrigger: Option[Long] = None
  ): KafkaDrainSummary = {
    val reader = spark.readStream.format("graft-kafkalog").option("root", kafkaRoot)
    val src = maxRecordsPerTrigger
      .fold(reader)(n => reader.option("maxRecordsPerTrigger", n.toString))
      .load()
    val batches, records, tombstones = new java.util.concurrent.atomic.AtomicLong()
    val query = startWithCheckpointFiles(spark, src.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val (ok, dead) = processKafkaBatch(cfg, df, id)
        batches.incrementAndGet()
        records.addAndGet(ok)
        tombstones.addAndGet(dead)
        ()
      })
    try query.awaitTermination()
    finally if (query.isActive) query.stop()
    KafkaDrainSummary(batches.get, records.get, tombstones.get)
  }

  /** Process one Kafka micro-batch in ONE Spark job: encrypt+upload every
    * live record, counting the tombstones it skips as an observed metric of
    * that same job.
    *
    * @return (records landed, tombstones skipped)
    */
  private[ingest] def processKafkaBatch(cfg: IngestConfig, batch: DataFrame, batchId: Long): (Long, Long) = {
    import batch.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, count, date_format, when}
    // Tombstones (null value — Kafka's delete marker for compacted
    // topics) carry no payload to ingest; dropping them here keeps
    // Zlib.compress from NPEing and the batch from wedging on retry.
    // They are counted on their way past the filter, so the upload below
    // is the batch's only job: no second pass re-reads the segments.
    val obs = org.apache.spark.sql.Observation()
    val live = batch
      .observe(obs, count(when(col("value").isNull, 1)).as("tombstones"))
      .where(col("value").isNotNull)
    val records = live
      .select(
        // no '/' in the synthesized name: uploadFiles keys on the last
        // path segment, and the record coordinates must survive whole
        concat_ws("-", col("topic"), col("partition"), col("offset")).as("path"),
        col("value").as("content"),
        date_format(col("timestamp"), "yyyy-MM-dd").as("day")
      )
      .as[(String, Array[Byte], String)]
    val pubB64 = cfg.wrappingKeyB64() // one fetch per micro-batch (ref :78)
    val summary = IngestSummary(IngestJob.uploadFiles(records, cfg, _ => pubB64, ""))
    // The upload's job has filled the metric by the time it returns; an
    // upload that throws propagates past this line and never waits on it.
    val tombstones = obs.get("tombstones").asInstanceOf[Long]
    if (tombstones > 0)
      log.info(s"Kafka batch $batchId: skipped $tombstones tombstone record(s) (null value)")
    if (summary.filesFailed > 0)
      throw new RuntimeException(s"Kafka batch $batchId: ${summary.filesFailed} record(s) failed: ${summary.failureDetail}")
    log.info(s"Kafka batch $batchId committed: ${summary.filesOk} record(s)")
    (summary.filesOk, tombstones)
  }
}
