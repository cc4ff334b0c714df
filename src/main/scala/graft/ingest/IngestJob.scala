package graft.ingest

import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

/** Engine config — the reference's 11 CLI args minus the ones Spark makes
  * obsolete (tmp dir, process count; audit_data_ingest.py:236-285).
  *
  * @param srcDir        root of dated day directories
  * @param storeFactory  sink object store (S3 in prod, local dir in tests)
  * @param s3Prefix      object key prefix; concatenated to the day WITHOUT
  *                      an inserted separator, exactly like the reference
  *                      (`f"{s3_prefix}{day}/{basename}"`, :173) — callers
  *                      must end it with `/` if they want one
  * @param masterKeyId   value of the `datakeyencryptionkeyid` metadata key
  * @param publicKeyB64  b64 X.509 RSA public key (static-config default;
  *                      see `keyProvider` for the rotating-fetch seam)
  * @param progressFile  watermark file path
  * @param aesMode       payload cipher: [[Envelope.AesMode.Gcm]] (hardened
  *                      default) or [[Envelope.AesMode.Eax]] (byte-level
  *                      reference parity, audit_data_ingest.py:115,120)
  * @param putRetries    max attempts per store operation — the reference's
  *                      boto3 `max_attempts` (:190-197, default 10 at :262)
  * @param keyProvider   when set, overrides `publicKeyB64`: consulted once
  *                      per day on the driver (the reference's per-day SSM
  *                      fetch, :78), enabling key rotation between days
  */
final case class IngestConfig(
    srcDir: String,
    storeFactory: ObjectStoreFactory,
    s3Prefix: String,
    masterKeyId: String,
    publicKeyB64: String,
    progressFile: String,
    aesMode: Envelope.AesMode = Envelope.AesMode.Gcm,
    putRetries: Int = 3,
    keyProvider: Option[KeyProvider] = None
) {

  /** Wrapping key for the next day-batch: provider fetch if configured
    * (the reference's once-per-day hoist), else the static config key.
    */
  def wrappingKeyB64(): String = keyProvider.map(_.wrappingKeyB64()).getOrElse(publicKeyB64)
}

/** Outcome for one file; days commit only when no file failed. */
final case class FileResult(path: String, key: String, ok: Boolean, error: String)

/** Per-day outcome: executor-side aggregated counts plus a bounded sample
  * of failures (first [[IngestJob.MaxFailureSamples]] per task) — at 10⁹
  * files/day the driver sees one tiny row per task, never one per file.
  */
final case class DayResult(day: LocalDate, filesOk: Long, filesFailed: Long, failureSamples: Seq[FileResult]) {
  def ok: Boolean = filesFailed == 0L
}

final case class IngestSummary(days: Seq[DayResult]) {
  def filesOk: Long = days.map(_.filesOk).sum
}

/** The pipeline: scan dated dirs -> prune days <= watermark -> per day:
  * map(compress ∘ envelope-encrypt) -> sink objects+metadata -> commit
  * watermark (audit_data_ingest.py:36-68 re-expressed as Spark jobs).
  *
  * Faithfulness notes:
  *  - Days run strictly sequentially, oldest first; the watermark advances
  *    only after a fully-successful day, otherwise the run aborts (:50-68).
  *    => at-least-once: a half-failed day is re-run whole; re-encryption
  *    uses a fresh key+nonce so bytes differ between attempts, same as the
  *    reference (SURVEY.md §2.3).
  *  - Per-file failure isolation: one bad file fails its day but every
  *    sibling is still attempted (:96-104) — the map wraps each file in
  *    try/catch and counts it; nothing short-circuits. Exception:
  *    [[TransientCredentialsException]] aborts the task (and the run) so
  *    [[IngestCli]] can exit clean for the scheduler to retry (:303-308).
  *  - Key layout `{prefix}{day}/{relpath}.gz.enc` (:117,173) where relpath
  *    is the file's path relative to the day directory — for the flat
  *    layout the reference uses this IS the basename; for nested inputs it
  *    keeps the sub-path, so two files with the same basename in different
  *    subdirectories can never silently overwrite each other.
  *  - Store operations run through [[RetryingObjectStore]] (`putRetries`
  *    attempts, capped exponential backoff) — the reference's boto3
  *    standard retry mode (:190-197).
  *
  * Scale notes (100 TB posture): no driver-side staging or collect of
  * content — executors read their own binaryFile splits and upload from
  * `mapPartitions`; only ONE aggregated status row per task comes back to
  * the driver (counts + a bounded failure sample), so the gather is
  * O(#tasks) regardless of file count. Parallelism = source bytes /
  * `spark.sql.files.maxPartitionBytes`, no shuffle anywhere in the plan.
  */
object IngestJob {
  private val log = LoggerFactory.getLogger(getClass)

  /** Max failure rows reported per task (and overall per day). */
  val MaxFailureSamples = 20

  def run(spark: SparkSession, cfg: IngestConfig): IngestSummary = {
    val watermark = Watermark.read(cfg.progressFile)
    val days = AuditSource.pendingDays(spark, cfg.srcDir, watermark)
    log.info(s"Watermark=$watermark; ${days.size} pending day(s)")
    val results = days.map { dp =>
      log.info(s"Processing day ${dp.day} at ${dp.path}")
      val dayResult = processDay(spark, cfg, dp)
      if (dayResult.ok) {
        Watermark.commit(cfg.progressFile, dp.day)
      } else {
        val failed = dayResult.failureSamples.map(f => s"${f.path}: ${f.error}").mkString("; ")
        throw new RuntimeException(
          s"Failed to process day ${dp.day} (${dayResult.filesFailed} file(s) failed): $failed"
        )
      }
      dayResult
    }
    IngestSummary(results)
  }

  /** Whole-backlog variant: EVERY pending day in ONE Spark job, with the
    * watermark still committed in day order. The reference's loop
    * (audit_data_ingest.py:50-68) schedules one job per day; with a long
    * backlog of small days that pays per-job scheduling overhead per day
    * and caps parallelism at one day's bytes. Here all pending days scan
    * together ([[AuditSource.readPending]]), statuses aggregate
    * executor-side PER DAY (one tiny `(day, counts, samples)` row per
    * task×day), and the driver then walks days oldest-first committing the
    * watermark for each clean day until the first dirty one, which aborts
    * the run exactly like the loop.
    *
    * Documented divergences from the sequential loop, both safe under
    * at-least-once:
    *  - files of days AFTER a failed day have already been uploaded; the
    *    watermark never advances past the failure, so a re-run re-puts
    *    them (idempotent by key, fresh encryption bytes — the same
    *    visibility model as partially-uploaded days, which object stores
    *    already expose);
    *  - the wrapping key is fetched once per RUN, not once per day, so
    *    key rotation granularity in backlog mode is the run.
    */
  def runBacklog(spark: SparkSession, cfg: IngestConfig): IngestSummary = {
    val watermark = Watermark.read(cfg.progressFile)
    val days = AuditSource.pendingDays(spark, cfg.srcDir, watermark)
    log.info(s"Watermark=$watermark; ${days.size} pending day(s) in one backlog job")
    if (days.isEmpty) return IngestSummary(Nil)
    import spark.implicits._
    val srcRootNorm = new org.apache.hadoop.fs.Path(cfg.srcDir).toUri.getPath
    val files = AuditSource
      .readPending(spark, cfg.srcDir, watermark)
      .select(org.apache.spark.sql.functions.col("path"), org.apache.spark.sql.functions.col("content"),
        org.apache.spark.sql.functions.col("day").cast("string"))
      .as[(String, Array[Byte], String)]
    val perDay = uploadFilesPerDay(files, cfg, dayStr => s"$srcRootNorm/$dayStr")
    val results = scala.collection.mutable.ArrayBuffer[DayResult]()
    for (dp <- days) {
      val (ok, failed, samples) = perDay.getOrElse(dp.day.toString, (0L, 0L, Seq.empty[FileResult]))
      val dayResult = DayResult(dp.day, filesOk = ok, filesFailed = failed, failureSamples = samples)
      results += dayResult
      if (dayResult.ok) {
        Watermark.commit(cfg.progressFile, dp.day)
      } else {
        val detail = samples.map(f => s"${f.path}: ${f.error}").mkString("; ")
        throw new RuntimeException(
          s"Failed to process day ${dp.day} ($failed file(s) failed): $detail " +
            "(watermark held at the last clean day; later days re-run on retry)"
        )
      }
    }
    IngestSummary(results.toSeq)
  }

  /** Path of `filePath` relative to the (normalized) day directory; falls
    * back to the basename if the prefix does not match (foreign URI form).
    */
  private[ingest] def relativePath(dayDirNorm: String, filePath: String): String = {
    val norm = new org.apache.hadoop.fs.Path(filePath).toUri.getPath
    if (norm.startsWith(dayDirNorm + "/")) norm.substring(dayDirNorm.length + 1)
    else norm.substring(norm.lastIndexOf('/') + 1)
  }

  /** Alternative sink path: the same per-day transform written through the
    * DataSource V2 `graft-objects` writer ([[graft.sources.ObjectStoreSinkProvider]]).
    * Differences vs [[processDay]]: a failing file fails its TASK (Spark
    * retries it, then fails the day) instead of being gathered into a
    * status report — all-or-nothing per day still holds, but the
    * best-effort-attempt-every-sibling reporting of the reference
    * (:96-104) is traded for the declarative writer. Only local-dir
    * stores are supported (the provider constructs the store from the
    * `root` option).
    */
  def processDayV2(spark: SparkSession, cfg: IngestConfig, dp: DayPartition): Unit = {
    import spark.implicits._
    val dayStr = dp.day.toString
    val prefix = cfg.s3Prefix
    val keyId = cfg.masterKeyId
    val pubB64 = cfg.wrappingKeyB64()
    val mode = cfg.aesMode
    val dayDirNorm = new org.apache.hadoop.fs.Path(dp.path).toUri.getPath
    AuditSource
      .readDay(spark, dp.path)
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val pubKey = Envelope.publicKeyFromBase64(pubB64)
        it.map { case (path, content) =>
          val rel = relativePath(dayDirNorm, path)
          val obj = Envelope.encrypt(Zlib.compress(content), pubKey, keyId, mode)
          (s"$prefix$dayStr/$rel.gz.enc", obj.ciphertext, obj.metadata)
        }
      }
      .toDF("key", "data", "metadata")
      .write
      .format("graft-objects")
      .options(graft.sources.StoreOptions.optionsFor(cfg.storeFactory))
      .mode("append")
      .save()
  }

  /** One day = one Spark job; every file attempted, statuses aggregated
    * executor-side (ok/failed counts + first-N failure samples per task).
    */
  def processDay(spark: SparkSession, cfg: IngestConfig, dp: DayPartition): DayResult = {
    import spark.implicits._
    val dayStr = dp.day.toString
    val files = AuditSource
      .readDay(spark, dp.path)
      .as[(String, Array[Byte])]
      .map { case (path, content) => (path, content, dayStr) }
    val (ok, failed, samples, _) = uploadFiles(files, cfg, dayDirFor(dp.path, dayStr))
    DayResult(dp.day, filesOk = ok, filesFailed = failed, failureSamples = samples)
  }

  /** Normalized day-directory path used to relativize file paths into
    * object keys. `dayDir` already names the day's directory here; the
    * streaming path derives it as `srcRoot/dayStr` instead.
    */
  private def dayDirFor(dayDir: String, dayStr: String): String => String = {
    val norm = new org.apache.hadoop.fs.Path(dayDir).toUri.getPath
    require(norm.endsWith("/" + dayStr) || norm == dayStr, s"day dir $norm does not match day $dayStr")
    _ => norm
  }

  /** Executor-side encrypt+upload over `(path, content, dayStr)` rows —
    * shared by the batch day-loop ([[processDay]]) and the streaming sink
    * ([[IngestStream]]). ONE Spark job per call: on the Kafka stream it is
    * the micro-batch's only job, with the tombstone count riding it as an
    * observed metric. Wrapping key fetched ONCE per invocation on the
    * driver (per day in the batch loop, per micro-batch in the streams:
    * one day on the day stream, one capped slice of the log on the Kafka
    * stream — the reference's per-day SSM hoist, :78).
    *
    * @param dayDirNormFor maps a day string to the normalized directory
    *        prefix stripped from file paths when forming object keys
    * @return (okCount, failedCount, bounded failure samples, max day seen)
    */
  private[ingest] def uploadFiles(
      files: org.apache.spark.sql.Dataset[(String, Array[Byte], String)],
      cfg: IngestConfig,
      dayDirNormFor: String => String
  ): (Long, Long, Seq[FileResult], Option[String]) = {
    import files.sparkSession.implicits._
    val prefix = cfg.s3Prefix
    val keyId = cfg.masterKeyId
    val pubB64 = cfg.wrappingKeyB64() // per-day fetch (ref :78)
    val mode = cfg.aesMode
    val factory: ObjectStoreFactory = RetryingObjectStoreFactory(cfg.storeFactory, cfg.putRetries)
    val maxSamples = MaxFailureSamples

    val perTask = files.mapPartitions { it =>
      // Per-partition init: parse key once, one store client per task —
      // the loop-invariant hoisting the reference does per day (:78).
      val pubKey = Envelope.publicKeyFromBase64(pubB64)
      val store = factory.create()
      var ok = 0L
      var failed = 0L
      var maxDay = "" // ISO dates sort lexicographically = chronologically
      val samples = scala.collection.mutable.ArrayBuffer[FileResult]()
      it.foreach { case (path, content, dayStr) =>
        val key = s"$prefix$dayStr/${relativePath(dayDirNormFor(dayStr), path)}.gz.enc"
        if (dayStr > maxDay) maxDay = dayStr
        try {
          val obj = Envelope.encrypt(Zlib.compress(content), pubKey, keyId, mode)
          store.put(key, obj.ciphertext, obj.metadata)
          ok += 1
        } catch {
          case e: TransientCredentialsException => throw e // abort run; CLI exits clean (ref :303-308)
          case e: Throwable =>
            failed += 1
            if (samples.size < maxSamples) samples += FileResult(path, key, ok = false, error = e.toString)
        }
      }
      Iterator.single((ok, failed, samples.toSeq, maxDay))
    }
    val parts = perTask.collect() // ONE small row per task, never per file
    (
      parts.iterator.map(_._1).sum,
      parts.iterator.map(_._2).sum,
      parts.iterator.flatMap(_._3).toSeq.sortBy(_.path).take(MaxFailureSamples),
      parts.iterator.map(_._4).filter(_.nonEmpty).maxOption
    )
  }

  /** Backlog-mode upload: same executor-side encrypt+put loop as
    * [[uploadFiles]], but statuses aggregate PER DAY within each task, so
    * the day-ordered commit can tell clean days from dirty ones after one
    * job. Driver gather is O(#tasks × #days-touched-per-task) tiny rows.
    */
  private[ingest] def uploadFilesPerDay(
      files: org.apache.spark.sql.Dataset[(String, Array[Byte], String)],
      cfg: IngestConfig,
      dayDirNormFor: String => String
  ): Map[String, (Long, Long, Seq[FileResult])] = {
    import files.sparkSession.implicits._
    val prefix = cfg.s3Prefix
    val keyId = cfg.masterKeyId
    val pubB64 = cfg.wrappingKeyB64() // once per run (see runBacklog scaladoc)
    val mode = cfg.aesMode
    val factory: ObjectStoreFactory = RetryingObjectStoreFactory(cfg.storeFactory, cfg.putRetries)
    val maxSamples = MaxFailureSamples

    val perTaskDay = files.mapPartitions { it =>
      val pubKey = Envelope.publicKeyFromBase64(pubB64)
      val store = factory.create()
      val acc = scala.collection.mutable.LinkedHashMap[String, (Long, Long, scala.collection.mutable.ArrayBuffer[FileResult])]()
      it.foreach { case (path, content, dayStr) =>
        val key = s"$prefix$dayStr/${relativePath(dayDirNormFor(dayStr), path)}.gz.enc"
        val entry = acc.getOrElseUpdate(dayStr, (0L, 0L, scala.collection.mutable.ArrayBuffer[FileResult]()))
        try {
          val obj = Envelope.encrypt(Zlib.compress(content), pubKey, keyId, mode)
          store.put(key, obj.ciphertext, obj.metadata)
          acc(dayStr) = (entry._1 + 1, entry._2, entry._3)
        } catch {
          case e: TransientCredentialsException => throw e // abort run; CLI exits clean (ref :303-308)
          case e: Throwable =>
            if (entry._3.size < maxSamples) entry._3 += FileResult(path, key, ok = false, error = e.toString)
            acc(dayStr) = (entry._1, entry._2 + 1, entry._3)
        }
      }
      acc.iterator.map { case (day, (ok, failed, samples)) => (day, ok, failed, samples.toSeq) }
    }
    perTaskDay
      .collect()
      .groupBy(_._1)
      .map { case (day, rows) =>
        day -> (
          rows.iterator.map(_._2).sum,
          rows.iterator.map(_._3).sum,
          rows.iterator.flatMap(_._4).toSeq.sortBy(_.path).take(MaxFailureSamples)
        )
      }
  }
}
