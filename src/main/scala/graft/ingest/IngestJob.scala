package graft.ingest

import java.security.PublicKey
import java.time.LocalDate
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
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
  * of failures (at most [[IngestJob.MaxFailureSamples]]) — at 10⁹
  * files/day the driver sees one tiny row per task, never one per file.
  */
final case class DayResult(day: LocalDate, filesOk: Long, filesFailed: Long, failureSamples: Seq[FileResult]) {
  def ok: Boolean = filesFailed == 0L

  /** `path: error` of each sampled failure, for exception messages. */
  def failureDetail: String = failureSamples.map(f => s"${f.path}: ${f.error}").mkString("; ")
}

final case class IngestSummary(days: Seq[DayResult]) {
  def filesOk: Long = days.map(_.filesOk).sum
  def filesFailed: Long = days.map(_.filesFailed).sum
  def failureDetail: String = days.filterNot(_.ok).map(_.failureDetail).mkString("; ")
}

/** The pipeline: scan dated dirs -> prune days <= watermark -> map(compress
  * ∘ envelope-encrypt) -> sink objects+metadata -> commit the watermark day
  * by day (audit_data_ingest.py:36-68 re-expressed as ONE Spark job).
  *
  * Faithfulness notes:
  *  - The watermark advances day by day, oldest first, and only past a
  *    fully-successful day; the first dirty day aborts the run (:50-68).
  *    => at-least-once: a half-failed day is re-run whole; re-encryption
  *    uses a fresh key+nonce so bytes differ between attempts, same as the
  *    reference (SURVEY.md §2.3).
  *  - One wrapping key per day, fetched on the driver in day order (:78).
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
  * Divergences from the reference's one-day-at-a-time loop, all safe under
  * at-least-once because puts are idempotent by key:
  *  - objects of days AFTER a dirty day are already landed when the run
  *    aborts; they stay unwatermarked and the next run re-puts them;
  *  - a crash, or a [[TransientCredentialsException]], before the job ends
  *    commits no day of this run; the next run re-puts them all;
  *  - every day's key is fetched before the job starts, so a key rotation
  *    during a run takes effect at the next run.
  *
  * Scale notes (100 TB posture): no driver-side staging or collect of
  * content — executors read their own whole files through one
  * `graft-audit` scan ([[AuditSource.readPending]]) and upload from
  * `mapPartitions`; only one aggregated status row per task and day comes
  * back to the driver (counts + a bounded failure sample), so the gather is
  * O(#tasks) regardless of file count. The backlog's files are bin-packed
  * into tasks of at most `min(128 MiB, ceil(backlog bytes /
  * defaultParallelism))`, so a small backlog still fills every core and a
  * large one runs in 128 MiB tasks; no shuffle anywhere in the plan.
  */
object IngestJob {
  private val log = LoggerFactory.getLogger(getClass)

  /** Max failure rows reported per day. */
  val MaxFailureSamples = 20

  /** Ingests every pending day in one Spark job, then commits the
    * watermark day by day, oldest first; throws at the first dirty day,
    * naming it, with the earlier days committed.
    */
  def run(spark: SparkSession, cfg: IngestConfig): IngestSummary = {
    val watermark = Watermark.read(cfg.progressFile)
    val days = AuditSource.pendingDays(spark, cfg.srcDir, watermark)
    log.info(s"Watermark=$watermark; ${days.size} pending day(s) in one job")
    if (days.isEmpty) return IngestSummary(Nil)
    val keys = days.map(_.toString -> cfg.wrappingKeyB64()).toMap // per day, in day order (ref :78)
    val files = auditRows(AuditSource.readPending(spark, cfg.srcDir, days))
    val root = AuditSource.root(spark, cfg.srcDir).toUri.getPath
    val uploaded = uploadFiles(files, cfg, keys, root).map(r => r.day -> r).toMap
    val results = days.map(d => uploaded.getOrElse(d, DayResult(d, 0L, 0L, Nil)))
    results.foreach { r =>
      if (!r.ok) {
        throw new RuntimeException(
          s"Failed to process day ${r.day} (${r.filesFailed} file(s) failed): ${r.failureDetail} " +
            "(watermark held at the last clean day; later days re-run on retry)"
        )
      }
      Watermark.commit(cfg.progressFile, r.day)
    }
    IngestSummary(results)
  }

  /** A `graft-audit` scan's `(path, content, day)` rows as the
    * `(path, content, dayStr)` that [[uploadFiles]] takes: the one shape in
    * which the batch core and the day stream feed it.
    */
  private[ingest] def auditRows(scan: DataFrame): Dataset[(String, Array[Byte], String)] = {
    import scan.sparkSession.implicits._
    scan.select(col("path"), col("content"), col("day").cast("string")).as[(String, Array[Byte], String)]
  }

  /** Path of `filePath` relative to the directory path `dir`; falls back to
    * the basename if the prefix does not match (a Kafka record's name).
    */
  private[ingest] def relativePath(dir: String, filePath: String): String = {
    val norm = new Path(filePath).toUri.getPath
    if (norm.startsWith(dir + "/")) norm.substring(dir.length + 1)
    else norm.substring(norm.lastIndexOf('/') + 1)
  }

  /** One task's running counts for one day, with that day's parsed key. */
  private final class DayTally(val key: PublicKey) {
    var ok, failed = 0L
    val samples = mutable.ArrayBuffer[FileResult]()
  }

  /** Executor-side encrypt+upload over `(path, content, dayStr)` rows — the
    * one upload loop behind the batch core ([[run]]) and both streaming
    * sinks ([[IngestStream]]). ONE Spark job per call: on the Kafka stream
    * it is the micro-batch's only job, with the tombstone count riding it
    * as an observed metric. Wrapping keys are fetched by the caller on the
    * driver (one per day in [[run]], one per micro-batch in the streams) and
    * ship in the closure, so executors never reach the key provider.
    *
    * @param keyB64For maps a day string to its b64 wrapping key
    * @param rootPath  path of the source root ([[AuditSource.root]]): a
    *        file's key keeps its path under `<rootPath>/<day>`, else its
    *        basename
    * @return one result per day seen, oldest first: ok/failed counts summed
    *         over tasks and up to [[MaxFailureSamples]] failures
    */
  private[ingest] def uploadFiles(
      files: Dataset[(String, Array[Byte], String)],
      cfg: IngestConfig,
      keyB64For: String => String,
      rootPath: String
  ): Seq[DayResult] = {
    import files.sparkSession.implicits._
    val prefix = cfg.s3Prefix
    val keyId = cfg.masterKeyId
    val mode = cfg.aesMode
    val factory: ObjectStoreFactory = RetryingObjectStoreFactory(cfg.storeFactory, cfg.putRetries)
    val maxSamples = MaxFailureSamples

    val perTaskDay = files.mapPartitions { it =>
      // One store client per task and one parsed key per day it touches —
      // the loop-invariant hoisting the reference does per day (:78).
      val store = factory.create()
      val acc = mutable.HashMap[String, DayTally]()
      it.foreach { case (path, content, dayStr) =>
        val day = acc.getOrElseUpdate(dayStr, new DayTally(Envelope.publicKeyFromBase64(keyB64For(dayStr))))
        val key = s"$prefix$dayStr/${relativePath(s"$rootPath/$dayStr", path)}.gz.enc"
        try {
          val obj = Envelope.encrypt(Zlib.compress(content), day.key, keyId, mode)
          store.put(key, obj.ciphertext, obj.metadata)
          day.ok += 1
        } catch {
          case e: TransientCredentialsException => throw e // abort run; CLI exits clean (ref :303-308)
          case e: Throwable =>
            day.failed += 1
            if (day.samples.size < maxSamples) day.samples += FileResult(path, key, ok = false, error = e.toString)
        }
      }
      acc.iterator.map { case (dayStr, d) => (dayStr, d.ok, d.failed, d.samples.toSeq) }
    }
    perTaskDay
      .collect() // one small row per task and day, never per file
      .groupBy(_._1)
      .toSeq
      .map { case (dayStr, rows) =>
        DayResult(
          LocalDate.parse(dayStr),
          filesOk = rows.iterator.map(_._2).sum,
          filesFailed = rows.iterator.map(_._3).sum,
          failureSamples = rows.iterator.flatMap(_._4).toSeq.sortBy(_.path).take(MaxFailureSamples)
        )
      }
      .sortBy(_.day)
  }
}
