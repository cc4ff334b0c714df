package graft.ingest

import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory
import graft.sources.AuditStreamSourceProvider

/** One dated partition of the audit source: the day and its directory. */
final case class DayPartition(day: LocalDate, path: String)

/** Source side of the pipeline: dated child directories of a root, each
  * holding opaque binary files (audit_data_ingest.py:129-150).
  *
  * The reference shells out to `hdfs dfs -ls -C` and filters dir names in
  * Python (:134-148). Here the listing is a single `FileSystem.listStatus`
  * RPC on the driver (works for file://, hdfs://, s3a:// alike) and the
  * data itself is read by executors straight from the source through the
  * `graft-audit` scan — the reference's whole-day copyToLocal staging step
  * (:153-166) is dropped by design; Spark tasks read their own files.
  */
object AuditSource {
  private val log = LoggerFactory.getLogger(getClass)

  /** Test-visible count of day-listing RPCs (IngestStreamSpec pins the
    * per-scan listing cost); never used for control flow.
    */
  val listDayCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** `srcDir` made absolute, with its scheme: the form a listing names
    * files in. Day `d`'s dir is `<root>/<d>` ([[Watermark.parseDay]] takes
    * only canonical names), the prefix both day front-ends strip from a
    * file's path to form its object key.
    */
  def root(spark: SparkSession, srcDir: String): Path = {
    val p = new Path(srcDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** List dated child dirs, skipping non-dated names with a warning
    * (audit_data_ingest.py:30-32), sorted ascending so commit order is
    * chronological (the reference silently relies on `hdfs -ls` sort
    * order, :144-150 — we sort explicitly).
    */
  def listDays(spark: SparkSession, srcDir: String): Seq[DayPartition] = {
    listDayCalls.incrementAndGet()
    val p = new Path(srcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new java.io.FileNotFoundException(s"Source dir not found: $srcDir")
    fs.listStatus(p)
      .iterator
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        Watermark.parseDay(name) match {
          case Some(day) => Some(DayPartition(day, st.getPath.toString))
          case None =>
            log.warn(s"Skipping non-dated directory: ${st.getPath}")
            None
        }
      }
      .toSeq
      .sortBy(_.day)
  }

  /** Days strictly after the watermark (strict `>`, audit_data_ingest.py:33). */
  def pendingDays(spark: SparkSession, srcDir: String, watermark: Option[LocalDate]): Seq[LocalDate] =
    listDays(spark, srcDir).map(_.day).filter(Watermark.isPending(_, watermark))

  /** `days` in ONE `graft-audit` batch scan of `(path, content, day)`, so
    * one Spark job covers the whole backlog. [[IngestJob.run]] passes the
    * day list it already holds, so the days it reads are exactly the days
    * it commits, and the scan lists no day directory a second time
    * ([[graft.sources.AuditStreamSourceProvider.daysOption]]). Each file's
    * day is the one it was listed under, so nested files attribute to the
    * right day, and zero-length and hidden (`.x`, `_x`) files are read like
    * any other, as the reference's `os.walk` does. Driver cost
    * is one `listStatus` walk per day; a multi-year backlog (1000s of
    * days) should be chunked by the caller into bounded runs, which the
    * day-ordered watermark makes safe.
    */
  def readPending(spark: SparkSession, srcDir: String, days: Seq[LocalDate]): DataFrame = {
    require(days.nonEmpty, "readPending needs at least one day")
    spark.read
      .format("graft-audit")
      .option("srcDir", srcDir)
      .option(AuditStreamSourceProvider.DaysOption, AuditStreamSourceProvider.daysOption(days))
      .load()
  }
}
