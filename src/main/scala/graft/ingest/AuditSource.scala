package graft.ingest

import java.time.LocalDate
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** One dated partition of the audit source: the day and its directory. */
final case class DayPartition(day: LocalDate, path: String)

/** Source side of the pipeline: dated child directories of a root, each
  * holding opaque binary files (audit_data_ingest.py:129-150).
  *
  * The reference shells out to `hdfs dfs -ls -C` and filters dir names in
  * Python (:134-148). Here the listing is a single `FileSystem.listStatus`
  * RPC on the driver (works for file://, hdfs://, s3a:// alike) and the
  * data itself is read by executors straight from the source — the
  * reference's whole-day copyToLocal staging step (:153-166) is dropped by
  * design; Spark tasks stream their own splits.
  */
object AuditSource {
  private val log = LoggerFactory.getLogger(getClass)

  /** Test-visible count of day-listing RPCs (IngestStreamSpec pins the
    * per-scan listing cost); never used for control flow.
    */
  val listDayCalls = new java.util.concurrent.atomic.AtomicLong(0)

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
  def pendingDays(spark: SparkSession, srcDir: String, watermark: Option[LocalDate]): Seq[DayPartition] =
    listDays(spark, srcDir).filter(d => Watermark.isPending(d.day, watermark))

  /** Read one day's files as a DataFrame of `(path string, content binary)`.
    *
    * binaryFile packs many small files per task up to
    * `spark.sql.files.maxPartitionBytes` — at 100 TB this parallelises by
    * bytes automatically, with no shuffle and no local staging. Recursive,
    * matching the reference's `os.walk` (audit_data_ingest.py:83).
    *
    * Caveat: Spark's file scan silently drops zero-length files, but the
    * reference processes them (zlib.compress(b"") is valid) — so empties
    * are re-listed on the driver and unioned in as literal rows. Empty
    * files carry no bytes, so this adds only O(#empty paths) driver work,
    * on top of the driver-side listing every file source already does.
    */
  def readDay(spark: SparkSession, dayDir: String): DataFrame = {
    val nonEmpty = spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dayDir)
      .select("path", "content")
    val p = new Path(dayDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, /* recursive = */ true)
    val empties = Iterator
      .continually(it)
      .takeWhile(_.hasNext)
      .map(_.next())
      .filter(st => st.isFile && st.getLen == 0)
      .map(_.getPath.toString)
      .toSeq
    if (empties.isEmpty) nonEmpty
    else {
      import spark.implicits._
      nonEmpty.unionAll(
        empties.toDF("path").withColumn("content", lit(Array.emptyByteArray))
      )
    }
  }

  /** All of `days` in one logical scan of `(path, content, day)`, so one
    * Spark job covers the whole backlog ([[IngestJob.run]] takes the day
    * list it already holds, so the days it reads are exactly the days it
    * commits). Built as a union of per-day [[readDay]] scans with a
    * LITERAL day, so nested files attribute to the right day (a parent-dir
    * parse would name the subdirectory) and zero-length files are kept.
    * Driver cost is one `binaryFile` listing per day, serial; a multi-year
    * backlog (1000s of days) should be chunked by the caller into bounded
    * runs, which the day-ordered watermark makes safe.
    */
  def readPending(spark: SparkSession, days: Seq[DayPartition]): DataFrame = {
    require(days.nonEmpty, "readPending needs at least one day")
    days
      .map(dp => readDay(spark, dp.path).withColumn("day", lit(java.sql.Date.valueOf(dp.day))))
      .reduce(_.unionAll(_))
  }
}
