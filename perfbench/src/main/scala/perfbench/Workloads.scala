package perfbench

import java.nio.file.{Files, Path}
import java.security.PrivateKey
import java.time.LocalDate
import java.util.Base64

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest._
import graft.sources.KafkaLogFormat

/** The wrapping key pair every workload encrypts and decrypts with. */
final case class Keys(pubB64: String, privDerB64: String, priv: PrivateKey)

object Keys {
  def generate(): Keys = {
    val (pub, priv) = Envelope.generateKeyPair()
    Keys(Base64.getEncoder.encodeToString(pub.getEncoded), Base64.getEncoder.encodeToString(priv.getEncoded), priv)
  }
}

/** Outcome of one timed iteration: the wall time of the pipeline call,
  * objects and plaintext bytes moved, the durations of its batches, and
  * the per-layer values it produced (traced run only).
  */
final case class Iter(wallS: Double, objects: Long, bytes: Long, batchMs: Seq[Double], layers: Map[String, Double])

/** One workload: generates its inputs from the seed, runs one iteration
  * through the library's public entry points, and checks the output.
  */
abstract class Workload(val seed: Long, val keys: Keys) {
  protected var dir: Path = _
  protected def sink: String = dir.resolve("sink").toString
  protected def ckpt: String = dir.resolve("checkpoint").toString
  protected def progressFile: String = dir.resolve("progress").resolve("watermark.txt").toString
  val keyProvider = new TimedKeyProvider(keys.pubB64)
  val Prefix = "audit/"

  /** Generates the inputs under `dir` (and lands any corpus the workload reads). */
  def setup(spark: SparkSession, dir: Path): Unit

  /** Objects one iteration lands or reads. */
  def ops: Long

  /** Empties the sink, watermark and checkpoint. */
  def reset(): Unit = Seq(sink, ckpt, dir.resolve("progress").toString).foreach(p => Fs.rm(Path.of(p)))

  /** One timed iteration; `traced` passes the counting decorators. */
  def iterate(spark: SparkSession, traced: Boolean): Iter

  /** Output checks on the state the last iteration left. */
  def check(spark: SparkSession): Seq[(String, Option[String])]

  /** Plaintext payloads for the single-threaded Zlib and Envelope replays. */
  def payloads: Seq[Array[Byte]]

  /** Workload-specific per-layer replays, run once in the traced run. */
  def replays(spark: SparkSession): Map[String, Double]

  protected def config(traced: Boolean): IngestConfig = {
    val base = LocalDirObjectStoreFactory(sink)
    IngestConfig(
      srcDir = dir.resolve("src").toString,
      storeFactory = if (traced) CountingStoreFactory(base) else base,
      s3Prefix = Prefix,
      masterKeyId = "perfbench-master-key",
      publicKeyB64 = keys.pubB64,
      progressFile = progressFile,
      keyProvider = Some(keyProvider)
    )
  }

  protected def writeFiles(files: Seq[Gen.SrcFile], root: Path): Unit =
    files.foreach { f =>
      val p = root.resolve(f.dir).resolve(f.name)
      Files.createDirectories(p.getParent)
      Files.write(p, f.bytes)
    }

  protected def store: ObjectStore = LocalDirObjectStoreFactory(sink).create()
}

object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally all.close()
    }

  def timeMs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
  def timeS(f: => Unit): Double = timeMs(f) / 1e3
}

/** Kafka-wire-format backlog drained by `IngestStream.runKafkaAvailableNow`
  * under a per-trigger record cap, so one drain spans many micro-batches.
  */
final class KafkaSmall(seed: Long, keys: Keys) extends Workload(seed, keys) {
  val Records = 250
  val Partitions = 8
  val Days = 5
  val Tombstones = 5 // 2% of the records
  val RecordsPerTrigger = 50L
  val SegmentRecords = 256

  private var records: Seq[Gen.KRecord] = Nil
  private var expected: Map[String, Array[Byte]] = Map.empty
  private var plainBytes = 0L
  private def kafkaRoot = dir.resolve("kafka").toString
  val progress = new ProgressLog
  override def ops: Long = expected.size.toLong

  private def keyOf(r: Gen.KRecord): String =
    s"${Prefix}${java.time.Instant.ofEpochMilli(r.timestampMs).atZone(java.time.ZoneOffset.UTC).toLocalDate}/audit-${r.partition}-${r.offset}.gz.enc"

  override def setup(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    records = Gen.kafkaBacklog(seed, Records, Partitions, Days, Tombstones)
    val fs = new HPath("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    records.groupBy(_.partition).foreach { case (p, rs) =>
      val tp = new HPath(s"$kafkaRoot/audit-$p")
      fs.mkdirs(tp)
      rs.sortBy(_.offset).grouped(SegmentRecords).foreach { seg =>
        KafkaLogFormat.writeSegment(fs, tp, seg.map(r => KafkaLogFormat.Record(r.offset, r.timestampMs, null, r.value)))
      }
    }
    expected = records.filter(_.value != null).map(r => keyOf(r) -> r.value).toMap
    plainBytes = expected.valuesIterator.map(_.length.toLong).sum
    spark.streams.addListener(progress)
  }

  override def iterate(spark: SparkSession, traced: Boolean): Iter = {
    val cfg = config(traced)
    val wall = Fs.timeS(IngestStream.runKafkaAvailableNow(spark, cfg, kafkaRoot, ckpt, Some(RecordsPerTrigger)))
    Bus.drain(spark)
    val ps = progress.drain()
    def dur(k: String): Seq[Double] = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val layers =
      if (!traced) Map.empty[String, Double]
      else Map(
        "IngestStream.batches" -> ps.size.toDouble,
        "IngestStream.add_batch_ms" -> Stats.median(dur("addBatch")),
        "IngestStream.latest_offset_ms" -> Stats.median(dur("latestOffset")),
        "IngestStream.planning_ms" -> Stats.median(dur("queryPlanning")),
        "IngestStream.wal_commit_ms" -> Stats.median(dur("walCommit")),
        "IngestStream.commit_ms" -> Stats.median(dur("commitOffsets"))
      )
    if (traced) ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Trace.add(Trace.iterationSpan, "IngestStream.batch", start, start + d * 1000L, s"batch ${p.batchId}")
    }
    Iter(wall, expected.size.toLong, plainBytes, dur("triggerExecution"), layers)
  }

  override def check(spark: SparkSession): Seq[(String, Option[String])] =
    Checks.landed(store, Prefix, expected, keys.priv, seed, 32)

  override def payloads: Seq[Array[Byte]] = records.iterator.filter(_.value != null).map(_.value).toSeq

  override def replays(spark: SparkSession): Map[String, Double] = {
    var row: org.apache.spark.sql.Row = null
    val scanMs = Stats.median((1 to 3).map { _ =>
      Fs.timeMs {
        row = spark.read.format("graft-kafkalog").option("root", kafkaRoot).load()
          .agg(count(lit(1)), count(when(col("value").isNull, 1)), coalesce(sum(length(col("value"))), lit(0L)))
          .head()
      }
    })
    Map(
      "KafkaLogSource.records" -> row.getLong(0).toDouble,
      "KafkaLogSource.tombstones" -> row.getLong(1).toDouble,
      "KafkaLogSource.scan_ms" -> scanMs
    )
  }
}

/** The CLI's default mode, `IngestJob.run`: one job and one watermark
  * commit per dated day directory of multi-MB files.
  */
final class DayBacklog(seed: Long, keys: Keys) extends Workload(seed, keys) {
  val Days = 10
  val FilesPerDay = 3
  val FileBytes = (1 << 20, 2 << 20)

  private var files: Seq[Gen.SrcFile] = Nil
  private var expected: Map[String, Array[Byte]] = Map.empty
  private var plainBytes = 0L
  private var lastDay: LocalDate = _
  override def ops: Long = expected.size.toLong

  override def setup(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    files = Gen.dayBacklog(seed, Days, FilesPerDay, FileBytes)
    writeFiles(files, dir.resolve("src"))
    val dated = files.filter(_.dir != Gen.NonDatedDir)
    expected = dated.map(f => s"$Prefix${f.dir}/${f.name}.gz.enc" -> f.bytes).toMap
    plainBytes = dated.iterator.map(_.bytes.length.toLong).sum
    lastDay = dated.map(f => LocalDate.parse(f.dir)).max
  }

  override def iterate(spark: SparkSession, traced: Boolean): Iter = {
    keyProvider.drain()
    val cfg = config(traced)
    var summary: IngestSummary = null
    val wall = Fs.timeS { summary = IngestJob.run(spark, cfg) }
    val end = System.nanoTime()
    // A day runs from its key fetch to the next day's fetch.
    val fetches = keyProvider.drain()
    val dayMs = (fetches :+ end).sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
    val layers =
      if (!traced) Map.empty[String, Double]
      else Map("IngestJob.days" -> summary.days.size.toDouble, "Watermark.commits" -> summary.days.count(_.ok).toDouble)
    Iter(wall, summary.filesOk, plainBytes, dayMs, layers)
  }

  override def check(spark: SparkSession): Seq[(String, Option[String])] = {
    val st = store
    Checks.landed(st, Prefix, expected, keys.priv, seed, 4) ++
      Checks.dayCommit(progressFile, lastDay, st.listKeys(Prefix), Gen.NonDatedDir)
  }

  /** The replay's share of the backlog: the first files, about 8 MB. */
  override def payloads: Seq[Array[Byte]] = {
    var total = 0L
    files.filter(_.bytes.nonEmpty).takeWhile { f => total += f.bytes.length; total - f.bytes.length < (8L << 20) }.map(_.bytes)
  }

  override def replays(spark: SparkSession): Map[String, Double] = {
    val src = dir.resolve("src").toString
    val days = AuditSource.listDays(spark, src)
    val fs = new HPath(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var nFiles, nBytes = 0L
    days.foreach { d =>
      val it = fs.listFiles(new HPath(d.path), true)
      while (it.hasNext) { val st = it.next(); nFiles += 1; nBytes += st.getLen }
    }
    val listMs = Stats.median((1 to 5).map(_ => Fs.timeMs(AuditSource.listDays(spark, src))))
    val wm = dir.resolve("replay").resolve("watermark.txt").toString
    val commitMs = Stats.median((0 until 20).map(i => Fs.timeMs(Watermark.commit(wm, Gen.FirstDay.plusDays(i.toLong)))))
    Map(
      "AuditSource.files" -> nFiles.toDouble,
      "AuditSource.bytes" -> nBytes.toDouble,
      "AuditSource.list_ms" -> listMs,
      "Watermark.commit_ms" -> commitMs
    )
  }
}

/** `IngestReader.read` over a corpus landed during set-up, one day prefix
  * per batch; every plaintext byte goes through a per-object SHA-256.
  */
final class ReadBack(seed: Long, keys: Keys) extends Workload(seed, keys) {
  val Days = 4
  val SmallPerDay = 50
  // One multi-MB object per day, all the same size, so every day's read
  // weighs alike and the batch percentiles do not straddle two kinds of day.
  val Large = 4
  val LargeBytes = (3 << 20, 3 << 20)

  private var corpus: Seq[Gen.SrcFile] = Nil
  private var days: Seq[String] = Nil
  private var expected: Checks.Digests = Map.empty
  private var lastRead: Checks.Digests = Map.empty
  private var lastRows = 0L
  private var landedCheck: Seq[(String, Option[String])] = Nil

  private def keyOf(f: Gen.SrcFile): String = s"$Prefix${f.dir}/${f.name}.gz.enc"
  override def ops: Long = corpus.size.toLong

  /** The corpus is checked once when landed; the read-back on every iteration. */
  override def setup(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    corpus = Gen.readCorpus(seed, Days, SmallPerDay, Large, LargeBytes)
    writeFiles(corpus, dir.resolve("src"))
    days = corpus.map(_.dir).distinct.sorted
    IngestJob.run(spark, config(traced = false))
    expected = corpus.map(f => keyOf(f) -> (Checks.sha256Hex(f.bytes), f.bytes.length.toLong)).toMap
    landedCheck = Checks.landed(store, Prefix, corpus.map(f => keyOf(f) -> f.bytes).toMap, keys.priv, seed, 8)
  }

  override def reset(): Unit = ()

  override def iterate(spark: SparkSession, traced: Boolean): Iter = {
    val read = Seq.newBuilder[(String, (String, Long))]
    val dayMs = days.map { day =>
      Fs.timeMs {
        read ++= IngestReader.read(spark, sink, s"$Prefix$day/", keys.privDerB64)
          .select(col("key"), sha2(col("content"), 256), length(col("content")).cast("long"))
          .collect()
          .map(r => r.getString(0) -> (r.getString(1), r.getLong(2)))
      }
    }
    val rows = read.result()
    lastRows = rows.size.toLong
    lastRead = rows.toMap
    Iter(dayMs.sum / 1e3, lastRows, rows.iterator.map(_._2._2).sum, dayMs, Map.empty)
  }

  override def check(spark: SparkSession): Seq[(String, Option[String])] =
    landedCheck ++ Checks.readBack(lastRows, lastRead, expected)

  override def payloads: Seq[Array[Byte]] = {
    var total = 0L
    corpus.takeWhile { f => total += f.bytes.length; total - f.bytes.length < (8L << 20) }.map(_.bytes)
  }

  override def replays(spark: SparkSession): Map[String, Double] = {
    val listMs = Stats.median((1 to 3).map(_ =>
      Fs.timeMs(IngestReader.read(spark, sink, Prefix, keys.privDerB64).select("key").count())))
    Map(
      "IngestReader.objects" -> lastRead.size.toDouble,
      "IngestReader.bytes" -> lastRead.valuesIterator.map(_._2).sum.toDouble,
      "IngestReader.list_ms" -> listMs
    )
  }
}
