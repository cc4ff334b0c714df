package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded, deterministic input generator. The same seed gives the same
  * bytes; the program under test only ever sees what this writes.
  *
  * Payloads are newline-delimited audit-JSON events whose fields vary the
  * way real audit logs do (skewed users and actions, random ids, free-text
  * messages), so zlib sees realistic ratios instead of a repeated string.
  */
object Gen {

  /** One Kafka record as generated: `value == null` is a tombstone. */
  final case class KRecord(partition: Int, offset: Long, timestampMs: Long, value: Array[Byte])

  /** One source file: its day directory name, its name within it, bytes. */
  final case class SrcFile(dir: String, name: String, bytes: Array[Byte])

  private val Actions = Array("read", "write", "delete", "list", "login", "logout", "grant", "revoke",
    "query", "export", "update", "create")
  private val Services = Array("hbase", "hive", "s3", "emr", "kafka", "ssm", "kms", "iam", "glue", "athena")
  private val Outcomes = Array("SUCCESS", "SUCCESS", "SUCCESS", "SUCCESS", "DENIED", "ERROR")
  private val Words = ("the of and to in is was for on that with as by at from it an be this which or are " +
    "table record audit access user request session token key policy denied granted bucket prefix object " +
    "partition offset topic consumer producer stream batch job stage task executor driver cluster node " +
    "replica region zone schema column row filter scan write commit rollback retry timeout latency " +
    "encrypt decrypt compress payload envelope master data wrapped nonce cipher hash digest manifest " +
    "watermark checkpoint progress backlog ingest export import snapshot restore delete update insert").split(' ')

  private def pick[T](r: SplittableRandom, a: Array[T]): T = a(r.nextInt(a.length))

  /** Zipf-like skew: small ids far more often than large ones. */
  private def skewed(r: SplittableRandom, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (math.pow(n.toDouble, u) - 1).toInt)
  }

  private def hex(r: SplittableRandom, chars: Int, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < chars) { sb.append(Character.forDigit(r.nextInt(16), 16)); i += 1 }
  }

  /** One audit event of roughly `targetBytes` (never less), as JSON text. */
  def auditEvent(r: SplittableRandom, tsMs: Long, targetBytes: Int): String = {
    val sb = new java.lang.StringBuilder(targetBytes + 256)
    sb.append("{\"auditId\":\"")
    hex(r, 32, sb)
    sb.append("\",\"timestamp\":").append(tsMs)
    sb.append(",\"user\":\"user").append(skewed(r, 5000)).append("@dept").append(skewed(r, 40)).append('"')
    sb.append(",\"service\":\"").append(pick(r, Services)).append('"')
    sb.append(",\"action\":\"").append(pick(r, Actions)).append('"')
    sb.append(",\"outcome\":\"").append(pick(r, Outcomes)).append('"')
    sb.append(",\"sourceIp\":\"10.").append(r.nextInt(256)).append('.').append(r.nextInt(256)).append('.')
      .append(r.nextInt(256)).append('"')
    sb.append(",\"durationMs\":").append(skewed(r, 60000))
    sb.append(",\"resource\":\"/data/").append(pick(r, Services)).append("/db").append(skewed(r, 200))
      .append("/table").append(skewed(r, 2000)).append('"')
    sb.append(",\"details\":[")
    var first = true
    while (sb.length < targetBytes - 40) {
      if (!first) sb.append(',')
      first = false
      sb.append("{\"seq\":").append(r.nextInt(1 << 20)).append(",\"row\":\"")
      hex(r, 12, sb)
      sb.append("\",\"msg\":\"")
      val n = 4 + r.nextInt(12)
      var i = 0
      while (i < n) { if (i > 0) sb.append(' '); sb.append(pick(r, Words)); i += 1 }
      sb.append("\"}")
    }
    sb.append("]}")
    sb.toString
  }

  /** A newline-delimited file of events, at least `targetBytes` long. */
  def auditFile(r: SplittableRandom, dayStartMs: Long, targetBytes: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(targetBytes + 8192)
    while (sb.length < targetBytes) {
      sb.append(auditEvent(r, dayStartMs + r.nextInt(86400000), 200 + r.nextInt(1800))).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  /** `n` sizes spaced evenly on a log scale over [lo, hi]. Seeds permute
    * them, so every seed moves the same bytes in a different order.
    */
  def ladder(n: Int, lo: Int, hi: Int): IndexedSeq[Int] =
    (0 until n).map(i => if (n == 1) lo else math.round(lo * math.pow(hi.toDouble / lo, i.toDouble / (n - 1))).toInt)

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  val FirstDay: LocalDate = LocalDate.of(2021, 7, 1)
  private def dayStartMs(d: LocalDate): Long = d.toEpochDay * 86400000L

  /** Kafka backlog: `records` records of 0.2-4 KB spread evenly over
    * `partitions` partitions, exactly `tombstones` of them null, and
    * CreateTime spread over `days` days.
    */
  def kafkaBacklog(seed: Long, records: Int, partitions: Int, days: Int, tombstones: Int): Seq[KRecord] = {
    val r = new SplittableRandom(seed)
    val sizes = shuffle(r, ladder(records, 200, 4096))
    val dead = shuffle(r, (0 until records).map(_ < tombstones))
    (0 until records).map { i =>
      val ts = dayStartMs(FirstDay.plusDays(r.nextInt(days).toLong)) + r.nextInt(86400000)
      val value = if (dead(i)) null else auditEvent(r, ts, sizes(i)).getBytes(UTF_8)
      KRecord(i % partitions, (i / partitions).toLong, ts, value)
    }
  }

  /** Dated day directories of `filesPerDay` large audit files each, plus
    * one zero-length file and one non-dated directory that the ingest must
    * skip. Every day holds the same ladder of sizes over `fileBytes`,
    * jittered by up to 10%, so days weigh alike whatever the seed.
    */
  def dayBacklog(seed: Long, days: Int, filesPerDay: Int, fileBytes: (Int, Int)): Seq[SrcFile] = {
    val r = new SplittableRandom(seed)
    val dated = (0 until days).flatMap { d =>
      val day = FirstDay.plusDays(d.toLong)
      shuffle(r, ladder(filesPerDay, fileBytes._1, fileBytes._2)).zipWithIndex.map { case (size, i) =>
        SrcFile(day.toString, f"audit-$i%03d.json", auditFile(r, dayStartMs(day), (size * (0.9 + 0.2 * r.nextDouble())).toInt))
      }
    }
    val emptyDay = FirstDay.plusDays(r.nextInt(days).toLong).toString
    dated ++ Seq(
      SrcFile(emptyDay, "empty.json", Array.emptyByteArray),
      SrcFile(NonDatedDir, "stray.json", auditFile(r, dayStartMs(FirstDay), 4096))
    )
  }

  /** The directory name that is not a date; nothing under it may land. */
  val NonDatedDir = "incoming-tmp"

  /** Read-back corpus: per day many small files, and a few multi-MB files,
    * on fixed days, that hold most of the bytes.
    */
  def readCorpus(seed: Long, days: Int, smallPerDay: Int, large: Int, largeBytes: (Int, Int)): Seq[SrcFile] = {
    val r = new SplittableRandom(seed)
    val sizes = shuffle(r, ladder(days * smallPerDay, 200, 4096)).iterator
    val small = (0 until days).flatMap { d =>
      val day = FirstDay.plusDays(d.toLong)
      (0 until smallPerDay).map { i =>
        SrcFile(day.toString, f"event-$i%04d.json", auditEvent(r, dayStartMs(day) + r.nextInt(86400000), sizes.next()).getBytes(UTF_8))
      }
    }
    val big = ladder(large, largeBytes._1, largeBytes._2).zipWithIndex.map { case (size, i) =>
      val day = FirstDay.plusDays((i * days / large).toLong)
      SrcFile(day.toString, f"bulk-$i%02d.json", auditFile(r, dayStartMs(day), size))
    }
    small ++ big
  }
}
