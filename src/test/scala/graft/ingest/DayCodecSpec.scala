package graft.ingest

import graft.SparkSpec
import graft.streaming.CountingStoreFactory
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Both day front-ends, the batch core ([[IngestJob.run]]) and the day
  * stream ([[IngestStream.runAvailableNow]]), name a day's dir the same way:
  * `<qualified srcDir>/<day>`, where a dir is a day only under its
  * canonical name.
  */
class DayCodecSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, _) = Envelope.generateKeyPair()

  private def cfgFor(src: Path, factory: ObjectStoreFactory) =
    IngestConfig(
      srcDir = src.toString,
      storeFactory = factory,
      s3Prefix = "audit/",
      masterKeyId = "test-hsm-key-id",
      publicKeyB64 = Base64.getEncoder.encodeToString(pub.getEncoded),
      progressFile = Files.createTempDirectory("wm").resolve("progress.txt").toString
    )

  private def write(dir: Path, rel: String, body: String): Unit = {
    val f = dir.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, body.getBytes("UTF-8"))
  }

  /** Runs `f` and returns what `AuditSource` logged meanwhile. */
  private def auditSourceLog[T](f: => T): (T, Seq[String]) = {
    spark // Spark's start-up replaces the log4j configuration
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("day-codec-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(AuditSource.getClass.getName).asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val out = f
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  /** Batch ids in a checkpoint's commit log. */
  private def committedBatches(checkpoint: Path): Seq[String] = {
    val s = Files.list(checkpoint.resolve("commits"))
    try s.iterator.asScala.map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
    finally s.close()
  }

  test("an impossible day dir (2021-02-30) is skipped with a warning: one object, one day committed, both front-ends") {
    val src = Files.createTempDirectory("day-codec-src")
    write(src, "2021-02-28/a.json", "real")
    write(src, "2021-02-30/a.json", "impossible")
    val day = LocalDate.parse("2021-02-28")

    val batchTag = "day-codec-batch-" + System.nanoTime()
    val batch = cfgFor(src, CountingStoreFactory(Files.createTempDirectory("out").toString, batchTag))
    val (summary, batchLog) = auditSourceLog(IngestJob.run(spark, batch))
    assert(summary.days == Seq(DayResult(day, 1, 0, Nil)))
    assert(CountingStoreFactory.countsFor(batchTag) == Map("audit/2021-02-28/a.json.gz.enc" -> 1))
    assert(Watermark.read(batch.progressFile).contains(day))
    assert(batchLog.exists(m => m.startsWith("Skipping non-dated directory") && m.endsWith("/2021-02-30")), batchLog)

    val streamTag = "day-codec-stream-" + System.nanoTime()
    val stream = cfgFor(src, CountingStoreFactory(Files.createTempDirectory("out").toString, streamTag))
    val checkpoint = Files.createTempDirectory("ckpt")
    val (_, streamLog) = auditSourceLog(IngestStream.runAvailableNow(spark, stream, checkpoint.toString))
    assert(CountingStoreFactory.countsFor(streamTag) == Map("audit/2021-02-28/a.json.gz.enc" -> 1))
    assert(committedBatches(checkpoint) == Seq("0"), "one day, one micro-batch")
    assert(Watermark.read(stream.progressFile).contains(day))
    assert(streamLog.exists(m => m.startsWith("Skipping non-dated directory") && m.endsWith("/2021-02-30")), streamLog)
  }

  test("a relative srcDir keeps nested paths in the object key on both front-ends") {
    val src = Paths.get("target", s"relsrc-${System.nanoTime()}")
    assert(!src.isAbsolute)
    try {
      write(src, "2021-01-01/a.json", "top")
      write(src, "2021-01-01/sub/a.json", "nested")
      val want = Set("audit/2021-01-01/a.json.gz.enc", "audit/2021-01-01/sub/a.json.gz.enc")

      val batch = cfgFor(src, LocalDirObjectStoreFactory(Files.createTempDirectory("out").toString))
      IngestJob.run(spark, batch)
      assert(batch.storeFactory.create().listKeys("audit/").toSet == want)

      val stream = cfgFor(src, LocalDirObjectStoreFactory(Files.createTempDirectory("out").toString))
      IngestStream.runAvailableNow(spark, stream, Files.createTempDirectory("ckpt").toString)
      assert(stream.storeFactory.create().listKeys("audit/").toSet == want)
    } finally {
      val walk = Files.walk(src)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
  }
}
