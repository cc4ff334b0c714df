package graft.streaming

import graft.SparkSpec
import graft.ingest._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.Base64

/** The day stream's progress-file mirror, written only by the source's
  * `latestOffset`: after a crash between a batch's commit and the next
  * trigger it lags the checkpoint, and the next run's first trigger
  * restores it. It only ever moves forward.
  */
class ProgressMirrorSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, _) = Envelope.generateKeyPair()

  /** A drained two-day source: its config, checkpoint and put counter tag. */
  private def drained(): (IngestConfig, String, String) = {
    val src = Files.createTempDirectory("mirror-src")
    for (day <- Seq("2021-04-01", "2021-04-02"))
      Files.write(Files.createDirectories(src.resolve(day)).resolve("a.json"), day.getBytes)
    val tag = "mirror-" + System.nanoTime()
    val cfg = IngestConfig(
      srcDir = src.toString,
      storeFactory = CountingStoreFactory(Files.createTempDirectory("out").toString, tag),
      s3Prefix = "audit/",
      masterKeyId = "test-hsm-key-id",
      publicKeyB64 = Base64.getEncoder.encodeToString(pub.getEncoded),
      progressFile = Files.createTempDirectory("wm").resolve("progress.txt").toString
    )
    val checkpoint = Files.createTempDirectory("ckpt").toString
    IngestStream.runAvailableNow(spark, cfg, checkpoint)
    assert(Watermark.read(cfg.progressFile).contains(LocalDate.parse("2021-04-02")))
    (cfg, checkpoint, tag)
  }

  test("a mirror left behind or lost by a crash is restored by a rerun with nothing pending") {
    val (cfg, checkpoint, tag) = drained()
    val puts = CountingStoreFactory.countsFor(tag)
    val rewinds: Seq[(String, () => Unit)] = Seq(
      "behind" -> (() => Watermark.commit(cfg.progressFile, LocalDate.parse("2021-04-01"))),
      "missing" -> (() => Files.delete(Path.of(cfg.progressFile)))
    )
    for ((what, rewind) <- rewinds) {
      rewind()
      IngestStream.runAvailableNow(spark, cfg, checkpoint)
      assert(Watermark.read(cfg.progressFile).contains(LocalDate.parse("2021-04-02")), what)
      assert(CountingStoreFactory.countsFor(tag) == puts, s"$what: the rerun put objects")
    }
  }

  test("a mirror ahead of the checkpoint is never dragged back") {
    val (cfg, checkpoint, _) = drained()
    val ahead = LocalDate.parse("2021-04-09") // e.g. a batch run went further
    Watermark.commit(cfg.progressFile, ahead)
    IngestStream.runAvailableNow(spark, cfg, checkpoint)
    assert(Watermark.read(cfg.progressFile).contains(ahead))
  }
}
