package graft.ingest

import graft.SparkSpec
import graft.sources.KafkaLogFormat
import graft.streaming.CountingStoreFactory
import java.io.File
import java.nio.file.Files
import java.time.LocalDate
import java.util.Base64
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** A checkpoint written by Spark's default checkpoint manager (every
  * ingest checkpoint made before [[CheckpointFiles]]) resumes under it:
  * the rest of the backlog lands, no committed batch runs again, and the
  * day stream's progress mirror ends on the last day.
  */
class CheckpointUpgradeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, _) = Envelope.generateKeyPair()

  private def cfg(src: String, tag: String) = IngestConfig(
    srcDir = src,
    storeFactory = CountingStoreFactory(Files.createTempDirectory("upgrade-out").toString, tag),
    s3Prefix = "audit/",
    masterKeyId = "test-hsm-key-id",
    publicKeyB64 = Base64.getEncoder.encodeToString(pub.getEncoded),
    progressFile = Files.createTempDirectory("upgrade-wm").resolve("progress.txt").toString
  )

  /** Run `writer` under the session's default manager: batch 0 through
    * `process`, then stop by failing batch 1 before it puts anything.
    */
  private def firstBatchOnly(writer: DataStreamWriter[Row], ckpt: String)(process: (DataFrame, Long) => Unit): Unit = {
    assert(spark.conf.getAll.get(IngestStream.CheckpointManagerConf).isEmpty)
    val q = writer
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        if (id > 0) throw new IllegalStateException("stopped after one batch")
        process(df, id)
      }
      .start()
    try intercept[Exception](q.awaitTermination()) finally q.stop()
    def logs(dir: String) = Option(new File(ckpt, dir).list()).toSeq.flatten.filter(_.forall(_.isDigit)).toSet
    assert(logs("commits") == Set("0") && logs("offsets") == Set("0", "1"))
    // Spark's default manager checksums its log files on the local FS
    assert(new File(ckpt, "commits/.0.crc").exists)
  }

  test("a capped Kafka drain started under Spark's default manager resumes: the rest lands, batch 0 never re-runs") {
    val root = Files.createTempDirectory("upgrade-kafka")
    val dayMs = 1626332400000L
    for (p <- 0 until 2) {
      val tp = new Path(root.resolve(s"audit-$p").toUri)
      val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(tp)
      KafkaLogFormat.writeSegment(fs, tp, (0L until 6L).map(o => KafkaLogFormat.Record(o, dayMs + o, null, s"p$p-$o".getBytes)))
    }
    val tag = "upgrade-kafka-" + System.nanoTime()
    val c = cfg("/unused-for-kafka", tag)
    val ckpt = Files.createTempDirectory("upgrade-ckpt").toString
    // a cap of 4 over two 6-record partitions: three batches of 2 per partition
    val reader = spark.readStream.format("graft-kafkalog").option("root", root.toString).option("maxRecordsPerTrigger", "4")
    firstBatchOnly(reader.load().writeStream, ckpt)((df, id) => IngestStream.processKafkaBatch(c, df, id))
    assert(CountingStoreFactory.countsFor(tag).size == 4)

    val rest = IngestStream.runKafkaAvailableNow(spark, c, root.toString, ckpt, Some(4L))
    assert(rest == KafkaDrainSummary(batches = 2, records = 8, tombstones = 0))
    val want = for (p <- 0 until 2; o <- 0 until 6) yield s"audit/2021-07-15/audit-$p-$o.gz.enc"
    assert(CountingStoreFactory.countsFor(tag) == want.map(_ -> 1).toMap)
    assert(new File(ckpt, "commits/2").exists && !new File(ckpt, "commits/.2.crc").exists)
  }

  test("a day drain started under Spark's default manager resumes: the rest lands once, the mirror ends on the last day") {
    val src = Files.createTempDirectory("upgrade-days")
    val days = Seq("2021-08-01", "2021-08-02", "2021-08-03")
    for (d <- days) Files.write(Files.createDirectories(src.resolve(d)).resolve("a.json"), d.getBytes)
    val tag = "upgrade-days-" + System.nanoTime()
    val c = cfg(src.toString, tag)
    val ckpt = Files.createTempDirectory("upgrade-ckpt").toString
    firstBatchOnly(IngestStream.source(spark, c).writeStream, ckpt)((df, id) => IngestStream.processBatch(c, df, id))
    assert(CountingStoreFactory.countsFor(tag).keySet == Set("audit/2021-08-01/a.json.gz.enc"))

    IngestStream.runAvailableNow(spark, c, ckpt)
    assert(CountingStoreFactory.countsFor(tag) == days.map(d => s"audit/$d/a.json.gz.enc" -> 1).toMap)
    assert(Watermark.read(c.progressFile).contains(LocalDate.parse(days.last)))
    assert(new File(ckpt, "commits/2").exists && !new File(ckpt, "commits/.2.crc").exists)
  }
}
