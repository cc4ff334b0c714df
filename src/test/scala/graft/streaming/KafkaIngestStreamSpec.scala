package graft.streaming

import graft.SparkSpec
import graft.ingest._
import graft.sources.KafkaLogFormat
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.Base64

/** Failure-injection store: the put of exactly `badKey` fails, every other
  * put lands.
  */
final case class OneBadKeyStoreFactory(root: String, badKey: String) extends ObjectStoreFactory {
  override def create(): ObjectStore = new LocalDirObjectStore(root) {
    override def put(key: String, data: Array[Byte], metadata: Map[String, String]): Unit = {
      if (key == badKey) throw new RuntimeException(s"injected failure for $key")
      super.put(key, data, metadata)
    }
  }
}

/** The literal north star as ONE library call: Kafka-wire-format source →
  * compress → envelope-encrypt → object-store sink
  * ([[IngestStream.runKafkaAvailableNow]]). Pins key layout, decrypt
  * round-trip, offset-checkpoint resume (appended records only), and
  * tombstone handling in one Spark job per micro-batch.
  */
class KafkaIngestStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, priv) = Envelope.generateKeyPair()

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // CreateTime pinned inside 2021-07-15 UTC so the day partition is known
  private val dayMs = 1626332400000L
  private def rec(offset: Long, v: String) =
    KafkaLogFormat.Record(offset, dayMs + offset, null, v.getBytes("UTF-8"))

  private def cfgFor(out: java.nio.file.Path) = IngestConfig(
    srcDir = "/unused-for-kafka",
    storeFactory = LocalDirObjectStoreFactory(out.toString),
    s3Prefix = "audit/",
    masterKeyId = "test-hsm-key-id",
    publicKeyB64 = Base64.getEncoder.encodeToString(pub.getEncoded),
    progressFile = Files.createTempDirectory("kwm").resolve("progress.txt").toString
  )

  test("kafka drain: key layout, metadata, decrypt round-trip; restart puts only appended records") {
    val root = Files.createTempDirectory("kingest")
    val tp = new Path(root.resolve("audit-0").toString)
    fs.mkdirs(tp)
    KafkaLogFormat.writeSegment(fs, tp, (0L until 3L).map(o => rec(o, s"payload-$o")))
    val out = Files.createTempDirectory("kingest-out")
    val checkpoint = Files.createTempDirectory("kingest-ckpt").toString
    val cfg = cfgFor(out)

    IngestStream.runKafkaAvailableNow(spark, cfg, root.toString, checkpoint)

    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/")
    assert(keys.toSet == (0 until 3).map(o => s"audit/2021-07-15/audit-0-$o.gz.enc").toSet)
    val md = store.getMetadata("audit/2021-07-15/audit-0-1.gz.enc")
    assert(md.keySet == Set("iv", "ciphertext", "datakeyencryptionkeyid"))
    val plain = Zlib.decompress(
      Envelope.decrypt(EncryptedObject(store.get("audit/2021-07-15/audit-0-1.gz.enc"), md), priv))
    assert(new String(plain, "UTF-8") == "payload-1")

    // two records land; the restart reads ONLY them (offset-map resume)
    KafkaLogFormat.writeSegment(fs, tp, (3L until 5L).map(o => rec(o, s"payload-$o")))
    IngestStream.runKafkaAvailableNow(spark, cfg, root.toString, checkpoint)
    assert(store.listKeys("audit/").size == 5)
    val p4 = Zlib.decompress(Envelope.decrypt(EncryptedObject(
      store.get("audit/2021-07-15/audit-0-4.gz.enc"),
      store.getMetadata("audit/2021-07-15/audit-0-4.gz.enc")), priv))
    assert(new String(p4, "UTF-8") == "payload-4")
  }

  test("tombstones: no key lands for a null value, the drain counts them, one Spark job per batch") {
    val root = Files.createTempDirectory("ktomb")
    // A cap of 4 over two equal 8-record partitions admits offsets
    // [2b, 2b+2) of each partition in batch b, so batch 1 (offsets 2-3)
    // holds tombstones only; the rest are scattered over both partitions.
    val dead = Map(0 -> Set(0L, 2L, 3L, 7L), 1 -> Set(2L, 3L, 5L))
    for ((p, nulls) <- dead) {
      val tp = new Path(root.resolve(s"audit-$p").toString)
      fs.mkdirs(tp)
      KafkaLogFormat.writeSegment(fs, tp, (0L until 8L).map { o =>
        if (nulls(o)) KafkaLogFormat.Record(o, dayMs + o, null, null) else rec(o, s"p$p-$o")
      })
    }
    val out = Files.createTempDirectory("ktomb-out")
    val checkpoint = Files.createTempDirectory("ktomb-ckpt").toString
    val cfg = cfgFor(out)

    // Jobs per micro-batch, keyed by the batch id Spark sets on every job
    // a batch submits. A marker job submitted after the drain arrives
    // behind all of them on the listener bus (one thread, in order), so
    // once it arrives the map is complete.
    val jobsPerBatch = scala.collection.mutable.Map[String, Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobsPerBatch(b) = jobsPerBatch.getOrElse(b, 0) + 1)
        if (props.exists(_.getProperty("ktomb.marker") != null)) drained.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val summary =
      try {
        val s = IngestStream.runKafkaAvailableNow(spark, cfg, root.toString, checkpoint, Some(4L))
        spark.sparkContext.setLocalProperty("ktomb.marker", "1")
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setLocalProperty("ktomb.marker", null)
        assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
        s
      } finally spark.sparkContext.removeSparkListener(listener)

    val live = for ((p, nulls) <- dead.toSeq; o <- 0L until 8L if !nulls(o)) yield (p, o)
    val store = cfg.storeFactory.create()
    assert(store.listKeys("audit/").toSet ==
      live.map { case (p, o) => s"audit/2021-07-15/audit-$p-$o.gz.enc" }.toSet)
    val k = "audit/2021-07-15/audit-1-4.gz.enc"
    val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv))
    assert(new String(plain, "UTF-8") == "p1-4")

    assert(summary == KafkaDrainSummary(batches = 4, records = live.size.toLong, tombstones = 7))
    assert(jobsPerBatch.toMap == (0 until 4).map(b => b.toString -> 1).toMap,
      s"jobs per micro-batch: $jobsPerBatch")
  }

  test("poisoned record: the batch fails naming it, the committed offset holds, a fixed store re-drains exactly") {
    // more topic-partitions than cores, so a packed task reads several slices
    val partitions = spark.sparkContext.defaultParallelism + 2
    val root = Files.createTempDirectory("kpoison")
    for (p <- 0 until partitions) {
      val tp = new Path(root.resolve(s"audit-$p").toString)
      fs.mkdirs(tp)
      KafkaLogFormat.writeSegment(fs, tp, (0L until 6L).map { o =>
        if (p == 1 && o == 4L) KafkaLogFormat.Record(o, dayMs + o, null, null) else rec(o, s"p$p-$o")
      })
    }
    val out = Files.createTempDirectory("kpoison-out")
    val checkpoint = Files.createTempDirectory("kpoison-ckpt").toString
    val cfg = cfgFor(out)
    // a cap of 2 per partition admits offsets [2b, 2b+2) of each partition
    // in batch b; the poisoned record sits in batch 1
    val cap = Some(2L * partitions)
    val bad = "audit/2021-07-15/audit-2-3.gz.enc"
    val e = intercept[Exception] {
      IngestStream.runKafkaAvailableNow(
        spark, cfg.copy(storeFactory = OneBadKeyStoreFactory(out.toString, bad)), root.toString, checkpoint, cap)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("Kafka batch 1: 1 record(s) failed") && messages.contains(bad), messages)

    // the checkpoint committed batch 0 only, and its end offset is 2 everywhere
    val ckptFs = new Path(checkpoint).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = ckptFs.listStatus(new Path(checkpoint, "commits")).map(_.getPath.getName).filter(_.forall(_.isDigit))
    assert(committed.toSeq == Seq("0"))
    val offsets0 = scala.io.Source.fromFile(new java.io.File(checkpoint, "offsets/0"))
    val committedEnd = try offsets0.getLines().toList.last finally offsets0.close()
    assert(committedEnd == (0 until partitions).map(p => s""""audit-$p":2""").sorted.mkString("{", ",", "}"))

    // a rerun with a working store re-drains from there; the landed keys are the live records, no more
    val summary = IngestStream.runKafkaAvailableNow(spark, cfg, root.toString, checkpoint, cap)
    assert(summary == KafkaDrainSummary(batches = 2, records = 2L * 2 * partitions - 1, tombstones = 1))
    val live = for (p <- 0 until partitions; o <- 0L until 6L if !(p == 1 && o == 4L))
      yield s"audit/2021-07-15/audit-$p-$o.gz.enc"
    val store = cfg.storeFactory.create()
    assert(store.listKeys("audit/").toSet == live.toSet)
    val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(bad), store.getMetadata(bad)), priv))
    assert(new String(plain, "UTF-8") == "p2-3")
  }

  test("--kafka-root CLI flag requires --streaming") {
    val base = Array(
      "--src-dir", "/s", "--key-id", "k", "--progress-file", "/p.txt", "--out-root", "/o",
      "--public-key-file", {
        val f = Files.createTempFile("pub", ".key")
        Files.write(f, Base64.getEncoder.encodeToString(pub.getEncoded).getBytes)
        f.toString
      }
    )
    val Left(err) = IngestCli.parseArgs(base ++ Array("--kafka-root", "/k")): @unchecked
    assert(err.contains("--kafka-root requires --streaming"))
    val Right(parsed) = IngestCli.parseArgs(
      base ++ Array("--kafka-root", "/k", "--streaming", "/ckpt")): @unchecked
    assert(parsed.kafkaRoot.contains("/k") && parsed.streamingCheckpoint.contains("/ckpt"))
  }
}
