package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.{Envelope, IngestConfig, IngestStream, LocalDirObjectStoreFactory}
import graft.sources.KafkaLogFormat

/** Throughput of the NORTH-STAR streaming pipeline — Kafka-wire-format
  * source → zlib compress → envelope encrypt (RSA-OAEP wrap + AES-EAX)
  * → object-store sink ([[graft.ingest.IngestStream.runKafkaAvailableNow]])
  * — at the CURRENT fixture scale: every document of the
  * `SPARK_GRAFT_SF_DIR` corpus becomes one Kafka record (its UTF-8
  * text as the value, CreateTime spread across days), spread
  * round-robin over `SPARK_GRAFT_KAFKA_PARTS` topic-partitions so the
  * drain parallelizes the way a real consumer group would. Run once at
  * sf0.1 and once at the 10x blow-up and compare records/s: the
  * pipeline is a narrow per-record map into an idempotent keyed sink
  * (no shuffle, no state), so the per-record cost should be near-flat
  * in corpus size — the measured row recorded in
  * `stream_throughput.json` (`kafka_*` block).
  *
  * Prints ONE JSON line. Run:
  * `SPARK_GRAFT_SF_DIR=/tmp/scale10 SPARK_GRAFT_CPUS=32
  *    sbt "runMain graft.KafkaStreamBench"`
  */
object KafkaStreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nParts = sys.env.getOrElse("SPARK_GRAFT_KAFKA_PARTS", "8").toInt
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- fixture: the corpus as Kafka wire-format segments ------------
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val root = Files.createTempDirectory("kbench-root").toString
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayMs = 1626332400000L // 2021-07-15 UTC
    (0 until nParts).foreach { p =>
      val dir = new org.apache.hadoop.fs.Path(s"$root/audit-$p")
      fs.mkdirs(dir)
      val recs = docs.iterator.filter(_._1 % nParts == p).zipWithIndex.map {
        case ((id, text), off) =>
          // CreateTime spread over 4 day partitions, like a real topic
          KafkaLogFormat.Record(off.toLong, dayMs + (id % 4) * 86400000L + off,
            null, text.getBytes("UTF-8"))
      }.toSeq
      if (recs.nonEmpty) KafkaLogFormat.writeSegment(fs, dir, recs)
    }
    val nRecords = docs.length.toLong
    val payloadBytes = docs.iterator.map(_._2.length.toLong).sum

    // ---- the drain, timed whole (read+compress+encrypt+put+commit) ----
    val (pub, _) = Envelope.generateKeyPair()
    val out = Files.createTempDirectory("kbench-out")
    val cfg = IngestConfig(
      srcDir = "/unused-for-kafka",
      storeFactory = LocalDirObjectStoreFactory(out.toString),
      s3Prefix = "audit/",
      masterKeyId = "bench-key-id",
      publicKeyB64 = java.util.Base64.getEncoder.encodeToString(pub.getEncoded),
      progressFile = Files.createTempDirectory("kwm").resolve("progress.txt").toString
    )
    val ckpt = Files.createTempDirectory("kbench-ckpt").toString
    val t0 = System.nanoTime()
    IngestStream.runKafkaAvailableNow(spark, cfg, root, ckpt)
    val sec = (System.nanoTime() - t0) / 1e9
    val landed = cfg.storeFactory.create().listKeys("audit/").size

    def r1(x: Double) = math.round(x * 10.0) / 10.0
    println(
      s"""{"metric":"kafka_ingest","sf":"$sfDir","partitions":$nParts,""" +
        s""""records":$nRecords,"payload_bytes":$payloadBytes,"landed":$landed,""" +
        s""""sec":${r1(sec)},"records_per_sec":${r1(nRecords / sec)},""" +
        s""""mb_per_sec":${r1(payloadBytes / 1e6 / sec)}}""")
    // scratch hygiene: the fixture and sink are bench-local
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    spark.stop()
    sys.exit(0)
  }
}
