package graft.ingest

import graft.SparkSpec
import graft.sources.KafkaLogFormat
import java.io.File
import java.nio.file.Files
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** [[CheckpointFiles]] writes the offset and commit logs of the two ingest
  * streams and of no other query, and the session's setting is back as it
  * was once `start()` returns or throws.
  */
class CheckpointScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, _) = Envelope.generateKeyPair()
  private val key = IngestStream.CheckpointManagerConf

  private def cfg(src: String) = IngestConfig(
    srcDir = src,
    storeFactory = LocalDirObjectStoreFactory(Files.createTempDirectory("scope-out").toString),
    s3Prefix = "audit/",
    masterKeyId = "test-hsm-key-id",
    publicKeyB64 = Base64.getEncoder.encodeToString(pub.getEncoded),
    progressFile = Files.createTempDirectory("scope-wm").resolve("progress.txt").toString
  )

  private def daySource(): String = {
    val src = Files.createTempDirectory("scope-src")
    Files.write(Files.createDirectories(src.resolve("2021-06-01")).resolve("a.json"), "a".getBytes)
    src.toString
  }

  private def canonical(dir: String) = new File(new Path(dir).toUri.getPath).getCanonicalPath

  /** The class of a metadata log's `fileManager` (protected in Scala). */
  private def managerOf(log: AnyRef): Class[_] = log.getClass.getMethod("fileManager").invoke(log).getClass

  /** Run `body` and return, per checkpoint dir, the classes that write the
    * offset and commit logs of each query it started.
    */
  private def managers(body: => Unit): Map[String, (Class[_], Class[_])] = {
    val seen = new ConcurrentHashMap[String, (Class[_], Class[_])]()
    val listener = new StreamingQueryListener {
      // delivered on the query's own thread before its first batch
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        val q = spark.streams.get(e.id).asInstanceOf[StreamingQueryWrapper].streamingQuery
        seen.put(canonical(q.resolvedCheckpointRoot), (managerOf(q.offsetLog), managerOf(q.commitLog)))
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body
    finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toMap
  }

  test("both ingest streams log through CheckpointFiles; a plain stream on the same session keeps Spark's default") {
    val dayCkpt, kafkaCkpt, plainCkpt = Files.createTempDirectory("scope-ckpt").toString
    val kafkaRoot = Files.createTempDirectory("scope-kafka")
    val tp = new Path(kafkaRoot.resolve("audit-0").toUri)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(tp)
    KafkaLogFormat.writeSegment(fs, tp, Seq(KafkaLogFormat.Record(0L, 1626332400000L, null, "x".getBytes)))
    val c = cfg(daySource())

    val seen = managers {
      IngestStream.runAvailableNow(spark, c, dayCkpt)
      IngestStream.runKafkaAvailableNow(spark, c, kafkaRoot.toString, kafkaCkpt)
      val plain = IngestStream.source(spark, cfg(daySource())).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", plainCkpt)
        .foreachBatch((_: DataFrame, _: Long) => ())
        .start()
      try plain.awaitTermination() finally plain.stop()
    }
    val ours = classOf[CheckpointFiles]
    assert(seen(canonical(dayCkpt)) == (ours, ours))
    assert(seen(canonical(kafkaCkpt)) == (ours, ours))
    val spark0 = classOf[FileContextBasedCheckpointFileManager]
    assert(seen(canonical(plainCkpt)) == (spark0, spark0))
    assert(Files.exists(new File(dayCkpt, "commits/0").toPath) && Files.exists(new File(kafkaCkpt, "commits/0").toPath))
  }

  test("the session's manager setting is restored after start(): a prior value, none, and a start() that throws") {
    val c = cfg(daySource())
    // a checkpoint dir that cannot be created: its parent is a regular file
    val unusable = IngestStream.source(spark, c).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempFile("scope", ".file").resolve("ckpt").toString)
      .foreachBatch((_: DataFrame, _: Long) => ())
    val prior = classOf[FileContextBasedCheckpointFileManager].getName
    for (before <- Seq(Some(prior), None)) {
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try {
        IngestStream.runAvailableNow(spark, c, Files.createTempDirectory("scope-ckpt").toString)
        assert(spark.conf.getAll.get(key) == before)
        intercept[Exception](IngestStream.startWithCheckpointFiles(spark, unusable))
        assert(spark.conf.getAll.get(key) == before)
      } finally spark.conf.unset(key)
    }
  }
}
