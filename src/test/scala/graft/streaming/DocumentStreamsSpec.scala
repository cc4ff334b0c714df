package graft.streaming

import graft.SparkSpec
import graft.sources.TrainingShards
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming ingest→curate→shard path driven synchronously: two
  * document files arrive as two micro-batches; a duplicate spanning the
  * batch boundary must be dropped exactly once (cross-batch dedup
  * state), quality floors apply, and the shard directory must be a
  * consistent committed corpus after the run.
  */
class DocumentStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("two micro-batches: cross-batch duplicate dropped once, floors applied, shards readable") {
    import spark.implicits._
    val in = Files.createTempDirectory("doc-stream-in").toString
    val out = Files.createTempDirectory("doc-stream-out").toString
    val ckpt = Files.createTempDirectory("doc-stream-ckpt").toString

    val longA = "alpha beta gamma delta epsilon zeta eta theta"   // 8 tokens, >20 chars
    val longB = "one two three four five six seven eight nine ten"
    val shortT = "tiny doc"                                       // fails both floors
    // batch 1: doc 1 (longA), doc 2 (in-batch duplicate of longA), doc 3 (longB), doc 4 (short)
    val batch1 = Seq(
      (1L, longA, "en", "src0", longA.length.toLong),
      (2L, longA, "en", "src0", longA.length.toLong),
      (3L, longB, "en", "src1", longB.length.toLong),
      (4L, shortT, "en", "src0", shortT.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // batch 2: doc 5 = CROSS-BATCH duplicate of longA, doc 6 fresh
    val fresh = "kappa lambda mu nu xi omicron pi rho sigma tau"
    val batch2 = Seq(
      (5L, longA, "en", "src2", longA.length.toLong),
      (6L, fresh, "fr", "src2", fresh.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")

    // one file per batch, mod-times forcing arrival order 1 then 2
    batch1.coalesce(1).write.mode("overwrite").parquet(s"$in/f1")
    batch2.coalesce(1).write.mode("overwrite").parquet(s"$in/f2")
    val staged = new java.io.File(in)
    def stage(src: String, name: String, ts: Long): Unit = {
      val part = new java.io.File(s"$in/$src").listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(staged, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
    }
    stage("f1", "b1.parquet", 1000000000000L)
    stage("f2", "b2.parquet", 1000000100000L)

    val docs = DocumentStreams.readDocumentStream(spark, in, maxFilesPerTrigger = 1)
    val q = DocumentStreams.curatedShardStreamNative(docs, out, ckpt).start()
    try q.processAllAvailable()
    finally q.stop()

    // two micro-batches actually ran (one per file)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 2, s"expected 2 data micro-batches, saw ${batches.length}")

    val shard = TrainingShards.read(spark, out, Some(batch1.schema))
    val ids = shard.select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 1 kept; 2 (in-batch dup) and 5 (cross-batch dup) dropped; 4 floored out
    assert(ids == Set(1L, 3L, 6L), s"curated ids drifted: $ids")
    // content round-trips through the container
    val texts = shard.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(1L) == longA && texts(6L) == fresh)
    // the duplicate survived exactly once across the whole run
    assert(shard.filter(col("text") === longA).count() == 1)
    // epoch-scoped shard names: each data epoch contributed its own shard
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val epochs = "-e(\\d+)-".r.findAllMatchIn(manifest).map(_.group(1)).toSet
    assert(epochs.size == 2, s"expected shards from 2 epochs in the manifest: $epochs\n$manifest")
  }

  test("bloom dedup: cross-batch duplicate dropped, novel docs admitted, state size constant") {
    import spark.implicits._
    val in = Files.createTempDirectory("bloom-in").toString
    val ckpt = Files.createTempDirectory("bloom-ckpt").toString
    def doc(id: Long, text: String) = (id, text, "en", "src0", text.length.toLong)
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tB = "one two three four five six seven eight nine ten"
    val tC = "kappa lambda mu nu xi omicron pi rho sigma tau"
    val tD = "red orange yellow green blue indigo violet"
    // batch 1: A, in-batch dup of A, B; batch 2: cross-batch dup of A, C, D
    val b1 = Seq(doc(1L, tA), doc(2L, tA), doc(3L, tB))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b2 = Seq(doc(5L, tA), doc(6L, tC), doc(7L, tD))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b1.coalesce(1).write.mode("overwrite").parquet(s"$in/f1")
    b2.coalesce(1).write.mode("overwrite").parquet(s"$in/f2")
    def stage(src: String, name: String, ts: Long): Unit = {
      val part = new java.io.File(s"$in/$src").listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(in, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
    }
    stage("f1", "b1.parquet", 1000000000000L)
    stage("f2", "b2.parquet", 1000000100000L)

    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int, Long)]()
    val docs = DocumentStreams.readDocumentStream(spark, in, maxFilesPerTrigger = 1)
    val q = DocumentStreams.streamingBloomDedup(docs, groups = 4, expectedItems = 1000L)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Int, Long, Long, Int)], id: Long) =>
        batch.collect().foreach(r => out.add((r._1, r._2, r._3, r._4, id)))
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()

    import scala.jdk.CollectionConverters._
    val rows = out.asScala.toSeq.sortBy(_._2)
    // no false negatives: both the in-batch dup (2) and the CROSS-batch
    // dup (5) are dropped; all four novel docs admitted (fpp ~1e-3 at
    // this fill, and the hash set is deterministic, so exact equality
    // is stable)
    assert(rows.map(_._2) == Seq(1L, 3L, 6L, 7L), s"admitted: $rows")
    // state is the filter's bit array: same size in every batch it appears
    val sizes = rows.map(_._4).distinct
    assert(sizes.size == 1 && sizes.head > 0, s"state sizes must be constant: $rows")
    // cumulative admitted counts are per-group monotone
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val cums = rs.sortBy(_._2).map(_._3)
      assert(cums == cums.sorted && cums.distinct == cums, s"group $g cums: $cums")
    }
  }
}
