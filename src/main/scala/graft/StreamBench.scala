package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TrainingShards
import graft.streaming.DocumentStreams

/** End-to-end STREAMING throughput measurement: drop-folder parquet →
  * incremental curation (cross-batch content-hash dedup state + quality
  * floors) → native `graft-shards` streaming write, with a compaction
  * between the two write phases (exercising the layout-generation
  * contract under load) and a fresh tailer draining the compacted
  * corpus at the end. Prints ONE JSON line:
  * docs/s for the initial load, the incremental (post-compaction
  * resume) phase, and the tail drain, plus the dedup state store's row
  * count and memory footprint from the final progress — the numbers
  * that say whether the streaming rung keeps up with the batch engine
  * at the 10x fixture (`scripts/make_scale.py`), recorded in
  * `stream_throughput.json`.
  *
  * Run: SPARK_GRAFT_SF_DIR=/tmp/scale10 sbt "runMain graft.StreamBench"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/scale10")
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val total = docs.count()
    val cut = (total * 8) / 10 // 80% initial load, 20% incremental arrivals

    val drop = Files.createTempDirectory("graft-stream-drop").toString
    val out = Files.createTempDirectory("graft-stream-shards").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    docs.where(col("doc_id") % 10 < 8).repartition(8).write.mode("append").parquet(drop)

    // ONE extraction of the progress summary (input rows + final state
    // size) shared by every phase — recentProgress semantics (e.g. its
    // retention cap undercounting numInputRows sums on very long runs)
    // must change in one place, not per phase.
    def progressSummary(q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long, Long) = {
      val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .lastOption.getOrElse(0L)
      val stateBytes = q.recentProgress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
        .lastOption.getOrElse(0L)
      val rows = q.recentProgress.map(_.numInputRows).sum
      (rows, stateRows, stateBytes)
    }

    def runPhase(): (Double, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val q = DocumentStreams.curatedShardStreamNative(
        DocumentStreams.readDocumentStream(spark, drop, maxFilesPerTrigger = 2),
        out, ckpt).start()
      q.processAllAvailable()
      val (rows, stateRows, stateBytes) = progressSummary(q)
      q.stop()
      ((System.nanoTime() - t0) / 1e9, rows, stateRows, stateBytes)
    }

    val (loadSec, loadRows, _, _) = runPhase()

    // compaction between the phases: re-lands every shard under a new
    // name and double-bumps the layout generation
    val tC0 = System.nanoTime()
    TrainingShards.compact(spark, out, maxDocsPerShard = 200000L)
    val compactSec = (System.nanoTime() - tC0) / 1e9

    // late arrivals resume the SAME checkpoint (dedup state intact)
    docs.where(col("doc_id") % 10 >= 8).repartition(2).write.mode("append").parquet(drop)
    val (incSec, incRows, stateRows, stateBytes) = runPhase()

    // Bloom-dedup rung over the SAME drop folder from a fresh
    // checkpoint: bounded-state cross-batch dedup (one fixed-size
    // filter per group vs the exact rung's row-per-distinct-hash) —
    // the knob an unbounded crawl reaches for. Measured beside the
    // exact phases so the artifact shows the state-size trade at the
    // same corpus.
    val tB0 = System.nanoTime()
    val bloomCkpt = Files.createTempDirectory("graft-stream-bloomckpt").toString
    // foreachBatch runs on the stream-execution thread; the adder makes
    // the cross-thread accumulation explicit rather than leaning on
    // processAllAvailable's lock for the happens-before edge
    val bloomRows = new java.util.concurrent.atomic.LongAdder
    val bq = DocumentStreams.streamingBloomDedup(
        DocumentStreams.readDocumentStream(spark, drop, maxFilesPerTrigger = 2))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", bloomCkpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Int, Long, Long, Int)], _: Long) =>
        bloomRows.add(b.count())
      }
      .start()
    bq.processAllAvailable()
    val (bloomInput, bloomStateRows, bloomStateBytes) = progressSummary(bq)
    bq.stop()
    val bloomSec = (System.nanoTime() - tB0) / 1e9

    // fresh tailer drains the compacted corpus
    val tT0 = System.nanoTime()
    val tailCkpt = Files.createTempDirectory("graft-stream-tailckpt").toString
    val tailRows = new java.util.concurrent.atomic.LongAdder
    val tq = TrainingShards.readStream(spark, out, docs.schema)
      .writeStream
      .option("checkpointLocation", tailCkpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        tailRows.add(b.count())
      }
      .start()
    tq.processAllAvailable(); tq.stop()
    val tailSec = (System.nanoTime() - tT0) / 1e9

    // ---- FULL LOOP: ingest → curate → shard → tail → index upsert,
    // writer and tailer live CONCURRENTLY over fresh state — the whole
    // streaming story as one measured pipeline. The index GEOMETRY is
    // bootstrapped before the clock starts (IvfIndex.bootstrap on a 2%
    // sample's hashed embeddings — index builds are batch events in
    // production too); every data vector then reaches the index through
    // the stream: drop-folder docs are curated and landed as shards by
    // the native streaming write, a manifest tailer runs CONCURRENTLY
    // (default trigger) and each tailed batch is featurized
    // (DocumentStreams.hashedEmbeddings) and folded into the live IVF
    // index by IndexStreams.upsertBatch. docs/s is curated docs through
    // the WHOLE loop (drop to index-landed), not per stage.
    val loopDrop = Files.createTempDirectory("graft-loop-drop").toString
    val loopOut = Files.createTempDirectory("graft-loop-shards").toString
    val loopCkpt = Files.createTempDirectory("graft-loop-ckpt").toString
    val loopTailCkpt = Files.createTempDirectory("graft-loop-tailckpt").toString
    val loopIdx = Files.createTempDirectory("graft-loop-idx").toString
    docs.repartition(10).write.mode("append").parquet(loopDrop)
    val bootEmb = DocumentStreams.hashedEmbeddings(
      docs.where(col("doc_id") % 50 === 0), dim = 16)
    val loopCents = graft.ops.IvfIndex.bootstrap(bootEmb, loopIdx, k = 16, iters = 2)
    val upserted = new java.util.concurrent.atomic.LongAdder
    val upsertBatches = new java.util.concurrent.atomic.LongAdder
    val tL0 = System.nanoTime()
    val wq = DocumentStreams.curatedShardStreamNative(
      DocumentStreams.readDocumentStream(spark, loopDrop, maxFilesPerTrigger = 2),
      loopOut, loopCkpt).start()
    val uq = TrainingShards.readStream(spark, loopOut, docs.schema)
      .writeStream
      .option("checkpointLocation", loopTailCkpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val emb = DocumentStreams.hashedEmbeddings(b, dim = 16)
        val (rows, _) = graft.streaming.IndexStreams.upsertBatch(emb, batchId, loopIdx, loopCents)
        upserted.add(rows)
        upsertBatches.add(1)
      }
      .start()
    wq.processAllAvailable() // all drops curated + sharded
    uq.processAllAvailable() // tailer drains what the writer landed
    val loopSec = (System.nanoTime() - tL0) / 1e9
    val (loopCurated, loopStateRows, loopStateBytes) = progressSummary(wq)
    wq.stop(); uq.stop()
    val idxRows = spark.read.parquet(s"$loopIdx/stream_assignment").count()

    // ---- CHURN wave on the live loop index (the s33 lifecycle at the
    // loop's scale): tombstone every 7th indexed doc in one epoch (the
    // epoch id sits above every upsert batch, so last-writer-wins reads
    // it as newest), verify merge-on-read serving excludes the deleted
    // ids, COMPACT the index into a fresh generation, vacuum the
    // superseded state, and verify serving is row-identical across the
    // compaction. churn_sec covers the whole wave: delete + serve +
    // compact + vacuum + re-serve.
    val tCh0 = System.nanoTime()
    val delIds = spark.read.parquet(s"$loopIdx/stream_assignment")
      .filter(pmod(col("vec_id"), lit(7L)) === 0L)
      .select("vec_id").distinct().as[Long].collect().toSeq
    graft.streaming.IndexStreams.tombstoneBatch(spark, delIds, 1L << 20, loopIdx)
    val churnQuery = DocumentStreams.hashedEmbeddings(
      docs.where(col("doc_id") === 1L), dim = 16)
      .select("embedding").as[Array[Float]].head()
    def liveTop(): Seq[(Long, Double)] =
      graft.ops.IvfIndex.searchIndexLive(spark, loopIdx, churnQuery, k = 20, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedLive = liveTop()
    val delSet = delIds.toSet
    val liveOk = servedLive.nonEmpty && servedLive.forall(t => !delSet(t._1))
    graft.ops.IvfIndex.compactLiveIndex(spark, loopIdx)
    graft.ops.IvfIndex.vacuumLiveIndex(spark, loopIdx, retainGenerations = 1)
    val servedCompacted = liveTop()
    val churnOk = liveOk && servedCompacted == servedLive
    val postCompactRows = spark.read.parquet(
      graft.ops.IvfIndex.liveBaseDir(loopIdx, graft.ops.IvfIndex.readLiveState(spark, loopIdx).gen)).count()
    val churnSec = (System.nanoTime() - tCh0) / 1e9
    require(churnOk, "churn wave served a deleted id or compaction changed serving")

    // ---- RETRAIN stage (s44's machinery at the loop's scale): the
    // index has served on BOOTSTRAPPED geometry — k-means from a 2%
    // sample — for the whole loop; re-run k-means on the folded
    // post-churn corpus (IvfIndex.retrainLiveIndex: atomic data +
    // centroid + radii generation flip) and measure what full-corpus
    // geometry buys the SAME query at the SAME nprobe: recall@20 vs
    // the brute-force exact top-20 over the live base, before and
    // after. retrain_sec covers the whole compaction (fold + k-means
    // + reassignment + sidecar publish).
    val exact20: Set[Long] = {
      import graft.functions.VectorFunctions.cosine_similarity
      spark.read.parquet(graft.ops.IvfIndex.liveBaseDir(
          loopIdx, graft.ops.IvfIndex.readLiveState(spark, loopIdx).gen))
        .select(col("vec_id"),
          cosine_similarity(col("embedding"),
            org.apache.spark.sql.functions.array(churnQuery.toSeq.map(lit): _*)).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(20)
        .select("vec_id").as[Long].collect().toSet
    }
    val recallPre = servedCompacted.count(t => exact20(t._1))
    val tR0 = System.nanoTime()
    val retrainedState = graft.ops.IvfIndex.retrainLiveIndex(spark, loopIdx, k = 16, iters = 2)
    val retrainSec = (System.nanoTime() - tR0) / 1e9
    val servedRetrained = liveTop()
    val recallPost = servedRetrained.count(t => exact20(t._1))
    val retrainOk = servedRetrained.nonEmpty &&
      servedRetrained.forall(t => !delSet(t._1)) && recallPost >= recallPre
    require(retrainOk,
      s"retrain regressed serving: recall $recallPre -> $recallPost, gen ${retrainedState.gen}")

    def r1(x: Double): Double = math.round(x * 10.0) / 10.0
    println(
      s"""{"metric":"stream_docs_per_sec","sf":"$sfDir","total_docs":$total,""" +
      s""""load_rows":$loadRows,"load_sec":${r1(loadSec)},"load_docs_per_sec":${r1(loadRows / loadSec)},""" +
      s""""compact_sec":${r1(compactSec)},""" +
      s""""inc_rows":$incRows,"inc_sec":${r1(incSec)},"inc_docs_per_sec":${r1(incRows / incSec)},""" +
      s""""tail_rows":${tailRows.sum()},"tail_sec":${r1(tailSec)},"tail_docs_per_sec":${r1(tailRows.sum() / tailSec)},""" +
      s""""dedup_state_rows":$stateRows,"dedup_state_bytes":$stateBytes,""" +
      s""""bloom_input_rows":$bloomInput,"bloom_admitted":${bloomRows.sum()},"bloom_sec":${r1(bloomSec)},""" +
      s""""bloom_docs_per_sec":${r1(bloomInput / bloomSec)},""" +
      s""""bloom_state_rows":$bloomStateRows,"bloom_state_bytes":$bloomStateBytes,""" +
      s""""loop_input_rows":$loopCurated,"loop_indexed":${upserted.sum()},""" +
      s""""loop_index_rows":$idxRows,"loop_batches":${upsertBatches.sum()},""" +
      s""""loop_sec":${r1(loopSec)},"loop_docs_per_sec":${r1(upserted.sum() / loopSec)},""" +
      s""""loop_dedup_state_rows":$loopStateRows,"loop_dedup_state_bytes":$loopStateBytes,""" +
      s""""churn_deleted":${delIds.size},"churn_ok":$churnOk,""" +
      s""""churn_post_compact_rows":$postCompactRows,"churn_sec":${r1(churnSec)},""" +
      s""""retrain_sec":${r1(retrainSec)},"retrain_gen":${retrainedState.gen},""" +
      s""""retrain_recall20_pre":$recallPre,"retrain_recall20_post":$recallPost,"retrain_ok":$retrainOk}""")
    spark.stop()
  }
}
