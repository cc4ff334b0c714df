package graft.streaming

import graft.SparkSpec
import graft.ops.{IvfIndex, Tables}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Deletes in the live IVF index — the churn story s24's upserts left
  * open. Contracts pinned here:
  *
  *  1. merge-on-read, LAST WRITER WINS by epoch: a tombstone kills
  *     same-id rows from the base and from batches at-or-before it; a
  *     re-upsert in a LATER epoch resurfaces the id — and the cluster
  *     partition prune survives the anti-join (in-plan check);
  *  2. tombstone replay is idempotent (overwrite-own-partition, the
  *     upsert channel's contract applied to deletes);
  *  3. an epoch that lands both upserts ([[IndexStreams.upsertBatch]])
  *     and deletes ([[IndexStreams.tombstoneBatch]]) serves both sides,
  *     and a delete-only epoch leaves no empty upsert partition;
  *  4. compaction folds base + upserts − tombstones into a fresh
  *     generation with EXACTLY one row per id, search results are
  *     row-identical before and after, the marker advances, and replay
  *     is idempotent;
  *  5. vacuum retention: retain=2 keeps the previous generation for
  *     in-flight readers; retain=1 reclaims it plus the consumed
  *     batch dirs, and search still serves the compacted corpus.
  */
class IndexTombstoneSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Base = vec_id >= 100; batches 0/1 stream in 0..99; batch 2 deletes
    * 1,2,3 (streamed) + 105 (base); batch 3 re-upserts 1.
    */
  private def churnedIndex(
      idxDir: String = Files.createTempDirectory("graft-ivf-tomb-spec").toString
  ): (org.apache.spark.sql.DataFrame, String, Array[Float]) = {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    IvfIndex.build(emb.filter(col("vec_id") >= 100), idxDir, k = 16, iters = 2)
    val cents = IvfIndex.loadCentroids(spark, idxDir)
    IndexStreams.upsertBatch(emb.filter(col("vec_id") < 50), 0L, idxDir, cents)
    IndexStreams.upsertBatch(
      emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), 1L, idxDir, cents)
    IndexStreams.tombstoneBatch(spark, Seq(1L, 2L, 3L, 105L), 2L, idxDir)
    IndexStreams.upsertBatch(emb.filter(col("vec_id") === 1L), 3L, idxDir, cents)
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    (emb, idxDir, qe)
  }

  private def topIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  test("merge-on-read LWW: deleted base and stream ids vanish, a later re-upsert " +
    "resurfaces, and the partition prune survives the anti-join") {
    val (emb, idxDir, qe) = churnedIndex()
    // search wide enough to see everything: k = corpus size
    val all = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 600, nprobe = 16)
    val ids = topIds(all).toSet
    assert(!ids.contains(2L) && !ids.contains(3L), "deleted streamed ids still served")
    assert(!ids.contains(105L), "deleted base id still served")
    assert(ids.contains(1L), "re-upserted id did not resurface")
    assert(topIds(all).size == ids.size, "duplicate rows served for one vec_id")
    // prune intact on a narrow search
    val narrow = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 10, nprobe = 4,
      excludeId = Some(0L))
    val plan = narrow.queryExecution.executedPlan.toString
    // LWW-before-prune plan shape: the corpus-scale BASE scan keeps the
    // partition-level cluster prune; the bounded channel is scanned whole
    // (a re-upsert may have moved a vector between cells, so pruning it
    // pre-LWW could serve a stale base row) and the probe prune re-applies
    // AFTER the max_by merge as a struct-field filter.
    val inLists = "cluster#\\d+L? IN \\(([^)]*)\\)".r.findAllMatchIn(plan).toSeq
    assert(inLists.nonEmpty, s"expected cluster IN prune on the base scan:\n$plan")
    assert("\\.cluster IN \\(".r.findFirstIn(plan).nonEmpty,
      s"expected the post-LWW probe prune on the merged view:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"tombstone merge must broadcast, not shuffle:\n$plan")
  }

  test("upsert-over-upsert without an intervening tombstone serves the id ONCE, " +
    "by its latest version") {
    val (emb, idxDir, qe) = churnedIndex()
    // vec 10 was upserted in batch 0; land it again in batch 4 with a
    // DIFFERENT embedding (vec 200's), no tombstone in between
    val cents = IvfIndex.loadCentroids(spark, idxDir)
    val moved = emb.filter(col("vec_id") === 200L)
      .select(lit(10L).as("vec_id"), col("embedding"), col("label"))
    IndexStreams.upsertBatch(moved, 4L, idxDir, cents)
    val all = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 600, nprobe = 16)
    val rows = all.collect()
    assert(rows.count(_.getLong(0) == 10L) <= 1,
      "re-upserted id served twice — LWW must resolve upsert-over-upsert")
    // the served score must be the LATEST embedding's (vec 200's), not batch 0's
    val got10 = rows.collectFirst { case r if r.getLong(0) == 10L => r.getDouble(1) }
    val got200 = rows.collectFirst { case r if r.getLong(0) == 200L => r.getDouble(1) }
    assert(got10.nonEmpty, "re-upserted id 10 not served at all")
    assert(got10 == got200,
      s"id 10 served at stale score $got10, its latest (vec-200) version scores $got200")
  }

  test("tombstone replay is idempotent: re-landing batch 2 changes nothing") {
    val (_, idxDir, qe) = churnedIndex()
    val before = topIds(IvfIndex.searchIndexLive(spark, idxDir, qe, k = 600, nprobe = 16))
    IndexStreams.tombstoneBatch(spark, Seq(1L, 2L, 3L, 105L), 2L, idxDir)
    val after = topIds(IvfIndex.searchIndexLive(spark, idxDir, qe, k = 600, nprobe = 16))
    assert(before == after, "tombstone replay changed the served corpus")
    assert(spark.read.parquet(s"$idxDir/tombstones").count() == 4L,
      "replay appended tombstones instead of overwriting its own batch")
  }

  test("one epoch lands both sides: its upserts are served and its delete applies") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = Files.createTempDirectory("graft-ivf-ops").toString
    IvfIndex.build(emb.filter(col("vec_id") >= 100), idxDir, k = 16, iters = 2)
    // epoch 0: upserts 0..49 AND a delete of base id 105
    IndexStreams.upsertBatch(emb.filter(col("vec_id") < 50), 0L, idxDir,
      IvfIndex.loadCentroids(spark, idxDir))
    IndexStreams.tombstoneBatch(spark, Seq(105L), 0L, idxDir)
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    val ids = topIds(IvfIndex.searchIndexLive(spark, idxDir, qe, k = 600, nprobe = 16)).toSet
    assert(ids.contains(5L), "streamed upsert not served")
    assert(!ids.contains(105L), "streamed delete not applied")
  }

  test("a DELETE-ONLY epoch leaves no empty stream partition behind and search " +
    "still works (the schema-inference trap)") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = Files.createTempDirectory("graft-ivf-delonly").toString
    IvfIndex.build(emb, idxDir, k = 16, iters = 2)
    // one epoch holding ONLY deletes: its upsert side is an empty batch
    IndexStreams.upsertBatch(emb.filter(lit(false)), 0L, idxDir,
      IvfIndex.loadCentroids(spark, idxDir))
    IndexStreams.tombstoneBatch(spark, Seq(105L), 0L, idxDir)
    assert(!new java.io.File(s"$idxDir/stream_assignment").exists() ||
      new java.io.File(s"$idxDir/stream_assignment").list().forall(!_.startsWith("batch=")) ||
      new java.io.File(s"$idxDir/stream_assignment").listFiles()
        .filter(_.getName.startsWith("batch=")).forall(_.list().exists(_.endsWith(".parquet"))),
      "a rowless batch partition was written")
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    val ids = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 600, nprobe = 16)
      .collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && !ids.contains(105L), "delete-only epoch not applied or search broke")
  }

  test("compaction: fresh generation holds exactly one row per live id, search is " +
    "row-identical across it, the marker advances, and replay is idempotent") {
    val (emb, idxDir, qe) = churnedIndex()
    val before = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 10, nprobe = 6,
      excludeId = Some(0L)).collect().map(_.toString).toSeq
    // a marker with a .crc, as Hadoop's checksummed local FS writes it:
    // the compaction's publish must not leave that checksum stale for
    // readLiveState, which reads through the same FS
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val marker = local.create(new org.apache.hadoop.fs.Path(idxDir, "_LIVE_STATE"), true)
    try marker.write("0 -1".getBytes) finally marker.close()
    assert(Files.exists(java.nio.file.Paths.get(idxDir, "._LIVE_STATE.crc")))
    assert(IvfIndex.readLiveState(spark, idxDir) == IvfIndex.LiveState(0L, -1L))
    val st1 = IvfIndex.compactLiveIndex(spark, idxDir)
    assert(st1 == IvfIndex.LiveState(1L, 3L), s"unexpected post-compact state $st1")
    assert(IvfIndex.readLiveState(spark, idxDir) == st1)
    val gen1 = spark.read.parquet(IvfIndex.liveBaseDir(idxDir, 1L))
    assert(gen1.count() == gen1.select("vec_id").distinct().count(),
      "compacted generation holds duplicate ids")
    val genIds = gen1.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!genIds.contains(2L) && !genIds.contains(105L) && genIds.contains(1L))
    val after = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 10, nprobe = 6,
      excludeId = Some(0L)).collect().map(_.toString).toSeq
    assert(before == after, s"compaction changed search results\nbefore: $before\nafter:  $after")
    // nothing pending => compaction is a no-op returning the same state
    assert(IvfIndex.compactLiveIndex(spark, idxDir) == st1)
  }

  test("a compaction whose _LIVE_STATE publish fails throws; the marker still names the prior generation") {
    graft.FaultFs.bind(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft-ivf-fault-spec")
    val (_, idxDir, _) = churnedIndex(graft.FaultFs.uri(local))
    val st1 = IvfIndex.compactLiveIndex(spark, idxDir)
    assert(st1 == IvfIndex.LiveState(1L, 3L))
    IndexStreams.tombstoneBatch(spark, Seq(4L), 4L, idxDir)
    val e = intercept[Exception] {
      graft.FaultFs.failingRenamesTo(local.resolve("_LIVE_STATE"))(IvfIndex.compactLiveIndex(spark, idxDir))
    }
    assert(e.getMessage.contains("_LIVE_STATE"), e.getMessage)
    val litter = local.toFile.list().filter(n => n.startsWith(".") && n.endsWith(".tmp"))
    assert(litter.isEmpty, s"the failed publish left its temp file: ${litter.toSeq}")
    assert(IvfIndex.readLiveState(spark, idxDir) == st1)
    assert(IvfIndex.compactLiveIndex(spark, idxDir) == IvfIndex.LiveState(2L, 4L), "the retry publishes")
  }

  test("vacuum retention: retain=2 keeps the previous generation; retain=1 reclaims " +
    "it plus the consumed batch dirs and search still serves the compacted corpus") {
    val (emb, idxDir, qe) = churnedIndex()
    val before = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 10, nprobe = 6,
      excludeId = Some(0L)).collect().map(_.toString).toSeq
    IvfIndex.compactLiveIndex(spark, idxDir)
    val kept = IvfIndex.vacuumLiveIndex(spark, idxDir, retainGenerations = 2)
    assert(kept.forall(n => !n.startsWith("assignment")),
      s"retain=2 must keep the previous generation, deleted $kept")
    assert(new java.io.File(s"$idxDir/assignment").exists(), "gen 0 gone at retain=2")
    val gone = IvfIndex.vacuumLiveIndex(spark, idxDir, retainGenerations = 1)
    assert(gone.contains("assignment"), s"retain=1 must reclaim gen 0, deleted $gone")
    assert(!new java.io.File(s"$idxDir/assignment").exists())
    // consumed channels reclaimed by the retain=2 pass already
    assert(!new java.io.File(s"$idxDir/stream_assignment/batch=0").exists())
    assert(!new java.io.File(s"$idxDir/tombstones/batch=2").exists())
    val after = IvfIndex.searchIndexLive(spark, idxDir, qe, k = 10, nprobe = 6,
      excludeId = Some(0L)).collect().map(_.toString).toSeq
    assert(before == after, "vacuum changed what search serves")
    intercept[IllegalArgumentException] {
      IvfIndex.vacuumLiveIndex(spark, idxDir, retainGenerations = 0)
    }
  }
}
