package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Generation safety for the graph-index rebuilds (the round-16 verdict's
  * durability hole, closed with the IvfIndex machinery): rebuilds write
  * `cells_g<n+1>` + `centroids_g<n+1>` COMPLETELY and only then
  * atomically publish the shared `_LIVE_STATE` marker, and every cells /
  * channel read resolves through that marker. Pinned seams:
  *
  *  1. KILL MID-REBUILD: a partial, garbage `cells_g1`/`centroids_g1`
  *     with no marker flip is INVISIBLE — serving is bit-identical to
  *     the pre-"crash" live view;
  *  2. the real rebuild then publishes gen 1 and serves the folded
  *     corpus (bit-identical to a fresh build — NswLiveInsertSpec owns
  *     that contract; here we pin the marker + layout);
  *  3. KILL BETWEEN FLIP AND CHANNEL DELETE: a leftover consumed
  *     tombstone batch (id ≤ consumedThrough) must NOT re-kill the
  *     folded survivor it once named — the window excludes it.
  */
class NswGenerationSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.t(spark, sfDir, "embeddings")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  private def qe(id: Long): Array[Float] = {
    import spark.implicits._
    emb.filter(col("vec_id") === id).select("embedding").as[Array[Float]].head()
  }
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("kill-seam: an unpublished partial cells_g1 is invisible; the flip is atomic; " +
    "a leftover consumed tombstone cannot double-apply") {
    val dir = tmp("nsw-gen")
    try {
      // gen 0 + churn: 100 pending inserts, 2 deletes (one base, one pending)
      val base = emb.filter(col("vec_id") >= 100)
      val cents = NswIndex.build(base, dir, k = 16, iters = 2, m = 8, efC = 32)
      NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(7L, 105L), 1L, dir)
      val before = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48))

      // 1. CRASH MID-REBUILD: a half-written next generation exists on
      // disk (garbage cells + garbage centroids) but the marker never
      // flipped — serving must not change by a bit
      emb.filter(col("vec_id") >= 400)
        .select(col("vec_id"), col("embedding"), lit(0L).as("meta"), lit(0).as("cluster"))
        .write.partitionBy("cluster").parquet(s"$dir/cells_g1")
      emb.limit(16).select(col("vec_id").cast("int").as("cluster"),
        col("embedding").as("centroid")).write.parquet(s"$dir/centroids_g1")
      val duringCrash = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      assert(duringCrash == before,
        s"partial unpublished generation changed serving\nbefore: $before\nafter:  $duringCrash")

      // 2. the real rebuild overwrites the garbage generation and flips
      val cents2 = NswIndex.rebuildLive(spark, dir, k = 16, iters = 2, m = 8, efC = 32)
      val st = IvfIndex.readLiveState(spark, dir)
      assert(st.gen == 1L, s"rebuild must publish generation 1, got $st")
      assert(st.consumedThrough == 1L, s"rebuild must consume through epoch 1, got $st")
      val served = rows(NswIndex.searchFrame(spark, dir, cents2, qe(0L), 0L, 10, 16, 48))
      assert(!served.exists(r => r._1 == 7L || r._1 == 105L), "tombstoned ids survived the fold")
      assert(served.exists(_._1 < 100L), "folded pending inserts not served from gen 1")
      // centroids resolve through the marker: gen-1 geometry, not the garbage
      val loaded = IvfIndex.loadCentroids(spark, dir)
      assert(loaded.map(_._1).toSeq == cents2.map(_._1).toSeq &&
        loaded.zip(cents2).forall { case ((_, a), (_, b)) => a.sameElements(b) },
        "loadCentroids did not resolve the published generation's geometry")

      // 3. CRASH BETWEEN FLIP AND CHANNEL DELETE: re-land the consumed
      // tombstone batch (epoch 1 ≤ consumedThrough) naming a vec the
      // fold already judged — serving must ignore it entirely
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(served.head._1), 1L, dir)
      val afterLeftover = rows(NswIndex.searchFrameLive(spark, dir, cents2, qe(0L), 0L, 10, 16, 48))
      assert(afterLeftover == served,
        s"a consumed tombstone batch re-applied against the folded generation\n" +
          s"served: $served\nafter:  $afterLeftover")
    } finally rm(dir)
  }

  test("rebuildTombstoned refuses an index with unconsumed pending inserts — it folds " +
    "only cells − tombstones and advancing consumedThrough would drop them silently") {
    val dir = tmp("nsw-gen-refuse")
    try {
      val cents = NswIndex.build(emb.filter(col("vec_id") >= 100), dir,
        k = 16, iters = 2, m = 8, efC = 32)
      NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(105L), 1L, dir)
      val ex = intercept[IllegalArgumentException] {
        NswIndex.rebuildTombstoned(spark, dir, k = 16, iters = 2, m = 8, efC = 32)
      }
      assert(ex.getMessage.contains("rebuildLive"), ex.getMessage)
      // the refusing call changed nothing: still gen 0, channels intact
      assert(IvfIndex.readLiveState(spark, dir).gen == 0L)
      assert(new java.io.File(s"$dir/pending").exists())
      // the fold that owns both channels succeeds
      NswIndex.rebuildLive(spark, dir, k = 16, iters = 2, m = 8, efC = 32)
      assert(IvfIndex.readLiveState(spark, dir).gen == 1L)
    } finally rm(dir)
  }

  test("a fresh build over a lived dir publishes the NEXT generation with consumedThrough " +
    "past every leftover batch — a leftover consumed tombstone cannot re-apply") {
    val dir = tmp("nsw-gen-freshchan")
    try {
      // life 1: churn + rebuild, then simulate the crash-before-delete
      // leftover by re-landing the consumed tombstone batch
      val cents = NswIndex.build(emb.filter(col("vec_id") >= 100), dir,
        k = 16, iters = 2, m = 8, efC = 32)
      NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(7L), 1L, dir)
      NswIndex.rebuildLive(spark, dir, k = 16, iters = 2, m = 8, efC = 32)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(7L), 1L, dir) // the leftover
      // life 2: a FRESH build over the same dir publishes gen 2 behind
      // the atomic flip; the channel deletes after it are pure hygiene
      val cents2 = NswIndex.build(emb, dir, k = 16, iters = 2, m = 8, efC = 32)
      val st = IvfIndex.readLiveState(spark, dir)
      assert(st.gen == 2L, s"fresh build over a lived dir must publish the next generation, got $st")
      assert(st.consumedThrough >= 1L,
        s"fresh build must advance consumedThrough past the leftover epoch, got $st")
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        "fresh build must delete leftover channels after the flip")
      // vec 7 is alive in the fresh index: the stale epoch-1 tombstone is
      // gone AND inside the published window — it could not kill even if
      // a crash had left it on disk
      val got = rows(NswIndex.searchFrameLive(spark, dir, cents2, qe(7L), 7L, 600, 16, 48))
      val all = rows(NswIndex.searchFrameLive(spark, dir, cents2, qe(0L), 0L, 600, 16, 48))
      assert(all.exists(_._1 == 7L),
        "a leftover consumed tombstone re-applied against the fresh index")
      assert(got.nonEmpty)
    } finally rm(dir)
  }

  test("kill-seam: a fresh build over a dir with UNCONSUMED churn — the flip excludes the " +
    "leftover epochs, and a crash-surviving unconsumed batch cannot apply to the new gen") {
    val dir = tmp("nsw-gen-unconsumed")
    try {
      val cents = NswIndex.build(emb.filter(col("vec_id") >= 100), dir,
        k = 16, iters = 2, m = 8, efC = 32)
      // UNCONSUMED churn: pending inserts at epoch 0, a tombstone at
      // epoch 1 — no rebuild ever folds them
      NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(105L), 1L, dir)
      // the fresh build replaces the corpus wholesale; epoch 0/1 churn
      // described the OLD life and must not leak into the new one
      val cents2 = NswIndex.build(emb, dir, k = 16, iters = 2, m = 8, efC = 32)
      val st = IvfIndex.readLiveState(spark, dir)
      assert(st.gen == 1L, s"expected the next generation, got $st")
      assert(st.consumedThrough >= 1L,
        s"consumedThrough must cover the unconsumed leftovers, got $st")
      // simulate the crash between flip and channel delete: the epoch-1
      // tombstone survives on disk — the published window excludes it
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(105L), 1L, dir)
      val all = rows(NswIndex.searchFrameLive(spark, dir, cents2, qe(105L), -1L, 600, 16, 48))
      assert(all.exists(_._1 == 105L),
        "an old-life unconsumed tombstone applied against the fresh generation")
    } finally rm(dir)
  }

  test("a fresh build over a VIRGIN dir stays generation 0 (no marker, plain cells dir)") {
    val dir = tmp("nsw-gen-virgin")
    try {
      val cents = NswIndex.build(emb, dir, k = 16, iters = 2, m = 8, efC = 32)
      assert(IvfIndex.readLiveState(spark, dir) == IvfIndex.LiveState(0L, -1L))
      assert(new java.io.File(s"$dir/cells").exists())
      val got = rows(NswIndex.searchFrame(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      assert(got.nonEmpty)
    } finally rm(dir)
  }
}
