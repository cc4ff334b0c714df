package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[IvfIndex.searchIndexLiveAdaptive]] — per-query probe depth from the
  * spherical stop bound. Contracts 1 and 2 run on indexes with empty
  * channels, where the walk reads base cells only. Contracts:
  *
  *  1. STOP-RULE MECHANISM (synthetic 2-D geometry, hand-checkable): an
  *     easy query stops after ONE cell because the other cell's
  *     best-possible-member bound cannot beat its k-th found similarity;
  *     a between-clusters query is FORCED past the first cell because
  *     the bound stays above its k-th — depth follows the data;
  *  2. STOP-RULE SOUNDNESS: whenever the walk reports stoppedByBound,
  *     the returned top-k is row-identical to the exact full scan —
  *     the bound is an upper bound on any unvisited member's cosine,
  *     so stopping early never changes the answer;
  *  3. LIVE chunked-merge parity: with churn in both channels (an
  *     upsert that MOVES a vector across cells, a tombstone, a
  *     re-upsert over the tombstone) the exhausted adaptive walk is
  *     row-identical to the exact brute force over the live LWW view —
  *     version resolution survives chunk boundaries.
  */
class AdaptiveProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def v(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat)
  }
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Two tight clusters 90° apart; even ids hug 0°, odd ids hug 90°, so
    * the deterministic k-means seeds (lowest two ids) land one per
    * cluster and Lloyd converges to the cluster means.
    */
  private def twoClusters(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val a = (0 until 10).map(i => ((2 * i).toLong, v(2.0 * i)))
    val b = (0 until 10).map(i => ((2 * i + 1).toLong, v(90.0 + 2.0 * i)))
    (a ++ b).toDF("vec_id", "embedding")
  }

  test("mechanism: an easy query stops after one cell; a between-clusters query is " +
    "forced deeper — and both answers equal the exact full scan") {
    val dir = tmp("adaptive-2d")
    try {
      val emb = twoClusters()
      IvfIndex.build(emb, dir, k = 2, iters = 3)
      IvfIndex.saveCellRadii(spark, dir)
      // easy: inside cluster A — after its cell, the other cell's bound
      // (cos(~90° − r) ≈ 0) is hopeless against k-th ≈ cos(18°)
      val easy = IvfIndex.searchIndexLiveAdaptive(spark, dir, v(1.0), k = 5,
        minProbe = 1, probeStep = 1, probeCap = 2)
      assert(easy.stoppedByBound, "easy query must stop by bound")
      assert(easy.probed.length == 1, s"easy query should read ONE cell, read ${easy.probed}")
      val exactEasy = rows(IvfIndex.searchIndex(spark, dir, v(1.0), k = 5, nprobe = 2))
      assert(rows(easy.result) == exactEasy, "early stop changed the answer")
      // hard: at 55° the nearer cell (B, bound ≈ cos(35°) ≈ 0.82) goes
      // first, but its 5th-best member (cos(43°) ≈ 0.73) cannot beat
      // cell A's bound (≈ cos(37°) ≈ 0.80) — the walk must continue
      val hard = IvfIndex.searchIndexLiveAdaptive(spark, dir, v(55.0), k = 5,
        minProbe = 1, probeStep = 1, probeCap = 2)
      assert(hard.probed.length == 2, s"between-clusters query must probe both cells, got ${hard.probed}")
      val exactHard = rows(IvfIndex.searchIndex(spark, dir, v(55.0), k = 5, nprobe = 2))
      assert(rows(hard.result) == exactHard)
    } finally rm(dir)
  }

  test("soundness at gate SF: every stoppedByBound answer is row-identical to the exact " +
    "full scan — including on near-isotropic data where the bound never bites early") {
    import spark.implicits._
    val dir = tmp("adaptive-sf")
    try {
      val emb = Tables.t(spark, sfDir, "embeddings")
      IvfIndex.build(emb, dir, k = 16, iters = 2)
      IvfIndex.saveCellRadii(spark, dir)
      val panel = emb.filter(col("vec_id") < 8L)
        .select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect().toMap
      panel.foreach { case (qid, qe) =>
        val got = IvfIndex.searchIndexLiveAdaptive(spark, dir, qe, k = 10,
          minProbe = 2, probeStep = 2, probeCap = 16, excludeId = Some(qid))
        // these 64-dim near-isotropic cells have ~90° radii, so the
        // spherical bound saturates at ~1 and a sub-1 k-th can never
        // clear it: the walk must run to exhaustion (probed = all 16),
        // which IS stoppedByBound (full scan) — and must be EXACT.
        // Early-stop liveness is owned by the synthetic-geometry test
        // above; on this data asserting an early stop would pin a
        // property the geometry genuinely lacks.
        assert(got.stoppedByBound && got.probed.length == 16,
          s"q$qid: expected exhaustion on isotropic cells, got ${got.probed.length} cells")
        val exact = rows(IvfIndex.searchIndex(spark, dir, qe, k = 10, nprobe = 16,
          excludeId = Some(qid)))
        assert(rows(got.result) == exact,
          s"q$qid: exhausted walk differs from the full scan")
      }
    } finally rm(dir)
  }

  test("live chunked merge: upsert-moved vectors, tombstones, and re-upserts resolve " +
    "identically across chunk boundaries — exhausted walk equals the exact LWW view") {
    import spark.implicits._
    val dir = tmp("adaptive-live")
    try {
      val emb = Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")
      val cents = IvfIndex.build(emb, dir, k = 16, iters = 2)
      IvfIndex.saveCellRadii(spark, dir)
      // churn: vec 3 MOVES (re-upserted with vec 450's embedding — almost
      // surely a different cell), vec 5 dies, vec 7 dies then resurfaces
      val e450 = emb.filter(col("vec_id") === 450L).select("embedding").as[Array[Float]].head()
      val moved = Seq((3L, e450)).toDF("vec_id", "embedding")
      graft.streaming.IndexStreams.upsertBatch(moved, 0L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(5L, 7L), 1L, dir)
      graft.streaming.IndexStreams.upsertBatch(
        emb.filter(col("vec_id") === 7L), 2L, dir, cents)
      val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
      // exhaust all cells in 3-cell chunks: the result must equal the
      // exact top-k over the live LWW view (base ∪ channel − tombstones)
      val got = IvfIndex.searchIndexLiveAdaptive(spark, dir, qe, k = 20,
        minProbe = 3, probeStep = 3, probeCap = 16, excludeId = Some(0L))
      assert(got.probed.length == 16 || got.stoppedByBound)
      import graft.functions.VectorFunctions.cosine_similarity
      val live = emb.filter(!col("vec_id").isin(3L, 5L, 7L))
        .unionByName(moved)
        .unionByName(emb.filter(col("vec_id") === 7L))
      val exact = live.filter(col("vec_id") =!= 0L)
        .select(col("vec_id"),
          round(cosine_similarity(col("embedding"),
            array(qe.toSeq.map(lit): _*)), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(20)
      if (got.probed.length == 16)
        assert(rows(got.result) == rows(exact),
          "exhausted adaptive walk differs from the exact live LWW top-k")
      else
        assert(rows(got.result) == rows(exact),
          "stoppedByBound live walk differs from the exact live LWW top-k")
    } finally rm(dir)
  }
}
