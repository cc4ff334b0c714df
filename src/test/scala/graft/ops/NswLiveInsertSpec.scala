package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Live inserts on the graph index (s39): the pending channel serves
  * new vectors exactly until a rebuild folds them into the graph —
  * empty channels are an identity, inserts surface with exact scores
  * through a partition-pruned tail scan, deletes and re-inserts
  * compose last-writer-wins, epoch replay is idempotent, an updated
  * embedding shadows the graph's stale copy, the fold is bit-identical
  * to a fresh build over the equivalent corpus, and a meta-built index
  * refuses inserts that drop its attribute.
  */
class NswLiveInsertSpec extends AnyFunSuite {
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

  test("empty channels: searchFrameLive equals searchFrame bit-for-bit") {
    val dir = tmp("nsw-live-empty")
    try {
      val cents = NswIndex.build(emb, dir, k = 16, iters = 2, m = 8, efC = 32)
      val plain = rows(NswIndex.searchFrame(spark, dir, cents, qe(0L), 0L, 10, 4, 48))
      val live = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 4, 48))
      assert(live == plain, s"live (no channels) drifted from plain\nlive:  $live\nplain: $plain")
    } finally rm(dir)
  }

  test("inserts surface with exact scores; the tail scan is partition-pruned; " +
    "epoch replay is idempotent") {
    val dir = tmp("nsw-live-ins")
    try {
      val base = emb.filter(col("vec_id") >= 100)
      val cents = NswIndex.build(base, dir, k = 16, iters = 2, m = 8, efC = 32)
      val n = NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      assert(n == 100)
      val live = NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48)
      // nprobe=16 probes every cell: the live view must equal the exact
      // top-10 over the FULL corpus (walk covers base exactly at full
      // probe on this fixture, tail scan covers pending exactly)
      val got = rows(live)
      import graft.functions.VectorFunctions.cosine_similarity
      val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("q"))
      val exact = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(q))
        .select(col("vec_id"), round(cosine_similarity(col("embedding"), col("q")), 6).as("c"))
        .orderBy(col("c").desc, col("vec_id")).limit(10)
      val want = rows(exact)
      // pending members of the answer must be present with exact scores
      val wantPending = want.filter(_._1 < 100)
      assert(wantPending.nonEmpty, "fixture sanity: query 0's top-10 must include streamed ids")
      wantPending.foreach { p => assert(got.contains(p), s"pending $p missing from live: $got") }
      got.foreach { case (id, c) =>
        assert(want.toMap.get(id).forall(_ == c), s"claimed score for $id not exact") }
      // the tail arm prunes the pending scan by cluster partition
      val plan = live.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"no partition prune in the live plan:\n$plan")
      // replaying the same epoch re-lands the same rows: results unchanged
      val n2 = NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      assert(n2 == 100)
      assert(rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48)) == got,
        "epoch replay changed the live view")
    } finally rm(dir)
  }

  test("deletes and re-inserts compose last-writer-wins across both arms") {
    import spark.implicits._
    val dir = tmp("nsw-live-lww")
    try {
      val base = emb.filter(col("vec_id") >= 100)
      val cents = NswIndex.build(base, dir, k = 16, iters = 2, m = 8, efC = 32)
      NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      val want = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      val victims = want.take(2).map(_._1) // one from each arm if present
      graft.streaming.IndexStreams.tombstoneBatch(spark, victims, 1L, dir)
      val afterDel = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      victims.foreach { v => assert(!afterDel.exists(_._1 == v), s"deleted $v still served") }
      // re-insert the first victim in a LATER epoch: it resurfaces
      NswIndex.insertBatch(emb.filter(col("vec_id") === victims.head), 2L, dir, cents)
      val afterRe = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      assert(afterRe.exists(_._1 == victims.head), s"re-inserted ${victims.head} did not resurface")
      assert(!afterRe.exists(_._1 == victims(1)), "the other victim must stay dead")
      // insert-then-delete in a later epoch: dead
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(victims.head), 3L, dir)
      val afterDel2 = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      assert(!afterDel2.exists(_._1 == victims.head), "delete after re-insert must win")
    } finally rm(dir)
  }

  test("an updated embedding shadows the graph's stale copy") {
    import spark.implicits._
    val dir = tmp("nsw-live-shadow")
    try {
      val cents = NswIndex.build(emb, dir, k = 16, iters = 2, m = 8, efC = 32)
      // move the exact top-1 neighbour of query 0 to the OPPOSITE of the
      // query vector: the live view must stop serving the stale copy
      val before = rows(NswIndex.searchFrame(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      val moved = before.head._1
      val q0 = qe(0L)
      val updated = Seq((moved, q0.map(x => -x).toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      NswIndex.insertBatch(updated, 0L, dir, cents)
      val after = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 10, 16, 48))
      assert(!after.exists(_._1 == moved),
        s"updated $moved still served from the stale graph copy: $after")
    } finally rm(dir)
  }

  test("rebuildLive folds the channels: bit-identical to a fresh build over the " +
    "equivalent corpus, channels cleared") {
    val dir = tmp("nsw-live-fold")
    val freshDir = tmp("nsw-live-fresh")
    try {
      val base = emb.filter(col("vec_id") >= 100 && col("vec_id") =!= 105L)
      val cents = NswIndex.build(base.unionByName(emb.filter(col("vec_id") === 105L)),
        dir, k = 16, iters = 2, m = 8, efC = 32)
      NswIndex.insertBatch(emb.filter(col("vec_id") < 50), 0L, dir, cents)
      NswIndex.insertBatch(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), 1L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(7L, 105L), 2L, dir)
      NswIndex.insertBatch(emb.filter(col("vec_id") === 7L), 3L, dir, cents)
      val cents2 = NswIndex.rebuildLive(spark, dir, k = 16, iters = 2, m = 8, efC = 32)
      // equivalent corpus: everything except 105 (7 was re-inserted)
      val fresh = NswIndex.build(emb.filter(col("vec_id") =!= 105L), freshDir,
        k = 16, iters = 2, m = 8, efC = 32)
      val a = rows(NswIndex.searchFrame(spark, dir, cents2, qe(0L), 0L, 10, 4, 48))
      val b = rows(NswIndex.searchFrame(spark, freshDir, fresh, qe(0L), 0L, 10, 4, 48))
      assert(a == b, s"fold drifted from fresh build\nfold:  $a\nfresh: $b")
      Seq("pending", "tombstones").foreach { ch =>
        assert(!new java.io.File(s"$dir/$ch").exists(), s"$ch channel not cleared")
      }
      // post-fold live == plain again (clean epoch)
      assert(rows(NswIndex.searchFrameLive(spark, dir, cents2, qe(0L), 0L, 10, 4, 48)) == a)
    } finally { rm(dir); rm(freshDir) }
  }

  test("a re-insert that MOVES a vector out of the probed cells is never served " +
    "from its stale probed-cell row (LWW resolves before the probe prune)") {
    import spark.implicits._
    val dir = tmp("nsw-live-move")
    try {
      val cents = NswIndex.build(emb, dir, k = 16, iters = 2, m = 8, efC = 32)
      val q0 = qe(0L)
      def vecDf(id: Long, v: Array[Float]) = Seq((id, v.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      // epoch 0: a new id lands ON the query vector — top-1 by construction
      NswIndex.insertBatch(vecDf(9999L, q0), 0L, dir, cents)
      val before = rows(NswIndex.searchFrameLive(spark, dir, cents, q0, 0L, 10, 4, 48))
      assert(before.head._1 == 9999L, s"sanity: the planted copy must rank #1: $before")
      // epoch 1: the id MOVES to the antipode — very likely a different
      // cell. Pre-fix, the tail pruned to the probed cells BEFORE the
      // LWW resolution, so the stale epoch-0 row (still sitting in the
      // query's own probed cell) was served at #1 with its stale score.
      NswIndex.insertBatch(vecDf(9999L, q0.map(x => -x)), 1L, dir, cents)
      val after = rows(NswIndex.searchFrameLive(spark, dir, cents, q0, 0L, 10, 4, 48))
      assert(!after.exists(r => r._1 == 9999L && r._2 > 0),
        s"stale pre-move embedding served for 9999: $after")
      assert(after.head._1 != 9999L, s"moved vector must not rank #1: $after")
    } finally rm(dir)
  }

  test("filtered live search: identity on empty channels, LWW on deletes, and a " +
    "re-insert that REWRITES the attribute is judged by the new value") {
    import spark.implicits._
    val dir = tmp("nsw-livef")
    try {
      val cents = NswIndex.build(emb, dir, k = 16, iters = 2, m = 8, efC = 32,
        metaCol = Some("label"))
      def livef() = rows(NswIndex.searchFrameLiveFiltered(spark, dir, cents, qe(0L),
        0L, 10, 16, 48, _ != 3L, Some("label")))
      val static = rows(NswIndex.searchFrameFiltered(spark, dir, cents, qe(0L),
        0L, 10, 16, 48, _ != 3L, Some("label")))
      assert(livef() == static, "filtered live (no channels) drifted from filtered static")
      // delete the top answer: it must leave the filtered live view
      val victim = static.head._1
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(victim), 0L, dir)
      val afterDel = livef()
      assert(!afterDel.exists(_._1 == victim), s"deleted $victim still served filtered")
      // re-insert it with its label REWRITTEN to the excluded value: the
      // LWW meta must keep it out of this predicate's population
      val flipped = emb.filter(col("vec_id") === victim)
        .withColumn("label", lit(3))
      NswIndex.insertBatch(flipped, 1L, dir, cents)
      assert(!livef().exists(_._1 == victim),
        s"$victim re-inserted with label 3 must stay out of the label!=3 view")
      // and under the COMPLEMENT predicate it is served (from the tail,
      // with its new meta)
      val comp = rows(NswIndex.searchFrameLiveFiltered(spark, dir, cents, qe(0L),
        0L, 10, 16, 48, _ == 3L, Some("label")))
      assert(comp.exists(_._1 == victim),
        s"$victim (now label 3) missing from the label==3 view: $comp")
      // rewrite back in a later epoch: resurfaces in the original view
      NswIndex.insertBatch(emb.filter(col("vec_id") === victim), 2L, dir, cents)
      val back = livef()
      val origLabel = emb.filter(col("vec_id") === victim)
        .select("label").head().getInt(0)
      if (origLabel != 3)
        assert(back.exists(_._1 == victim), s"$victim restored but not served: $back")
    } finally rm(dir)
  }

  test("batched live search equals Q independent searchFrameLive calls bit-for-bit " +
    "under the full churn script, and is deterministic") {
    import spark.implicits._
    val dir = tmp("nsw-live-batch")
    try {
      val cents = NswIndex.build(emb.filter(col("vec_id") >= 100), dir,
        k = 16, iters = 2, m = 8, efC = 32)
      NswIndex.insertBatch(emb.filter(col("vec_id") < 50), 0L, dir, cents)
      NswIndex.insertBatch(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), 1L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(7L, 105L), 2L, dir)
      NswIndex.insertBatch(emb.filter(col("vec_id") === 7L), 3L, dir, cents)
      val panel: Map[Long, Array[Float]] = emb.filter(col("vec_id") < 8)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
      def once() = NswIndex.searchFrameManyLive(spark, dir, cents, panel, 10, 4, 48)
      val batch = once()
      val got = batch.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      panel.keys.toSeq.sorted.foreach { qid =>
        val single = rows(NswIndex.searchFrameLive(spark, dir, cents, panel(qid),
          qid, 10, 4, 48))
        val b = got.filter(_._1 == qid).sortBy(_._2).map(t => (t._3, t._4))
        assert(b == single, s"query $qid: batch != single\nbatch:  $b\nsingle: $single")
      }
      // deleted ids never surface; the re-inserted one may
      assert(!got.exists(r => r._3 == 105L), "deleted base id served by the batch")
      assert(once().collect().toSeq == batch.collect().toSeq,
        "searchFrameManyLive must be deterministic")
      // empty channels: the batch degrades to the plain batched walk
      val dir2 = tmp("nsw-live-batch2")
      try {
        val cents2 = NswIndex.build(emb, dir2, k = 16, iters = 2, m = 8, efC = 32)
        val plain = NswIndex.searchFrameMany(spark, dir2, cents2, panel, 10, 4, 48)
          .collect().toSeq
        val live = NswIndex.searchFrameManyLive(spark, dir2, cents2, panel, 10, 4, 48)
          .collect().toSeq
        assert(live == plain, "batched live (no channels) drifted from the plain batch")
      } finally rm(dir2)
    } finally rm(dir)
  }

  test("one epoch's inserts and delete drive the graph channels: both sides " +
    "apply, serving reflects them, and the rebuild folds the epoch's state") {
    val dir = tmp("nsw-ops")
    try {
      val cents = NswIndex.build(emb.filter(col("vec_id") >= 100), dir,
        k = 16, iters = 2, m = 8, efC = 32)
      // epoch 0: inserts 0..49 AND a delete of base id 105
      NswIndex.insertBatch(emb.filter(col("vec_id") < 50), 0L, dir, cents)
      graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(105L), 0L, dir)
      val live = rows(NswIndex.searchFrameLive(spark, dir, cents, qe(0L), 0L, 600, 16, 48))
      val ids = live.map(_._1).toSet
      assert(ids.contains(5L), "streamed graph upsert not served")
      assert(!ids.contains(105L), "streamed graph delete not applied")
      assert(live.size == ids.size, "duplicate rows served for one vec_id")
      val cents2 = NswIndex.rebuildLive(spark, dir, k = 16, iters = 2, m = 8, efC = 32)
      val post = rows(NswIndex.searchFrame(spark, dir, cents2, qe(0L), 0L, 600, 16, 48))
      assert(post.map(_._1).toSet == ids, "the fold changed the served corpus")
    } finally rm(dir)
  }

  test("a meta-built index refuses inserts without its attribute column and " +
    "carries inserted meta through the fold into filtered search") {
    val dir = tmp("nsw-live-meta")
    try {
      val base = emb.filter(col("vec_id") >= 100)
      val cents = NswIndex.build(base, dir, k = 16, iters = 2, m = 8, efC = 32,
        metaCol = Some("label"))
      val bad = intercept[IllegalArgumentException] {
        NswIndex.insertBatch(emb.filter(col("vec_id") < 100).drop("label"), 0L, dir, cents)
      }
      assert(bad.getMessage.contains("label"), bad.getMessage)
      NswIndex.insertBatch(emb.filter(col("vec_id") < 100), 0L, dir, cents)
      val cents2 = NswIndex.rebuildLive(spark, dir, k = 16, iters = 2, m = 8, efC = 32)
      val filtered = NswIndex.searchFramePrefiltered(spark, dir, cents2, qe(0L),
        excludeId = 0L, k = 10, nprobe = 16, metaPred = col("meta") === 3L,
        expectMetaCol = Some("label"))
      val got = filtered.collect().map(_.getLong(0)).toSet
      val labelOf = emb.filter(col("label") === 3).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(got.nonEmpty && got.subsetOf(labelOf),
        s"filtered search after the fold returned non-matching ids: ${got -- labelOf}")
      // inserted ids participate (query 0's neighbourhood was streamed)
      assert(got.exists(_ < 100L), s"no streamed id in the filtered answer: $got")
    } finally rm(dir)
  }
}
