package graft

import org.apache.spark.sql.functions._
import graft.ops.NswIndex

/** Measures what [[graft.ops.NswIndex.searchFrameMany]] exists for: a
  * Q-query panel served as ONE batched job (union of probed cells read
  * once, one walk per routed (cell, query), per-query minK top-k)
  * versus Q sequential single-query [[NswIndex.searchFrame]] calls
  * against the SAME prebuilt index — the serving amortization, isolated
  * from index-build cost (the build happens once, outside both timed
  * paths). Also re-asserts at fixture scale what GraphAnnSpec pins at
  * sf0.001: the batch results are bit-identical per query to the
  * single-query calls.
  *
  * Single-harness discipline: run batch and single from the same JVM
  * invocation, 1 warmup + `Reps` timed reps each, report mins. One JSON
  * line to stdout.
  */
object ScaleBatch {
  private val K = 10
  private val NProbe = 4
  private val Ef = 48
  private val Reps = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = SessionTuning.cpus
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nVectors = emb.count()
    val idxDir = java.nio.file.Files.createTempDirectory("graft-batch").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val panel: Map[Long, Array[Float]] = emb.filter(col("vec_id") < 16)
      .as[(Long, Array[Float])].collect().toMap

    def runBatch(): Map[Long, Seq[(Long, Double)]] =
      NswIndex.searchFrameMany(spark, idxDir, cents, panel, K, NProbe, Ef)
        .collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq)
        .toMap

    def runSingles(): Map[Long, Seq[(Long, Double)]] =
      panel.keys.toSeq.sorted.map { qid =>
        qid -> NswIndex.searchFrame(spark, idxDir, cents, panel(qid), qid, K, NProbe, Ef)
          .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      }.toMap

    def time[A](f: () => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f()
      ((System.nanoTime() - t0) / 1e9, a)
    }

    // warmup (also the equality check), then timed reps
    val warmBatch = runBatch()
    val warmSingle = runSingles()
    require(warmBatch == warmSingle,
      s"batch != singles at $sfDir: ${warmBatch.keySet.filter(q => warmBatch(q) != warmSingle(q))}")
    val batchSecs = (1 to Reps).map(_ => time(() => runBatch())._1)
    val singleSecs = (1 to Reps).map(_ => time(() => runSingles())._1)
    val b = batchSecs.min
    val s = singleSecs.min

    // ---- filtered × batched (s31): the same amortization question under
    // a predicate, one meta-built index, both dispatch regimes ----
    val embL = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val idxDirF = java.nio.file.Files.createTempDirectory("graft-fbatch").toString
    val centsF = NswIndex.build(embL, idxDirF, k = 16, iters = 2, m = 8, efC = 32,
      metaCol = Some("label"))

    def collectBatch(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq)
        .toMap
    def collectSingle(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq

    // selective regime (label = 3): pushed prefilter, all cells probed
    def runPreBatch() = collectBatch(NswIndex.searchFrameManyPrefiltered(
      spark, idxDirF, centsF, panel, K, nprobe = 16,
      metaPred = col("meta") === 3L, expectMetaCol = Some("label")))
    def runPreSingles() = panel.keys.toSeq.sorted.map { qid =>
      qid -> collectSingle(NswIndex.searchFramePrefiltered(spark, idxDirF, centsF,
        panel(qid), qid, K, nprobe = 16, metaPred = col("meta") === 3L,
        expectMetaCol = Some("label")))
    }.toMap
    // permissive regime (label != 3): filtered walks over shared graphs
    def runWalkBatch() = collectBatch(NswIndex.searchFrameManyFiltered(
      spark, idxDirF, centsF, panel, K, NProbe, Ef,
      allowMeta = _ != 3L, expectMetaCol = Some("label")))
    def runWalkSingles() = panel.keys.toSeq.sorted.map { qid =>
      qid -> collectSingle(NswIndex.searchFrameFiltered(spark, idxDirF, centsF,
        panel(qid), qid, K, NProbe, Ef, allowMeta = _ != 3L,
        expectMetaCol = Some("label")))
    }.toMap

    require(runPreBatch() == runPreSingles(), s"prefilter batch != singles at $sfDir")
    require(runWalkBatch() == runWalkSingles(), s"in-walk batch != singles at $sfDir")
    val preB = (1 to Reps).map(_ => time(() => runPreBatch())._1).min
    val preS = (1 to Reps).map(_ => time(() => runPreSingles())._1).min
    val wB = (1 to Reps).map(_ => time(() => runWalkBatch())._1).min
    val wS = (1 to Reps).map(_ => time(() => runWalkSingles())._1).min

    // ---- batched IVF+SQ8 (s37): the production config's byte-scan
    // panel vs 16 sequential searchIvf calls over the same index ----
    import graft.ops.Sq8Index
    val sqParams = Sq8Index.train(emb)
    val sqDir = java.nio.file.Files.createTempDirectory("graft-batch-ivfsq8").toString
    val sqCents = Sq8Index.buildIvf(emb, sqDir, sqParams, kCells = 16, iters = 2)
    def runSqBatch() = collectBatch(Sq8Index.searchIvfMany(
      spark, sqDir, sqCents, emb, sqParams, panel, K, NProbe, rerank = 50))
    def runSqSingles() = panel.keys.toSeq.sorted.map { qid =>
      qid -> collectSingle(Sq8Index.searchIvf(spark, sqDir, sqCents, emb, sqParams,
        panel(qid), qid, K, NProbe, rerank = 50))
    }.toMap
    require(runSqBatch() == runSqSingles(), s"IVF+SQ8 batch != singles at $sfDir")
    val sqB = (1 to Reps).map(_ => time(() => runSqBatch())._1).min
    val sqS = (1 to Reps).map(_ => time(() => runSqSingles())._1).min

    // ---- batched BQ (s38): the 1-bit Hamming panel vs 16 sequential
    // searches over the same materialized bit index ----
    import graft.ops.BqIndex
    val bqParams = BqIndex.train(emb)
    val bqDir = java.nio.file.Files.createTempDirectory("graft-batch-bq").toString
    BqIndex.encode(emb, bqParams).toDF("vec_id", "bits")
      .write.mode("overwrite").parquet(s"$bqDir/cells")
    val bqBits = spark.read.parquet(s"$bqDir/cells")
    def runBqBatch() = collectBatch(BqIndex.searchMany(
      bqBits, emb, bqParams, panel, K, rerank = 100))
    def runBqSingles() = panel.keys.toSeq.sorted.map { qid =>
      qid -> collectSingle(BqIndex.search(bqBits, emb, bqParams,
        panel(qid), qid, K, rerank = 100))
    }.toMap
    require(runBqBatch() == runBqSingles(), s"BQ batch != singles at $sfDir")
    val bqB = (1 to Reps).map(_ => time(() => runBqBatch())._1).min
    val bqS = (1 to Reps).map(_ => time(() => runBqSingles())._1).min

    // ---- batch × churn (s42): the live panel vs 16 sequential live
    // calls on a churned index (80% built, 20% pending, 1% tombstoned).
    // The singles pay the channel side-input collects PER CALL; the
    // batch pays them once — the family's largest amortization. ----
    val churnDir = java.nio.file.Files.createTempDirectory("graft-batch-churn").toString
    val churnCents = NswIndex.build(emb.filter(col("vec_id") % 5 =!= 0), churnDir,
      k = 16, iters = 2, m = 8, efC = 32)
    NswIndex.insertBatch(emb.filter(col("vec_id") % 5 === 0), 0L, churnDir, churnCents)
    graft.streaming.IndexStreams.tombstoneBatch(spark,
      emb.filter(col("vec_id") % 100 === 7).select("vec_id")
        .collect().map(_.getLong(0)).toSeq, 1L, churnDir)
    def runLiveBatch() = collectBatch(NswIndex.searchFrameManyLive(
      spark, churnDir, churnCents, panel, K, NProbe, Ef))
    def runLiveSingles() = panel.keys.toSeq.sorted.map { qid =>
      qid -> collectSingle(NswIndex.searchFrameLive(spark, churnDir, churnCents,
        panel(qid), qid, K, NProbe, Ef))
    }.toMap
    require(runLiveBatch() == runLiveSingles(), s"live batch != singles at $sfDir")
    val lvB = (1 to Reps).map(_ => time(() => runLiveBatch())._1).min
    val lvS = (1 to Reps).map(_ => time(() => runLiveSingles())._1).min

    println(
      s"""{"harness":"ScaleBatch local[$cpus] 1 warmup + min of $Reps reps","sf":"$sfDir","n_vectors":$nVectors,"panel":16,"k":$K,"nprobe":$NProbe,"ef":$Ef,"batch_sec":${f(b)},"single_sum_sec":${f(s)},"speedup":${f(s / b)},"identical":true,"filt_pre_batch_sec":${f(preB)},"filt_pre_single_sum_sec":${f(preS)},"filt_pre_speedup":${f(preS / preB)},"filt_walk_batch_sec":${f(wB)},"filt_walk_single_sum_sec":${f(wS)},"filt_walk_speedup":${f(wS / wB)},"filtered_identical":true,"ivfsq8_batch_sec":${f(sqB)},"ivfsq8_single_sum_sec":${f(sqS)},"ivfsq8_speedup":${f(sqS / sqB)},"ivfsq8_identical":true,"bq_batch_sec":${f(bqB)},"bq_single_sum_sec":${f(bqS)},"bq_speedup":${f(bqS / bqB)},"bq_identical":true,"live_batch_sec":${f(lvB)},"live_single_sum_sec":${f(lvS)},"live_speedup":${f(lvS / lvB)},"live_identical":true}""")
    spark.stop()
  }

  private def f(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
