package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.IvfIndex
import graft.streaming.IndexStreams

/** RETRAIN-UNDER-DRIFT at scale — the measurement behind s44
  * ([[graft.ops.IvfIndex.retrainLiveIndex]]): what does a STALE coarse
  * quantizer actually cost once a drifted churn wave lands at fixture
  * scale, and what does retraining recover?
  *
  * Fixture: the 10x/30x blow-up corpus is the index's build-time world;
  * the drift wave is the antipodal image (x -> -x, exact in floats) of
  * every 4th vector, streamed through the live-index upsert channel
  * under the build-time centroids — 25% of the corpus mass landing in
  * directions the k-means never modelled. Wave members assign by
  * argmax cos(-x, c) = the cell x fits WORST: adversarially wrong
  * geometry for every drifted vector.
  *
  * The panel splits into two structural classes (the blow-up's shard
  * offset is ≡ 0 mod 4, so a query's jittered copies all share its
  * residue): queries ≡ 0 mod 4 have their WHOLE clique in the wave
  * (tight drifted neighborhoods — even stale argmin assigns a tight
  * clique coherently, so recall holds), while other queries' ground
  * truth is DIFFUSE (no clique mates drifted), and diffuse neighbor
  * sets scatter incoherently across wrong stale cells — measured as
  * probe-ceiling collapses to 0/10 pre-retrain at 10x. Retraining
  * re-runs k-means over the fold and recovers the scattered class
  * (mean 8.0 -> 8.63 at 10x, nprobe=6) without touching the coherent
  * one. Balance columns (wave max-cell share, scanned rows/query) are
  * reported and measured FLAT — antipodal images of an isotropic
  * corpus spread as evenly as the corpus itself; drift taxes balance
  * only when the drifted region is concentrated, which this fixture
  * deliberately is not (the gate-SF s44 oracle and RetrainSpec cover
  * the assignment-quality recovery; this main covers scale).
  *
  * Prints ONE JSON line. Run:
  * `SPARK_GRAFT_SF_DIR=/tmp/scale10 SPARK_GRAFT_CPUS=32
  *    sbt "runMain graft.ScaleRetrain"`
  */
object ScaleRetrain {
  private val K = 10
  private val NProbe = 6
  private val WaveOffset = 1000000000L
  private val QueryIds: Seq[Long] = 0L until 16L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.functions.VectorFunctions.cosine_similarity

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft-scale-retrain").toString

    IvfIndex.build(emb, idxDir, k = 16, iters = 2)
    IvfIndex.saveCellRadii(spark, idxDir) // radii for the radius-aware probe arm
    IvfIndex.saveCellMoments(spark, idxDir) // second moments for the moment arm
    val cents0 = IvfIndex.loadCentroids(spark, idxDir)
    val wave = emb.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + WaveOffset).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"))
    IndexStreams.upsertBatch(wave, 0L, idxDir, cents0)

    val corpus = emb.unionByName(wave).localCheckpoint()
    val nVectors = corpus.count()
    val nWave = nVectors - emb.count()

    val queryVecs: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(QueryIds.map(x => x: Any): _*))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id + WaveOffset) -> v.map(x => -x) }.toMap

    def ids(df: DataFrame): Set[Long] = df.select("vec_id").as[Long].collect().toSet

    def exactTopK(qid: Long, qe: Array[Float]): Set[Long] =
      ids(corpus
        .filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          cosine_similarity(col("embedding"), array(qe.toSeq.map(lit): _*)).as("s"))
        .orderBy(col("s").desc, col("vec_id"))
        .limit(K))
    val truths: Map[Long, Set[Long]] = queryVecs.map { case (qid, qe) => qid -> exactTopK(qid, qe) }

    /** One serving phase: per-query recall@10, probe ceiling, and the
      * live scanned-row count (base + unconsumed stream rows in the
      * probed cells — the bytes a probe-pruned search pays), plus the
      * wave's cell histogram (max share = hot-cell damage).
      */
    def phase(nprobe: Int = NProbe): (Seq[(Long, Int, Int, Int, Int, Long, Long)], Double) = {
      val cents = IvfIndex.loadCentroids(spark, idxDir)
      val st = IvfIndex.readLiveState(spark, idxDir)
      val basePath = if (st.gen == 0L) s"$idxDir/assignment" else s"$idxDir/assignment_g${st.gen}"
      val baseDf = spark.read.parquet(basePath)
        .select(col("vec_id"), col("embedding"), col("cluster").cast("int").as("cluster"))
      val streamPath = new org.apache.hadoop.fs.Path(s"$idxDir/stream_assignment")
      val fs = streamPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasStream = fs.exists(streamPath) &&
        fs.listStatus(streamPath).exists(_.getPath.getName.startsWith("batch="))
      val live = (if (hasStream)
        baseDf.unionByName(spark.read.parquet(streamPath.toString)
          .filter(col("batch") > st.consumedThrough)
          .select(col("vec_id"), col("embedding"), col("cluster").cast("int").as("cluster")))
      else baseDf).localCheckpoint()
      val cellSizes: Map[Int, Long] = live.groupBy("cluster").count()
        .as[(Int, Long)].collect().toMap
      val waveShare = {
        val waveCells = live.filter(col("vec_id") >= WaveOffset)
          .groupBy("cluster").count().as[(Int, Long)].collect()
        if (waveCells.isEmpty) 0.0 else waveCells.map(_._2).max.toDouble / nWave
      }
      val rows = QueryIds.map { qid0 =>
        val qid = qid0 + WaveOffset
        val qe = queryVecs(qid)
        val probes = IvfIndex.probeCells(cents, qe, nprobe)
        val got = ids(IvfIndex.searchIndexLive(spark, idxDir, qe, K, nprobe,
          excludeId = Some(qid)))
        // the radius-aware arm: same nprobe, cells ranked by the
        // best-possible-member bound instead of centroid cosine — on
        // this isotropic fixture the radii are near-uniform, so the
        // column MEASURES (rather than assumes) that the ranking is a
        // no-op here; it differentiates only on heterogeneous radii
        val gotR = ids(IvfIndex.searchIndexLive(spark, idxDir, qe, K, nprobe,
          excludeId = Some(qid), radiusAware = true))
        // the second-moment arm: same nprobe, cells ranked by mean
        // squared member cosine — the ranking that SEES a submerged
        // copy-clique (and antipodal wave mass) the centroid cancels
        val gotM = ids(IvfIndex.searchIndexLive(spark, idxDir, qe, K, nprobe,
          excludeId = Some(qid), momentAware = true))
        val probesM = IvfIndex.probeCellsMomentAware(cents,
          IvfIndex.loadMomentsFor(spark, idxDir, st), qe, nprobe)
        val ceiling = ids(live
          .filter(col("cluster").isin(probes.map(x => x: Any): _*) && col("vec_id") =!= qid)
          .select(col("vec_id"),
            cosine_similarity(col("embedding"), array(qe.toSeq.map(lit): _*)).as("s"))
          .orderBy(col("s").desc, col("vec_id")).limit(K))
        val scanned = probes.map(c => cellSizes.getOrElse(c, 0L)).sum
        val scannedM = probesM.map(c => cellSizes.getOrElse(c, 0L)).sum
        (qid, (truths(qid) & got).size, (truths(qid) & gotR).size,
          (truths(qid) & gotM).size, (truths(qid) & ceiling).size, scanned, scannedM)
      }
      (rows, waveShare)
    }

    /** Diagnostic block for the adaptive-probe design: where does each
      * query's truth actually LIVE relative to the two probe rankings,
      * and what does the stop bound look like there? Prints per query:
      * the centroid-rank and bound-rank of every cell holding truth
      * vectors, the query's k-th exact similarity, and the max/min cell
      * bound — the facts that decide whether a lossless stop rule can
      * bite on this geometry at all.
      */
    def adaptiveDiag(nprobe: Int): String = {
      val cents = IvfIndex.loadCentroids(spark, idxDir)
      val st = IvfIndex.readLiveState(spark, idxDir)
      val basePath = if (st.gen == 0L) s"$idxDir/assignment" else s"$idxDir/assignment_g${st.gen}"
      val assignDf = spark.read.parquet(basePath)
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
      }
      val radii: Map[Int, Double] = {
        val p = s"$idxDir/radii" + (if (st.gen == 0L) "" else s"_g${st.gen}")
        val ph = new org.apache.hadoop.fs.Path(p)
        if (ph.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ph))
          spark.read.parquet(p).collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        else Map.empty
      }
      val perQ = QueryIds.map { qid0 =>
        val qid = qid0 + WaveOffset
        val qe = queryVecs(qid)
        val scored = cents.map { case (c, v) =>
          val cc = cos(v, qe)
          val theta = math.acos(math.max(-1.0, math.min(1.0, cc)))
          (c, cc, math.cos(math.max(0.0, theta - radii.getOrElse(c, 0.0))))
        }
        val centRank = scored.sortBy(t => (-t._2, t._1)).map(_._1).zipWithIndex.toMap
        val boundRank = scored.sortBy(t => (-t._3, -t._2, t._1)).map(_._1).zipWithIndex.toMap
        val truthCells = assignDf.filter(col("vec_id").isin(truths(qid).toSeq.map(x => x: Any): _*))
          .select("cluster").distinct().as[Int].collect().toSeq.sorted
        val bounds = scored.map(_._3)
        s"""{"q":$qid0,"truth_cells":${truthCells.mkString("[", ",", "]")},""" +
          s""""cent_ranks":${truthCells.map(c => centRank.getOrElse(c, -1)).mkString("[", ",", "]")},""" +
          s""""bound_ranks":${truthCells.map(c => boundRank.getOrElse(c, -1)).mkString("[", ",", "]")},""" +
          s""""bound_min":${math.round(bounds.min * 1e6) / 1e6.toDouble},""" +
          s""""bound_sub1":${bounds.count(_ < 0.9999)}}"""
      }
      perQ.mkString("[", ",", "]")
    }

    val (preRows, preShare) = phase()
    IvfIndex.retrainLiveIndex(spark, idxDir, k = 16, iters = 2)
    IvfIndex.saveCellMoments(spark, idxDir)
    val (postRows, postShare) = phase()
    // RESOLUTION retrain — the finding behind the post-retrain zeros:
    // each zero query's whole truth is one tight clique diluted inside
    // a ~corpus/16 cell, invisible to ANY ranking over 16 centroids.
    // retrainLiveIndex RESIZES the quantizer (k=64) in the same atomic
    // generation flip; measured at the equal scan fraction
    // (nprobe 24/64 = 6/16) so the lift is resolution, not extra bytes.
    IvfIndex.retrainLiveIndex(spark, idxDir, k = 64, iters = 2)
    IvfIndex.saveCellMoments(spark, idxDir)
    val (resizeRows, resizeShare) = phase(nprobe = 24)
    val resizeDiag = adaptiveDiag(nprobe = 24)
    // adaptive arm at the resize operating point: bound-ordered walk,
    // half the fixed budget up front, stop-rule-or-cap
    val adaptiveRows = QueryIds.map { qid0 =>
      val qid = qid0 + WaveOffset
      val got = IvfIndex.searchIndexLiveAdaptive(spark, idxDir, queryVecs(qid), K,
        minProbe = 12, probeStep = 6, probeCap = 48, excludeId = Some(qid),
        momentAware = true)
      val gotIds = got.result.select("vec_id").as[Long].collect().toSet
      (qid0, (truths(qid) & gotIds).size, got.probed.length, got.stoppedByBound, got.trace)
    }

    def summary(rows: Seq[(Long, Int, Int, Int, Int, Long, Long)], share: Double): String = {
      val rec = rows.map(_._2); val recR = rows.map(_._3); val recM = rows.map(_._4)
      val ceil = rows.map(_._5); val scan = rows.map(_._6); val scanM = rows.map(_._7)
      def mean(xs: Seq[Int]) = math.round(xs.sum.toDouble / xs.length * 100.0) / 100.0
      s"""{"recall":{"mean":${mean(rec)},"min":${rec.min},"per_query":${rec.mkString("[", ",", "]")}},""" +
        s""""radius_recall":{"mean":${mean(recR)},"min":${recR.min}},""" +
        s""""moment_recall":{"mean":${mean(recM)},"min":${recM.min},"per_query":${recM.mkString("[", ",", "]")}},""" +
        s""""ceiling":{"mean":${mean(ceil)},"min":${ceil.min}},""" +
        s""""scanned_rows_per_query":{"mean":${scan.sum / scan.length},"max":${scan.max}},""" +
        s""""moment_scanned_rows_per_query":{"mean":${scanM.sum / scanM.length},"max":${scanM.max}},""" +
        s""""wave_max_cell_share":${math.round(share * 1000.0) / 1000.0}}"""
    }
    println(
      s"""{"sf":"$sfDir","n_vectors":$nVectors,"n_wave":$nWave,"k":$K,"nprobe":$NProbe,""" +
        s""""pre_retrain":${summary(preRows, preShare)},""" +
        s""""post_retrain":${summary(postRows, postShare)},""" +
        s""""post_resize_k64_np24":${summary(resizeRows, resizeShare)},""" +
        s""""resize_adaptive":{"per_query":${
          adaptiveRows.map { case (q, r, p, s, tr) =>
            val t = tr.map { case (n, kth, b) =>
              s"""[$n,${math.round(kth * 1e4) / 1e4.toDouble},${math.round(b * 1e4) / 1e4.toDouble}]"""
            }.mkString("[", ",", "]")
            s"""{"q":$q,"recall":$r,"probed":$p,"stopped":$s,"trace":$t}"""
          }.mkString("[", ",", "]")
        },"mean_probed":${adaptiveRows.map(_._3).sum.toDouble / adaptiveRows.length}},""" +
        s""""resize_diag":$resizeDiag}""")
    val root = new org.apache.hadoop.fs.Path(idxDir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    spark.stop()
  }
}
