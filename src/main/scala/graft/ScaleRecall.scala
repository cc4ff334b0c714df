package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{IvfIndex, NswIndex}

/** ANN RECALL at scale — the measurement the time-only scale fixtures
  * (`bench_scale.json`) cannot make: recall@10 for the flat per-cell
  * NSW walk (s23's index), the layered HNSW variant (s25's), and the
  * IVF probe CEILING (exact search restricted to the probed cells —
  * the best any in-cell walk can do at this nprobe) on whatever
  * corpus `SPARK_GRAFT_SF_DIR` points at. Run it at the 10x/30x
  * blow-ups to answer the question the gate SFs can't: do nprobe=4 /
  * ef=48 still clear the recall floor once cells hold thousands of
  * vectors instead of ~30?
  *
  * Query panel: vec_ids 0..15 — present at every SF (the blow-up
  * fixtures jitter COPIES under fresh ids and leave the originals in
  * place), so the panel is comparable across scales. Ground truth is
  * the brute-force exact top-10 per query (16 queries x one corpus
  * scan each — the cheap side of the measurement). Index parameters
  * are EXACTLY the s23/s25 queries' (k=16 cells, m=8, efC=32,
  * nprobe=4, ef=48), so the numbers speak for those entries.
  *
  * Decomposition: ceiling − walk = what the graph walk loses; 10 −
  * ceiling = what the coarse quantizer loses at this nprobe. The knob
  * each one indicts is different (ef vs nprobe), which is why the
  * ceiling column exists.
  *
  * Prints ONE JSON line:
  * `{"sf":…,"n_vectors":…,"recall_at10":{"flat":{…},"layered":{…},
  * "ivf_ceiling":{…}},"per_query":{…}}`.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/tmp/scale30 SPARK_GRAFT_CPUS=32
  *       sbt "runMain graft.ScaleRecall"`
  */
object ScaleRecall {
  private val K = 10
  private val NProbe = 4
  private val Ef = 48
  private val QueryIds: Seq[Long] = 0L until 16L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.functions.VectorFunctions.cosine_similarity

    val embFull = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val emb = embFull.select("vec_id", "embedding")
    val nVectors = emb.count()

    val flatDir = java.nio.file.Files.createTempDirectory("graft-recall-flat").toString
    val layeredDir = java.nio.file.Files.createTempDirectory("graft-recall-hnsw").toString
    // identical train params + deterministic k-means => identical centroids,
    // so the ceiling column applies to both indexes
    // metaCol rides along so the SAME flat index also serves the
    // filtered-search measurement (searchFrame ignores the meta column)
    val cents = NswIndex.build(embFull, flatDir, k = 16, iters = 2, m = 8, efC = 32,
      metaCol = Some("label"))
    NswIndex.buildLayered(emb, layeredDir, k = 16, iters = 2, m = 8, efC = 32)

    // one pass over the corpus per query for ground truth; the panel is
    // 16 queries, so this stays trivially cheap at any fixture size
    val queryVecs: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(QueryIds.map(x => x: Any): _*))
      .as[(Long, Array[Float])].collect().toMap
    val assignments = IvfIndex.assignments(embFull, cents, extraCols = Seq("label"))
      .localCheckpoint()

    def ids(df: DataFrame): Set[Long] = df.select("vec_id").as[Long].collect().toSet

    def exactTopK(qid: Long, qe: Array[Float], within: DataFrame): Set[Long] =
      ids(within
        .filter(col("vec_id") =!= qid)
        .select(col("vec_id"), cosine_similarity(col("embedding"), array(qe.toSeq.map(lit): _*)).as("s"))
        .orderBy(col("s").desc, col("vec_id"))
        .limit(K))

    // IVF+SQ8 (s29): same centroids (shared deterministic train), codes
    // quantized by the corpus-trained scalar quantizer, rerank=50. Its
    // recall question at scale is DIFFERENT from the walks': cells keep
    // growing, so does the byte distortion push an exact-within-probes
    // top-10 item below the fixed rerank horizon?
    val sqParams = graft.ops.Sq8Index.train(emb)
    val sqDir = java.nio.file.Files.createTempDirectory("graft-recall-sq8").toString
    graft.ops.Sq8Index.buildIvf(emb, sqDir, sqParams, kCells = 16, iters = 2)
    // the rerank horizon is the SQ8 knob that must scale with cell size
    // (measured: fixed 50 loses 1 recall point on 3/16 queries at 30x)
    val sqRerank = sys.env.getOrElse("SPARK_GRAFT_SQ8_RERANK", "50").toInt

    // PQ vs OPQ (s18 vs s34): same IVF probes, ADC top-50 candidate
    // pool, exact rerank — the only difference is the learned rotation
    // in front of the quantizer. The scale question: does eigenvalue-
    // allocated rotation hold its recall edge (or at least parity) as
    // cells grow? Codebooks train once; candidate pools are per-query.
    val pqCb = graft.ops.PqIndex.train(emb)
    val pqCodes = graft.ops.PqIndex.encode(emb, pqCb).toDF("vec_id", "codes", "norm")
      .localCheckpoint()
    val opqRot = graft.ops.OpqRotation.train(emb)
    val opqCb = graft.ops.PqIndex.train(graft.ops.OpqRotation.rotate(emb, opqRot))
    val opqCodes = graft.ops.PqIndex.encode(graft.ops.OpqRotation.rotate(emb, opqRot), opqCb)
      .toDF("vec_id", "codes", "norm").localCheckpoint()

    // The fixture's embeddings are near-ISOTROPIC (uniform jitter inside
    // clusters), so the parametric rotation has nothing to exploit there
    // — pq-vs-opq on the raw corpus measures PARITY, which is itself the
    // honest answer. The mechanism OPQ exists for is VARIANCE SKEW
    // across subspaces; this derived view applies a deterministic
    // per-dimension scaling (dim i × (1 + i/8), an ~79x inter-subspace
    // variance ratio), and the skewed pq/opq columns measure the
    // rotation's lift where its assumption holds. Flat ADC (no IVF
    // prune) isolates quantizer quality from probe-ceiling effects.
    val embSkew = emb.select(col("vec_id"),
      expr("CAST(transform(embedding, (x, i) -> x * (1.0D + i / 8.0D)) AS ARRAY<FLOAT>)")
        .as("embedding")).localCheckpoint()
    val pqCbSkew = graft.ops.PqIndex.train(embSkew)
    val pqCodesSkew = graft.ops.PqIndex.encode(embSkew, pqCbSkew)
      .toDF("vec_id", "codes", "norm").localCheckpoint()
    val opqRotSkew = graft.ops.OpqRotation.train(embSkew)
    val opqCbSkew = graft.ops.PqIndex.train(graft.ops.OpqRotation.rotate(embSkew, opqRotSkew))
    val opqCodesSkew = graft.ops.PqIndex.encode(
      graft.ops.OpqRotation.rotate(embSkew, opqRotSkew), opqCbSkew)
      .toDF("vec_id", "codes", "norm").localCheckpoint()
    val queryVecsSkew: Map[Long, Array[Float]] = embSkew
      .filter(col("vec_id").isin(QueryIds.map(x => x: Any): _*))
      .as[(Long, Array[Float])].collect().toMap

    // HNSW over SQ8 (s32): graphs over codes — same cell/graph params as
    // the float walk, vector payload quantized. The scale question: does
    // the quantized-geometry walk lose recall the float walk keeps?
    val hnswSqDir = java.nio.file.Files.createTempDirectory("graft-recall-hnswsq8").toString
    graft.ops.Sq8Index.buildHnsw(emb, hnswSqDir, sqParams, kCells = 16, iters = 2,
      m = 8, efC = 32)

    // BQ (s38): 1-bit mean-threshold codes, Hamming scan + deep (100)
    // exact rerank. Its scale question is density: 64 Hamming bits
    // partition the sphere into fixed buckets, so as 10-30x more
    // vectors pack the same code space, does the rerank-100 pool still
    // cover the true top-10?
    val bqParams = graft.ops.BqIndex.train(emb)
    val bqDir = java.nio.file.Files.createTempDirectory("graft-recall-bq").toString
    graft.ops.BqIndex.encode(emb, bqParams).toDF("vec_id", "bits")
      .write.mode("overwrite").parquet(s"$bqDir/cells")
    val bqBits = spark.read.parquet(s"$bqDir/cells")
    // IVF+BQ (s41): the composed 1-bit config — same shared centroids
    // question as IVF+SQ8 (does the rerank horizon still cover the
    // probe ceiling as cells grow?) at 1/8 the candidate bytes
    val ivfBqDir = java.nio.file.Files.createTempDirectory("graft-recall-ivfbq").toString
    graft.ops.BqIndex.buildIvf(emb, ivfBqDir, bqParams, kCells = 16, iters = 2)

    // Byte-IO of one probed cell read, walk vs walk: sum the parquet
    // column-chunk bytes each walk's ReadSchema touches (footer
    // metadata — the honest columnar-IO number, not file size). The
    // float walk reads (vec_id, embedding, nbrs); the quantized walk
    // (vec_id, code, rnorm, nbrs).
    def columnBytes(dir: String, cols: Set[String]): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(s"$dir/cells")
      val fs = root.getFileSystem(conf)
      val it = fs.listFiles(root, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
          try {
            rdr.getFooter.getBlocks.forEach { b =>
              b.getColumns.forEach { c =>
                if (cols.contains(c.getPath.toDotString.split("\\.").head))
                  total += c.getTotalSize
              }
            }
          } finally rdr.close()
        }
      }
      total
    }
    val floatWalkBytes = columnBytes(flatDir, Set("vec_id", "embedding", "nbrs"))
    val sq8WalkBytes = columnBytes(hnswSqDir, Set("vec_id", "code", "rnorm", "nbrs"))
    // the 1-bit candidate pass vs what a float scan would read: the
    // first-pass byte story of the whole compression dial in one row
    val bqScanBytes = columnBytes(bqDir, Set("vec_id", "bits"))
    val floatScanBytes = columnBytes(flatDir, Set("vec_id", "embedding"))

    // Filtered search (s27's in-walk strategy, its own parameters:
    // nprobe=12, label predicate = 3): ground truth is the exact
    // FILTERED top-10, and the filtered probe CEILING (exact among
    // label-3 rows in the probed cells) isolates what the quantizer
    // loses under a predicate — the s27 comment's scatter effect,
    // measured here at fixture scale.
    val FiltNProbe = 12
    val FiltLabel = 3

    val rows = QueryIds.map { qid =>
      val qe = queryVecs(qid)
      val truth = exactTopK(qid, qe, emb)
      val probes = IvfIndex.probeCells(cents, qe, NProbe)
      val ceiling = exactTopK(qid, qe,
        assignments.filter(col("cluster").isin(probes.map(x => x: Any): _*))
          .select("vec_id", "embedding"))
      val flat = ids(NswIndex.searchFrame(spark, flatDir, cents, qe, qid, K, NProbe, Ef))
      val layered = ids(NswIndex.searchFrameLayered(spark, layeredDir, cents, qe, qid, K, NProbe, Ef))
      val sq8 = ids(graft.ops.Sq8Index.searchIvf(spark, sqDir, cents, emb, sqParams,
        qe, qid, K, NProbe, rerank = sqRerank))
      val hnswSq8 = ids(graft.ops.Sq8Index.searchHnsw(spark, hnswSqDir, cents, emb,
        sqParams, qe, qid, K, NProbe, Ef, rerank = sqRerank))
      val bq = ids(graft.ops.BqIndex.search(bqBits, emb, bqParams, qe, qid, K,
        rerank = 100))
      val ivfBq = ids(graft.ops.BqIndex.searchIvf(spark, ivfBqDir, cents, emb,
        bqParams, qe, qid, K, NProbe, rerank = 100))
      val cellIds = assignments
        .filter(col("cluster").isin(probes.map(x => x: Any): _*)).select("vec_id")
      def adcTopK(codes: DataFrame, cb: graft.ops.PqIndex.Codebook, q: Array[Float]): Set[Long] = {
        val cands = graft.ops.PqIndex.searchAdc(codes.join(cellIds, "vec_id"), cb, q,
          excludeId = qid, k = 50).select(col("vec_id").as("cand_id"))
        ids(graft.ops.SimilarityOps.exactRerank(emb, cands, qid, K))
      }
      val pq = adcTopK(pqCodes, pqCb, qe)
      val opq = adcTopK(opqCodes, opqCb, graft.ops.OpqRotation.rotateVec(qe, opqRot))
      val qeSkew = queryVecsSkew(qid)
      val truthSkew = exactTopK(qid, qeSkew, embSkew)
      def adcTopKFlat(codes: DataFrame, cb: graft.ops.PqIndex.Codebook, q: Array[Float]): Set[Long] = {
        val cands = graft.ops.PqIndex.searchAdc(codes, cb, q, excludeId = qid, k = 50)
          .select(col("vec_id").as("cand_id"))
        ids(graft.ops.SimilarityOps.exactRerank(embSkew, cands, qid, K))
      }
      val pqSkew = adcTopKFlat(pqCodesSkew, pqCbSkew, qeSkew)
      val opqSkew = adcTopKFlat(opqCodesSkew, opqCbSkew,
        graft.ops.OpqRotation.rotateVec(qeSkew, opqRotSkew))
      val truthF = exactTopK(qid, qe,
        embFull.filter(col("label") === FiltLabel).select("vec_id", "embedding"))
      val probesF = IvfIndex.probeCells(cents, qe, FiltNProbe)
      val ceilingF = exactTopK(qid, qe,
        assignments.filter(col("label") === FiltLabel &&
          col("cluster").isin(probesF.map(x => x: Any): _*))
          .select("vec_id", "embedding"))
      val walkF = ids(NswIndex.searchFrameFiltered(spark, flatDir, cents, qe, qid,
        K, FiltNProbe, Ef, allowMeta = _ == FiltLabel.toLong))
      // the PERMISSIVE regime (label != 3, ~90% pass — in-walk's home
      // turf): navigation barely sees the predicate, recall should
      // track the unfiltered walk's
      val truthP = exactTopK(qid, qe,
        embFull.filter(col("label") =!= FiltLabel).select("vec_id", "embedding"))
      val probesP = IvfIndex.probeCells(cents, qe, NProbe)
      val ceilingP = exactTopK(qid, qe,
        assignments.filter(col("label") =!= FiltLabel &&
          col("cluster").isin(probesP.map(x => x: Any): _*))
          .select("vec_id", "embedding"))
      val walkP = ids(NswIndex.searchFrameFiltered(spark, flatDir, cents, qe, qid,
        K, NProbe, Ef, allowMeta = _ != FiltLabel.toLong))
      Seq((truth & flat).size, (truth & layered).size, (truth & ceiling).size,
        (truth & sq8).size, (truth & hnswSq8).size, (truth & bq).size,
        (truth & ivfBq).size,
        (truth & pq).size, (truth & opq).size,
        (truthSkew & pqSkew).size, (truthSkew & opqSkew).size,
        (truthF & ceilingF).size, (truthF & walkF).size,
        (truthP & ceilingP).size, (truthP & walkP).size)
    }

    def stats(i: Int): (Double, Int) = {
      val xs = rows.map(_(i))
      (math.round(xs.sum.toDouble / xs.length * 100.0) / 100.0, xs.min)
    }
    def arr(i: Int): String = rows.map(_(i)).mkString("[", ",", "]")
    val names = Seq("flat", "layered", "ivf_ceiling", s"ivf_sq8_rerank$sqRerank",
      s"hnsw_sq8_rerank$sqRerank", "bq_rerank100", "ivf_bq_rerank100",
      "ivf_pq_adc50", "ivf_opq_adc50",
      "pq_skewvar_flat_adc50", "opq_skewvar_flat_adc50",
      s"filtered_ceiling_np$FiltNProbe", s"filtered_inwalk_np$FiltNProbe",
      s"permissive_ceiling_np$NProbe", s"permissive_inwalk_np$NProbe")
    val summary = names.zipWithIndex.map { case (n, i) =>
      val (m, lo) = stats(i)
      s""""$n":{"mean":$m,"min":$lo}"""
    }.mkString(",")
    val perQuery = names.zipWithIndex.map { case (n, i) => s""""$n":${arr(i)}""" }.mkString(",")
    println(
      s"""{"sf":"$sfDir","n_vectors":$nVectors,"k":$K,"nprobe":$NProbe,"ef":$Ef,""" +
      s""""recall_at10":{$summary},"per_query":{$perQuery},""" +
      s""""walk_read_bytes":{"float":$floatWalkBytes,"sq8":$sq8WalkBytes,""" +
      s""""reduction":${math.round(floatWalkBytes.toDouble / sq8WalkBytes * 100.0) / 100.0}},""" +
      s""""bq_scan_bytes":{"bits":$bqScanBytes,"float_embedding":$floatScanBytes,""" +
      s""""reduction":${math.round(floatScanBytes.toDouble / bqScanBytes * 100.0) / 100.0}}}""")
    spark.stop()
  }
}
