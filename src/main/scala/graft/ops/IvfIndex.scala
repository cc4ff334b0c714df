package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.cosine_similarity

/** IVF (inverted-file) approximate nearest neighbour — the coarse-
  * quantizer scale path next to sign-LSH: k-means centroids partition the
  * corpus into cells; a query exactly scans only its `nprobe` nearest
  * cells instead of everything.
  *
  * The k centroids are tiny (k <= 64) and live on the driver as plain
  * arrays. Assignment ships them as ONE reference object into a fused
  * argmax-cosine expression ([[graft.functions.NearestCentroid]]) — so
  * it is shuffle-free and stays inside WholeStageCodegen (round 1
  * shipped a crossJoin + per-vector window here: a full corpus x k
  * shuffle just to take an argmax; rounds 2-16 an `array_max` over k
  * struct columns whose generated code outgrew the codegen limits and
  * ran interpreted). Lloyd's update step is
  * the only shuffle in training, keyed on k*dim cells, never on the
  * corpus. Deterministic: centroids initialise from the k lowest
  * vec_ids and iterate a fixed number of rounds, so the index is
  * identical across runs and cluster layouts.
  *
  * At 100 TB the assignment table `(vec_id, cluster)` is written
  * partitioned by cluster; queries touch nprobe/k of the data. Here the
  * index is built on the fly per query invocation (corpus is small); the
  * split into train/assign/search mirrors the real deployment.
  */
object IvfIndex {

  /** Driver-side centroid set — k rows, trivially collectable. */
  type Centroids = Array[(Int, Array[Float])]

  private def litVec(v: Array[Float]): Column = array(v.toSeq.map(lit): _*)

  /** Driver-side cosine replicating CosineSimilarity's exact sequential
    * double fold, so probe selection is bit-identical to executor scores.
    * Shared across graft (RetrievalOps' centroid-interaction table) —
    * exactly one implementation of this fold may exist.
    */
  private[graft] def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Nearest-centroid id as ONE shuffle-free, codegen-fused expression
    * ([[graft.functions.NearestCentroid]]): argmax-cosine with ties to
    * the lowest cluster id, bit-identical to the old `array_max` over
    * (sim, -cluster) structs — which at k=64 generated past the codegen
    * size limits, dropping the whole projection stage to interpreted
    * eval (measured 15s for a 20k-vector assignment; fused: <0.5s).
    */
  private def nearestCluster(centroids: Centroids): Column =
    graft.functions.VectorFunctions.nearest_centroid(col("embedding"), centroids)
      .getField("cluster")

  /** Assign each vector to its nearest (max-cosine) centroid — a pure
    * projection over the scan, no Exchange anywhere in the stage.
    */
  private def assign(emb: DataFrame, centroids: Centroids): DataFrame =
    emb.select(col("vec_id"), col("embedding"), nearestCluster(centroids).as("cluster"))

  /** Element-wise mean of the member vectors per cluster — one
    * ObjectHashAggregate pass via the [[graft.functions.VectorSum]]
    * accumulator (map-side combinable) instead of the former
    * posexplode → groupBy(cluster, pos) → re-collect chain, which
    * multiplied the aggregated rows by the dimensionality and paid two
    * aggregations per Lloyd round (guide §2.3: aggregate before you
    * shuffle, and don't explode what an accumulator can fold).
    */
  private def centroidUpdate(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("cluster")
      // count(embedding), not count(*): vec_sum skips null embeddings, so
      // the divisor must too — the old posexplode+avg path averaged over
      // non-null member vectors only (a null row exploded to no rows),
      // and a count(*) divisor would dilute the mean of any cluster
      // holding null-embedding rows
      .agg(graft.functions.VectorAggregates.vec_sum(col("embedding")).as("s"),
        count(col("embedding")).as("n"))
      .select(col("cluster"), expr("transform(s, x -> CAST(x / n AS FLOAT))").as("centroid"))

  private def collectCentroids(df: DataFrame): Centroids =
    df.collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)

  /** Train k centroids with `iters` Lloyd rounds (deterministic init from
    * the k lowest vec_ids). Each round is one Spark job; the k-row result
    * collects to the driver so the next assignment is again literal-based.
    */
  def train(emb: DataFrame, k: Int, iters: Int): Centroids = {
    var cents: Centroids = emb
      .orderBy("vec_id")
      .limit(k)
      .select("embedding")
      .collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](0).toArray }
    for (_ <- 1 to iters)
      cents = collectCentroids(centroidUpdate(assign(emb, cents)))
    cents
  }

  /** Public view of the cell assignment (vec_id, embedding, cluster) —
    * the composition point other index structures build on (s18 joins
    * PQ codes against it to score only the probed cells' codes).
    * `extraCols` carries additional attribute columns (e.g. a metadata
    * column a filtered index stores beside each vector) through the
    * NARROW assignment projection — no join, the attribute rides the
    * same row from the source scan into the cell write.
    */
  def assignments(emb: DataFrame, centroids: Centroids,
      extraCols: Seq[String] = Nil): DataFrame =
    emb.select(Seq(col("vec_id"), col("embedding")) ++ extraCols.map(col) :+
      nearestCluster(centroids).as("cluster"): _*)

  /** Driver-side probe selection: the `nprobe` cells nearest the query
    * (k is tiny; the same exact-fold cosine assignment uses, so probe
    * choice is bit-identical to executor scores).
    */
  def probeCells(centroids: Centroids, query: Array[Float], nprobe: Int): Seq[Int] =
    centroids
      .map { case (c, v) => (c, cosineLocal(v, query)) }
      .sortBy { case (c, s) => (-s, c) }
      .take(nprobe)
      .map(_._1)
      .toSeq

  /** Probe ranking by BEST-POSSIBLE member cosine — cells ordered by
    * cos(max(0, θ(q, centroid) − r_c)) using the per-cell angular radii,
    * the same spherical bound the lossless range prune evaluates
    * ([[rangeKeptCells]]), applied here as a RANKING for top-k probe
    * selection. Why it matters: a drifted query can sit far from every
    * centroid while one WIDE cell still holds its true neighbours;
    * centroid-cosine ranking systematically skips that cell (ScaleRetrain
    * measured whole panel queries at recall 0 AFTER retrain with the walk
    * equal to its probe ceiling — the loss was cell selection), while the
    * radius-adjusted bound ranks it where its best possible member could
    * score. Ties (e.g. several bounds saturating at 1.0) break by
    * centroid cosine then id; a cell with no recorded radius ranks by
    * centroid cosine alone (radius 0 — the sidecar covers every nonempty
    * cell, so only empty cells lack one). NOT lossless — a ranking;
    * recall is measured (RadiusProbeSpec, ScaleRetrain), never assumed.
    */
  def probeCellsRadiusAware(centroids: Centroids, radii: Map[Int, Double],
      query: Array[Float], nprobe: Int): Seq[Int] =
    centroids
      .map { case (c, v) =>
        val cosQC = cosineLocal(v, query)
        val theta = math.acos(math.max(-1.0, math.min(1.0, cosQC)))
        val bound = math.cos(math.max(0.0, theta - radii.getOrElse(c, 0.0)))
        (c, bound, cosQC)
      }
      .sortBy { case (c, b, cc) => (-b, -cc, c) }
      .take(nprobe)
      .map(_._1)
      .toSeq

  /** Exact search restricted to the query's `nprobe` nearest cells: probe
    * cells are picked on the driver (k tiny), then ONE scan computes
    * assignment + filter + cosine and ends in TakeOrderedAndProject.
    */
  def search(emb: DataFrame, centroids: Centroids, queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val qe = emb
      .filter(col("vec_id") === queryId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray
    val probes = probeCells(centroids, qe, nprobe).map(c => c: Any)
    assign(emb, centroids)
      .filter(col("cluster").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(cosine_similarity(col("embedding"), litVec(qe)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  // ---- Materialized index: the real 100 TB deployment shape ------------
  //
  // `build` persists what `ivfTopK` recomputes per call: the assignment
  // table written as parquet PARTITIONED BY cluster (one directory per
  // cell) plus a tiny centroid sidecar. `searchIndex` then reads ONLY the
  // `nprobe` probed cells — partition pruning at plan time, so a search
  // touches nprobe/k of the corpus bytes no matter how large the corpus.

  /** Train and materialize the index at `indexDir`: `assignment/`
    * (vec_id, embedding) partitioned by `cluster`, and `centroids/` (k
    * rows). Returns the centroids for immediate reuse.
    */
  def build(emb: DataFrame, indexDir: String, k: Int, iters: Int): Centroids = {
    val cents = train(emb, k, iters)
    assign(emb, cents)
      .write
      .mode("overwrite")
      .partitionBy("cluster")
      .parquet(s"$indexDir/assignment")
    saveCentroids(emb.sparkSession, cents, indexDir)
    cents
  }

  /** Persist the k-row centroid sidecar (the generation-0 geometry). */
  def saveCentroids(spark: SparkSession, cents: Centroids, indexDir: String): Unit =
    saveCentroidsTo(spark, cents, s"$indexDir/centroids")

  private[ops] def saveCentroidsTo(spark: SparkSession, cents: Centroids, dir: String): Unit = {
    import spark.implicits._
    cents.toSeq
      .map { case (c, v) => (c, v.toSeq) }
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(dir)
  }

  /** Persist index GEOMETRY only: train the coarse quantizer on a
    * bootstrap sample and write the centroid sidecar plus an EMPTY
    * (schema-carrying, unpartitioned) base assignment — the starting
    * state of a STREAM-FED index, where every data vector reaches the
    * cells through [[graft.streaming.IndexStreams]] upserts rather
    * than a batch build. [[searchIndexLive]] reads this base + the
    * streamed partitions under one probe filter unchanged.
    */
  def bootstrap(sample: DataFrame, indexDir: String, k: Int, iters: Int): Centroids = {
    val cents = train(sample, k, iters)
    assign(sample, cents).limit(0).coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$indexDir/assignment")
    saveCentroids(sample.sparkSession, cents, indexDir)
    cents
  }

  // ---- versioned GEOMETRY: centroids/radii sidecars per generation ----
  //
  // A retrain ([[retrainLiveIndex]]) replaces the coarse quantizer, so
  // the centroid/radii sidecars must flip ATOMICALLY with the data
  // generation — publishing new centroids at the fixed `centroids/`
  // path before (or after) the marker would leave a crash window where
  // searches probe new geometry against an old-geometry assignment (or
  // vice versa), silently serving the wrong cells. Geometry therefore
  // versions like the data: `centroids_g<n>` / `radii_g<n>` are written
  // BEFORE the marker names generation n, and readers resolve "the
  // newest geometry at-or-before the live generation" (a plain
  // compaction advances the data generation without touching geometry,
  // so resolution falls through to the last retrain — or to the plain
  // `centroids/` dir a build/bootstrap wrote for generation 0).

  private[ops] def geomDir(indexDir: String, sub: String, g: Long): String =
    if (g == 0L) s"$indexDir/$sub" else s"$indexDir/${sub}_g$g"

  /** Newest geometry generation at-or-before `gen` with a published
    * `<sub>_g<n>` dir (0 = the plain `<sub>/` dir from build time).
    */
  private[ops] def geometryGen(spark: SparkSession, indexDir: String, sub: String, gen: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"${sub}_g"))
      .map(_.stripPrefix(s"${sub}_g").toLong)
      .filter(_ <= gen)
      .maxOption.getOrElse(0L)
  }

  /** Load the k-row centroid sidecar back onto the driver — resolved
    * through the live-state marker so a retrained index serves its NEW
    * geometry (indexes without a marker resolve to the plain build-time
    * `centroids/` dir unchanged).
    */
  def loadCentroids(spark: SparkSession, indexDir: String): Centroids =
    loadCentroidsAt(spark, indexDir, readLiveState(spark, indexDir))

  /** [[loadCentroids]] with an already-read marker — the hot serving
    * paths read the marker once and resolve geometry from it instead
    * of paying a second metadata round-trip per query.
    */
  private[ops] def loadCentroidsAt(spark: SparkSession, indexDir: String, st: LiveState): Centroids = {
    val g = geometryGen(spark, indexDir, "centroids", st.gen)
    collectCentroids(spark.read.parquet(geomDir(indexDir, "centroids", g)).select("cluster", "centroid"))
  }

  /** Search a materialized index: probe cells are picked on the driver
    * from the sidecar, and the assignment scan carries a
    * `cluster IN (probes)` partition filter — Spark prunes the non-probed
    * cell directories at plan time (asserted by ScaleOpsSpec), so the
    * exact rerank reads only nprobe/k of the index.
    */
  def searchIndex(
      spark: SparkSession,
      indexDir: String,
      queryVec: Array[Float],
      k: Int,
      nprobe: Int,
      excludeId: Option[Long] = None,
      radiusAware: Boolean = false,
      momentAware: Boolean = false
  ): DataFrame = {
    require(!(radiusAware && momentAware), "pick ONE probe ranking: radiusAware or momentAware")
    val st = readLiveState(spark, indexDir)
    // generation-aware: a compacted/retrained index serves its LIVE
    // base (marker-resolved, like the geometry), and unconsumed churn
    // channels fail loudly instead of being silently ignored — the
    // rangeSearchIndex discipline (searchIndexLive is the merge-on-read
    // path). Marker-less indexes resolve to `assignment/` unchanged.
    require(pendingBatchIds(spark, indexDir, st).isEmpty,
      s"$indexDir has unconsumed stream/tombstone batches — the static search would " +
        "silently ignore them; use searchIndexLive (merge-on-read) or compact first")
    val cents = loadCentroidsAt(spark, indexDir, st)
    val probes = (if (momentAware)
      probeCellsMomentAware(cents, loadMomentsFor(spark, indexDir, st), queryVec, nprobe)
    else if (radiusAware)
      probeCellsRadiusAware(cents, loadRadiiFor(spark, indexDir, st), queryVec, nprobe)
    else probeCells(cents, queryVec, nprobe)).map(c => c: Any)
    val scan = spark.read.parquet(liveBaseDir(indexDir, st.gen))
    val pruned = scan.filter(col("cluster").isin(probes: _*))
    val excluded = excludeId.fold(pruned)(id => pruned.filter(col("vec_id") =!= id))
    excluded
      .select(col("vec_id"), round(cosine_similarity(col("embedding"), litVec(queryVec)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  // ---- RANGE (radius) search with a LOSSLESS cell-bound prune --------
  //
  // "Every neighbor with cosine >= tau" — the ANN family's OTHER query
  // shape (FAISS range_search; dedup-threshold sweeps and
  // contamination screens ask it, not top-k). Pruning is the spherical
  // triangle inequality on DIRECTIONS (cosine ignores norms):
  // angle(q, x) >= angle(q, c) − angle(c, x), so a cell whose members
  // all lie within angular radius r_c of its centroid can contain a
  // qualifying vector ONLY if cos(max(0, theta_qc − r_c)) >= tau.
  // Cells failing the bound are pruned LOSSLESSLY — unlike top-k IVF
  // probing there is no recall dial here: the result is EXACTLY the
  // brute-force threshold scan's (spec-pinned, and the oracle is fully
  // exact), the bound only decides how few partitions pay for it. At
  // 100 TB a selective tau touches the handful of cells near the
  // query; a permissive tau degrades gracefully to the full scan the
  // exact answer genuinely requires.

  /** One aggregation over the materialized assignment: each cell's
    * angular radius r_c = max angle(member, own centroid), written as
    * the `radii/` sidecar (k rows — same class as centroids). Must be
    * refreshed when the assignment changes; [[rangeSearchIndex]] fails
    * loudly without it.
    */
  def saveCellRadii(spark: SparkSession, indexDir: String): Unit = {
    val st = readLiveState(spark, indexDir)
    val cents = loadCentroids(spark, indexDir)
    // radii are pinned to the DATA generation they were computed over
    // (not the geometry generation): a plain compaction can grow a
    // cell's true radius without touching geometry, and range search's
    // lossless claim is only sound against radii of the exact base it
    // scans — resolution requires an exact-generation match
    saveCellRadiiFor(spark, indexDir, cents,
      liveBaseDir(indexDir, st.gen), geomDir(indexDir, "radii", st.gen))
  }

  /** Radii aggregation over an explicit assignment dir, written to an
    * explicit radii dir — the shared kernel for [[saveCellRadii]] (live
    * resolution) and [[retrainLiveIndex]] (next-generation publish).
    */
  private def saveCellRadiiFor(spark: SparkSession, indexDir: String,
      cents: Centroids, assignmentDir: String, radiiDir: String): Unit = {
    val cLit = typedLit(cents.map { case (c, v) => c -> v.toSeq }.toMap)
    spark.read.parquet(assignmentDir)
      .select(col("cluster").cast("int").as("cluster"),
        acos(least(lit(1.0), greatest(lit(-1.0),
          cosine_similarity(col("embedding"), element_at(cLit, col("cluster"))))))
          .as("ang"))
      .groupBy("cluster").agg(max(col("ang")).as("radius"))
      .coalesce(1)
      .write.mode("overwrite").parquet(radiiDir)
  }

  /** Load the radii sidecar for EXACTLY the live data generation. A
    * plain compaction can grow a cell's true radius without touching
    * geometry, so radii from any OTHER generation would make the
    * "lossless" prune silently lossy — staleness is undetectable at
    * read time unless the sidecar is generation-pinned, so it is, and
    * a mismatch fails loudly naming the remedy.
    */
  private def loadRadiiFor(spark: SparkSession, indexDir: String, st: LiveState): Map[Int, Double] = {
    val p = new org.apache.hadoop.fs.Path(geomDir(indexDir, "radii", st.gen))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$indexDir has no radii sidecar for generation ${st.gen} — the lossless prune is " +
        "only sound against radii computed over the exact base it scans; run " +
        "IvfIndex.saveCellRadii(spark, indexDir) after the build or after any compaction")
    spark.read.parquet(p.toString).collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** The driver-side prune: cells whose angular bound clears `tau`
    * (with a 1e-6 slack absorbing the acos/cos round-trip — slack only
    * ever KEEPS a borderline cell, so losslessness is preserved).
    * Public so specs can pin both the losslessness and that pruning
    * actually bites.
    */
  def rangeKeptCells(cents: Centroids, radii: Map[Int, Double],
      q: Array[Float], tau: Double): Seq[Int] =
    cents.toSeq.filter { case (c, v) =>
      val thetaQC = math.acos(math.max(-1.0, math.min(1.0, cosineLocal(v, q))))
      math.cos(math.max(0.0, thetaQC - radii.getOrElse(c, math.Pi))) >= tau - 1e-6
    }.map(_._1).sorted

  // ---- SECOND-MOMENT probe routing: finding submerged cliques --------
  //
  // The centroid is a cell's FIRST moment, and it has a measured blind
  // spot: a tight clique of copies (the shape near-dup corpora are full
  // of) submerged in a big cell contributes almost nothing to the mean
  // direction — and an ANTIPODAL clique (the drift-wave shape) cancels
  // out of it entirely. ScaleRetrain's resize phase measured the
  // consequence: one panel query's whole truth clique sat in a cell
  // centroid-ranked 33/64, outside any sane nprobe, recall 0. The
  // SECOND moment sees both: with M_c = mean_{members} u uᵀ over
  // unit-normalized members, the routing score qᵀ M_c q equals the
  // cell's MEAN SQUARED member cosine against the query — a 10-copy
  // clique at cos 0.4 inside a 390-member isotropic cell lifts it by
  // ~3.4σ of the across-cell noise (rank 33 → rank 12 measured), and
  // cos² is sign-invariant, so antipodal drift mass is exactly as
  // visible as its positive image. Cost: one corpus pass to build
  // (per-partition partial Grams, k·d² bytes shuffled), k·d² driver
  // bytes to rank (64 cells × 64² doubles ≈ 2 MB here; at production
  // d store the top-J eigenpairs of M_c instead — the score is a sum
  // of squared projections either way). NOT a bound — a ranking;
  // recall is measured (MomentProbeSpec, ScaleRetrain), never assumed.

  /** One pass over the materialized assignment: per-cell Gram matrix
    * M_c = Σ u uᵀ / n over UNIT-normalized members, written as the
    * `moments/` sidecar (k rows of d² doubles, row-major). Generation-
    * pinned like the radii: must be refreshed when the assignment
    * changes; the moment-aware rankers fail loudly without it.
    */
  def saveCellMoments(spark: SparkSession, indexDir: String): Unit = {
    val st = readLiveState(spark, indexDir)
    saveCellMomentsFor(spark, liveBaseDir(indexDir, st.gen),
      geomDir(indexDir, "moments", st.gen))
  }

  private[ops] def saveCellMomentsFor(spark: SparkSession, assignmentDir: String,
      momentsDir: String): Unit = {
    val src = spark.read.parquet(assignmentDir)
      .select(col("cluster").cast("int").as("cluster"), col("embedding"))
    // per-partition partial Grams, then one k-keyed reduce: the only
    // thing that crosses the wire is k × d² doubles per partition —
    // never the corpus
    val partials = src.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[Int, (Array[Double], Long)]
      var d = -1
      it.foreach { r =>
        val c = r.getInt(0)
        val e = r.getSeq[Float](1)
        if (d < 0) d = e.length
        var norm = 0.0
        var i = 0
        while (i < d) { val x = e(i).toDouble; norm += x * x; i += 1 }
        if (norm > 0) {
          val inv = 1.0 / norm // u uᵀ / |e|² — unit-normalized outer product
          val (g, _) = acc.getOrElseUpdate(c, (new Array[Double](d * d), 0L))
          i = 0
          while (i < d) {
            val ei = e(i).toDouble * inv
            var j = 0
            while (j < d) { g(i * d + j) += ei * e(j).toDouble; j += 1 }
            i += 1
          }
          acc(c) = (g, acc(c)._2 + 1)
        }
      }
      acc.iterator
    }.reduceByKey { (x, y) =>
      val (g1, n1) = x
      val (g2, n2) = y
      var i = 0
      while (i < g1.length) { g1(i) += g2(i); i += 1 }
      (g1, n1 + n2)
    }
    import spark.implicits._
    partials
      .map { case (c, (g, n)) =>
        val m = new Array[Double](g.length)
        var i = 0
        while (i < g.length) { m(i) = g(i) / n; i += 1 }
        (c, m.toSeq)
      }
      .toDF("cluster", "moment")
      .coalesce(1)
      .write.mode("overwrite").parquet(momentsDir)
  }

  /** Load the moment sidecar for EXACTLY the live data generation (the
    * radii discipline: a stale sidecar would silently mis-rank).
    */
  private[graft] def loadMomentsFor(spark: SparkSession, indexDir: String,
      st: LiveState): Map[Int, Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(geomDir(indexDir, "moments", st.gen))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$indexDir has no moments sidecar for generation ${st.gen} — the second-moment " +
        "ranking is only meaningful against the exact base it scans; run " +
        "IvfIndex.saveCellMoments(spark, indexDir) after the build or after any compaction")
    spark.read.parquet(p.toString).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
  }

  /** Probe ranking by MEAN SQUARED member cosine: qᵀ M_c q with q
    * unit-normalized. Ties (and cells with no recorded moment — only
    * empty cells lack one) fall back to centroid cosine then id.
    */
  def probeCellsMomentAware(centroids: Centroids, moments: Map[Int, Array[Double]],
      query: Array[Float], nprobe: Int): Seq[Int] =
    rankCellsMomentAware(centroids, moments, query).take(nprobe).map(_._1)

  private def rankCellsMomentAware(centroids: Centroids,
      moments: Map[Int, Array[Double]], query: Array[Float]): Seq[(Int, Double)] = {
    val d = query.length
    var qn = 0.0
    var i = 0
    while (i < d) { qn += query(i).toDouble * query(i); i += 1 }
    val inv = if (qn > 0) 1.0 / qn else 0.0
    def score(m: Array[Double]): Double = {
      var s = 0.0
      var a = 0
      while (a < d) {
        val qa = query(a).toDouble
        var b = 0
        val row = a * d
        while (b < d) { s += qa * m(row + b) * query(b); b += 1 }
        a += 1
      }
      s * inv
    }
    centroids.toSeq
      .map { case (c, v) =>
        (c, moments.get(c).map(score).getOrElse(-1.0), cosineLocal(v, query))
      }
      .sortBy { case (c, ms, cc) => (-ms, -cc, c) }
      .map { case (c, ms, _) => (c, ms) }
  }

  /** Range search over the materialized index: the kept cells are
    * picked on the driver from the two k-row sidecars, the scan reads
    * ONLY those partitions, and every survivor with rounded cosine
    * >= tau comes back exactly — `(vec_id, cos_sim)`, (score desc,
    * vec_id asc) order, variable cardinality by construction.
    */
  def rangeSearchIndex(
      spark: SparkSession,
      indexDir: String,
      q: Array[Float],
      tau: Double,
      excludeId: Option[Long] = None): DataFrame = {
    val st = readLiveState(spark, indexDir)
    // fail LOUDLY on a churning index: this path reads only the base
    // generation, so unconsumed stream/tombstone batches would be
    // silently ignored — stale answers, the one failure mode worse
    // than an error
    require(pendingBatchIds(spark, indexDir, st).isEmpty,
      s"$indexDir has unconsumed stream/tombstone batches — the static range search " +
        "would silently ignore them; use rangeSearchIndexLive (merge-on-read) or " +
        "compact first")
    val cents = loadCentroidsAt(spark, indexDir, st)
    val radii = loadRadiiFor(spark, indexDir, st)
    val kept = rangeKeptCells(cents, radii, q, tau)
    val pruned = spark.read.parquet(liveBaseDir(indexDir, st.gen))
      .filter(col("cluster").isin(kept.map(x => x: Any): _*))
    val excluded = excludeId.fold(pruned)(id => pruned.filter(col("vec_id") =!= id))
    excluded
      .select(col("vec_id"),
        round(cosine_similarity(col("embedding"), litVec(q)), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .orderBy(col("cos_sim").desc, col("vec_id"))
  }

  /** True iff `dir` holds at least one `batch=` partition — vacuum can
    * leave the parent dir behind empty, and reading it would fail
    * schema inference.
    */
  private def hasBatchDirs(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("batch="))
  }

  /** `base` ∪ the unconsumed upsert channel — the merge-on-read union
    * shared by live search, live range search, and the compactions.
    * `base` must carry (vec_id, embedding, cluster, batch) with batch =
    * −1 (any tombstone outranks generation rows under LWW); channel
    * rows keep their epoch. `through` bounds the window for the
    * compactions (a fold must not consume batches landing after it
    * chose its high-water mark).
    */
  private def withLiveChannel(spark: SparkSession, indexDir: String, st: LiveState,
      base: DataFrame, through: Option[Long] = None): DataFrame = {
    def inWindow(c: Column): Column =
      through.fold(c > st.consumedThrough)(t => c > st.consumedThrough && c <= t)
    val streamPath = s"$indexDir/stream_assignment"
    if (hasBatchDirs(spark, streamPath))
      base.unionByName(spark.read.parquet(streamPath)
        .filter(inWindow(col("batch")))
        .select(col("vec_id"), col("embedding"), col("cluster"), col("batch")))
    else base
  }

  /** Merge-on-read tombstones, LAST WRITER WINS by epoch: a row is dead
    * iff some tombstone batch at-or-after it names its id (base rows at
    * batch −1 die to any tombstone; a re-upsert in a LATER batch than
    * the delete resurfaces). One row per deleted id, broadcast —
    * k-scale, never corpus-scale — so the anti-join adds no shuffle and
    * any partition prune applied upstream is untouched.
    */
  private def applyTombstones(spark: SparkSession, indexDir: String, st: LiveState,
      df: DataFrame, through: Option[Long] = None): DataFrame = {
    val tombPath = s"$indexDir/tombstones"
    if (!hasBatchDirs(spark, tombPath)) df
    else {
      def inWindow(c: Column): Column =
        through.fold(c > st.consumedThrough)(t => c > st.consumedThrough && c <= t)
      val tombs = spark.read.parquet(tombPath)
        .filter(inWindow(col("batch")))
        .groupBy("vec_id").agg(max(col("batch")).as("tomb_batch"))
      df.join(broadcast(tombs), Seq("vec_id"), "left")
        .filter(col("tomb_batch").isNull || col("tomb_batch") < col("batch"))
        .drop("tomb_batch")
    }
  }

  /** Range search over a CHURNING index — merge-on-read, exact. The
    * BASE arm keeps the lossless cell-bound prune (radii must describe
    * the live base generation — [[saveCellRadii]] after any
    * compaction); the PENDING arm scans the whole unconsumed channel —
    * it is bounded by the rebuild/compaction policy, and the radii
    * sidecar says nothing about rows the k-means never saw, so a prune
    * there could not be lossless. Versions resolve LAST-WRITER-WINS
    * across BOTH arms before the threshold (an embedding re-upsert
    * MOVES the vector: whether the id qualifies at `tau` must be
    * judged by the latest version, never by a stale base row — the
    * NswIndex LWW-before-prune lesson applied to the range shape);
    * tombstones kill by epoch as everywhere. Output is exactly the
    * brute-force threshold scan over the live corpus view
    * (spec-pinned; fully exact oracle).
    */
  def rangeSearchIndexLive(
      spark: SparkSession,
      indexDir: String,
      q: Array[Float],
      tau: Double,
      excludeId: Option[Long] = None,
      preloadedCents: Option[Centroids] = None): DataFrame = {
    val st = readLiveState(spark, indexDir)
    // see searchIndexLive: caller-held geometry skips the sidecar collect
    val cents = preloadedCents.getOrElse(loadCentroidsAt(spark, indexDir, st))
    val radii = loadRadiiFor(spark, indexDir, st)
    val kept = rangeKeptCells(cents, radii, q, tau)
    val base = spark.read.parquet(liveBaseDir(indexDir, st.gen))
      .filter(col("cluster").isin(kept.map(x => x: Any): _*))
      .select(col("vec_id"), col("embedding"), col("cluster"), lit(-1L).as("batch"))
    val afterTombs = applyTombstones(spark, indexDir, st,
      withLiveChannel(spark, indexDir, st, base))
    // LWW FIRST (one row per id, latest epoch's embedding), threshold
    // SECOND — the grouped frame is kept base cells + the bounded
    // channel, never the whole corpus
    val lww = afterTombs
      .groupBy("vec_id")
      .agg(max_by(col("embedding"), col("batch")).as("embedding"))
    val excluded = excludeId.fold(lww)(id => lww.filter(col("vec_id") =!= id))
    excluded
      .select(col("vec_id"),
        round(cosine_similarity(col("embedding"), litVec(q)), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .orderBy(col("cos_sim").desc, col("vec_id"))
  }

  /** TIME-TRAVEL search: the index exactly as generation `gen` served
    * it — the [[graft.sources.TrainingShards.readAsOf]] story for the
    * SERVING side (reproducing which index state answered a past
    * query). A generation is a COMPACTED state: the fold of everything
    * consumed through its marker; channels streamed after it belong to
    * later generations by definition. Geometry resolves to the newest
    * sidecar at-or-before `gen`, so a retrain BETWEEN two generations
    * time-travels with the data (searching gen n−1 probes the
    * centroids gen n−1 actually probed). Fails loudly when the
    * generation is in the future or vacuum has reclaimed its base —
    * never a silently-wrong corpus.
    */
  def searchIndexAsOf(
      spark: SparkSession,
      indexDir: String,
      gen: Long,
      queryVec: Array[Float],
      k: Int,
      nprobe: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val st = readLiveState(spark, indexDir)
    require(gen <= st.gen,
      s"generation $gen of $indexDir does not exist yet (live generation is ${st.gen})")
    val basePath = new org.apache.hadoop.fs.Path(liveBaseDir(indexDir, gen))
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(basePath),
      s"generation $gen of $indexDir is not readable — vacuum reclaimed it (live is " +
        s"${st.gen}); pin vacuumLiveIndex's retainGenerations to the history depth a " +
        "reproducible serving replay needs")
    val g = geometryGen(spark, indexDir, "centroids", gen)
    val cents = collectCentroids(
      spark.read.parquet(geomDir(indexDir, "centroids", g)).select("cluster", "centroid"))
    val probes = probeCells(cents, queryVec, nprobe).map(c => c: Any)
    val pruned = spark.read.parquet(basePath.toString)
      .filter(col("cluster").isin(probes: _*))
    val excluded = excludeId.fold(pruned)(id => pruned.filter(col("vec_id") =!= id))
    excluded
      .select(col("vec_id"),
        round(cosine_similarity(col("embedding"), litVec(queryVec)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Search a LIVE index: the marker-resolved base generation plus
    * everything [[graft.streaming.IndexStreams]] has streamed into
    * `stream_assignment/` since the fold. The corpus-scale BASE scan is
    * partition-pruned to the probed cells at plan time; the BOUNDED
    * channel is scanned whole, versions resolve LAST-WRITER-WINS by
    * epoch BEFORE the probe prune re-applies (a re-upserted vec_id is
    * served ONCE, by its latest embedding and latest cell — never twice,
    * and never from a stale base row in a probed cell when its current
    * version moved to an unprobed one; IndexTombstoneSpec pins
    * upsert-over-upsert), and tombstones kill by epoch as everywhere.
    */
  def searchIndexLive(
      spark: SparkSession,
      indexDir: String,
      queryVec: Array[Float],
      k: Int,
      nprobe: Int,
      excludeId: Option[Long] = None,
      radiusAware: Boolean = false,
      momentAware: Boolean = false,
      preloadedCents: Option[Centroids] = None
  ): DataFrame = {
    require(!(radiusAware && momentAware), "pick ONE probe ranking: radiusAware or momentAware")
    val st = readLiveState(spark, indexDir)
    // preloadedCents: the caller holds the serving geometry already
    // (build/bootstrap returned it) and asserts no retrain has happened
    // since — skips one sidecar read + collect job per search. Any path
    // that MAY span a retrain must pass None and pay the resolve.
    val cents = preloadedCents.getOrElse(loadCentroidsAt(spark, indexDir, st))
    // radius-/moment-aware rankings read the serving generation's
    // sidecars — BASE-generation statistics used as probe heuristics
    // (the unconsumed channel has no sidecar and neither ranking makes
    // a lossless claim)
    val probes = (if (momentAware)
      probeCellsMomentAware(cents, loadMomentsFor(spark, indexDir, st), queryVec, nprobe)
    else if (radiusAware)
      probeCellsRadiusAware(cents, loadRadiiFor(spark, indexDir, st), queryVec, nprobe)
    else probeCells(cents, queryVec, nprobe)).map(c => c: Any)
    // QUIESCENT fast path (the NswIndex empty-channel parity shape):
    // with no batch dirs in either churn channel there is nothing to
    // merge, so the LWW groupBy — an exchange over every probed cell —
    // would aggregate rows that are already one-version-per-id. Serve
    // the plain pruned base scan instead; the merge path below is paid
    // only when a channel actually holds batches.
    if (!hasBatchDirs(spark, s"$indexDir/stream_assignment") &&
        !hasBatchDirs(spark, s"$indexDir/tombstones")) {
      val prunedBase = spark.read.parquet(liveBaseDir(indexDir, st.gen))
        .filter(col("cluster").isin(probes: _*))
      val excludedBase = excludeId.fold(prunedBase)(id => prunedBase.filter(col("vec_id") =!= id))
      return excludedBase
        .select(col("vec_id"),
          round(cosine_similarity(col("embedding"), litVec(queryVec)), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(k)
    }
    // base rows carry batch = -1: ANY tombstone outranks them under the
    // last-writer-wins merge ([[applyTombstones]]); channel batches at
    // or before consumedThrough are already folded into the base —
    // reading them again would double-serve ([[withLiveChannel]]'s
    // window; `batch` is a partition column, so directory-level pruning)
    val base = spark.read.parquet(liveBaseDir(indexDir, st.gen))
      .filter(col("cluster").isin(probes: _*))
      .select(col("vec_id"), col("embedding"), col("cluster"), lit(-1L).as("batch"))
    val withTombs = applyTombstones(spark, indexDir, st,
      withLiveChannel(spark, indexDir, st, base))
    // LWW BEFORE the probe prune (the [[rangeSearchIndexLive]] discipline,
    // applied here too so the two live serving paths share version
    // semantics): a vec_id re-upserted in a later batch without an
    // intervening tombstone must be served ONCE, by its latest embedding
    // and latest cluster — never twice, and never by a stale base row in
    // a probed cell when its current version moved to an unprobed one.
    // Grouped frame = probed base cells + the bounded channel, not the
    // corpus; base rows ride batch=-1 so any channel version outranks them.
    val lww = withTombs
      .groupBy("vec_id")
      .agg(max_by(struct(col("embedding"), col("cluster")), col("batch")).as("v"))
      .select(col("vec_id"), col("v.embedding").as("embedding"),
        col("v.cluster").as("cluster"))
    val pruned = lww.filter(col("cluster").isin(probes: _*))
    val excluded = excludeId.fold(pruned)(id => pruned.filter(col("vec_id") =!= id))
    excluded
      .select(col("vec_id"), round(cosine_similarity(col("embedding"), litVec(queryVec)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCHED live search — a whole query panel answered in ONE Spark
    * job over the merged live view (the [[graft.ops.Sq8Index.searchIvfMany]]
    * serving shape applied to [[searchIndexLive]]'s semantics). The
    * panel is routed on the driver, the base scan is partition-pruned
    * ONCE to the UNION of all routed cells, versions resolve
    * last-writer-wins over (union-pruned base + bounded channel) —
    * sound because a vec_id's base row exists at most once and any
    * channel version outranks it (batch −1), so the union-frame LWW
    * winner equals every per-query frame's winner — then each surviving
    * row scores against exactly the queries routed to its CURRENT cell
    * (per-query `when(cluster IN routed, …)` column stack, all inside
    * WholeStageCodegen), and per-query top-k select through bounded
    * [[graft.functions.TopKAggregates.minK]] heaps on the ROUNDED score
    * — the same total order as the single-query path, so the batch is
    * row-identical per query to Q [[searchIndexLive]] calls
    * (LiveBatchParitySpec pins this under a full churn script). At
    * 100 TB the panel's shared cells are read once instead of up to Q
    * times, and the driver never loops: one job, Q × k rows out.
    */
  def searchIndexLiveMany(
      spark: SparkSession,
      indexDir: String,
      queries: Map[Long, Array[Float]],
      k: Int,
      nprobe: Int,
      excludeSelf: Boolean = false,
      preloadedCents: Option[Centroids] = None): DataFrame = {
    import graft.functions.TopKAggregates.minK
    require(queries.nonEmpty, "searchIndexLiveMany needs at least one query")
    val st = readLiveState(spark, indexDir)
    // see searchIndexLive: caller-held geometry skips the sidecar collect
    val cents = preloadedCents.getOrElse(loadCentroidsAt(spark, indexDir, st))
    val routing: Map[Long, Seq[Int]] =
      queries.map { case (qid, qv) => qid -> probeCells(cents, qv, nprobe) }
    val cellsUnion = routing.values.flatten.toSeq.distinct.sorted.map(c => c: Any)
    val quiescent = !hasBatchDirs(spark, s"$indexDir/stream_assignment") &&
      !hasBatchDirs(spark, s"$indexDir/tombstones")
    // live view over the probe UNION: quiescent indexes serve the plain
    // pruned base scan (no merge exchange); otherwise LWW before the
    // per-query prune, exactly the single-query discipline
    val liveView: DataFrame =
      if (quiescent)
        spark.read.parquet(liveBaseDir(indexDir, st.gen))
          .filter(col("cluster").isin(cellsUnion: _*))
          .select(col("vec_id"), col("embedding"), col("cluster").cast("int").as("cluster"))
      else {
        val base = spark.read.parquet(liveBaseDir(indexDir, st.gen))
          .filter(col("cluster").isin(cellsUnion: _*))
          .select(col("vec_id"), col("embedding"), col("cluster"), lit(-1L).as("batch"))
        applyTombstones(spark, indexDir, st, withLiveChannel(spark, indexDir, st, base))
          .groupBy("vec_id")
          .agg(max_by(struct(col("embedding"), col("cluster")), col("batch")).as("v"))
          .select(col("vec_id"), col("v.embedding").as("embedding"),
            col("v.cluster").cast("int").as("cluster"))
      }
    val perQuery = queries.toSeq.sortBy(_._1).map { case (qid, q) =>
      val admit = col("cluster").isin(routing(qid).map(x => x: Any): _*) &&
        (if (excludeSelf) col("vec_id") =!= lit(qid) else lit(true))
      struct(lit(qid).as("query_id"),
        when(admit, round(cosine_similarity(col("embedding"), litVec(q)), 6)).as("cos_sim"))
    }
    // minK's output array is already ASCENDING in (−cos, vec_id) =
    // the single-query (cos desc, vec_id asc) serving order, so
    // posexplode recovers dense ranks 1..k directly
    liveView
      .select(col("vec_id"), explode(array(perQuery: _*)).as("qa"))
      .filter(col("qa.cos_sim").isNotNull)
      .select(col("qa.query_id").as("query_id"), col("vec_id"), col("qa.cos_sim").as("cos_sim"))
      .groupBy("query_id")
      .agg(minK(struct((-col("cos_sim")).as("nc"), col("vec_id"), col("cos_sim")), k).as("recs"))
      .select(col("query_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("rec.vec_id").as("vec_id"), col("rec.cos_sim").as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  // ---- ADAPTIVE probing: per-query probe depth from the stop bound ----
  //
  // Fixed-nprobe probing has a measured failure class (ScaleRetrain's
  // resize phase): a query whose whole truth clique sits in ONE cell
  // that the ranking places just past the probe cutoff scores recall 0
  // while its neighbors' queries are fine — no single nprobe fits every
  // query. Adaptive probing spends bytes where the BOUND says they can
  // still pay: cells are visited in best-possible-member order
  // (cos(max(0, θ−r)), the [[probeCellsRadiusAware]] / [[rangeKeptCells]]
  // spherical bound), in chunks of one Spark job each, and the walk
  // stops as soon as the running k-th similarity meets the next
  // unvisited cell's bound — PROVABLY no unvisited cell can hold a
  // strictly better member, so the top-k equals the full scan's
  // (spec-pinned; [[AdaptiveStopSlack]] absorbs the acos/cos rounding
  // so the guarantee survives float noise). Easy queries stop after a
  // handful of cells; a q13-shaped query keeps paying until its clique
  // cell is read; `probeCap` bounds the worst case. At 100 TB each
  // chunk is a partition-pruned scan of only the NEW cells' bytes and
  // the driver holds k rows per chunk — the loop adds latency (a few
  // sequential jobs), never volume.

  /** Slack for the adaptive stop rule: stop only when the k-th found
    * similarity exceeds the next cell's bound by this margin, so the
    * acos/cos round-trip error in the bound (≤ ~1e-8) and the 6-dp
    * result rounding can never fake stability the true values lack.
    */
  private val AdaptiveStopSlack = 2e-6

  /** Adaptive search outcome: the top-k frame (same (vec_id, cos_sim)
    * shape and rounding as [[searchIndex]]), the cells actually read in
    * bound order, whether the walk stopped because the bound proved
    * the top-k stable (vs exhausting `probeCap` or the cell list), and
    * the per-chunk (cells-probed, k-th-found, next-bound) trace — the
    * operating-point evidence ScaleRetrain reads.
    */
  final case class AdaptiveProbe(result: DataFrame, probed: Seq[Int],
    stoppedByBound: Boolean, trace: Seq[(Int, Double, Double)] = Nil)

  /** Adaptive top-k over a LIVE index. The churn channel is BOUNDED
    * (by the compaction policy), so it is served WHOLE, upfront, as its
    * own arm: unconsumed upserts LWW-resolved and tombstone-filtered,
    * scored in one job regardless of cell — which both seeds the
    * running top-k (channel hits can only stop the walk EARLIER) and
    * keeps the stop rule SOUND (no channel row can hide in a cell the
    * bound never visits; note this serves channel rows from ALL cells
    * where the fixed-nprobe [[searchIndexLive]] probe-prunes them — a
    * strict recall improvement on the churn tail). Base chunks then
    * exclude every id with channel activity (broadcast anti-join — the
    * shadowed/deleted base versions must not serve), and the
    * base-generation radii bound the base-only remainder. With empty
    * channels the walk reads base cells only. Requires the radii
    * sidecar ([[saveCellRadii]]).
    */
  def searchIndexLiveAdaptive(
      spark: SparkSession,
      indexDir: String,
      queryVec: Array[Float],
      k: Int,
      minProbe: Int,
      probeStep: Int,
      probeCap: Int,
      excludeId: Option[Long] = None,
      momentAware: Boolean = false): AdaptiveProbe = {
    val st = readLiveState(spark, indexDir)
    require(minProbe >= 1 && probeStep >= 1 && probeCap >= minProbe,
      s"bad adaptive probe schedule: minProbe=$minProbe step=$probeStep cap=$probeCap")
    val cents = loadCentroidsAt(spark, indexDir, st)
    val radii = loadRadiiFor(spark, indexDir, st)
    // every cell with its best-possible-member bound (the stop rule's
    // certificate), visited either in bound order (default) or in
    // second-moment order (momentAware — the submerged-clique router).
    // The stop rule stays SOUND under ANY visit order by comparing the
    // k-th found against the MAX bound over the not-yet-visited suffix.
    val withBounds: Seq[(Int, Double, Double)] = cents.toSeq
      .map { case (c, v) =>
        val cosQC = cosineLocal(v, queryVec)
        val theta = math.acos(math.max(-1.0, math.min(1.0, cosQC)))
        (c, math.cos(math.max(0.0, theta - radii.getOrElse(c, 0.0))), cosQC)
      }
    val ranked: Seq[(Int, Double)] =
      if (momentAware) {
        val boundOf = withBounds.map(t => t._1 -> t._2).toMap
        rankCellsMomentAware(cents, loadMomentsFor(spark, indexDir, st), queryVec)
          .map { case (c, _) => (c, boundOf(c)) }
      } else withBounds
        .sortBy { case (c, b, cc) => (-b, -cc, c) }
        .map { case (c, b, _) => (c, b) }
    // suffix max of bounds over the visit order: stopBound(i) = the best
    // any cell from position i on could still promise
    val stopBound: Array[Double] = {
      val a = new Array[Double](ranked.length + 1)
      a(ranked.length) = Double.NegativeInfinity
      var i = ranked.length - 1
      while (i >= 0) { a(i) = math.max(ranked(i)._2, a(i + 1)); i -= 1 }
      a
    }
    val streamPath = s"$indexDir/stream_assignment"
    val tombPath = s"$indexDir/tombstones"
    val hasStream = hasBatchDirs(spark, streamPath)
    val hasTombs = hasBatchDirs(spark, tombPath)
    def unconsumed(path: String): DataFrame =
      spark.read.parquet(path).filter(col("batch").cast("long") > st.consumedThrough)

    def collectTopK(scored: DataFrame): Seq[(Long, Double)] =
      scored
        .select(col("vec_id"),
          cosine_similarity(col("embedding"), litVec(queryVec)).as("sim"))
        .orderBy(round(col("sim"), 6).desc, col("vec_id"))
        .limit(k)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // whole-channel arm: the bounded churn tail, LWW + tombstones, one job
    val channelSeed: Seq[(Long, Double)] =
      if (!hasStream) Seq.empty
      else {
        val latest = unconsumed(streamPath)
          .groupBy("vec_id")
          .agg(max_by(col("embedding"), col("batch").cast("long")).as("embedding"),
            max(col("batch").cast("long")).as("b"))
        val alive =
          if (!hasTombs) latest
          else {
            val tombs = unconsumed(tombPath)
              .groupBy("vec_id").agg(max(col("batch").cast("long")).as("tb"))
            latest.join(broadcast(tombs), Seq("vec_id"), "left")
              .filter(col("tb").isNull || col("tb") < col("b"))
          }
        collectTopK(excludeId.fold(alive)(id => alive.filter(col("vec_id") =!= id)))
      }
    // base rows whose ids have ANY channel activity are shadowed
    // (served by the channel arm's latest version) or dead — excluded
    // from every chunk via a broadcast anti-join, never a giant isin
    val exclIds: Option[DataFrame] = {
      val arms = Seq(
        if (hasStream) Some(unconsumed(streamPath).select("vec_id")) else None,
        if (hasTombs) Some(unconsumed(tombPath).select("vec_id")) else None).flatten
      if (arms.isEmpty) None else Some(arms.reduce(_ unionByName _).distinct())
    }

    // one chunk = one partition-pruned job over only the NEW cells;
    // rows come back UNROUNDED for the stop rule, ordered and retained
    // under the serving discipline (6-dp round desc, vec_id asc)
    def chunkTopK(chunk: Seq[Int]): Seq[(Long, Double)] = {
      val scan = spark.read.parquet(liveBaseDir(indexDir, st.gen))
        .filter(col("cluster").isin(chunk.map(c => c: Any): _*))
      val dropped = exclIds.fold(scan)(e => scan.join(broadcast(e), Seq("vec_id"), "left_anti"))
      collectTopK(excludeId.fold(dropped)(id => dropped.filter(col("vec_id") =!= id)))
    }

    // 6-dp rounding identical to Catalyst's Round (HALF_UP on BigDecimal
    // — math.round would disagree on negative half-boundaries)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val serveOrdering = Ordering.by[(Long, Double), (Double, Long)] {
      case (id, sim) => (-r6(sim), id)
    }
    var retained = channelSeed.sorted(serveOrdering).take(k).toVector
    var probed = Vector.empty[Int]
    var stoppedByBound = false
    var trace = Vector.empty[(Int, Double, Double)]
    val cap = math.min(probeCap, ranked.length)
    while (!stoppedByBound && probed.length < cap) {
      val take = if (probed.isEmpty) math.min(minProbe, cap) else math.min(probeStep, cap - probed.length)
      val chunk = ranked.slice(probed.length, probed.length + take).map(_._1)
      retained = (retained ++ chunkTopK(chunk)).sorted(serveOrdering).take(k)
      probed = probed ++ chunk
      val kth = if (retained.length >= k) retained.map(_._2).min else Double.NegativeInfinity
      if (probed.length >= ranked.length) {
        stoppedByBound = true // exhausted = full scan
        trace = trace :+ ((probed.length, kth, Double.NegativeInfinity))
      } else {
        val remaining = stopBound(probed.length)
        trace = trace :+ ((probed.length, kth, remaining))
        if (retained.length >= k && kth >= remaining + AdaptiveStopSlack) stoppedByBound = true
      }
    }
    import spark.implicits._
    val result = retained
      .map { case (id, sim) => (id, r6(sim)) }
      .toDF("vec_id", "cos_sim")
    AdaptiveProbe(result, probed, stoppedByBound, trace)
  }

  // ---- live-index lifecycle: tombstones, generations, compaction -----
  //
  // A 100 TB corpus CHURNS: documents get removed (takedowns, dedup
  // verdicts, curation demotions) while the serving index keeps
  // answering. Deletes ride the same batch=<epoch> partition channel as
  // upserts ([[graft.streaming.IndexStreams.tombstoneBatch]]), searches
  // apply them merge-on-read (above), and compaction folds base +
  // streamed upserts − tombstones into a NEW base generation so the
  // merge debt never grows unboundedly. The generation/retention
  // machinery mirrors graft-shards' ([[graft.sources.TrainingShards
  // .vacuum]]): a marker names the live generation, superseded
  // generations stay on disk until [[vacuumLiveIndex]] reclaims them
  // under a retention count, and every step is replay-idempotent
  // (deterministic recompute + atomic marker publish).

  /** Live-index marker state: which base generation serves, and the
    * highest stream/tombstone batch id folded into it. Generation 0 is
    * the original `assignment/` dir (what [[build]]/[[bootstrap]]
    * write); compactions produce `assignment_g<n>`.
    */
  final case class LiveState(gen: Long, consumedThrough: Long)

  private[graft] def liveBaseDir(indexDir: String, gen: Long): String =
    if (gen == 0L) s"$indexDir/assignment" else s"$indexDir/assignment_g$gen"

  private val LiveStateFile = "_LIVE_STATE"

  def readLiveState(spark: SparkSession, indexDir: String): LiveState = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$LiveStateFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) LiveState(0L, -1L)
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      val parts = new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")
      require(parts.length == 2,
        s"corrupt $LiveStateFile under $indexDir: '${new String(buf)}' — refusing to guess")
      LiveState(parts(0).toLong, parts(1).toLong)
    }
  }

  private[ops] def publishLiveState(spark: SparkSession, indexDir: String, st: LiveState): Unit = {
    val dest = new org.apache.hadoop.fs.Path(s"$indexDir/$LiveStateFile")
    graft.ingest.Publish.file(dest.getFileSystem(spark.sparkContext.hadoopConfiguration), dest,
      s"${st.gen} ${st.consumedThrough}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Fold the live view into a fresh base generation: current base +
    * unconsumed stream batches, tombstones applied, RE-UPSERT
    * DUPLICATES RESOLVED (one row per vec_id, the latest batch wins —
    * compaction is where the append-only upsert contract's duplicates
    * retire). Writes `assignment_g<gen+1>` partitioned by cluster, then
    * atomically publishes the marker; the consumed batch dirs and the
    * old generation stay on disk for in-flight readers until
    * [[vacuumLiveIndex]]. Crash-safe: before the marker publish nothing
    * references the new dir (readers stay consistent on the old state);
    * a replay recomputes the identical merge (deterministic inputs,
    * overwrite mode) and re-publishes the same marker.
    */
  def compactLiveIndex(spark: SparkSession, indexDir: String): LiveState = {
    val st = readLiveState(spark, indexDir)
    val pending = pendingBatchIds(spark, indexDir, st)
    if (pending.isEmpty) return st
    val through = pending.max
    foldLiveView(spark, indexDir, st, through)
      .write.mode("overwrite")
      .partitionBy("cluster")
      .parquet(liveBaseDir(indexDir, st.gen + 1))
    val next = LiveState(st.gen + 1, through)
    publishLiveState(spark, indexDir, next)
    next
  }

  /** RETRAIN the coarse quantizer on the folded live corpus — the
    * DRIFT compaction. Every plain compaction keeps the build-time
    * centroids forever, so a corpus whose distribution drifts (new
    * languages, new embedding model, a churn wave landing in a region
    * the original k-means never saw) serves from cells that no longer
    * partition it: drifted vectors crowd into whichever stale cells
    * are least bad, and a drifted query's nprobe cells systematically
    * miss where its neighbours were filed — the measured recall
    * ceiling every churn fixture inherits. This compaction re-runs
    * [[train]] on the fold (base + unconsumed upserts − tombstones,
    * last-writer-wins — the [[compactLiveIndex]] merge), REASSIGNS
    * every survivor under the new geometry, and publishes data +
    * centroids + radii as one atomic generation flip:
    * `assignment_g<n+1>`, `centroids_g<n+1>`, `radii_g<n+1>` are all
    * written before the marker names generation n+1, and every reader
    * resolves geometry THROUGH the marker ([[loadCentroids]] /
    * [[rangeSearchIndex]]), so a crash at any point leaves the old
    * generation serving consistently — geometry can never mix with
    * the wrong generation's assignment. Replay-idempotent: the fold,
    * the deterministic k-means (init from the k lowest vec_ids), and
    * the overwrite-mode writes recompute identical state and republish
    * the same marker. Unlike the plain compaction this runs even with
    * EMPTY churn channels (retraining a static index against its own
    * accumulated drift is the point), and at 100 TB it is the
    * quarterly/monthly re-shard every production vector store
    * schedules — full-corpus k-means + one full rewrite, priced like
    * the initial build, amortized over every search between retrains.
    */
  def retrainLiveIndex(spark: SparkSession, indexDir: String, k: Int, iters: Int): LiveState = {
    val st = readLiveState(spark, indexDir)
    val through = (pendingBatchIds(spark, indexDir, st) :+ st.consumedThrough).max
    // materialize the fold before training iterates it (k-means makes
    // `iters` passes) and before anything under indexDir is rewritten
    val survivors = foldLiveView(spark, indexDir, st, through)
      .select("vec_id", "embedding")
      .localCheckpoint(true)
    val cents = train(survivors, k, iters)
    val nextGen = st.gen + 1
    assign(survivors, cents)
      .write.mode("overwrite")
      .partitionBy("cluster")
      .parquet(liveBaseDir(indexDir, nextGen))
    saveCentroidsTo(spark, cents, geomDir(indexDir, "centroids", nextGen))
    saveCellRadiiFor(spark, indexDir, cents,
      liveBaseDir(indexDir, nextGen), geomDir(indexDir, "radii", nextGen))
    val next = LiveState(nextGen, through)
    publishLiveState(spark, indexDir, next)
    next
  }

  /** Stream/tombstone batch ids not yet folded into the live base. */
  private def pendingBatchIds(spark: SparkSession, indexDir: String, st: LiveState): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def batchIds(dir: String): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
    }
    (batchIds(s"$indexDir/stream_assignment") ++
      batchIds(s"$indexDir/tombstones")).filter(_ > st.consumedThrough)
  }

  /** The live fold shared by both compactions: current base +
    * unconsumed stream batches through `through`, tombstones applied
    * last-writer-wins, one row per vec_id (latest epoch wins) —
    * `(vec_id, embedding, cluster)` under the CURRENT geometry.
    */
  private def foldLiveView(spark: SparkSession, indexDir: String,
      st: LiveState, through: Long): DataFrame = {
    val base = spark.read.parquet(liveBaseDir(indexDir, st.gen))
      .select(col("vec_id"), col("embedding"), col("cluster"), lit(-1L).as("batch"))
    val afterTombs = applyTombstones(spark, indexDir, st,
      withLiveChannel(spark, indexDir, st, base, Some(through)), Some(through))
    // one row per vec_id, latest epoch wins; struct ordering compares
    // batch first, so cluster/embedding only break (impossible) ties —
    // deterministic either way
    afterTombs
      .groupBy("vec_id")
      .agg(max(struct(col("batch"), col("cluster"), col("embedding"))).as("r"))
      .select(col("vec_id"), col("r.embedding").as("embedding"), col("r.cluster").as("cluster"))
  }

  /** Reclaim superseded live-index state: base generations older than
    * the retention window and stream/tombstone batch dirs the live
    * generation already folded in. `retainGenerations = 2` (default)
    * keeps the previous generation for in-flight readers — the
    * [[graft.sources.TrainingShards.vacuum]] operating point; `1`
    * keeps only the live one (a straggling reader fails loudly on the
    * missing path, never reads wrong data). Returns deleted dir names.
    * Single-admin contract: not concurrent with compaction or writers.
    */
  def vacuumLiveIndex(spark: SparkSession, indexDir: String, retainGenerations: Int = 2): Seq[String] = {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1 (the live generation is never vacuumable), got $retainGenerations")
    val st = readLiveState(spark, indexDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(conf)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val genFloor = st.gen - (retainGenerations - 1)
    (0L until genFloor).foreach { g =>
      val p = new org.apache.hadoop.fs.Path(liveBaseDir(indexDir, g))
      if (fs.exists(p)) { fs.delete(p, true); deleted += p.getName }
    }
    // geometry dirs: every RETAINED generation g resolves its geometry
    // to the newest sidecar at-or-before g, so the oldest still-needed
    // geometry is genFloor's resolver — anything strictly older is
    // unreachable from any retained generation and reclaims with it
    // (the plain `centroids/` gen-0 dir is never deleted: k rows, and
    // it is the fallback root for marker-less readers)
    // centroids resolve "newest at-or-before" (a plain compaction keeps
    // the last retrain's geometry), so the oldest needed dir is the
    // retention floor's RESOLVER; radii are pinned to their EXACT data
    // generation (the lossless-prune contract), so anything below the
    // floor itself is dead
    Seq("centroids" -> geometryGen(spark, indexDir, "centroids", math.max(genFloor, 0L)),
        "radii" -> math.max(genFloor, 0L)).foreach { case (sub, minNeeded) =>
      fs.listStatus(root).foreach { s0 =>
        val n = s0.getPath.getName
        if (n.startsWith(s"${sub}_g") &&
            n.stripPrefix(s"${sub}_g").toLong < minNeeded) {
          fs.delete(s0.getPath, true)
          deleted += n
        }
      }
    }
    Seq("stream_assignment", "tombstones").foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$sub")
      if (fs.exists(p)) {
        fs.listStatus(p).foreach { s0 =>
          val n = s0.getPath.getName
          if (n.startsWith("batch=") && n.stripPrefix("batch=").toLong <= st.consumedThrough) {
            fs.delete(s0.getPath, true)
            deleted += s"$sub/$n"
          }
        }
      }
    }
    deleted.toSeq
  }

  /** End-to-end: train + probe in one call (the `queries` entry shape).
    * The corpus cache lives only for this call: the result is eagerly
    * materialized via localCheckpoint (its blocks are released by the
    * ContextCleaner once unreferenced, unlike CacheManager entries),
    * then the input cache is dropped — no storage leak across queries.
    */
  def ivfTopK(spark: SparkSession, dir: String, queryId: Long, k: Int): DataFrame = {
    val emb = Tables.t(spark, dir, "embeddings").persist()
    try {
      val centroids = train(emb, k = 16, iters = 3)
      search(emb, centroids, queryId, k, nprobe = 4).localCheckpoint()
    } finally emb.unpersist(blocking = false)
  }
}
