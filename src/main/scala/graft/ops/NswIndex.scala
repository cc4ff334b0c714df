package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-scale graph ANN: one navigable-small-world graph PER IVF CELL,
  * composing the coarse quantizer's partition pruning (s04/s18 —
  * `IvfIndex.probeCells` picks nprobe cells on the driver, the scan
  * reads only those partitions) with the greedy graph walk (s22). This
  * is the production form of the NSW family: s22's single graph is a
  * 256-node demo panel, constant at any SF; here every vector is
  * indexed, the graph build is DISTRIBUTED (one task per cell, the
  * cell-partitioned shape a 100 TB corpus shards naturally), and search
  * cost is nprobe cell walks of O(ef·M) score evaluations each —
  * independent of corpus size once cells are capped.
  *
  * Build is the classic incremental NSW insertion (Malkov et al.,
  * Information Systems 2014): members insert in vec_id order; each
  * searches the current graph with an `efC` frontier, links to its `m`
  * nearest discovered, and back-links are trimmed to `2m` nearest —
  * O(c·efC·m) per cell instead of the O(c²) exact-kNN graph, which is
  * the difference that matters when a cell holds 10⁷ vectors.
  * Deterministic end to end: insertion order, tie-breaks (score desc,
  * vec_id asc), and trims are all totally ordered, so the index — and
  * therefore search — is identical across runs.
  *
  * Scores use the same sequential double fold as the
  * `cosine_similarity` expression, so emitted candidates' cosines are
  * bit-identical to the exact side and the s18-style soundness oracle
  * can demand zero score mismatches.
  */
object NswIndex {
  import IvfIndex.Centroids

  /** CosineSimilarity's exact sequential double fold (the IvfIndex
    * discipline: driver/executor scalar scores must be bit-identical to
    * the expression's).
    */
  private[ops] def cos(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Greedy best-first walk with an `ef` frontier (s22's termination:
    * stop when the best unexpanded candidate cannot improve the worst
    * of the current top-ef). Returns (score, id) sorted best-first.
    */
  private[ops] def greedySearch(
      vecs: scala.collection.Map[Long, Array[Float]],
      adj: scala.collection.Map[Long, Array[Long]],
      entries: Seq[Long],
      q: Array[Float],
      ef: Int): List[(Double, Long)] =
    greedySearchFn(vecs, id => adj.getOrElse(id, Array.empty[Long]), entries, q, ef)

  /** The walk against a neighbour FUNCTION instead of a materialized
    * map, so the layered build can walk one layer of a composite
    * adjacency without copying it per insertion.
    */
  private[ops] def greedySearchFn(
      vecs: scala.collection.Map[Long, Array[Float]],
      adjOf: Long => Array[Long],
      entries: Seq[Long],
      q: Array[Float],
      ef: Int): List[(Double, Long)] =
    greedySearchScored(id => cos(q, vecs(id)), adjOf, entries, ef)

  /** The walk against a SCORE FUNCTION — the float walk scores
    * cos(q, vecs(id)); the SQ8 walk ([[Sq8Index.searchHnsw]]) scores
    * the asymmetric weighted byte-sum against quantized codes without
    * ever touching floats. Same frontier/termination/total-order
    * semantics either way.
    */
  private[ops] def greedySearchScored(
      score: Long => Double,
      adjOf: Long => Array[Long],
      entries: Seq[Long],
      ef: Int): List[(Double, Long)] = {
    // Ordered sets under the SAME total order the old list-sort used
    // ((score desc, id asc) — distinct ids, so it's total), replacing
    // an O(F log F) full-list re-sort per admitted neighbor with
    // O(log F) insert/remove: the walk is the inner loop of every
    // build insertion and every probed-cell search, and the layered
    // build runs it once per node per layer.
    val bestFirst: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)
    val visited = scala.collection.mutable.Set[Long](entries: _*)
    val frontier = scala.collection.mutable.TreeSet.empty[(Double, Long)](bestFirst)
    val best = scala.collection.mutable.TreeSet.empty[(Double, Long)](bestFirst)
    entries.foreach { id => val s = (score(id), id); frontier.add(s); best.add(s) }
    var continue = true
    while (continue && frontier.nonEmpty) {
      val c = frontier.head
      frontier.remove(c)
      val floor = if (best.size < ef) -2.0 else best.last._1 // last = worst kept
      if (c._1 < floor && best.size >= ef) continue = false
      else {
        adjOf(c._2).foreach { nId =>
          if (!visited(nId)) {
            visited += nId
            val sc = score(nId)
            val worst = if (best.size < ef) -2.0 else best.last._1
            if (sc > worst || best.size < ef) {
              frontier.add((sc, nId))
              best.add((sc, nId))
              while (best.size > ef) best.remove(best.last)
            }
          }
        }
      }
    }
    best.toList
  }

  /** Filtered variant of the walk (the filtered-HNSW / ACORN shape):
    * the frontier ROUTES over every node — connectivity must not see
    * the predicate, or the graph fragments into per-attribute islands —
    * while the result set collects ONLY nodes `keep` admits. The floor
    * that terminates the walk is the worst KEPT score, so a sparse
    * predicate keeps the frontier open longer; in the degenerate case
    * (fewer than `ef` kept nodes reachable) the walk visits the whole
    * component — O(cell).
    *
    * REGIME BOUNDARY (measured, `bench_scale.json` `filtered_recall`):
    * under a PERMISSIVE predicate (~90% pass) this walk equals its
    * probe ceiling at every fixture through 30× — its home turf. Under
    * a SELECTIVE predicate (~10%) it holds at gate scale but STRANDS
    * as cells grow (recall@10 min 2/10 at 30× while the ceiling holds
    * 10/10): once `best` fills from one allowed clique, the kept-floor
    * termination fires before navigation crosses DISALLOWED bridge
    * regions to better allowed cliques — a navigation loss, not a cost
    * effect. That regime belongs to [[searchFramePrefiltered]] (exact
    * over the matching rows under a pushed predicate), which is the
    * s27 dispatch's whole point. Determinism discipline matches
    * [[greedySearchFn]].
    */
  private[ops] def greedySearchFilteredFn(
      vecs: scala.collection.Map[Long, Array[Float]],
      adjOf: Long => Array[Long],
      entries: Seq[Long],
      q: Array[Float],
      ef: Int,
      keep: Long => Boolean): List[(Double, Long)] = {
    val bestFirst: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)
    val visited = scala.collection.mutable.Set[Long](entries: _*)
    val frontier = scala.collection.mutable.TreeSet.empty[(Double, Long)](bestFirst)
    val best = scala.collection.mutable.TreeSet.empty[(Double, Long)](bestFirst)
    entries.foreach { id =>
      val s = (cos(q, vecs(id)), id)
      frontier.add(s)
      if (keep(id)) best.add(s)
    }
    var continue = true
    while (continue && frontier.nonEmpty) {
      val c = frontier.head
      frontier.remove(c)
      if (best.size >= ef && c._1 < best.last._1) continue = false
      else {
        adjOf(c._2).foreach { nId =>
          if (!visited(nId)) {
            visited += nId
            val sc = cos(q, vecs(nId))
            if (best.size < ef || sc > best.last._1) {
              frontier.add((sc, nId))
              if (keep(nId)) {
                best.add((sc, nId))
                while (best.size > ef) best.remove(best.last)
              }
            }
          }
        }
      }
    }
    best.toList
  }

  /** Incremental NSW build over one cell's members (already sorted by
    * vec_id). Returns the adjacency.
    */
  private[ops] def buildCellGraph(
      members: Array[(Long, Array[Float])],
      m: Int,
      efC: Int): scala.collection.Map[Long, Array[Long]] = {
    val vecs = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
    val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    def trim(id: Long, cap: Int): Unit = {
      val nb = adj(id)
      if (nb.length > cap) {
        val v = vecs(id)
        val kept = nb.toArray.map(o => (cos(v, vecs(o)), o))
          .sortBy(t => (-t._1, t._2)).take(cap).map(_._2)
        nb.clear(); nb ++= kept
      }
    }
    members.foreach { case (id, v) =>
      if (vecs.isEmpty) {
        vecs(id) = v; adj(id) = scala.collection.mutable.ArrayBuffer.empty[Long]
      } else {
        val entry = vecs.keysIterator.min // deterministic: first-inserted (lowest) id
        val found = greedySearch(vecs, adj.view.mapValues(_.toArray).toMap, Seq(entry), v, efC)
        val links = found.sortBy(t => (-t._1, t._2)).take(m).map(_._2)
        vecs(id) = v
        adj(id) = scala.collection.mutable.ArrayBuffer(links: _*)
        links.foreach { o =>
          adj(o) += id
          trim(o, 2 * m) // back-link cap keeps degree (and task memory) bounded
        }
      }
    }
    adj.view.mapValues(_.toArray).toMap
  }

  /** Train the IVF coarse quantizer, build one NSW graph per cell (one
    * task per cell via `flatMapGroups` — the distributed build), and
    * materialize `(vec_id, embedding, nbrs)` parquet PARTITIONED BY
    * cluster at `indexDir/cells`, so search reads only probed cells'
    * bytes. Returns the centroids for probe routing.
    */
  def build(emb: DataFrame, indexDir: String, k: Int, iters: Int, m: Int, efC: Int,
      metaCol: Option[String] = None): Centroids = {
    val spark = emb.sparkSession
    freshGeneration(spark, indexDir)(gen =>
      buildInto(emb, indexDir, gen, k, iters, m, efC, metaCol))
  }

  /** Publish discipline for FRESH builds over a dir that may carry a
    * prior life (a generation marker, superseded cell generations,
    * channel batches — consumed or not). A virgin dir builds
    * generation 0 plainly. A lived dir gets the rebuild treatment
    * instead of a marker reset: the fresh index is written COMPLETELY
    * as generation `st.gen + 1`, the marker flips atomically with
    * `consumedThrough` advanced past every leftover channel batch, and
    * only then are the channels deleted — pure hygiene, since every
    * leftover epoch is now inside the published window. Crash anywhere
    * BEFORE the flip: the old generation keeps serving with its
    * channel window intact, so unconsumed upserts/tombstones it was
    * merging on read are never silently lost (the hazard of deleting
    * channels ahead of the marker). Crash AFTER the flip: the fresh
    * generation serves and its window excludes every leftover batch,
    * so a crash-surviving channel dir cannot re-apply against an index
    * it never described.
    */
  private def freshGeneration(spark: SparkSession, indexDir: String)(
      doBuild: Long => Centroids): Centroids = {
    val conf = spark.sparkContext.hadoopConfiguration
    val markerPath = new org.apache.hadoop.fs.Path(s"$indexDir/_LIVE_STATE")
    val hadMarker = markerPath.getFileSystem(conf).exists(markerPath)
    val leftovers = channelBatchIds(spark, s"$indexDir/pending") ++
      channelBatchIds(spark, s"$indexDir/tombstones")
    if (!hadMarker && leftovers.isEmpty) doBuild(0L)
    else {
      val st = IvfIndex.readLiveState(spark, indexDir)
      val through = (leftovers :+ st.consumedThrough).max
      val cents = doBuild(st.gen + 1)
      IvfIndex.publishLiveState(spark, indexDir, IvfIndex.LiveState(st.gen + 1, through))
      Seq(s"$indexDir/pending", s"$indexDir/tombstones").foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      cents
    }
  }

  /** [[build]]'s body, parameterized by target generation: writes
    * `cells[_g<gen>]` + the matching centroid sidecar but never touches
    * the generation marker — the caller decides when (and whether) the
    * new generation becomes visible.
    */
  private def buildInto(emb: DataFrame, indexDir: String, gen: Long, k: Int,
      iters: Int, m: Int, efC: Int, metaCol: Option[String]): Centroids = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = IvfIndex.train(emb, k, iters)
    val assigned = metaCol match {
      // the attribute rides the narrow assignment projection (no join)
      // and lands IN the cell files, so filtered search needs no side
      // lookup — FAISS/ACORN-style "metadata stored with the vector"
      case Some(c) => IvfIndex.assignments(emb, cents, extraCols = Seq(c))
        .select(col("cluster"), col("vec_id"), col("embedding"),
          col(c).cast("long").as("meta"))
      case None => IvfIndex.assignments(emb, cents)
        .select(col("cluster"), col("vec_id"), col("embedding"), lit(0L).as("meta"))
    }
    assigned
      .as[(Int, Long, Seq[Float], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        // ONE streaming pass over the iterator — never retain the boxed
        // input tuples beside the float arrays (at the 10^7-vector cell
        // design point a second full copy is the difference between
        // fitting and OOM); the meta map and graph share the SAME
        // array instances members holds
        val membersBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val meta = scala.collection.mutable.HashMap.empty[Long, Long]
        it.foreach { case (_, id, e, mv) =>
          membersBuf += ((id, e.map(_.toFloat).toArray))
          meta(id) = mv
        }
        val members = membersBuf.sortInPlaceBy(_._1).toArray
        val adj = buildCellGraph(members, m, efC)
        members.iterator.map { case (id, v) =>
          (id, v.toSeq, adj.getOrElse(id, Array.empty[Long]).toSeq.sorted, meta(id), cell)
        }
      }
      .toDF("vec_id", "embedding", "nbrs", "meta", "cluster")
      .write
      .mode("overwrite")
      .partitionBy("cluster")
      .parquet(cellsDir(indexDir, gen))
    // marker the filtered searches REQUIRE: without it an index built
    // metaCol-less (meta = 0 everywhere) would answer metadata
    // predicates with silently-wrong (usually empty) results. A
    // metaCol-less rebuild DELETES any stale marker — the cells
    // overwrite already replaced the data, and a surviving marker from
    // a previous meta-built index would let filtered search run against
    // the all-zero placeholder, the silent-wrong mode the marker exists
    // to prevent.
    val markerPath = new org.apache.hadoop.fs.Path(s"$indexDir/_meta_col")
    val fs = markerPath.getFileSystem(emb.sparkSession.sparkContext.hadoopConfiguration)
    metaCol match {
      case Some(c) =>
        graft.ingest.Publish.file(fs, markerPath, c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case None =>
        if (fs.exists(markerPath)) fs.delete(markerPath, false)
    }
    // centroid sidecar (the IVF/SQ8 discipline): a restarted process —
    // the streaming churn wiring included — must route probes without
    // retraining; callers holding the returned value lose nothing.
    // Written PER GENERATION so geometry can never mix with the wrong
    // generation's cells ([[IvfIndex.loadCentroids]] resolves through
    // the same marker the cells reads use).
    IvfIndex.saveCentroidsTo(spark, cents, IvfIndex.geomDir(indexDir, "centroids", gen))
    cents
  }

  /** Read the `_meta_col` marker's recorded source column, if any. */
  private def readMetaMarker(spark: SparkSession, indexDir: String): Option[String] = {
    val markerPath = new org.apache.hadoop.fs.Path(s"$indexDir/_meta_col")
    val fs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(markerPath)) None
    else {
      val in = fs.open(markerPath)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](256)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Fails loudly when `indexDir` was not built with `metaCol` — the
    * meta column then holds the 0L placeholder for every row and a
    * metadata predicate would return silently-wrong results. When the
    * caller states which source column it expects the predicate to run
    * against (`expectCol`), the marker's RECORDED column is read back
    * and must match — an index built with metaCol=Some("label") must
    * not silently serve a predicate the caller intended for "lang".
    */
  private def requireMetaIndex(spark: SparkSession, indexDir: String,
      expectCol: Option[String] = None): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/_meta_col")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$indexDir was built without metaCol — filtered search over its placeholder " +
        "meta column would be silently wrong; rebuild with NswIndex.build(..., metaCol = Some(...))")
    expectCol.foreach { want =>
      val in = fs.open(p)
      val recorded =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](256)
          var n = in.read(tmp)
          while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
      require(recorded == want,
        s"$indexDir was built with metaCol='$recorded' but this search's predicate " +
          s"targets '$want' — the meta bytes in the cell files encode a different " +
          "attribute; rebuild the index with the intended metaCol")
    }
  }

  /** Lazy search frame (for plan inspection): filter to the `nprobe`
    * probed cells — partition pruning against the cluster-partitioned
    * index — then one greedy walk per cell and a global top-k.
    */
  def searchFrame(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      ef: Int): DataFrame = {
    import spark.implicits._
    val probes = IvfIndex.probeCells(cents, q, nprobe)
    val bq = spark.sparkContext.broadcast(q)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(probes.map(x => x: Any): _*))
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"), col("nbrs"))
      .as[(Int, Long, Seq[Float], Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val vecs = rows.map(r => r._2 -> r._3.map(_.toFloat).toArray).toMap
        val adj = rows.map(r => r._2 -> r._4.toArray).toMap
        val entry = rows.iterator.map(_._2).min
        greedySearch(vecs, adj, Seq(entry), bq.value, ef)
          .filter(_._2 != excludeId)
          .sortBy(t => (-t._1, t._2)).take(k)
          .iterator.map { case (s, id) => (id, s) }
      }
      .toDF("vec_id", "cos_raw")
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCHED multi-query search — the SERVING shape at 100 TB: a panel
    * of Q queries is routed on the driver (Q × k centroid cosines,
    * tiny), the UNION of all probed cells is read ONCE under a single
    * partition-pruning `cluster IN (...)` filter, each loaded cell
    * graph is walked once per query routed to it, and every query's
    * global top-k comes from a bounded-heap `minK` aggregate — NEVER a
    * window partitioned by the (low-cardinality) query id, which would
    * serialize into one task per query. Cost vs Q single-query calls:
    * the index bytes are read once instead of up to Q times (shared
    * cells coalesce), and the per-walk work is unchanged — the batch
    * amortizes IO, not graph traversal. Tie-breaks and scores are
    * bit-identical to [[searchFrame]] (same walk, same rounded-cosine
    * total order), so the per-query results equal Q independent calls.
    */
  def searchFrameMany(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      queries: Map[Long, Array[Float]],
      k: Int,
      nprobe: Int,
      ef: Int,
      excludeSelf: Boolean = true,
      dropIds: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAggregates.minK
    require(queries.nonEmpty, "searchFrameMany needs at least one query")
    val routing: Map[Int, Seq[Long]] = queries.toSeq
      .flatMap { case (qid, qv) => IvfIndex.probeCells(cents, qv, nprobe).map(c => c -> qid) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val cellsUnion = routing.keys.toSeq.sorted
    val bq = spark.sparkContext.broadcast(queries)
    val br = spark.sparkContext.broadcast(routing)
    // churn hook (the searchFrameManyLive seam): dropped ids stay
    // navigable but never surface — the filtered-walk keep discipline
    val bDrop = spark.sparkContext.broadcast(dropIds)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(cellsUnion.map(x => x: Any): _*))
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"), col("nbrs"))
      .as[(Int, Long, Seq[Float], Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val rows = it.toArray
        val vecs = rows.map(r => r._2 -> r._3.map(_.toFloat).toArray).toMap
        val adj = rows.map(r => r._2 -> r._4.toArray).toMap
        val entry = rows.iterator.map(_._2).min
        val drop = bDrop.value
        br.value.getOrElse(cell, Nil).iterator.flatMap { qid =>
          // the drop-aware branch puts SELF-exclusion inside the keep
          // too, exactly like the single-query live walk
          // ([[searchFrameFilteredByIds]]'s keep) — the keep-predicate
          // affects the walk's ef accounting, so matching it is what
          // makes the batch bit-identical per query to the singles
          (if (drop.isEmpty)
            greedySearch(vecs, adj, Seq(entry), bq.value(qid), ef)
              .filter(c => !excludeSelf || c._2 != qid)
          else
            greedySearchFilteredFn(vecs, id => adj.getOrElse(id, Array.empty[Long]),
              Seq(entry), bq.value(qid), ef,
              keep = id => !drop(id) && (!excludeSelf || id != qid)))
            .sortBy(t => (-t._1, t._2)).take(k)
            .map { case (sc, id) => (qid, id, sc) }
        }
      }
      .toDF("query_id", "vec_id", "cos_raw")
      .select(col("query_id"),
        struct((-round(col("cos_raw"), 6)).as("nc"), col("vec_id"),
          round(col("cos_raw"), 6).as("cos_sim")).as("rec"))
      .groupBy("query_id")
      .agg(minK(col("rec"), k).as("recs"))
      .select(col("query_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("rec.vec_id").as("vec_id"), col("rec.cos_sim").as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------------------
  // Filtered (metadata-predicate) search — vector search under an
  // attribute constraint, the canonical SERVING feature ("nearest docs
  // WHERE lang = 'en'"). Two strategies with opposite cost profiles,
  // the dispatch production systems (FAISS IDSelector, ACORN, filtered
  // DiskANN) make on predicate selectivity:
  //   - in-walk ([[searchFrameFiltered]]): the graph routes over ALL
  //     nodes, results collect only matching ones — near-normal cost
  //     when the predicate keeps most nodes, degrades toward a full
  //     cell visit as it sharpens;
  //   - pre-filter ([[searchFramePrefiltered]]): the predicate is
  //     PUSHED INTO the parquet scan of the probed cells (the plan
  //     shows PushedFilters on `meta` beside the cluster partition
  //     prune) and the survivors are scored exactly — cost
  //     proportional to the MATCHING rows, the right shape when the
  //     predicate is selective, and exact-within-probes so its scores
  //     carry the full soundness oracle.
  // Both require the index built with `metaCol` so the attribute lives
  // in the cell files (no search-time join).
  // ------------------------------------------------------------------

  /** In-walk filtered search: partition-pruned read of the probed
    * cells, one FILTERED greedy walk per cell
    * ([[greedySearchFilteredFn]] — routing sees every node, results
    * only `allowMeta` survivors), global top-k under [[searchFrame]]'s
    * rounded-cosine total order. `dropIds` composes churn exclusions
    * into the keep-predicate (the [[searchFrameLiveFiltered]] hook —
    * tombstoned ids dead, pending ids shadowed); routing still
    * traverses dropped nodes, results never return one.
    */
  def searchFrameFiltered(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      ef: Int,
      allowMeta: Long => Boolean,
      expectMetaCol: Option[String] = None,
      dropIds: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    requireMetaIndex(spark, indexDir, expectMetaCol)
    val probes = IvfIndex.probeCells(cents, q, nprobe)
    val bq = spark.sparkContext.broadcast(q)
    val bDrop = spark.sparkContext.broadcast(dropIds)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(probes.map(x => x: Any): _*))
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"), col("nbrs"), col("meta"))
      .as[(Int, Long, Seq[Float], Seq[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val vecs = rows.map(r => r._2 -> r._3.map(_.toFloat).toArray).toMap
        val adj = rows.map(r => r._2 -> r._4.toArray).toMap
        val metas = rows.map(r => r._2 -> r._5).toMap
        val entry = rows.iterator.map(_._2).min
        val drop = bDrop.value
        greedySearchFilteredFn(vecs, id => adj.getOrElse(id, Array.empty[Long]),
          Seq(entry), bq.value, ef,
          keep = id => id != excludeId && !drop(id) && allowMeta(metas(id)))
          .sortBy(t => (-t._1, t._2)).take(k)
          .iterator.map { case (s, id) => (id, s) }
      }
      .toDF("vec_id", "cos_raw")
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Pre-filter strategy: the metadata predicate goes INTO the parquet
    * scan (PushedFilters — only matching row groups / rows surface)
    * under the same cluster partition prune, and every survivor is
    * scored exactly; TakeOrderedAndProject ends the plan. No graph
    * walk: cost tracks the predicate's match count, so this wins when
    * the predicate is selective — and the result is EXACT within the
    * probed cells (the walk can only ever equal it, never beat it).
    */
  def searchFramePrefiltered(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      metaPred: Column,
      expectMetaCol: Option[String] = None): DataFrame = {
    requireMetaIndex(spark, indexDir, expectMetaCol)
    val probes = IvfIndex.probeCells(cents, q, nprobe)
    val qLit = array(q.toSeq.map(lit): _*)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(probes.map(x => x: Any): _*))
      .filter(metaPred && col("vec_id") =!= excludeId)
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.cosine_similarity(col("embedding"), qLit), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCHED filtered search, PREFILTER strategy — panels under
    * predicates, the full serving composition (s26's batching × s27's
    * dispatch): the panel is routed on the driver, the UNION of every
    * query's probed cells is read ONCE under a single partition-pruning
    * `cluster IN (...)` filter WITH the metadata predicate pushed into
    * the same parquet scan (PushedFilters on `meta` beside the
    * partition prune — only matching rows surface), and each surviving
    * row is scored against exactly the queries routed to its cell (a
    * per-query `when(cluster IN routed, cosine)` column stack — stays
    * in WholeStageCodegen, nulls where not routed). Per-query top-k via
    * the bounded minK heap, NEVER a window over the low-cardinality
    * query id. Exact within each query's probed cells, so per-query
    * results are bit-identical to Q [[searchFramePrefiltered]] calls
    * (same kernel, same rounded-cosine total order); the batch
    * amortizes the filtered scan's IO, which the selective regime is
    * all about — the matching rows are read once, not Q times.
    */
  def searchFrameManyPrefiltered(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      queries: Map[Long, Array[Float]],
      k: Int,
      nprobe: Int,
      metaPred: Column,
      expectMetaCol: Option[String] = None,
      excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.TopKAggregates.minK
    require(queries.nonEmpty, "searchFrameManyPrefiltered needs at least one query")
    requireMetaIndex(spark, indexDir, expectMetaCol)
    val routing: Map[Long, Seq[Int]] =
      queries.map { case (qid, qv) => qid -> IvfIndex.probeCells(cents, qv, nprobe) }
    val cellsUnion = routing.values.flatten.toSeq.distinct.sorted
    val scan = readCells(spark, indexDir)
      .filter(col("cluster").isin(cellsUnion.map(x => x: Any): _*))
      .filter(metaPred)
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"), col("embedding"))
    val perQuery = queries.toSeq.sortBy(_._1).map { case (qid, q) =>
      val qLit = array(q.toSeq.map(lit): _*)
      val routed = routing(qid)
      // self-exclusion assumes panel keys ARE corpus vec_ids (the s26
      // contract); the cell-membership guard keeps each query exact
      // WITHIN ITS OWN probes even though the scan reads the union
      val admit = col("cluster").isin(routed.map(x => x: Any): _*) &&
        (if (excludeSelf) col("vec_id") =!= lit(qid) else lit(true))
      struct(lit(qid).as("query_id"),
        when(admit, graft.functions.VectorFunctions.cosine_similarity(col("embedding"), qLit))
          .as("c"))
    }
    scan
      .select(col("vec_id"), explode(array(perQuery: _*)).as("qa"))
      .filter(col("qa.c").isNotNull)
      .select(col("qa.query_id").as("query_id"),
        struct((-round(col("qa.c"), 6)).as("nc"), col("vec_id"),
          round(col("qa.c"), 6).as("cos_sim")).as("rec"))
      .groupBy("query_id")
      .agg(minK(col("rec"), k).as("recs"))
      .select(col("query_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("rec.vec_id").as("vec_id"), col("rec.cos_sim").as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** BATCHED filtered search, IN-WALK strategy — [[searchFrameMany]]'s
    * one-pruned-scan batching with [[greedySearchFilteredFn]]'s
    * routing-over-all/collect-only-matching walk per (cell, routed
    * query). The permissive-predicate twin of
    * [[searchFrameManyPrefiltered]] (the s27 dispatch applies
    * unchanged per regime: selective predicates belong to the pushed
    * prefilter scan, permissive ones to the walk). Per-query results
    * are bit-identical to Q [[searchFrameFiltered]] calls: same walk,
    * same keep set (self ∪ predicate), same rounded-cosine total
    * order. The batch reads each probed cell's graph ONCE for the
    * whole panel instead of once per query.
    */
  def searchFrameManyFiltered(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      queries: Map[Long, Array[Float]],
      k: Int,
      nprobe: Int,
      ef: Int,
      allowMeta: Long => Boolean,
      expectMetaCol: Option[String] = None,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAggregates.minK
    require(queries.nonEmpty, "searchFrameManyFiltered needs at least one query")
    requireMetaIndex(spark, indexDir, expectMetaCol)
    val routing: Map[Int, Seq[Long]] = queries.toSeq
      .flatMap { case (qid, qv) => IvfIndex.probeCells(cents, qv, nprobe).map(c => c -> qid) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val cellsUnion = routing.keys.toSeq.sorted
    val bq = spark.sparkContext.broadcast(queries)
    val br = spark.sparkContext.broadcast(routing)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(cellsUnion.map(x => x: Any): _*))
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"), col("nbrs"), col("meta"))
      .as[(Int, Long, Seq[Float], Seq[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val rows = it.toArray
        val vecs = rows.map(r => r._2 -> r._3.map(_.toFloat).toArray).toMap
        val adj = rows.map(r => r._2 -> r._4.toArray).toMap
        val metas = rows.map(r => r._2 -> r._5).toMap
        val entry = rows.iterator.map(_._2).min
        br.value.getOrElse(cell, Nil).iterator.flatMap { qid =>
          greedySearchFilteredFn(vecs, id => adj.getOrElse(id, Array.empty[Long]),
            Seq(entry), bq.value(qid), ef,
            keep = id => (!excludeSelf || id != qid) && allowMeta(metas(id)))
            .sortBy(t => (-t._1, t._2)).take(k)
            .map { case (sc, id) => (qid, id, sc) }
        }
      }
      .toDF("query_id", "vec_id", "cos_raw")
      .select(col("query_id"),
        struct((-round(col("cos_raw"), 6)).as("nc"), col("vec_id"),
          round(col("cos_raw"), 6).as("cos_sim")).as("rec"))
      .groupBy("query_id")
      .agg(minK(col("rec"), k).as("recs"))
      .select(col("query_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("rec.vec_id").as("vec_id"), col("rec.cos_sim").as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** TOMBSTONED graph search — churn against the MATERIALIZED NSW index
    * (the s33 delete story composed with the graph walk): deleted ids
    * ride the same `tombstones/batch=<epoch>` channel
    * ([[graft.streaming.IndexStreams.tombstoneBatch]] pointed at this
    * index dir), and the walk applies them as the keep-predicate of
    * [[greedySearchFilteredFn]] — ROUTING still traverses tombstoned
    * nodes (excising them from the adjacency would fragment the graph,
    * which is why FAISS-style graph indexes keep deleted nodes
    * navigable until a rebuild), while the RESULT set never returns
    * one. The deleted set is the churn accumulated since the last
    * rebuild — the bounded side input a serving system maintains (the
    * FAISS IDSelector shape: ship the set with the query, rebuild when
    * it grows past policy); the rebuild itself is [[build]], which
    * starts a fresh index with no tombstones.
    */
  def searchFrameTombstoned(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      ef: Int): DataFrame = {
    val tombPath = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deleted: Set[Long] =
      if (fs.exists(tombPath) && fs.listStatus(tombPath).exists(_.getPath.getName.startsWith("batch=")))
        // guarded: the deleted set is the churn since the last rebuild —
        // bounded by serving policy, and the guard turns a violated
        // policy (someone never rebuilt) into a loud error instead of a
        // driver OOM
        CollectGuard.smallDistinct(
          spark.read.parquet(tombPath.toString)
            .filter(col("batch").cast("long") > consumedThrough(spark, indexDir))
            .select("vec_id"), cap = 1L << 20)
          .map(_.getLong(0)).toSet
      else Set.empty
    searchFrameFilteredByIds(spark, indexDir, cents, q, excludeId, k, nprobe, ef, deleted)
  }

  /** REBUILD under churn — the graph index's compaction: re-run the
    * distributed build over the surviving vectors (cells minus the
    * tombstone channel's ids, a broadcast anti-join — the deleted set
    * is corpus-scale-safe even when churn outgrows a literal) and
    * clear the consumed tombstones, starting a clean epoch. Unlike the
    * brute-force live index (whose compaction merges rows), a graph
    * index cannot incrementally splice deleted nodes out — edges
    * through them are load-bearing — so the rebuild IS the lifecycle
    * step, run when the deleted set grows past serving policy.
    * Deterministic: the survivors are exactly a filtered corpus, so
    * the rebuilt index is BIT-IDENTICAL to a fresh [[build]] over that
    * corpus (spec-pinned). GENERATION-SAFE: the survivors materialize
    * first, the new generation's cells + centroids are written
    * completely, and only then does the atomic `_LIVE_STATE` flip make
    * them visible — a crash anywhere leaves the old generation serving
    * (NswGenerationSpec's kill-seam).
    */
  def rebuildTombstoned(
      spark: SparkSession,
      indexDir: String,
      k: Int,
      iters: Int,
      m: Int,
      efC: Int): Centroids = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = IvfIndex.readLiveState(spark, indexDir)
    val tombPath = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    val fs = tombPath.getFileSystem(conf)
    val tombBatches = channelBatchIds(spark, tombPath.toString)
      .filter(_ > st.consumedThrough)
    // the TOMBSTONE-ONLY lifecycle must refuse an index with unconsumed
    // PENDING inserts: this rebuild folds cells − tombstones and then
    // advances consumedThrough, which would exclude those pending
    // batches from every later read WITHOUT folding them — silent data
    // loss. rebuildLive is the fold that owns both channels.
    val unconsumedPending = channelBatchIds(spark, s"$indexDir/pending")
      .filter(_ > st.consumedThrough)
    require(unconsumedPending.isEmpty,
      s"$indexDir has unconsumed pending insert batches ${unconsumedPending.sorted.mkString(",")} — " +
        "rebuildTombstoned folds only cells − tombstones and would silently drop them; " +
        "use rebuildLive (folds both channels)")
    // a META-BUILT index rebuilds WITH its metadata: the cell files hold
    // the attribute values, and the marker holds the source column name —
    // carry both through, or filtered search would die at the (deleted)
    // marker after every rebuild
    val metaName: Option[String] = readMetaMarker(spark, indexDir)
    val cells = metaName match {
      case Some(c) => readCells(spark, indexDir)
        .select(col("vec_id"), col("embedding"), col("meta").as(c))
      case None => readCells(spark, indexDir)
        .select(col("vec_id"), col("embedding"))
    }
    val survivors =
      (if (tombBatches.nonEmpty)
        cells.join(
          broadcast(spark.read.parquet(tombPath.toString)
            .filter(col("batch").cast("long") > st.consumedThrough)
            .select("vec_id").distinct()),
          Seq("vec_id"), "left_anti")
      else cells).localCheckpoint(true)
    // generation-safe publish (the IVF discipline): the new cells +
    // centroids are COMPLETE before the marker names them — a crash at
    // any point keeps the old generation serving
    val through = (tombBatches :+ st.consumedThrough).max
    val cents = buildInto(survivors, indexDir, st.gen + 1, k, iters, m, efC,
      metaCol = metaName)
    IvfIndex.publishLiveState(spark, indexDir, IvfIndex.LiveState(st.gen + 1, through))
    // consumed: clean epoch — hygiene only, the consumedThrough window
    // already excludes these batches for every reader
    if (fs.exists(tombPath)) fs.delete(tombPath, true)
    cents
  }

  /** `batch=<id>` partition ids under a channel dir. */
  private def channelBatchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
  }

  /** The tombstone walk against an explicit deleted-id set (the seam
    * [[searchFrameTombstoned]] reads the channel into).
    */
  private def searchFrameFilteredByIds(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      ef: Int,
      deleted: Set[Long]): DataFrame = {
    import spark.implicits._
    val probes = IvfIndex.probeCells(cents, q, nprobe)
    val bq = spark.sparkContext.broadcast(q)
    val bDel = spark.sparkContext.broadcast(deleted)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(probes.map(x => x: Any): _*))
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"), col("nbrs"))
      .as[(Int, Long, Seq[Float], Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val vecs = rows.map(r => r._2 -> r._3.map(_.toFloat).toArray).toMap
        val adj = rows.map(r => r._2 -> r._4.toArray).toMap
        val entry = rows.iterator.map(_._2).min
        val del = bDel.value
        greedySearchFilteredFn(vecs, id => adj.getOrElse(id, Array.empty[Long]),
          Seq(entry), bq.value, ef,
          keep = id => id != excludeId && !del(id))
          .sortBy(t => (-t._1, t._2)).take(k)
          .iterator.map { case (s, id) => (id, s) }
      }
      .toDF("vec_id", "cos_raw")
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // LIVE INSERTS — the graph index's ingest channel. A graph cannot
  // cheaply splice a new node in at serving time (its edges would need
  // an efC search against cell state that lives in immutable parquet),
  // so new vectors land in a PENDING side channel and are served
  // EXACTLY until the next rebuild folds them into the graph — the
  // Lucene/Vespa segment model: unmerged segments are searched brute
  // force, merges restore the indexed form. `pending/batch=<epoch>/
  // cluster=<c>/` mirrors the IVF stream channel: epoch overwrite =
  // replay idempotency, cluster partitioning = the SAME `cluster IN
  // (probes)` prune the graph walk enjoys, so a pending vector costs a
  // search one pruned exact scan of the (bounded, rebuild-policy-
  // sized) tail. Tombstones compose: last-writer-wins by epoch exactly
  // as in [[IvfIndex.searchIndexLive]] — a tombstone kills base rows
  // (epoch −1) and pending rows at-or-before it; a LATER re-insert
  // resurfaces the id. [[rebuildLive]] is the compaction: survivors =
  // LWW(base ∪ pending) − tombstones, rebuilt with [[build]], both
  // channels cleared.
  // ------------------------------------------------------------------

  /** Land one epoch's inserts in the pending channel: assign against
    * the FIXED centroids (the build-time geometry — the IVF stream
    * contract) and overwrite this epoch's own `batch=` directory. A
    * meta-built index requires the marker's source column on every
    * insert batch (a pending row without its attribute would silently
    * vanish from filtered search after the fold); a plain index stores
    * the 0L placeholder. Returns rows landed. Empty batches write
    * nothing (a rowless partition dir breaks schema inference for
    * every later reader — absence is the representation).
    */
  def insertBatch(batch: DataFrame, batchId: Long, indexDir: String,
      cents: Centroids): Long = {
    val spark = batch.sparkSession
    val metaName = readMetaMarker(spark, indexDir)
    metaName.foreach { c => require(batch.columns.contains(c),
      s"$indexDir was built with metaCol='$c' but this insert batch has no '$c' " +
        "column — a pending row without its attribute would silently vanish " +
        "from filtered search after the next rebuild") }
    val assigned = metaName match {
      case Some(c) => IvfIndex.assignments(batch, cents, extraCols = Seq(c))
        .select(col("vec_id"), col("embedding"), col(c).cast("long").as("meta"),
          col("cluster"))
      case None => IvfIndex.assignments(batch, cents)
        .select(col("vec_id"), col("embedding"), lit(0L).as("meta"), col("cluster"))
    }
    // ONE job per batch: the row count rides the write as an observed
    // metric (the IndexStreams.upsertBatch discipline) instead of the
    // former localCheckpoint + count + write triple. The write lands in
    // an `_`-prefixed staging dir (invisible to readers), published by
    // [[graft.ingest.Publish.stagedDir]].
    val obs = org.apache.spark.sql.Observation()
    val staging = new org.apache.hadoop.fs.Path(s"$indexDir/pending/_staging_batch=$batchId")
    assigned.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("cluster").parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    graft.ingest.Publish.stagedDir(staging.getFileSystem(spark.sparkContext.hadoopConfiguration),
      staging, new org.apache.hadoop.fs.Path(s"$indexDir/pending/batch=$batchId"), n)
    n
  }

  // ---- generation machinery (the IvfIndex discipline, ported) --------
  //
  // Rebuilds previously overwrote `cells/` IN PLACE: a crash mid-
  // overwrite lost the index where the IVF side would keep serving the
  // old generation. Now a rebuild writes `cells_g<n+1>` +
  // `centroids_g<n+1>` COMPLETELY, then atomically publishes the shared
  // `_LIVE_STATE` marker (gen + consumedThrough); every cells read and
  // every channel read resolves through the marker, so a crash at any
  // point leaves the old generation serving consistently. Consumed
  // channel batches are deleted AFTER the flip as hygiene — the
  // consumedThrough window already excludes them, so the delete is not
  // load-bearing for correctness.

  /** Cells directory for generation `gen` (0 = the plain build-time dir). */
  private[ops] def cellsDir(indexDir: String, gen: Long): String =
    if (gen == 0L) s"$indexDir/cells" else s"$indexDir/cells_g$gen"

  /** The serving cells, resolved through the generation marker. */
  private def readCells(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(cellsDir(indexDir, IvfIndex.readLiveState(spark, indexDir).gen))

  /** Channel batches at or before this epoch are already folded into the
    * serving generation — reading them again would double-apply them
    * (a leftover tombstone would kill the folded survivor it targeted).
    */
  private def consumedThrough(spark: SparkSession, indexDir: String): Long =
    IvfIndex.readLiveState(spark, indexDir).consumedThrough

  /** Does `dir` exist with at least one `batch=` partition? (Vacuumed
    * channels can leave an empty parent behind; reading it would fail
    * schema inference.)
    */
  private def hasBatches(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("batch="))
  }

  /** id -> latest tombstone epoch over the channel — the LWW side
    * input both live searches share (bounded by rebuild policy,
    * CollectGuard-capped, loud when the policy is violated).
    */
  private def tombstoneMax(spark: SparkSession, indexDir: String): Map[Long, Long] = {
    val tombPath = s"$indexDir/tombstones"
    if (hasBatches(spark, tombPath))
      CollectGuard.smallDistinct(
        spark.read.parquet(tombPath)
          // batches at or before consumedThrough are folded into the
          // serving generation — re-applying them would kill survivors
          .filter(col("batch").cast("long") > consumedThrough(spark, indexDir))
          .groupBy("vec_id")
          // batch is a partition DIRECTORY column — inferred int, cast
          // to the epochs' long domain before it meets the literals
          .agg(max(col("batch").cast("long")).as("tb")), cap = 1L << 20)
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    else Map.empty
  }

  /** The pending tail, LWW-resolved THEN probe-pruned: tombstone-dead
    * rows drop, one row per id survives (the latest epoch's — the
    * resolution runs over the WHOLE bounded channel, never after a
    * cluster prune, because the latest version decides both the served
    * embedding and which cell the id lives in; pruning first could
    * serve a superseded embedding whose stale row still sits in a
    * probed cell while the newest landed elsewhere), and only ids
    * whose LATEST cell is probed answer — exactly how the folded index
    * would behave. Returns `(vec_id, cos_sim)` top-k.
    */
  private def pendingTailArm(
      spark: SparkSession,
      pendPath: String,
      tombMax: Map[Long, Long],
      through: Long,
      probes: Seq[Int],
      q: Array[Float],
      excludeId: Long,
      k: Int,
      keepIds: Option[Set[Long]] = None): DataFrame = {
    import graft.functions.VectorFunctions.cosine_similarity
    val qLit = array(q.toSeq.map(lit): _*)
    val tombLit = typedLit(tombMax)
    val base = spark.read.parquet(pendPath)
      .filter(col("batch").cast("long") > through) // consumed epochs are folded
      .filter(col("vec_id") =!= excludeId)
      // LWW vs tombstones: survive iff no tombstone, or strictly newer
      // than the latest one (the IVF merge's predicate, as a map literal)
      .filter(coalesce(element_at(tombLit, col("vec_id")), lit(Long.MinValue)) < col("batch"))
    val kept = keepIds match {
      case Some(ids) =>
        import spark.implicits._
        // bounded set, but potentially large (the CollectGuard cap):
        // a broadcast semi-join keeps the per-query plan flat instead
        // of serializing up to 2^20 literals into an isin list
        base.join(broadcast(ids.toSeq.toDF("vec_id")), "vec_id")
      case None => base
    }
    kept
      .groupBy("vec_id")
      .agg(max_by(struct(col("embedding"), col("cluster").cast("int").as("cluster")),
        col("batch")).as("r"))
      .filter(col("r.cluster").isin(probes.map(x => x: Any): _*))
      .select(col("vec_id"),
        round(cosine_similarity(col("r.embedding"), qLit), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Serve the LIVE view: the graph walk over the built cells plus one
    * partition-pruned EXACT scan of the pending tail, merged under the
    * usual total order. Deletes and inserts compose last-writer-wins
    * by epoch ([[IvfIndex.searchIndexLive]]'s merge): base rows (epoch
    * −1) die to any tombstone, a pending row dies to a tombstone
    * at-or-after its epoch, a re-insert after a delete resurfaces. An
    * id with any pending row is served from the PENDING side (the
    * newer write shadows the graph's copy — an updated embedding must
    * not be answered from the stale node), so the walk's keep-
    * predicate drops tombstoned AND pending ids. Both side-input id
    * sets are the churn since the last rebuild — bounded by serving
    * policy and CollectGuard-capped, loud when the policy is violated.
    * Scores on both arms are exact rounded cosines, so the soundness
    * contract (zero mismatches) holds end to end.
    */
  def searchFrameLive(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      ef: Int): DataFrame = {
    val pendPath = s"$indexDir/pending"
    val tombMax = tombstoneMax(spark, indexDir)
    val pendingIds: Set[Long] =
      if (hasBatches(spark, pendPath))
        CollectGuard.smallDistinct(
          spark.read.parquet(pendPath)
            .filter(col("batch").cast("long") > consumedThrough(spark, indexDir))
            .select("vec_id"), cap = 1L << 20)
          .map(_.getLong(0)).toSet
      else Set.empty
    // Both channels empty ⇒ STRUCTURAL parity with the static path:
    // delegate to [[searchFrame]] (the same plain-walk + post-filter
    // [[searchFrameManyLive]] reaches through [[searchFrameMany]]'s
    // drop-empty branch). Without this the filtered walk's different
    // ef accounting (self excluded inside the keep vs post-filtered)
    // made "live == plain on empty channels" hold only because
    // ef >> k on the fixtures — a coincidence, not a contract.
    if (tombMax.isEmpty && pendingIds.isEmpty)
      return searchFrame(spark, indexDir, cents, q, excludeId, k, nprobe, ef)
    // graph arm: tombstoned ids are dead (base epoch −1 loses to any
    // tombstone); pending ids are shadowed (served from the tail arm)
    val walkArm = searchFrameFilteredByIds(spark, indexDir, cents, q, excludeId,
      k, nprobe, ef, deleted = tombMax.keySet ++ pendingIds)
    if (pendingIds.isEmpty) walkArm
    else {
      val probes = IvfIndex.probeCells(cents, q, nprobe)
      walkArm.unionByName(
        pendingTailArm(spark, pendPath, tombMax, consumedThrough(spark, indexDir),
          probes, q, excludeId, k))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** BATCHED live serving — the batch × churn cell (s26's panel
    * amortization on [[searchFrameLive]]'s merge): the channel side
    * inputs are collected ONCE for the whole panel (vs Q times for Q
    * singles — at serving scale the channel reads are the fixed cost
    * the batch deletes), the walk arm is [[searchFrameMany]]'s one
    * pruned scan with the churn exclusions composed into each walk's
    * keep-predicate, and the pending tail is LWW-resolved once then
    * scored for every query as stacked codegen columns (each admitted
    * only where the LATEST version's cell is among that query's
    * probes). Per-query results are bit-identical to Q
    * [[searchFrameLive]] calls (spec-pinned — the keep-predicate
    * parity inside [[searchFrameMany]]'s drop-aware branch is what
    * carries the walk's ef accounting across). Output matches
    * [[searchFrameMany]]: `(query_id, rank, vec_id, cos_sim)`.
    */
  def searchFrameManyLive(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      queries: Map[Long, Array[Float]],
      k: Int,
      nprobe: Int,
      ef: Int,
      excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.TopKAggregates.minK
    import graft.functions.VectorFunctions.cosine_similarity
    require(queries.nonEmpty, "searchFrameManyLive needs at least one query")
    val pendPath = s"$indexDir/pending"
    val tombMax = tombstoneMax(spark, indexDir)
    val pendingIds: Set[Long] =
      if (hasBatches(spark, pendPath))
        CollectGuard.smallDistinct(
          spark.read.parquet(pendPath)
            .filter(col("batch").cast("long") > consumedThrough(spark, indexDir))
            .select("vec_id"), cap = 1L << 20)
          .map(_.getLong(0)).toSet
      else Set.empty
    val walk = searchFrameMany(spark, indexDir, cents, queries, k, nprobe, ef,
      excludeSelf, dropIds = tombMax.keySet ++ pendingIds)
    if (pendingIds.isEmpty) walk
    else {
      val routing: Map[Long, Seq[Int]] =
        queries.map { case (qid, qv) => qid -> IvfIndex.probeCells(cents, qv, nprobe) }
      val tombLit = typedLit(tombMax)
      // LWW FIRST (whole bounded channel), probe-prune per query SECOND
      // — the [[pendingTailArm]] discipline, amortized across the panel
      val resolved = spark.read.parquet(pendPath)
        .filter(col("batch").cast("long") > consumedThrough(spark, indexDir))
        .filter(coalesce(element_at(tombLit, col("vec_id")), lit(Long.MinValue)) < col("batch"))
        .groupBy("vec_id")
        .agg(max_by(struct(col("embedding"), col("cluster").cast("int").as("cluster")),
          col("batch")).as("r"))
        .select(col("vec_id"), col("r.embedding").as("embedding"),
          col("r.cluster").as("cluster"))
      val perQuery = queries.toSeq.sortBy(_._1).map { case (qid, qv) =>
        val admit = col("cluster").isin(routing(qid).map(x => x: Any): _*) &&
          (if (excludeSelf) col("vec_id") =!= lit(qid) else lit(true))
        struct(lit(qid).as("query_id"),
          when(admit, round(cosine_similarity(col("embedding"),
            array(qv.toSeq.map(lit): _*)), 6)).as("cos_sim"))
      }
      val tailRows = resolved
        .select(col("vec_id"), explode(array(perQuery: _*)).as("qa"))
        .filter(col("qa.cos_sim").isNotNull)
        .select(col("qa.query_id").as("query_id"), col("vec_id"),
          col("qa.cos_sim").as("cos_sim"))
      walk.select(col("query_id"), col("vec_id"), col("cos_sim"))
        .unionByName(tailRows)
        .select(col("query_id"),
          struct((-col("cos_sim")).as("nc"), col("vec_id"), col("cos_sim")).as("rec"))
        .groupBy("query_id")
        .agg(minK(col("rec"), k).as("recs"))
        .select(col("query_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
          col("rec.vec_id").as("vec_id"), col("rec.cos_sim").as("cos_sim"))
        .orderBy("query_id", "rank")
    }
  }

  /** FILTERED serving over the CHURNING index — the filter × churn
    * cell of the serving matrix (s27 filters a static index, [[
    * searchFrameLive]] serves churn unfiltered): the in-walk filtered
    * walk over the built cells composes its keep-predicate with the
    * churn exclusions (tombstoned ids dead, pending ids shadowed), and
    * the pending tail is resolved ON THE DRIVER — the channel's
    * (id, meta, epoch) rows are the same bounded side input the
    * unfiltered live search collects, so last-writer-wins (including
    * meta REWRITES: a re-insert that changes the attribute must be
    * judged by the NEW value) and the predicate evaluate against the
    * latest epoch's metadata before one pruned exact scan reads only
    * the surviving ids' embeddings. Scores exact on both arms.
    */
  def searchFrameLiveFiltered(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      ef: Int,
      allowMeta: Long => Boolean,
      expectMetaCol: Option[String] = None): DataFrame = {
    requireMetaIndex(spark, indexDir, expectMetaCol)
    val pendPath = s"$indexDir/pending"
    val tombMax = tombstoneMax(spark, indexDir)
    // latest (epoch, meta) per pending id — LWW on the metadata too,
    // resolved over the WHOLE channel (never after a prune)
    val pendingLatest: Map[Long, (Long, Long)] =
      if (hasBatches(spark, pendPath))
        CollectGuard.smallDistinct(
          spark.read.parquet(pendPath)
            .filter(col("batch").cast("long") > consumedThrough(spark, indexDir))
            .groupBy("vec_id")
            .agg(max(struct(col("batch").cast("long").as("b"), col("meta"))).as("r")),
          cap = 1L << 20)
          .map(r => r.getLong(0) ->
            (r.getStruct(1).getLong(0) -> r.getStruct(1).getLong(1))).toMap
      else Map.empty
    val probes = IvfIndex.probeCells(cents, q, nprobe)
    // walk arm: the static filtered walk with the churn exclusions
    // composed into its keep-predicate (tombstoned ids dead, pending
    // ids shadowed — they are served from the tail with their LATEST
    // version)
    val walkArm = searchFrameFiltered(spark, indexDir, cents, q, excludeId,
      k, nprobe, ef, allowMeta, expectMetaCol,
      dropIds = tombMax.keySet ++ pendingLatest.keySet)
    // pending survivors: alive under LWW AND matching on the LATEST
    // epoch's meta — a re-insert that rewrites the attribute is judged
    // by the new value; the tail then serves the SAME epoch's embedding
    // ([[pendingTailArm]] resolves max_by(struct(embedding, cluster),
    // batch) before its probe prune)
    val aliveIds = pendingLatest.collect {
      case (id, (b, m)) if id != excludeId && allowMeta(m) &&
        tombMax.getOrElse(id, Long.MinValue) < b => id
    }.toSet
    if (aliveIds.isEmpty) walkArm
    else
      walkArm.unionByName(
        pendingTailArm(spark, pendPath, tombMax, consumedThrough(spark, indexDir),
          probes, q, excludeId, k, keepIds = Some(aliveIds)))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(k)
  }

  /** REBUILD with the pending channel folded in — the live graph
    * index's compaction: survivors = last-writer-wins(base cells ∪
    * pending epochs) minus tombstones (same LWW rule as serving), the
    * graph rebuilt over them with [[build]] (meta carried through
    * under the marker's source column, the [[rebuildTombstoned]]
    * discipline), both channels cleared — a clean epoch where
    * [[searchFrame]] serves everything from the graph again.
    * Deterministic: survivors are a pure function of the channel
    * state, so the rebuilt index is bit-identical to a fresh build
    * over the equivalent corpus (spec-pinned).
    */
  def rebuildLive(
      spark: SparkSession,
      indexDir: String,
      k: Int,
      iters: Int,
      m: Int,
      efC: Int): Centroids = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = IvfIndex.readLiveState(spark, indexDir)
    val tombPath = s"$indexDir/tombstones"
    val pendPath = s"$indexDir/pending"
    val unconsumed = (channelBatchIds(spark, tombPath) ++ channelBatchIds(spark, pendPath))
      .filter(_ > st.consumedThrough)
    val metaName = readMetaMarker(spark, indexDir)
    val base = readCells(spark, indexDir)
      .select(col("vec_id"), col("embedding"), col("meta"), lit(-1L).as("batch"))
    val merged =
      if (hasBatches(spark, pendPath))
        base.unionByName(spark.read.parquet(pendPath)
          .filter(col("batch").cast("long") > st.consumedThrough)
          .select(col("vec_id"), col("embedding"), col("meta"),
            col("batch").cast("long").as("batch")))
      else base
    // one row per id, latest epoch wins (pending shadows base)
    val lww = merged.groupBy("vec_id")
      .agg(max_by(struct(col("embedding"), col("meta")), col("batch")).as("r"),
        max(col("batch")).as("batch"))
      .select(col("vec_id"), col("r.embedding").as("embedding"),
        col("r.meta").as("meta"), col("batch"))
    val alive =
      if (hasBatches(spark, tombPath)) {
        val tombs = spark.read.parquet(tombPath)
          .filter(col("batch").cast("long") > st.consumedThrough)
          .groupBy("vec_id").agg(max(col("batch")).as("tomb_batch"))
        lww.join(broadcast(tombs), Seq("vec_id"), "left")
          .filter(col("tomb_batch").isNull || col("tomb_batch") < col("batch"))
      } else lww
    val survivors = (metaName match {
      case Some(c) => alive.select(col("vec_id"), col("embedding"), col("meta").as(c))
      case None => alive.select(col("vec_id"), col("embedding"))
    }).localCheckpoint(true) // materialize BEFORE anything is rewritten
    // generation-safe publish (the IVF discipline): cells_g<n+1> +
    // centroids_g<n+1> are COMPLETE before the marker names them — a
    // crash at any point keeps generation n serving; the channel
    // deletes below are hygiene (the consumedThrough window already
    // excludes the folded batches for every reader)
    val through = (unconsumed :+ st.consumedThrough).max
    val cents = buildInto(survivors, indexDir, st.gen + 1, k, iters, m, efC,
      metaCol = metaName)
    IvfIndex.publishLiveState(spark, indexDir, IvfIndex.LiveState(st.gen + 1, through))
    Seq(tombPath, pendPath).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true) // consumed: clean epoch
    }
    cents
  }

  // ------------------------------------------------------------------
  // Layered (hierarchical) variant — HNSW's layer hierarchy (Malkov &
  // Yashunin, TPAMI 2018) on the same per-IVF-cell distributed build.
  // Upper layers hold a geometrically-thinning subset of each cell's
  // nodes (P(level >= l) = 8^-l, i.e. mL = 1/ln 8); search enters at
  // the cell's highest layer and greedily descends with ef=1, paying
  // O(log c) routing hops before the layer-0 ef-frontier walk — the
  // win over the flat walk once a cell outgrows what one frontier can
  // cross cheaply. Everything stays deterministic: the level is a
  // splitmix64 HASH of vec_id (no RNG — same vector, same level, every
  // run and every cluster layout), insertion order is vec_id asc, and
  // all tie-breaks are (score desc, vec_id asc) like the flat build.
  // ------------------------------------------------------------------

  /** splitmix64 finalizer — the standard public-domain mix (Steele et
    * al., "Fast Splittable Pseudorandom Number Generators", OOPSLA'14).
    */
  private[ops] def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic HNSW level: trailing zeros of the hashed id, three
    * bits per level => P(level >= l) = 8^-l (the mL = 1/ln M draw for
    * M = 8, with the hash standing in for the RNG). The `| 1L << 62`
    * guard bounds tz for the (hash == 0) pathology.
    */
  private[ops] def levelOf(id: Long, maxLevel: Int): Int =
    math.min(maxLevel, java.lang.Long.numberOfTrailingZeros(splitmix64(id) | (1L << 62)) / 3)

  /** HNSW neighbour selection, Algorithm 4 (heuristic, with pruned
    * connections kept): walk the candidates best-first w.r.t. `base`
    * and KEEP one only if it is closer to `base` than to every
    * already-kept neighbour; then top the list back up to `m` with the
    * nearest rejected so the node keeps its degree. The diversity rule
    * is what makes greedy routing navigable on CLUSTERED data: simple
    * m-nearest selection links every near-duplicate clique only to
    * itself, the thinned upper layers fragment into those cliques, and
    * the ef=1 routing descent strands in whichever clique the entry
    * point belongs to — measured on the 30x jittered-copy fixture as
    * recall@10 collapsing to 0/10 on clique queries while the flat
    * fixed-entry walk held 10/10 (ScaleRecall, round 14). One kept
    * edge per distinct region restores the cross-clique paths.
    * Deterministic: candidates arrive (score desc, id asc) and the
    * comparisons are pure.
    */
  private[ops] def selectHeuristic(
      base: Array[Float],
      cands: Seq[(Double, Long)],
      vecs: Long => Array[Float],
      m: Int): Seq[Long] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pruned = scala.collection.mutable.ArrayBuffer.empty[Long]
    val it = cands.iterator
    while (it.hasNext && kept.length < m) {
      val (sToBase, id) = it.next()
      if (kept.forall(r => sToBase > cos(vecs(id), vecs(r)))) kept += id
      else pruned += id
    }
    (kept ++ pruned.take(m - kept.length)).toSeq
  }

  /** Incremental LAYERED insertion over one cell's members (sorted by
    * vec_id). Returns per-node (level, per-layer adjacency for layers
    * 0..level). Algorithm 1 of the HNSW paper with the HEURISTIC
    * neighbour selection ([[selectHeuristic]] — both for a new node's
    * links and for back-link trims): descend ef=1 from the entry to
    * the node's top layer, then an efC search + m heuristic links per
    * layer on the way to 0; back-links re-select to m above layer 0
    * and 2m at layer 0.
    */
  private[ops] def buildCellGraphLayered(
      members: Array[(Long, Array[Float])],
      m: Int,
      efC: Int,
      maxLevel: Int): scala.collection.Map[Long, (Int, Array[Array[Long]])] = {
    val vecs = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
    val levels = scala.collection.mutable.HashMap.empty[Long, Int]
    val adj = scala.collection.mutable.HashMap.empty[(Long, Int), scala.collection.mutable.ArrayBuffer[Long]]
    var entry = -1L
    var maxL = -1
    def nbrAt(lc: Int): Long => Array[Long] =
      id => adj.get((id, lc)).map(_.toArray).getOrElse(Array.empty[Long])
    def trim(id: Long, lc: Int, cap: Int): Unit = {
      val nb = adj((id, lc))
      if (nb.length > cap) {
        val v = vecs(id)
        val sorted = nb.toArray.map(o => (cos(v, vecs(o)), o))
          .sortBy(t => (-t._1, t._2)).toSeq
        val kept = selectHeuristic(v, sorted, vecs, cap)
        nb.clear(); nb ++= kept
      }
    }
    members.foreach { case (id, v) =>
      val l = levelOf(id, maxLevel)
      vecs(id) = v
      levels(id) = l
      (0 to l).foreach(lc => adj((id, lc)) = scala.collection.mutable.ArrayBuffer.empty[Long])
      if (entry == -1L) { entry = id; maxL = l }
      else {
        var ep = entry
        var lc = maxL
        while (lc > l) { // routing descent: ef=1 greedy per layer
          ep = greedySearchFn(vecs, nbrAt(lc), Seq(ep), v, ef = 1).head._2
          lc -= 1
        }
        while (lc >= 0) { // linking layers: efC search, m HEURISTIC links
          val found = greedySearchFn(vecs, nbrAt(lc), Seq(ep), v, efC)
          val links = selectHeuristic(v, found, vecs, m)
          adj((id, lc)) ++= links
          links.foreach { o =>
            adj((o, lc)) += id
            trim(o, lc, if (lc == 0) 2 * m else m)
          }
          ep = found.head._2
          lc -= 1
        }
        if (l > maxL) { maxL = l; entry = id } // strictly-greater: deterministic
      }
    }
    members.iterator.map { case (id, _) =>
      val l = levels(id)
      id -> (l, Array.tabulate(l + 1)(lc => adj((id, lc)).toArray.sorted))
    }.toMap
  }

  /** Layered twin of [[build]]: per-cell HNSW graphs, one task per
    * cell, materialized `(vec_id, embedding, level, layers)` parquet
    * partitioned by cluster — `layers(l)` is the node's layer-l
    * adjacency. The coarse quantizer and the on-disk partition-pruned
    * layout are identical to the flat index's; only the in-cell graph
    * gains the hierarchy.
    */
  def buildLayered(emb: DataFrame, indexDir: String, k: Int, iters: Int, m: Int,
      efC: Int, maxLevel: Int = 6): Centroids = {
    val spark = emb.sparkSession
    import spark.implicits._
    // fresh-build publish rides [[freshGeneration]] (the [[build]]
    // discipline): over a lived dir the layered cells land as the NEXT
    // generation behind an atomic marker flip, never a marker reset
    freshGeneration(spark, indexDir) { gen =>
      val cents = IvfIndex.train(emb, k, iters)
      IvfIndex.assignments(emb, cents)
        .select(col("cluster"), col("vec_id"), col("embedding"))
        .as[(Int, Long, Seq[Float])]
        .groupByKey(_._1)
        .flatMapGroups { (cell, it) =>
          val members = it.map { case (_, id, e) => (id, e.map(_.toFloat).toArray) }
            .toArray.sortBy(_._1)
          val graph = buildCellGraphLayered(members, m, efC, maxLevel)
          members.iterator.map { case (id, v) =>
            val (lvl, layers) = graph(id)
            (id, v.toSeq, lvl, layers.map(_.toSeq).toSeq, cell)
          }
        }
        .toDF("vec_id", "embedding", "level", "layers", "cluster")
        .write
        .mode("overwrite")
        .partitionBy("cluster")
        .parquet(cellsDir(indexDir, gen))
      cents
    }
  }

  /** BATCHED layered search — [[searchFrameMany]]'s one-pruned-scan
    * batching over the HNSW hierarchy: the union of the panel's probed
    * cells is read once, each loaded cell runs the layered descent
    * (top-layer entry, ef=1 routing to layer 1, layer-0 ef-frontier
    * walk) once per query routed to it, per-query global top-k via the
    * bounded minK heap. Bit-identical per query to Q
    * [[searchFrameLayered]] calls — the batch amortizes the hierarchy
    * bytes (levels + per-layer adjacency), which are exactly what the
    * layered index adds over the flat one.
    */
  def searchFrameManyLayered(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      queries: Map[Long, Array[Float]],
      k: Int,
      nprobe: Int,
      ef: Int,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAggregates.minK
    require(queries.nonEmpty, "searchFrameManyLayered needs at least one query")
    val routing: Map[Int, Seq[Long]] = queries.toSeq
      .flatMap { case (qid, qv) => IvfIndex.probeCells(cents, qv, nprobe).map(c => c -> qid) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val cellsUnion = routing.keys.toSeq.sorted
    val bq = spark.sparkContext.broadcast(queries)
    val br = spark.sparkContext.broadcast(routing)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(cellsUnion.map(x => x: Any): _*))
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"), col("level"), col("layers"))
      .as[(Int, Long, Seq[Float], Int, Seq[Seq[Long]])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val rows = it.toArray
        val vecs = rows.map(r => r._2 -> r._3.map(_.toFloat).toArray).toMap
        val layers = rows.map(r => r._2 -> r._5.map(_.toArray).toArray).toMap
        def nbrAt(lc: Int): Long => Array[Long] =
          id => { val ls = layers(id); if (lc < ls.length) ls(lc) else Array.empty[Long] }
        val maxL = rows.iterator.map(_._4).max
        val epTop = rows.iterator.filter(_._4 == maxL).map(_._2).min
        br.value.getOrElse(cell, Nil).iterator.flatMap { qid =>
          val qv = bq.value(qid)
          var ep = epTop
          var lc = maxL
          while (lc > 0) {
            ep = greedySearchFn(vecs, nbrAt(lc), Seq(ep), qv, ef = 1).head._2
            lc -= 1
          }
          greedySearchFn(vecs, nbrAt(0), Seq(ep), qv, ef)
            .filter(c => !excludeSelf || c._2 != qid)
            .sortBy(t => (-t._1, t._2)).take(k)
            .map { case (sc, id) => (qid, id, sc) }
        }
      }
      .toDF("query_id", "vec_id", "cos_raw")
      .select(col("query_id"),
        struct((-round(col("cos_raw"), 6)).as("nc"), col("vec_id"),
          round(col("cos_raw"), 6).as("cos_sim")).as("rec"))
      .groupBy("query_id")
      .agg(minK(col("rec"), k).as("recs"))
      .select(col("query_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("rec.vec_id").as("vec_id"), col("rec.cos_sim").as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Layered search: partition-pruned read of the probed cells, then
    * per cell the HNSW descent — enter at the cell's top node, ef=1
    * greedy routing down to layer 1, ef-frontier walk at layer 0 —
    * and a global top-k. Same output contract as [[searchFrame]]
    * (exact cosine scores, rounded; total order on ties).
    */
  def searchFrameLayered(
      spark: SparkSession,
      indexDir: String,
      cents: Centroids,
      q: Array[Float],
      excludeId: Long,
      k: Int,
      nprobe: Int,
      ef: Int): DataFrame = {
    import spark.implicits._
    val probes = IvfIndex.probeCells(cents, q, nprobe)
    val bq = spark.sparkContext.broadcast(q)
    readCells(spark, indexDir)
      .filter(col("cluster").isin(probes.map(x => x: Any): _*))
      .select(col("cluster").cast("int").as("cluster"), col("vec_id"),
        col("embedding"), col("level"), col("layers"))
      .as[(Int, Long, Seq[Float], Int, Seq[Seq[Long]])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val vecs = rows.map(r => r._2 -> r._3.map(_.toFloat).toArray).toMap
        val layers = rows.map(r => r._2 -> r._5.map(_.toArray).toArray).toMap
        def nbrAt(lc: Int): Long => Array[Long] =
          id => { val ls = layers(id); if (lc < ls.length) ls(lc) else Array.empty[Long] }
        // entry: highest-level node, lowest id on ties — matches the
        // build's strictly-greater entry update given id-asc insertion
        val maxL = rows.iterator.map(_._4).max
        var ep = rows.iterator.filter(_._4 == maxL).map(_._2).min
        var lc = maxL
        while (lc > 0) {
          ep = greedySearchFn(vecs, nbrAt(lc), Seq(ep), bq.value, ef = 1).head._2
          lc -= 1
        }
        greedySearchFn(vecs, nbrAt(0), Seq(ep), bq.value, ef)
          .filter(_._2 != excludeId)
          .sortBy(t => (-t._1, t._2)).take(k)
          .iterator.map { case (s, id) => (id, s) }
      }
      .toDF("vec_id", "cos_raw")
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}
