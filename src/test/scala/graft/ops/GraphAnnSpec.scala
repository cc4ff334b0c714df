package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Behavior pins for the NSW graph ANN (s22): the soundness booleans
  * must actually hold on this corpus, the exact column must agree with
  * an independent DataFrame-side brute force, and the walk must be
  * deterministic run to run (fixed graph, fixed entries — no RNG).
  */
class GraphAnnSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def run() = graft.SparkEntry.queries("s22_nsw_ann")(spark, sfDir).collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Double]("exact_top1_cos"),
      r.getAs[Boolean]("top1_sound"), r.getAs[Boolean]("recall_floor_ok")))

  test("s22: every query clears the recall floor and never beats the exact optimum") {
    val rows = run()
    assert(rows.length == 20)
    assert(rows.forall(_._3), s"a walk 'beat' the brute-force optimum: ${rows.filterNot(_._3).toSeq}")
    assert(rows.forall(_._4), s"recall floor missed: ${rows.filterNot(_._4).toSeq}")
  }

  test("s22: the exact_top1 column agrees with an independent DataFrame brute force") {
    val rows = run().map(r => r._1 -> r._2).toMap
    val emb = Tables.t(spark, sfDir, "embeddings")
    val panel = emb.filter(col("vec_id") < 256)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val expect = emb.filter(col("vec_id") >= 256 && col("vec_id") < 276)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(broadcast(panel))
      .select(col("query_id"),
        round(graft.functions.VectorFunctions.cosine_similarity(col("qe"), col("pe")), 6).as("c"))
      .groupBy("query_id").agg(max(col("c")).as("m"))
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("m")).toMap
    assert(rows.keySet == expect.keySet)
    rows.foreach { case (q, c) =>
      assert(math.abs(c - expect(q)) < 1e-9, s"query $q: $c vs DataFrame brute force ${expect(q)}")
    }
  }

  test("s22: the walk is deterministic (identical output across runs)") {
    assert(run().toSeq == run().toSeq)
  }

  // ---- s23: per-IVF-cell NSW graphs (the corpus-scale composition) ----

  private def s23Index(dir: String) = {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-spec").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    (emb, idxDir, cents, qe)
  }

  test("s23: search reads ONLY the probed cells (partition pruning) and " +
    "recall@10 matches the s18 bar at both test SFs") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val (emb, idxDir, cents, qe) = s23Index(dir)
      val ann = NswIndex.searchFrame(spark, idxDir, cents, qe, excludeId = 0L,
        k = 10, nprobe = 4, ef = 48)
      val plan = ann.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"no partition filter in the index scan:\n$plan")
      val probes = IvfIndex.probeCells(cents, qe, nprobe = 4).toSet
      val touched = spark.read.parquet(s"$idxDir/cells")
        .filter(col("cluster").isin(probes.map(x => x: Any).toSeq: _*))
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(touched.forall { f =>
        probes.contains("cluster=([0-9]+)".r.findFirstMatchIn(f).get.group(1).toInt)
      }, "scan touched an unprobed cell")
      // recall@10 vs the exact corpus-wide top-10 — the IVF probe set is
      // the ceiling (s04/s18 measure 9/10 here); the walk must not lose more
      val got = ann.collect().map(_.getLong(0)).toSet
      val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
      val exact = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosine_similarity(col("embedding"), col("qe")), 6).as("c"))
        .orderBy(col("c").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val recall = got.intersect(exact).size
      assert(recall >= 9, s"$dir: recall@10 = $recall, below the 9/10 s18 bar")
    }
  }

  test("s23: the per-cell graphs have bounded degree (back-link trim) and " +
    "search is deterministic across runs") {
    val (_, idxDir, cents, qe) = s23Index("/root/testdata/sf0.001")
    val deg = spark.read.parquet(s"$idxDir/cells")
      .select(size(col("nbrs")).as("d")).agg(max(col("d"))).head().getInt(0)
    assert(deg <= 16, s"degree $deg exceeds the 2m=16 trim cap")
    def once() = NswIndex.searchFrame(spark, idxDir, cents, qe, excludeId = 0L,
      k = 10, nprobe = 4, ef = 48).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(once() == once())
  }

  // ---- s25: HNSW layer hierarchy inside each cell ----

  private def s25Index(dir: String) = {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("hnsw-spec").toString
    val cents = NswIndex.buildLayered(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    (emb, idxDir, cents, qe)
  }

  test("s25: selectHeuristic keeps the diversity rule — a candidate inside a kept " +
    "neighbour's clique is pruned while slots remain, degree tops up from pruned") {
    // base at origin-ish; a tight clique near (1,0) and a distinct
    // region near (0,1): simple 2-nearest would take both clique
    // members and never link the second region
    val vecs = Map[Long, Array[Float]](
      1L -> Array(1f, 0f), 2L -> Array(0.999f, 0.01f), 3L -> Array(0f, 1f))
    val base = Array(0.8f, 0.3f)
    def s(id: Long) = NswIndex.cos(base, vecs(id))
    val cands = Seq(1L, 2L, 3L).map(id => (s(id), id)).sortBy(t => (-t._1, t._2))
    val picked = NswIndex.selectHeuristic(base, cands, vecs, m = 2)
    assert(picked.contains(3L),
      s"diversity rule must keep one edge per region, got $picked (clique-only would strand routing)")
    assert(picked.length == 2, s"degree must stay m: $picked")
    // with m = 3 the pruned clique member tops the list back up
    val all = NswIndex.selectHeuristic(base, cands, vecs, m = 3)
    assert(all.toSet == Set(1L, 2L, 3L), s"keepPruned must restore degree, got $all")
    // deterministic
    assert(picked == NswIndex.selectHeuristic(base, cands, vecs, m = 2))
  }

  test("s25: the layered graph respects the hierarchy invariants — " +
    "hash-determined levels, layer-l links only to level>=l nodes, degree caps") {
    val (_, idxDir, _, _) = s25Index(sfDir)
    val rows = spark.read.parquet(s"$idxDir/cells")
      .select("vec_id", "level", "layers").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("level"),
        r.getAs[scala.collection.Seq[scala.collection.Seq[Long]]]("layers")))
    // level is exactly the splitmix64 hash draw — no RNG anywhere
    rows.foreach { case (id, lvl, layers) =>
      assert(lvl == NswIndex.levelOf(id, 6), s"node $id: stored level $lvl != hash level")
      assert(layers.length == lvl + 1, s"node $id: ${layers.length} layers for level $lvl")
    }
    val levelById = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (id, _, layers) =>
      layers.zipWithIndex.foreach { case (nbrs, lc) =>
        // a layer-l edge may only point at a node that EXISTS at layer l
        nbrs.foreach(o => assert(levelById(o) >= lc,
          s"node $id links to $o at layer $lc but its level is ${levelById(o)}"))
        val cap = if (lc == 0) 16 else 8
        assert(nbrs.length <= cap, s"node $id layer $lc degree ${nbrs.length} > $cap")
      }
    }
    // the hierarchy thins geometrically: upper layers must be a small
    // minority (P(level>=1) = 1/8; 500 nodes => ~62 expected)
    val upper = rows.count(_._2 >= 1)
    assert(upper > 0 && upper < rows.length / 4,
      s"$upper of ${rows.length} nodes above layer 0 — not a thinning hierarchy")
  }

  // ---- s26: batched multi-query search over one index ----

  test("s26: batched search equals Q independent single-query walks bit-for-bit, " +
    "reads the index in ONE pruned scan, and is deterministic") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-batch-spec").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val panel: Map[Long, Array[Float]] = emb.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def once() = NswIndex.searchFrameMany(spark, idxDir, cents, panel,
      k = 10, nprobe = 4, ef = 48)
    val batch = once()
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter in the index scan:\n$plan")
    // the whole point of the batch: ONE scan of the index serves all 8
    // queries — a plan with one scan per query would re-read shared cells
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"batch plan must contain exactly one index scan:\n$plan")
    val rows = batch.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    // bit-identical to Q independent searchFrame calls (same walk, same
    // rounded-cosine total order) — the batch amortizes IO, nothing else
    panel.keys.toSeq.sorted.foreach { qid =>
      val single = NswIndex.searchFrame(spark, idxDir, cents, panel(qid),
        excludeId = qid, k = 10, nprobe = 4, ef = 48)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      val got = rows.filter(_._1 == qid).sortBy(_._2).map(t => (t._3, t._4))
      assert(got == single, s"query $qid: batch != single\nbatch:  $got\nsingle: $single")
    }
    assert(once().collect().toSeq == batch.collect().toSeq, "batch walk must be deterministic")
  }

  // ---- s31: filtered × batched (panels under predicates) ----

  test("s31: both filtered-batch strategies equal per-query filtered calls " +
    "bit-for-bit, each reads the index in ONE pruned scan (prefilter with the " +
    "meta predicate pushed), and both are deterministic") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-fbatch-spec").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32,
      metaCol = Some("label"))
    val panel: Map[Long, Array[Float]] = emb.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq

    // PREFILTER batch at nprobe=8 (not all cells): the per-query
    // cell-membership guard must keep each query exact within ITS OWN
    // probes even though the shared scan reads the panel's union
    def preOnce() = NswIndex.searchFrameManyPrefiltered(spark, idxDir, cents, panel,
      k = 10, nprobe = 8, metaPred = col("meta") === 3L, expectMetaCol = Some("label"))
    val pre = preOnce()
    val prePlan = pre.queryExecution.executedPlan.toString
    assert(prePlan.contains("PartitionFilters"), s"no partition prune:\n$prePlan")
    assert("PushedFilters: \\[[^\\]]*meta".r.findFirstIn(prePlan).isDefined,
      s"meta predicate not pushed into the shared scan:\n$prePlan")
    assert("Scan parquet".r.findAllIn(prePlan).length == 1,
      s"prefilter batch must read the index in exactly one scan:\n$prePlan")
    val preRows = rowsOf(pre)
    panel.keys.toSeq.sorted.foreach { qid =>
      val single = NswIndex.searchFramePrefiltered(spark, idxDir, cents, panel(qid),
        excludeId = qid, k = 10, nprobe = 8, metaPred = col("meta") === 3L)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      val got = preRows.filter(_._1 == qid).sortBy(_._2).map(t => (t._3, t._4))
      assert(got == single, s"prefilter query $qid: batch != single\nbatch:  $got\nsingle: $single")
    }
    assert(rowsOf(preOnce()) == preRows, "prefilter batch must be deterministic")

    // IN-WALK batch (permissive predicate): graphs read once for the
    // whole panel, walks bit-identical to per-query filtered calls
    def walkOnce() = NswIndex.searchFrameManyFiltered(spark, idxDir, cents, panel,
      k = 10, nprobe = 4, ef = 48, allowMeta = _ != 3L, expectMetaCol = Some("label"))
    val walk = walkOnce()
    val walkPlan = walk.queryExecution.executedPlan.toString
    assert(walkPlan.contains("PartitionFilters"), s"no partition prune:\n$walkPlan")
    assert("Scan parquet".r.findAllIn(walkPlan).length == 1,
      s"in-walk batch must read the index in exactly one scan:\n$walkPlan")
    val walkRows = rowsOf(walk)
    panel.keys.toSeq.sorted.foreach { qid =>
      val single = NswIndex.searchFrameFiltered(spark, idxDir, cents, panel(qid),
        excludeId = qid, k = 10, nprobe = 4, ef = 48, allowMeta = _ != 3L)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      val got = walkRows.filter(_._1 == qid).sortBy(_._2).map(t => (t._3, t._4))
      assert(got == single, s"in-walk query $qid: batch != single\nbatch:  $got\nsingle: $single")
    }
    assert(rowsOf(walkOnce()) == walkRows, "in-walk batch must be deterministic")
  }

  // ---- s35: batched layered search ----

  test("s35: batched layered search equals Q independent layered calls bit-for-bit, " +
    "reads the index in ONE pruned scan, and is deterministic") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("hnsw-batch-spec").toString
    val cents = NswIndex.buildLayered(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val panel: Map[Long, Array[Float]] = emb.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def once() = NswIndex.searchFrameManyLayered(spark, idxDir, cents, panel,
      k = 10, nprobe = 4, ef = 48)
    val batch = once()
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition prune:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"batched layered search must read the index in exactly one scan:\n$plan")
    val rows = batch.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    panel.keys.toSeq.sorted.foreach { qid =>
      val single = NswIndex.searchFrameLayered(spark, idxDir, cents, panel(qid),
        excludeId = qid, k = 10, nprobe = 4, ef = 48)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      val got = rows.filter(_._1 == qid).sortBy(_._2).map(t => (t._3, t._4))
      assert(got == single, s"query $qid: batch != single\nbatch:  $got\nsingle: $single")
    }
    assert(once().collect().toSeq == batch.collect().toSeq, "batched layered walk must be deterministic")
  }

  // ---- s36: tombstoned graph serving ----

  test("s36: tombstoned search never returns a deleted id, equals the plain walk " +
    "when the channel is empty, stays correct as tombstones accrue, deterministic") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-tomb-spec").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    def tomb() = NswIndex.searchFrameTombstoned(spark, idxDir, cents, qe,
      excludeId = 0L, k = 10, nprobe = 4, ef = 48)
    def plain() = NswIndex.searchFrame(spark, idxDir, cents, qe,
      excludeId = 0L, k = 10, nprobe = 4, ef = 48)
    // empty channel: identical to the plain walk
    assert(tomb().collect().toSeq == plain().collect().toSeq,
      "tombstoned search with no tombstones must equal the plain walk")
    // delete the plain walk's top-3: they must vanish, and the next
    // results must be the plain walk's continuation (same graph, same
    // walk — only the keep set changed)
    val top = plain().collect().map(_.getLong(0)).toSeq
    graft.streaming.IndexStreams.tombstoneBatch(spark, top.take(3), 0L, idxDir)
    val after = tomb().collect().map(_.getLong(0)).toSeq
    assert(top.take(3).forall(id => !after.contains(id)),
      s"deleted ids still served: $after")
    assert(after.take(7) == top.drop(3),
      s"surviving results must be the plain walk's continuation\nplain: $top\nafter: $after")
    // accrue a second epoch: both epochs' deletes apply
    graft.streaming.IndexStreams.tombstoneBatch(spark, Seq(top(3)), 1L, idxDir)
    val after2 = tomb().collect().map(_.getLong(0)).toSeq
    assert(!after2.contains(top(3)) && top.take(3).forall(id => !after2.contains(id)))
    assert(tomb().collect().toSeq == tomb().collect().toSeq, "tombstoned walk must be deterministic")
  }

  test("s36: rebuildTombstoned is bit-identical to a fresh build over the surviving " +
    "corpus, clears the consumed tombstone channel, and a no-tombstone rebuild " +
    "round-trips the index") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-rebuild-spec").toString
    NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val deleted = Seq(1L, 2L, 3L, 105L)
    graft.streaming.IndexStreams.tombstoneBatch(spark, deleted, 0L, idxDir)
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    val cents = NswIndex.rebuildTombstoned(spark, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    // channel consumed: the tombstones dir is gone
    assert(!new java.io.File(s"$idxDir/tombstones").exists(), "rebuild must clear the channel")
    // bit-identical to a fresh build over the filtered corpus
    val freshDir = java.nio.file.Files.createTempDirectory("nsw-rebuild-fresh").toString
    val freshCents = NswIndex.build(emb.filter(!col("vec_id").isin(deleted.map(x => x: Any): _*)),
      freshDir, k = 16, iters = 2, m = 8, efC = 32)
    val rebuilt = NswIndex.searchFrame(spark, idxDir, cents, qe, 0L, 10, 4, 48)
      .collect().map(_.toString).toSeq
    val fresh = NswIndex.searchFrame(spark, freshDir, freshCents, qe, 0L, 10, 4, 48)
      .collect().map(_.toString).toSeq
    assert(rebuilt == fresh, s"rebuild drifted from the fresh build\nrebuilt: $rebuilt\nfresh:   $fresh")
    assert(rebuilt.nonEmpty && deleted.forall(id => !rebuilt.contains(id.toString)))
    // cells really shrank — in the generation the marker publishes
    // (gen 0 stays on disk for in-flight readers)
    val gen = IvfIndex.readLiveState(spark, idxDir).gen
    assert(gen == 1L, s"rebuild must publish a new generation, got $gen")
    assert(spark.read.parquet(NswIndex.cellsDir(idxDir, gen)).count() ==
      emb.count() - deleted.size)
    // a rebuild with NO tombstones is a pure round-trip of the same corpus
    val cents2 = NswIndex.rebuildTombstoned(spark, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    assert(NswIndex.searchFrame(spark, idxDir, cents2, qe, 0L, 10, 4, 48)
      .collect().map(_.toString).toSeq == rebuilt)
  }

  test("s36: a META-BUILT index rebuilds WITH its metadata — filtered search " +
    "still works after the rebuild, deleted ids excluded, marker name preserved") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-rebuild-meta").toString
    NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32, metaCol = Some("label"))
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    val preIds = NswIndex.searchFramePrefiltered(spark, idxDir,
      NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32, metaCol = Some("label")),
      qe, 0L, 10, 16, col("meta") === 3L, expectMetaCol = Some("label"))
      .collect().map(_.getLong(0)).toSeq
    val del = preIds.take(2)
    graft.streaming.IndexStreams.tombstoneBatch(spark, del, 0L, idxDir)
    val cents = NswIndex.rebuildTombstoned(spark, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    // the marker survived with the ORIGINAL source-column name
    val post = NswIndex.searchFramePrefiltered(spark, idxDir, cents, qe, 0L, 10, 16,
      col("meta") === 3L, expectMetaCol = Some("label"))
      .collect().map(_.getLong(0)).toSeq
    assert(post.nonEmpty && del.forall(id => !post.contains(id)),
      s"rebuilt filtered search served a deleted id: $post")
    // and it equals the pre-rebuild filtered list minus the deleted ids
    // (prefilter at nprobe=16 is exact over the filtered corpus, and the
    // label values must have survived the rebuild byte-for-byte)
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(post.forall(labels(_) == 3), "a non-matching label surfaced after rebuild")
  }

  // ---- s27: metadata-filtered search (prefilter + in-walk) ----

  test("s27: the prefilter strategy pushes the meta predicate into the parquet scan " +
    "and equals an independent brute force over the filtered probed cells") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-filt-spec").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32,
      metaCol = Some("label"))
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    val pre = NswIndex.searchFramePrefiltered(spark, idxDir, cents, qe, excludeId = 0L,
      k = 10, nprobe = 8, metaPred = col("meta") === 3L)
    val plan = pre.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no cluster partition prune:\n$plan")
    assert("PushedFilters: \\[[^\\]]*meta".r.findFirstIn(plan).isDefined,
      s"meta predicate not pushed to the scan:\n$plan")
    // independent brute force: exact cosine over label-3 vectors whose
    // ASSIGNED cell is probed (same centroids, driver-side routing)
    val probes = IvfIndex.probeCells(cents, qe, nprobe = 8).toSet
    val expect = IvfIndex.assignments(emb, cents, extraCols = Seq("label"))
      .filter(col("label") === 3 && col("vec_id") =!= 0L)
      .filter(col("cluster").isin(probes.map(x => x: Any).toSeq: _*))
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.cosine_similarity(
          col("embedding"), array(qe.toSeq.map(lit): _*)), 6).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = pre.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect, s"prefilter != brute force over filtered probes\ngot:    $got\nexpect: $expect")
  }

  test("s27: the in-walk strategy returns only allowed nodes, never beats the " +
    "prefilter optimum, clears the 9/10 floor against it, and routing survives " +
    "a predicate sparser than ef") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-filt-spec2").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32,
      metaCol = Some("label"))
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    def walk(allow: Long => Boolean) = NswIndex.searchFrameFiltered(spark, idxDir, cents,
      qe, excludeId = 0L, k = 10, nprobe = 8, ef = 48, allowMeta = allow)
    val got = walk(_ == 3L).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(got.forall(t => labels(t._1) == 3), s"in-walk returned a non-matching node: $got")
    val exactWithinProbes = NswIndex.searchFramePrefiltered(spark, idxDir, cents, qe,
      excludeId = 0L, k = 10, nprobe = 8, metaPred = col("meta") === 3L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the walk can only equal the exact-within-probes optimum, never beat it
    assert(got.head._2 <= exactWithinProbes.head._2 + 1e-12)
    val recall = got.map(_._1).toSet.intersect(exactWithinProbes.map(_._1).toSet).size
    assert(recall >= 9, s"in-walk recall@10 vs exact-within-probes = $recall")
    assert(walk(_ == 3L).collect().toSeq == walk(_ == 3L).collect().toSeq,
      "filtered walk must be deterministic")
    // sparser-than-ef completeness: ~3 allowed nodes per probed cell is
    // far under ef=48, so the kept-floor never engages and the walk
    // visits each cell's whole component — every reachable allowed node
    // must surface (a walk whose frontier were gated on KEPT scores
    // only would strand in disallowed regions and miss some)
    val allAllowedInProbes = {
      val probes = IvfIndex.probeCells(cents, qe, nprobe = 8).toSet
      IvfIndex.assignments(emb, cents, extraCols = Seq("label"))
        .filter(col("label") === 3 && col("vec_id") =!= 0L)
        .filter(col("cluster").isin(probes.map(x => x: Any).toSeq: _*))
        .count()
    }
    assert(got.size == math.min(10L, allAllowedInProbes),
      s"walk returned ${got.size} of min(10, $allAllowedInProbes) reachable allowed nodes")
    // the empty predicate returns an empty frame, not an error
    assert(walk(_ => false).count() == 0)
  }

  test("s27: filtered search fails LOUDLY against an index built without metaCol") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-nometa-spec").toString
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32) // no metaCol
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    val e1 = intercept[IllegalArgumentException] {
      NswIndex.searchFrameFiltered(spark, idxDir, cents, qe, 0L, 10, 8, 48, _ == 3L)
    }
    assert(e1.getMessage.contains("metaCol"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      NswIndex.searchFramePrefiltered(spark, idxDir, cents, qe, 0L, 10, 8, col("meta") === 3L)
    }
    assert(e2.getMessage.contains("metaCol"), e2.getMessage)
  }

  test("s27: a metaCol-less rebuild DELETES a stale meta marker, and a search " +
    "expecting a different source column than the marker records fails loudly") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("nsw-stale-marker").toString
    val qe = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()

    // build WITH metaCol, then rebuild WITHOUT into the same directory:
    // the stale marker must not survive to vouch for the all-zero
    // placeholder meta the rebuild wrote
    NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32, metaCol = Some("label"))
    val cents = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32)
    val e1 = intercept[IllegalArgumentException] {
      NswIndex.searchFramePrefiltered(spark, idxDir, cents, qe, 0L, 10, 8, col("meta") === 3L)
    }
    assert(e1.getMessage.contains("metaCol"), e1.getMessage)

    // build with metaCol="label" but search declaring it expects "lang":
    // the marker's recorded column must be validated, not just existence
    val cents2 = NswIndex.build(emb, idxDir, k = 16, iters = 2, m = 8, efC = 32,
      metaCol = Some("label"))
    val e2 = intercept[IllegalArgumentException] {
      NswIndex.searchFramePrefiltered(spark, idxDir, cents2, qe, 0L, 10, 8,
        col("meta") === 3L, expectMetaCol = Some("lang"))
    }
    assert(e2.getMessage.contains("lang") && e2.getMessage.contains("label"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      NswIndex.searchFrameFiltered(spark, idxDir, cents2, qe, 0L, 10, 8, 48, _ == 3L,
        expectMetaCol = Some("lang"))
    }
    assert(e3.getMessage.contains("label"), e3.getMessage)
    // the matching declaration passes
    assert(NswIndex.searchFramePrefiltered(spark, idxDir, cents2, qe, 0L, 10, 8,
      col("meta") === 3L, expectMetaCol = Some("label")).count() > 0)
  }

  test("s25: layered search is partition-pruned, deterministic, and clears " +
    "the s23 recall bar at both test SFs") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val (emb, idxDir, cents, qe) = s25Index(dir)
      def once() = NswIndex.searchFrameLayered(spark, idxDir, cents, qe,
        excludeId = 0L, k = 10, nprobe = 4, ef = 48)
      val ann = once()
      val plan = ann.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"no partition filter in the index scan:\n$plan")
      assert(once().collect().toSeq == once().collect().toSeq)
      val got = ann.collect().map(_.getLong(0)).toSet
      val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
      val exact = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosine_similarity(col("embedding"), col("qe")), 6).as("c"))
        .orderBy(col("c").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val recall = got.intersect(exact).size
      assert(recall >= 9, s"$dir: recall@10 = $recall, below the 9/10 s23/s18 bar")
    }
  }
}
