package graft

import org.apache.spark.sql.functions._

import graft.ops.{IvfIndex, RetrievalOps}

/** PLAID front-end at scale — the measurement behind r17: does the
  * centroid-interaction prune hold recall once the token corpus is
  * 10-30x larger, and how hard does it bite? The gate SFs cannot ask
  * either question (40 candidates ~ the whole 62-doc corpus there).
  *
  * Panel: query docs 0..7 (vec_ids 0..63 — present at every fixture;
  * blow-up copies land under offset ids). Ground truth per query doc
  * is the UNPRUNED exact MaxSim top-10 (r15's kernel over the whole
  * corpus). Reported per fixture: recall@10 mean/min/per-query for
  * the r17 operating point (64 token cells, top-40 candidates),
  * candidate fraction (gathered docs / corpus docs — the bite), and
  * wall-clock for the pruned vs unpruned kernel (both cold, same
  * session; the ratio understates the 100 TB gap because ground
  * truth shares the session's shuffle warmup).
  *
  * Prints ONE JSON line. Run:
  * `SPARK_GRAFT_SF_DIR=/tmp/scale10 SPARK_GRAFT_CPUS=32
  *    sbt "runMain graft.ScalePlaid"`
  */
object ScalePlaid {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nDocs = emb.select(expr("vec_id div 8")).distinct().count()
    val cents = IvfIndex.train(emb, k = 64, iters = 2)
    val qvecs = emb.filter(col("vec_id") < 64)
      .select(expr("vec_id div 8").as("qdoc"), expr("vec_id % 8").as("qtok"), col("embedding"))
      .as[(Long, Long, Seq[Float])].collect().toSeq.sortBy(v => (v._1, v._2))
    val qdocs = qvecs.map(_._1).distinct.sorted

    val t0 = System.nanoTime()
    val exact = RetrievalOps.maxSimScored(
      emb.select(expr("vec_id div 8").as("doc_id"), col("embedding")), qvecs)
      .localCheckpoint(true)
    // bounded minK heap, not a window partitioned by the 8-value qdoc
    // (the low-cardinality-window anti-pattern the repo bans even in
    // measurement mains)
    val top10 = exact
      .select(col("qdoc"),
        struct((-col("maxsim")).as("nk"), col("doc_id")).as("rec"))
      .groupBy("qdoc")
      .agg(graft.functions.TopKAggregates.minK(col("rec"), 10).as("rs"))
      .select(col("qdoc").as("kq"), explode(col("rs")).as("r"))
      .select(col("kq"), col("r.doc_id").as("k_id"))
      .localCheckpoint(true)
    val exactSec = (System.nanoTime() - t0) / 1e9

    // plaid arm, split honestly: the inverted index build (offline at
    // 100 TB, amortized across queries) vs the probed serve — but the
    // headline sec.plaid stays build+serve so the comparison vs the
    // index-free exact kernel is conservative
    val t1 = System.nanoTime()
    val cellSets = RetrievalOps.plaidCellSets(emb, cents).localCheckpoint(true)
    val buildSec = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val (topk, cand) = RetrievalOps.plaidMaxSim(
      emb, cellSets, qvecs, cents, nCand = 40, k = 10, nprobe = 8)
    val got = topk.localCheckpoint(true)
    val plaidSec = (System.nanoTime() - t1) / 1e9
    val serveSec = (System.nanoTime() - t2) / 1e9

    val nGathered = cand.select("doc_id").distinct().count()
    val rec = got.join(top10, col("query_doc") === col("kq") && col("doc_id") === col("k_id"))
      .groupBy("query_doc").count().as[(Long, Long)].collect().toMap
    val perQ = qdocs.map(q => rec.getOrElse(q, 0L))
    def r2(x: Double) = math.round(x * 100.0) / 100.0
    println(
      s"""{"sf":"$sfDir","n_docs":$nDocs,"n_queries":${qdocs.length},"k_cells":64,"n_cand":40,"nprobe":8,""" +
        s""""recall_at10":{"mean":${r2(perQ.sum.toDouble / perQ.length)},"min":${perQ.min},""" +
        s""""per_query":${perQ.mkString("[", ",", "]")}},""" +
        s""""candidate_fraction":${r2(nGathered.toDouble / nDocs)},""" +
        s""""sec":{"plaid":${r2(plaidSec)},"index_build":${r2(buildSec)},"serve":${r2(serveSec)},"exact_full":${r2(exactSec)}}}""")
    spark.stop()
  }
}
