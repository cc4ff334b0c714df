package graft

import org.apache.spark.sql.functions._

import graft.ops.RetrievalOps

/** MaxScore skip fraction at scale — the measurement behind r18: how
  * much of the posting volume does the block-max machinery skip once
  * the corpus is 10-30x larger, and does the answer stay identical to
  * the exhaustive scorer there? (At 100 TB the skipped fraction IS the
  * speedup: the gather re-reads only surviving docs' postings, so
  * skipped postings are bytes never scored.)
  *
  * Prints ONE JSON line with per-query posting counts, skip fractions,
  * and an `identical` flag against r02's exhaustive top-10 on the same
  * corpus. Run:
  * `SPARK_GRAFT_SF_DIR=/tmp/scale10 SPARK_GRAFT_CPUS=32
  *    sbt "runMain graft.ScaleWand"`
  */
object ScaleWand {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

    val t0 = System.nanoTime()
    val exhaustive = key(graft.ops.RetrievalOps.queries("r02_bm25_topk")(spark, sfDir))
    val exhaustiveSec = (System.nanoTime() - t0) / 1e9
    val topB = sys.env.getOrElse("SPARK_GRAFT_WAND_TOPB", "32").toInt
    val nBuckets = sys.env.getOrElse("SPARK_GRAFT_WAND_BUCKETS", "8").toInt
    val t1 = System.nanoTime()
    val (topk, stats) = RetrievalOps.maxScoreTopK(docs, k = 10, topB = topB, nBuckets = nBuckets)
    val bounded = key(topk)
    val boundedSec = (System.nanoTime() - t1) / 1e9

    val st = stats.orderBy("query_id").collect().map { r =>
      s"""{"query_id":${r.getLong(0)},"n_postings":${r.getLong(1)},""" +
        s""""n_skipped":${r.getLong(2)},"skip_frac":${r.getDouble(3)}}"""
    }

    // r21 arm: the SAME bounded evaluator over LEARNED impacts — the
    // skip fraction on a learned-sparse workload (trained fresh on this
    // fixture, so impacts reflect ITS distribution), identity checked
    // against the exhaustive learned scorer
    // train/serve split (the ScalePlaid discipline): the 3-pass
    // distributed impact descent is BUILD cost, timed separately, so
    // sec_bounded is comparable with the BM25 arm's (whose statistics
    // prep is likewise outside its timed window)
    val tTrain = System.nanoTime()
    val wPos = RetrievalOps.trainImpacts(docs) // trained ONCE, shared by both arms
    val lsTrainSec = (System.nanoTime() - tTrain) / 1e9
    val t2 = System.nanoTime()
    val (lsTopk, lsStats) = RetrievalOps.learnedSparseTopK(docs, wPos, k = 10, topB = topB, nBuckets = nBuckets)
    val lsBounded = key(lsTopk)
    val lsSec = (System.nanoTime() - t2) / 1e9
    val lsExhaustive = {
      import spark.implicits._
      key(RetrievalOps.learnedSparseContrib(docs, wPos)
        .groupBy("query_id", "doc_id").agg(sum(col("c")).as("score"))
        .select(col("query_id"),
          struct((-col("score")).as("ns"), col("doc_id"), col("score")).as("rec"))
        .groupBy("query_id")
        .agg(graft.functions.TopKAggregates.minK(col("rec"), 10).as("recs"))
        .select(col("query_id"), posexplode(col("recs")).as(Seq("pos", "rec")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
          col("rec.doc_id").as("doc_id"), col("rec.score").as("score"))
        .orderBy("query_id", "rank"))
    }
    val lsSt = lsStats.orderBy("query_id").collect().map { r =>
      s"""{"query_id":${r.getLong(0)},"n_postings":${r.getLong(1)},""" +
        s""""n_skipped":${r.getLong(2)},"skip_frac":${r.getDouble(3)}}"""
    }

    def r2(x: Double) = math.round(x * 100.0) / 100.0
    println(
      s"""{"sf":"$sfDir","identical":${bounded == exhaustive},""" +
        s""""per_query":[${st.mkString(",")}],""" +
        s""""learned_sparse":{"identical":${lsBounded == lsExhaustive},""" +
        s""""per_query":[${lsSt.mkString(",")}],"sec_bounded":${r2(lsSec)},""" +
        s""""sec_train":${r2(lsTrainSec)}},""" +
        s""""sec":{"bounded":${r2(boundedSec)},"exhaustive":${r2(exhaustiveSec)}}}""")
    spark.stop()
  }
}
