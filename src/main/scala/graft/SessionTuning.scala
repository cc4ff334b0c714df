package graft

import org.apache.spark.sql.SparkSession

/** Scale-ADAPTIVE execution defaults shared by every entry point (Bench,
  * Verify, Profile, PlanDump, the Scale* tools) — guide §2.2: "fewer,
  * larger reduce partitions … let AQE coalesce small partitions".
  *
  * The round-18 driver measured the whole suite ANTI-scaling: 262 s at 8
  * cores vs 321 s at 32 at sf0.1, every per-query ratio ≤ 1.03. The
  * mechanism: `spark.sql.shuffle.partitions = cpus` (the bench contract)
  * plus AQE's default `coalescePartitions.parallelismFirst=true`, which
  * coalesces only down to `minPartitionSize` (1 MB) in the name of
  * parallelism — so every exchange over this ~15 MB-per-table dataset
  * still fans out ~cpus near-empty tasks whose scheduling dwarfs their
  * compute. Spark's own config reference recommends setting
  * `parallelismFirst` to false so post-shuffle partitions target
  * `advisoryPartitionSizeInBytes` instead.
  *
  * This is NOT a local[32]-only constant: the advisory target (64 MB
  * default, env-overridable) is what a production 100 TB run wants too —
  * at that scale per-exchange bytes/advisory ≫ cores, so coalescing
  * keeps full parallelism and only trims the empty-task tail; at bench
  * scale it collapses the tail entirely. The partition COUNT adapts to
  * the data either way, which is exactly the scale-adaptive posture the
  * optimization brief asks for (a constant tuned for either local mode
  * or the cluster is wrong on the other side).
  *
  * `SPARK_GRAFT_ADVISORY_MB` overrides the target size (production
  * clusters with fast NICs may prefer 128–256 MB, guide §9).
  *
  * Every session in the repo comes from [[local]]: Bench, Verify, Profile,
  * PlanDump, the `Scale*` and stream benches, `IngestCli` (with its own
  * deployment master) and the test suite's `SparkSpec` (plus a temp
  * warehouse dir), so the CLI and the tests run the config Bench measures.
  * perfbench, whose code is frozen between benchmark changes, sets the same
  * confs itself around [[tuned]] and adds its own directory paths.
  */
object SessionTuning {
  /** Cores for a local run: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The session builder for `cores` local cores: [[tuned]], shuffle
    * partitions = cores, UI off, UTC (the NTZ→LTZ cast in `Tables.t` is an
    * identity reinterpretation only under UTC), and nanosecond parquet
    * timestamps read as longs (the events table is TIMESTAMP(NANOS)).
    * The master is `local[cores]`; a caller may override it.
    */
  def local(cores: Int = cpus): SparkSession.Builder =
    tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.ops.Tables.NanosConf, "true")

  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    val advisoryMb = sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "64")
    b.config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", s"${advisoryMb}m")
      // Cached plans keep their exchange partitioning by default (the
      // flag exists so cache-partitioning reuse stays predictable), which
      // re-opens the near-empty-task hole for every persist()ed
      // intermediate (the LSH signature/shingle tables): their build
      // stages ran `cpus` tasks over kilobytes and every downstream scan
      // of the cache inherited them. Letting AQE re-size cached-plan
      // output applies the same advisory-size rule to caches.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
  }

  /** Scale-adaptive partition count for operators that must pick an
    * EXPLICIT partition count (range-partitioned two-phase ranks, whose
    * per-partition offset collection needs the count pinned before the
    * job runs — AQE cannot coalesce an explicit repartition). Derived
    * from the plan's own size estimate: ~`targetBytes` per partition,
    * clamped to [1, 2 × defaultParallelism] so a mis-estimate can never
    * schedule thousands of empty tasks nor starve a big input. At sf0.1
    * (≈0.6 MB of documents) this yields 1–2 partitions where a
    * hard-coded `defaultParallelism` scheduled 32 near-empty sort tasks
    * per doubling round; at 100 TB the byte estimate dominates and the
    * cap keeps every core busy.
    *
    * Pass the frame BEFORE any `localCheckpoint()`: a checkpointed plan
    * carries no statistics, only `defaultSizeInBytes` (effectively
    * infinite), so the count silently pins at the cap.
    */
  def adaptiveParts(df: org.apache.spark.sql.DataFrame,
      targetBytes: Long = 16L << 20): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = df.sparkSession.sparkContext.defaultParallelism * 2
    val want = (bytes / targetBytes).min(BigInt(cap)).max(BigInt(1))
    want.toInt
  }

  /** Partition count for SPREADING a lambda/CPU-heavy projection off a
    * single parquet split (the pipelines' feature passes, the n-gram
    * expansions): one partition per ~64 KB of estimated input, capped
    * at defaultParallelism. A hard-coded `repartition(cores)` was the
    * other half of the 32-core anti-scaling — 32 near-empty tasks per
    * tiny input, pinned downstream by the frame's localCheckpoint (AQE
    * never touches an explicit repartition). The small per-partition
    * target reflects that these rows carry heavy per-row lambdas (the
    * work/byte ratio is high); the cap restores full fan-out on real
    * corpora.
    *
    * The same caveat as [[adaptiveParts]]: a `localCheckpoint()`ed input
    * reports `defaultSizeInBytes`, so the count pins at the cap.
    */
  def spreadParts(df: org.apache.spark.sql.DataFrame,
      bytesPerPart: Long = 64L << 10): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = df.sparkSession.sparkContext.defaultParallelism
    (bytes / bytesPerPart).min(BigInt(cap)).max(BigInt(1)).toInt
  }
}
