package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark: one workload per invocation, a closed loop with one
  * caller. Usage:
  * {{{
  *   Main --workload <kafka_small|day_backlog|read_back> --seed <n>
  *        --seconds <n> --trace <0|1> --root <checkout>
  * }}}
  * Set-up (session start, input generation, any corpus landing and one
  * warm-up iteration) runs [[Main.Setups]] times and reports the median.
  * Timed iterations then run until `--seconds` of iteration wall have
  * passed, and at least [[Main.MinIterations]] iterations and
  * [[Main.MinBatches]] batches; each starts from an empty sink,
  * watermark and checkpoint, and its output is checked outside the timed
  * region. With `--trace 1` half the time runs untraced and half traced,
  * and the run prints the per-layer metrics plus the difference as the
  * tracing overhead. The last stdout line is the JSON result.
  */
object Main {
  val Setups = 3
  val MinIterations = 3
  /** Enough batches that ten lie beyond the reported p75. */
  val MinBatches = 40
  /** No iteration starts after this much run time, so a run ends in time. */
  val DeadlineSec = 120.0

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, root: Path)

  /** End-to-end metrics, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "objects_per_s" -> "1/s", "mb_per_s" -> "MB/s",
    "batch_ms_p50" -> "ms", "batch_ms_p75" -> "ms", "heap_live_mb" -> "MB")

  /** Per-layer metrics, in output order; a layer a workload does not use reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_wait_ms" -> "ms", "spark.task_gc_ms" -> "ms",
    "spark.task_max_ms" -> "ms", "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.driver_ms" -> "ms",
    "IngestStream.batches" -> "count", "IngestStream.add_batch_ms" -> "ms", "IngestStream.latest_offset_ms" -> "ms",
    "IngestStream.planning_ms" -> "ms", "IngestStream.wal_commit_ms" -> "ms", "IngestStream.commit_ms" -> "ms",
    "IngestStream.jobs_per_batch" -> "jobs/batch",
    "KafkaLogSource.records" -> "count", "KafkaLogSource.tombstones" -> "count", "KafkaLogSource.scan_ms" -> "ms",
    "IngestJob.days" -> "count", "IngestJob.jobs_per_day" -> "jobs/day",
    "AuditSource.files" -> "count", "AuditSource.bytes" -> "bytes", "AuditSource.list_ms" -> "ms",
    "Watermark.commits" -> "count", "Watermark.commit_ms" -> "ms",
    "ObjectStore.puts" -> "count", "ObjectStore.put_attempts" -> "count", "ObjectStore.put_ms" -> "ms",
    "ObjectStore.put_bytes" -> "bytes", "ObjectStore.meta_bytes" -> "bytes",
    "KeyProvider.fetches" -> "count",
    "Zlib.compress_ms_per_mb" -> "ms/MB", "Zlib.decompress_ms_per_mb" -> "ms/MB", "Zlib.ratio" -> "ratio",
    "Envelope.wrap_us" -> "us", "Envelope.encrypt_us" -> "us", "Envelope.aes_ms_per_mb" -> "ms/MB",
    "Envelope.unwrap_us" -> "us", "Envelope.decrypt_us" -> "us",
    "IngestReader.objects" -> "count", "IngestReader.bytes" -> "bytes", "IngestReader.list_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1", Path.of(req("root")))
  }

  def workload(name: String, seed: Long, keys: Keys): Workload = name match {
    case "kafka_small" => new KafkaSmall(seed, keys)
    case "day_backlog" => new DayBacklog(seed, keys)
    case "read_back" => new ReadBack(seed, keys)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `graft.Bench`'s session: tuned, UTC, shuffle partitions = cores, UI off. */
  def session(cores: Int, work: Path): SparkSession =
    graft.SessionTuning
      .tuned(
        SparkSession.builder()
          .master(s"local[$cores]")
          .appName("perfbench")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config(graft.ops.Tables.NanosConf, "true")
          .config("spark.local.dir", work.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
          .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      )
      .getOrCreate()

  /** Peak resident set of this JVM, from /proc. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  final class Tally {
    var attempted, failed = 0L
    val messages = mutable.ArrayBuffer[String]()
    def checks(cs: Seq[(String, Option[String])]): Unit = {
      attempted += cs.size
      cs.foreach { case (name, f) => f.foreach { msg => failed += 1; messages += s"check $name: $msg" } }
    }
  }

  final case class Timed(iter: Iter, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9
    val o = parse(args)
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val work = o.root.resolve(".bench_build").resolve("work").resolve(s"${o.workload}-${ProcessHandle.current.pid}")
    Fs.rm(work)
    val keys = Keys.generate()
    val wl = workload(o.workload, o.seed, keys)
    val tally = new Tally

    var spark: SparkSession = null
    val setupSec = (1 to Setups).map { k =>
      if (spark != null) spark.stop()
      Fs.rm(work.resolve(s"setup-${k - 1}"))
      val t0 = System.nanoTime()
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("WARN")
      wl.setup(spark, work.resolve(s"setup-$k"))
      wl.reset()
      wl.iterate(spark, traced = false)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $k took $s%.3f s")
      s
    }
    val ss = spark
    // Heap the session and the program still hold after a fixed amount of
    // work (the set-ups), so it does not grow with the iteration count.
    System.gc()
    val liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    println(s"perfbench: workload=${o.workload} seed=${o.seed} cores=$cores master=${ss.sparkContext.master}")
    ss.conf.getAll.toSeq.sorted.filter(_._1.startsWith("spark.sql.")).foreach { case (k, v) => println(s"perfbench: conf $k=$v") }

    var sched: Option[SchedListener] = None

    def loop(seconds: Double, traced: Boolean, minBatches: Int): Seq[Timed] = {
      val out = mutable.ArrayBuffer[Timed]()
      var measured = 0.0
      var batches = 0
      while ((measured < seconds || out.size < MinIterations || batches < minBatches) && elapsed < DeadlineSec) {
        wl.reset()
        Bus.drain(ss)
        System.gc() // each iteration starts from a collected heap
        sched.foreach(s => s.window = new s.Window)
        val storeBefore = StoreCounters.snapshot()
        val fetchesBefore = wl.keyProvider.fetches.get
        Trace.iteration = out.size
        Trace.iterationSpan = Trace.nextId()
        val startUs = Trace.nowUs()
        val startMs = System.currentTimeMillis()
        val result = scala.util.Try(wl.iterate(ss, traced))
        val endMs = System.currentTimeMillis()
        if (Trace.enabled)
          Trace.spans.add(Span(Trace.iterationSpan, 0L, Trace.iteration, "iteration", startUs, Trace.nowUs(), o.workload))
        Bus.drain(ss)
        result match {
          case scala.util.Success(it) =>
            measured += it.wallS
            batches += it.batchMs.size
            tally.attempted += wl.ops
            tally.checks(wl.check(ss))
            log(f"iteration ${out.size} took ${it.wallS}%.3f s, checked at $elapsed%.1f s")
            val layers = mutable.Map[String, Double]() ++ it.layers
            if (traced) {
              val d = StoreCounters.snapshot().zip(storeBefore).map { case (a, b) => (a - b).toDouble }
              layers ++= Seq("ObjectStore.puts" -> d(0), "ObjectStore.put_attempts" -> d(1), "ObjectStore.put_ms" -> d(2) / 1e6,
                "ObjectStore.put_bytes" -> d(3), "ObjectStore.meta_bytes" -> d(4),
                "KeyProvider.fetches" -> (wl.keyProvider.fetches.get - fetchesBefore).toDouble)
              sched.foreach { s =>
                val w = s.window
                layers ++= Seq("spark.jobs" -> w.jobs, "spark.stages" -> w.stages, "spark.tasks" -> w.tasks,
                  "spark.task_run_ms" -> w.runMs, "spark.task_wait_ms" -> w.waitMs, "spark.task_gc_ms" -> w.gcMs,
                  "spark.task_max_ms" -> w.maxTaskMs, "spark.shuffle_bytes" -> w.shuffleBytes,
                  "spark.spill_bytes" -> w.spillBytes).map { case (k, v) => k -> v.toDouble }
                layers += "spark.driver_ms" -> (endMs - startMs - busyMs(w.jobIntervals.toSeq, startMs, endMs)).toDouble
                if (w.batchIds.nonEmpty) layers += "IngestStream.jobs_per_batch" -> w.batchJobs.toDouble / w.batchIds.size
                layers.get("IngestJob.days").filter(_ > 0).foreach(d => layers += "IngestJob.jobs_per_day" -> w.jobs / d)
              }
            }
            out += Timed(it, layers.toMap)
          case scala.util.Failure(e) =>
            // A failed iteration fails every operation it attempted.
            measured += (endMs - startMs) / 1e3
            tally.attempted += wl.ops
            tally.failed += wl.ops
            tally.messages += s"iteration failed: $e"
        }
      }
      out.toSeq
    }

    val secondsPerPhase = if (o.trace) o.seconds / 2 else o.seconds
    // The traced run reports no batch percentiles, so it needs no batch minimum.
    val untraced = loop(secondsPerPhase, traced = false, if (o.trace) 0 else MinBatches)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!o.trace) {
      val its = untraced.map(_.iter)
      val wall = its.map(_.wallS).sum
      val batches = its.flatMap(_.batchMs)
      val values = Map(
        "setup_s" -> Stats.median(setupSec),
        "wall_s" -> Stats.median(its.map(_.wallS)),
        "objects_per_s" -> (if (wall > 0) its.map(_.objects).sum / wall else 0.0),
        "mb_per_s" -> (if (wall > 0) its.map(_.bytes).sum / 1e6 / wall else 0.0),
        "batch_ms_p50" -> Stats.percentile(batches, 0.5),
        "batch_ms_p75" -> Stats.percentile(batches, 0.75),
        "heap_live_mb" -> liveHeapMb
      )
      EndToEnd.foreach { case (k, u) => metrics(k) = (values(k), u) }
      println(f"perfbench: ${its.size} timed iterations, ${batches.size} batches, " +
        f"setups ${setupSec.map(s => f"$s%.3f").mkString(" ")} s, peak RSS ${rssPeakMb()}%.0f MB")
    } else {
      val s = new SchedListener
      sched = Some(s)
      ss.sparkContext.addSparkListener(s)
      Trace.enabled = true
      val traced = loop(secondsPerPhase, traced = true, 0)
      Trace.enabled = false
      val layerValues = mutable.Map[String, Double]()
      traced.flatMap(_.layers.keys).distinct.foreach(k => layerValues(k) = Stats.median(traced.flatMap(_.layers.get(k))))
      layerValues ++= wl.replays(ss)
      val (zlib, compressed) = Replay.zlib(wl.payloads)
      layerValues ++= zlib
      layerValues ++= Replay.envelope(compressed, keys)
      layerValues("trace.overhead_ms") =
        (Stats.median(traced.map(_.iter.wallS)) - Stats.median(untraced.map(_.iter.wallS))) * 1000
      PerLayer.foreach { case (k, u) => metrics(k) = (layerValues.getOrElse(k, 0.0), u) }
      val tracePath = o.root.resolve(".bench_build").resolve("traces").resolve(s"${o.workload}-seed${o.seed}.jsonl")
      val stageToJob = s.stageToJobSpan
      Trace.write(tracePath, p => if (p >= 0) p else Option(stageToJob.get((-p - 1).toInt)).map(_.longValue).getOrElse(0L))
      println(s"perfbench: ${untraced.size} untraced and ${traced.size} traced iterations; ${Trace.spans.size} spans in $tracePath")
    }

    ss.stop()
    Fs.rm(work)
    tally.messages.take(20).foreach(m => System.err.println(s"perfbench: FAILED $m"))
    println(s"perfbench: failed_share = ${tally.failed.toDouble / math.max(1L, tally.attempted)} (${tally.failed} of ${tally.attempted})")
    metrics.foreach { case (k, (v, u)) => println(s"perfbench: $k = $v $u") }
    val metricsJson = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = tally.failed == 0 && tally.attempted > 0
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, tally.attempted)}, "failed": ${tally.failed}, "metrics": {$metricsJson}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** Milliseconds of [from, to] covered by at least one job interval. */
  def busyMs(jobs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var busy = 0L
    var cursor = from
    jobs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        val s = math.max(a, cursor)
        if (b > s) { busy += b - s; cursor = b }
    }
    busy
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
