package graft
import java.nio.file.{Files, Paths}

/** Benchmark entry: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR`, emits ONE compact JSON line with per-query
  * seconds, and writes the full per-rep detail to `bench_full.json`.
  *
  * Output-size posture: the harness records only the LAST 2000 characters
  * of the run's stdout, so a naive everything-on-one-line JSON (≈8 KB at
  * 90+ queries) arrives head-truncated and unparseable — BENCH_r03/r04
  * both captured `parsed: null`. The stdout line is therefore budgeted to
  * fit the capture window: the `"queries"` map carries only the slowest
  * [[TopN]] queries at millisecond precision (the ones that matter for a
  * perf read), and the complete per-query timing rides in `"ms"` — an
  * int-milliseconds array aligned with the ALPHABETICAL order of the
  * queries that RAN (the full registry, or the `SPARK_GRAFT_ONLY` subset;
  * `n_queries` says which), ~5 bytes per query instead of ~30. The
  * failed/contended arrays are capped at 8 names (exact counts ride in
  * `n_failed`/`n_contended`) so a broken build cannot blow the budget.
  * Everything else — full name→seconds map, raw reps, complete flag
  * lists — goes to `bench_full.json` next to the build.
  *
  * Noise posture: single-shot timings on a shared VM recorded 10-80x
  * phantom regressions (BENCH_r02 x02=89.6s vs 8.8s standalone), so each
  * query runs one UNTIMED warmup rep (JIT + page cache + shuffle-file
  * warm) followed by `Reps` timed reps; the reported figure is the MIN —
  * the rep least contaminated by external contention — and the raw reps
  * are kept in `bench_full.json` so a reader can tell steady-state from
  * weather. The passes are INTERLEAVED (warmup pass over every query,
  * then full timed pass 1, then full timed pass 2) so a query's reps are
  * separated by a whole pass: a multi-minute contention window hits one
  * rep of many queries, not both reps of a few. Failures are reported per
  * query (`"failed":[...]`) instead of being folded into a normal-looking
  * duration, and the catalog cache is cleared between reps so one rep's
  * storage never skews the next.
  *
  * Interleaving is still beatable two ways. (1) Reps that DISAGREE by
  * more than [[ContentionRatio]] — one rep caught weather. (2) Reps that
  * AGREE but are both inflated — a window spanning both whole passes
  * (round 3 recorded s01–s04 at 8–60x standalone, both reps, and
  * intra-run rep agreement could not tell). For (2) the run carries an
  * ABSOLUTE baseline: `bench_reference.json` (committed; a clean run's
  * per-query minimums at the same sf) — any query whose min exceeds its
  * reference by the ratio is re-timed too. Both cases get extra ISOLATED
  * reps (run at the end, when the window has usually passed) until a rep
  * lands within bounds or [[MaxExtraReps]] is spent; queries that never
  * settle are flagged in `"contended":[...]` so a reader knows the min
  * is weather-bound rather than steady-state.
  */
object Bench {
  val Reps = 2
  val ContentionRatio = 5.0
  val MaxExtraReps = 3
  val TopN = 25

  /** Minimal parser for the flat `{"name": seconds, ...}` maps this object
    * writes — no JSON library on the runtime classpath by design.
    */
  private[graft] def parseFlatJsonMap(s: String): Map[String, Double] =
    """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r
      .findAllMatchIn(s)
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap

  /** `bench_reference.json` is flat: `{"sf":"sf0.1","<query>":<min_sec>,...}`
    * — the one string-valued key doubles as the scale guard (reference
    * minimums are only comparable at the same sf).
    */
  private def loadReference(sfDir: String): Map[String, Double] = {
    val f = new java.io.File("bench_reference.json")
    if (!f.isFile) Map.empty
    else {
      val text = scala.util.Using(scala.io.Source.fromFile(f))(_.mkString).getOrElse("")
      val sfName = new java.io.File(sfDir).getName
      if (!text.contains("\"" + sfName + "\"")) Map.empty
      else parseFlatJsonMap(text)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val cpus = SessionTuning.cpus
    // Dev loop: SPARK_GRAFT_ONLY=x06,s03 times just those queries.
    val ordered = Harness.selected
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-rep job ledger (the x06 bimodality forensics: a slow rep's diff
    // vs a fast rep's tells GC stall from straggler task from extra-stage
    // replan without reproducing under a profiler), scoped to the timed
    // window, written per rep to bench_full.json, never to stdout.
    def timeOnce(fn: Harness.Query): (Double, Boolean, String) = {
      Harness.sweep(spark)
      val (ok, sec, ledger) = Harness.window(spark) {
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      }
      (sec, ok, ledger.json)
    }

    val reference = loadReference(sfDir)
    val warmOk = ordered.map { case (name, fn) => name -> timeOnce(fn)._2 }.toMap
    val passes: Seq[Map[String, (Double, Boolean, String)]] = (1 to Reps).map { _ =>
      ordered.map { case (name, fn) =>
        name -> (if (warmOk(name)) timeOnce(fn) else (Double.NaN, false, "{}"))
      }.toMap
    }
    // Reps agree when the two fastest are within ContentionRatio of each
    // other — then the min is a steady-state figure, not one lucky rep.
    def settled(ts: Seq[Double]): Boolean = {
      val sorted = ts.sorted
      sorted.length >= 2 && sorted(1) <= sorted.head * ContentionRatio
    }
    // Absolute check: a min far above the committed clean-run figure means
    // BOTH reps caught weather even if they agree with each other.
    def withinReference(name: String, ts: Seq[Double]): Boolean =
      reference.get(name).forall(ref => ts.min <= ref * ContentionRatio)
    val results = ordered.map { case (name, fn) =>
      val firstReps = passes.map(_(name))
      val allOk = warmOk(name) && firstReps.forall(_._2)
      var times = firstReps.map(_._1)
      var metrics = firstReps.map(_._3)
      var ok = allOk
      if (ok) {
        // Isolated re-timing for queries the interleaved passes disagree
        // on, or that blow past the committed reference: keep timing until
        // a rep corroborates steady state. A FAILED extra rep (transient
        // OOM under the same contention that triggered the retry) must
        // not discard the already-valid measurements — it just stops the
        // retry loop; the query keeps its passes and is flagged contended
        // if those never settled.
        var extra = 0
        var retrying = true
        while (retrying && (!settled(times) || !withinReference(name, times)) && extra < MaxExtraReps) {
          val (t, o, m) = timeOnce(fn)
          if (o) { times = times :+ t; metrics = metrics :+ m } else retrying = false
          extra += 1
        }
      }
      val contended = ok && (!settled(times) || !withinReference(name, times))
      (name, if (ok) times.min else Double.NaN, times, ok, contended, metrics)
    }
    // Locale-pinned: a comma-decimal default locale would otherwise break
    // both JSON artifacts.
    def fmt(d: Double): String =
      if (d.isNaN) "null" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val failedNames = results.collect { case (k, _, _, false, _, _) => k }
    val contendedNames = results.collect { case (k, _, _, _, true, _) => k }
    def jsonArr(names: Seq[String]): String = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = jsonArr(failedNames)
    val contended = jsonArr(contendedNames)
    // Stdout flag arrays are CAPPED so a broken build (dozens of failures)
    // cannot push the one-line artifact past the harness's 2000-char
    // capture window — the head-truncation failure mode this file exists
    // to avoid. Counts are always exact; full name lists are in the file.
    // Only real query names in the array — exact counts already ride in
    // n_failed/n_contended, so truncation needs no in-array sentinel (a
    // consumer iterating names must never see a fake entry).
    def jsonArrCapped(names: Seq[String], cap: Int = 8): String = jsonArr(names.take(cap))
    val total = results.filterNot(_._2.isNaN).map(_._2).sum

    // Full artifact → file (complete name→min map + raw reps + per-rep
    // job ledger aligned with the reps arrays).
    val qsFull = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val reps = results
      .map { case (k, _, ts, _, _, _) => "\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val repMetrics = results
      .map { case (k, _, _, _, _, ms) => "\"" + k + "\":" + ms.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsFull,"reps":$reps,"rep_metrics":$repMetrics,"failed":$failed,"contended":$contended,"sf":"$sfDir","cpus":$cpus}"""
    scala.util.Try(Files.writeString(Paths.get("bench_full.json"), fullJson + "\n"))

    // Compact stdout line (the only stdout JSON): slowest-TopN map + full
    // alphabetical int-ms array. Budget ≈1.5 KB so the 2 KB capture window
    // holds the whole line even with the build tool's epilogue after it.
    val top = results.filterNot(_._2.isNaN).sortBy(-_._2).take(TopN)
    val qsTop = top.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val msArr = results
      .map { case (_, v, _, _, _, _) => if (v.isNaN) "null" else math.round(v * 1000).toString }
      .mkString("[", ",", "]")
    val stdoutLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsTop,"n_queries":${results.size},"order":"alphabetical","ms":$msArr,"n_failed":${failedNames.size},"failed":${jsonArrCapped(failedNames)},"n_contended":${contendedNames.size},"contended":${jsonArrCapped(contendedNames)},"sf":"$sfDir","detail":"bench_full.json"}"""
    // File-based fallback of the EXACT stdout line: the r17 round-over-
    // round comparison was lost to a stdout-capture parse failure
    // (BENCH_r17 `parsed: null` despite a complete run) — a parser that
    // misses the line in the log can recover it here verbatim.
    scala.util.Try(Files.writeString(Paths.get("bench_line.json"), stdoutLine + "\n"))
    println(stdoutLine)
    spark.stop()
    // Forked JVM: hard-exit after the artifacts are out (see Verify).
    sys.exit(0)
  }
}
