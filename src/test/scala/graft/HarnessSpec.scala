package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Harness]]: the `SPARK_GRAFT_ONLY` selection and the job ledger. */
class HarnessSpec extends AnyFunSuite {
  private val noop: Harness.Query = (_, _) => null
  private val registry = Seq("q01_pricing", "q10_top", "s01_minhash", "x06_envelope").map(_ -> noop).toMap
  private def names(only: Option[String]) = Harness.select(only, registry).map(_._1)

  test("selection: unset runs every query, sorted by name") {
    assert(names(None) == Seq("q01_pricing", "q10_top", "s01_minhash", "x06_envelope"))
    assert(Harness.select(None).size == SparkEntry.queries.size)
  }

  test("selection: a comma list of name prefixes; a full name selects that query") {
    assert(names(Some("q")) == Seq("q01_pricing", "q10_top"))
    assert(names(Some(" x06 , q01")) == Seq("q01_pricing", "x06_envelope"))
    assert(names(Some("s01_minhash")) == Seq("s01_minhash"))
  }

  test("selection: a value that selects nothing throws and names the value") {
    for (v <- Seq(",", "", "zz", "q01_pricing_summary_x")) {
      val e = intercept[IllegalArgumentException](names(Some(v)))
      assert(e.getMessage.contains(s"""SPARK_GRAFT_ONLY="$v""""), e.getMessage)
    }
  }

  test("ledger: jobs, stages, tasks and shuffle bytes of a known repartition count") {
    val spark = SparkSpec.spark
    val (n, sec, ledger) = Harness.window(spark)(spark.range(0, 1000, 1, 2).repartition(3).count())
    assert(n == 1000L && sec > 0)
    // AQE runs each exchange as its own map-stage job: range -> repartition
    // (2 tasks), the 3 repartitioned partitions -> partial count (3 tasks),
    // then the final count (1 task) in a job whose first two stages are
    // skipped.
    val jobs = ledger.jobs
    assert(jobs.map(_.tasks) == Seq(2, 3, 1), jobs)
    assert(jobs.map(_.stages) == Seq(1, 2, 3), jobs)
    assert(ledger.stages.map(_.tasks) == Seq(2, 3, 1), ledger.stages)
    assert(ledger.stages.map(_.job) == jobs.map(_.id))
    val shuffleWrite = ledger.stages.map(_.shuffleWriteBytes)
    assert(shuffleWrite.take(2).forall(_ > 0) && shuffleWrite(2) == 0, ledger.stages)
    val m = Bench.parseFlatJsonMap(ledger.json)
    assert(m("jobs") == 3 && m("stages") == 3 && m("tasks") == 6, ledger.json)
    assert(m("shuffle_read_bytes") > 0 && m("shuffle_write_bytes") > 0 && m("spill_bytes") == 0, ledger.json)
  }

  test("ledger: a bench_full.json rep_metrics entry keeps its five keys and gains four") {
    val keys = """"([a-z_]+)":""".r.findAllMatchIn(new Harness.Ledger().json).map(_.group(1)).toSeq
    assert(keys == Seq("run_ms", "gc_ms", "tasks", "max_task_ms", "stages",
      "jobs", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"))
  }
}
