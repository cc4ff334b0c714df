package graft

/** Per-JOB forensics for one query (dev tool, guide §1: measure first).
  *
  * `SPARK_GRAFT_ONLY=s39 sbt "runMain graft.Profile"` runs each selected
  * query once warm + once profiled and prints every Spark job the
  * profiled rep submitted: duration, stage count, task count, and the
  * call site / description, then each of its stages with time, tasks and
  * input / shuffle-read / shuffle-write bytes — the data that says
  * whether a 5-second composite is heavy COMPUTE or forty sequential
  * 100 ms jobs. Stdout only, no artifacts; Bench remains the timing
  * source of record.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val targets = Harness.selected
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    targets.foreach { case (name, fn) =>
      Harness.sweep(spark)
      fn(spark, sfDir).count() // warm rep: JIT + page cache
      Harness.sweep(spark)
      val (_, sec, ledger) = Harness.window(spark)(fn(spark, sfDir).count())
      val jobs = ledger.jobs
      println(f"== $name: $sec%.3f s, ${jobs.size} jobs, " +
        f"${jobs.map(_.ms).sum} ms in jobs, ${jobs.map(_.stages).sum} stages ==")
      val stagesByJob = ledger.stages.groupBy(_.job)
      jobs.foreach { j =>
        println(f"  job ${j.id}%4d ${j.ms}%6d ms  stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(110)}")
        stagesByJob.getOrElse(j.id, Nil).foreach { s =>
          println(f"      stage ${s.id}%4d ${s.ms}%6d ms tasks=${s.tasks}%4d in=${s.inputBytes}%9d " +
            f"sr=${s.shuffleReadBytes}%9d sw=${s.shuffleWriteBytes}%9d  ${s.name.take(90)}")
        }
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
