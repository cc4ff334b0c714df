package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Writes `.explain("formatted")` of each selected query's FINAL plan to a
  * text file — the plan evidence the optimization rounds commit under
  * `plans/`.
  *
  * `SPARK_GRAFT_ONLY=d65,s33 SPARK_GRAFT_PLAN_SUFFIX=after
  *  sbt "runMain graft.PlanDump"` → `plans/r19/<query>_after.txt`.
  *
  * Composite queries execute their build/churn scripts while the frame
  * is constructed (scratch-dir side effects); the dumped plan is the
  * final declared frame's — the one the bench times end to end — after
  * it has run, so AQE's runtime decisions (coalesced partitions, join
  * strategy switches) show as `isFinalPlan=true`.
  */
object PlanDump {
  /** Runs `df` on its own QueryExecution (`collect`; `count` would plan a
    * new query) and renders the plan that execution settled on.
    */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "after")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r19")
    val targets = Harness.selected
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    targets.foreach { case (name, fn) =>
      try {
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), finalPlan(fn(spark, sfDir)) + "\n")
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
