package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** [[SessionTuning.local]] is the one session config: every main, the
  * ingest CLI and the test suite build it.
  */
class SessionTuningSpec extends AnyFunSuite {
  /** The builder's options (`protected` in Scala, public in bytecode). */
  private def options(cores: Int): Map[String, String] = {
    val b = SessionTuning.local(cores)
    b.getClass.getMethod("options").invoke(b).asInstanceOf[mutable.Map[String, String]].toMap
  }

  private def gated(cores: Int) = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "64")}m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  test("the factory's builder carries exactly the gated confs for its core count") {
    assert(options(8) == gated(8))
    assert(options(1) == gated(1))
  }

  test("the test suite's session runs the gated config at 4 cores") {
    val spark = SparkSpec.spark
    gated(4).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
  }
}
