package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM: the session
  * factory's config at 4 cores, plus a temp warehouse dir.
  */
object SparkSpec {
  lazy val spark: SparkSession = SessionTuning
    .local(4)
    .appName("graft-test")
    .config(
      "spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    )
    .getOrCreate()

  spark.sparkContext.setLogLevel("WARN")
}
