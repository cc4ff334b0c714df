package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** True iff the type survives the driver's pandas-based row sort (no
    * array/map/struct cells — those arrive as unhashable numpy objects). */
  def isScalar(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.ArrayType  => false
    case _: org.apache.spark.sql.types.MapType    => false
    case _: org.apache.spark.sql.types.StructType => false
    case _ => true
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Same opt-in subset knob as Bench: SPARK_GRAFT_ONLY=x01,x03 dumps just
    // the queries with those name prefixes (the driver never sets it, so
    // the gate always runs all).
    val targets = Harness.selected
    val spark = SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    targets.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Oracle-checked outputs must be scalar-only: the driver's checker
        // sorts rows through pandas, which cannot hash array/map/struct
        // cells (numpy.ndarray) — an array column turns a right answer
        // into an `err` row. Fail loudly here instead.
        if (SparkEntry.oracleSql.contains(name)) {
          val complex = df.schema.fields.filter(f => !isScalar(f.dataType))
          require(complex.isEmpty,
            s"oracle-checked query $name emits non-scalar columns " +
              complex.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
              " — emit array_join/per-dimension rows instead")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Forked JVM: hard-exit so a lingering non-daemon thread can never
    // hang the harness after all artifacts are on disk (observed once:
    // outputs complete, JVM idle 8 min until the harness's timeout).
    sys.exit(0)
  }
}
