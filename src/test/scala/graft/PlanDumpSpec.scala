package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {
  test("finalPlan renders the plan AQE settled on after the query ran") {
    val df = SparkEntry.queries("q01_pricing_summary")(SparkSpec.spark, "/root/testdata/sf0.001")
    val txt = PlanDump.finalPlan(df)
    assert(txt.contains("Exchange"), txt) // the groupBy and orderBy shuffle
    assert(txt.contains("isFinalPlan=true") && !txt.contains("isFinalPlan=false"), txt)
  }
}
