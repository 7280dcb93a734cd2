package graft

import graft.tools.Probe

/** Probe's three modes on one sf0.001 query, in the test session. */
class ProbeSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"
  private val q = "q03_join_agg"

  test("a prefix selects every query it starts, sorted") {
    assert(Probe.select(Seq(q)) == Seq(q))
    val q1 = Probe.select(Seq("q1"))
    assert(q1 == q1.sorted && q1.size > 10 && q1.forall(_.startsWith("q1")))
    assert(Probe.select(Seq("q")).size == SparkEntry.queries.size)
  }

  test("plan prints the formatted pre-execution plan") {
    val plan = Probe.report(spark, "plan", q, d)
    assert(plan.startsWith("== Physical Plan =="))
    assert(plan.contains("AdaptiveSparkPlan (") && plan.contains("isFinalPlan=false"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("executed prints the adaptive plan that ran") {
    val plan = Probe.report(spark, "executed", q, d)
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"))
    assert(plan.contains("FileScan parquet"))
  }

  test("scans counts the executed plan's FileScans per table") {
    assert(Probe.report(spark, "scans", q, d) == "fileScans=5 rddScans=0 " +
      "perTable=customer:1,lineitem:1,nation:1,orders:1,region:1")
  }

  test("an unknown mode is refused") {
    intercept[IllegalArgumentException](Probe.report(spark, "cost", q, d))
  }
}
