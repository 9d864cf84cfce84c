package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** q326's engine assertion: the day-partitioned fact scan must carry a
  * DYNAMIC partition-pruning filter injected from the dim side at runtime
  * — the mechanism that makes dim-filtered fact joins read 1/k of a
  * partitioned lake instead of all of it. The value certification lives in
  * the q326 DuckDB oracle; this spec pins the plan shape. */
class DppSpec extends AnyFunSuite with graft.SessionSuite {

  test("q326 fact scan is dynamically partition-pruned by the dim join") {
    val df = graft.SparkEntry.queries("q326_dpp_partitioned_join")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning filter in the fact scan:\n${plan.take(3000)}")
    // and the join result itself is non-degenerate
    assert(df.count() > 0)
  }
}
