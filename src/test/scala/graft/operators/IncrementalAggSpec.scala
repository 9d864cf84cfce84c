package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Incremental aggregate states: any split-and-merge tree equals direct
  * aggregation; null values stay out of every state component. Secondary
  * index: probe == direct scan and the probe plan is partition-pruned. */
class IncrementalAggSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def rows = Seq(
    ("a", 0L, Some(5.0)), ("a", 1L, Some(1.0)), ("a", 2L, Some(9.0)),
    ("a", 3L, None), // null value: in no state component
    ("b", 0L, Some(-2.0)), ("b", 5L, Some(4.0))
  ).toDF("g", "day", "v")

  private def direct = rows.groupBy("g")
    .agg(count("v").as("st_n"), sum("v").as("st_sum"),
      min("v").as("st_min"), max("v").as("st_max"))
    .orderBy("g").collect().map(_.toSeq.toList).toList

  test("split by any predicate, rollup, merge == direct aggregate") {
    for (splitMod <- Seq(2L, 3L)) {
      val daily = IncrementalAgg.aggState(rows, Seq("g", "day"), col("v"))
      val parts = (0L until splitMod).map(r =>
        IncrementalAgg.rollupStates(
          daily.filter(pmod(col("day"), lit(splitMod)) === r), Seq("g")))
      val merged = parts.reduce((a, b) => IncrementalAgg.mergeStates(a, b, Seq("g")))
      assert(merged.orderBy("g").collect().map(_.toSeq.toList).toList === direct,
        s"splitMod=$splitMod")
    }
  }

  test("merging an empty delta is a no-op") {
    val all = IncrementalAgg.aggState(rows, Seq("g"), col("v"))
    val empty = IncrementalAgg.aggState(rows.filter(lit(false)), Seq("g"), col("v"))
    val merged = IncrementalAgg.mergeStates(all, empty, Seq("g"))
    assert(merged.orderBy("g").collect().map(_.toSeq.toList).toList === direct)
  }

  test("secondary index probe == direct scan, and the plan prunes partitions") {
    val docs = Seq(
      (1L, "dup alpha dup beta"), (2L, "alpha beta"), (3L, "dup gamma"),
      (4L, "delta dup dup dup")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("postings_spec")
    graft.streaming.StreamingOps.deleteOnExit(path)
    SecondaryIndex.writePostings(docs, path.toString)
    val probe = SecondaryIndex.probeTerm(spark, path.toString, "dup")
    val got = probe.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got === Array((1L, 2L), (3L, 1L), (4L, 3L)))
    // planning-time pruning: the t0 predicate lands in PartitionFilters
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("t0"),
      s"expected partition-pruned scan:\n$plan")
  }
}
