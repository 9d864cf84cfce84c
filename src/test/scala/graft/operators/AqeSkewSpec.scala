package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Certifies AQE's RUNTIME skew split — the second half of the engine's
  * hot-key story (SkewJoin.saltedInnerJoin is the deterministic/static
  * half, q93): a shuffle join whose hot key owns ~90 % of the left side
  * must be re-planned at runtime into `SortMergeJoin(skew=true)` with the
  * hot partition split across tasks, and the split must be invisible to
  * results. At 100 TB this is what stands between a terabyte-straggler
  * reducer and even task sizes when salting wasn't pre-applied.
  *
  * The spec drops the skew thresholds to toy scale (128 KB hot partition
  * instead of 256 MB) — the MECHANISM is identical; only the trigger
  * sizes differ — and restores every conf it touches.
  */
class AqeSkewSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("AQE switches a sort-merge join to broadcast when runtime stats shrink a side") {
    // right side LOOKS big statically (2 M rows, ~16 MB estimate — above
    // the 10 MB broadcast threshold, and the un-estimable filter keeps the
    // child's size estimate), so the planner picks SortMergeJoin; at
    // runtime the filter keeps ~6.7k rows and AQE re-plans the remaining
    // stages around a broadcast. At 100 TB this is the difference between
    // shuffling a petabyte fact table and shipping a few-MB dim to every
    // executor — without hand-tuning a broadcast() hint for a size the
    // planner can't know.
    // NOTE both sides must be statically large: constraint propagation
    // infers the right's pmod filter onto the LEFT side too, and a small
    // left would static-plan as BuildLeft broadcast before AQE ever runs
    val left = spark.range(2000000).select(
      pmod(col("id"), lit(2000000)).as("key"),
      lpad(col("id").cast("string"), 40, "y").as("payload"))
    val right = spark.range(2000000)
      .filter(pmod(col("id"), lit(300)) === 0)
      .select(col("id").as("key"), (col("id") * 2).as("rval"))

    def joined = left.join(right, "key")
      .agg(count(lit(1)).as("n"),
        sum(pmod(xxhash64(col("key"), col("payload"), col("rval")),
          lit(1000000007L))).as("checksum"))

    val (planStr, rows) = withConf(
      "spark.sql.adaptive.enabled" -> "true") {
      val df = joined
      val row = df.collect().head
      (df.queryExecution.executedPlan.toString, (row.getLong(0), row.getLong(1)))
    }
    val finalPlan = planStr.split("== Initial Plan ==")(0)
    val initialPlan = planStr.split("== Initial Plan ==")(1)
    assert(initialPlan.contains("SortMergeJoin"),
      s"static plan did not pick SMJ (right side estimated small?):\n${initialPlan.take(1200)}")
    assert(finalPlan.contains("BroadcastHashJoin") && !finalPlan.contains("SortMergeJoin"),
      s"AQE did not re-plan to broadcast:\n${finalPlan.take(1200)}")

    // ground truth with AQE off entirely (pure SMJ execution)
    val plain = withConf("spark.sql.adaptive.enabled" -> "false") {
      val row = joined.collect().head
      (row.getLong(0), row.getLong(1))
    }
    assert(rows == plain)
    assert(rows._1 == 6667L) // keys 0..2M once each; every 300th matches
  }

  test("AQE splits the hot key's partition (skew=true) without changing results") {
    // left: 200k rows, 90% on one hot key, ~130 B/row payload -> the hot
    // key's shuffle partition is ~20 MB vs KB-scale medians
    val left = spark.range(200000).select(
      when(col("id") < 180000, lit("hot"))
        .otherwise(concat(lit("k"), pmod(col("id"), lit(997)))).as("key"),
      lpad(col("id").cast("string"), 120, "x").as("payload"))
    // right: one row per distinct key BY CONSTRUCTION (no dropDuplicates —
    // an aggregate between the join's Sort and the shuffle stage breaks
    // OptimizeSkewedJoin's pattern match and silently disables the split);
    // small, but broadcast is disabled so the join MUST shuffle
    val right = spark.range(998).select(
      when(col("id") === 997, lit("hot"))
        .otherwise(concat(lit("k"), col("id"))).as("key"),
      col("id").as("rval"))

    // NOTE the probe aggregation must NOT group by the join key: a
    // groupBy("key") right above the join reuses the join's hash
    // partitioning, and AQE refuses to split a skewed partition whose
    // downstream depends on that partitioning (observed: AQEShuffleRead
    // stays `coalesced`, never `skewed`). A global aggregate introduces
    // its own exchange, so the split is free to happen — at scale, the
    // same applies: skew-split eligibility depends on what consumes the
    // join's output (or spark.sql.adaptive.forceOptimizeSkewedJoin).
    def joined = left.join(right, "key")
      .agg(count(lit(1)).as("n"),
        sum(pmod(xxhash64(col("key"), col("payload"), col("rval")),
          lit(1000000007L))).as("checksum"),
        sum(when(col("key") === "hot", 1L).otherwise(0L)).as("hot_n"))

    val (skewPlanStr, skewRows) = withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // toy-scale triggers: a partition is skewed if > max(128 KB,
      // 2x median); split into ~64 KB chunks
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536") {
      val df = joined
      val row = df.collect().head
      (df.queryExecution.executedPlan.toString,
        (row.getLong(0), row.getLong(1), row.getLong(2)))
    }
    assert(skewPlanStr.contains("skew=true"),
      s"no skew=true join in adaptive plan:\n${skewPlanStr.take(2000)}")
    // the reader marker is "skewed" (possibly "coalesced and skewed")
    assert(skewPlanStr.linesIterator.exists(l =>
      l.contains("AQEShuffleRead") && l.contains("skewed")),
      "hot partition was not split by AQEShuffleRead")

    // ground truth: same join with the skew optimization off
    val plain = withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val row = joined.collect().head
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    assert(skewRows == plain)
    assert(skewRows._3 == 180000L)
  }

  test("AQE coalesces undersized post-shuffle partitions without changing results") {
    // the third AQE runtime re-plan this suite certifies: a 64-way shuffle
    // whose reducers would each hold a few KB coalesces into far fewer
    // partitions (AQEShuffleRead coalesced), so a 100 TB job tuned for its
    // biggest stage doesn't burn a task per near-empty reducer downstream.
    // Both the reader node and the actual output partition count are
    // asserted, plus checksum equality against the AQE-off plan.
    val data = spark.range(20000).select(
      pmod(col("id"), lit(500)).as("key"), col("id").as("v"))
    def agg = data.groupBy("key")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))

    val (planOn, partsOn, rowsOn) = withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.shuffle.partitions" -> "64") {
      val df = agg
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      (df.queryExecution.executedPlan.toString, df.rdd.getNumPartitions, rows)
    }
    assert(planOn.split("== Initial Plan ==")(0).contains("coalesced"),
      s"expected an AQEShuffleRead coalesced reader:\n$planOn")
    assert(partsOn < 8,
      s"64 configured reducers should coalesce to a handful, got $partsOn")

    val rowsOff = withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "64") {
      agg.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    }
    assert(rowsOn.sameElements(rowsOff))
    assert(rowsOn.length == 500)
  }
}
