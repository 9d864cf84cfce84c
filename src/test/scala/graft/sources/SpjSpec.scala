package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Storage-partitioned join certification: two graft-synthetic scans with
  * channelsPerPartition=1 report KeyGroupedPartitioning(identity(channel))
  * and carry per-partition keys (HasPartitionKey), so under V2 bucketing a
  * channel-keyed join — including the per-channel aggregates feeding it —
  * plans with ZERO Exchange nodes of any kind, and produces results
  * byte-identical to the shuffled plan. This is the V2 analogue of
  * co-located bucketed tables: at 100 TB the channel-keyed join's shuffle
  * simply never happens. */
class SpjSpec extends AnyFunSuite with graft.SessionSuite {

  // Confs scoped per test (saved/restored) so nothing leaks into other
  // suites sharing the JVM session. AQE off: a deterministic plan tree
  // that tree-collect can count (AdaptiveSparkPlanExec hides stages behind
  // leaf-like nodes); the AQE-on behavior is certified by the q361 driver
  // query, whose exchange-count column comes from the final adaptive plan.
  private def withSpjConfs[A](extra: (String, String)*)(body: => A): A =
    withConf(Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true"
    ) ++ extra: _*)(body)

  private def synth(seed: Int, chPerPart: Int = 1, nCh: Int = 8): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("nchannels", nCh).option("ntime", 256).option("seed", seed)
      .option("channelsperpartition", chPerPart)
      .load()

  private def shuffles(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeLike => e }.length

  private def aggSide(df: DataFrame, sumName: String): DataFrame =
    df.select(col("channel"),
        expr("CAST(round(value * 1000000000) AS BIGINT)").as("v"))
      .groupBy("channel").agg(sum("v").as(sumName))

  private def checksum(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("channel join between two key-grouped scans plans ZERO exchanges") {
    withSpjConfs() {
    val j = aggSide(synth(42), "ls").join(aggSide(synth(43), "rs"), "channel")
    assert(shuffles(j.queryExecution.executedPlan) === 0,
      s"expected a shuffle-free SPJ plan:\n${j.queryExecution.executedPlan}")
    assert(j.count() === 8L)
    }
  }

  test("SPJ result is byte-identical to the shuffled plan's") {
    val spjSum = withSpjConfs() {
      checksum(
        aggSide(synth(42), "ls").join(aggSide(synth(43), "rs"), "channel"))
    }
    withSpjConfs("spark.sql.sources.v2.bucketing.enabled" -> "false") {
      val shuffled =
        aggSide(synth(42), "ls").join(aggSide(synth(43), "rs"), "channel")
      assert(shuffles(shuffled.queryExecution.executedPlan) > 0,
        "control must actually shuffle with V2 bucketing disabled")
      assert(checksum(shuffled) === spjSum)
    }
  }

  test("negative control: channelsPerPartition > 1 cannot claim key grouping") {
    withSpjConfs() {
    // a partition spanning 2 channels is NOT key-grouped; the scan must
    // report unknown partitioning and the join must fall back to shuffling
    val j = aggSide(synth(42, chPerPart = 2), "ls")
      .join(aggSide(synth(43, chPerPart = 2), "rs"), "channel")
    assert(shuffles(j.queryExecution.executedPlan) > 0)
    assert(j.count() === 8L)
    }
  }

  test("pushed channel filters on ONE side still join without a shuffle " +
      "(partition-value padding)") {
    withSpjConfs() {
    // left prunes to channels [2..5] at planning time; partition values
    // differ between the sides, which pushPartValues reconciles
    val l = aggSide(synth(42).filter(col("channel") >= 2 && col("channel") <= 5), "ls")
    val r = aggSide(synth(43), "rs")
    val j = l.join(r, "channel")
    assert(shuffles(j.queryExecution.executedPlan) === 0,
      s"one-sided pruning must keep the SPJ:\n${j.queryExecution.executedPlan}")
    val rows = j.collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq === Seq(2, 3, 4, 5))
    }
  }

  test("a channel-pruned projection does not claim key-grouped partitioning") {
    withSpjConfs() {
    // `channel` pruned from the output -> identity(channel) would reference
    // a column the scan no longer produces; the scan must fall back to
    // unknown partitioning (and stay correct)
    val d = synth(42).select(col("t"), col("value"))
      .groupBy("t").agg(sum("value").as("s"))
    assert(d.count() === 256L)
    }
  }
}
