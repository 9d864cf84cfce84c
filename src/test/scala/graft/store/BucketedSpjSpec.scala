package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Storage-partitioned join over STORED series: the bucketed processing
  * store written by `writeProcessingBucketed` read back catalog-free as a
  * V2 scan reporting KeyGroupedPartitioning(identity(channel))
  * ([[graft.sources.BucketedNwbSource]]). Certifies (a) the read itself —
  * the custom parquet materializer + murmur3 bucket placement + pushed
  * channel predicate reproduce `spark.read.parquet` exactly; (b) the SPJ
  * contract — a channel-keyed join between two stored series plans with
  * ZERO Exchange and matches the shuffled control byte-for-byte; (c)
  * column pruning through the projection, including the force-read of the
  * pruned bucketing key that keeps the parquet predicate evaluable. */
class BucketedSpjSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def withSpjConfs[A](extra: (String, String)*)(body: => A): A =
    withConf(Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true"
    ) ++ extra: _*)(body)

  private def series(seed: Int, nCh: Int = 8, nT: Int = 64): DataFrame =
    spark.range(nCh.toLong * nT).select(
      (col("id") % nCh).cast("int").as("channel"),
      (col("id") / nCh).as("t_idx"),
      round(sin(col("id") * 0.37 + seed) * 1000, 6).as("value"))

  private def shuffles(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeLike => e }.length

  private def aggSide(df: DataFrame, sumName: String): DataFrame =
    df.select(col("channel"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
      .groupBy("channel").agg(sum("v").as(sumName))

  private def checksum(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private lazy val store = {
    val root = Files.createTempDirectory("bucketed_spj").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val s = new NwbStore(root, spark)
    s.writeProcessingBucketed("ser_a", series(1), nBuckets = 4)
    s.writeProcessingBucketed("ser_b", series(2), nBuckets = 4)
    s
  }

  test("V2 bucketed read reproduces the parquet read exactly") {
    val v2 = store.readProcessingBucketedV2("ser_a", nBuckets = 4, nChannels = 8)
    val plain = store.readProcessing("ser_a")
      .select("channel", "t_idx", "value")
    assert(checksum(v2.select("channel", "t_idx", "value")) === checksum(plain))
  }

  test("channel join between two stored series plans ZERO exchanges") {
    withSpjConfs() {
      val l = aggSide(
        store.readProcessingBucketedV2("ser_a", 4, 8), "ls")
      val r = aggSide(
        store.readProcessingBucketedV2("ser_b", 4, 8), "rs")
      val j = l.join(r, "channel")
      assert(shuffles(j.queryExecution.executedPlan) === 0,
        s"expected a shuffle-free stored-series SPJ:\n${j.queryExecution.executedPlan}")
      assert(j.count() === 8L)
    }
  }

  test("stored-series SPJ result is byte-identical to the shuffled control") {
    val spj = withSpjConfs() {
      checksum(aggSide(store.readProcessingBucketedV2("ser_a", 4, 8), "ls")
        .join(aggSide(store.readProcessingBucketedV2("ser_b", 4, 8), "rs"),
          "channel"))
    }
    withSpjConfs("spark.sql.sources.v2.bucketing.enabled" -> "false") {
      val ctl = aggSide(store.readProcessing("ser_a"), "ls")
        .join(aggSide(store.readProcessing("ser_b"), "rs"), "channel")
      assert(shuffles(ctl.queryExecution.executedPlan) > 0,
        "control must actually shuffle")
      assert(checksum(ctl) === spj)
    }
  }

  test("a channel-pruned projection stays correct (and claims nothing)") {
    // `channel` pruned from the output: the scan force-reads it for the
    // bucket predicate but emits only (t_idx, value); identity(channel)
    // would reference a pruned column, so the scan reports unknown
    // partitioning and the agg simply shuffles
    val v2 = store.readProcessingBucketedV2("ser_a", 4, 8)
      .select("t_idx", "value")
    val got = v2.groupBy("t_idx")
      .agg(round(sum("value"), 4).as("s")).orderBy("t_idx")
    val exp = store.readProcessing("ser_a").select("t_idx", "value")
      .groupBy("t_idx").agg(round(sum("value"), 4).as("s")).orderBy("t_idx")
    assert(checksum(got) === checksum(exp))
  }

  test("wrong nbuckets fails loudly instead of dropping rows") {
    val e = intercept[Exception] {
      store.readProcessingBucketedV2("ser_a", nBuckets = 2, nChannels = 8)
        .count()
    }
    assert(e.getMessage.contains("nbuckets"),
      s"expected the layout guard, got: ${e.getMessage}")
  }

  test("mis-declared nchannels fails loudly instead of silently dropping") {
    // the store holds channels 0..7; declaring nchannels=4 would leave
    // channels 4..7 unread by every per-channel partition — the footer
    // stats sweep must refuse to plan instead
    val e = intercept[Exception] {
      store.readProcessingBucketedV2("ser_a", nBuckets = 4, nChannels = 4)
        .count()
    }
    assert(e.getMessage.contains("outside the declared contract"),
      s"expected the channel-stats guard, got: ${e.getMessage}")
  }

  test("validate=false opts out of the footer sweep (documented escape hatch)") {
    // with validation off the mis-declared read silently yields only the
    // declared channels — exactly the behavior the default guards against
    val n = store
      .readProcessingBucketedV2("ser_a", nBuckets = 4, nChannels = 4,
        validate = false)
      .count()
    assert(n === 4L * 64,
      s"expected only the 4 declared channels' rows, got $n")
  }

  test("row-count parity: per-partition reads cover the whole store") {
    // end-to-end parity check the footer sweep certifies: the sum of all
    // per-channel partition reads equals the store's raw parquet count
    val v2 = store.readProcessingBucketedV2("ser_a", 4, 8).count()
    val raw = store.readProcessing("ser_a").count()
    assert(v2 === raw)
  }
}
