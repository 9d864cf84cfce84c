package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The DSv2 synthetic source: value fidelity vs the library generator,
  * planning-time partition pruning from pushed channel predicates, and
  * column pruning reaching the scan. */
class SyntheticSourceSpec extends AnyFunSuite with graft.SessionSuite {

  private def src(nCh: Int = 8, nTime: Int = 64): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("nchannels", nCh).option("ntime", nTime).option("seed", 42)
      .load()

  test("values match Synthetic.rawTraceForSource exactly, all channels") {
    val rows = src().collect()
    assert(rows.length === 8 * 64)
    val byCh = rows.groupBy(_.getInt(0))
    for (ch <- 0 until 8) {
      val expect = graft.model.Synthetic.rawTraceForSource(64, 42L, ch)
      val got = byCh(ch).sortBy(_.getInt(1)).map(_.getDouble(2))
      assert(got.toSeq === expect.toSeq, s"channel $ch")
    }
  }

  test("equality filter prunes to ONE partition at planning time") {
    val df = src().filter(col("channel") === 3)
    assert(df.rdd.getNumPartitions === 1)
    assert(df.select(countDistinct("channel")).collect()(0).getLong(0) === 1)
  }

  test("range filter prunes partitions to the channel span") {
    val df = src().filter(col("channel") >= 2 && col("channel") < 6)
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 4 * 64)
  }

  test("IN-set filter prunes to the set size") {
    val df = src().filter(col("channel").isin(1, 5, 7))
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 3 * 64)
  }

  test("column pruning reaches the scan (value generation skipped)") {
    val df = src().select("channel", "t")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq ===
      Seq("channel", "t"))
    assert(df.count() === 8 * 64)
  }

  test("channelsPerPartition groups channels into blocks") {
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("nchannels", 8).option("ntime", 16)
      .option("channelsPerPartition", 4).load()
    assert(df.rdd.getNumPartitions === 2)
    assert(df.count() === 8 * 16)
  }

  test("vectorized reader: columnar scan by default, row fallback by option") {
    def lattice(columnar: Boolean) = spark.read
      .format("graft.sources.SyntheticSource")
      .option("nchannels", 8).option("ntime", 64).option("seed", 42)
      .option("columnar", columnar).load()
    val colPlan = lattice(true).queryExecution.executedPlan.toString
    assert(colPlan.contains("ColumnarToRow"),
      s"default path must read ColumnarBatches:\n$colPlan")
    assert(!lattice(false).queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    // bit-exact equality across both read paths, all columns
    val c = lattice(true).orderBy("channel", "t").collect()
    val r = lattice(false).orderBy("channel", "t").collect()
    assert(c.length == 8 * 64 && c.sameElements(r))
  }

  // --- aggregate pushdown ----------------------------------------------

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  test("grouped count/min/max pushes down completely (no Aggregate node)") {
    val pushed = src().groupBy("channel")
      .agg(count(lit(1)).as("n"), min("t").as("lo"), max("t").as("hi"))
    assert(!hasAggregate(pushed), "aggregation should be pushed to the scan")
    // the constant result rows arrive as one ColumnarBatch — the pushed
    // scan stays on the same ColumnarToRow shape as the normal scan
    assert(pushed.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "pushed-aggregate scan should read columnar")
    // baseline: an un-pushable residual filter (t >= 0 is a no-op but only
    // channel predicates push) keeps the aggregate in the plan
    val baseline = src().filter(col("t") >= 0).groupBy("channel")
      .agg(count(lit(1)).as("n"), min("t").as("lo"), max("t").as("hi"))
    assert(hasAggregate(baseline))
    val p = pushed.orderBy("channel").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val b = baseline.orderBy("channel").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(p.sameElements(b))
    assert(p.length === 8 && p.forall { case (_, n, lo, hi) =>
      n == 64L && lo == 0 && hi == 63 })
  }

  test("global (ungrouped) aggregates push down and compose with pruning") {
    val df = src().filter(col("channel") >= 2 && col("channel") < 6)
      .agg(count(lit(1)).as("n"), min("t").as("lo"), max("t").as("hi"),
        min("channel").as("clo"), max("channel").as("chi"))
    assert(!hasAggregate(df))
    val r = df.collect()(0)
    assert(r.getLong(0) === 4L * 64 && r.getInt(1) === 0 &&
      r.getInt(2) === 63 && r.getInt(3) === 2 && r.getInt(4) === 5)
  }

  test("scan-reported statistics auto-broadcast a pruned synthetic side") {
    // without SupportsReportStatistics a DSv2 relation costs the conf
    // default (Long.Max bytes) and NEVER auto-broadcasts; with the exact
    // lattice stats the pruned side (1 channel x 64 rows x 16 B) sits far
    // under the 10 MB threshold and the planner picks BroadcastHashJoin
    // with no broadcast() hint anywhere
    import spark.implicits._
    val big = spark.range(200000).select(
      pmod(col("id"), lit(64)).cast("int").as("t"),
      col("id").as("payload"))
    val small = src().filter(col("channel") === 3).select("t", "value")
    val joined = big.join(small, "t")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats-driven auto-broadcast expected:\n$plan")
    assert(joined.count() === 200000L)
    // and the reported stats shrink with filter pushdown
    val scan = joined.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val stats = scan.computeStats()
    assert(stats.rowCount.exists(_.toLong == 64L),
      s"pruned scan must report 1x64 rows, got ${stats.rowCount}")
  }

  test("runtime filtering: a channel join dynamically prunes partitions") {
    // the DSv2 twin of parquet DPP (q326): the dim side's surviving keys
    // reach SyntheticScan.filter() at RUNTIME, before planInputPartitions,
    // so non-joining channels never generate a row
    import spark.implicits._
    val synth = src(nCh = 32, nTime = 256)
    // two PartitionPruning-rule requirements pinned here: the dim-side
    // predicate must be "likely selective" (IN/equality qualify; a Not(=)
    // does not), and the dim must be a real SCAN — a filtered LocalRelation
    // never triggers DPP (measured), so the dim round-trips through parquet
    val dimDir = java.nio.file.Files.createTempDirectory("synth_dpp").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dimDir))
    Seq((3, "a"), (7, "b"), (7, "c"), (40, "z")).toDF("ch", "tag")
      .write.mode("overwrite").parquet(s"$dimDir/dim")
    val dim = spark.read.parquet(s"$dimDir/dim")
      .filter(col("tag").isin("a", "b", "c"))
    val joined = synth.join(broadcast(dim), col("channel") === col("ch"))
      .agg(count(lit(1)).as("n"))
    val n = joined.collect()(0).getLong(0)
    assert(n === 3L * 256, s"3 dim rows x 256 samples, got $n")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic-pruning runtime filter on the scan:\n$plan")
    // under AQE the scan lives inside finalized query stages — descend
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty, s"no BatchScanExec found in:\n$plan")
    // inputPartitions is the PRE-filter plan (32); the executed path goes
    // through filteredPartitions, observable via the scan's output metric:
    // only channels {3, 7} may generate rows
    assert(scans.head.metrics("numOutputRows").value === 2L * 256,
      "runtime filter must prune generation to channels {3, 7}")
  }

  test("value aggregates do NOT push down and stay correct") {
    val df = src(nCh = 2, nTime = 32).groupBy("channel")
      .agg(sum("value").as("s"), count(lit(1)).as("n"))
    assert(hasAggregate(df), "sum(value) must not push down")
    val rows = df.orderBy("channel").collect()
    for (ch <- 0 until 2) {
      val expect = graft.model.Synthetic.rawTraceForSource(32, 42L, ch).sum
      assert(math.abs(rows(ch).getDouble(1) - expect) < 1e-12)
      assert(rows(ch).getLong(2) === 32L)
    }
  }
}
