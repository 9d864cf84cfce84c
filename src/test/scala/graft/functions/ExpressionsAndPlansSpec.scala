package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Native expression correctness (eval == codegen == built-in composition)
  * and physical-plan discipline: pruned scans, broadcast dims, codegen'd
  * amplitude path. */
class ExpressionsAndPlansSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("complex_amplitude/phase match zip_with composition and survive codegen") {
    val df = Seq(
      (Array(3.0, 0.0, -1.5), Array(4.0, 2.0, 1.5)),
      (Array.empty[Double], Array.empty[Double]),
      (Array(1e300, 1e-300), Array(1e300, 1e-300))).toDF("re", "im")
    val got = df.select(
      ComplexArrayFunctions.complexAmplitude(df, $"re", $"im").as("amp"),
      ComplexArrayFunctions.complexPhase(df, $"re", $"im").as("ph")).collect()
    val want = df.select(
      zip_with($"re", $"im", (r, i) => hypot(r, i)).as("amp"),
      zip_with($"re", $"im", (r, i) => atan2(i, r)).as("ph")).collect()
    for ((g, w) <- got.zip(want)) {
      assert(g.getSeq[Double](0) == w.getSeq[Double](0))
      assert(g.getSeq[Double](1) == w.getSeq[Double](1))
    }
    // SQL registration path
    ComplexArrayFunctions.register(spark)
    df.createOrReplaceTempView("cplx")
    val viaSql = spark.sql("SELECT complex_amplitude(re, im) AS a FROM cplx")
      .collect().head.getSeq[Double](0)
    assert(viaSql == Seq(5.0, 2.0, math.hypot(-1.5, 1.5)))
    // type error is an analysis error, not a runtime one
    val err = intercept[Exception](
      spark.sql("SELECT complex_amplitude(1, 2)").collect())
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("GraftExtensions injects the native functions at session build time") {
    spark // materialize the suite session (and its SparkContext) first
    val orig = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a second session over the suite's SparkContext, not the suite's
      // own: session extensions apply only when a session is built
      val ext = SparkSession.builder().master("local[4]").appName("ext-spec")
        .withExtensions(new graft.GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val amp = ext.sql("SELECT complex_amplitude(array(3.0d), array(4.0d)) AS a")
        .collect().head.getSeq[Double](0)
      assert(amp == Seq(5.0))
      val asm = ext.sql(
        "SELECT assemble_series(t, v) FROM VALUES (2L, 30.0d),(0L, 10.0d),(1L, 20.0d) AS t(t, v)")
        .collect().head.getSeq[Double](0)
      assert(asm == Seq(10.0, 20.0, 30.0))
      val timed = ext.sql(
        "SELECT assemble_timed(ts, id, v).values FROM " +
          "VALUES (5L, 1L, 3.0d),(1L, 2L, 1.0d),(1L, 1L, 0.5d) AS t(ts, id, v)")
        .collect().head.getSeq[Double](0)
      assert(timed == Seq(0.5, 1.0, 3.0))
      val down = ext.sql("SELECT segment_resample(array(1d, 2d, 3d, 4d), 4d, 2d, 1.0, " +
        "'fast', 'double') AS d").collect().head.getSeq[Double](0)
      assert(down.length == 2)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      orig.foreach { s =>
        SparkSession.setDefaultSession(s)
        SparkSession.setActiveSession(s)
      }
    }
  }

  test("q01 parquet scan is column-pruned") {
    val q = graft.SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("l_quantity") && scan.contains("l_returnflag"))
    assert(!scan.contains("l_shipdate") && !scan.contains("l_partkey"),
      "scan reads columns the query never uses")
  }

  test("q95 PMI runs on ONE text scan (shared gram exchange)") {
    // the single (gram, count) aggregation feeds four consumers; if filter
    // pushdown or column pruning re-specializes any branch the scan count
    // regresses (this pinned 4 -> 1 in round 10). AQE off: static
    // ReuseExchange is what makes the sharing visible in the plan string
    // (at runtime AQE's stage cache reuses the same canonicalized stages)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val q = graft.SparkEntry.queries("q95_pmi_collocations")(spark, "/root/testdata/sf0.001")
      val plan = physical(q)
      val scans = "FileScan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"expected 1 documents scan, found $scans in:\n$plan")
      assert("ReusedExchange".r.findAllIn(plan).length >= 3,
        "the gram aggregation exchange should be reused by all consumers")
    }
  }

  test("q05 joins its dimensions by broadcast") {
    val q = graft.SparkEntry.queries("q05_nation_revenue")(spark, "/root/testdata/sf0.001")
    val plan = physical(q)
    assert(plan.contains("BroadcastHashJoin"), "dimension joins should broadcast")
    assert(!plan.contains("SortMergeJoin"), s"unexpected sort-merge join at this scale")
  }

  test("amplitude path stays inside whole-stage codegen") {
    // non-foldable source (a literal Seq constant-folds to LocalTableScan)
    val df = spark.range(4)
      .select(array($"id".cast("double"), ($"id" + 1).cast("double")).as("re"),
        array(($"id" + 2).cast("double"), ($"id" + 3).cast("double")).as("im"))
    val amp = df.select(ComplexArrayFunctions.complexAmplitude(df, $"re", $"im").as("v"))
    val plan = physical(amp)
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan rendering
    assert(plan.contains("*(1) Project") && plan.contains("complex_amplitude"),
      s"no codegen span in:\n$plan")
    assert(amp.collect().head.getSeq[Double](0) == Seq(math.hypot(0, 2), math.hypot(1, 3)))
  }

  test("wavelet explode does not shuffle (narrow pipeline)") {
    val seg = graft.model.Synthetic.segments(spark, 0.5, 2, 400.0)
    val wav = graft.operators.DspOperators.waveletTransform(seg, "human", hgOnly = true)
    val plan = physical(wav)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"wavelet should be narrow, found shuffle in:\n$plan")
  }

  test("assemble_series places dense pairs and sorts gappy ones, across merges") {
    // dense 0..999 shuffled across 7 partitions: placement path + partial
    // merge; values encode the index so misplacement is detectable
    val dense = spark.range(1000)
      .select((($"id" * 613) % 1000).as("t"), ((($"id" * 613) % 1000) * 0.5).as("v"))
      .repartition(7)
    val got = dense.groupBy(lit(1))
      .agg(SeriesAssembleFunctions.assembleSeries(spark, $"t", $"v").as("values"))
      .head().getSeq[Double](1)
    assert(got == (0 until 1000).map(_ * 0.5))

    // gaps (odd t only) force the sort fallback; non-zero min exercises the
    // offset shift
    val gappy = spark.range(500)
      .select(($"id" * 2 + 101).as("t"), ($"id".cast("double") + 7).as("v"))
      .repartition(5)
    val got2 = gappy.groupBy(lit(1))
      .agg(SeriesAssembleFunctions.assembleSeries(spark, $"t", $"v").as("values"))
      .head().getSeq[Double](1)
    assert(got2 == (0 until 500).map(_ + 7.0))

    // duplicate t masquerading as dense (range == n): (0,0,2) must NOT take
    // the placement path (which would drop a value and fabricate slot 1);
    // the duplicate guard falls back to the sort, keeping all three
    val dup = Seq((0L, 1.0), (0L, 2.0), (2L, 3.0)).toDF("t", "v")
    val got3 = dup.groupBy(lit(1))
      .agg(SeriesAssembleFunctions.assembleSeries(spark, $"t", $"v").as("values"))
      .head().getSeq[Double](1)
    assert(got3.length == 3 && got3.toSet == Set(1.0, 2.0, 3.0) && got3(2) == 3.0)

    // a null VALUE at a real slot becomes NaN in place (dropping it would
    // shift every later sample); a null t_idx contributes nothing
    val withNull = Seq((Some(0L), Some(1.0)), (Some(1L), None),
      (Some(2L), Some(3.0)), (None, Some(9.0))).toDF("t", "v")
    val got4 = withNull.groupBy(lit(1))
      .agg(SeriesAssembleFunctions.assembleSeries(spark, $"t", $"v").as("values"))
      .head().getSeq[Double](1)
    assert(got4.length == 3 && got4(0) == 1.0 && got4(1).isNaN && got4(2) == 3.0)
  }

  test("assemble_series is callable from SQL and aggregates per group") {
    SeriesAssembleFunctions.register(spark)
    spark.range(60)
      .select(($"id" % 3).as("g"), floor($"id" / 3).as("t"),
        ($"id" % 3 * 100 + floor($"id" / 3)).cast("double").as("v"))
      .createOrReplaceTempView("assemble_in")
    val rows = spark.sql(
      "SELECT g, assemble_series(t, v) AS values FROM assemble_in GROUP BY g ORDER BY g")
      .collect()
    assert(rows.length == 3)
    for (r <- rows) {
      val g = r.getLong(0)
      assert(r.getSeq[Double](1) == (0 until 20).map(g * 100 + _.toDouble))
    }
  }
}
