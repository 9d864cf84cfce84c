package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** floor_dot_e9: the codegen exact-grid inner product must produce the
  * SAME longs as the interpreted aggregate/zip_with HOF it replaces, and
  * mirror its null chain. */
class GridExpressionsSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("matches the HOF form long-for-long on random float vectors") {
    GridFunctions.register(spark)
    val r = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(64)((r.nextGaussian() * 3).toFloat),
        Seq.fill(64)((r.nextGaussian() * 3).toFloat))
    }
    val df = rows.toDF("id", "a", "b")
    val hof = "aggregate(zip_with(a, b, (x, y) -> " +
      "CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e9) AS BIGINT)), " +
      "0L, (acc, e) -> acc + e)"
    val bad = df.select(expr("floor_dot_e9(a, b)").as("native"),
        expr(hof).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad === 0L)
    // self-dot (energy) as well
    val bad2 = df.select(expr("floor_dot_e9(a, a)").as("n"),
        expr(hof.replace("(a, b,", "(a, a,")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(bad2 === 0L)
  }

  test("null array, null element, and UNEQUAL lengths all yield NULL (HOF parity)") {
    GridFunctions.register(spark)
    val df = Seq(
      (1L, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](3f, 4f)),
      (2L, null, Seq[java.lang.Float](3f, 4f)),
      (3L, Seq[java.lang.Float](1f, null), Seq[java.lang.Float](3f, 4f)),
      (4L, Seq[java.lang.Float](1f, 2f, 5f), Seq[java.lang.Float](3f, 4f))
    ).toDF("id", "a", "b")
    val hof = "aggregate(zip_with(a, b, (x, y) -> " +
      "CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e9) AS BIGINT)), " +
      "0L, (acc, e) -> acc + e)"
    val got = df.select(col("id"), expr("floor_dot_e9(a, b)").as("d"),
        expr(hof).as("h"))
      .collect().map { r =>
        val d = if (r.isNullAt(1)) None else Some(r.getLong(1))
        val h = if (r.isNullAt(2)) None else Some(r.getLong(2))
        assert(d === h, s"id ${r.getLong(0)}: native $d != HOF $h")
        r.getLong(0) -> d
      }.toMap
    assert(got(1L) === Some(3000000000L + 8000000000L))
    assert(got(2L) === None)
    assert(got(3L) === None)
    // unequal lengths: zip_with null-pads the shorter side -> NULL; the
    // native expression must agree (RewriteFloorDotE9 substitutes it)
    assert(got(4L) === None)
  }

  test("double arrays accepted; mixed float/double accepted") {
    GridFunctions.register(spark)
    val df = Seq((Seq(0.5, 0.25), Seq(2.0f, 4.0f))).toDF("a", "b")
    val v = df.select(expr("floor_dot_e9(a, b)")).head().getLong(0)
    assert(v === 1000000000L + 1000000000L)
  }

  test("RewriteFloorDotE9: the HOF form optimizes to the native kernel") {
    spark // materialize the suite session (and its SparkContext) first
    val orig = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a second session over the suite's SparkContext, not the suite's
      // own: session extensions (the rewrite rule) apply only at build
      val ext = SparkSession.builder().master("local[4]")
        .appName("rewrite-rule-spec")
        .withExtensions(new graft.GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import ext.implicits._
      val r = new scala.util.Random(3)
      val rows = (0 until 50).map { i =>
        (i.toLong, Seq.fill(16)((r.nextGaussian() * 2).toFloat),
          Seq.fill(16)((r.nextGaussian() * 2).toFloat))
      }
      // parquet-backed: a LocalRelation input constant-folds the whole
      // projection away before the rule could ever be observed
      val dir = java.nio.file.Files.createTempDirectory("rw_rule").toString
      graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
      rows.toDF("id", "a", "b").write.mode("overwrite").parquet(s"$dir/t")
      val df = ext.read.parquet(s"$dir/t")
      val hof = "aggregate(zip_with(a, b, (x, y) -> " +
        "CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e9) AS BIGINT)), " +
        "0L, (acc, e) -> acc + e)"
      val q = df.select(col("id"), expr(hof).as("d"))
      assert(q.queryExecution.optimizedPlan.toString.contains("floor_dot_e9"),
        s"rule must substitute the native kernel:\n${q.queryExecution.optimizedPlan}")
      // values: bit-identical to the un-extended session's interpreted HOF
      val got = q.collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
      GridFunctions.register(spark)
      val want = {
        import spark.implicits._
        rows.toDF("id", "a", "b")
          .select(col("id"), expr(hof).as("d"))
          .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
      }
      assert(got == want)
      // negative controls: a different grid constant, a seeded zero, and
      // non-float/double arrays must all be left alone
      val other = df.select(expr(hof.replace("1e9", "1e8")).as("d"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("floor_dot_e9"))
      val seeded = df.select(expr(hof.replace("0L,", "1L,")).as("d"))
      assert(!seeded.queryExecution.optimizedPlan.toString.contains("floor_dot_e9"))
      val ints = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
        .select(expr("aggregate(zip_with(a, b, (x, y) -> " +
          "CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e9) AS BIGINT)), " +
          "0L, (acc, e) -> acc + e)").as("d"))
      assert(!ints.queryExecution.optimizedPlan.toString.contains("floor_dot_e9"))
      assert(ints.head().getLong(0) === 3000000000L + 8000000000L)
      // evalMode carry-through: ANSI's acc + e throws on Long overflow, so
      // the substituted kernel must too; LEGACY wraps in both forms. The
      // rewrite fires in both modes with the matching failOnError flag.
      // (Each element saturates floor→long at Long.MaxValue; two of them
      // overflow the accumulator.)
      val ovDir = s"$dir/ov"
      Seq((Seq(3e9, 3e9), Seq(1e9, 1e9))).toDF("a", "b")
        .write.mode("overwrite").parquet(ovDir)
      graft.SessionSuite.withConf(ext, "spark.sql.ansi.enabled" -> "true") {
        val ansi = ext.read.parquet(ovDir).select(expr(hof).as("d"))
        val opt = ansi.queryExecution.optimizedPlan.toString
        assert(opt.contains("floor_dot_e9"),
          s"rewrite must fire under ANSI with failOnError:\n$opt")
        val ex = intercept[org.apache.spark.SparkException] { ansi.collect() }
        def overflowy(t: Throwable): Boolean =
          t != null && (t.isInstanceOf[ArithmeticException] ||
            Option(t.getMessage).exists(_.toLowerCase.contains("overflow")) ||
            overflowy(t.getCause))
        assert(overflowy(ex), s"expected overflow failure, got $ex")
      }
      graft.SessionSuite.withConf(ext, "spark.sql.ansi.enabled" -> "false") {
        val legacy = ext.read.parquet(ovDir).select(expr(hof).as("d"))
        assert(legacy.queryExecution.optimizedPlan.toString.contains("floor_dot_e9"))
        // wrapping parity: 2 * Long.MaxValue wraps to -2 in both forms
        assert(legacy.head().getLong(0) === -2L)
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      orig.foreach { s =>
        SparkSession.setDefaultSession(s)
        SparkSession.setActiveSession(s)
      }
    }
  }

  test("compiles under whole-stage codegen with NON-NULLABLE inputs") {
    // Regression: with child-derived nullability, non-nullable array inputs
    // made Spark declare ev.isNull as the literal `false`; doGenCode's
    // `ev.isNull = true` then failed janino compilation ("not an rvalue")
    // and every floor_dot_e9 plan silently ran interpreted. fallback=false
    // turns any such failure into a hard error instead of a fallback.
    GridFunctions.register(spark)
    withConf("spark.sql.codegen.fallback" -> "false") {
      // range's id is non-nullable, so the built arrays are non-nullable —
      // exactly the shape that used to break compilation.
      val got = spark.range(4)
        .selectExpr("floor_dot_e9(array(CAST(id AS DOUBLE), 2.0D), " +
          "array(3.0D, CAST(id AS DOUBLE))) AS d")
        .collect().map(_.getLong(0)).sorted
      val want = (0L until 4L).map(i => 3L * i * 1000000000L +
        2L * i * 1000000000L).sorted.toArray
      assert(got.sameElements(want))
    }
  }
}
