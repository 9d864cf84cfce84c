package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Distributed rank-selection quantiles against Spark's built-in exact
  * `percentile` aggregate (same linear-interpolation definition) and
  * against hand-computed values; partition-count invariance. */
class QuantilesSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  val ps = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)

  test("quantiles equal Spark's percentile aggregate on mixed random groups") {
    val rng = new scala.util.Random(7)
    // skewed group sizes, duplicated values, a singleton group, nulls
    val rows = Seq.tabulate(2000)(i =>
      ("g" + (i % 5), math.rint(rng.nextGaussian() * 50) / 4)) ++
      Seq(("solo", 42.0))
    val df = rows.toDF("g", "v")
      .union(Seq(("g1", null.asInstanceOf[java.lang.Double])).toDF("g", "v"))
    val ours = Quantiles.exactQuantiles(df, "g", "v", ps)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val ref = df.filter($"v".isNotNull).groupBy("g")
      .agg(expr("percentile(v, array(0.5, 0.95, 0.99))").as("q"))
      .collect().map { r =>
        val q = r.getSeq[Double](1)
        r.getString(0) -> ((q(0), q(1), q(2)))
      }.toMap
    assert(ours.keySet === ref.keySet)
    ours.foreach { case (g, (a, b, c)) =>
      val (ra, rb, rc) = ref(g)
      assert(a === ra, s"$g p50")
      assert(b === rb, s"$g p95")
      assert(c === rc, s"$g p99")
    }
    assert(ours("solo") === ((42.0, 42.0, 42.0)), "singleton group is its own quantile")
  }

  test("hand-computed interpolation on a 5-value group") {
    // values 1..5: p50 -> rank 2 -> 3.0; p95 -> rank 3.8 -> 4 + 0.8*(5-4)
    val df = Seq.tabulate(5)(i => ("a", (i + 1).toDouble)).toDF("g", "v")
    val r = Quantiles.exactQuantiles(df, "g", "v", ps).head()
    assert(r.getDouble(1) === 3.0)
    assert(r.getDouble(2) === 4.0 + (5.0 - 4.0) * (0.95 * 4.0 - 3.0))
    assert(r.getDouble(3) === 4.0 + (5.0 - 4.0) * (0.99 * 4.0 - 3.0))
  }

  test("result is partition-layout invariant") {
    val rng = new scala.util.Random(11)
    val df = Seq.tabulate(999)(i => ("g" + (i % 3), rng.nextDouble() * 100))
      .toDF("g", "v")
    val a = Quantiles.exactQuantiles(df.repartition(1), "g", "v", ps)
      .collect().map(_.toSeq).toSeq
    val b = Quantiles.exactQuantiles(df.repartition(13), "g", "v", ps)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("empty input yields an empty frame with the declared schema") {
    val df = Seq.empty[(String, Double)].toDF("g", "v")
    val out = Quantiles.exactQuantiles(df, "g", "v", ps)
    assert(out.columns.toSeq === Seq("g", "p50", "p95", "p99"))
    assert(out.count() === 0)
  }

  test("robust outlier stats: hand-computed median/MAD, odd and even groups") {
    val df = (
      // odd group: med 3, ads {2,1,0,1,97} -> sorted {0,1,1,2,97}, mad 1,
      // outliers = |v-3| > 3: only 100
      Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "a" -> 4.0, "a" -> 100.0) ++
      // even group: med 2.5, ads {1.5,.5,.5,7.5} -> mad (.5+1.5)/2 = 1,
      // outliers = ad > 3: only 10
      Seq("b" -> 1.0, "b" -> 2.0, "b" -> 3.0, "b" -> 10.0)
    ).toDF("g", "v")
    val out = Quantiles.robustOutlierStats(df, "g", "v", k = 3.0)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(out === Array(
      ("a", 5L, 3.0, 1.0, 1L, 0.2),
      ("b", 4L, 2.5, 1.0, 1L, 0.25)))
    // a MAD of zero (over half the values identical) flags every
    // non-median value — the degenerate-contract sanity check
    val const = Seq("c" -> 5.0, "c" -> 5.0, "c" -> 5.0, "c" -> 9.0).toDF("g", "v")
    val r = Quantiles.robustOutlierStats(const, "g", "v").collect().head
    assert(r.getDouble(3) === 0.0 && r.getLong(4) === 1L)
  }

  test("histogram quantiles land within one bin width of the order statistic") {
    // the sketch's rank rule is the lower-bound order statistic
    // v_(ceil(p*n)); its value estimate may only be off by the in-bin
    // interpolation, i.e. one equi-width bin — assert that bound per group,
    // percentile, and resolution (NOT vs the p*(n-1)-interpolated exact
    // quantile, whose rank rule differs by an inter-value gap on tiny n)
    val rnd = new scala.util.Random(11)
    val data = (
      (1 to 4000).map(_ => "g1" -> rnd.nextGaussian() * 10) ++
      (1 to 3000).map(_ => "g2" -> rnd.nextDouble() * 500) ++
      (1 to 7).map(i => "tiny" -> i.toDouble) ++
      Seq("const" -> 42.0, "const" -> 42.0, "const" -> 42.0)
    ).toDF("g", "v")
    val ps = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)
    val sortedVals = data.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, a) => g -> a.map(_._2).sorted }
    def orderStat(g: String, p: Double): Double = {
      val vs = sortedVals(g)
      vs(math.max(math.ceil(p * vs.length).toInt, 1) - 1)
    }
    for (nBins <- Seq(16, 256, 4096)) {
      val hist = Quantiles.histogramQuantiles(data, "g", "v", ps, nBins)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(hist.keySet == sortedVals.keySet)
      for (g <- hist.keySet) {
        val w = (sortedVals(g).last - sortedVals(g).head) / nBins
        val pairs = Seq(hist(g)._1 -> orderStat(g, 0.5),
          hist(g)._2 -> orderStat(g, 0.95), hist(g)._3 -> orderStat(g, 0.99))
        for ((h, e) <- pairs)
          assert(math.abs(h - e) <= w + 1e-9,
            s"group $g nBins=$nBins: hist $h vs order stat $e exceeds bin width $w")
      }
    }
    // constant group: every percentile is the constant itself
    val ch = Quantiles.histogramQuantiles(data.filter($"g" === "const"), "g", "v", ps)
      .collect().head
    assert(ch.getDouble(1) === 42.0 && ch.getDouble(3) === 42.0)
  }

  test("histogram quantiles degenerate inputs: empty, single value, out-of-grid clamp") {
    val ps = Seq("p50" -> 0.5, "p99" -> 0.99)
    // empty input -> empty frame, no error
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    assert(Quantiles.histogramQuantiles(empty, "g", "v", ps).count() === 0)
    assert(Quantiles.fixedGridCells(empty, "g", "v", 0.0, 10.0, 4).count() === 0)
    // single-value group: mx == mn path, every percentile = the value
    val one = Seq("a" -> 7.5).toDF("g", "v")
    val r = Quantiles.histogramQuantiles(one, "g", "v", ps).collect().head
    assert(r.getDouble(1) === 7.5 && r.getDouble(2) === 7.5)
    // fixed grid clamps out-of-range values into the edge bins
    val wild = Seq("a" -> -100.0, "a" -> 5.0, "a" -> 999.0).toDF("g", "v")
    val cells = Quantiles.fixedGridCells(wild, "g", "v", 0.0, 10.0, 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(cells === Map(0L -> 1L, 2L -> 1L, 3L -> 1L),
      s"clamp should pin -100 to bin 0 and 999 to bin 3: $cells")
  }
}
