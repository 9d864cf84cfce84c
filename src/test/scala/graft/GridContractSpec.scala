package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GridFunctions

/** The r17 exact-grid emission contract, pinned as laws (NOTES r17 §3-4):
  *
  *  - `gridRound(c, k)` IS the floor formula floor(x·10^k + 0.5)/10^k —
  *    every step a single correctly-rounded IEEE op, so identical operands
  *    give identical results on any engine (the DuckDB oracles carry the
  *    literal twin).
  *  - Spark's `round(x, k)` is NOT that function: it rounds the exact
  *    decimal expansion (BigDecimal HALF_UP) while DuckDB rounds the
  *    scaled double, and the two were MEASURED to diverge within ~1 ulp of
  *    .5 boundaries (51/7998 adversarial doubles at k=6 — the probe run
  *    recorded in NOTES). This spec pins one constructed divergence case
  *    so the reason round() is banned from emissions stays executable.
  *  - `Similarity.gridSimE4` laws ride through `cellPairs` end to end via
  *    the q373-q383 oracle gates; here we pin the pure readout: grid
  *    membership, bounds, and the zero-norm guard, via the public
  *    bruteForceTopK surface.
  */
class GridContractSpec extends AnyFunSuite with SessionSuite {

  private def evalGrid(x: Double, k: Int): Double = {
    import spark.implicits._
    // k = 0 is floor(x + 0.5) — a LONG column; k > 0 divides back to DOUBLE
    Seq(x).toDF("x").select(GridFunctions.gridRound(col("x"), k))
      .head().get(0) match {
      case d: java.lang.Double => d
      case l: java.lang.Long => l.toDouble
    }
  }

  test("gridRound IS the floor formula (both engines' literal twin)") {
    val xs = Seq(0.0, 1.0, 0.12344999, 0.123455, -0.5, -0.1234565,
      8.5e-6, 2.0e-4, 123.4567891, -987.654321, 1e-12, -1e-12)
    for (x <- xs; k <- Seq(0, 4, 6)) {
      val expect =
        if (k == 0) math.floor(x + 0.5)
        else {
          val p = math.pow(10, k)
          math.floor(x * p + 0.5) / p
        }
      assert(java.lang.Double.doubleToRawLongBits(evalGrid(x, k)) ==
        java.lang.Double.doubleToRawLongBits(expect),
        s"gridRound($x, $k) must be bit-equal to the floor formula")
    }
  }

  test("gridRound output sits ON the decimal grid and within half a step") {
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 2000) {
      val x = (rnd.nextDouble() - 0.5) * 2000.0
      val g = evalGrid(x, 4)
      // on-grid: re-gridding is a fixed point
      assert(math.floor(g * 1e4 + 0.5) / 1e4 == g, s"off-grid for $x")
      // within half a grid step (+1 ulp slack for the scaled arithmetic)
      assert(math.abs(g - x) <= 0.5e-4 * (1 + 1e-9), s"too far for $x -> $g")
    }
  }

  test("Spark round() diverges from the floor formula at a scaled-double boundary (why emissions ban round)") {
    // a REAL divergence instance from the r17 probe (51/7998 adversarial
    // doubles at k=6): Spark's round sees the value below the .5 boundary
    // and rounds DOWN, while the floor formula — and DuckDB's round, which
    // rounds the SCALED double — lands exactly on the boundary and rounds
    // UP. Identical operand, different emitted value: the class the grid
    // contract removes from every emission.
    val x = java.lang.Double.parseDouble("0x1.8c5c9a34ca0c2p-14")
    import spark.implicits._
    val r = Seq(x).toDF("x")
      .select(round(col("x"), 6).as("r"),
        GridFunctions.gridRound(col("x"), 6).as("g"))
      .head()
    assert(r.getDouble(0) == 9.4e-5, "Spark round: below the boundary")
    assert(r.getDouble(1) == 9.5e-5, "floor formula: scaled-double boundary")
    assert(r.getDouble(0) != r.getDouble(1),
      "the divergence this contract exists to remove")
  }

  test("bruteForceTopK sims ride the e4 grid, bounded, deterministic under reordering") {
    import spark.implicits._
    import graft.text.Similarity
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0L until 200L).map(i => (i, vec()))
    val emb = rows.toDF("vec_id", "embedding")
    val q = rows(5)._2
    val top = Similarity.bruteForceTopK(emb, q, k = 12, excludeId = 5L)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 12)
    top.foreach { case (_, s) =>
      assert(s >= -1.0 - 1e-4 && s <= 1.0 + 1e-4, s"cosine bound: $s")
      assert(math.floor(s * 1e4 + 0.5) / 1e4 == s, s"off the e4 grid: $s")
    }
    // partitioning must not change a single bit (order-free moments)
    val top2 = Similarity.bruteForceTopK(emb.repartition(7), q, k = 12,
        excludeId = 5L)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.toSeq == top2.toSeq, "sims/ranks must be layout-invariant")
  }

  test("gridRound non-finite operands are a parity HAZARD, not a silent agreement (r18 — why call sites guard)") {
    import spark.implicits._
    // Spark's floor over DoubleType is LongType: NaN silently reads 0 and
    // ±Inf saturates to ±Long.Max — while the DuckDB twin's floor
    // PROPAGATES NaN/Inf. This pins the Spark half of that asymmetry so
    // the reason every gridRound operand chain must be provably finite
    // (or guarded with a CASE carried in the oracle) stays executable.
    val r = Seq((Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      .toDF("nan", "pinf", "ninf")
      .select(GridFunctions.gridRound(col("nan"), 6).as("gnan"),
        GridFunctions.gridRound(col("pinf"), 6).as("gpinf"),
        GridFunctions.gridRound(col("ninf"), 6).as("gninf"))
      .head()
    assert(r.getDouble(0) == 0.0, "NaN silently becomes 0.0 on Spark")
    assert(r.getDouble(1) == Long.MaxValue / 1e6, "+Inf saturates")
    assert(r.getDouble(2) == Long.MinValue / 1e6, "-Inf saturates")
    // NULL is the one non-value that passes through identically on both
    // engines — the canonical emission for an undefined statistic
    val nr = Seq(Tuple1(Option.empty[Double])).toDF("x")
      .select(GridFunctions.gridRound(col("x"), 6)).head()
    assert(nr.isNullAt(0), "NULL passes through the grid")
  }

  test("zipfSpectrum single-rank stream emits NULL fit (zero-denominator guard, both engines' CASE)") {
    import spark.implicits._
    import graft.text.Curation
    // one word => one rank => n·sxx − sx² = 0: the degenerate fit must be
    // NULL (not a NaN that Spark's floor would silently zero)
    val docs = Seq(("solo", "word word word"), ("multi", "a b a c a b d"))
      .toDF("source", "text")
    val out = Curation.zipfSpectrum(docs, topK = 100)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("solo").isNullAt(2) && out("solo").isNullAt(3),
      "single-rank fit must be NULL")
    assert(!out("multi").isNullAt(2) && !out("multi").isNullAt(3),
      "well-posed fit stays a value")
  }

  test("exactQuantiles gridDecimals snaps the readout to the floor grid (r18 census close)") {
    import spark.implicits._
    import graft.operators.Quantiles
    val rnd = new scala.util.Random(18)
    val df = (0 until 501).map(i => ("g", rnd.nextDouble() * 3.7 - 1.2))
      .toDF("g", "v")
    val ps = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)
    val raw = Quantiles.exactQuantiles(df, "g", "v", ps).head()
    val grid = Quantiles.exactQuantiles(df, "g", "v", ps,
      gridDecimals = Some(6)).head()
    for (i <- 1 to 3) {
      val g = grid.getDouble(i)
      val expect = math.floor(raw.getDouble(i) * 1e6 + 0.5) / 1e6
      assert(java.lang.Double.doubleToRawLongBits(g) ==
        java.lang.Double.doubleToRawLongBits(expect),
        s"grid readout must be the floor formula of the raw interpolation (col $i)")
      assert(math.floor(g * 1e6 + 0.5) / 1e6 == g, s"off-grid (col $i)")
    }
  }

  test("zero-norm vectors score 0.0 (the guard both engines carry)") {
    import spark.implicits._
    import graft.text.Similarity
    val z = Array.fill(16)(0.0f)
    val v = Array.tabulate(16)(i => (i + 1).toFloat / 16f)
    val emb = Seq((0L, v), (1L, z)).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(emb, z, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(0L) == 0.0 && got(1L) == 0.0,
      "zero query norm must read 0.0 against every candidate")
  }
}
