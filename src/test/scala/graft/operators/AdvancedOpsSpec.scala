package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Semantics pins for the round-10 Advanced operators: Welch PSD (spectral
  * peak location, Parseval-level power accounting, one-sided density
  * scaling) and bounded-hop Bellman-Ford (exact distances on a known
  * graph, hop-bound truncation). */
class AdvancedOpsSpec extends AnyFunSuite with graft.SessionSuite {

  private def sineSegments(freq: Double, rate: Double, n: Int) = {
    import spark.implicits._
    val values = Array.tabulate(n)(i => math.sin(2 * math.Pi * freq * i / rate))
    Seq(("s", 0, Option.empty[Int], rate, 0.0, values))
      .toDF("series", "channel", "band", "rate", "startingTime", "values")
  }

  test("welchPsd: pure sine concentrates at its bin, one-sided density scale") {
    val rate = 1000.0
    val L = 64
    // 125 Hz is exactly bin 8 of a 64-point grid at 1 kHz: no leakage
    val psd = DspOperators.welchPsd(sineSegments(125.0, rate, 1024), L, L / 2)
      .select(col("k"), col("psd")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(psd.size == L / 2 + 1)
    val peak = psd.maxBy(_._2)._1
    assert(peak == 8, s"expected peak at bin 8, got $peak")
    // outside the Hamming main lobe (±2 bins) only sidelobes remain,
    // ~-42 dB: everything there stays below 1e-3 of the peak
    val offLobe = psd.filter(kv => math.abs(kv._1 - 8) > 2).values.max
    assert(offLobe < psd(8) * 1e-3)
    // integrating the one-sided density over the frequency grid recovers
    // the sine's mean power 1/2 (Parseval, up to window edge effects)
    val power = psd.values.sum * rate / L
    assert(math.abs(power - 0.5) < 0.01, s"power integral $power")
  }

  test("welchPsd: trace shorter than nperseg yields no rows") {
    assert(DspOperators.welchPsd(sineSegments(125.0, 1000.0, 32), 64, 32).count() == 0)
  }

  test("tileStats: ragged edge tiles, exact sums, undecodable payloads drop") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // id=1: w=9, h=7, ax=2, by=2, c=1 -> 3x2 tile grid with ragged edges
    val media = Seq(
      (1L, "image", Multimodal.syntheticGradientPng(1L)),
      (2L, "image", "not an image".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val rows = Multimodal.tileStats(media, 4, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(rows.forall(_._1 == 1L), "undecodable payload must emit nothing")
    assert(rows.length == 3 * 2) // ceil(9/4) x ceil(7/4)
    // exact arithmetic mirror of the gradient: pixel = (2x + 2y + 1) % 256
    def expected(tx: Int, ty: Int): (Long, Long) = {
      var n = 0L; var s = 0L
      for (y <- ty * 4 until math.min(ty * 4 + 4, 7);
           x <- tx * 4 until math.min(tx * 4 + 4, 9)) {
        n += 1; s += (2 * x + 2 * y + 1) % 256
      }
      (n, s)
    }
    rows.foreach { case (_, tx, ty, n, s) =>
      assert((n, s) == expected(tx, ty), s"tile ($tx,$ty)")
    }
  }

  test("boundedSssp: exact distances and hop-bound truncation") {
    import spark.implicits._
    // path 1 -2- 3 -2- 5 -2- 7 -2- 9 with a direct heavy shortcut 1 -9- 9
    val edges = Seq((1L, 3L, 2L), (3L, 5L, 2L), (5L, 7L, 2L), (7L, 9L, 2L),
      (1L, 9L, 9L)).toDF("a", "b", "w")
    val seeds = Seq(1L).toDF("v")
    def distMap(iters: Int): Map[Long, Long] =
      Graph.boundedSssp(edges, seeds, iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2 hops: shortcut (1 edge, cost 9) still beats the unfinished path
    val d2 = distMap(2)
    assert(d2 == Map(1L -> 0L, 3L -> 2L, 5L -> 4L, 7L -> 11L, 9L -> 9L))
    // 4 hops: the 4-edge path (cost 8) relaxes below the shortcut
    val d4 = distMap(4)
    assert(d4 == Map(1L -> 0L, 3L -> 2L, 5L -> 4L, 7L -> 6L, 9L -> 8L))
  }
}
