package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Binned range join vs a brute-force cross-join reference: exact window
  * semantics (inclusive bounds), bin-boundary cases, negative windows,
  * and nano-scale ords that would round through a double. */
class RangeJoinSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def brute(left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)],
                    lower: Long, upper: Long): Set[(Long, Long)] =
    (for {
      (lid, lk, lo) <- left
      (rid, rk, ro) <- right
      if lk == rk && ro >= lo + lower && ro <= lo + upper
    } yield (lid, rid)).toSet

  test("rangeJoin equals brute force on random data incl. bin boundaries") {
    val rnd = new scala.util.Random(11)
    val left = (0 until 300).map(i =>
      (i.toLong, (i % 5).toLong, rnd.nextInt(1000).toLong))
    val right = (1000 until 1400).map(i =>
      (i.toLong, (i % 5).toLong, rnd.nextInt(1000).toLong))
    val lDf = left.toDF("id", "k", "ts")
    val rDf = right.toDF("id", "k", "ts")
    for ((lo, hi) <- Seq((-50L, -1L), (-100L, 100L), (0L, 0L), (10L, 30L))) {
      val got = RangeJoin.rangeJoin(lDf, rDf, Seq("k"), "ts", lo, hi, Seq("id"))
        .select(col("id"), col("r_id")).as[(Long, Long)].collect().toSet
      assert(got === brute(left, right, lo, hi), s"window [$lo, $hi]")
    }
  }

  test("rangeJoin is exact at nano-scale ords (no double rounding)") {
    // ords near 1.7e18 where double arithmetic loses integer precision
    val base = 1700000000000000000L
    val left = Seq((1L, 1L, base), (2L, 1L, base + 300000000001L))
    val right = Seq((10L, 1L, base - 1L), (11L, 1L, base),
      (12L, 1L, base + 300000000000L), (13L, 1L, base + 300000000002L))
    val got = RangeJoin.rangeJoin(left.toDF("id", "k", "ts"),
        right.toDF("id", "k", "ts"), Seq("k"), "ts",
        -300000000000L, 0L, Seq("id"))
      .select(col("id"), col("r_id")).as[(Long, Long)].collect().toSet
    assert(got === brute(left, right, -300000000000L, 0L))
  }

  test("rangeJoin is partition invariant") {
    val rnd = new scala.util.Random(13)
    val left = (0 until 200).map(i => (i.toLong, (i % 3).toLong, rnd.nextInt(500).toLong))
    val right = (500 until 800).map(i => (i.toLong, (i % 3).toLong, rnd.nextInt(500).toLong))
    def run(lp: Int, rp: Int) = RangeJoin.rangeJoin(
        left.toDF("id", "k", "ts").repartition(lp),
        right.toDF("id", "k", "ts").repartition(rp),
        Seq("k"), "ts", -40L, 15L, Seq("id"))
      .select(col("id"), col("r_id")).as[(Long, Long)].collect().toSet
    assert(run(1, 1) === run(7, 3))
  }
}
