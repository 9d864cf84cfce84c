package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Winsorization: hand-computed nearest-rank bounds, clip accounting,
  * tie determinism. */
class WinsorizeSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("bounds are the ceil(p*n) order statistics and clipping is exact") {
    // group g: values 1..20. lo=0.10 -> rank ceil(2)=2 -> bound 2;
    // hi=0.90 -> rank 18 -> bound 18. Clipped: {1} below, {19, 20} above.
    // winsorized sum = sum(2..18) + 2 (for v=1 -> 2) + 2*18 = 170+2+36 = 208
    val df = (1 to 20).map(v => ("g", v.toLong)).toDF("grp", "vm")
    val out = Quantiles.winsorizeCensus(df, "grp", col("vm"), 0.10, 0.90)
      .collect().head
    assert(out.getLong(1) === 20L)
    assert(out.getLong(2) === 2L && out.getLong(3) === 18L)
    assert(out.getLong(4) === 1L && out.getLong(5) === 2L)
    assert(out.getLong(6) === 208L)
  }

  test("ties cannot change the bound value; layout cannot change anything") {
    val df = (Seq.fill(50)(5L) ++ Seq.fill(50)(10L)).map(("g", _))
      .toDF("grp", "vm")
    val a = Quantiles.winsorizeCensus(df.repartition(1), "grp", col("vm"),
      0.05, 0.95).collect().head
    val b = Quantiles.winsorizeCensus(df.repartition(7), "grp", col("vm"),
      0.05, 0.95).collect().head
    assert(a.toSeq === b.toSeq)
    assert(a.getLong(2) === 5L && a.getLong(3) === 10L) // ranks 3 and 95
    assert(a.getLong(4) === 0L && a.getLong(5) === 0L)  // nothing outside
  }
}
