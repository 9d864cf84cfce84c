package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Chi-square: hand-computed 2x2 statistic, independence near zero, and
  * dof bookkeeping. */
class ContingencySpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("2x2 statistic matches the textbook formula") {
    // cells: (x,p)=30 (x,q)=10 (y,p)=10 (y,q)=30; n=80
    // rt_x=40 rt_y=40 ct_p=40 ct_q=40, e=20 everywhere
    // chi2 = 4 * (10^2/20) = 20.0
    val rows =
      Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(30)(("y", "q"))
    val out = Contingency.chiSquare(rows.toDF("a", "b"), col("a"), col("b"))
      .collect().head
    assert(out.getLong(0) === 80L)
    assert(out.getLong(1) === 2L && out.getLong(2) === 2L)
    assert(out.getLong(3) === 1L)
    assert(out.getDouble(4) === 20.0)
  }

  test("a perfectly independent table scores zero") {
    // every (a, b) combination equally likely -> o == e -> chi2 == 0
    val rows = for (a <- Seq("x", "y", "z"); b <- 0 until 4; _ <- 0 until 5)
      yield (a, b)
    val out = Contingency.chiSquare(rows.toDF("a", "b"), col("a"), col("b"))
      .collect().head
    assert(out.getLong(0) === 60L)
    assert(out.getLong(3) === 6L) // (3-1)*(4-1)
    assert(out.getDouble(4) === 0.0)
  }
}
