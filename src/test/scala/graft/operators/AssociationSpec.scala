package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Association mining: hand-computed lift on a tiny basket set, support
  * threshold, and duplicate-row insensitivity. */
class AssociationSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("lift matches hand computation and ranks on the integer grid") {
    // baskets: {a,b} x3, {a,c}, {b,c}, {a}, {c} -> n=7? no: 7 baskets
    val rows = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"), (3L, "b"),
      (4L, "a"), (4L, "c"), (5L, "b"), (5L, "c"), (6L, "a"), (7L, "c"),
      (3L, "a") // duplicate line in a basket: distinct-ed
    ).toDF("basket", "item")
    val out = Association.liftPairs(rows, col("basket"), col("item"),
        minPairCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // n_baskets=7; c_a=5, c_b=4, c_c=3; c_ab=3, c_ac=1, c_bc=1
    // lift(a,b) = 3*7*1e6 div 20 = 1050000
    // lift(a,c) = 1*7*1e6 div 15 = 466666 ; lift(b,c) = 7e6 div 12 = 583333
    assert(out === Array(
      ("a", "b", 7L, 5L, 4L, 3L, 1050000L),
      ("b", "c", 7L, 4L, 3L, 1L, 583333L),
      ("a", "c", 7L, 5L, 3L, 1L, 466666L)))
  }

  test("minPairCount prunes rare pairs") {
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"),
      (3L, "z")).toDF("basket", "item")
    val out = Association.liftPairs(rows, col("basket"), col("item"),
        minPairCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out === Array(("x", "y")))
  }
}
