package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Estimator invariants for the q278 join-cardinality audit:
  * (a) with every user inside the heavy set the tails are empty, so the
  *     end-biased estimate is EXACT;
  * (b) true_pairs is the hand-computable sum of per-user count products;
  * (c) under one-key skew the uniform estimate is off while the end-biased
  *     one stays exact — the reason end-biased histograms exist. */
class CardinalityAuditSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  // (event_type, user_id): type a has a hot user 1 (6 rows) plus two
  // singletons; type b is flat over users 1..3
  private def skewed = Seq(
    ("a", 1L), ("a", 1L), ("a", 1L), ("a", 1L), ("a", 1L), ("a", 1L),
    ("a", 2L), ("a", 3L),
    ("b", 1L), ("b", 2L), ("b", 3L)
  ).toDF("event_type", "user_id")

  test("heavy set covering all users makes est_hh exact; true_pairs is the product sum") {
    val r = Mlops.joinCardinalityAudit(skewed, hhK = 20).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[String]("ta") === "a" && row.getAs[String]("tb") === "b")
    // true = 6*1 + 1*1 + 1*1
    assert(row.getAs[Long]("true_pairs") === 8L)
    assert(row.getAs[Long]("est_hh") === 8L)
    assert(row.getAs[Long]("err_hh_e6") === 1000000L)
    // uniform: (8 * 3) div max(3, 3) = 8 — coincidentally exact here
    assert(row.getAs[Long]("est_uniform") === 8L)
  }

  test("hhK = 1 captures the hot key exactly and tails stay uniform") {
    val r = Mlops.joinCardinalityAudit(skewed, hhK = 1).collect().head
    // heavy set = union of per-type top-1 by (count desc, user asc) = {1}
    // exact part: 6*1 = 6; tails: a has n=2,d=2; b has n=2,d=2 -> 4 div 2 = 2
    assert(r.getAs[Long]("est_hh") === 8L)
    assert(r.getAs[Long]("true_pairs") === 8L)
  }

  test("uniform misses under disjoint-key skew; end-biased stays exact") {
    // a: hot user 10 (5 rows); b: 5 rows all on OTHER users -> true join = 0
    val df = (Seq.fill(5)(("a", 10L)) ++ (1L to 5L).map(u => ("b", u)))
      .toDF("event_type", "user_id")
    val r = Mlops.joinCardinalityAudit(df, hhK = 20).collect().head
    assert(r.getAs[Long]("true_pairs") === 0L)
    // uniform assumes containment: (5*5) div max(1,5) = 5 -> wrong
    assert(r.getAs[Long]("est_uniform") === 5L)
    // heavy set covers every user on both sides -> empty tails, exact 0
    assert(r.getAs[Long]("est_hh") === 0L)
    assert(r.isNullAt(r.fieldIndex("err_hh_e6")))
  }
}
