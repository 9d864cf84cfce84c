package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the expectation suite: completeness under
  * nulls, predicate nulls counting as failures, uniqueness with duplicate
  * and null keys, and the exact-integer verdict boundary. */
class ExpectationsSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("metrics and verdicts are exact on a hand-computed frame") {
    // 8 rows: k has one dup pair (2,2) and one null; v null twice; s has
    // one out-of-set value.
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 1.0, "a"), (2L, 2.0, "a"), (2L, 3.0, "b"), (3L, null, "b"),
      (4L, 5.0, "a"), (5L, 6.0, "zz"), (null, null, "a"), (6L, 50.0, "b"))
      .toDF("k", "v", "s")

    val out = Expectations.verify(df, Seq(
        Expectations.Complete("complete_v", "v", 750000L),
        Expectations.Satisfies("s_in_set", "s IN ('a','b')", 1000000L),
        Expectations.Satisfies("v_small", "v <= 10.0", 625000L),
        Expectations.Unique("unique_k", "k", 700000L)))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap

    // completeness: 6/8 non-null = 0.75 -> passes at exactly 750000 (>=)
    assert(out("complete_v") == ((6L, 8L, 750000L, true)))
    // set conformance: 7/8 ("zz" fails) -> fails the all-rows bar
    assert(out("s_in_set") == ((7L, 8L, 1000000L, false)))
    // v <= 10: nulls fail the predicate -> 5/8 = 0.625, boundary pass
    assert(out("v_small") == ((5L, 8L, 625000L, true)))
    // uniqueness: values {1,3,4,5,6,null} occur once -> 6/8 = 0.75 >= 0.7
    assert(out("unique_k") == ((6L, 8L, 700000L, true)))
  }

  test("suite rejects duplicate rule names and empty rule lists") {
    val df = Seq((1L, "a")).toDF("k", "s")
    intercept[IllegalArgumentException] {
      Expectations.verify(df, Seq(
        Expectations.Complete("r", "k", 1L),
        Expectations.Complete("r", "s", 1L)))
    }
    intercept[IllegalArgumentException] {
      Expectations.verify(df, Seq.empty)
    }
  }

  test("suite rejects reserved and unresolvable rule names") {
    val df = Seq((1L, "a")).toDF("k", "s")
    // "_den" collides with the internal denominator aggregate column
    intercept[IllegalArgumentException] {
      Expectations.verify(df, Seq(Expectations.Complete("_den", "k", 1L)))
    }
    // a dot parses as a field path in the later col(name) reference
    intercept[IllegalArgumentException] {
      Expectations.verify(df, Seq(Expectations.Complete("a.b", "k", 1L)))
    }
    intercept[IllegalArgumentException] {
      Expectations.observed(df, Seq(Expectations.Satisfies("x y", "k > 0", 1L)))
    }
  }

  test("unique-only suite (no row-local rules) still reports") {
    val df = Seq(1L, 1L, 2L).toDF("k")
    val rows = Expectations.verify(df,
      Seq(Expectations.Unique("u", "k", 1000000L))).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 3L
      && !rows(0).getBoolean(4))
  }

  test("observed(): metrics ride the caller's action, report == verify") {
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (null, "b"), (4L, "zz"), (5L, "b"))
      .toDF("k", "s")
    val rules = Seq(
      Expectations.Complete("complete_k", "k", 800000L),
      Expectations.Satisfies("s_in_set", "s IN ('a','b')", 1000000L))
    val (instrumented, obs) = Expectations.observed(df, rules)
    // the metrics materialize as a side effect of THIS count — no 2nd scan
    assert(instrumented.count() == 5L)
    val got = Expectations.report(spark, obs, rules).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    val want = Expectations.verify(df, rules).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got.sameElements(want))
    val byRule = got.map(t => t._1 -> ((t._2, t._3, t._5))).toMap
    assert(byRule("complete_k") == ((4L, 5L, true)))
    assert(byRule("s_in_set") == ((4L, 5L, false)))
    // Unique rules are rejected on the observed path
    intercept[IllegalArgumentException] {
      Expectations.observed(df, Seq(Expectations.Unique("u", "k", 1L)))
    }
  }
}
