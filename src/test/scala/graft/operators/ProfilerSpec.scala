package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Profiler: orphan accounting and per-column stats against hand-built
  * frames with known nulls/dupes/orphans. */
class ProfilerSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("fkAudit counts orphans per relationship") {
    val child = Seq(1L, 1L, 2L, 3L, 9L, 9L).toDF("k")
    val parent = Seq(1L, 2L, 3L, 4L).toDF("pk")
    val clean = Seq(1L, 2L).toDF("k")
    val out = Profiler.fkAudit(Seq(
        ("bad", child, "k", parent, "pk"),
        ("clean", clean, "k", parent, "pk")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out === Array(
      ("bad", 6L, 2L, math.rint(2.0 / 6.0 * 1e6) / 1e6),
      ("clean", 2L, 0L, 0.0)))
  }

  test("profile reports rows, nulls, distincts, min/max on the long grid") {
    val df = Seq(
      (Some(5L), "ab", 1.25), (Some(5L), "abc", -0.5),
      (None, "a", 0.0), (Some(7L), "ab", 1.25)
    ).toDF("x", "s", "v")
    val out = Profiler.profile(df, Seq(
        "s_len" -> length(col("s")),
        "v_milli" -> floor(col("v") * 1000),
        "x" -> col("x")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out(0) === (("s_len", 4L, 0L, 3L, 1L, 3L)))
    assert(out(1) === (("v_milli", 4L, 0L, 3L, -500L, 1250L)))
    assert(out(2) === (("x", 4L, 1L, 2L, 5L, 7L)))
  }
}
