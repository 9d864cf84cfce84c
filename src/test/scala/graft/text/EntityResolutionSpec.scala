package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching: pairs only inside blocks, edit-distance
  * threshold, and census bookkeeping against hand-computed truth. */
class EntityResolutionSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def df = Seq(
    ("b1", "red bolt"), ("b1", "rad bolt"), ("b1", "blue bolt"),
    ("b1", "red bolt"), // duplicate row: distinct-ed away
    ("b2", "gear"), ("b2", "gearx"),
    ("b3", "widget") // lone name: no pairs
  ).toDF("blk", "name")

  test("pairs form only within a block and respect the distance cap") {
    val pairs = EntityResolution.blockedFuzzyPairs(df, col("blk"), col("name"),
        maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSet
    // within b1: (rad bolt, red bolt) dist 1; (blue bolt, red bolt) dist 3 — out
    // within b2: (gear, gearx) dist 1. Nothing across blocks.
    assert(pairs === Set(("b1", "rad bolt", "red bolt", 1),
      ("b2", "gear", "gearx", 1)))
  }

  test("census counts names per block and zero-fills blocks without matches") {
    val out = EntityResolution.blockedFuzzyCensus(df, col("blk"), col("name"),
        maxDist = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out === Array(
      ("b1", 3L, 1L, 1L),
      ("b2", 2L, 1L, 1L),
      ("b3", 1L, 0L, -1L)))
  }
}
