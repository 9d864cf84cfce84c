package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Gap fill: dense grid extent, zero fill, and longest-run census against
  * hand-computed ground truth. */
class GapFillSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private val H = 3600000000000L // nanos per hour

  test("hourlyGrid spans min..max per key and zero-fills missing hours") {
    // user 1: events in hours 10, 10, 13 -> grid 10..13 with n = 2,0,0,1
    // user 2: single event -> one-row grid
    val events = Seq(
      (1L, 10L * H + 5L), (1L, 10L * H + 99L), (1L, 13L * H),
      (2L, 7L * H + 1L)
    ).toDF("user_id", "ts")
    val grid = GapFill.hourlyGrid(events)
      .orderBy("user_id", "hour")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(grid === Array(
      (1L, 10L, 2L), (1L, 11L, 0L), (1L, 12L, 0L), (1L, 13L, 1L),
      (2L, 7L, 1L)))
  }

  test("gapCensus reports longest empty run, active hours, totals") {
    // user 1: hours 0,1,2,3,4,5 active at 0 and 5 -> max_gap 4
    // user 2: hours 0,2,3,6 active -> grid 0..6, gaps: [1], [4,5] -> max 2
    // user 3: dense, no gaps -> max_gap 0
    val events = Seq(
      (1L, 0L), (1L, 5L * H),
      (2L, 0L), (2L, 2L * H), (2L, 3L * H), (2L, 6L * H),
      (3L, 0L), (3L, 1L * H)
    ).toDF("user_id", "ts")
    val out = GapFill.gapCensus(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out === Array(
      (1L, 6L, 2L, 2L, 4L),
      (2L, 7L, 4L, 4L, 2L),
      (3L, 2L, 2L, 2L, 0L)))
  }
}
