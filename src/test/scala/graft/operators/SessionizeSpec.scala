package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the capped-sessionization fold: gap splits,
  * cap splits (clock restarts at the first event past the cap — NOT
  * aligned buckets), strict boundaries, single-event keys. */
class SessionizeSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def run(rows: Seq[(Long, Long, Long)], gap: Long, cap: Long) =
    Sessionize.cappedSessionStats(
        rows.toDF("user_id", "ts", "event_id"),
        "user_id", "ts", "event_id", gap, cap)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  test("gap split, cap split, and boundary-exact events") {
    val rows = Seq[(Long, Long, Long)](
      // user 1: three close events then a 75-gap -> 2 sessions, gap split
      (1L, 0L, 1L), (1L, 10L, 2L), (1L, 25L, 3L), (1L, 100L, 4L),
      // user 2: steady 15-cadence crosses the 50 cap at t=60 -> cap split
      (2L, 0L, 1L), (2L, 15L, 2L), (2L, 30L, 3L), (2L, 45L, 4L),
      (2L, 60L, 5L), (2L, 75L, 6L),
      // user 3: single event
      (3L, 7L, 1L),
      // user 4: exactly-at-boundary gap (20) and duration (50) stay merged
      (4L, 0L, 1L), (4L, 20L, 2L), (4L, 40L, 3L), (4L, 50L, 4L))
    val out = run(rows, gap = 20L, cap = 50L)
    assert(out(1L) == ((4L, 2L, 0L, 3L)), s"user 1: ${out(1L)}")
    assert(out(2L) == ((6L, 2L, 1L, 4L)), s"user 2: ${out(2L)}")
    assert(out(3L) == ((1L, 1L, 0L, 1L)), s"user 3: ${out(3L)}")
    assert(out(4L) == ((4L, 1L, 0L, 4L)), s"user 4: ${out(4L)}")
  }

  test("cap clock restarts at the first event past it (not aligned buckets)") {
    // cap=50: events 0,40,80,120 with gap=100 -> splits at 80 (dur 80>50),
    // then 120 is dur 40 from the NEW start 80 -> same session. An
    // aligned-bucket split (0-50,50-100,100-150) would cut 120 from 80.
    val rows = Seq[(Long, Long, Long)](
      (1L, 0L, 1L), (1L, 40L, 2L), (1L, 80L, 3L), (1L, 120L, 4L))
    val out = run(rows, gap = 100L, cap = 50L)
    assert(out(1L) == ((4L, 2L, 1L, 2L)), s"got ${out(1L)}")
  }

  test("timestamp ties break on the order column deterministically") {
    val rows = Seq[(Long, Long, Long)](
      (1L, 0L, 2L), (1L, 0L, 1L), (1L, 30L, 3L))
    val out = run(rows, gap = 20L, cap = 100L)
    assert(out(1L) == ((3L, 2L, 0L, 2L)), s"got ${out(1L)}")
  }
}
