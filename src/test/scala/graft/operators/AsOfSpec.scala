package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** As-of join composition: hand-computed matches, no-match nulls, equal-ts
  * tie policy (right row at the left's exact ts matches), tie-break among
  * equal right ord values, and partition invariance. */
class AsOfSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("asOfJoin matches the latest right row at or before each left row") {
    val clicks = Seq(
      (100L, 1L, 50L),  // after views at 10, 40 -> matches 40
      (101L, 1L, 40L),  // exactly AT view 40 -> matches 40 (<= policy)
      (102L, 1L, 5L),   // before any view -> null
      (103L, 2L, 99L),  // user 2 has no views -> null
      (104L, 3L, 10L)   // user 3: view at 10 -> matches
    ).toDF("event_id", "user_id", "ts")
    val views = Seq(
      (200L, 1L, 10L), (201L, 1L, 40L), (202L, 3L, 10L)
    ).toDF("event_id", "user_id", "ts")

    val out = AsOf.asOfJoin(clicks, views, keys = Seq("user_id"),
        ordCol = "ts", tieCol = "event_id", rightPayload = Seq("event_id", "ts"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))

    assert(out === Array(
      (100L, Some(201L)), (101L, Some(201L)), (102L, None),
      (103L, None), (104L, Some(202L))))
  }

  test("asOfJoin ties among equal right ord values resolve to the max tie column") {
    val left = Seq((1L, 1L, 100L)).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 1L, 50L), (11L, 1L, 50L), (9L, 1L, 50L))
      .toDF("event_id", "user_id", "ts")
    val m = AsOf.asOfJoin(left, right, Seq("user_id"), "ts", "event_id",
      Seq("event_id")).collect().head
    assert(m.getLong(3) === 11L, "last-in-(ord, tie)-order right row must win")
  }

  test("asOfJoin is partition invariant") {
    val rnd = new scala.util.Random(7)
    val left = (0 until 500).map(i =>
      (i.toLong, (i % 7).toLong, rnd.nextInt(10000).toLong))
      .toDF("event_id", "user_id", "ts")
    val right = (1000 until 1300).map(i =>
      (i.toLong, (i % 7).toLong, rnd.nextInt(10000).toLong))
      .toDF("event_id", "user_id", "ts")
    def run(lp: Int, rp: Int) =
      AsOf.asOfJoin(left.repartition(lp), right.repartition(rp),
        Seq("user_id"), "ts", "event_id", Seq("event_id", "ts"))
        .orderBy("event_id")
        .collect().map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(4))))
        .toSeq
    assert(run(1, 1) === run(5, 3))
  }
}
