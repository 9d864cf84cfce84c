package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Compaction: latest-wins per key, tombstone drops, version counting,
  * and the plan stays a single aggregate (no window sort). */
class CompactionSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def log =
    Seq(
      (1L, 10L, 1L, "set", 1.0), (1L, 20L, 2L, "set", 2.0),
      (1L, 20L, 3L, "set", 3.0), // same ts: higher seq wins
      (2L, 10L, 4L, "set", 9.0), (2L, 30L, 5L, "del", 0.0), // tombstoned
      (3L, 5L, 6L, "del", 0.0), (3L, 9L, 7L, "set", 7.0) // revived
    ).toDF("k", "ts", "seq", "op", "v")

  test("latest version wins, tombstoned keys drop, revived keys survive") {
    val out = Compaction.compactLatest(log, Seq("k"), Seq("ts", "seq"),
        Seq("op", "v"), tombstone = col("last.op") === "del")
      .select(col("k"), col("last.ts"), col("last.seq"), col("last.v"),
        col("n_versions"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(out === Array((1L, 20L, 3L, 3.0, 3L), (3L, 9L, 7L, 7.0, 2L)))
  }

  test("the plan is one aggregate — no Window/Sort of the version history") {
    val plan = Compaction.compactLatest(log, Seq("k"), Seq("ts", "seq"),
        Seq("op", "v"), tombstone = col("last.op") === "del")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window sort expected:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"expected aggregate compaction:\n$plan")
  }

  test("scdType2: intervals chain per key, ties break on the tie column, latest is open") {
    val out = Compaction.scdType2(log, Seq("k"), "ts", "seq", Seq("v"))
      .select(col("k"), col("valid_from"), col("valid_to"), col("v"),
        col("is_current"))
      .orderBy(col("k"), col("valid_from"), col("seq"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(out === Array(
      (1L, 10L, 20L, 1.0, 0), (1L, 20L, 20L, 2.0, 0), (1L, 20L, -1L, 3.0, 1),
      (2L, 10L, 30L, 9.0, 0), (2L, 30L, -1L, 0.0, 1),
      (3L, 5L, 9L, 0.0, 0), (3L, 9L, -1L, 7.0, 1)))
  }

  test("scdType2: exactly one open interval per key, intervals cover first..last") {
    val iv = Compaction.scdType2(log, Seq("k"), "ts", "seq", Seq("v"))
    val opens = iv.groupBy("k").agg(sum("is_current").as("n_open"))
      .collect().map(_.getLong(1))
    assert(opens.forall(_ === 1L))
  }

  test("mergeUpsert: all four actions, delete of an absent key is a no-op") {
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val delta = Seq(
      (2L, 22.0, false), // update
      (3L, 0.0, true),   // delete existing
      (4L, 44.0, false), // insert
      (5L, 0.0, true)    // delete absent -> no row either way
    ).toDF("k", "v", "is_del")
    val out = Compaction.mergeUpsert(snap, delta, Seq("k"),
        isDelete = col("is_del"), payload = Seq("v"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out === Array((1L, 10.0, "kept"), (2L, 22.0, "updated"),
      (4L, 44.0, "inserted")))
  }

  test("mergeUpsert: a NULL delete flag means upsert, not delete") {
    val snap = Seq((1L, 10.0)).toDF("k", "v")
    val delta = Seq((1L, 11.0, null.asInstanceOf[java.lang.Boolean]))
      .toDF("k", "v", "is_del")
    val out = Compaction.mergeUpsert(snap, delta, Seq("k"),
        col("is_del"), Seq("v")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out === Array((1L, 11.0, "updated")))
  }

  test("result is partition-layout invariant") {
    val a = Compaction.compactLatest(log.repartition(1), Seq("k"),
        Seq("ts", "seq"), Seq("op", "v"), col("last.op") === "del")
      .orderBy("k").collect().map(_.toSeq)
    val b = Compaction.compactLatest(log.repartition(7), Seq("k"),
        Seq("ts", "seq"), Seq("op", "v"), col("last.op") === "del")
      .orderBy("k").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }
}
