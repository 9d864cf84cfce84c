package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Degenerate inputs for the round-10 operator family: empty frames,
  * all-tombstone logs, lone categories, disjoint sketches, all-null
  * columns — every operator must return a well-formed (often empty)
  * result, never throw or emit NaN rows. */
class DegenerateInputsSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._
  import graft.text.{Curation, Sketches, EntityResolution}

  test("bm25Rank: empty corpus and no-hit corpus both yield empty results") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Curation.bm25Rank(empty, Seq("join")).count() === 0L)
    val noHit = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
    assert(Curation.bm25Rank(noHit, Seq("join", "hash")).count() === 0L)
  }

  test("splitAssign on an empty frame is empty; GapFill on empty is empty") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Curation.splitAssign(empty, Seq("a" -> 1.0)).count() === 0L)
    val noEvents = Seq.empty[(Long, Long)].toDF("user_id", "ts")
    assert(GapFill.gapCensus(noEvents).count() === 0L)
  }

  test("compactLatest: empty log and all-tombstone log both compact to empty") {
    val emptyLog = Seq.empty[(Long, Long, String, Double)].toDF("k", "seq", "op", "v")
    assert(Compaction.compactLatest(emptyLog, Seq("k"), Seq("seq"),
      Seq("op", "v"), col("last.op") === "del").count() === 0L)
    val allDel = Seq((1L, 1L, "del", 0.0), (2L, 5L, "del", 0.0))
      .toDF("k", "seq", "op", "v")
    assert(Compaction.compactLatest(allDel, Seq("k"), Seq("seq"),
      Seq("op", "v"), col("last.op") === "del").count() === 0L)
  }

  test("chiSquare: a single category in either dimension gives dof 0 and chi2 0") {
    val oneRow = Seq(("a", 1), ("a", 2), ("a", 2)).toDF("x", "y")
    val out = Contingency.chiSquare(oneRow, col("x"), col("y")).collect().head
    assert(out.getLong(3) === 0L) // dof = (1-1)*(2-1)
    assert(out.getDouble(4) === 0.0)
  }

  test("chiSquare counts a NULL category in dims/dof consistently with the statistic") {
    // b: {1, null} -> 2 columns; a: {x, y} -> 2 rows; dof must be 1
    val df = Seq(("x", Some(1)), ("x", None), ("y", Some(1)), ("y", None))
      .toDF("a", "b")
    val out = Contingency.chiSquare(df, col("a"), col("b")).collect().head
    assert(out.getLong(0) === 4L)
    assert(out.getLong(1) === 2L && out.getLong(2) === 2L)
    assert(out.getLong(3) === 1L)
    assert(out.getDouble(4) === 0.0) // perfectly balanced
  }

  test("compactLatest keeps a key whose tombstone predicate is NULL") {
    val log = Seq((1L, 1L, Option.empty[String], 5.0),
      (2L, 1L, Some("del"), 0.0)).toDF("k", "seq", "op", "v")
    val out = Compaction.compactLatest(log, Seq("k"), Seq("seq"),
        Seq("op", "v"), col("last.op") === "del")
      .select("k").collect().map(_.getLong(0))
    assert(out === Array(1L)) // null op survives; real tombstone drops
  }

  test("hllDistinctEstimate on empty input estimates zero") {
    val empty = Seq.empty[String].toDF("item")
    val out = Sketches.hllDistinctEstimate(empty).collect().head
    assert(out.getLong(0) === 256L) // all buckets zero
    assert(out.getDouble(2) === 0.0) // linear counting: 256 ln(256/256)
  }

  test("kmvIntersectEstimate on disjoint sets reports zero intersection") {
    val a = (0 until 500).map(i => s"a_$i").toDF("item")
    val b = (0 until 500).map(i => s"b_$i").toDF("item")
    val out = Sketches.kmvIntersectEstimate(a, b, k = 128).collect().head
    assert(out.getLong(2) === 0L)
    assert(out.getDouble(4) === 0.0)
  }

  test("featureHashCensus on empty docs is empty") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Sketches.featureHashCensus(empty).count() === 0L)
  }

  test("bloomPrunedEquiJoin drops null big-side keys like the plain inner join") {
    val big = Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c")).toDF("k", "v")
    val small = Seq((1L, 10), (2L, 20)).toDF("sk", "p")
    val out = BloomJoin.bloomPrunedEquiJoin(big, small, "k", "sk")
      .select("v").collect().map(_.getString(0)).sorted
    assert(out === Array("a", "c"))
  }

  test("liftPairs: single-item baskets and empty input produce no pairs") {
    val singles = Seq((1L, "x"), (2L, "y")).toDF("b", "i")
    assert(Association.liftPairs(singles, col("b"), col("i"), 1L, 10)
      .count() === 0L)
    val empty = Seq.empty[(Long, String)].toDF("b", "i")
    assert(Association.liftPairs(empty, col("b"), col("i"), 1L, 10)
      .count() === 0L)
  }

  test("blockedFuzzyPairs with maxDist 0 finds only exact duplicates") {
    val df = Seq(("b", "same"), ("b", "same2"), ("b", "samex"))
      .toDF("blk", "name")
    assert(EntityResolution.blockedFuzzyPairs(df, col("blk"), col("name"), 0)
      .count() === 0L)
    // distinct names: no zero-distance pairs exist by construction
    val census = EntityResolution.blockedFuzzyCensus(df, col("blk"),
      col("name"), 0).collect().head
    assert(census.getLong(1) === 3L && census.getLong(2) === 0L &&
      census.getLong(3) === -1L)
  }

  test("profile of an all-null column reports zero distincts and null bounds") {
    val df = Seq[(Option[Long], Long)]((None, 1L), (None, 2L)).toDF("x", "y")
    val row = Profiler.profile(df, Seq("x" -> col("x"))).collect().head
    assert(row.getLong(1) === 2L && row.getLong(2) === 2L &&
      row.getLong(3) === 0L)
    assert(row.isNullAt(4) && row.isNullAt(5))
  }
}
