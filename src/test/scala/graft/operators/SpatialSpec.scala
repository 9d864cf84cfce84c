package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Losslessness + exactness invariants for the grid-bucketed spatial
  * neighbor join (q216's operator): the 3x3 cell probe must reproduce the
  * naive all-pairs answer whenever radius <= cell size, emit each pair
  * exactly once, and carry exact integer squared distances. */
class SpatialSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def bruteForce(pts: Seq[(Long, Long, Long)], r: Long): Set[(Long, Long, Long)] =
    (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts
      if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= r * r
    } yield (ia, ib, d2)).toSet

  test("grid probe equals brute force on a deterministic scatter (incl. cell-boundary pairs)") {
    // hash-scattered points plus planted adversarial cases: a pair straddling
    // a cell border at exactly radius distance, a same-cell tight pair, and a
    // corner-diagonal pair one unit inside the radius
    val scattered = (1L to 200L).map { i =>
      (i, (i * 2654435761L) % 1000L, (i * 40503L * 65537L) % 1000L)
    }
    val planted = Seq(
      (1001L, 99L, 50L), (1002L, 101L, 50L),   // straddles x=100 cell border
      (1003L, 250L, 250L), (1004L, 250L, 251L), // same cell, d=1
      (1005L, 399L, 399L), (1006L, 403L, 402L)  // diagonal, d2=25 = r2 at r=5... keep r=30
    )
    val pts = scattered ++ planted
    val df = pts.toDF("id", "x", "y")
    val got = Spatial.gridNeighborPairs(df, cellSize = 100L, radius = 30L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === bruteForce(pts, 30L))
  }

  test("each qualifying pair is emitted exactly once") {
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L), (3L, 6L, 8L)).toDF("id", "x", "y")
    val rows = Spatial.gridNeighborPairs(pts, cellSize = 10L, radius = 10L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.size === rows.distinct.size)
    assert(rows.toSet === Set((1L, 2L, 25L), (1L, 3L, 100L), (2L, 3L, 25L)))
  }

  test("negative coordinates stay lossless under truncating integer division") {
    val pts = Seq((1L, -1L, -1L), (2L, 1L, 1L), (3L, -95L, -95L)).toDF("id", "x", "y")
    val got = Spatial.gridNeighborPairs(pts, cellSize = 100L, radius = 50L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === bruteForce(Seq((1L, -1L, -1L), (2L, 1L, 1L), (3L, -95L, -95L)), 50L))
  }

  test("gridDensityClusters: cell outside the label encoding range fails loudly") {
    // cy = 2000 >= labelPitch 1024 would alias into another cell's label;
    // the distributed guard must fail the job instead
    val pts = Seq((1L, 5L, 20000L), (2L, 6L, 20001L)).toDF("id", "x", "y")
    val ex = intercept[Exception] {
      Spatial.gridDensityClusters(pts, cellSize = 10L, minPts = 2L, rounds = 2)
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("outside the label encoding"))))
  }

  test("gridDensityClusters: two separated blobs get two labels, sparse cells drop, a snake chain unifies") {
    // blob A: cells (0,0),(0,1),(1,1) each with 2 points; blob B: cell (5,5)
    // with 3 points; a 4-cell diagonal-adjacent snake (8,0)..(8,3) tests
    // propagation depth; cell (3,3) has ONE point -> not dense
    def cellPts(cx: Long, cy: Long, n: Int, base: Long) =
      (0 until n).map(i => (base + i, cx * 10 + i, cy * 10 + i))
    val pts = cellPts(0, 0, 2, 100) ++ cellPts(0, 1, 2, 200) ++
      cellPts(1, 1, 2, 300) ++ cellPts(5, 5, 3, 400) ++
      cellPts(3, 3, 1, 500) ++
      cellPts(8, 0, 2, 600) ++ cellPts(8, 1, 2, 700) ++
      cellPts(8, 2, 2, 800) ++ cellPts(8, 3, 2, 900)
    val df = pts.toDF("id", "x", "y")
    val out = Spatial.gridDensityClusters(df, cellSize = 10L, minPts = 2L, rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(!out.contains((3L, 3L)))                  // sparse cell dropped
    assert(out((5L, 5L)) === ((3L, 5L * 1024 + 5)))  // singleton component
    val blobA = Seq((0L, 0L), (0L, 1L), (1L, 1L)).map(c => out(c)._2)
    assert(blobA.distinct === Seq(0L))               // min cell (0,0) labels all
    val snake = Seq((8L, 0L), (8L, 1L), (8L, 2L), (8L, 3L)).map(c => out(c)._2)
    assert(snake.distinct === Seq(8L * 1024))        // unified in <= 6 rounds
    assert(out((0L, 0L))._1 === 2L)                  // n_points carried through
  }

  test("lloydIterations: centroids land on planted blob means; empty cluster keeps its seed") {
    // blob A around (10, 10): points 8..12; blob B around (100, 100);
    // seed 2 starts at (1000, 1000) with no points anywhere near AFTER the
    // first assignment pulls everything to seeds 0/1 -> stays put
    val pts = (Seq((1L, 8L, 10L), (2L, 12L, 10L), (3L, 10L, 8L), (4L, 10L, 12L)) ++
      Seq((5L, 98L, 100L), (6L, 102L, 100L), (7L, 100L, 98L), (8L, 100L, 102L)))
      .toDF("id", "x", "y")
    val out = Spatial.lloydIterations(pts,
        seeds = Seq((0L, 0L), (90L, 90L), (1000L, 1000L)), iters = 3)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0) === ((10L, 10L, 4L, 16L)))     // blob A mean, wcss = 4 * 2^2
    assert(out(1) === ((100L, 100L, 4L, 16L)))   // blob B mean
    assert(out(2) === ((1000L, 1000L, 0L, 0L)))  // empty cluster: seed kept
  }

  test("radius > cellSize is rejected (the probe would be lossy)") {
    val pts = Seq((1L, 0L, 0L)).toDF("id", "x", "y")
    intercept[IllegalArgumentException] {
      Spatial.gridNeighborPairs(pts, cellSize = 10L, radius = 11L)
    }
  }
}
