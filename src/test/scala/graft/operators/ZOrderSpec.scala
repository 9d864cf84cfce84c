package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Z-order: the Morton key interleaves bits exactly, the expression stays
  * pure codegen (no UDF), and the layout actually clusters both dims —
  * per-partition bounding boxes shrink vs the unclustered layout. */
class ZOrderSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  /** Reference interleave on the driver. */
  private def morton(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("zValue matches the reference interleave on exhaustive 6-bit pairs") {
    val pairs = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val out = pairs.toDF("x", "y")
      .withColumn("z", ZOrder.zValue(col("x"), col("y"), bits = 6))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case (x, y) =>
      assert(out((x, y)) === morton(x, y, 6), s"($x, $y)")
    }
  }

  test("known corners: z(1,0)=1, z(0,1)=2, z(3,3)=15, z(255,255)=65535") {
    val out = Seq((1L, 0L), (0L, 1L), (3L, 3L), (255L, 255L)).toDF("x", "y")
      .withColumn("z", ZOrder.zValue(col("x"), col("y"), bits = 8))
      .collect().map(_.getLong(2)).toSeq
    assert(out === Seq(1L, 2L, 15L, 65535L))
  }

  test("zValue plan is pure codegen: no UDF, no shuffle") {
    val df = Seq((1L, 2L)).toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"), 16).as("z"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"expected native expression:\n$plan")
    assert(!plan.contains("Exchange"), s"narrow map only:\n$plan")
  }

  test("layoutByZ shrinks per-partition bounding boxes in BOTH dims") {
    // 64x64 grid, shuffled arrival order
    val rows = scala.util.Random.shuffle(
      (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toVector)
    val df = rows.toDF("x", "y")
    val laid = ZOrder.layoutByZ(df, col("x"), col("y"), bits = 6,
      partitions = 16)
    val spans = laid
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.length === 16)
    // 16 partitions of a 64x64 z-curve = 4096/256-cell tiles: each covers
    // a 16x16 region, so both spans must be far below the 63 global span
    val (avgSx, avgSy) = (spans.map(_._1).sum / 16.0, spans.map(_._2).sum / 16.0)
    assert(avgSx <= 24.0, s"x spans too wide: ${spans.mkString(",")}")
    assert(avgSy <= 24.0, s"y spans too wide: ${spans.mkString(",")}")
    // and the layout is a permutation, nothing lost
    assert(laid.count() === 4096L)
  }
}
