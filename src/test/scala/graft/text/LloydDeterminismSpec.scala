package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** The order-invariance law for the embedding-family Lloyd trainers: the
  * centroid/codebook moments accumulate on the e9 integer grid (long sums),
  * so the result is BIT-IDENTICAL no matter how the input is partitioned or
  * in what order partial aggregates merge. This is the law that makes the
  * r15 q377 flakiness class unrepresentable: a plain double-sum update is
  * merge-order-dependent (task completion order varies run to run and host
  * to host), and every hash oracle in the IVF/PQ/SemDeDup family
  * (q52/q108/q307/q315/q340/q350/q352/q362/q373-q379) rests on the trained
  * centroids being a pure function of the data. Bitwise comparison via
  * doubleToRawLongBits — "close" is exactly the failure mode being banned. */
class LloydDeterminismSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def corpus(n: Int, dim: Int, seed: Int = 7) = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)((r.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def bits(c: Array[Array[Double]]): Seq[Long] =
    c.flatMap(_.map(java.lang.Double.doubleToRawLongBits)).toSeq

  test("kmeansCentroids: bit-identical across input partitionings") {
    val emb = corpus(600, 12)
    val layouts = Seq(emb.repartition(7), emb.repartition(13),
      emb.coalesce(1), emb.repartition(31, $"vec_id" % 5))
    val runs = layouts.map(df =>
      bits(Similarity.kmeansCentroids(df, k = 8, iters = 2)))
    assert(runs.tail.forall(_ == runs.head),
      "centroids must be bitwise identical under any partitioning " +
        "(merge-order-free long-moment accumulation)")
  }

  test("pqCodebooks: bit-identical across input partitionings") {
    val emb = corpus(400, 16, seed = 23)
    val layouts = Seq(emb.repartition(7), emb.repartition(13), emb.coalesce(1))
    val runs = layouts.map { df =>
      Similarity.pqCodebooks(df, m = 4, k = 8, iters = 2)
        .flatMap(_.flatMap(_.map(java.lang.Double.doubleToRawLongBits))).toSeq
    }
    assert(runs.tail.forall(_ == runs.head),
      "codebooks must be bitwise identical under any partitioning")
  }

  test("kmeansCentroids: bit-identical across shuffle-partition counts") {
    val emb = corpus(500, 8, seed = 41)
    def withParts(p: Int): Seq[Long] =
      withConf("spark.sql.shuffle.partitions" -> p.toString)(
        bits(Similarity.kmeansCentroids(emb.repartition(11), k = 6, iters = 2)))
    val a = withParts(2); val b = withParts(17); val c = withParts(32)
    assert(a == b && b == c,
      "centroids must not depend on the aggregate's shuffle width")
  }
}
