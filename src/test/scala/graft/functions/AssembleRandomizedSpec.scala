package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Randomized (seeded, reproducible) model checks for the assembly
  * aggregates: random index sets — dense, gappy, duplicated, negative,
  * offset — shuffled into random partition counts so partial/merge paths
  * vary, compared against the plain-Scala reference model (sort). */
class AssembleRandomizedSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("assemble_series matches the sort model on random index sets") {
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 25) {
      val n = 1 + rnd.nextInt(400)
      val base = rnd.nextInt(1000).toLong - 200
      // dense with probability ~1/2, else random gaps and duplicates
      val ts: Seq[Long] =
        if (rnd.nextBoolean()) rnd.shuffle((0 until n).map(base + _.toLong))
        else Seq.fill(n)(base + rnd.nextInt(3 * n + 1).toLong)
      val vs = Seq.fill(n)(rnd.nextInt(10000) / 7.0)
      val model = ts.zip(vs).sortBy(_._1).map(_._2)
      val parts = 1 + rnd.nextInt(7)
      val got = ts.zip(vs).toDF("t", "v").repartition(parts)
        .groupBy(lit(1))
        .agg(SeriesAssembleFunctions.assembleSeries(spark, $"t", $"v").as("values"))
        .head().getSeq[Double](1)
      // duplicates make the order among equal-t values nondeterministic:
      // compare the sorted-by-t multiset per t instead of positions
      val gotByT = ts.sorted.zip(got).groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val modelByT = ts.zip(vs).groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      assert(gotByT == modelByT, s"trial $trial (n=$n, parts=$parts)")
      assert(got.length == model.length)
    }
  }

  test("assemble_timed matches the sort model on random triples") {
    val rnd = new scala.util.Random(77L)
    for (trial <- 0 until 25) {
      val n = 1 + rnd.nextInt(300)
      val rows = Seq.fill(n)((rnd.nextInt(50).toLong * 1000L,
        rnd.nextInt(20).toLong, rnd.nextInt(1000) / 3.0))
      val model = rows.sorted
      val parts = 1 + rnd.nextInt(7)
      val got = rows.toDF("ts", "id", "v").repartition(parts)
        .groupBy(lit(1))
        .agg(SeriesAssembleFunctions.assembleTimed(spark, $"ts", $"id", $"v").as("a"))
        .select($"a.values", $"a.ts")
        .head()
      val gotVs = got.getSeq[Double](0)
      val gotTs = got.getSeq[Long](1)
      assert(gotVs == model.map(_._3), s"trial $trial values (n=$n, parts=$parts)")
      assert(gotTs == model.map(_._1), s"trial $trial ts (n=$n, parts=$parts)")
    }
  }

  test("assemble_timed index quicksort matches the model at state-group scale") {
    // one big group with heavy ties on every key — drives the quicksort well
    // past the insertion-sort base case and through skewed partitions, and
    // uses epoch-nano-sized ts (the streaming domain the packed-long trick
    // would overflow on)
    val rnd = new scala.util.Random(42L)
    val n = 60000
    val base = 1700000000000000000L
    val rows = Seq.fill(n)((base + rnd.nextInt(500).toLong * 100000L,
      rnd.nextInt(40).toLong, rnd.nextInt(50) / 3.0))
    val model = rows.sorted
    val got = rows.toDF("ts", "id", "v").repartition(5)
      .groupBy(lit(1))
      .agg(SeriesAssembleFunctions.assembleTimed(spark, $"ts", $"id", $"v").as("a"))
      .select($"a.values", $"a.ts")
      .head()
    assert(got.getSeq[Double](0) == model.map(_._3))
    assert(got.getSeq[Long](1) == model.map(_._1))
  }

  // blocked-CAR reassembly feeds assemble_fragments fixed-size blocks at
  // offset block_idx * blockSize; with variable-length blocks placed at
  // idx * (max block length) most groups take the gappy cold path
  test("assemble_fragments concatenates blocks at idx x max-length offsets on random splits") {
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 25) {
      val nBlocks = 1 + rnd.nextInt(40)
      // variable-length blocks (the last segment block is short in real use)
      val blocks = (0 until nBlocks).map { i =>
        (i.toLong, Array.fill(1 + rnd.nextInt(20))(rnd.nextInt(1000) / 7.0))
      }
      val maxLen = blocks.map(_._2.length).max
      val model = blocks.sortBy(_._1).flatMap(_._2)
      val parts = 1 + rnd.nextInt(7)
      val got = rnd.shuffle(blocks).map { case (i, b) => (i * maxLen, b) }
        .toDF("off", "block").repartition(parts)
        .groupBy(lit(1))
        .agg(SeriesAssembleFunctions.assembleFragments(spark, $"off", $"block")
          .as("values"))
        .head().getSeq[Double](1)
      assert(got == model, s"trial $trial (nBlocks=$nBlocks, parts=$parts)")
    }
  }

  test("assemble_fragments survives gappy and offset block indices (cold path)") {
    val blocks = Seq((7L, Array(1.0, 2.0)), (3L, Array(3.0)), (12L, Array(4.0, 5.0)))
    val got = blocks.map { case (i, b) => (i * 2, b) }.toDF("off", "block")
      .groupBy(lit(1))
      .agg(SeriesAssembleFunctions.assembleFragments(spark, $"off", $"block")
        .as("values"))
      .head().getSeq[Double](1)
    assert(got == Seq(3.0, 1.0, 2.0, 4.0, 5.0))
  }
}
