package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Product-quantization operator sanity: codebook shape/determinism, code
  * ranges, and the recall audit's census contract. Bit-level cross-engine
  * exactness is certified by the q350 driver oracle (full Lloyd + ADC
  * replay in SQL); this spec pins the operator-level invariants. */
class PqSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def corpus(n: Int, dim: Int) = {
    val r = new scala.util.Random(11)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)((r.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("codebooks: shape, finiteness, determinism") {
    val emb = corpus(120, 16)
    val b1 = Similarity.pqCodebooks(emb, m = 4, k = 8, iters = 2)
    val b2 = Similarity.pqCodebooks(emb, m = 4, k = 8, iters = 2)
    assert(b1.length == 4 && b1.forall(_.length == 8)
      && b1.forall(_.forall(_.length == 4)))
    val f1 = b1.flatMap(_.flatMap(_.toSeq))
    val f2 = b2.flatMap(_.flatMap(_.toSeq))
    assert(f1.forall(java.lang.Double.isFinite))
    assert(f1.sameElements(f2),
      "training must be deterministic (md5 seeding, fixed rounds)")
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(emb, m = 5, k = 8) // 16 % 5 != 0
    }
  }

  test("encode: m codes per vector, each within [0, k)") {
    val emb = corpus(80, 16)
    val books = Similarity.pqCodebooks(emb, m = 4, k = 8, iters = 1)
    val codes = Similarity.pqEncode(emb, books)
      .select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(_.length == 4))
    assert(codes.forall(_.forall(c => c >= 0 && c < 8)))
    // the quantizer must actually use more than one code per subspace on a
    // spread-out corpus
    assert(codes.map(_.head).distinct.length > 1)
  }

  test("native ADC kernels: hand values, null codes, codegen compiles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lut3 = Array(Array(Array(10L, 20L), Array(30L, 40L)),
      Array(Array(100L, 200L), Array(300L, 400L)))
    val lut2 = Array(Array(1L, 2L), Array(3L, 4L))
    val df = Seq((0, Seq(0, 1)), (1, Seq(1, 0)), (0, null),
        (0, Seq(0)), (1, Seq(0, 1, 1)))
      .toDF("qi", "codes")
    withConf("spark.sql.codegen.fallback" -> "false") {
      val got = df
        .withColumn("d", graft.functions.PqFunctions.adcDotE9(
          df, col("codes"), col("qi"), lut3))
        .withColumn("n", graft.functions.PqFunctions.adcNormE9(
          df, col("codes"), lut2))
        .collect().map(r => (
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      // qi=0 codes(0,1): 10 + 40 = 50; norms 1 + 4 = 5
      assert(got(0) == ((Some(50L), Some(5L))))
      // qi=1 codes(1,0): 200 + 300 = 500; norms 2 + 3 = 5
      assert(got(1) == ((Some(500L), Some(5L))))
      assert(got(2) == ((None, None)))
      // length-mismatched codes arrays (short would read past the ArrayData
      // end, long would silently drop trailing codes) -> NULL, mirroring
      // floor_dot_e9's unequal-length guard
      assert(got(3) == ((None, None)), "codes shorter than m must be NULL")
      assert(got(4) == ((None, None)), "codes longer than m must be NULL")
    }
  }

  test("adaptive IVF-PQ audit: census covers every query per margin, " +
      "scan cost grows with margin") {
    val emb = corpus(200, 16)
    val out = Similarity.ivfPqAdaptiveRecallAudit(emb, k = 5,
      params = Similarity.IvfParams(nCells = 8, iters = 1),
      margins = Seq(2, 10), m = 4, pqK = 8, pqIters = 1,
      shortlist = 10, nQueries = 10).collect()
    val byMargin = out.groupBy(_.getInt(0))
    assert(byMargin.keySet == Set(2, 10))
    // every margin's census covers all nQueries=10 queries
    byMargin.foreach { case (mg, rows) =>
      assert(rows.map(_.getLong(2)).sum == 10L, s"margin $mg census short")
      assert(rows.forall(r => r.getLong(1) >= 0L && r.getLong(1) <= 5L))
    }
    def scanned(mg: Int) = byMargin(mg).map(_.getLong(4)).sum
    assert(scanned(10) > scanned(2),
      "a larger margin must scan more candidate rows")
  }

  test("recall audit: census covers every query, recall bounded by k") {
    val emb = corpus(200, 16)
    val out = Similarity.pqRecallAudit(emb, m = 4, k = 8, iters = 2,
      topK = 5, nQueries = 10).collect()
    val nq = out.map(_.getLong(1)).sum
    assert(nq == 10L, s"nQueries = 10 fixed-count queries, got $nq")
    assert(out.forall { r =>
      val rec = r.getLong(0); rec >= 0L && rec <= 5L
    })
    // lossless corner: if every vector IS a codebook word (k >= distinct
    // vectors per subspace is guaranteed when the corpus has exactly 8
    // distinct vectors and k = 8 seeds cover them after dedup-by-md5),
    // ADC ranking must agree with the exact tier completely.
    val eight = (0 until 8).map(i =>
      (i.toLong, Seq.tabulate(16)(j => (((i * 7 + j) % 5) + 1).toFloat)))
    val dup = (0 until 64).map(i => (i.toLong, eight(i % 8)._2))
      .toDF("vec_id", "embedding")
    val audit = Similarity.pqRecallAudit(dup, m = 4, k = 8, iters = 2,
      topK = 3, nQueries = 4).collect()
    assert(audit.map(_.getLong(1)).sum == 4L)
    assert(audit.forall(_.getLong(0) == 3L),
      s"lossless corpus must give perfect recall, got ${audit.mkString(",")}")
  }
}
