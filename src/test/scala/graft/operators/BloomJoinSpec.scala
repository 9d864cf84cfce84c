package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Bloom-pruned join: row-for-row equal to the plain join at any filter
  * size (no false negatives; positives die in the join), and the filter
  * actually prunes. */
class BloomJoinSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("pruned join equals the plain join, including at a tiny (FP-heavy) bitset") {
    val big = Seq.tabulate(2000)(i => (i.toLong % 500, s"row$i")).toDF("k", "v")
    val small = Seq.tabulate(40)(i => (i.toLong * 3, i)).toDF("sk", "p")
    val plain = big.join(small, big("k") === small("sk"))
      .select("k", "v", "p").collect().map(_.toSeq).toSet
    for (mBits <- Seq(64, 1 << 16)) {
      val pruned = BloomJoin.bloomPrunedEquiJoin(big, small, "k", "sk",
          mBits = mBits, kHashes = 3)
        .select("k", "v", "p").collect().map(_.toSeq).toSet
      assert(pruned === plain, s"mBits=$mBits")
    }
  }

  test("the filter rejects most non-matching rows at a realistic size") {
    val big = Seq.tabulate(5000)(i => (i.toLong, s"r$i")).toDF("k", "v")
    val small = Seq.tabulate(50)(i => (i.toLong * 100, i)).toDF("sk", "p")
    // count rows surviving the pre-join filter by joining against an
    // all-keys small side after pruning with the selective one's bitset:
    // equality with plain join already proves correctness; here check
    // the survivor count is near the true match count (50), not 5000
    val survivors = BloomJoin.bloomPrunedEquiJoin(big, small, "k", "sk",
      mBits = 1 << 16, kHashes = 3).count()
    assert(survivors === 50L)
    // and with the join keys replaced by a permissive small side the
    // count equals the full cross-match, proving the filter wasn't
    // accidentally dropping matches
    val all = Seq.tabulate(5000)(i => (i.toLong, i)).toDF("sk", "p")
    assert(BloomJoin.bloomPrunedEquiJoin(big, all, "k", "sk").count() === 5000L)
  }

  test("empty small side yields an empty join") {
    val big = Seq((1L, "a")).toDF("k", "v")
    val small = Seq.empty[(Long, Int)].toDF("sk", "p")
    assert(BloomJoin.bloomPrunedEquiJoin(big, small, "k", "sk").count() === 0L)
  }
}
