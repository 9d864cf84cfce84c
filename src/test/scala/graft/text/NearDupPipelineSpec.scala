package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** The COMPOSED near-dup pipeline (shingle -> MinHash -> LSH -> CC ->
  * qualityKeeper -> exact dedup) against planted ground truth, via the same
  * runner the 20 M-doc NearDupMegaSoak drives — every census invariant
  * (skew-cap hits, zero false pairs, cluster sizes, argmax keepers, final
  * count) asserted exactly, on BOTH CC tiers. The individual stages each
  * have their own specs; this certifies their composition. */
class NearDupPipelineSpec extends AnyFunSuite with graft.SessionSuite {

  private val nUnique = 2000L
  private val nClusters = 150L
  private val clusterSize = 4
  private val floodSize = 60L
  private val maxBucketSize = 40

  test("composed pipeline census matches the planted layout (union-find CC tier)") {
    val c = NearDupMegaSoak.run(spark, nUnique, nClusters, clusterSize,
      floodSize, maxBucketSize)
    // 150 x 4 clusters -> 900 planted pairs, well under the 2 M cap
    NearDupMegaSoak.check(c, nUnique, nClusters, clusterSize, floodSize, maxBucketSize)
    assert(c.edges <= 2000000L)
  }

  test("composed pipeline census matches on the distributed CC tier (cap=0)") {
    withConf(TextOps.CcLocalEdgeCapKey -> "0") {
      val c = NearDupMegaSoak.run(spark, nUnique, nClusters, clusterSize,
        floodSize, maxBucketSize)
      NearDupMegaSoak.check(c, nUnique, nClusters, clusterSize, floodSize, maxBucketSize)
    }
  }

  test("flood smaller than the bucket cap yields zero capped buckets and pairs survive") {
    // flood of 10 identical docs under a cap of 40: the 8 flood buckets are
    // NOT capped, so the flood becomes one 10-clique component — the census
    // shape changes accordingly (this pins what the cap is protecting)
    val small = 10L
    val c = NearDupMegaSoak.run(spark, 500L, 20L, clusterSize, small, maxBucketSize)
    assert(c.cappedBuckets === 0L)
    // the flood collapses to ONE cluster of 10: full-size clusters still 20,
    // singletons are just the uniques, one extra size-10 component
    assert(c.clustersFull === 20L)
    assert(c.singletons === 500L)
    assert(c.otherSizes === 1L)
    // keeper: one per planted cluster, one for the flood, one per unique
    assert(c.kept === 500L + 20L + 1L)
    assert(c.keeperMismatches === 0L)
    // exact dedup after near-dup keeper: flood already collapsed to 1
    assert(c.afterExactDedup === 500L + 20L + 1L)
  }
}
