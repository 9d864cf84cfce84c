package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins `minhashCandidatesIncremental`'s contract: the incremental result
  * over (corpus at rest, new batch) equals the BATCH operator over the
  * union restricted to pairs touching the new batch — same skew cap on
  * combined bucket occupancy, same estimate, same threshold. Uses the
  * mega-soak's planted corpus generator so ground truth is known by
  * construction. */
class IncrementalDedupSpec extends AnyFunSuite with graft.SessionSuite {

  private val nClusters = 40L

  // 300 uniques + 40 x 4 planted clusters + a 70-doc exact-dup flood that
  // EXCEEDS the cap; split by id parity, so every planted cluster holds 2
  // new (variants 0, 2) and 2 corpus (variants 1, 3) members and the flood
  // straddles both sides
  private lazy val docs = NearDupMegaSoak.corpus(spark, 300L, nClusters, 4, 70L)
  private def side(newSide: Boolean) =
    docs.filter(if (newSide) col("doc_id") % 2 === 0 else col("doc_id") % 2 =!= 0)

  private lazy val corpusSigs = {
    import graft.operators.Checkpoints.Pinnable
    TextOps.minhashSignatures(side(newSide = false)).pin
  }
  private lazy val newSigs = {
    import graft.operators.Checkpoints.Pinnable
    TextOps.minhashSignatures(side(newSide = true)).pin
  }

  test("incremental == batch-over-union restricted to new-touching pairs") {
    import graft.operators.Checkpoints.Pinnable
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // corpus and batch partition the doc table exactly, so the batch
    // operator over ALL docs' signatures is the union reference (also
    // sidesteps a Catalyst constraint-rewrite bug when unioning two
    // localCheckpoint-pinned frames that share scan lineage)
    val inc = pairs(TextOps.minhashCandidatesIncremental(corpusSigs, newSigs))
    val batch = pairs(
      TextOps.minhashCandidates(TextOps.minhashSignatures(docs).pin)
        .filter(col("doc_a") % 2 === 0 || col("doc_b") % 2 === 0))
    assert(inc.nonEmpty && inc === batch,
      "incremental and restricted-batch pair sets must be identical")
  }

  test("planted clusters: every pair except the corpus-corpus one surfaces") {
    val inc = TextOps.minhashCandidatesIncremental(corpusSigs, newSigs)
      .filter(col("doc_a") >= NearDupMegaSoak.ClusterBase).collect()
    // per 4-cluster (variants 0,2 new; 1,3 corpus): 6 pairs minus the
    // (1,3) corpus-corpus pair = 5; the flood is capped away entirely
    assert(inc.length === nClusters * 5)
    assert(inc.forall(r => r.getLong(0) < NearDupMegaSoak.FloodBase &&
      r.getLong(1) < NearDupMegaSoak.FloodBase), "capped flood must emit no pairs")
    assert(inc.forall(r => r.getLong(0) % 2 == 0 || r.getLong(1) % 2 == 0),
      "every pair must touch the new batch")
    // estimates are high for true near-dups (J ~ 0.95+ by construction)
    assert(inc.forall(_.getDouble(2) >= 0.5))
  }

  test("sparse batch architecture == dense: minhashCandidatesAtScale parity") {
    import graft.operators.Checkpoints.Pinnable
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sigs = TextOps.minhashSignatures(docs).pin
    val dense = pairs(TextOps.minhashCandidates(sigs))
    val sparse = pairs(TextOps.minhashCandidatesAtScale(sigs))
    assert(dense.nonEmpty && sparse === dense)
  }

  test("stored-bucket-table variant == derived incremental") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // "ingest" writes the corpus bucket table once; the batch joins it at
    // rest instead of re-deriving buckets from the signature store
    val store = java.nio.file.Files.createTempDirectory("bucket_store")
    graft.streaming.StreamingOps.deleteOnExit(store)
    TextOps.bandBuckets(corpusSigs)
      .write.mode("overwrite").parquet(store.toString)
    val stored = pairs(TextOps.minhashCandidatesIncrementalStored(
      spark.read.parquet(store.toString), corpusSigs, newSigs))
    val derived = pairs(TextOps.minhashCandidatesIncremental(corpusSigs, newSigs))
    assert(stored.nonEmpty && stored === derived)
  }

  test("empty new batch yields no candidates") {
    val empty = TextOps.minhashSignatures(docs.filter(lit(false)))
    assert(TextOps.minhashCandidatesIncremental(corpusSigs, empty).isEmpty)
  }
}
