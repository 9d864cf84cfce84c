package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.JobMetrics.phase

/** Composed near-dup pipeline soak (dev main, not a test): the actual
  * 100 TB curation workload — shingle -> MinHash -> LSH band buckets ->
  * candidate pairs -> two-tier connected components -> quality-arbitrated
  * keeper -> exact dedup — run END TO END at >= 20 M documents with planted
  * duplicate structure, so the composition (not just each stage's own spec)
  * is certified: one corpus scan feeds the signature UDF, the candidate
  * stage's skew cap engages on a planted boilerplate flood, the edge list
  * lands ABOVE `graft.cc.localEdgeCap` so the DISTRIBUTED pointer-jump CC
  * tier runs inside the composition, and the keeper census is cross-checked
  * against an independent argmax computed straight from the planted ids.
  *
  * Planted ground truth (all ids and words deterministic — splitmix64 over
  * disjoint tagged input spaces, so distinct inputs give distinct words and
  * unrelated docs share ZERO shingles):
  *  - `nUnique` singleton docs of `uniqueWords` words each (ids 0..nUnique-1);
  *  - `nClusters` near-dup clusters of `clusterSize` variants (ids
  *    1e12 + c*100 + v): variant 0 is the `coreWords`-word core, each
  *    variant v>0 replaces the final word, so variant-variant word-bigram
  *    Jaccard is (coreWords-2)/coreWords (0.975 at the default 80) and the
  *    32-hash/8-band LSH finds every pair with miss probability ~1e-7;
  *  - `floodSize` byte-identical boilerplate docs (ids 2e12+k): their band
  *    buckets all exceed `maxBucketSize`, so the cap DROPS them (bounded
  *    worst task; exact-dup floods are exact-dedup's job) — the census
  *    asserts exactly 8 capped buckets and that the flood reaches the
  *    final count only through the trailing exact-dedup stage.
  *
  * Census invariants (exact, not statistical — the md5 hash family is
  * deterministic, so a tuned run passes identically every time):
  *  - capped buckets == 8 (the flood's), zero false-positive pairs,
  *    planted-pair recall reported (>= 99.9% required);
  *  - component census == {clusterSize: nClusters, 1: nUnique+floodSize};
  *  - keepers: exactly one per planted cluster, each equal to the
  *    independently-computed argmax-quality member; kept total ==
  *    nUnique + floodSize + nClusters;
  *  - exact dedup over the kept docs collapses the flood: final count ==
  *    nUnique + nClusters + 1.
  *
  * GRAFT_CKPT_DIR switches the CC rounds' pins to RELIABLE checkpointing
  * (the 1000-executor setting). Reference scope: near-dedup beyond the
  * reference's DSP core — the LLM-curation surface SURVEY.md §2 adds.
  *
  * Run: SPARK_DRIVER_MEM=64g sbt "Test/runMain graft.Soak NearDupMegaSoak
  *   [nUnique] [nClusters] [clusterSize] [floodSize]"
  * Defaults: 18 M unique + 500 k x 4 planted + 5000 flood = 20,005,000 docs,
  * 3 M planted pairs (above the 2 M union-find cap -> distributed CC tier).
  */
object NearDupMegaSoak {

  val ClusterBase = 1000000000000L
  val FloodBase = 2000000000000L

  /** splitmix64 finalizer over a tag-disjoint input space: bijective, so
    * distinct (tag, payload) inputs can never produce the same word. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def word(prefix: Char, tag: Long, payload: Long): String =
    prefix + java.lang.Long.toHexString(mix((tag << 58) | payload))

  /** Deterministic text for a doc id under the planted layout. */
  private[text] def genText(id: Long, uniqueWords: Int, coreWords: Int,
                            floodWords: Int): String = {
    val sb = new java.lang.StringBuilder(coreWords * 18)
    if (id >= FloodBase) {
      var j = 0
      while (j < floodWords) { if (j > 0) sb.append(' '); sb.append('f').append(j); j += 1 }
    } else if (id >= ClusterBase) {
      val c = (id - ClusterBase) / 100
      val v = (id - ClusterBase) % 100
      var j = 0
      while (j < coreWords) {
        if (j > 0) sb.append(' ')
        if (j == coreWords - 1 && v > 0) sb.append(word('v', 2L, c * 128 + v))
        else sb.append(word('c', 1L, c * 128 + j))
        j += 1
      }
    } else {
      var j = 0
      while (j < uniqueWords) {
        if (j > 0) sb.append(' ')
        sb.append(word('u', 0L, id * 64 + j))
        j += 1
      }
    }
    sb.toString
  }

  /** The planted corpus as a lazy (doc_id, text) frame — pure spark.range +
    * one deterministic UDF, no driver data; consumers that select only
    * doc_id get the UDF column-pruned away. */
  def corpus(spark: SparkSession, nUnique: Long, nClusters: Long,
             clusterSize: Int, floodSize: Long,
             uniqueWords: Int = 32, coreWords: Int = 80,
             floodWords: Int = 24): DataFrame = {
    require(clusterSize >= 2 && clusterSize < 100, "cluster ids pack variant into id%100")
    require(uniqueWords >= 2 && uniqueWords <= 64, "unique payload packs word idx into 6 bits")
    require(coreWords >= 3 && coreWords <= 128 && clusterSize < 128,
      "core payload packs word/variant idx into 7 bits")
    val uniq = spark.range(nUnique).select(col("id").as("doc_id"))
    val planted = spark.range(nClusters * clusterSize)
      .select((lit(ClusterBase) + expr(s"id div $clusterSize") * 100L
        + col("id") % clusterSize).as("doc_id"))
    val flood = spark.range(floodSize).select((lit(FloodBase) + col("id")).as("doc_id"))
    val textUdf = udf { (id: Long) => genText(id, uniqueWords, coreWords, floodWords) }
    // the union's legs each get the default 32 partitions regardless of row
    // count, so the signature UDF and the band-bucket shuffle would inherit
    // a 9x row skew (measured: slowest map task wrote 152 MB vs 7 MB
    // median). Round-robin the 16-byte id rows BEFORE the expensive text /
    // signature UDFs: a ~300 MB shuffle buys balanced rows AND a balanced
    // doc-type mix (80-word planted docs vs 32-word uniques) per task.
    uniq.union(planted).union(flood)
      .repartition(spark.sparkContext.defaultParallelism * 3)
      .select(col("doc_id"), textUdf(col("doc_id")).as("text"))
  }

  /** End-to-end census of the composed pipeline. Every field is exact. */
  case class Census(docs: Long, cappedBuckets: Long, edges: Long,
                    plantedPairsFound: Long, falsePairs: Long,
                    sparseMismatch: Long,
                    clustersFull: Long, singletons: Long, otherSizes: Long,
                    kept: Long, plantedKeepers: Long, keeperMismatches: Long,
                    afterExactDedup: Long)

  /** Runs shingle -> MinHash -> LSH -> CC -> qualityKeeper -> exact dedup
    * over the planted corpus and returns the full census; each action runs
    * under its own [[graft.JobMetrics.phase]]. */
  def run(spark: SparkSession, nUnique: Long, nClusters: Long,
          clusterSize: Int, floodSize: Long, maxBucketSize: Int = 64): Census = {
    val docs = corpus(spark, nUnique, nClusters, clusterSize, floodSize)

    // stage 1: one corpus scan -> signatures, persisted so the bucket-cap
    // census and the candidate stage share the md5 work (the dominant cost)
    val sigs = TextOps.minhashSignatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val nDocs = phase(spark, "signatures")(sigs.count())

    // stage 2: skew-cap census — buckets the candidate stage will DROP
    val capped = phase(spark, "bucketCensus")(
      TextOps.bandBuckets(sigs)
        .groupBy("band_idx", "bucket").count()
        .filter(col("count") > maxBucketSize).count())

    // stage 3: LSH candidate pairs (the big shuffle: signatures ride the
    // band-bucket group once); audited against the planted layout
    val edges = TextOps.minhashCandidates(sigs, maxBucketSize = maxBucketSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = phase(spark, "lshPairs")(edges.count())
    val isPlanted = (c: org.apache.spark.sql.Column) =>
      c >= ClusterBase && c < FloodBase
    // offsets stay < 5e9, exact in the double division `/` produces on longs
    val clusterOf = (c: org.apache.spark.sql.Column) =>
      ((c - ClusterBase) / 100L).cast("long")
    val samePlantedCluster =
      isPlanted(col("doc_a")) && isPlanted(col("doc_b")) &&
        clusterOf(col("doc_a")) === clusterOf(col("doc_b"))
    val plantedFound = phase(spark, "edgeAudit")(edges.filter(samePlantedCluster).count())

    // stage 3b: the sparse (ids-through-the-shuffle) pair architecture,
    // A/B'd against the dense form — must be RESULT-IDENTICAL; its win is
    // the signature payload staying out of the band-bucket shuffle
    val sparse = TextOps.minhashCandidatesAtScale(sigs, maxBucketSize = maxBucketSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    phase(spark, "lshPairsSparse")(sparse.count())
    val sparseMismatch = phase(spark, "sparseParity")(
      edges.exceptAll(sparse).count() + sparse.exceptAll(edges).count())
    sparse.unpersist()

    // stage 4: components (edge count decides the CC tier) + cluster census
    val cap = spark.conf.getOption(TextOps.CcLocalEdgeCapKey).map(_.toLong).getOrElse(2000000L)
    println(s"[soak] CC tier: ${if (nEdges <= cap) "union-find (single task)" else "distributed pointer-jump"} ($nEdges edges vs cap $cap)")
    val clusters = TextOps.dupClusters(docs.select("doc_id"), edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizeCensus = phase(spark, "components")(
      clusters.groupBy("cluster").count()
        .groupBy(col("count").as("sz")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val clustersFull = sizeCensus.getOrElse(clusterSize.toLong, 0L)
    val singletons = sizeCensus.getOrElse(1L, 0L)
    val otherSizes = sizeCensus.removed(clusterSize.toLong).removed(1L).values.sum

    // stage 5: quality-arbitrated keeper, cross-checked by an independent
    // per-cluster argmax computed straight from the planted ids
    val quality = docs.select(col("doc_id"),
      (pmod(xxhash64(col("doc_id")), lit(1000000L)) / 1e6).as("quality_score"))
    val keep = TextOps.qualityKeeper(clusters, quality)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val kept = phase(spark, "qualityKeeper")(keep.filter(col("kept") === 1).count())
    val actualKeepers = keep
      .filter(col("kept") === 1 && isPlanted(col("doc_id")))
      .select(clusterOf(col("doc_id")).as("c"), col("doc_id").as("actual"))
    val expectedKeepers = quality.filter(isPlanted(col("doc_id")))
      .groupBy(clusterOf(col("doc_id")).as("c"))
      .agg(expr("max_by(doc_id, struct(quality_score, -doc_id))").as("expected"))
    val plantedKeepers = phase(spark, "keeperAudit")(actualKeepers.count())
    val mismatches = actualKeepers.join(expectedKeepers, "c")
      .filter(col("actual") =!= col("expected")).count()

    // stage 6: exact dedup over the kept docs collapses the flood the
    // near-dup cap deliberately left alone
    val keptDocs = docs.join(keep.filter(col("kept") === 1).select("doc_id"), "doc_id")
    val afterExact = phase(spark, "exactDedup")(TextOps.dedupExact(keptDocs).count())

    sigs.unpersist(); edges.unpersist(); clusters.unpersist(); keep.unpersist()
    Census(nDocs, capped, nEdges, plantedFound, nEdges - plantedFound,
      sparseMismatch, clustersFull, singletons, otherSizes, kept,
      plantedKeepers, mismatches, afterExact)
  }

  /** Asserts the census against the planted layout. Valid for floodSize == 0
    * (no flood) or floodSize > maxBucketSize (flood capped away); a flood
    * UNDER the cap legitimately collapses to one extra near-dup component
    * (NearDupPipelineSpec pins that shape separately). */
  def check(c: Census, nUnique: Long, nClusters: Long, clusterSize: Int,
            floodSize: Long, maxBucketSize: Int): Unit = {
    require(floodSize == 0 || floodSize > maxBucketSize,
      "census formulas assume the flood is absent or capped")
    val plantedPairs = nClusters * clusterSize * (clusterSize - 1) / 2
    val expectedCapped = if (floodSize > maxBucketSize) 8L else 0L
    require(c.docs == nUnique + nClusters * clusterSize + floodSize,
      s"doc count ${c.docs}")
    require(c.cappedBuckets == expectedCapped,
      s"capped buckets ${c.cappedBuckets}, expected $expectedCapped (the flood's 8 band buckets)")
    require(c.falsePairs == 0, s"${c.falsePairs} false-positive pairs")
    require(c.sparseMismatch == 0,
      s"sparse pair architecture diverges from dense by ${c.sparseMismatch} rows")
    require(c.plantedPairsFound >= (plantedPairs * 999L) / 1000L,
      s"planted-pair recall ${c.plantedPairsFound}/$plantedPairs below 99.9%")
    require(c.clustersFull == nClusters && c.otherSizes == 0,
      s"cluster census: ${c.clustersFull} full + ${c.otherSizes} other-sized, expected $nClusters full")
    require(c.singletons == nUnique + floodSize,
      s"singletons ${c.singletons}, expected ${nUnique + floodSize}")
    require(c.kept == nUnique + floodSize + nClusters, s"kept ${c.kept}")
    require(c.plantedKeepers == nClusters && c.keeperMismatches == 0,
      s"keepers: ${c.plantedKeepers} planted (${c.keeperMismatches} mismatch quality argmax)")
    val expectedFinal = nUnique + nClusters + (if (floodSize > 0) 1L else 0L)
    require(c.afterExactDedup == expectedFinal,
      s"after exact dedup ${c.afterExactDedup}, expected $expectedFinal")
  }

  /** Incremental-ingest scale probe: the planted corpus split by id parity
    * into corpus-at-rest (odd ids — signatures pinned once, text never
    * rescanned) and today's batch (even ids), through
    * [[TextOps.minhashCandidatesIncremental]]. Every planted cluster holds
    * 2 corpus + 2 batch members, so the touching-new census is exact:
    * 5 of each cluster's 6 pairs (all but corpus-corpus), zero flood pairs
    * (combined occupancy capped), zero false positives. The measured
    * point: the incremental pair stage pays one NARROW bucket-table pass
    * over the corpus plus batch-sized joins — not the full-corpus pair
    * generation the batch operators pay. */
  def runIncremental(spark: SparkSession, nUnique: Long, nClusters: Long,
                     clusterSize: Int, floodSize: Long,
                     maxBucketSize: Int = 64,
                     batchMod: Int = 2,
                     storedBuckets: Boolean = false): Unit = {
    import graft.operators.Checkpoints.Pinnable
    // doc_id % batchMod == 0 is "today's batch" (1/batchMod of everything);
    // variant parity must be id-position-independent, so batchMod has to
    // divide the 100-wide variant stride and the id bases
    require(100 % batchMod == 0 && ClusterBase % batchMod == 0 &&
      FloodBase % batchMod == 0, s"batchMod $batchMod must divide 100")
    val oldVariants = (0 until clusterSize).count(_ % batchMod != 0)
    val expectedPerCluster =
      clusterSize.toLong * (clusterSize - 1) / 2 -
        oldVariants.toLong * (oldVariants - 1) / 2
    require(expectedPerCluster > 0, "no planted cluster straddles the split")
    val docs = corpus(spark, nUnique, nClusters, clusterSize, floodSize)
    val corpusSigs = phase(spark, "corpusSigs(at rest)")(
      TextOps.minhashSignatures(docs.filter(col("doc_id") % batchMod =!= 0)).pin)
    val newSigs = phase(spark, "batchSigs")(
      TextOps.minhashSignatures(docs.filter(col("doc_id") % batchMod === 0)).pin)
    // stored mode = the deployment shape: ingest writes the corpus bucket
    // table ONCE (amortized over every future batch), each batch joins the
    // parquet-backed table instead of re-deriving buckets per batch
    val incRaw = if (storedBuckets) {
      val store = java.nio.file.Files.createTempDirectory("bucket_store")
      // recursive-delete hook: File.deleteOnExit cannot remove a non-empty
      // directory (the q367 ADVICE finding — same defect, same fix)
      graft.streaming.StreamingOps.deleteOnExit(store)
      phase(spark, "bucketStore(ingest)")(
        TextOps.bandBuckets(corpusSigs)
          .write.mode("overwrite").parquet(store.toString))
      TextOps.minhashCandidatesIncrementalStored(
        spark.read.parquet(store.toString), corpusSigs, newSigs,
        maxBucketSize = maxBucketSize)
    } else
      TextOps.minhashCandidatesIncremental(corpusSigs, newSigs,
        maxBucketSize = maxBucketSize)
    val inc = incRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = phase(spark, "incrementalPairs")(inc.count())
    val isPlanted = (c: org.apache.spark.sql.Column) =>
      c >= ClusterBase && c < FloodBase
    val planted = inc.filter(isPlanted(col("doc_a")) && isPlanted(col("doc_b")) &&
      ((col("doc_a") - ClusterBase) / 100L).cast("long") ===
      ((col("doc_b") - ClusterBase) / 100L).cast("long")).count()
    val touching = inc.filter(col("doc_a") % batchMod === 0 ||
      col("doc_b") % batchMod === 0).count()
    val floodTouched = inc.filter(col("doc_a") >= FloodBase || col("doc_b") >= FloodBase).count()
    val perCluster = inc.filter(isPlanted(col("doc_a")))
      .groupBy(((col("doc_a") - ClusterBase) / 100L).cast("long").as("c"))
      .agg(count(lit(1)).as("n")).filter(col("n") =!= expectedPerCluster).count()
    inc.unpersist()
    println(s"[soak] incremental census (1/$batchMod batch): $nPairs pairs, " +
      s"$planted planted, $touching touching-new, $floodTouched flood, " +
      s"$perCluster clusters != $expectedPerCluster pairs")
    require(nPairs == nClusters * expectedPerCluster,
      s"expected ${nClusters * expectedPerCluster} pairs, got $nPairs")
    require(planted == nPairs, s"${nPairs - planted} false-positive pairs")
    require(touching == nPairs, "every pair must touch the new batch")
    require(floodTouched == 0, "capped flood must emit no pairs")
    require(perCluster == 0,
      s"every planted cluster must yield exactly $expectedPerCluster pairs")
    println("[soak] INCREMENTAL PASS")
  }

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nUnique = args.long(0, 18000000L)
    val nClusters = args.long(1, 500000L)
    val clusterSize = args.int(2, 4)
    val floodSize = args.long(3, 5000L)
    val mode = args.str(4, "full")
    val maxBucketSize = 64
    sys.env.get("GRAFT_CKPT_DIR").foreach { d =>
      spark.conf.set(graft.operators.Checkpoints.DirKey, d)
      println(s"[soak] reliable checkpoint mode: $d")
    }
    println(s"[soak] ${nUnique / 1e6} M unique + $nClusters x $clusterSize planted + $floodSize flood "
      + s"= ${(nUnique + nClusters * clusterSize + floodSize) / 1e6} M docs; "
      + s"${nClusters * clusterSize * (clusterSize - 1) / 2 / 1e6} M planted pairs")
    if (mode.startsWith("incremental")) {
      // "incremental" = 50/50 split; "incremental:10" = a 1/10 batch (the
      // daily-ingest shape); "incremental:10:stored" additionally reads
      // the corpus bucket table from parquet written once at "ingest"
      val parts = mode.split(":")
      val m = parts.drop(1).headOption.filter(_.nonEmpty).map(_.toInt).getOrElse(2)
      runIncremental(spark, nUnique, nClusters, clusterSize, floodSize,
        maxBucketSize, batchMod = m, storedBuckets = parts.contains("stored"))
      return
    }
    val census = run(spark, nUnique, nClusters, clusterSize, floodSize, maxBucketSize)
    println(s"[soak] census: $census")
    println(f"[soak] planted-pair recall: ${census.plantedPairsFound.toDouble /
      (nClusters * clusterSize * (clusterSize - 1) / 2) * 100}%.4f %%")
    check(census, nUnique, nClusters, clusterSize, floodSize, maxBucketSize)
    println("[soak] PASS")
  }
}
