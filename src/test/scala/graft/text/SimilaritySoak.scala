package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

/** Embedding-similarity scale soak (dev main, not a test): drives the
  * similarity family's 100 TB shapes on a generated corpus — 1 M
  * deterministic pseudo-random vectors (pure codegen, no driver data) with
  * ~10% planted near-duplicate pairs (shared seed + 1e-3 perturbation) —
  * and measures per-phase wall time, longest task, max task result,
  * shuffle volume, and spill.
  *
  * Stages: hyperplane-LSH candidate pairs (bucketed id-pair shape),
  * k-means centroids + IVF assign (broadcast quantizer, tiny moment
  * aggregate), IVF probe vs brute-force top-k, corpus norm stats.
  *
  * Run: sbt "Test/runMain graft.Soak SimilaritySoak [nVecs] [dim]"
  */
object SimilaritySoak {
  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nVecs = args.long(0, 1000000L)
    val dim = args.int(1, 64)
    println(s"[soak] $nVecs vectors x dim $dim")
    // ids with id%10<2 come in planted near-dup pairs (2k, 2k+1 share the
    // seed row, then a 1e-3-scale independent perturbation)
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(1, $dim), i -> CAST(
          (pmod(xxhash64(CASE WHEN id % 10 < 2 THEN id - pmod(id, 2) ELSE id END, i), 2000) / 1000.0 - 1.0)
          + (CASE WHEN id % 10 < 2 THEN pmod(xxhash64(id, i + 7919), 2000) / 1000000.0 ELSE 0.0 END)
        AS FLOAT))""").as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    phase(spark, "materialize corpus") {
      println(s"[soak]   -> ${vecs.count()} vectors")
    }
    phase(spark, "hyperplane LSH candidate pairs (bucketed id-pair shape)") {
      // planes sized with n (log2(n/8), the rule on cosineLshPairs):
      // under-planing floods the cosine join quadratically — measured at
      // 4 M with planes=16: ~122 M pairs, 122 GB join spill; log2(n/8)
      // keeps the pair list near the planted-neighbor count
      val planes = math.max(12,
        math.ceil(math.log(nVecs / 8.0) / math.log(2.0)).toInt)
      val pairs = Similarity.cosineLshPairs(vecs, planes = planes, minSim = 0.99,
        dim = dim, maxBucketSize = 4096)
      val n = pairs.count()
      println(s"[soak]   -> $n pairs >= 0.99 (planted ${nVecs / 10}, planes $planes)")
    }
    val centroids = phase(spark, "kmeans centroids (k=32, 2 iters, tiny moment agg)") {
      Similarity.kmeansCentroids(vecs, k = 32, iters = 2)
    }
    val assigned = phase(spark, "ivf assign (broadcast quantizer, narrow)") {
      val a = Similarity.ivfAssign(vecs, centroids)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cells = a.groupBy("cell").count().count()
      println(s"[soak]   -> $cells non-empty cells")
      a
    }
    val query = vecs.filter(col("vec_id") === 12345L)
      .select("embedding").head().getSeq[Float](0).toArray
    val exact = phase(spark, "brute-force top-10 (full corpus)") {
      Similarity.bruteForceTopK(vecs, query, 10, excludeId = 12345L)
        .collect().map(_.getLong(0)).toSeq
    }
    phase(spark, "ivf top-10 (nprobe=4 of 32 cells)") {
      val got = Similarity.ivfTopK(assigned, centroids, query, 10,
        nprobe = 4, excludeId = 12345L).collect().map(_.getLong(0)).toSeq
      val recall = got.count(exact.contains) / 10.0
      println(s"[soak]   -> recall@10 vs exact: $recall")
    }
    phase(spark, "ivfTopKMulti: 256-query batch served in ONE probed join") {
      val step = math.max(1L, nVecs / 256)
      val queries = vecs.filter(col("vec_id") % step === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val n = Similarity.ivfTopKMulti(assigned, centroids, queries,
        k = 10, nprobe = 4).count()
      println(s"[soak]   -> $n served rows (one corpus pass for the whole batch)")
    }
    phase(spark, "single-query ivfTopK loop x 16 (the shape batching replaces)") {
      val step = math.max(1L, nVecs / 16)
      val qs = vecs.filter(col("vec_id") % step === 0)
        .select("vec_id", "embedding").collect()
      qs.foreach { r =>
        Similarity.ivfTopK(assigned, centroids,
          r.getSeq[Float](1).toArray, 10,
          nprobe = 4, excludeId = r.getLong(0)).collect()
      }
      println(s"[soak]   -> ${qs.length} sequential queries (16x fewer than the batch)")
    }
    phase(spark, "IVF-PQ 256-query batch (train both quantizers + encode + ADC shortlist + exact rerank)") {
      // the memory-tier serving path: candidates in probed cells score by
      // m=8 LUT reads + integer adds over the 8-byte codes — never a
      // dim-length dot — and only the per-query shortlist touches vectors
      val n = Similarity.ivfPqTopK(vecs, nCells = 32, cIters = 2, nprobe = 4,
        m = 8, k = 16, pqIters = 2, shortlist = 30, topK = 10,
        nQueries = 256).count()
      println(s"[soak]   -> $n served rows from code-only candidate scoring")
    }
    phase(spark, "PQ serve-only: ADC codes vs full vectors over the SAME probed candidates") {
      // isolates the fine-quantizer claim from training cost: both passes
      // rank the same probed candidate set top-10 per query; the exact
      // pass reads 64-float vectors, the ADC pass reads 8-int codes + a
      // broadcast LUT. At memory-bandwidth-bound scale the code path is
      // the one that fits in cache.
      val m = 8; val k = 16
      val books = Similarity.pqCodebooks(vecs, m = m, k = k, iters = 1)
      val sd = books(0)(0).length
      val bcB = spark.sparkContext.broadcast(books)
      val encU = udf((v: Seq[Float]) => Similarity.pqAssign(bcB.value, v))
      graft.functions.GridFunctions.register(spark)
      val encoded = assigned
        .select(col("vec_id").as("cid"), col("cell"), encU(col("embedding")).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val withVec = assigned
        .select(col("vec_id").as("cid"), col("cell"), col("embedding").as("cv"),
          expr("floor_dot_e9(embedding, embedding)").as("ec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[soak]   encoded rows ${encoded.count()}, vector rows ${withVec.count()}")
      val step = math.max(1L, nVecs / 256)
      val qRows = withVec.filter(col("cid") % step === 0)
        .select(col("cid"), col("cv"), col("ec")).collect().sortBy(_.getLong(0))
      val bcC = spark.sparkContext.broadcast(centroids)
      val lutDot = qRows.map { r =>
        val qv = r.getSeq[Float](1)
        Array.tabulate(m, k) { (s, c) =>
          var d = 0.0; var j = 0
          while (j < sd) { d += qv(s * sd + j).toDouble * books(s)(c)(j); j += 1 }
          math.floor(d * 1e9).toLong
        }
      }
      val bcLut = spark.sparkContext.broadcast(lutDot)
      val adcU = udf((qi: Int, codes: Seq[Int]) => {
        val ld = bcLut.value(qi)
        var dot = 0L; var s = 0
        while (s < m) { dot += ld(s)(codes(s)); s += 1 }
        dot
      })
      import spark.implicits._
      val qFrame = qRows.zipWithIndex.map { case (r, i) =>
        (i, r.getLong(0), r.getSeq[Float](1), r.getLong(2))
      }.toSeq.toDF("qi", "qid", "qv", "eq")
      val probesU = udf { (qv: Seq[Float]) =>
        val cs = bcC.value
        cs.indices.map(c => (c, Similarity.cosine(cs(c).map(_.toFloat), qv)))
          .sortBy { case (c, s) => (-s, c) }.take(4).map(_._1)
      }
      val qp = qFrame.withColumn("cell", explode(probesU(col("qv"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("score").desc, col("cid"))
      def t(label: String)(f: => Long): Unit =
        println(s"[soak]   $label: ${phase(spark, label)(f)} rows")
      for (round <- 1 to 2) {
        t(s"exact full-vector top-10 (round $round)") {
          broadcast(qp.select("qid", "qv", "cell")).join(withVec, Seq("cell"))
            .filter(col("cid") =!= col("qid"))
            .withColumn("score", expr("floor_dot_e9(qv, cv)"))
            .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
            .count()
        }
        t(s"ADC code-only top-10, Scala UDF (round $round)") {
          broadcast(qp.select("qi", "qid", "cell")).join(encoded, Seq("cell"))
            .filter(col("cid") =!= col("qid"))
            .withColumn("score", adcU(col("qi"), col("codes")))
            .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
            .count()
        }
        t(s"ADC code-only top-10, native codegen expression (round $round)") {
          broadcast(qp.select("qi", "qid", "cell")).join(encoded, Seq("cell"))
            .filter(col("cid") =!= col("qid"))
            .withColumn("score", graft.functions.PqFunctions.adcDotE9(
              encoded, col("codes"), col("qi"), lutDot))
            .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
            .count()
        }
      }
      encoded.unpersist(); withVec.unpersist()
    }
    phase(spark, "corpus norm stats") {
      val r = vecs.select(
        avg(sqrt(aggregate(transform(col("embedding"), x => x * x),
          lit(0.0), (acc, x) => acc + x))).as("mean_norm")).head()
      println(f"[soak]   -> mean norm ${r.getDouble(0)}%.4f")
    }
    phase(spark, "semDedup (1024 cells, in-group pairwise, keep-the-outlier)") {
      // SemDeDup's 100 TB shape at soak scale: cells sized so the in-group
      // quadratic is the budgeted cost (avg cell ~ n/1024; the 4096 cap
      // bounds the worst group). Planted near-dup pairs (2k, 2k+1 at
      // id%10<2, perturbation 1e-3 -> cosine ~1) must land in one cluster;
      // census checks pair-level recall and the one-keeper-per-cluster law.
      val sd = Similarity.semDedup(vecs, nCells = 1024, iters = 1,
          minSim = 0.99, maxCellSize = 4096)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = sd.count()
      val planted = sd.filter(col("vec_id") % 10 < 2)
        .select((col("vec_id") - pmod(col("vec_id"), lit(2))).as("pair"),
          col("cluster"))
        .groupBy("pair")
        .agg(countDistinct("cluster").as("nc"), count(lit(1)).as("m"))
      val paired = planted.filter(col("m") === 2 && col("nc") === 1).count()
      val total = planted.count()
      val badClusters = sd.groupBy("cluster")
        .agg(sum(when(col("is_keeper"), 1L).otherwise(0L)).as("k"))
        .filter(col("k") =!= 1L).count()
      println(s"[soak]   -> $n rows; planted-pair recall $paired/$total; " +
        s"clusters violating one-keeper: $badClusters")
      assert(badClusters == 0L, "keeper law violated")
      // boundary-straddling pairs (different argmax cells) and capped
      // cells are SemDeDup's documented approximation: recall is high,
      // not exact — the floor here is structural, the measured value is
      // recorded in NOTES
      assert(paired * 10L >= total * 9L,
        s"planted near-dup recall under 90%: $paired/$total")
      sd.unpersist()
    }
    locally {
      // semDedupApprox end to end at corpus-scaled k: the flat pipeline's
      // assignment is O(k) per vector — at k=2048 it dominates the whole
      // dedup — while the two-level route costs O(nSuper + probe·k/nSuper).
      // Both runs train IDENTICAL centroids (order-invariant e9 moments),
      // so the delta is routing only. The census law: a planted pair (1e-3
      // perturbation) computes near-identical cosines everywhere, so BOTH
      // members take the same route — pair recall survives approx routing
      // even where per-vector flat-agreement degrades (the uniform-corpus
      // negative control in the two-level phase below).
      def plantedRecall(sd: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val planted = sd.filter(col("vec_id") % 10 < 2)
          .select((col("vec_id") - pmod(col("vec_id"), lit(2))).as("pair"),
            col("cluster"))
          .groupBy("pair")
          .agg(countDistinct("cluster").as("nc"), count(lit(1)).as("m"))
        (planted.filter(col("m") === 2 && col("nc") === 1).count(),
          planted.count())
      }
      var flatRec = (0L, 0L)
      phase(spark, "semDedup FLAT at k=2048 (assignment-bound regime)") {
        val sd = Similarity.semDedup(vecs, nCells = 2048, iters = 1,
            minSim = 0.99, maxCellSize = 4096)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sd.count(); flatRec = plantedRecall(sd)
        println(s"[soak]   -> flat k=2048 planted recall ${flatRec._1}/${flatRec._2}")
        sd.unpersist()
      }
      phase(spark, "semDedup PRODUCTION shape at k=2048: 10% sampled train + two-level assign") {
        // what a 100 TB deployment actually runs: the quantizer trains on
        // a bounded deterministic sample (training cost decoupled from
        // corpus size), the super-quantizer compresses the frozen table,
        // and the corpus assigns through the probe path — the two flat
        // O(corpus·k) passes (per-run train assign + serve assign) both
        // collapse. Recall law: a planted pair's members compute
        // near-identical cosines to every centroid, so they co-route
        // under ANY quantizer this pipeline freezes.
        val thr = graft.text.Curation.rateThreshold(0.10)
        val train = vecs.filter(
          graft.text.Curation.sampleHash(col("vec_id"), "soaktrain") < lit(thr))
        val cents = Similarity.kmeansCentroids(train, k = 2048, iters = 1)
        val sq = Similarity.superQuantizer(cents, nSuper = 64)
        val prod = Similarity.semDedupApproxWith(vecs, cents, sq, probe = 4,
            minSim = 0.99, maxCellSize = 4096)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prod.count()
        val (paired, total) = plantedRecall(prod)
        println(s"[soak]   -> sampled-train+probe planted recall $paired/$total " +
          s"(flat full-train ${flatRec._1}/${flatRec._2})")
        assert(paired * 100L >= total * 85L,
          s"production-shape planted recall under the 85% floor: $paired/$total")
        prod.unpersist()
      }
      phase(spark, "semDedupApprox at k=2048 (64-super, probe=4) end to end") {
        val sd = Similarity.semDedupApprox(vecs, nCells = 2048, nSuper = 64,
            probe = 4, iters = 1, minSim = 0.99, maxCellSize = 4096)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sd.count()
        val (paired, total) = plantedRecall(sd)
        val badKeepers = sd.groupBy("cluster")
          .agg(sum(when(col("is_keeper"), 1L).otherwise(0L)).as("k"))
          .filter(col("k") =!= 1L).count()
        println(s"[soak]   -> approx planted recall $paired/$total " +
          s"(flat ${flatRec._1}/${flatRec._2}); keeper violations $badKeepers")
        assert(badKeepers == 0L, "keeper law violated under approx routing")
        assert(paired * 100L >= total * 85L,
          s"approx planted recall under the 85% floor: $paired/$total")
        sd.unpersist()
      }
    }
    locally {
      // incremental SemDeDup: per-batch cost must track the corpus mass in
      // TOUCHED cells, not the corpus. Corpus = 99.9% at rest (assignment
      // paid once at ingest), batch = id%1000==0 (0.1%); every planted
      // pair whose even member is in the batch must surface as a
      // corpus-batch crosser.
      val corpus = vecs.filter(col("vec_id") % 1000 =!= 0)
      val batch = vecs.filter(col("vec_id") % 1000 === 0)
      val centroids2 = phase(spark, "incremental prep: frozen quantizer (k=2048, 1 iter) on the corpus") {
        Similarity.kmeansCentroids(corpus, k = 2048, iters = 1)
      }
      val atRest = phase(spark, "incremental prep: corpus assignment at rest (paid once at ingest)") {
        val a = Similarity.assignWith(corpus, centroids2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        a.count(); a
      }
      phase(spark, "two-level assignment: flat k=2048 scan vs 64-super probe") {
        // at deployment scale k grows with the corpus (corpus/1e4 cells),
        // so the FLAT k x dim scan becomes the assignment bottleneck; the
        // super-quantizer cuts it to (nSuper + probe*k/nSuper) x dim.
        // Two regimes, both measured:
        //  - the UNIFORM soak corpus is the NEGATIVE control — centroids
        //    over structureless data are barely separated, so "vector's
        //    best super" does not predict "super holding the vector's best
        //    cell" and agreement collapses (routing needs structure);
        //  - a CLUSTERED corpus (2048 planted directions + 10% noise —
        //    what real embedding corpora look like, and the regime that
        //    motivates k ~ corpus/1e4 in the first place) is the intended
        //    one: agreement must hold at the sqrt(k) speedup.
        def agreementRun(tag: String, frame: org.apache.spark.sql.DataFrame,
                         cents: Array[Array[Double]]): Unit = {
          val sq = Similarity.superQuantizer(cents, nSuper = 64)
          val flat = Similarity.assignWith(frame, cents)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val t0 = System.nanoTime()
          val n = flat.count()
          val tFlat = (System.nanoTime() - t0) / 1e9
          val agreements = Seq(4, 8).map { probe =>
            val ap = Similarity.assignWithApprox(frame, cents, sq, probe)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val t1 = System.nanoTime()
            ap.count()
            val tAp = (System.nanoTime() - t1) / 1e9
            val agree = flat.join(ap.withColumnRenamed("cell", "cell2"), "id")
              .filter(col("cell") === col("cell2")).count()
            println(f"[soak]   -> $tag probe=$probe: $tAp%.2f s vs flat " +
              f"$tFlat%.2f s; agreement $agree/$n")
            ap.unpersist()
            agree
          }
          if (tag == "clustered") {
            // one Lloyd round over 2048 planted clusters leaves some
            // split/merged centroids, so the boundary mass is real:
            // ~93% at probe=4 measured. The floor is structural; deeper
            // probes must monotonically recover the rest.
            assert(agreements.head * 10L >= n * 9L,
              s"clustered-regime agreement under 90%: ${agreements.head}/$n")
            assert(agreements(1) >= agreements.head,
              s"agreement must not fall with a deeper probe: $agreements")
          }
          flat.unpersist()
        }
        agreementRun("uniform", corpus, centroids2)
        val clustered = spark.range(nVecs).select(
          col("id").as("vec_id"),
          expr(s"""transform(sequence(1, $dim), i -> CAST(
              (pmod(xxhash64(pmod(id, 2048), i), 2000) / 1000.0 - 1.0)
              + (pmod(xxhash64(id, i + 131), 200) / 1000.0 - 0.1)
            AS FLOAT))""").as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        clustered.count()
        val cCents = Similarity.kmeansCentroids(clustered, k = 2048, iters = 1)
        agreementRun("clustered", clustered, cCents)
        clustered.unpersist()
      }
      phase(spark, "incremental semDedup: ONE 0.1% batch against the corpus at rest") {
        val pairs = Similarity.semDedupIncrementalPairs(atRest,
          Similarity.assignWith(batch, centroids2),
          minSim = 0.99, maxCellSize = 4096)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = pairs.count()
        // batch members ending in 000 are the even halves of planted pairs
        // (id, id+1): each must pair with its corpus partner
        val found = pairs
          .filter(col("doc_a") % 1000 === 0 && col("doc_b") === col("doc_a") + 1)
          .count()
        val expect = batch.filter(pmod(col("vec_id"), lit(10)) < 2).count()
        println(s"[soak]   -> $n pairs; planted crossers found $found/$expect")
        assert(found * 10L >= expect * 9L,
          s"incremental planted recall under 90%: $found/$expect")
        pairs.unpersist()
      }
      atRest.unpersist()
    }
  }
}
