package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - Brute-force cosine top-k: the exact baseline — one broadcast of the
  *   query vector, one narrow map, one top-k (TakeOrdered, no full sort).
  * - IVF (inverted-file) variant: the scale path — a FIXED-k k-means coarse
  *   quantizer (driver state bounded at k×dim at any corpus size); each
  *   vector is assigned to its nearest centroid once (narrow, broadcast
  *   centroids); a query ranks cells locally on the broadcast table and
  *   probes only the `nprobe` nearest, turning a 100 TB scan into a
  *   partition-pruned fraction (ivfWrite partitions by `cell`).
  */
object Similarity {

  /** Cosine similarity of two float vectors, accumulated in double. */
  def cosine(aIn: Seq[Float], bIn: Seq[Float]): Double = {
    // Seq can arrive as a List: indexed loops need O(1) access
    val a = aIn match { case s: scala.collection.IndexedSeq[Float] => s; case s => s.toIndexedSeq }
    val b = bIn match { case s: scala.collection.IndexedSeq[Float] => s; case s => s.toIndexedSeq }
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k cosine neighbors of `query` (excluding `excludeId`);
    * `sim` is the engine-exact e9-grid 4-decimal cosine ([[gridSimE4]],
    * corpus moment first). */
  def bruteForceTopK(embeddings: DataFrame, query: Array[Float], k: Int,
                     excludeId: Long = -1L,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qn = normE9F(query)
    val gridUdf = udf { (v: Seq[Float]) =>
      val va = v.toArray
      gridSimE4(dotE9FF(va, query), normE9F(va), qn)
    }
    embeddings
      .filter(col(idCol) =!= excludeId)
      .select(col(idCol), gridUdf(col(vecCol)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  private def cosineArr(a: Array[Double], b: Seq[Float]): Double = {
    val bv = b match { case s: scala.collection.IndexedSeq[Float] => s; case s => s.toIndexedSeq }
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, bv.length)
    while (i < n) {
      val x = a(i); val y = bv(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** [[cosineArr]] over a primitive float array — the nearest-cell scan's
    * hot loop; same double accumulation, zero boxing. */
  private def cosineArrF(a: Array[Double], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // ---- exact e9-grid moments (the r17 emitted-value contract) -----------
  // Every cosine this library EMITS or THRESHOLDS derives from these
  // integer moments (Σ floor(xᵢ·yᵢ·1e9) as one long), never from an
  // engine's own float dot-product loop: each term is the floor of a
  // single correctly-rounded double product (float→double widening is
  // exact), the long sum is order-free, so any IEEE engine — and the
  // DuckDB oracles via Llm.gridSimE4Sql — reproduces them bit-for-bit.
  // Raw double cosines (cosineArr/cosineArrF) remain ONLY in ranking
  // positions with deterministic tie-breaks (nearest-cell argmax), where
  // a cross-engine flip needs two candidates within ~1e-15 relative — the
  // documented Class-C latency, not an emission hazard.

  private def dotE9FF(a: Array[Float], b: Array[Float]): Long = {
    var acc = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      acc += math.floor(a(i).toDouble * b(i).toDouble * 1e9).toLong; i += 1
    }
    acc
  }

  private def dotE9DF(a: Array[Double], b: Array[Float]): Long = {
    var acc = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += math.floor(a(i) * b(i).toDouble * 1e9).toLong; i += 1 }
    acc
  }

  private def dotE9DD(a: Array[Double], b: Array[Double]): Long = {
    var acc = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += math.floor(a(i) * b(i) * 1e9).toLong; i += 1 }
    acc
  }

  private def normE9F(a: Array[Float]): Long = dotE9FF(a, a)

  private def normE9D(a: Array[Double]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { acc += math.floor(a(i) * a(i) * 1e9).toLong; i += 1 }
    acc
  }

  /** The engine-exact 4-decimal cosine readout over e9 moments:
    * floor(dot/√na/√nb · 1e4 + 0.5) / 1e4 — single correctly-rounded IEEE
    * ops on exact integer inputs (|dot| ≲ dim·1e9 ≪ 2^53, so the
    * long→double casts are exact), expressed IDENTICALLY in the oracles'
    * SQL replica ([[graft.queries.Llm.gridSimE4Sql]]); the division order
    * (na's sqrt first) is part of the cross-engine contract. Zero norms
    * read as 0.0 on both sides. */
  private[text] def gridSimE4(dot: Long, na: Long, nb: Long): Double =
    if (na <= 0L || nb <= 0L) 0.0
    else math.floor(dot.toDouble / math.sqrt(na.toDouble) /
      math.sqrt(nb.toDouble) * 1e4 + 0.5) / 1e4

  /** Index of the most-cosine-similar centroid (lowest index wins ties).
    * The vector unboxes ONCE — the scan reads it k times, and boxed Seq
    * access across a 1024-centroid table was the assignment stage's whole
    * cost at 1 M × dim 64 (soak-measured). */
  private def nearestCell(centroids: Array[Array[Double]], v: Seq[Float]): Int =
    nearestCellSim(centroids, v.toArray)._1

  /** Nearest cell AND its (raw, ranking-only) cosine in one scan — the
    * argmax already evaluates the winning cosine, so [[cellAssignments]]
    * never pays a second centroid pass. The raw double is for RANKING
    * (deterministic tie-break by cell index); any EMITTED centroid-sim
    * re-derives from the e9 grid ([[gridSimE4]]). */
  private def nearestCellSim(centroids: Array[Array[Double]], va: Array[Float]): (Int, Double) = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val s = cosineArrF(centroids(c), va)
      if (s > bestSim) { best = c; bestSim = s }
      c += 1
    }
    (best, bestSim)
  }

  /** IVF coarse quantizer: a FIXED-k centroid table from distributed Lloyd
    * iterations. Everything that touches the driver is bounded at k×dim
    * doubles no matter the corpus size:
    *  - init: the k vectors with smallest md5(id) prefix — a TakeOrdered
    *    top-k, not a sort, not a data-dependent sample (md5 rather than
    *    xxhash64 so a SQL oracle reproduces the seeding);
    *  - each iteration: broadcast-assign (narrow), then a (cell, dim)
    *    sum/count aggregate — k×dim groups, map-side partially combined, so
    *    the shuffle is tiny at any scale.
    * Empty cells keep their previous centroid. */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 16, iters: Int = 2,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    var centroids: Array[Array[Double]] = embeddings
      .orderBy(substring(md5(col(idCol).cast("string")), 1, 15), col(idCol))
      .limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val assignU = udf((v: Seq[Float]) => nearestCell(bc.value, v))
      // the assign UDF MUST be projected below the explode: in one select
      // with posexplode it lands above the Generate and is re-evaluated per
      // exploded dimension row — dim x the k*dim distance work per vector
      // (soak-measured 527 s -> 9.5 s at 1 M x 64 for this exact split)
      // ORDER-INVARIANT moments: quantize each component onto the shared e9
      // integer grid (floor(x·1e9) as long — the repo's cross-engine idiom)
      // and sum LONGS, so the distributed partial-merge order cannot change
      // the result. A plain double sum is order-dependent (task completion
      // order varies run to run and host to host), and the DuckDB oracle's
      // avg() was equally unstable — parity held only when two independently
      // order-unstable sums agreed by luck (the r15 q377 red). Exactness
      // envelope: |x|≲1 ⇒ |sum| ≲ n·1e9, bit-exact as a double while the
      // per-cell count stays below ~9e6 rows per 2^53/1e9; long overflow at
      // ~9e9 rows per cell — both far above any trained-sample size.
      val moments = embeddings
        .select(assignU(col(vecCol)).as("cell"), col(vecCol).as("_v"))
        .select(col("cell"), posexplode(col("_v")).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg(sum(floor(col("x").cast("double") * lit(1e9)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      moments.foreach { r =>
        val cell = r.getInt(0); val d = r.getInt(1)
        next(cell)(d) = r.getLong(2).toDouble / 1e9 / r.getLong(3)
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** Assign each vector to its nearest centroid cell (IVF coarse quantizer):
    * one narrow pass with the bounded centroid table broadcast. At rest,
    * write with `cell` as a partition column (see ivfWrite) so probes become
    * partition-pruned scans. */
  def ivfAssign(embeddings: DataFrame, centroids: Array[Array[Double]],
                vecCol: String = "embedding"): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Float]) => nearestCell(bc.value, v))
    embeddings.withColumn("cell", assignUdf(col(vecCol)))
  }

  /** Persist an IVF-assigned corpus with `cell` as the partition column:
    * ivfTopK's cell filter then prunes at the file listing, so a probe reads
    * nprobe/k of the data instead of scanning everything. */
  def ivfWrite(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Every vector with its coarse-quantizer cell AND its cosine similarity
    * to that cell's centroid, in ONE narrow pass (the nearest-cell search
    * already computes the winning cosine — recomputing it in a second UDF
    * would double the k×dim work). `csim` is the exact e9-grid 4-decimal
    * cosine ([[gridSimE4]]) so downstream argmin/argmax readouts are
    * engine-exact by construction.
    * Columns: (id: long, vec, cell: int, csim: double). The semantic-space
    * primitive under [[semDedup]] and the cell-stratified curation queries. */
  def cellAssignments(embeddings: DataFrame, nCells: Int = 16, iters: Int = 2,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = kmeansCentroids(embeddings, nCells, iters, idCol, vecCol)
    cellAssignmentsWith(embeddings, centroids, idCol, vecCol)
  }

  /** [[cellAssignments]] against a FROZEN centroid table — the flat-scan
    * sibling of [[assignWithApproxSim]]'s layout, public so deployments
    * that train the quantizer once (or on a bounded sample — see
    * [[semDedupWith]]) assign any number of corpora against it. */
  def cellAssignmentsWith(embeddings: DataFrame, centroids: Array[Array[Double]],
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Float]) =>
      val va = v.toArray
      val cell = nearestCellSim(bc.value, va)._1
      // emitted centroid-sim rides the exact e9 grid (vector moment first —
      // the division order is part of the cross-engine contract)
      (cell, gridSimE4(dotE9DF(bc.value(cell), va),
        normE9F(va), normE9D(bc.value(cell))))
    }
    embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("a", assignUdf(col("vec")))
      .select(col("id"), col("vec"), col("a._1").as("cell"),
        col("a._2").as("csim"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * through the coarse-quantizer lens. Near-duplicate embeddings land in
    * the same k-means cell (they are near the same centroid), so the
    * all-pairs search is bounded per cell instead of corpus-wide; exact
    * within-cell cosine >= `minSim` marks duplicate pairs, connected
    * components group them, and the KEEPER of each group is the member with
    * the LOWEST similarity to its cell centroid — the paper's keep-the-
    * outlier rule, which preserves the cell's diversity where min-id or
    * random keepers collapse it (ties break to the lower id). Complements
    * the lexical family: exact hash (q40), MinHash (q42), SimHash (q43),
    * and the LSH-bucketed cosine dedup (q54) — SemDeDup's cells catch
    * paraphrases whose token overlap is low but whose embeddings coincide.
    *
    * 100 TB shape: centroid training is [[kmeansCentroids]] (driver state
    * k×dim, tiny map-combined moment shuffles); assignment + centroid-sim
    * are ONE narrow pass ([[cellAssignments]]); the pair stage shuffles the
    * corpus by cell exactly ONCE and scores all pairs inside the capped
    * group row (only qualifying (id, id, sim) triples leave it — no id-pair
    * ever re-joins the corpus for vectors); cells larger than `maxCellSize`
    * are skipped exactly like cosineLshPairs' bucket cap — a deployment
    * sizes nCells so the expected cell is small (the paper uses
    * corpus/~1e4 cells) and the cap turns adversarial mass at one centroid
    * into a bounded skip, never an O(cell²) blowup; components reuse the
    * two-tier CC under [[graft.text.TextOps.dupClusters]]; the keeper
    * readout is one cluster-keyed min-struct aggregate, no corpus-wide
    * window.
    *
    * Returns (vec_id, cell, cluster, centroid_sim, is_keeper), one row per
    * input vector (singletons are their own keeper).
    *
    * `maxCellSize` must be in [2, 8192] (each eligible cell materializes
    * ONE aggregation row of maxCellSize × dim floats; 4096 is the
    * soak-validated ceiling) — all semDedup* entry points validate this
    * EAGERLY, before any Spark job runs. */
  def semDedup(embeddings: DataFrame, nCells: Int = 16, iters: Int = 2,
               minSim: Double = 0.8, maxCellSize: Int = 256,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireCellCap(maxCellSize)
    val assigned = cellAssignments(embeddings, nCells, iters, idCol, vecCol)
    semDedupFrom(assigned, minSim, maxCellSize, idCol)
  }

  /** The [2, 8192] cell-cap contract shared by every semDedup* entry point
    * (see [[semDedup]]): validated here EAGERLY so an out-of-bounds caller
    * value refuses before any Spark job, not mid-execution inside
    * [[cellPairs]] (which re-checks as defense in depth). */
  private def requireCellCap(maxCellSize: Int): Unit =
    require(maxCellSize >= 2 && maxCellSize <= 8192,
      s"maxCellSize must be in [2, 8192] (per-cell group row holds " +
        s"maxCellSize x dim floats; 4096 is the soak-validated ceiling), " +
        s"got $maxCellSize")

  /** [[semDedup]] at corpus-scaled cell counts: the identical pipeline with
    * the per-vector assignment routed through the two-level super-quantizer
    * ([[assignWithApprox]]'s probe path) instead of the flat k-scan —
    * O(nSuper + probe·k/nSuper) centroid cosines per vector instead of
    * O(k), which is the real bottleneck once k tracks the corpus
    * (corpus/1e4 cells at 1e9 vectors ⇒ k = 1e5). Routing is approximate,
    * so there is no hash oracle; the certification is the census law
    * (spec + soak): probe == nSuper reproduces [[semDedup]] BIT-IDENTICALLY
    * (every super probed ⇒ flat scan), planted-duplicate recall at the
    * documented probe stays ≥ the floor, and recall is monotone in probe.
    * A mis-routed boundary vector can only SPLIT a duplicate group (its
    * pair is scored in neither cell), never invent a false pair — the
    * within-cell cosines stay exact. */
  def semDedupApprox(embeddings: DataFrame, nCells: Int, nSuper: Int,
                     probe: Int, iters: Int = 2, minSim: Double = 0.8,
                     maxCellSize: Int = 256, superIters: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireCellCap(maxCellSize)
    val centroids = kmeansCentroids(embeddings, nCells, iters, idCol, vecCol)
    semDedupApproxWith(embeddings, centroids,
      superQuantizer(centroids, nSuper, superIters), probe,
      minSim, maxCellSize, idCol, vecCol)
  }

  /** [[semDedupApprox]] against FROZEN centroids + super-quantizer — the
    * full production shape composed: train once on a bounded sample
    * ([[semDedupWith]]'s contract), super-quantize the frozen table, and
    * run every dedup pass through the probe-path assignment. Both flat
    * O(corpus·k) passes (per-run training, per-run serving scan) are gone;
    * per-vector cost is O(nSuper + probe·k/nSuper) and per-run driver cost
    * is zero training jobs. */
  def semDedupApproxWith(embeddings: DataFrame, centroids: Array[Array[Double]],
                         sq: SuperQuantizer, probe: Int,
                         minSim: Double = 0.8, maxCellSize: Int = 256,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireCellCap(maxCellSize)
    semDedupFrom(assignWithApproxSim(embeddings, centroids, sq, probe, idCol, vecCol),
      minSim, maxCellSize, idCol)
  }

  /** [[semDedup]] against a FROZEN centroid table: the production shape —
    * at 100 TB nobody trains the quantizer on the full corpus per dedup
    * run; it trains ONCE (typically on a bounded deterministic sample —
    * `embeddings.filter(Curation.sampleHash(col(id), salt) < thr)` keeps
    * selection integer-exact and SQL-replayable) and every pass assigns
    * against the frozen table. Trained-on-everything centroids make this
    * IDENTICAL to [[semDedup]] (spec-pinned identity law); a sampled
    * train changes only WHICH cells exist, never the within-cell exact
    * cosines, so planted near-dups still co-route (soak + spec). The
    * k=2048 soak measured the flat per-run training pass at ~8 s of a
    * 25 s dedup — this is the knob that removes it. */
  def semDedupWith(embeddings: DataFrame, centroids: Array[Array[Double]],
                   minSim: Double = 0.8, maxCellSize: Int = 256,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireCellCap(maxCellSize)
    semDedupFrom(cellAssignmentsWith(embeddings, centroids, idCol, vecCol),
      minSim, maxCellSize, idCol)
  }

  /** The shared SemDeDup tail over an (id, vec, cell, csim) assignment:
    * capped pair stage → components → keep-the-outlier readout. */
  private def semDedupFrom(assigned0: DataFrame, minSim: Double,
                           maxCellSize: Int, idCol: String): DataFrame = {
    // the assignment pass feeds the pair stage, the cluster join, and the
    // keeper readout — pin it once (localCheckpoint on local[n], reliable
    // under the conf) instead of recomputing the k×dim UDF three times
    import graft.operators.Checkpoints.Pinnable
    val assigned = assigned0.pin
    val pairs = cellPairs(assigned.withColumn("is_new", lit(true)),
        minSim, maxCellSize)
      .select("doc_a", "doc_b")
    val clusters = graft.text.TextOps.dupClusters(
      assigned.select(col("id").as("vec_id")), pairs, idCol = "vec_id")
    val withSim = clusters
      .join(assigned.select(col("id").as("doc_id"), col("cell"), col("csim")), "doc_id")
    val keepers = withSim.groupBy("cluster")
      .agg(min(struct(col("csim"), col("doc_id"))).as("kp"))
    withSim.join(keepers, "cluster")
      .select(col("doc_id").as(idCol), col("cell"), col("cluster"),
        col("csim").as("centroid_sim"),
        (col("doc_id") === col("kp.doc_id")).as("is_keeper"))
  }

  /** SemDeDup's pair stage, shared by the batch and incremental forms.
    * The pairwise cosines run INSIDE each capped cell group: vectors ride
    * exactly ONE cell-keyed shuffle and no id-pair ever re-joins the
    * corpus to fetch them (the minhash-sparse lesson — an attach-joins
    * version shuffles the corpus twice more per pair side). Only pairs
    * with `is_new` on at least one side are scored (the batch form marks
    * everything new); the UDF scores on the exact e9 grid ([[gridSimE4]])
    * and thresholds IN PLACE — grid values are engine-exact by
    * construction, so no raw-cosine guard or outer re-round exists. Cells
    * larger than `maxCellSize` (COMBINED occupancy in the incremental
    * form) are skipped — the LSH bucket cap contract. */
  private def cellPairs(assigned: DataFrame, minSim: Double,
                        maxCellSize: Int): DataFrame = {
    // the cap IS the memory contract: each eligible cell materializes one
    // aggregation row of maxCellSize × dim vectors (a 4096-member dim-64
    // cell ≈ 1 MiB; soak-validated at 4096). An unbounded caller value
    // (e.g. 1_000_000) would silently build multi-GB single rows and OOM
    // exactly the way the cap exists to prevent — refuse it loudly.
    require(maxCellSize >= 2 && maxCellSize <= 8192,
      s"maxCellSize must be in [2, 8192] (per-cell group row holds " +
        s"maxCellSize x dim floats; 4096 is the soak-validated ceiling), " +
        s"got $maxCellSize")
    val pairsUdf = udf { (members: Seq[Row]) =>
      // unbox each member ONCE (primitive Array[Float]): the quadratic
      // below touches every vector c−1 times, and boxed Seq access in the
      // hot loop was the whole stage cost at 1 M × dim 64 (soak-measured)
      val ms = members.map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getBoolean(2))).sortBy(_._1).toArray
      // norm moments are pair-independent — one pass per member, so the
      // quadratic pays only the dot moment per pair (cheaper than the old
      // cosineFF, which re-accumulated both norms inside every pair)
      val norms = ms.map(m => normE9F(m._2))
      val out = Seq.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < ms.length) {
        var j = i + 1
        while (j < ms.length) {
          if (ms(i)._3 || ms(j)._3) {
            // exact-grid sim: the threshold compare IS final (no raw-cosine
            // guard + outer re-round — grid values need no second pass)
            val s = gridSimE4(dotE9FF(ms(i)._2, ms(j)._2), norms(i), norms(j))
            if (s >= minSim) out += ((ms(i)._1, ms(j)._1, s))
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }
    // the cap is enforced BEFORE the member collect: a cell over the cap
    // must never materialize its vectors in an aggregation buffer (the
    // whole point of the cap is that adversarial mass at one centroid
    // costs a bounded skip, and a collect-then-drop would OOM first). The
    // count frame is <= nCells rows — the quantizer's own bound — so the
    // eligibility join is a broadcast, not a shuffle.
    val okCells = assigned.groupBy("cell")
      .agg(count(lit(1)).as("csz"))
      .filter(col("csz").between(2, maxCellSize))
      .select("cell")
    assigned
      .join(broadcast(okCells), "cell")
      .groupBy("cell")
      .agg(collect_list(struct(col("id"), col("vec"), col("is_new")))
        .as("members"))
      .select(explode(pairsUdf(col("members"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"),
        col("p._3").as("sim"))
  }

  /** Frozen-quantizer batch assignment with the (id, vec, cell) layout
    * [[semDedupIncrementalPairs]] consumes — persist it with [[ivfWrite]]
    * so `cell` is a partition column and the incremental join prunes. */
  def assignWith(embeddings: DataFrame, centroids: Array[Array[Double]],
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Float]) => nearestCell(bc.value, v))
    embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("cell", assignUdf(col("vec")))
  }

  /** A two-level index over a FLAT centroid table: `nSuper` super-centroids
    * (driver-side Lloyd over the k centroids themselves — k is bounded, so
    * this is pure local math) plus each centroid's super assignment.
    * Deterministic: seeds are centroids 0..nSuper-1, assignment is argmax
    * cosine with ties to the lower index, updates are plain means.
    *
    * Why: the flat nearest-cell scan is k×dim work per vector. SemDeDup
    * and IVF size k WITH the corpus (corpus/1e4 cells -> k = 10^5 at 10^9
    * vectors), so at deployment scale the scan itself becomes the
    * assignment bottleneck. Probing `p` of the `nSuper` super-cells cuts
    * the scan to (nSuper + p·k/nSuper)×dim — with nSuper = sqrt(k) that is
    * ~(1+p)·sqrt(k)×dim, a sqrt(k)/(1+p) speedup at any corpus size. */
  final case class SuperQuantizer(superCentroids: Array[Array[Double]],
                                  memberOf: Array[Array[Int]]) {
    require(superCentroids.nonEmpty && memberOf.length == superCentroids.length)
  }

  def superQuantizer(centroids: Array[Array[Double]], nSuper: Int,
                     iters: Int = 4): SuperQuantizer = {
    require(nSuper > 0 && nSuper <= centroids.length,
      s"need 0 < nSuper <= k (got $nSuper of ${centroids.length})")
    def cosDD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var sup = Array.tabulate(nSuper)(s => centroids(s).clone())
    var assign = new Array[Int](centroids.length)
    var it = 0
    while (it <= iters) {
      var c = 0
      while (c < centroids.length) {
        var best = 0; var bestSim = Double.NegativeInfinity; var s = 0
        while (s < sup.length) {
          val sim = cosDD(sup(s), centroids(c))
          if (sim > bestSim) { best = s; bestSim = sim }
          s += 1
        }
        assign(c) = best
        c += 1
      }
      if (it < iters) {
        val dim = centroids.head.length
        val next = Array.fill(nSuper)(new Array[Double](dim))
        val cnt = new Array[Int](nSuper)
        var c2 = 0
        while (c2 < centroids.length) {
          val s = assign(c2); cnt(s) += 1
          var d = 0
          while (d < dim) { next(s)(d) += centroids(c2)(d); d += 1 }
          c2 += 1
        }
        var s2 = 0
        while (s2 < nSuper) {
          if (cnt(s2) > 0) {
            var d = 0
            while (d < dim) { next(s2)(d) /= cnt(s2); d += 1 }
            sup = sup.updated(s2, next(s2))
          }
          s2 += 1
        }
      }
      it += 1
    }
    val members = Array.fill(nSuper)(List.newBuilder[Int])
    assign.indices.foreach(c => members(assign(c)) += c)
    SuperQuantizer(sup, members.map(_.result().toArray))
  }

  /** Two-level frozen-quantizer assignment: scan the nSuper super-cells,
    * keep the `probe` best, then argmax over only THOSE supers' member
    * centroids (ties to the lower cell index, like the flat scan). With
    * `probe == nSuper` the scan is exhaustive and the result EQUALS
    * [[assignWith]] bit-for-bit (spec-pinned law); smaller probes trade an
    * exactly-measurable sliver of cell agreement for the sqrt(k) speedup —
    * soak-measured at 1 M x 64 / k = 2048. Approximate assignment shifts
    * only boundary-straddling vectors, the same class SemDeDup's recall
    * already concedes. */
  def assignWithApprox(embeddings: DataFrame, centroids: Array[Array[Double]],
                       sq: SuperQuantizer, probe: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probe > 0 && probe <= sq.superCentroids.length,
      s"need 0 < probe <= nSuper (got $probe of ${sq.superCentroids.length})")
    val sc = embeddings.sparkSession.sparkContext
    val bcC = sc.broadcast(centroids)
    val bcS = sc.broadcast(sq)
    val assignUdf = udf { (v: Seq[Float]) =>
      probedNearestCellSim(bcC.value, bcS.value, probe, v.toArray)._1
    }
    embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("cell", assignUdf(col("vec")))
  }

  /** [[assignWithApprox]] carrying the winning centroid cosine on the
    * 4-decimal grid — the (id, vec, cell, csim) layout [[semDedupApprox]]'s
    * keeper rule consumes, mirroring [[cellAssignments]] for the flat scan
    * (the argmax already evaluates the winning cosine; a second pass would
    * re-pay the probe work). */
  private def assignWithApproxSim(embeddings: DataFrame,
      centroids: Array[Array[Double]], sq: SuperQuantizer, probe: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(probe > 0 && probe <= sq.superCentroids.length,
      s"need 0 < probe <= nSuper (got $probe of ${sq.superCentroids.length})")
    val sc = embeddings.sparkSession.sparkContext
    val bcC = sc.broadcast(centroids)
    val bcS = sc.broadcast(sq)
    val assignUdf = udf { (v: Seq[Float]) =>
      val va = v.toArray
      val cell = probedNearestCellSim(bcC.value, bcS.value, probe, va)._1
      // same emitted-grid contract as cellAssignmentsWith: the probe picks
      // the cell (raw ranking), the EMITTED csim rides the e9 grid
      (cell, gridSimE4(dotE9DF(bcC.value(cell), va),
        normE9F(va), normE9D(bcC.value(cell))))
    }
    embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("a", assignUdf(col("vec")))
      .select(col("id"), col("vec"), col("a._1").as("cell"),
        col("a._2").as("csim"))
  }

  /** The two-level probe scan shared by [[assignWithApprox]] and
    * [[assignWithApproxSim]]: top-`probe` supers by cosine, argmax over
    * those supers' member centroids. Returns (cell, cosine). */
  private def probedNearestCellSim(cs: Array[Array[Double]],
      s: SuperQuantizer, probe: Int, va: Array[Float]): (Int, Double) = {
    val nS = s.superCentroids.length
    // top-`probe` supers by cosine (ties to lower index): selection scan
    val simS = new Array[Double](nS)
    var i = 0
    while (i < nS) { simS(i) = cosineArrF(s.superCentroids(i), va); i += 1 }
    val picked = new Array[Int](probe)
    val used = new Array[Boolean](nS)
    var p = 0
    while (p < probe) {
      var best = -1; var bestSim = Double.NegativeInfinity
      var j = 0
      while (j < nS) {
        if (!used(j) && simS(j) > bestSim) { best = j; bestSim = simS(j) }
        j += 1
      }
      used(best) = true; picked(p) = best; p += 1
    }
    var bestCell = Int.MaxValue
    var bestSim = Double.NegativeInfinity
    p = 0
    while (p < probe) {
      val members = s.memberOf(picked(p))
      var m = 0
      while (m < members.length) {
        val c = members(m)
        val sim = cosineArrF(cs(c), va)
        // strictly-greater keeps the LOWEST cell index on ties only if
        // candidates arrive in index order — they don't across supers,
        // so break ties explicitly
        if (sim > bestSim || (sim == bestSim && c < bestCell)) {
          bestCell = c; bestSim = sim
        }
        m += 1
      }
      p += 1
    }
    // every probed super was empty (possible after a super loses all
    // members to its neighbors): fall back to the flat exhaustive scan
    if (bestCell == Int.MaxValue) nearestCellSim(cs, va)
    else (bestCell, bestSim)
  }

  /** Incremental SemDeDup — the daily-batch deployment shape (the q364
    * idiom in embedding space): the quantizer is FROZEN (trained once on
    * the standing corpus; nobody retrains per batch), the corpus lives at
    * rest as [[assignWith]] output, and each new batch assigns against the
    * frozen centroids and scores only pairs TOUCHING the batch —
    * new×corpus and new×new inside the shared cells; corpus×corpus pairs
    * were already adjudicated at their own ingest and never rescore.
    * Combined cell occupancy above `maxCellSize` skips, like the batch
    * form. Returns qualifying (doc_a, doc_b, sim) with doc_a < doc_b. */
  def semDedupIncrementalPairs(assignedCorpus: DataFrame, assignedNew: DataFrame,
                               minSim: Double = 0.8, maxCellSize: Int = 256): DataFrame = {
    requireCellCap(maxCellSize)
    // only cells the batch TOUCHES can produce a touching-new pair, so the
    // corpus at rest is semi-joined down to them BEFORE anything shuffles:
    // per-batch cost scales with the corpus mass in touched cells (over an
    // ivfWrite'd store this is partition pruning), never the whole corpus.
    // The touched-cell frame is <= nCells rows — a broadcast by the
    // quantizer's own bound.
    val newCells = assignedNew.select("cell").distinct()
    val all = assignedCorpus
      .join(broadcast(newCells), "cell")
      .select(col("id"), col("vec"), col("cell"), lit(false).as("is_new"))
      .unionByName(assignedNew
        .select(col("id"), col("vec"), col("cell"), lit(true).as("is_new")))
    cellPairs(all, minSim, maxCellSize)
  }

  /** All unordered id pairs of one bounded bucket row ([[cosineLshPairs]]);
    * inputs are capped upstream so the quadratic stays inside one small
    * in-memory array. */
  private def allPairsUdf = udf { (ids: Seq[Long]) =>
    val sorted = ids.toArray.sorted
    for (i <- sorted.indices.toSeq; j <- i + 1 until sorted.length)
      yield (sorted(i), sorted(j))
  }

  /** Semantic decontamination: the embedding-space sibling of the trigram
    * decontamination report (Curation.decontaminationReport) — a training
    * vector is contaminated when some EVAL vector in its coarse-quantizer
    * cell is cosine-similar at >= `minSim` (the cell bound is SemDeDup's:
    * near-identical embeddings share a cell, so eval screening never scans
    * the corpus pairwise). Eval membership is `id % evalMod == 0`; the
    * quantizer trains on the full corpus so both populations share cells.
    *
    * One row per TRAIN vector: (vec_id, cell, n_eval_matches, max_sim,
    * contaminated); max_sim is null for train vectors whose cell holds no
    * eval vector. 100 TB shape: assignment is one narrow pass; the
    * cell-keyed train×eval join carries only (cell, vec) rows, and a real
    * deployment's eval side is benchmark-sized — a broadcast — while this
    * synthetic slice (1/evalMod of the corpus) exercises the general
    * shuffled-by-cell path.
    *
    * `maxEvalPerCell` bounds the per-cell quadratic the way cellPairs'
    * maxCellSize does — but LOUDLY (a raise_error that fires at EXECUTION
    * time, per offending eval row, regardless of whether the oversized
    * cell would contribute any train-side screen work — the projection
    * evaluates before the left join) instead of skipping: decontamination
    * must never silently under-report because adversarial mass landed at
    * one centroid, so an oversized eval cell is a refusal, not a skip. Per
    * train row the join cost is then ≤ maxEvalPerCell cosines. The count
    * frame is ≤ nCells rows — the eligibility join broadcasts. */
  def semanticDecontamination(embeddings: DataFrame, evalMod: Long = 23,
                              nCells: Int = 16, iters: Int = 2, minSim: Double = 0.25,
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              maxEvalPerCell: Int = 16384): DataFrame = {
    import graft.operators.Checkpoints.Pinnable
    val asg = cellAssignments(embeddings, nCells, iters, idCol, vecCol).pin
    val train = asg.filter(col("id") % evalMod =!= 0)
      .select(col("id"), col("cell"), col("vec"))
    val evCounts = asg.filter(col("id") % evalMod === 0)
      .groupBy("cell").agg(count(lit(1)).as("_evn"))
    val ev = asg.filter(col("id") % evalMod === 0)
      .join(broadcast(evCounts), "cell")
      .select(col("cell"),
        when(col("_evn") <= maxEvalPerCell, col("vec"))
          .otherwise(raise_error(format_string(
            s"semanticDecontamination: cell %d holds %d eval vectors > " +
              s"maxEvalPerCell=$maxEvalPerCell — the per-cell screen would " +
              s"go quadratic; raise nCells or maxEvalPerCell explicitly",
            col("cell"), col("_evn")))).as("e_vec"))
    // train-x-eval screen scores on the exact e9 grid (train moment first —
    // mirrors the oracle's gridSimE4Sql(t.v, e.ev_v) argument order)
    val gridSimUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
      val aa = a.toArray; val ba = b.toArray
      gridSimE4(dotE9FF(aa, ba), normE9F(aa), normE9F(ba))
    }
    train.join(ev, Seq("cell"), "left")
      .select(col("id"), col("cell"),
        when(col("e_vec").isNotNull,
          gridSimUdf(col("vec"), col("e_vec"))).as("sim"))
      .groupBy("id", "cell")
      .agg(sum(when(col("sim") >= minSim, 1L).otherwise(0L)).as("n_eval_matches"),
        max(col("sim")).as("max_sim"))
      .select(col("id").as(idCol), col("cell"), col("n_eval_matches"),
        col("max_sim"), (col("n_eval_matches") > 0).as("contaminated"))
  }

  /** IVF tuning knobs, surfaced at the query layer so a deployment sizes
    * them to its corpus instead of inheriting test-scale defaults:
    *
    *  - `nCells`: coarse-quantizer cell count. Scale it ~ sqrt(corpus
    *    vectors) so per-cell scan size and centroid-table size balance
    *    (probe cost ~ nprobe * n/nCells rows; driver + broadcast state ~
    *    nCells * dim doubles): 60k vectors -> ~256 cells, 1M -> ~1k,
    *    1B -> ~32k. The defaults here (16 cells, 2 iterations, 3 probes)
    *    are the sf-test-scale setting the q52 oracle replicates.
    *  - `iters`: Lloyd refinement rounds; each costs one narrow
    *    assign pass plus a tiny (cell, dim) aggregate. 2 is enough for a
    *    coarse quantizer — more rounds sharpen cells but don't change the
    *    probe shape.
    *  - `nprobe`: probed cells per query, the recall/latency dial.
    *    nprobe == nCells degenerates to exact brute force (and is asserted
    *    equal to it in the spec). */
  final case class IvfParams(nCells: Int = 16, iters: Int = 2, nprobe: Int = 3) {
    require(nCells > 0 && iters >= 0 && nprobe > 0 && nprobe <= nCells,
      s"need 0 < nprobe <= nCells and iters >= 0 (got $this)")
  }

  /** End-to-end IVF ANN query: train the coarse quantizer, assign, probe.
    * For a standing corpus, train/assign once, `ivfWrite` the assignment,
    * and serve queries with `ivfTopK` over the partition-pruned table —
    * this convenience re-trains per call and is the ad-hoc/test-scale
    * surface. */
  def ivfSearch(embeddings: DataFrame, query: Array[Float], k: Int,
                params: IvfParams = IvfParams(), excludeId: Long = -1L,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = kmeansCentroids(embeddings, params.nCells, params.iters, idCol, vecCol)
    val assigned = ivfAssign(embeddings, centroids, vecCol)
    ivfTopK(assigned, centroids, query, k, params.nprobe, excludeId, idCol, vecCol)
  }

  /** IVF search: probe the `nprobe` cells whose centroids are most similar
    * to the query (ranked locally on the bounded broadcast table — no jobs,
    * no collects), then exact top-k within the probed fraction. Over an
    * ivfWrite'd table the cell filter is a partition-pruning predicate. */
  def ivfTopK(assigned: DataFrame, centroids: Array[Array[Double]],
              query: Array[Float], k: Int, nprobe: Int = 3, excludeId: Long = -1L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probeCells = centroids.indices
      .map(c => (c, cosineArr(centroids(c), query.toSeq)))
      .sortBy { case (c, s) => (-s, c) }
      .take(nprobe).map(_._1)
    bruteForceTopK(assigned.filter(col("cell").isin(probeCells: _*)),
      query, k, excludeId, idCol, vecCol)
  }

  /** Multi-query IVF recall audit (q307): for a FIXED-COUNT deterministic
    * query batch ([[fixedCountQueryBatch]], salt `"ivfq"` — `nQueries`
    * rows at ANY corpus size), compare the IVF-probed top-k against the
    * exact brute-force top-k on the SAME exact-grid cosine (floor_dot_e9 —
    * the q272 rescoring idiom, codegen'd), and report the recall@k
    * distribution. This is the self-certifying measurement of what the
    * nprobe dial trades: the Lloyd quantizer and final assignment are the
    * certified q52 path, probe cells rank per query driver-side on the
    * bounded centroid table (nQueries × nCells small dots — no jobs),
    * candidate scan is one shuffle-free broadcast join on `cell`, and the
    * brute tier streams the corpus once past the O(nQueries) broadcast
    * query frame. All rank ties break (sim DESC, id ASC) on the 6-decimal
    * grid, so the audit is engine-exact; an oracle replays the batch as
    * `row_number() OVER (ORDER BY md5-hash, id) <= nQueries`. (This
    * replaced the r13 `cid % queryMod` batch whose broadcast grew as
    * O(corpus/queryMod) — ~12 GB of full vectors at 10⁹ rows.) */
  def ivfRecallAudit(embeddings: DataFrame, k: Int = 10,
                     params: IvfParams = IvfParams(), nQueries: Int = 20,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Checkpoints.Pinnable
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.GridFunctions.register(spark)
    val centroids = kmeansCentroids(embeddings, params.nCells, params.iters,
      idCol, vecCol)
    val a = ivfAssign(embeddings, centroids, vecCol)
      .withColumn("e2", expr(s"floor_dot_e9($vecCol, $vecCol)"))
      .filter(col("e2") > 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        col("e2").as("ec"), col("cell"))
      .pin // three consumers: queries, probed scan, brute scan
    val nprobe = params.nprobe
    // fixed-count query batch; probe cells rank driver-side on the bounded
    // centroid table, so the query frame is O(nQueries) rows end to end
    val qRows = fixedCountQueryBatch(a, "ivfq", nQueries, a.count(),
      Seq("cv", "ec"))
    val q = qRows.toSeq.map { r =>
      val qv = r.getSeq[Float](1)
      val probes = centroids.indices
        .map(c => (c, cosineArr(centroids(c), qv)))
        .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1)
      (r.getLong(0), qv, r.getLong(2), probes)
    }.toDF("qid", "qv", "eq", "probes")
    val sim = graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(qv, cv)").cast("double") /
      sqrt(col("eq").cast("double") * col("ec").cast("double")))
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    def topK(scored: DataFrame): DataFrame = scored
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"))
    val ivfTop = topK(broadcast(q.select(col("qid"), col("qv"), col("eq"),
        explode(col("probes")).as("cell")))
      .join(a, Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim", sim))
    val bruteTop = topK(broadcast(q.drop("probes")).crossJoin(a)
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim", sim))
    val common = ivfTop.join(bruteTop, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_common"))
    q.select("qid").join(common, Seq("qid"), "left")
      .na.fill(0L, Seq("n_common"))
      .groupBy(col("n_common").as("recall_at_k"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy("recall_at_k")
  }

  /** Batch IVF serving: answer a whole frame of queries with ONE probed
    * candidate join — the q307 audit's probe plan extracted as a
    * first-class API. The single-query [[ivfTopK]] is the ad-hoc surface;
    * a serving deployment batches queries, and this is that path:
    *
    *  - `queries` is a BATCH (broadcast-sized — thousands of rows, not a
    *    corpus): probe cells rank locally against the bounded broadcast
    *    centroid table (no jobs), then the exploded (query, cell) frame
    *    broadcasts into one equi-join on `cell`. Over an [[ivfWrite]]'d
    *    table the cell predicate partition-prunes, so the scan reads only
    *    the union of all probed cells across the batch — batching
    *    amortizes the corpus scan across every query in the frame.
    *  - scoring is the exact-grid cosine (floor_dot_e9, codegen'd,
    *    6-decimal round, ties sim DESC then id ASC) so results are
    *    engine-exact and SQL-replayable; per-query top-k is a row_number
    *    rank filter that Spark rewrites to WindowGroupLimit (partial
    *    top-k before the qid shuffle).
    *
    * Returns (qid, rk, cid, sim), rk in 1..k. `excludeSelfId` drops
    * candidates whose id equals the query id (corpus-internal queries);
    * disable it when query ids live in a different id space. */
  def ivfTopKMulti(assigned: DataFrame, centroids: Array[Array[Double]],
                   queries: DataFrame, k: Int, nprobe: Int = 3,
                   excludeSelfId: Boolean = true,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && nprobe > 0 && nprobe <= centroids.length,
      s"need 0 < nprobe <= nCells and k > 0 (got k=$k nprobe=$nprobe)")
    val spark = assigned.sparkSession
    graft.functions.GridFunctions.register(spark)
    val bc = spark.sparkContext.broadcast(centroids)
    val probesUdf = udf { (v: Seq[Float]) =>
      val cs = bc.value
      cs.indices.map(c => (c, cosineArr(cs(c), v)))
        .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1)
    }
    val cand = assigned
      .withColumn("__ec", expr(s"floor_dot_e9($vecCol, $vecCol)"))
      .filter(col("__ec") > 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("__cv"),
        col("__ec"), col("cell"))
    val qf = queries
      .withColumn("__eq", expr(s"floor_dot_e9($qvecCol, $qvecCol)"))
      .filter(col("__eq") > 0)
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("__qv"),
        col("__eq"), explode(probesUdf(col(qvecCol))).as("cell"))
    val joined0 = broadcast(qf).join(cand, Seq("cell"))
    val joined = if (excludeSelfId) joined0.filter(col("cid") =!= col("qid"))
                 else joined0
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    joined
      .withColumn("sim", graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(__qv, __cv)").cast("double") /
        sqrt(col("__eq").cast("double") * col("__ec").cast("double"))))
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("cid"), col("sim"))
  }

  /** Adaptive probe policy: cells ranked by centroid similarity (DESC,
    * ties to the lower cell id), probed until the EXCLUSIVE running
    * candidate total reaches `k * margin` — i.e. a cell is probed iff the
    * cells ranked before it hold fewer than k*margin candidates, so the
    * first cell is always probed and probing stops as soon as the
    * candidate pool is deep enough to rank k results from. This replaces
    * the fixed `nprobe` dial with a RECALL-TARGETED one: dense queries
    * (landing in big cells) probe few cells, sparse ones probe more, and
    * the scanned fraction tracks k*margin/corpus instead of nprobe/nCells.
    * The policy is deterministic given (centroids, per-cell counts), so a
    * SQL oracle replays it exactly (q340). */
  private[text] def adaptiveProbeCells(centroids: Array[Array[Double]],
                                       cellCounts: Array[Long],
                                       v: Seq[Float], k: Int,
                                       margin: Int): Seq[Int] = {
    val target = k.toLong * margin
    val ranked = centroids.indices
      .map(c => (c, cosineArr(centroids(c), v)))
      .sortBy { case (c, s) => (-s, c) }
    val out = Seq.newBuilder[Int]
    var cum = 0L
    var i = 0
    while (i < ranked.length && cum < target) {
      val c = ranked(i)._1
      out += c
      cum += cellCounts(c)
      i += 1
    }
    out.result()
  }

  /** Per-cell candidate counts over the SCORABLE corpus (zero-norm vectors
    * can never rank, so they don't count toward the probe target). Bounded
    * collect: nCells rows. */
  private[text] def scorableCellCounts(assigned: DataFrame, nCells: Int,
                                       vecCol: String): Array[Long] = {
    graft.functions.GridFunctions.register(assigned.sparkSession)
    val counts = new Array[Long](nCells)
    assigned
      .filter(expr(s"floor_dot_e9($vecCol, $vecCol)") > 0)
      .groupBy("cell").count()
      .collect()
      .foreach(r => counts(r.getAs[Number]("cell").intValue()) = r.getLong(1))
    counts
  }

  /** [[ivfTopKMulti]] with the ADAPTIVE probe policy: per-query probe depth
    * comes from [[adaptiveProbeCells]] (probe until k*margin candidates)
    * instead of a fixed nprobe. Returns (qid, rk, cid, sim) like the fixed
    * form. On well-clustered corpora most queries stop after one or two
    * cells; on adversarially uniform vectors (this testbed's synthetic
    * embeddings — IVF's worst case) the policy honestly probes deep, which
    * is exactly what a recall target costs there. */
  def ivfTopKMultiAdaptive(assigned: DataFrame, centroids: Array[Array[Double]],
                           queries: DataFrame, k: Int, margin: Int = 20,
                           excludeSelfId: Boolean = true,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && margin > 0, s"need k > 0 and margin > 0 (got k=$k margin=$margin)")
    val spark = assigned.sparkSession
    graft.functions.GridFunctions.register(spark)
    val counts = scorableCellCounts(assigned, centroids.length, vecCol)
    val bc = spark.sparkContext.broadcast((centroids, counts))
    val probesUdf = udf { (v: Seq[Float]) =>
      val (cs, cnts) = bc.value
      adaptiveProbeCells(cs, cnts, v, k, margin)
    }
    val cand = assigned
      .withColumn("__ec", expr(s"floor_dot_e9($vecCol, $vecCol)"))
      .filter(col("__ec") > 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("__cv"),
        col("__ec"), col("cell"))
    val qf = queries
      .withColumn("__eq", expr(s"floor_dot_e9($qvecCol, $qvecCol)"))
      .filter(col("__eq") > 0)
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("__qv"),
        col("__eq"), explode(probesUdf(col(qvecCol))).as("cell"))
    val joined0 = broadcast(qf).join(cand, Seq("cell"))
    val joined = if (excludeSelfId) joined0.filter(col("cid") =!= col("qid"))
                 else joined0
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    joined
      .withColumn("sim", graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(__qv, __cv)").cast("double") /
        sqrt(col("__eq").cast("double") * col("__ec").cast("double"))))
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("cid"), col("sim"))
  }

  /** Recall + probe-cost audit of the ADAPTIVE policy (q340): like
    * [[ivfRecallAudit]] but probing via [[adaptiveProbeCells]], and the
    * census carries the measured cost — per recall level, how many queries
    * landed there, how many cells they probed, and how many candidate rows
    * those probes scanned (both exact integer sums, so the oracle replays
    * the cost numbers bit-for-bit, not just the recall histogram). Queries
    * are the fixed-count deterministic batch ([[fixedCountQueryBatch]],
    * salt `"aivfq"`) — O(nQueries) driver bytes and broadcast at any
    * corpus size; probe selection runs driver-side against the bounded
    * (centroids, cellCounts) pair, so cost accounting is exact with no
    * per-row UDF dispatch. */
  def ivfAdaptiveRecallAudit(embeddings: DataFrame, k: Int = 10,
                             params: IvfParams = IvfParams(),
                             margin: Int = 20, nQueries: Int = 20,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Checkpoints.Pinnable
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.GridFunctions.register(spark)
    val centroids = kmeansCentroids(embeddings, params.nCells, params.iters,
      idCol, vecCol)
    val a = ivfAssign(embeddings, centroids, vecCol)
      .withColumn("e2", expr(s"floor_dot_e9($vecCol, $vecCol)"))
      .filter(col("e2") > 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        col("e2").as("ec"), col("cell"))
      .pin // four consumers: cell counts, queries, probed scan, brute scan
    val counts = new Array[Long](params.nCells)
    a.groupBy("cell").count().collect()
      .foreach(r => counts(r.getAs[Number]("cell").intValue()) = r.getLong(1))
    // fixed-count query batch; adaptive probe sets + scan costs computed
    // driver-side on the bounded (centroids, counts) pair
    val qRows = fixedCountQueryBatch(a, "aivfq", nQueries, counts.sum,
      Seq("cv", "ec"))
    val q = qRows.toSeq.map { r =>
      val qv = r.getSeq[Float](1)
      val cells = adaptiveProbeCells(centroids, counts, qv, k, margin)
      (r.getLong(0), qv, r.getLong(2), cells, cells.map(counts(_)).sum)
    }.toDF("qid", "qv", "eq", "probes", "scanned")
    val sim = graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(qv, cv)").cast("double") /
      sqrt(col("eq").cast("double") * col("ec").cast("double")))
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    def topK(scored: DataFrame): DataFrame = scored
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"))
    val ivfTop = topK(broadcast(q.select(col("qid"), col("qv"), col("eq"),
        explode(col("probes")).as("cell")))
      .join(a, Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim", sim))
    val bruteTop = topK(broadcast(q.drop("probes")).crossJoin(a)
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim", sim))
    val common = ivfTop.join(bruteTop, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_common"))
    q.select(col("qid"), size(col("probes")).cast("long").as("n_probed"),
        col("scanned"))
      .join(common, Seq("qid"), "left")
      .na.fill(0L, Seq("n_common"))
      .groupBy(col("n_common").as("recall_at_k"))
      .agg(count(lit(1)).as("n_queries"),
        sum("n_probed").as("sum_probed_cells"),
        sum("scanned").as("sum_scanned_rows"))
      .orderBy("recall_at_k")
  }

  // --- product quantization (IVF-PQ's fine quantizer) ----------------------

  /** Per-subspace nearest codes (L2 Lloyd assignment, ties to the lowest
    * code) — the PQ encoder kernel. Distances compare as sqrt(Σ(x−c)²) with
    * a left-to-right dim loop so a SQL replica (`list_distance`) agrees
    * bit-for-bit. */
  private[text] def pqAssign(books: Array[Array[Array[Double]]],
                       v: Seq[Float]): Array[Int] = {
    val vv = v match {
      case s: scala.collection.IndexedSeq[Float] => s
      case s => s.toIndexedSeq
    }
    val m = books.length
    val sd = books(0)(0).length
    Array.tabulate(m) { s =>
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < books(s).length) {
        val cv = books(s)(c)
        var d2 = 0.0
        var j = 0
        while (j < sd) { val t = vv(s * sd + j) - cv(j); d2 += t * t; j += 1 }
        val d = math.sqrt(d2)
        if (d < bestD) { best = c; bestD = d }
        c += 1
      }
      best
    }
  }

  /** Product-quantization codebooks: `m` subspaces × `k` codes each, from
    * JOINT per-subspace L2 Lloyd rounds (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the memory
    * tier below int8: dim floats → m code bytes (64-dim → 8 bytes at
    * m=8, k≤256). Scale shape mirrors [[kmeansCentroids]]:
    *  - seeding: the k md5-smallest vectors, sliced per subspace (one
    *    bounded TakeOrdered; md5 so a SQL oracle reproduces it);
    *  - each round: ONE corpus pass — broadcast-encode (narrow, projected
    *    below the explode), then a (sub, code, dim) moment aggregate of
    *    m·k·subdim = dim·k groups, map-side combined. All m subspaces
    *    train in the same pass; nothing driver-side exceeds the m×k×subdim
    *    codebook. Means accumulate on the e9 integer grid (long sums —
    *    merge-order-free at any parallelism, bit-identical to the SQL
    *    oracle's replica); a 100 TB corpus trains on a bounded sample
    *    anyway, as every published PQ system does. */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                  iters: Int = 2, idCol: String = "vec_id",
                  vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val spark = embeddings.sparkSession
    val seeds = embeddings
      .orderBy(substring(md5(col(idCol).cast("string")), 1, 15), col(idCol))
      .limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val dim = seeds.head.length
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val sd = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m, k)((s, c) =>
      java.util.Arrays.copyOfRange(seeds(c), s * sd, (s + 1) * sd))
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(books)
      val encodeU = udf((v: Seq[Float]) => pqAssign(bc.value, v))
      // like kmeansCentroids: the encode UDF projects BELOW the explode so
      // it runs once per vector, not once per exploded (sub, dim) row
      // same order-invariant e9-grid moment accumulation as kmeansCentroids:
      // long sums are merge-order-free where double sums are not
      val moments = embeddings
        .select(encodeU(col(vecCol)).as("codes"), col(vecCol).as("_v"))
        .select(posexplode(col("codes")).as(Seq("sub", "code")), col("_v"))
        .select(col("sub"), col("code"),
          posexplode(expr(s"slice(_v, sub * $sd + 1, $sd)")).as(Seq("j", "x")))
        .groupBy("sub", "code", "j")
        .agg(sum(floor(col("x").cast("double") * lit(1e9)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      moments.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getLong(3).toDouble / 1e9 / r.getLong(4)
      }
      books = next
      it += 1
    }
    books
  }

  /** PQ-encode the corpus: one narrow pass appending the `codes` column
    * (m small ints — the at-rest representation a PQ store persists). */
  def pqEncode(embeddings: DataFrame, books: Array[Array[Array[Double]]],
               vecCol: String = "embedding"): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(books)
    val encodeU = udf((v: Seq[Float]) => pqAssign(bc.value, v))
    embeddings.withColumn("codes", encodeU(col(vecCol)))
  }

  /** Fixed-count deterministic query batch for the ANN audits: the `nq`
    * corpus rows with the SMALLEST salt-derived 60-bit md5 uniforms
    * ([[Curation.sampleHash]] order, id tie-break). Selection is two-step
    * so no corpus-proportional slice ever reaches the driver: a generous
    * hash-threshold pre-filter (integer threshold floor((8·nq << 60)/n),
    * expected 8·nq survivors) bounds the collect at O(nq) at ANY corpus
    * size, then the driver takes the global top-nq by (hash, id) — which
    * the pre-filter provably contains whenever ≥ nq rows survive it
    * (require()d: the nq smallest hashes all sit below any threshold that
    * admits nq rows). An oracle replays the batch WITHOUT the threshold:
    * `row_number() OVER (ORDER BY hash, id) <= nq`. This replaced the r13
    * `cid % queryMod` batches, whose driver collect and plan-attached ADC
    * LUTs grew as O(corpus/queryMod) — at 10⁹ vectors the audit itself
    * would have OOMed the driver. Rows come back shaped exactly as
    * `cols`, sorted by id. */
  private[text] def fixedCountQueryBatch(a: DataFrame, salt: String,
      nq: Int, corpusN: Long, cols: Seq[String],
      idCol: String = "cid"): Array[org.apache.spark.sql.Row] = {
    require(nq > 0, s"nQueries must be positive, got $nq")
    require(corpusN >= nq, s"corpus has $corpusN usable rows < nQueries=$nq")
    val thr = ((BigInt(8L * nq) << 60) / BigInt(corpusN))
      .min(BigInt(1) << 60).toLong
    val h = Curation.sampleHash(col(idCol), salt)
    val pre = a.filter(h < lit(thr))
      .select(h.as("_qh") +: col(idCol) +: cols.map(col): _*)
      .collect()
    require(pre.length >= nq,
      s"hash pre-filter kept ${pre.length} rows < nQueries=$nq " +
        s"(corpus $corpusN, salt '$salt') — raise the slack factor")
    pre.sortBy(r => (r.getLong(0), r.getLong(1))).take(nq)
      .sortBy(_.getLong(1))
      .map(r => org.apache.spark.sql.Row(r.toSeq.drop(1): _*))
  }

  /** The DuckDB form of [[fixedCountQueryBatch]]'s selection predicate,
    * for oracle qs-CTEs: wrap the base relation's rows with
    * `row_number() OVER (ORDER BY <this hash expr>, vec_id) <= nq`. */
  def fixedCountHashSql(salt: String, idSql: String): String =
    s"CAST(('0x' || substr(md5('$salt:' || $idSql), 1, 15)) AS UBIGINT)"

  /** PQ-ADC recall audit (q350): serve approximate cosine top-k entirely
    * from the PQ codes via asymmetric-distance lookup tables, and compare
    * against the exact-grid brute top-k per query (the q307 audit shape).
    *
    * ADC here is EXACT-INTEGER end to end so the oracle replays it: per
    * (query, sub, code) the dot-product LUT entry floors onto the e9 grid
    * (floor(dot·1e9) as long), the reconstruction-norm LUT likewise, and a
    * candidate's score sums m LUT longs (order-free) before ONE double
    * division gridRound6(dot_e9 / sqrt(n2_e9)). Serving cost per candidate
    * is m lookups + m adds — never a dim-length dot product; the LUT
    * build is nq·m·k small dots on the driver (bounded, broadcast). */
  def pqRecallAudit(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                    iters: Int = 2, topK: Int = 10, nQueries: Int = 10,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Checkpoints.Pinnable
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.GridFunctions.register(spark)
    val books = pqCodebooks(embeddings, m, k, iters, idCol, vecCol)
    val sd = books(0)(0).length
    val bcB = spark.sparkContext.broadcast(books)
    val encodeU = udf((v: Seq[Float]) => pqAssign(bcB.value, v))
    val a = embeddings
      .withColumn("e2", expr(s"floor_dot_e9($vecCol, $vecCol)"))
      .filter(col("e2") > 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        col("e2").as("ec"), encodeU(col(vecCol)).as("codes"))
      .pin // three consumers: query batch, ADC scan, brute scan

    // fixed-count query batch + its e9 LUTs (nQueries × m × k longs,
    // broadcast) — O(nQueries) driver bytes at any corpus size
    val qRows = fixedCountQueryBatch(a, "pqq", nQueries, a.count(),
      Seq("cv", "ec"))
    val qids = qRows.map(_.getLong(0))
    val lutDot: Array[Array[Array[Long]]] = qRows.map { r =>
      val qv = r.getSeq[Float](1)
      Array.tabulate(m, k) { (s, c) =>
        var d = 0.0
        var j = 0
        while (j < sd) { d += qv(s * sd + j).toDouble * books(s)(c)(j); j += 1 }
        math.floor(d * 1e9).toLong
      }
    }
    val lutN2: Array[Array[Long]] = Array.tabulate(m, k) { (s, c) =>
      var d = 0.0
      var j = 0
      while (j < sd) { d += books(s)(c)(j) * books(s)(c)(j); j += 1 }
      math.floor(d * 1e9).toLong
    }
    val qFrame = qids.zipWithIndex
      .map { case (q, i) => (i, q) }.toSeq.toDF("qi", "qid")
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    def topN(scored: DataFrame): DataFrame = scored
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= topK)
      .select(col("qid"), col("cid"))

    // native codegen ADC kernels (graft.functions.{AdcDotE9, AdcNormE9}):
    // same integer sums as the former Scala UDF, minus the boxed-Seq
    // per-row dispatch that made ADC tie the exact kernel (NOTES r12 s6)
    val pqTop = topN(broadcast(qFrame).crossJoin(a.select("cid", "codes"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("d9",
        graft.functions.PqFunctions.adcDotE9(a, col("codes"), col("qi"), lutDot))
      .withColumn("n9",
        graft.functions.PqFunctions.adcNormE9(a, col("codes"), lutN2))
      .filter(col("n9") > 0)
      .withColumn("sim", graft.functions.GridFunctions.gridRound6(col("d9").cast("double") /
        sqrt(col("n9").cast("double")))))

    val q = qRows.map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))
      .toSeq.toDF("qid", "qv", "eq")
    val bruteTop = topN(broadcast(q).crossJoin(a.select("cid", "cv", "ec"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim", graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(qv, cv)").cast("double") /
        sqrt(col("eq").cast("double") * col("ec").cast("double")))))

    val common = pqTop.join(bruteTop, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_common"))
    q.select("qid").join(common, Seq("qid"), "left")
      .na.fill(0L, Seq("n_common"))
      .groupBy(col("n_common").as("recall_at_k"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy("recall_at_k")
  }

  /** Full IVF-PQ serving (the published two-quantizer ANN architecture —
    * FAISS's IndexIVFPQ + refine): coarse Lloyd cells pick `nprobe` probe
    * cells per query, PQ-ADC lookups score every candidate in the probed
    * cells WITHOUT touching a full vector (m table reads + integer adds),
    * the ADC `shortlist` per query is then exact-rescored (floor_dot_e9
    * grid cosine) and the top-k served. At scale the probed join is the
    * only corpus contact, and it reads codes (m bytes) not vectors — the
    * memory-bandwidth win PQ exists for; only shortlist×nq full vectors
    * are ever scored exactly. Returns (qid, rk, cid, sim) like
    * [[ivfTopKMulti]]. Queries are the fixed-count deterministic batch
    * ([[fixedCountQueryBatch]], `nQueries` rows at any corpus size),
    * excluded from their own candidates. */
  def ivfPqTopK(embeddings: DataFrame, nCells: Int = 16, cIters: Int = 2,
                nprobe: Int = 3, m: Int = 8, k: Int = 16, pqIters: Int = 2,
                shortlist: Int = 20, topK: Int = 5, nQueries: Int = 12,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Checkpoints.Pinnable
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.GridFunctions.register(spark)
    val centroids = kmeansCentroids(embeddings, nCells, cIters, idCol, vecCol)
    val books = pqCodebooks(embeddings, m, k, pqIters, idCol, vecCol)
    val sd = books(0)(0).length
    val bcB = spark.sparkContext.broadcast(books)
    val encodeU = udf((v: Seq[Float]) => pqAssign(bcB.value, v))
    val a = ivfAssign(embeddings, centroids, vecCol)
      .withColumn("e2", expr(s"floor_dot_e9($vecCol, $vecCol)"))
      .filter(col("e2") > 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        col("e2").as("ec"), col("cell"), encodeU(col(vecCol)).as("codes"))
      .pin // consumers: query batch + probed candidate scan

    // fixed-count query batch: probe cells + e9 ADC LUTs, all driver-side
    // and O(nQueries) at any corpus size
    val qRows = fixedCountQueryBatch(a, "ivfpqq", nQueries, a.count(),
      Seq("cv", "ec"))
    val lutDot: Array[Array[Array[Long]]] = qRows.map { r =>
      val qv = r.getSeq[Float](1)
      Array.tabulate(m, k) { (s, c) =>
        var d = 0.0
        var j = 0
        while (j < sd) { d += qv(s * sd + j).toDouble * books(s)(c)(j); j += 1 }
        math.floor(d * 1e9).toLong
      }
    }
    val lutN2: Array[Array[Long]] = Array.tabulate(m, k) { (s, c) =>
      var d = 0.0
      var j = 0
      while (j < sd) { d += books(s)(c)(j) * books(s)(c)(j); j += 1 }
      math.floor(d * 1e9).toLong
    }
    val qFrame = qRows.zipWithIndex.map { case (r, i) =>
      val qv = r.getSeq[Float](1)
      val probes = centroids.indices.map(c => (c, cosineArr(centroids(c), qv)))
        .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1)
      (i, r.getLong(0), qv, r.getLong(2), probes)
    }.toSeq.toDF("qi", "qid", "qv", "eq", "probes")

    // the candidate scan carries ONLY (qi, qid, cid, codes): the ADC tier's
    // whole point is that no dim-length vector rides the probed join or the
    // shortlist sort. Carrying qv/cv here (as this code once did) pushed
    // ~600 B/row through the per-query window sort — soak-measured 25 GB of
    // sort spill at 1 M x 64 / 256 queries, ALL of it from this one stage;
    // codes-only rows sort in memory and the vectors attach to the
    // shortlist winners below (nQueries x shortlist rows) instead.
    val cand = broadcast(qFrame.select(col("qi"), col("qid"),
        explode(col("probes")).as("cell")))
      .join(a.select(col("cell"), col("cid"), col("codes")), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
    // native codegen ADC kernels — same integer sums as the former UDF
    val adc = cand
      .withColumn("d9",
        graft.functions.PqFunctions.adcDotE9(a, col("codes"), col("qi"), lutDot))
      .withColumn("n9",
        graft.functions.PqFunctions.adcNormE9(a, col("codes"), lutN2))
      .filter(col("n9") > 0)
      .withColumn("adc_sim", graft.functions.GridFunctions.gridRound6(col("d9").cast("double") /
        sqrt(col("n9").cast("double"))))
    val wShort = Window.partitionBy("qid")
      .orderBy(col("adc_sim").desc, col("cid"))
    val short = adc.withColumn("rs", row_number().over(wShort))
      .filter(col("rs") <= shortlist)
      .select("qi", "qid", "cid", "adc_sim")
    // exact rescoring touches vectors ONLY for the shortlist winners: the
    // tiny shortlist broadcasts into the corpus-side attach, the bounded
    // query frame broadcasts its vectors back
    val exact = broadcast(short)
      .join(a.select(col("cid"), col("cv"), col("ec")), "cid")
      .join(broadcast(qFrame.select(col("qid"), col("qv"), col("eq"))), "qid")
      .withColumn("sim",
        graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(qv, cv)").cast("double") /
          sqrt(col("eq").cast("double") * col("ec").cast("double"))))
    val wFin = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    exact.withColumn("rk", row_number().over(wFin)).filter(col("rk") <= topK)
      .select(col("qid"), col("rk"), col("cid"), col("sim"))
      .orderBy("qid", "rk")
  }

  /** The UNIFIED serving stack's audit: adaptive probe policy
    * ([[adaptiveProbeCells]], q340) composed with the IVF-PQ fine tier
    * ([[ivfPqTopK]], q352) — probed cells come from probe-until-k·margin
    * instead of a fixed nprobe, candidates in those cells are scored by
    * the native codegen ADC kernels (m LUT reads + integer adds, no
    * full-vector math), the per-query ADC shortlist is exact-rescored on
    * the e9 grid, and the served top-k is audited against the exact brute
    * tier. Runs at EVERY margin in `margins` over ONE shared training
    * (coarse Lloyd + PQ codebooks + assignment, pinned), so the census is
    * the recall/cost DIAL: per (margin, recall level) — query count and
    * exact integer sums of probed cells and scanned candidate rows.
    *
    * Scale shape: training is the q52/q350 bounded-collect pattern
    * (centroids + codebooks only), the probed join reads codes (m bytes)
    * not vectors, the brute tier exists only because this IS the audit,
    * and every margin reuses the same pinned assignment — one corpus
    * encode, `margins.size` probed scans. */
  def ivfPqAdaptiveRecallAudit(embeddings: DataFrame, k: Int = 10,
      params: IvfParams = IvfParams(), margins: Seq[Int] = Seq(5, 30),
      m: Int = 8, pqK: Int = 16, pqIters: Int = 2, shortlist: Int = 20,
      nQueries: Int = 20, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Checkpoints.Pinnable
    require(margins.nonEmpty && margins.forall(_ > 0), "margins must be positive")
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.GridFunctions.register(spark)
    val centroids = kmeansCentroids(embeddings, params.nCells, params.iters,
      idCol, vecCol)
    val books = pqCodebooks(embeddings, m, pqK, pqIters, idCol, vecCol)
    val sd = books(0)(0).length
    val bcB = spark.sparkContext.broadcast(books)
    val encodeU = udf((v: Seq[Float]) => pqAssign(bcB.value, v))
    val a = ivfAssign(embeddings, centroids, vecCol)
      .withColumn("e2", expr(s"floor_dot_e9($vecCol, $vecCol)"))
      .filter(col("e2") > 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        col("e2").as("ec"), col("cell"), encodeU(col(vecCol)).as("codes"))
      .pin // consumers: cell counts, query batch, brute scan, per-margin probed scans
    val counts = new Array[Long](params.nCells)
    a.groupBy("cell").count().collect()
      .foreach(r => counts(r.getAs[Number]("cell").intValue()) = r.getLong(1))

    // fixed-count query batch + its e9 ADC LUTs (nQueries × m × pqK
    // longs) — O(nQueries) driver bytes and LUT size at any corpus size
    val qRows = fixedCountQueryBatch(a, "annq", nQueries, counts.sum,
      Seq("cv", "ec"))
    val lutDot: Array[Array[Array[Long]]] = qRows.map { r =>
      val qv = r.getSeq[Float](1)
      Array.tabulate(m, pqK) { (s, c) =>
        var d = 0.0
        var j = 0
        while (j < sd) { d += qv(s * sd + j).toDouble * books(s)(c)(j); j += 1 }
        math.floor(d * 1e9).toLong
      }
    }
    val lutN2: Array[Array[Long]] = Array.tabulate(m, pqK) { (s, c) =>
      var d = 0.0
      var j = 0
      while (j < sd) { d += books(s)(c)(j) * books(s)(c)(j); j += 1 }
      math.floor(d * 1e9).toLong
    }
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    def topN(scored: DataFrame): DataFrame = scored
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"))

    // exact brute top-k: the margin-independent baseline, computed once
    val qFrame = qRows.zipWithIndex.map { case (r, i) =>
      (i, r.getLong(0), r.getSeq[Float](1), r.getLong(2))
    }.toSeq.toDF("qi", "qid", "qv", "eq")
    val bruteTop = topN(broadcast(qFrame).crossJoin(a.select("cid", "cv", "ec"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim", graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(qv, cv)").cast("double") /
        sqrt(col("eq").cast("double") * col("ec").cast("double")))))
      .pin // one consumer per margin

    val perMargin = margins.map { margin =>
      // probe sets are a driver-side policy over (centroids, counts) —
      // bounded nq work, identical math to q340's executor UDF
      val probed = qRows.zipWithIndex.map { case (r, i) =>
        val qv = r.getSeq[Float](1)
        val cells = adaptiveProbeCells(centroids, counts, qv, k, margin)
        (i, r.getLong(0), qv, r.getLong(2), cells, cells.map(counts(_)).sum)
      }.toSeq.toDF("qi", "qid", "qv", "eq", "probes", "scanned")
      // codes-only candidate rows through the probed join + shortlist sort
      // (the ivfPqTopK discipline — vectors attach only to the winners)
      val cand = broadcast(probed.select(col("qi"), col("qid"),
          explode(col("probes")).as("cell")))
        .join(a.select(col("cell"), col("cid"), col("codes")), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
      val adc = cand
        .withColumn("d9", graft.functions.PqFunctions.adcDotE9(
          a, col("codes"), col("qi"), lutDot))
        .withColumn("n9", graft.functions.PqFunctions.adcNormE9(
          a, col("codes"), lutN2))
        .filter(col("n9") > 0)
        .withColumn("adc_sim", graft.functions.GridFunctions.gridRound6(col("d9").cast("double") /
          sqrt(col("n9").cast("double"))))
      val wShort = Window.partitionBy("qid")
        .orderBy(col("adc_sim").desc, col("cid"))
      val short = adc.withColumn("rs", row_number().over(wShort))
        .filter(col("rs") <= shortlist)
        .select("qi", "qid", "cid")
      val served = topN(broadcast(short)
        .join(a.select(col("cid"), col("cv"), col("ec")), "cid")
        .join(broadcast(probed.select(col("qid"), col("qv"), col("eq"))), "qid")
        .withColumn("sim",
          graft.functions.GridFunctions.gridRound6(expr("floor_dot_e9(qv, cv)").cast("double") /
            sqrt(col("eq").cast("double") * col("ec").cast("double")))))
      val common = served.join(bruteTop, Seq("qid", "cid"))
        .groupBy("qid").agg(count(lit(1)).as("n_common"))
      probed.select(col("qid"),
          size(col("probes")).cast("long").as("n_probed"), col("scanned"))
        .join(common, Seq("qid"), "left")
        .na.fill(0L, Seq("n_common"))
        .groupBy(col("n_common").as("recall_at_k"))
        .agg(count(lit(1)).as("n_queries"),
          sum("n_probed").as("sum_probed_cells"),
          sum("scanned").as("sum_scanned_rows"))
        .withColumn("margin", lit(margin))
    }
    perMargin.reduce(_ unionByName _)
      .select("margin", "recall_at_k", "n_queries", "sum_probed_cells",
        "sum_scanned_rows")
      .orderBy("margin", "recall_at_k")
  }

  /** Hyperplane component (p, i): a signed 48-bit integer from md5 hex
    * chars 1-12 of "<seed>:<p>:<i>", centered by 2^47. Integer-valued and
    * < 2^53, so the value is EXACT in a double in any engine — a SQL oracle
    * rebuilds the planes bit-for-bit (sign-LSH only needs a distribution
    * symmetric about zero, not Gaussian). */
  private[text] def planeComponent(seed: Int, p: Int, i: Int): Double = {
    val hex = TextOps.md5Hex(s"$seed:$p:$i")
    java.lang.Long.parseLong(hex.substring(0, 12), 16).toDouble - (1L << 47).toDouble
  }

  /** The sign-LSH bucket pass shared by [[cosineLshPairs]] and
    * [[semanticBuckets]]: (id, bucket) where bucket is the `planes`-bit
    * sign pattern of the md5-derived hyperplane dots ([[planeComponent]] —
    * integer-exact doubles, so a SQL engine rebuilds every bucket
    * bit-for-bit). ONE narrow pass, the plane table broadcast. */
  def signatureBuckets(embeddings: DataFrame, planes: Int = 12, seed: Int = 7,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       dim: Int = -1): DataFrame = {
    require(planes >= 1 && planes <= 30, s"planes must be in [1, 30]: $planes")
    val d = if (dim > 0) dim
            else embeddings.select(size(col(vecCol))).first().getInt(0)
    val hyper = Array.tabulate(planes, d)((p, i) => planeComponent(seed, p, i))
    val bc = embeddings.sparkSession.sparkContext.broadcast(hyper)
    val sigUdf = udf { (vIn: Seq[Float]) =>
      val v = vIn.toArray // Seq can arrive as a List: need O(1) indexing
      val hs = bc.value
      var sig = 0
      for (p <- hs.indices) {
        var dot = 0.0
        var i = 0
        while (i < v.length && i < hs(p).length) { dot += v(i) * hs(p)(i); i += 1 }
        if (dot >= 0) sig |= (1 << p)
      }
      sig
    }
    embeddings.select(col(idCol).cast("long").as("id"), sigUdf(col(vecCol)).as("bucket"))
  }

  /** Cross-modal semantic-neighborhood rollup: each embedding's sign-LSH
    * bucket (a coarse "topic" cell — same md5 planes as the q51 candidate
    * generator) joined to its document's metadata, then per-bucket
    * composition stats: doc count, language count, dominant language
    * (ties → lexicographically first), exact character totals. The "what
    * lives in each semantic neighborhood, and is it monolingual" view a
    * mixture designer reads before sampling.
    *
    * Scale shape: the signature is one narrow broadcast pass; the
    * embedding↔document join shuffles both sides on id once (co-located if
    * both tables are id-bucketed at rest); the (bucket, lang) aggregate's
    * exchange is shared by the stats and dominant-language branches
    * (ReusedExchange — everything below it, including the join, runs
    * once); the dominant-language rank compiles to WindowGroupLimit. State
    * above the (bucket, lang) exchange is ≤ 2^planes × |langs| rows. */
  def semanticBuckets(embeddings: DataFrame, docs: DataFrame,
                      planes: Int = 10, seed: Int = 7, dim: Int = -1,
                      idCol: String = "vec_id", docIdCol: String = "doc_id",
                      langCol: String = "lang", charsCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = signatureBuckets(embeddings, planes, seed, idCol, "embedding", dim)
    val j = sig.join(
      docs.select(col(docIdCol).cast("long").as("id"),
        coalesce(col(langCol), lit("")).as("lang"), col(charsCol)), "id")
    val bl = j.groupBy(col("bucket"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col(charsCol)).as("chars"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("n").desc, col("lang"))
    val top = bl.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("lang").as("top_lang"))
    val stats = bl.groupBy("bucket")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_langs"),
        sum("chars").as("total_chars"))
    stats.join(top, Seq("bucket"))
      .orderBy("bucket")
  }

  /** All-pairs near-neighbor candidates by random-hyperplane LSH: vectors
    * sharing a sign-pattern bucket are compared exactly — MinHash's candidate
    * shape applied to embeddings.
    *
    * Scale shape: ONE narrow signature pass computes (id, bucket) — the full
    * vector never enters the bucket shuffle; ONE group-shuffle collects ids
    * per bucket; id PAIRS are generated inside the bucket row (never a
    * signature self-join, which would shuffle every embedding twice and
    * recompute the sign-pattern UDF on both sides); vectors are attached
    * once, to the candidate pairs only. `maxBucketSize` caps skew — a hot
    * sign-pattern bucket (a dense cluster, or the all-zeros pattern from
    * degenerate vectors) would otherwise emit O(size²) pairs in one task, so
    * oversized buckets are dropped for a bounded worst task (bounded recall
    * loss; dense-cluster recovery is IVF's job).
    *
    * Pass `dim` when known: the fallback probe (`size(vec)` of one row) is
    * bounded but fires a Spark job at operator CONSTRUCTION time, which
    * composes badly inside loops or a streaming foreachBatch.
    *
    * SIZE `planes` WITH n — planes ≈ log2(n / targetBucketSize) (target
    * 8-16): candidate pairs grow with Σ C(bucket, 2) ≈ n·avgBucket/2, so
    * an under-planed sketch floods the cosine join quadratically.
    * Soak-measured at 4 M vectors: planes=16 (avg bucket ~61) ⇒ ~122 M
    * pairs, 122 GB of join spill; planes=19 (avg bucket ~8) holds the
    * pair list near the true-neighbor count. The same n-scaling rule as
    * IvfParams' √n note. */
  def cosineLshPairs(embeddings: DataFrame, planes: Int = 12, minSim: Double = 0.8,
                     seed: Int = 7, maxBucketSize: Int = 256,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     dim: Int = -1): DataFrame = {
    require(planes >= 1 && planes <= 30, s"planes must be in [1, 30]: $planes")
    val candidates = signatureBuckets(embeddings, planes, seed, idCol, vecCol, dim)
      .groupBy("bucket")
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(explode(allPairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
    val vecs = embeddings.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // exact-grid rescoring (gridSimE4, id_a's moment first): the emitted /
    // thresholded sim is engine-exact by construction, never two engines'
    // raw double cosines agreeing by luck
    val gridUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
      val aa = a.toArray; val ba = b.toArray
      gridSimE4(dotE9FF(aa, ba), normE9F(aa), normE9F(ba))
    }
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        gridUdf(col("vec_a"), col("vec_b")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** quantizeInt8's mapping applied and inverted: float vector → int8
    * codes → reconstructed doubles (vmin + q·range/255). Shared by
    * `int8TopK` and any recall measurement against the float baseline.
    * All arithmetic is the exact left-associated double expression the
    * q72/q80 oracles replay. */
  private[text] def dequantize(vIn: Seq[Float]): Array[Double] = {
    val arr = vIn match {
      case s: scala.collection.IndexedSeq[Float] => s; case s => s.toIndexedSeq
    }
    if (arr.isEmpty) return Array.empty
    var mnF = Float.MaxValue
    var mxF = Float.MinValue
    var i = 0
    while (i < arr.length) {
      val v = arr(i); if (v < mnF) mnF = v; if (v > mxF) mxF = v; i += 1
    }
    val vmin = mnF.toDouble
    val range = mxF.toDouble - vmin
    val out = new Array[Double](arr.length)
    i = 0
    while (i < arr.length) {
      val q = if (range == 0) 0L
        else math.min(255L, math.floor((arr(i).toDouble - vmin) * 255.0 / range).toLong)
      out(i) = vmin + q * (range / 255.0)
      i += 1
    }
    out
  }

  /** Brute-force cosine top-k over int8-QUANTIZED embeddings — the
    * recall-vs-compression check a 4×-compressed vector store needs (run
    * beside `bruteForceTopK` on the float originals and compare).
    * Quantize→dequantize is per-row arithmetic; one narrow pass, no
    * shuffle before the bounded TakeOrdered top-k. */
  def int8TopK(embeddings: DataFrame, query: Array[Float], k: Int,
               excludeId: Long = -1L,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qDq = dequantize(query.toSeq)
    val qn = normE9D(qDq)
    // exact-grid sim over the dequantized reconstructions (both engines
    // derive dv through the identical quantize→dequantize expressions, so
    // the grid moments — and hence sim — are bit-identical by construction)
    val simUdf = udf { (v: Seq[Float]) =>
      val dv = dequantize(v)
      gridSimE4(dotE9DD(dv, qDq), normE9D(dv), qn)
    }
    embeddings
      .filter(col(idCol) =!= excludeId)
      .select(col(idCol), simUdf(col(vecCol)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** The corpus as a server reading the int8-compressed store would see it:
    * every float vector replaced by its quantize→dequantize reconstruction,
    * re-narrowed to float32 (the reconstruction is stored/served as f32; the
    * narrowing is CAST-to-FLOAT in a SQL oracle). One narrow pass, no
    * shuffle — downstream ANN plumbing is unchanged. */
  def dequantizedStore(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val dqU = udf((v: Seq[Float]) => dequantize(v).map(_.toFloat))
    embeddings.withColumn(vecCol, dqU(col(vecCol)))
  }

  /** IVF ANN served entirely from the int8-compressed store: coarse
    * quantizer TRAINING, cell assignment, and the probe all run on the
    * dequantized reconstructions — the end-to-end recall-vs-compression
    * check for a deployment that keeps only the 4×-compressed codes (run
    * beside `ivfSearch` on the float originals and diff). Same bounded
    * driver state and partition-pruned probe shape as `ivfSearch`; the
    * dequantize is a narrow per-row map fused into the first pass. */
  def int8IvfSearch(embeddings: DataFrame, queryId: Long, k: Int,
                    params: IvfParams = IvfParams(),
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dq = dequantizedStore(embeddings, vecCol)
    val query = dq.filter(col(idCol) === queryId)
      .select(vecCol).first().getSeq[Float](0).toArray
    ivfSearch(dq, query, k, params, excludeId = queryId, idCol, vecCol)
  }

  /** Per-vector int8 min-max quantization — the 4× embedding-storage
    * compression a 100 TB vector corpus wants. One narrow pass, no shuffle.
    *
    * Deliberately floor-based (q = min(255, ⌊(v − min)·255/range⌋)), not
    * round-based: floor has no half-way case, so as long as an oracle
    * evaluates the SAME left-associated IEEE-double expression it
    * reproduces every quantized value bit-for-bit — `round`'s half-up vs
    * floor(x+0.5) semantics differ across engines at representability
    * edges. min/max are computed in FLOAT (exact, order-independent) then
    * widened, matching `list_min`/`list_max` on a FLOAT[] column.
    *
    * Output per vector: dims, scale ×1e9 floored to a long (again exact),
    * the quantized sum/min/max, and the full quantized stream as csv for
    * fingerprinting. Constant vectors (range 0) quantize to all-zeros.
    * Empty/null vectors are FILTERED (a SQL oracle's list_sum/list_min over
    * an empty list yields NULL, not a zero row — filtering on both sides is
    * the only bit-stable contract). */
  def quantizeInt8(embeddings: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val quantUdf = udf { (vec: Seq[Float]) =>
      val arr = vec match {
        case s: scala.collection.IndexedSeq[Float] => s; case s => s.toIndexedSeq
      }
      if (arr.isEmpty) (0, 0L, 0L, 0, 0, "")
      else {
      var mnF = Float.MaxValue
      var mxF = Float.MinValue
      var i = 0
      while (i < arr.length) {
        val v = arr(i); if (v < mnF) mnF = v; if (v > mxF) mxF = v; i += 1
      }
      val vmin = mnF.toDouble
      val range = mxF.toDouble - vmin
      val scaleE9 = math.floor(range / 255.0 * 1e9).toLong
      val sb = new java.lang.StringBuilder(arr.length * 4)
      var qsum = 0L
      var qmin = Int.MaxValue
      var qmax = Int.MinValue
      i = 0
      while (i < arr.length) {
        val q = if (range == 0) 0
          else math.min(255L, math.floor((arr(i).toDouble - vmin) * 255.0 / range).toLong).toInt
        qsum += q
        if (q < qmin) qmin = q
        if (q > qmax) qmax = q
        if (i > 0) sb.append(',')
        sb.append(q)
        i += 1
      }
      (arr.length, scaleE9, qsum, qmin, qmax, sb.toString)
      }
    }
    embeddings
      .filter(size(col(vecCol)) > 0) // null vec ⇒ size null ⇒ filtered too
      .withColumn("q", quantUdf(col(vecCol)))
      .select(col(idCol), col("q._1").as("n_dims"), col("q._2").as("scale_e9"),
        col("q._3").as("q_sum"), col("q._4").as("q_min"), col("q._5").as("q_max"),
        md5(col("q._6")).as("q_md5"))
  }

  // --- second moments / PCA prep ------------------------------------------

  /** Raw Gramian + first-moment accumulation, every cell quantized to an
    * exact long (floor(v·1e9)): returns (row count, per-dim first-moment
    * sums, upper-triangle pair-product sums, both length-bounded by `dim`).
    *
    * The 100 TB shape: `treeAggregate` — each task folds its rows into ONE
    * fixed d(d+1)/2-long array (~16 KB at d=64), and the tree combine ships
    * only those arrays. Zero shuffle of row-level data, no explode, driver
    * state independent of corpus size. This is the accumulation a
    * distributed PCA/whitening pass needs, kept in exact integers so any
    * engine reproduces it bit-for-bit (a float product widened to double is
    * exact-input, correctly-rounded — deterministic in any IEEE engine;
    * floor removes the half-way hazard; long sums are order-free).
    *
    * Overflow envelope: |cell per row| ≤ max|v|²·1e9 — at |v| ≤ 1 that is
    * ≤ 1e9, safe in a long to ~9e9 rows; rescale the quantizer (or widen to
    * BigInt in the seqOp) past that. Vectors whose length ≠ `dim` are
    * filtered (fixed-dim contract, same as the LSH family). */
  private[text] def momentsE9(embeddings: DataFrame, dim: Int,
                              vecCol: String = "embedding"): (Long, Array[Long], Array[Long]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val nPairs = dim * (dim + 1) / 2
    embeddings
      .filter(size(col(vecCol)) === dim)
      .select(col(vecCol)).as[Seq[Float]]
      .rdd
      .treeAggregate((0L, new Array[Long](dim), new Array[Long](nPairs)))(
        seqOp = { case ((n, m1, m2), vec) =>
          val v = vec match {
            case s: scala.collection.IndexedSeq[Float] => s; case s => s.toIndexedSeq
          }
          var i = 0
          var p = 0
          while (i < dim) {
            val xi = v(i).toDouble
            m1(i) += math.floor(xi * 1e9).toLong
            var j = i
            while (j < dim) {
              m2(p) += math.floor(xi * v(j).toDouble * 1e9).toLong
              p += 1
              j += 1
            }
            i += 1
          }
          (n + 1L, m1, m2)
        },
        combOp = { case ((na, a1, a2), (nb, b1, b2)) =>
          var i = 0
          while (i < a1.length) { a1(i) += b1(i); i += 1 }
          i = 0
          while (i < a2.length) { a2(i) += b2(i); i += 1 }
          (na + nb, a1, a2)
        })
  }

  /** Exact-integer Gramian table for PCA/covariance prep: one row per dim
    * pair (i ≤ j) with the corpus row count and the exact long sum of
    * floor(vᵢ·vⱼ·1e9) — see [[momentsE9]] for the aggregation shape and the
    * determinism/overflow contract. Output is d(d+1)/2 rows (2080 at d=64):
    * bounded, driver-built, broadcast-sized. */
  def gramianE9(embeddings: DataFrame, dim: Int,
                vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (n, _, m2) = momentsE9(embeddings, dim, vecCol)
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield (i, j, n, m2(i * dim - i * (i - 1) / 2 + (j - i)))
    rows.toDF("i", "j", "n", "s_e9")
  }

  /** Top-k principal components of the corpus (rows = components, unit
    * norm), eigen-decomposed with breeze from the EXACT integer moment
    * sums of [[momentsE9]] — covariance C = M₂/n − μμᵀ on the dequantized
    * (÷1e9) sums, so the input matrix (and hence the decomposition) is a
    * pure function of the data, independent of partitioning or combine
    * order. Sign is fixed per component (largest-|coordinate| positive,
    * lowest index on ties) — eigenvectors are otherwise sign-ambiguous. */
  def pcaComponents(embeddings: DataFrame, dim: Int, k: Int,
                    vecCol: String = "embedding"): (Array[Array[Double]], Array[Double]) = {
    require(k > 0 && k <= dim, s"need 0 < k <= dim, got k=$k dim=$dim")
    val (n, m1, m2) = momentsE9(embeddings, dim, vecCol)
    require(n > 1, s"PCA needs at least 2 rows, got $n")
    val mu = m1.map(_ / 1e9 / n)
    val cov = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    var p = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = m2(p) / 1e9 / n - mu(i) * mu(j)
        cov(i, j) = c
        cov(j, i) = c
        p += 1
        j += 1
      }
      i += 1
    }
    val es = breeze.linalg.eigSym(cov)
    // eigSym returns ascending eigenvalues; take the top-k columns reversed
    val order = (dim - 1) to (dim - k) by -1
    val comps = order.map { c =>
      val vec = Array.tabulate(dim)(r => es.eigenvectors(r, c))
      val pivot = vec.indices.maxBy(r => (math.abs(vec(r)), -r))
      if (vec(pivot) < 0) vec.map(-_) else vec
    }.toArray
    (comps, mu)
  }

  /** Project each vector onto the top-k principal components (centered):
    * one narrow pass with the bounded k×dim component table broadcast —
    * the dimensionality-reduction front half of embedding visualization,
    * coarse clustering, or whitening. Not SQL-expressible (eigen
    * decomposition), so its QueryDef carries no oracle; the spec pins
    * orthonormality, variance ordering, and reconstruction bounds. */
  def pcaProject(embeddings: DataFrame, components: Array[Array[Double]],
                 mean: Array[Double],
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    val bcC = spark.sparkContext.broadcast(components)
    val bcMu = spark.sparkContext.broadcast(mean)
    val dim = mean.length
    val projU = udf { (v: Seq[Float]) =>
      val comps = bcC.value
      val mu = bcMu.value
      val out = new Array[Double](comps.length)
      var c = 0
      while (c < comps.length) {
        var s = 0.0
        var i = 0
        val comp = comps(c)
        while (i < dim) { s += (v(i).toDouble - mu(i)) * comp(i); i += 1 }
        out(c) = s
        c += 1
      }
      out
    }
    embeddings
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol), projU(col(vecCol)).as("pc"))
  }

  /** Top-2 principal components via FIXED-ROUND power iteration with one
    * deflation step, every intermediate micro-rounded onto an integer grid
    * so the whole run is replayable operation-for-operation in any IEEE SQL
    * engine (the q250 Newton-replay contract applied to eigenvectors —
    * [[pcaComponents]]' eigSym is exact too but not SQL-expressible, which
    * left its query without a relational oracle).
    *
    * Components live on the 1e-12 grid (`Array[Long]`, comp = g/1e12); the
    * mean is the exact `m1/1e9/n` double chain. Per iteration:
    * {{{
    *   w_i  = Σ_j floor(cov(i)(j) * (g(j)/1e12) * 1e12)      // exact longs
    *   s    = Σ_i floor((w_i/1e12) * (w_i/1e12) * 1e12)      // exact long
    *   g'_i = floor((w_i/1e12) / sqrt(s/1e12) * 1e12)        // back on grid
    * }}}
    * Long sums are order-free, every double op is correctly rounded from
    * identical operands, and floor has no half-way hazard — so DuckDB's
    * unrolled-CTE replay of the same `iters` rounds is bit-identical.
    * Sign convention matches [[pcaComponents]]: largest-|coordinate| entry
    * positive, ties to the lowest index. Deflation for PC2 uses the
    * micro-rounded Rayleigh quotient lamG = Σ_ij floor(cov_ij * (g_i/1e12)
    * * (g_j/1e12) * 1e12); then cov2_ij = cov_ij - lamG/1e12 * (g_i/1e12)
    * * (g_j/1e12), with the literal expression order mirrored in the
    * oracle text.
    *
    * Scale shape: one [[momentsE9]] treeAggregate over the corpus (zero
    * shuffle of row data); the iteration itself is O(dim^2 * iters) driver
    * arithmetic on a bounded 64x64 grid — microseconds. */
  def pcaPowerE12(embeddings: DataFrame, dim: Int, iters: Int,
                  vecCol: String = "embedding"): (Array[Long], Array[Long], Array[Double]) = {
    require(iters >= 1 && iters <= 30, s"iters in [1,30], got $iters")
    val (n, m1, m2) = momentsE9(embeddings, dim, vecCol)
    require(n > 1, s"PCA needs at least 2 rows, got $n")
    val mu = m1.map(_ / 1e9 / n)
    val cov = Array.ofDim[Double](dim, dim)
    var p = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        // token-for-token the oracle's cov CTE: s/1e9/n - mu_i*mu_j
        val c = m2(p) / 1e9 / n - mu(i) * mu(j)
        cov(i)(j) = c
        cov(j)(i) = c
        p += 1
        j += 1
      }
      i += 1
    }
    def powerRounds(c: Array[Array[Double]]): Array[Long] = {
      var g = Array.fill(dim)(math.floor(1e12 / math.sqrt(dim.toDouble)).toLong)
      for (_ <- 1 to iters) {
        val w = Array.tabulate(dim) { i =>
          var acc = 0L
          var j = 0
          while (j < dim) {
            acc += math.floor(c(i)(j) * (g(j) / 1e12) * 1e12).toLong
            j += 1
          }
          acc
        }
        var s = 0L
        var k = 0
        while (k < dim) {
          s += math.floor((w(k) / 1e12) * (w(k) / 1e12) * 1e12).toLong
          k += 1
        }
        val norm = math.sqrt(s / 1e12)
        g = w.map(wi => math.floor(wi / 1e12 / norm * 1e12).toLong)
      }
      val pivot = (0 until dim).maxBy(i => (math.abs(g(i)), -i))
      if (g(pivot) < 0) g.map(x => -x) else g
    }
    val g1 = powerRounds(cov)
    var lamG = 0L
    i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        lamG += math.floor(cov(i)(j) * (g1(i) / 1e12) * (g1(j) / 1e12) * 1e12).toLong
        j += 1
      }
      i += 1
    }
    val cov2 = Array.tabulate(dim, dim) { (i, j) =>
      cov(i)(j) - lamG / 1e12 * (g1(i) / 1e12) * (g1(j) / 1e12)
    }
    val g2 = powerRounds(cov2)
    (g1, g2, mu)
  }

  /** Centered projection onto two grid components, each per-row term
    * micro-rounded to the 1e-9 grid and summed as exact longs (the
    * order-free cross-engine contract of [[pcaPowerE12]]):
    * pc = Σ_i floor((v_i - mu_i) * comp_i * 1e9) / 1e9, rounded to 6.
    * Pure Catalyst (higher-order `aggregate` over the vector with literal
    * mean/component arrays) — no UDF, one narrow pass. */
  def pcaProjectE9(embeddings: DataFrame, c1: Array[Long], c2: Array[Long],
                   mean: Array[Double],
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = mean.length
    def gridSum(compCol: String): String =
      s"aggregate(sequence(0, ${dim - 1}), 0L, (acc, i) -> " +
        s"acc + floor((CAST($vecCol[i] AS DOUBLE) - _mu[i]) * $compCol[i] * 1e9))"
    embeddings
      .filter(size(col(vecCol)) === dim)
      .withColumn("_mu", typedLit(mean.toIndexedSeq))
      .withColumn("_c1", typedLit(c1.map(_ / 1e12).toIndexedSeq))
      .withColumn("_c2", typedLit(c2.map(_ / 1e12).toIndexedSeq))
      .select(col(idCol),
        graft.functions.GridFunctions.gridRound6(expr(gridSum("_c1")) / lit(1e9)).as("pc1"),
        graft.functions.GridFunctions.gridRound6(expr(gridSum("_c2")) / lit(1e9)).as("pc2"))
  }

}
