package graft.operators

import graft.operators.Checkpoints.Pinnable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge lists — co-occurrence graph
  * construction, exact triangle counting, and fixed-iteration PageRank on
  * an exact integer grid (so a DuckDB oracle can replay every iteration
  * bit-for-bit).
  *
  * Scale shapes:
  *  - edges are built per-GROUP (in-row pair generation over bounded
  *    groups), never via an all-pairs join;
  *  - triangle wedges are generated from the DEGREE-ORIENTED edge set
  *    (each edge points from its lower-degree endpoint), which bounds
  *    per-vertex out-degree by O(sqrt(2m)) regardless of raw-degree skew —
  *    the standard compact-forward bound;
  *  - PageRank is the classic join-aggregate loop: one src-keyed shuffle
  *    join (edges x ranks) plus one dst-keyed aggregation per iteration,
  *    state bounded by the node set.
  */
object Graph {

  /** Conf key: edge-count cap under which the bounded iteratives
    * ([[boundedSssp]], [[boundedKCorePeel]]) run their rounds inside ONE
    * task instead of one Spark job per round — the same measured dispatch
    * as `TextOps.connectedComponents` (size-based, like Spark's own
    * broadcast-vs-shuffle choice). Per-round Spark job overhead dominates
    * small graphs (a 4-round SSSP on a co-purchase graph of ~100 k edges
    * spends its seconds on scheduling, not math); above the cap the
    * distributed round loop is the only shape that fits memory. Both
    * tiers compute the IDENTICAL bounded-round function, certified
    * against each other and the same oracles (q167/q218 vs q346/q347). */
  val LocalEdgeCapKey = "graft.graph.localEdgeCap"

  /** Largest local-tier edge count: the tiers index both endpoints of
    * every edge (plus the seeds) in one JVM array. */
  private val MaxLocalEdges = (Int.MaxValue - 8) / 2

  private def localEdgeCap(spark: org.apache.spark.sql.SparkSession): Long = {
    val cap = spark.conf.getOption(LocalEdgeCapKey).map(_.toLong).getOrElse(2000000L)
    require(cap <= MaxLocalEdges,
      s"$LocalEdgeCapKey = $cap exceeds the local tiers' array bound $MaxLocalEdges")
    cap
  }

  /** Array length `n` for a local tier, rejected above the JVM array
    * bound instead of overflowing Int. */
  private def localArrayLength(n: Long): Int = {
    require(n <= Int.MaxValue - 8, s"local graph tier needs $n slots, above the JVM array bound")
    n.toInt
  }

  /** Conf key: node-count cap under which a per-round survivor/frontier
    * set is broadcast into the edge-list joins instead of shuffling the
    * edge list — the same size-based dispatch as Spark's own
    * broadcast-vs-shuffle choice, decided from a count the round loop
    * already holds (never an extra action). 2 M longs is a ~30 MB hash
    * relation; production raises it with executor memory. Above the cap
    * the shuffled join is the only shape that fits. */
  val BroadcastNodeCapKey = "graft.graph.broadcastNodeCap"

  private def broadcastNodeCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(BroadcastNodeCapKey).map(_.toLong).getOrElse(2000000L)

  /** Conf key: target row count per pinned round-loop partition (see
    * [[pinByKey]]). The r18 layout always pinned at the session's
    * shuffle-partition count; profiled at bench scale that left every
    * per-round stage paying 32 task launches (codegen init, broadcast
    * fetch, scheduling) to process ~75 K rows each — per-task overhead,
    * not compute, dominated the loops (q347 9.8 s at 32 partitions vs
    * 6.2 s at 4, same 32 cores). Deriving the count from the known row
    * count instead (guide §2: scale partitioning from input size, not a
    * constant) keeps partitions near the AQE advisory size; huge inputs
    * still cap at the session conf, so cluster behavior is unchanged. */
  val PinRowsPerPartitionKey = "graft.graph.pinRowsPerPartition"

  private def pinRowsPerPartition(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(PinRowsPerPartitionKey).map(_.toLong).getOrElse(2000000L)

  /** Hash-partition + in-partition sort a frame by its round-loop join key
    * BEFORE pinning, so every subsequent per-round join reuses the pinned
    * layout instead of re-shuffling and re-sorting the loop-invariant side
    * each iteration (guide: establish the partitioning once). `pin`
    * preserves outputPartitioning/outputOrdering through the LogicalRDD,
    * which is what makes this stick across rounds.
    *
    * `rows`, when known by the caller (the round loops all count their
    * edge lists anyway), sizes the partition count from the data:
    * ceil(rows / [[PinRowsPerPartitionKey]]), capped at the session's
    * shuffle-partition conf — so a bench-scale loop runs its rounds over a
    * handful of right-sized partitions while a 100 TB edge list still gets
    * the full session parallelism. rows <= 0 keeps the session conf. */
  private[graft] def pinByKey(df: DataFrame, key: String, rows: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    val maxN = spark.sessionState.conf.numShufflePartitions
    val n =
      if (rows <= 0L) maxN
      else {
        val per = pinRowsPerPartition(spark)
        math.min(maxN.toLong, math.max(1L, (rows + per - 1L) / per)).toInt
      }
    // r19: the pin DECLARES its layout (LogicalRDD built directly with
    // HashPartitioning + key ordering — see PinnedLayout's scaladoc for why
    // that is sound under AQE) instead of toggling adaptive.enabled on the
    // shared session around Dataset.checkpoint. The r18 set/restore window,
    // which a concurrently planned query could observe, is gone entirely.
    org.apache.spark.sql.graftinternal.PinnedLayout.pinByKey(df, key, n)
  }

  /** Undirected co-occurrence edges (a < b, distinct): unordered item pairs
    * that appear together in the same group. Pairs are generated inside
    * each group's collected distinct-item set — group sizes bound the
    * blow-up (order baskets are single-digit), so the only corpus-sized
    * exchanges are the group shuffle and the final distinct. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String): DataFrame = {
    val sets = df.groupBy(col(groupCol))
      .agg(collect_set(col(itemCol)).as("items"))
    // two Generate nodes (codegen-friendly) instead of an interpreted HOF:
    // rows between them are bounded by group_size^2
    sets.select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
  }

  /** Exact global triangle census of an undirected simple graph given as
    * distinct (a < b) edges. Returns ONE row:
    * (n_nodes, n_edges, n_wedges, n_triangles, clustering_coeff) where
    * n_wedges = sum_v deg(v)*(deg(v)-1)/2 and
    * clustering_coeff = 3*triangles / wedges (rounded to 6).
    *
    * Algorithm: orient each edge from its (degree, id)-smaller endpoint,
    * generate wedges at the common SOURCE of two oriented edges, close
    * them against the canonical edge table. Every triangle has exactly one
    * vertex whose two triangle edges both point out (its degree-order
    * minimum), so each is counted once. Orientation bounds the wedge join's
    * per-key fan-out by the oriented out-degree <= O(sqrt(2m)), which is
    * what makes the self-join survive power-law degree skew at scale. */
  /** Conf key: edge-count cap under which the triangle machinery's three
    * edge-list joins (two degree attachments, the wedge self-join's build
    * side, the closing lookup) run as BROADCAST hash joins over the
    * oriented probe stream instead of shuffled sort-merge joins. Profiled
    * at sf0.1 (1.2 M edges, 41 M oriented wedges): the SMJ wedge stage
    * cost 51.7 s of task time — exchange + sort + per-key match buffering
    * dominate, not the wedge arithmetic. Under the cap the whole wedge
    * generation + closing probe fuses into ONE codegen stage over a
    * round-robin-parallel probe side: zero wedge-stage exchanges, and the
    * 41 M wedge rows are streamed, never materialized. 2 M edges is a
    * ~60 MB hash relation (same budget class as [[BroadcastNodeCapKey]]);
    * above it the shuffled plan is the only shape that fits. */
  val BroadcastEdgeCapKey = "graft.graph.broadcastEdgeCap"

  private def broadcastEdgeCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(BroadcastEdgeCapKey).map(_.toLong).getOrElse(2000000L)

  /** Shared triangle enumerator for [[triangleStats]] / [[localClustering]]:
    * canonical (a < b, distinct) pinned edges + pinned degrees in, ONE row
    * per triangle out, carrying the triangle's 3 member vertices as
    * (src, x, y). `nEdges` dispatches the strategy (see
    * [[BroadcastEdgeCapKey]]); the tiers may label the members differently
    * (the shuffled tier emits apex + its two out-neighbors min-first, the
    * broadcast tier apex + edge head + intersection witness) but the
    * row-per-triangle count and the member MULTISET are tier-invariant —
    * which is all the consumers read (a count, and an explode of the 3
    * members) — certified by GraphPinSpec's tier-equality test. `degCol`
    * names the degree column in `deg`. */
  private def closedOrientedWedges(e: DataFrame, deg: DataFrame,
                                   degCol: String, nEdges: Long): DataFrame = {
    val spark = e.sparkSession
    val degA = deg.select(col("v").as("a"), col(degCol).as("da"))
    val degB = deg.select(col("v").as("b"), col(degCol).as("db"))
    def orient(withDeg: DataFrame): DataFrame = withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
    if (nEdges <= broadcastEdgeCap(spark)) {
      // broadcast tier — adjacency-intersection edge iterator: every
      // triangle {u,v,w} has exactly one vertex u whose two triangle edges
      // both point OUT in the degree orientation, so w is found once, at
      // edge (u,v), as a member of N+(u) ∩ N+(v). Joining each oriented
      // edge with the BROADCAST out-neighbor lists of both endpoints and
      // exploding the intersection enumerates triangles in one
      // exchange-free stage over the edges — the 41 M wedge rows the r18
      // self-join materialized (then hash-probed per row: 100 s of task
      // time at sf0.1) never exist; per-edge work is O(|N+(u)| + |N+(v)|),
      // bounded by the O(sqrt(2m)) orientation bound under any skew.
      // The probe side is hash-fanned on (src, dst) to the session's
      // parallelism (its lineage is a handful of pinned partitions at bench
      // scale; the exchange moves nEdges rows, the cheapest place to buy the
      // heavy stage's parallelism — the fanOutScan rationale). A round-robin
      // repartition would sort every input partition first
      // (`spark.sql.execution.sortBeforeRepartition`); the edges are
      // distinct, so the hash spreads them as evenly. The oriented
      // edges are pinned, so the two orienting joins run once for both
      // consumers: adjU's aggregate and the probe side.
      val n = spark.sessionState.conf.numShufflePartitions
      val oriented = orient(
        e.join(broadcast(degA), "a").join(broadcast(degB), "b")).pin
      // pinned so both broadcasts read one aggregate: adjV renames adjU,
      // so no exchange reuse applies and each broadcast subtree would run
      // its own collect_list aggregate job
      val adjU = oriented.groupBy(col("src")).agg(collect_list(col("dst")).as("nu")).pin
      val adjV = adjU.select(col("src").as("dst"), col("nu").as("nv"))
      // inner joins: src always holds >= 1 out-neighbor; a dst with no
      // out-list cannot witness a triangle (empty intersection) — dropping
      // its edge row changes nothing
      oriented.repartition(n, col("src"), col("dst"))
        .join(broadcast(adjU), Seq("src"))
        .join(broadcast(adjV), Seq("dst"))
        .select(col("src"), col("dst").as("x"),
          explode(array_intersect(col("nu"), col("nv"))).as("y"))
    } else {
      // shuffled tier (the only shape that fits giant edge lists): the
      // oriented list is pinned partitioned+sorted on the wedge join key,
      // so the self-join needs no exchange and no sort on either side
      // (both sides ARE the pinned frame — the r18 pinByKey idiom)
      val oriented = pinByKey(
        orient(e.join(degA, "a").join(degB, "b")), "src", nEdges)
      val o1 = oriented.select(col("src"), col("dst").as("x"))
      val o2 = oriented.select(col("src"), col("dst").as("y"))
      val wedges = o1.join(o2, "src").filter(col("x") < col("y"))
      wedges.join(e,
        wedges("x") === e("a") && wedges("y") === e("b"), "left_semi")
    }
  }

  def triangleStats(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the edge list feeds FIVE plan subtrees (degree union x2, orient join,
    // closing join, census agg) across two actions — checkpoint it once
    // instead of replaying its build lineage per subtree (the q42/q75
    // multi-consumer rule)
    val e = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .pin
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .pin
    // integer `div` everywhere: Column./ is double division, and a double
    // sum of degrees stops being exact past 2^53 edges. Collected BEFORE
    // the triangle count so n_edges can dispatch the wedge join strategy
    // (no extra action — this readout was always needed).
    val base = deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("sum(deg) div 2").as("n_edges"),
        expr("sum(deg * (deg - 1) div 2)").as("n_wedges"))
      .collect()(0)
    val (nNodes, nEdges, nWedges) = (base.getLong(0), base.getLong(1), base.getLong(2))
    // one row per triangle, whichever tier ran
    val triangles = closedOrientedWedges(e, deg, "deg", nEdges).count()
    // HALF_UP to match SQL round() (math.rint is half-to-even)
    val coeff =
      if (nWedges == 0L) 0.0
      else BigDecimal(3.0 * triangles / nWedges)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nNodes, nEdges, nWedges, triangles, coeff))
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles", "clustering_coeff")
  }

  /** Fixed-iteration PageRank over an undirected graph, on an exact
    * integer grid: ranks are longs scaled by `scale`, and every step is
    * integer floor arithmetic —
    *   r0(v)   = scale div n
    *   r_k(v)  = (15*scale) div (100*n) + (85 * sum_{u~v} (r_{k-1}(u) div deg(u))) div 100
    * — so any engine replays the exact same longs (no float summation
    * order anywhere). Returns (v, rank_scaled).
    *
    * Each iteration is one src-keyed join (directed edges x ranks) and one
    * dst-keyed aggregation; ranks are localCheckpoint'ed per iteration so
    * the plan stays iteration-sized (the q75 iterative-CC idiom). The
    * teleport term keeps total mass ~scale, so intermediate sums fit a
    * long at any graph size (85 * scale << 2^63). */
  def pageRankScaled(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    val e = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    // the directed edge list is re-joined EVERY iteration — checkpoint it
    // once so the (possibly expensive) edge-build lineage never replays
    val dir = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .pin
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
      .pin
    val n = deg.count() // one bounded scalar to the driver (node count)
    require(n > 0, "empty graph")
    val m = dir.count() // over the pinned RDD — sizes the loop partitions
    // hoist the loop-invariant edges x degree join, then pin it
    // PARTITIONED AND SORTED on the iteration join key: each per-iteration
    // join reuses the pinned layout, so an iteration is exactly ONE
    // dst-keyed aggregation shuffle — the edge list is never re-shuffled
    // or re-sorted after this point (measured: the unpartitioned pin paid
    // a full edge exchange + sort EVERY iteration). dirDeg has exactly one
    // row per directed edge (every src holds a degree), so m sizes it.
    val dirDeg = pinByKey(dir.join(deg, "src"), "src", m)
    var ranks = deg.select(col("src").as("v"), lit(scale / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = dirDeg.join(ranks, dirDeg("src") === ranks("v"))
        .select(col("dst"), expr("r div deg").as("c"))
      ranks = contrib.groupBy(col("dst").as("v"))
        .agg((lit(15L * scale / (100L * n)) + expr("(85 * sum(c)) div 100")).as("r"))
        .pin
    }
    ranks.select(col("v"), col("r").as("rank_scaled"))
  }

  /** Bounded-hop single-source shortest paths (Bellman-Ford with `iters`
    * relaxation rounds) over an undirected weighted edge list
    * `(a, b, w)` — long node ids, long non-negative weights. `seeds` is a
    * one-column frame `v` of source nodes (distance 0). After k rounds every
    * node whose shortest path uses <= k edges carries its exact distance;
    * all arithmetic is min-plus on longs, so any engine replays identical
    * values. Returns `(v, dist)` for reached nodes only.
    *
    * Scale shape mirrors [[pageRankScaled]]: the directed edge list is
    * checkpointed once, then each round is ONE src-keyed shuffle join
    * (edges x current distances) plus ONE dst-keyed min-aggregation, with
    * the distance frame localCheckpoint'ed so the plan stays round-sized.
    * State is bounded by the reached node set — never materializes paths. */
  def boundedSssp(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    import org.apache.spark.storage.StorageLevel
    val cap = localEdgeCap(edges.sparkSession)
    // persist before counting: edges is often an expensive lazy frame and
    // the tier count must not re-run it for the tier that consumes it next
    val e = edges.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"), col("w").cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    val result =
      if (nEdges <= cap) ssspLocal(e, seeds, iters)
      else ssspRounds(e, seeds, iters, nEdges)
    e.unpersist() // both tiers end pinned/materialized — safe to drop
    result
  }

  /** Small-graph tier: directed edges + seeds ship to ONE task; `iters`
    * synchronous Bellman-Ford rounds over arrays — each round reads the
    * PREVIOUS round's map only, exactly the distributed union+min
    * semantics (after k rounds a node carries the min distance over paths
    * of <= k edges). Executor-side mapPartitions, not a driver collect. */
  private def ssspLocal(e: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val tagged = e.select(col("a"), col("b"), col("w"), lit(false).as("s"))
      .union(seeds.select(col("v").cast("long").as("a"), lit(0L).as("b"),
        lit(0L).as("w"), lit(true).as("s")))
    // Dense-index rewrite (r19): the r17 HashMap loop spent the whole tier
    // wall boxing Long keys per relaxation (profiled 1.3 s of the q167
    // wall at sf0.1). Node ids remap once to [0, n) via a sorted array +
    // binary search; each round is then primitive-array reads/writes over
    // int-indexed edges — same synchronous Bellman-Ford semantics (reads
    // the PREVIOUS round's distances only), ~20x less per-edge work.
    tagged.as[(Long, Long, Long, Boolean)].repartition(1).mapPartitions { it =>
      val ea = new java.util.ArrayList[Long]()
      val eb = new java.util.ArrayList[Long]()
      val ew = new java.util.ArrayList[Long]()
      val seedIds = new java.util.ArrayList[Long]()
      it.foreach { case (a, b, w, isSeed) =>
        if (isSeed) seedIds.add(a)
        else { ea.add(a); eb.add(b); ew.add(w) }
      }
      val nE = ea.size()
      // distinct sorted node ids over both endpoints and the seeds
      val allIds = new Array[Long](localArrayLength(2L * nE + seedIds.size()))
      var i = 0
      while (i < nE) {
        allIds(2 * i) = ea.get(i); allIds(2 * i + 1) = eb.get(i); i += 1
      }
      i = 0
      while (i < seedIds.size()) { allIds(2 * nE + i) = seedIds.get(i); i += 1 }
      java.util.Arrays.sort(allIds)
      val ids = new Array[Long](allIds.length)
      var n = 0
      i = 0
      while (i < allIds.length) {
        if (n == 0 || ids(n - 1) != allIds(i)) { ids(n) = allIds(i); n += 1 }
        i += 1
      }
      def idx(v: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, v)
      // directed edges, both orientations, as int indexes
      val src = new Array[Int](2 * nE)
      val dst = new Array[Int](2 * nE)
      val wgt = new Array[Long](2 * nE)
      i = 0
      while (i < nE) {
        val ia = idx(ea.get(i)); val ib = idx(eb.get(i)); val w = ew.get(i)
        src(2 * i) = ia; dst(2 * i) = ib; wgt(2 * i) = w
        src(2 * i + 1) = ib; dst(2 * i + 1) = ia; wgt(2 * i + 1) = w
        i += 1
      }
      val INF = Long.MaxValue
      var cur = Array.fill(n)(INF)
      i = 0
      while (i < seedIds.size()) { cur(idx(seedIds.get(i))) = 0L; i += 1 }
      var r = 0
      while (r < iters) {
        val next = cur.clone()
        var j = 0
        while (j < 2 * nE) {
          val d = cur(src(j))
          if (d != INF) {
            val nd = d + wgt(j)
            if (nd < next(dst(j))) next(dst(j)) = nd
          }
          j += 1
        }
        cur = next
        r += 1
      }
      (0 until n).iterator.collect { case k if cur(k) != INF => (ids(k), cur(k)) }
    }.toDF("v", "dist").pin
  }

  /** Large-graph tier: the distributed round loop (see [[boundedSssp]]
    * scaladoc for the per-round shape). */
  private def ssspRounds(e: DataFrame, seeds: DataFrame, iters: Int,
                         nEdges: Long): DataFrame = {
    // pinned partitioned+sorted on src: every relaxation round joins on
    // src, so the edge list crosses the network exactly once (see
    // pinByKey — the unpartitioned pin re-shuffled + re-sorted it per
    // round); partitions sized from the known directed-edge count
    val dir = pinByKey(
      e.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(e.select(col("b").as("src"), col("a").as("dst"), col("w"))),
      "src", 2L * nEdges)
    var dist = seeds.select(col("v").cast("long").as("v"), lit(0L).as("d"))
      .distinct().pin
    for (_ <- 1 to iters) {
      val relaxed = dir.join(dist, dir("src") === dist("v"))
        .select(col("dst").as("v"), (col("d") + col("w")).as("d"))
      dist = dist.union(relaxed).groupBy("v").agg(min("d").as("d"))
        .pin
    }
    dist.select(col("v"), col("d").as("dist"))
  }

  /** Bounded k-core peeling census: `rounds` iterations of "drop every node
    * with degree < k, restrict edges to survivors" over an undirected edge
    * list `(a, b)`. Returns one row per round —
    * `(round, nodes_before, kept)` where nodes_before = distinct endpoints
    * of the current edge set and kept = endpoints with degree >= k — so the
    * census exposes both the peel rate and (when two consecutive rounds
    * agree) fixpoint arrival. Bounded rounds is the same contract as
    * [[boundedSssp]]: deterministic, exactly replayable by an unrolled-CTE
    * oracle, and round-sized plans via per-round localCheckpoint.
    *
    * Scale shape: each round is one endpoint-keyed count aggregation plus
    * two semi-joins of the edge list against the (much smaller) survivor
    * set; state is the shrinking edge list, never per-node adjacency. */
  def boundedKCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds in [1,20], got $rounds")
    import org.apache.spark.storage.StorageLevel
    val cap = localEdgeCap(edges.sparkSession)
    val e0 = edges.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e0.count()
    val result =
      if (nEdges <= cap) kCoreLocal(e0, k, rounds)
      else kCoreRounds(e0, k, rounds)
    e0.unpersist()
    result
  }

  /** Small-graph tier: the edge multiset ships to ONE task; each peel
    * round is a degree HashMap + in-place edge filter — identical
    * semantics to the distributed round (degrees over the raw edge
    * multiset, survivors = endpoints with degree >= k, edges restricted
    * to survivor-survivor). Executor-side, not a driver collect. */
  private def kCoreLocal(e0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    // Dense-index rewrite (r19): the r17 loop rebuilt a boxed
    // HashMap[Long,Long] of degrees every round (profiled 2.8 s of the
    // q218 wall at sf0.1, one serial task). Node ids remap once to [0, n)
    // via a sorted array + binary search; each round is then one
    // primitive-int degree pass plus an in-place edge compaction —
    // identical semantics (degrees over the live edge multiset, survivors
    // = endpoints with degree >= k, edges restricted to survivor pairs).
    e0.as[(Long, Long)].repartition(1).mapPartitions { it =>
      val eaL = new java.util.ArrayList[Long]()
      val ebL = new java.util.ArrayList[Long]()
      it.foreach { case (a, b) => eaL.add(a); ebL.add(b) }
      val nE0 = eaL.size()
      val allIds = new Array[Long](localArrayLength(2L * nE0))
      var i = 0
      while (i < nE0) {
        allIds(2 * i) = eaL.get(i); allIds(2 * i + 1) = ebL.get(i); i += 1
      }
      java.util.Arrays.sort(allIds)
      val ids = new Array[Long](allIds.length)
      var n = 0
      i = 0
      while (i < allIds.length) {
        if (n == 0 || ids(n - 1) != allIds(i)) { ids(n) = allIds(i); n += 1 }
        i += 1
      }
      val ea = new Array[Int](nE0)
      val eb = new Array[Int](nE0)
      i = 0
      while (i < nE0) {
        ea(i) = java.util.Arrays.binarySearch(ids, 0, n, eaL.get(i))
        eb(i) = java.util.Arrays.binarySearch(ids, 0, n, ebL.get(i))
        i += 1
      }
      var live = nE0
      val deg = new Array[Long](n)
      val census = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      var r = 1
      while (r <= rounds) {
        java.util.Arrays.fill(deg, 0L)
        var j = 0
        while (j < live) { deg(ea(j)) += 1L; deg(eb(j)) += 1L; j += 1 }
        var nodes = 0L
        var kept = 0L
        var v = 0
        while (v < n) {
          if (deg(v) > 0L) { nodes += 1L; if (deg(v) >= k) kept += 1L }
          v += 1
        }
        census += ((r, nodes, kept))
        // in-place compaction to the survivor-survivor edge prefix
        var w = 0
        j = 0
        while (j < live) {
          if (deg(ea(j)) >= k && deg(eb(j)) >= k) {
            ea(w) = ea(j); eb(w) = eb(j); w += 1
          }
          j += 1
        }
        live = w
        r += 1
      }
      census.iterator
    }.toDF("round", "nodes_before", "kept").pin
  }

  /** Large-graph tier: the distributed peel loop (see [[boundedKCorePeel]]
    * scaladoc for the per-round shape). */
  private def kCoreRounds(e0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    // e0 arrives persisted AND already counted by boundedKCorePeel — the
    // r18 `e0.pin` here re-materialized the same blocks a second time for
    // nothing (the loop is fully eager, so every round has executed before
    // the caller unpersists e0)
    var e = e0
    val census = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    for (r <- 1 to rounds) {
      val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .pin // consumed by the census agg and the keep filter
      val keep = deg.filter(col("d") >= k).select("v")
      // one action per round: nodes_before and kept from a single reduction
      // (sum is NULL on an empty frame — a drained graph must census as 0)
      val row = deg.agg(count(lit(1)),
        coalesce(sum(when(col("d") >= k, 1L).otherwise(0L)), lit(0L))).head()
      census += ((r, row.getLong(0), row.getLong(1)))
      // the census row already holds |keep| — reuse it to dispatch the
      // survivor joins: under the node cap, broadcast the survivor set so
      // BOTH semi-joins run map-side over the pinned edges (one codegen
      // stage, zero edge shuffles); above it, fall back to the shuffled
      // semi-join, which is the only shape that fits giant node sets.
      // Same dispatch pattern as localEdgeCap, decided from a count the
      // loop computes anyway. Results are identical either way (semi-join
      // semantics don't depend on the physical strategy).
      val keepB =
        if (row.getLong(1) <= broadcastNodeCap(spark)) broadcast(keep)
        else keep
      e = e.join(keepB, e("a") === keepB("v"), "left_semi")
      e = e.join(keepB, e("b") === keepB("v"), "left_semi")
        .pin
    }
    census.toSeq.toDF("round", "nodes_before", "kept")
  }

  /** Per-node local clustering coefficient: coeff(v) = 2·T(v) / (d(v)·(d(v)−1))
    * for nodes with degree >= 2, where T(v) counts triangles through v.
    * Returns `(v, d, t, coeff)` with coeff rounded to 6.
    *
    * Same scale shape as [[triangleStats]]: triangles are enumerated ONCE at
    * their degree-order-minimal vertex (oriented wedge self-join closed
    * against the canonical a<b edge table — per-key fan-out O(sqrt(2m))
    * under any skew), then each triangle fans out to its 3 member vertices
    * for the per-node count. Never a deg^2 wedge generation at hubs. */
  def localClustering(edges: DataFrame): DataFrame = {
    // canonicalize instead of trusting the caller: the closing semi-join
    // matches wedges against (a < b) rows only, so a reversed, duplicated,
    // or self-loop edge would silently undercount triangles and inflate
    // degrees. least/greatest + distinct makes any undirected edge list
    // canonical; on already-canonical input the distinct dedups nothing and
    // its shuffle feeds the degree aggregate that follows anyway.
    val e = edges.select(
        least(col("a").cast("long"), col("b").cast("long")).as("a"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .pin // feeds degrees, orientation, and the closing join
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .pin
    // one cheap count over the pinned blocks dispatches the triangle
    // strategy (broadcast under the edge cap, shuffled above — see
    // closedOrientedWedges); one row per triangle carrying its 3 members
    val closed = closedOrientedWedges(e, deg, "d", e.count())
    val perNode = closed
      .select(explode(array(col("src"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("v"), "left")
      .withColumn("t", coalesce(col("t"), lit(0L)))
      .filter(col("d") >= 2)
      // 2.0D: a bare 2.0 literal parses as DECIMAL in Spark SQL and drags
      // the whole chain into decimal division (oracle computes doubles)
      .withColumn("coeff", round(expr("2.0D * t / (d * (d - 1))"), 6))
      .select("v", "d", "t", "coeff")
  }

  /** Modularity of an ATTRIBUTE partition (Newman Q): how much more intra-
    * community edge mass the labeling captures than a degree-preserving
    * random graph would. Q = Σ_c (e_c/m − (d_c/2m)²); this returns the
    * per-community decomposition on an exact integer grid —
    * `contrib_num = 4·m·e_c − d_c²` with denominator 4m², so
    * Q = Σ contrib_num / (4m²) and every row is engine-exact (no float
    * crosses the boundary; overflow-safe while 4·m·e_c < 2⁶³, i.e. to
    * ~10⁹ edges).
    *
    * Scale shape: one degree aggregation, two label joins on the edge list
    * (the label dim broadcasts when small), one scalar edge count riding a
    * broadcast cross join — no iteration, no driver data. Nodes missing
    * from `labels` are dropped (inner-join semantics); labels whose nodes
    * have no internal edges report e_in = 0. */
  def attributeModularity(edges: DataFrame, labels: DataFrame,
                          nodeCol: String = "v",
                          labelCol: String = "community"): DataFrame = {
    val e = edges.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"))
      .pin // consumed by degrees, the scalar m, and the intra-edge count
    val lab = labels.select(col(nodeCol).cast("long").as("v"),
      col(labelCol).as("community"))
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val m = e.agg(count(lit(1)).as("m"))
    val nodes = deg.join(lab, "v")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("d_sum"))
    val inn = e
      .join(lab.select(col("v").as("a"), col("community").as("ca")), "a")
      .join(lab.select(col("v").as("b"), col("community").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("e_in"))
    nodes.join(inn, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("contrib_num",
        lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
      .select("community", "n_nodes", "d_sum", "e_in", "contrib_num")
  }

  /** Personalized PageRank on the same exact integer grid as
    * [[pageRankScaled]]: the 15% teleport mass returns ONLY to the seed
    * set (split evenly), so ranks measure proximity TO the seeds — the
    * recsys/similarity primitive (\"related to this brand\"), not global
    * centrality. Same per-iteration shape (one src-keyed join + one
    * dst-keyed aggregation, lineage pinned); the seed frame is bounded
    * and rides broadcast joins. Nodes unreachable from the seeds hold
    * rank 0 and are reported as such. */
  def personalizedPageRankScaled(edges: DataFrame, seeds: DataFrame,
                                 iters: Int,
                                 scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val dir = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .pin
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg")).pin
    val nodes = deg.select(col("src").as("v")).pin
    val sd = seeds.select(col("v").cast("long").as("v")).distinct()
      .join(nodes, Seq("v"), "left_semi")
      .pin // bounded: the in-graph seed set
    val nS = sd.count()
    require(nS > 0, "no seed is present in the graph")
    val tele = lit(15L * scale / (100L * nS))
    val seedFlag = sd.withColumn("is_seed", lit(1))
    val m = dir.count() // over the pinned RDD — sizes the loop partitions
    // partitioned+sorted on the iteration join key, same as pageRankScaled
    val dirDeg = pinByKey(dir.join(deg, "src"), "src", m)
    var ranks = nodes.join(broadcast(seedFlag), Seq("v"), "left")
      .select(col("v"),
        when(col("is_seed") === 1, lit(scale / nS)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = dirDeg.join(ranks, dirDeg("src") === ranks("v"))
        .select(col("dst"), expr("r div deg").as("c"))
      val agg = contrib.groupBy(col("dst").as("v"))
        .agg(expr("(85 * sum(c)) div 100").as("flow"))
      ranks = nodes
        .join(agg, Seq("v"), "left")
        .join(broadcast(seedFlag), Seq("v"), "left")
        .select(col("v"),
          (coalesce(col("flow"), lit(0L)) +
            when(col("is_seed") === 1, tele).otherwise(lit(0L))).as("r"))
        .pin
    }
    ranks.select(col("v"), col("r").as("pprank_scaled"))
  }

  /** Exact 2-hop neighborhood features: for every node, the count of
    * nodes at distance EXACTLY 2 (reachable through a neighbor, not a
    * neighbor itself, not self) — the classic graph feature for link
    * prediction / fraud fan-out. Returns (v, d, n_two_hop).
    *
    * Scale shape: one wedge self-join on the symmetric edge list (per-key
    * fan-out is the true neighbor count — AQE skew-split handles hub keys),
    * a distinct on (src, dst2), and one anti semi-join against the 1-hop
    * set. Exact by construction; for billion-edge graphs with power-law
    * hubs, cap the fan-out upstream or use an HLL sketch per node instead
    * — this operator is the exact tier. */
  def twoHopFeatures(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .pin // consumed by both wedge sides, the 1-hop anti join, and degrees
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val hops = sym.select(col("a").as("src"), col("b").as("mid"))
      .join(sym.select(col("a").as("mid"), col("b").as("dst")), "mid")
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val twoOnly = hops.join(sym,
        hops("src") === sym("a") && hops("dst") === sym("b"), "left_anti")
      .groupBy(col("src").as("v")).agg(count(lit(1)).as("n_two_hop"))
    deg.join(twoOnly, Seq("v"), "left")
      .withColumn("n_two_hop", coalesce(col("n_two_hop"), lit(0L)))
      .select("v", "d", "n_two_hop")
  }
}
