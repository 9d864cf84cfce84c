package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

/** Scale soak for the graph family with CLOSED-FORM invariants:
  *
  *   - K disjoint k-cliques  -> exactly K * C(k,3) triangles
  *   - one H-leaf star hub   -> exactly 0 triangles, maximal degree skew
  *
  * The star is the adversarial case for triangle counting: a naive
  * wedge-at-every-vertex join generates C(H,2) wedges at the hub (5e11 at
  * H=1M — job-killing); degree orientation points every star edge INTO
  * the hub (leaf degree 1 < hub degree H), so the hub generates ZERO
  * wedges and the star costs nothing. The soak asserts the exact triangle
  * count and PageRank leaf-uniformity/mass invariants at ~1M-edge scale.
  *
  * Run: sbt "Test/runMain graft.Soak GraphSoak [K] [k] [H] [iters] [ckptDir]"
  *
  * A non-empty 5th arg switches every iterative pin from executor-memory
  * localCheckpoint to RELIABLE checkpointing into that directory
  * (Checkpoints.DirKey) — the executor-loss-safe cluster mode; the soak
  * then certifies the reliable path at the same scale and invariants.
  */
object GraphSoak {

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val cliques = args.int(0, 2000)
    val k = args.int(1, 6)
    val leaves = args.long(2, 1000000L)
    val iters = args.int(3, 5)
    val ckptDir = args.str(4, "").trim
    if (ckptDir.nonEmpty) {
      spark.conf.set(Checkpoints.DirKey, ckptDir)
      println(s"pin mode: RELIABLE checkpoint -> $ckptDir")
    } else println("pin mode: localCheckpoint")
    import spark.implicits._

    // clique pair template: C(k,2) (j1, j2) offsets
    val pairTemplate = (for {
      a <- 0 until k; b <- (a + 1) until k
    } yield (a, b)).toDF("j1", "j2")
    val cliqueEdges = spark.range(0, cliques.toLong).select(col("id").as("c"))
      .crossJoin(pairTemplate)
      .select((col("c") * k + col("j1")).as("a"), (col("c") * k + col("j2")).as("b"))
    val hub = cliques.toLong * k
    val starEdges = spark.range(0, leaves)
      .select(lit(hub).as("a"), (lit(hub) + 1 + col("id")).as("b"))
    val edges = cliqueEdges.union(starEdges)

    val expectTri = cliques.toLong * (k.toLong * (k - 1) * (k - 2) / 6)
    val nEdges = cliques.toLong * k * (k - 1) / 2 + leaves

    val tri = phase(spark, "triangleStats")(Graph.triangleStats(edges).collect()(0))
    println(f"triangleStats: nodes=${tri.getLong(0)} edges=${tri.getLong(1)} " +
      f"wedges=${tri.getLong(2)} triangles=${tri.getLong(3)}")
    assert(tri.getLong(3) == expectTri,
      s"triangles ${tri.getLong(3)} != expected $expectTri")
    assert(tri.getLong(1) == nEdges, s"edges ${tri.getLong(1)} != $nEdges")

    val (leafRanks, hubRank, mass) = phase(spark, "pageRank") {
      val ranks = Graph.pageRankScaled(edges, iters = iters)
      (ranks.filter(col("v") > hub).select(col("rank_scaled"))
        .distinct().collect().map(_.getLong(0)),
        ranks.filter(col("v") === hub).collect()(0).getLong(1),
        ranks.agg(sum("rank_scaled")).collect()(0).getLong(0))
    }
    println(f"pageRank($iters): hubRank=$hubRank " +
      f"distinctLeafRanks=${leafRanks.length} mass=$mass")
    // all star leaves are symmetric -> identical ranks
    assert(leafRanks.length == 1, s"leaves not uniform: ${leafRanks.length} values")
    assert(hubRank > leafRanks(0), "hub must outrank leaves")
    // floor losses only: mass within (iters+1) * nNodes of the scale
    val nNodes = cliques.toLong * k + 1 + leaves
    assert(mass <= 1000000000000L && mass > 1000000000000L - (iters + 1).toLong * nNodes,
      s"mass $mass outside floor-loss envelope")
  }
}
