package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

/** Connected-components tier-parity soak (dev main, not a test): certifies
  * the DISTRIBUTED label-propagation tier on an edge list ABOVE
  * `graft.cc.localEdgeCap` — the regime the driver-scale tests never reach
  * (their LSH pair lists are hundreds of edges, all served by the
  * union-find tier) — and proves both tiers produce identical components
  * on the same graph.
  *
  * Graph shape is the adversarial mix for propagation:
  *  - `nClusters` dense 8-node ring+chord clusters (diameter 2 — the
  *    documented common case for near-dup graphs; 16 edges each), and
  *  - `nChains` chains of `chainLen` nodes (diameter chainLen — the
  *    pathology that forces the pointer-jump rounds: plain min-label
  *    propagation would need chainLen rounds and blow maxIter).
  *
  * Everything is generated distributively from spark.range (pure codegen,
  * no driver data). Expected components are known by construction (chain
  * base ids / cluster min ids), so the census is validated exactly, then
  * the union-find tier runs the SAME edges with a raised cap and the two
  * outputs are compared with except() both ways.
  *
  * Run: sbt "Test/runMain graft.Soak CcScaleSoak [nClusters] [nChains] [chainLen]"
  * Defaults: 125000 clusters (2 M edges) + 16 x 62500 chains (1 M edges)
  * = 3 M edges, 2 M nodes — above the 2 M default cap.
  */
object CcScaleSoak {
  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nClusters = args.long(0, 125000L)
    val nChains = args.long(1, 16L)
    val chainLen = args.long(2, 62500L)
    // GRAFT_CKPT_DIR switches every per-round pin from localCheckpoint to
    // RELIABLE checkpointing (the 1000-executor setting — executor loss
    // costs one round re-read, not the iteration history)
    sys.env.get("GRAFT_CKPT_DIR").foreach { d =>
      spark.conf.set(graft.operators.Checkpoints.DirKey, d)
      println(s"[soak] reliable checkpoint mode: $d")
    }

    // chain node ids live at 1e12 + chain*1e8 + pos — disjoint from the
    // cluster range (cluster*100 + member, < nClusters*100)
    val chainBase = 1000000000000L
    // `/` on longs is DOUBLE division in Spark SQL — `div` keeps the ids
    // integral (the NOTES.md cross-engine playbook's oldest trap)
    val chainEdges = spark.range(nChains * (chainLen - 1))
      .select(
        (lit(chainBase) + expr(s"id div ${chainLen - 1}") * 100000000L
          + col("id") % (chainLen - 1)).as("doc_a"),
        (lit(chainBase) + expr(s"id div ${chainLen - 1}") * 100000000L
          + col("id") % (chainLen - 1) + 1L).as("doc_b"))
    val clusterEdges = spark.range(nClusters * 8)
      .select(expr("id div 8").as("c"), (col("id") % 8).as("m"))
      .select(col("c"), col("m"),
        explode(array(pmod(col("m") + 1, lit(8)), pmod(col("m") + 2, lit(8))))
          .as("m2"))
      .select((col("c") * 100 + col("m")).as("doc_a"),
        (col("c") * 100 + col("m2")).as("doc_b"))
    val edges = chainEdges.union(clusterEdges)
    val nEdges = nChains * (chainLen - 1) + nClusters * 16
    val nNodes = nChains * chainLen + nClusters * 8
    println(s"[soak] $nEdges edges, $nNodes nodes " +
      s"($nClusters dense clusters + $nChains chains of $chainLen)")

    // --- distributed tier (edge count above the default 2 M cap) ---
    val dist = phase(spark, "labelPropagationTier") {
      val cc = TextOps.connectedComponents(edges)
      cc.count() // pin is eager, but count makes the wall explicit
      cc
    }
    val census = phase(spark, "census") {
      dist.groupBy("component").count()
        .groupBy("count").agg(count("*").as("n_components"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    println(s"[soak] census (size -> n): $census")
    require(census(8L) == nClusters, s"expected $nClusters 8-clusters: $census")
    require(census(chainLen) == nChains, s"expected $nChains chains: $census")
    require(census.size == 2, s"unexpected component sizes: $census")

    // --- union-find tier on the SAME edges, cap raised past the count ---
    val uf = phase(spark, "unionFindTier") {
      val cc = graft.Session.withConf(spark)(
        TextOps.CcLocalEdgeCapKey -> (nEdges + 1).toString)(TextOps.connectedComponents(edges))
      cc.count()
      cc
    }
    val diff = phase(spark, "tierParity") {
      dist.exceptAll(uf).count() + uf.exceptAll(dist).count()
    }
    require(diff == 0, s"tiers disagree on $diff rows")
    println(s"[soak] PARITY: both tiers identical on $nNodes nodes")
  }
}
