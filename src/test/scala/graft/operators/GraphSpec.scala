package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Graph operators: co-occurrence edge build, degree-oriented triangle
  * census (vs brute force), and integer-grid PageRank invariants. */
class GraphSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def edgesDf(pairs: Seq[(Long, Long)]) = pairs.toDF("a", "b")

  test("coOccurrenceEdges: distinct a<b pairs per group, multi-line dups collapse") {
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L), (1L, 30L), // dup item in group
      (2L, 20L), (2L, 10L),                       // same pair, other group
      (3L, 40L)                                   // singleton -> no pairs
    ).toDF("g", "item")
    val out = Graph.coOccurrenceEdges(df, "g", "item")
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out === Array((10L, 20L), (10L, 30L), (20L, 30L)))
  }

  test("triangleStats: K4 is all triangles, a star has none") {
    val k4 = edgesDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    val r = Graph.triangleStats(k4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 6L, 12L, 4L)))
    assert(r.getDouble(4) === 1.0) // 3*4/12
    val star = edgesDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    val s = Graph.triangleStats(star).collect()(0)
    assert(s.getLong(3) === 0L)
    assert(s.getLong(2) === 6L) // C(4,2) wedges at the hub
    assert(s.getDouble(4) === 0.0)
  }

  test("degree-oriented count equals the brute-force a<b<c join on a hashed graph") {
    // deterministic pseudo-random graph: 40 nodes, edge iff md5-derived bit
    val nodes = spark.range(0, 40).select(col("id").as("a"))
    val e = nodes.crossJoin(spark.range(0, 40).select(col("id").as("b")))
      .filter(col("a") < col("b"))
      .filter(substring(md5(concat_ws(":", col("a"), col("b"))), 1, 1)
        .isin("0", "1", "2", "3"))
    val fast = Graph.triangleStats(e).collect()(0).getLong(3)
    val brute = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .count()
    assert(fast === brute && fast > 0)
  }

  test("pageRank: regular graphs get uniform ranks, mass is conserved mod floor loss") {
    // 6-cycle: every node identical by symmetry
    val cycle = edgesDf((0L to 5L).map(i => (i, (i + 1) % 6)).map {
      case (x, y) => (math.min(x, y), math.max(x, y))
    })
    val r = Graph.pageRankScaled(cycle, iters = 4, scale = 1000000L)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.map(_._2).distinct.length === 1)
    val total = r.map(_._2).sum
    // each floor div loses < 1 per node per term; 4 iterations x 6 nodes
    assert(total <= 1000000L && total > 1000000L - 200L)
  }

  test("pageRank: a hub outranks leaves and results are layout-invariant") {
    val star = edgesDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L)))
    val ranks = Graph.pageRankScaled(star, iters = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(ranks(1L) > ranks(2L))
    assert(Seq(2L, 3L, 4L, 5L, 6L).map(ranks).distinct.length === 1)
    val again = Graph.pageRankScaled(star.repartition(7), iters = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(again === ranks)
  }

  test("kCorePeel: pendant chain peels one hop per round, clique core survives") {
    // 4-clique {1,2,3,4} + chain 4-5-6-7: at k=2 the chain erodes from the
    // far end one node per round (7, then 6, then 5), the clique never
    // peels — census must show exactly that trajectory and the fixpoint
    val clique = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val census = Graph.boundedKCorePeel(edgesDf(clique ++ chain), k = 2, rounds = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(census.toSeq === Seq(
      (1, 7L, 6L), // degree-1 node 7 dropped
      (2, 6L, 5L), // node 6 now degree-1
      (3, 5L, 4L), // node 5 now degree-1
      (4, 4L, 4L), // fixpoint: the 4-clique, every degree 3
      (5, 4L, 4L)))
  }

  test("localClustering: known coefficients on a clique + bridge, orientation loses nothing") {
    // 4-clique {1,2,3,4}; node 5 bridges 1 and 2 (closing one extra triangle
    // through edge (1,2)); node 6 pendant off 5. Hand-computed:
    //   v=1: d=4, t(neighbor pairs adjacent)= {2,3},{2,4},{3,4},{2,5} -> 4 of C(4,2)=6
    //   v=5: d=3, neighbors {1,2,6}: only (1,2) adjacent -> t=1, coeff=1/3
    //   v=6: d=1 -> filtered out
    val edges = edgesDf(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L), (5L, 6L)))
    val got = Graph.localClustering(edges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(6L))
    assert(got(1L) === ((4L, 4L, 0.666667)))
    assert(got(2L) === ((4L, 4L, 0.666667)))
    assert(got(3L) === ((3L, 3L, 1.0)))
    assert(got(4L) === ((3L, 3L, 1.0)))
    assert(got(5L) === ((3L, 1L, 0.333333)))
    // triangle conservation: per-node counts sum to 3x the global census
    val global = Graph.triangleStats(edges).collect()(0).getLong(3)
    assert(got.values.map(_._2).sum === 3L * global)
  }

  test("localClustering: non-canonical input (reversed dups, self-loops) matches canonical") {
    val canonical = edgesDf(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L), (5L, 6L)))
    // same graph delivered dirty: every edge reversed, two duplicated (one
    // in each orientation), plus a self-loop
    val dirty = edgesDf(Seq(
      (2L, 1L), (3L, 1L), (4L, 1L), (3L, 2L), (4L, 2L), (4L, 3L),
      (5L, 1L), (5L, 2L), (6L, 5L),
      (1L, 2L), (4L, 3L), (3L, 3L)))
    def snap(df: org.apache.spark.sql.DataFrame) =
      Graph.localClustering(df).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(snap(dirty) === snap(canonical))
  }

  test("kCorePeel: empty survivor set stays empty (no NPE on empty rounds)") {
    val path = edgesDf(Seq((1L, 2L), (2L, 3L)))
    val census = Graph.boundedKCorePeel(path, k = 3, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(census.toSeq === Seq((1, 3L, 0L), (2, 0L, 0L), (3, 0L, 0L)))
  }

  test("attributeModularity: hand-computed Newman Q decomposition") {
    // triangle {1,2,3} labeled A plus pendant 4 labeled B: m=4,
    // A: d_sum=7, e_in=3 -> 4*4*3 - 49 = -1; B: d_sum=1, e_in=0 -> -1
    // Q = (-1 + -1) / (4*16) = -0.03125 (matches the textbook formula)
    val e = edgesDf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B")).toDF("v", "community")
    val out = Graph.attributeModularity(e, lab)
      .orderBy("community").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(("A", 3L, 7L, 3L, -1L), ("B", 1L, 1L, 0L, -1L)))
    val q = out.map(_._5).sum.toDouble / (4.0 * 4 * 4)
    assert(math.abs(q - (-0.03125)) < 1e-12)
  }

  test("twoHopFeatures: exact distance-2 counts on the pendant triangle") {
    val e = edgesDf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val out = Graph.twoHopFeatures(e).orderBy("v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1: 2-hop {4}; 2: {4}; 3: none (everything is <=1 hop); 4: {1,2}
    assert(out.toSeq === Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 0L), (4L, 1L, 2L)))
  }

  test("boundedSssp / kCorePeel: single-task and distributed tiers agree") {
    // forcing the cap to 0 routes the SAME graph through the distributed
    // round loop — the two tiers must compute the identical bounded-round
    // function. Graph: a hashed pseudo-random core (tests clique-ish
    // structure + duplicate-free dispatch) plus a 30-node pendant chain
    // (tests the round-bounded frontier the local tier must NOT outrun).
    def withCapZero[T](f: => T): T = withConf(Graph.LocalEdgeCapKey -> "0")(f)
    val nodes = spark.range(0, 60).select(col("id").as("a"))
    val rand = nodes.crossJoin(spark.range(0, 60).select(col("id").as("b")))
      .filter(col("a") < col("b"))
      .filter(substring(md5(concat_ws(":", col("a"), col("b"))), 1, 1)
        .isin("0", "1"))
      .select("a", "b")
    val chain = edgesDf((59L until 89L).map(i => (i, i + 1)))
    val edges = rand.union(chain)
      .withColumn("w", pmod(col("a") + col("b"), lit(5)) + lit(1))
    val seeds = Seq(0L, 59L).toDF("v")

    def canonS(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val localS = canonS(Graph.boundedSssp(edges, seeds, iters = 6))
    val distS = withCapZero(canonS(Graph.boundedSssp(edges, seeds, iters = 6)))
    assert(localS.nonEmpty && localS === distS)
    // the bounded-hop contract: 6 rounds reach exactly 6 chain hops past 59
    assert(localS.exists(_._1 == 65L) && !localS.exists(_._1 == 66L))

    def canonK(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("round").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val localK = canonK(Graph.boundedKCorePeel(edges.select("a", "b"), k = 3, rounds = 6))
    val distK = withCapZero(
      canonK(Graph.boundedKCorePeel(edges.select("a", "b"), k = 3, rounds = 6)))
    assert(localK === distK && localK.size == 6)
  }
}
