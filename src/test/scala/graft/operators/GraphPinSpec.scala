package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** r19 optimization internals:
  *  - pinByKey must deliver a HashPartitioning + in-partition ordering on
  *    the pinned frame, which `PinnedLayout` declares on its LogicalRDD
  *    (with AQE on, no conf is toggled);
  *  - the session's own adaptive.enabled must be untouched by a pin;
  *  - the partition count must derive from the caller-known row count
  *    (capped at the session conf);
  *  - the broadcast and shuffled triangle tiers (closedOrientedWedges
  *    dispatch) must produce identical censuses / per-node coefficients;
  *  - the dense-array local tiers (kCoreLocal, ssspLocal) must equal the
  *    distributed round loops on the same graph, and a local-tier cap
  *    their Int-indexed arrays cannot hold is rejected at call time.
  */
class GraphPinSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  // a deterministic pseudo-random graph with triangles, hubs and chains
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def graph(n: Int, m: Int): Seq[(Long, Long)] =
    (1 to m).map { i =>
      val a = math.floorMod(mix(i.toLong), n.toLong)
      val b = math.floorMod(mix(i.toLong * 2 + 1), n.toLong)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct

  test("pinByKey: layout pinned, session AQE untouched, sized partitions") {
    // the pin takes min(shuffle partitions, ceil(rows / per-partition)):
    // 4 partitions keep the asserted counts on any core count
    withConf("spark.sql.shuffle.partitions" -> "4") {
      val df = graph(500, 3000).toDF("a", "b")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val pinned = withConf(Graph.PinRowsPerPartitionKey -> "1000")(
        Graph.pinByKey(df, "a", rows = 3000L))
      // the bracket must not leak to the shared session
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val plan = pinned.queryExecution.executedPlan
      val part = plan.outputPartitioning
      assert(part.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
        s"expected HashPartitioning, got $part")
      // ceil(3000 / 1000) = 3 partitions, under the session's 4
      assert(part.numPartitions == 3, s"expected 3 partitions, got $part")
      assert(plan.outputOrdering.nonEmpty, "expected pinned in-partition ordering")
      // rows <= 0 falls back to the session conf
      val pinnedDefault = Graph.pinByKey(df, "a")
      assert(pinnedDefault.queryExecution.executedPlan
        .outputPartitioning.numPartitions == 4)
    }
  }

  test("triangle tiers agree: broadcast wedge joins == shuffled wedge joins") {
    val edges = graph(120, 900).toDF("a", "b")
    val viaBroadcast = Graph.triangleStats(edges).collect()(0)
    val viaShuffle = withConf(Graph.BroadcastEdgeCapKey -> "0")(
      Graph.triangleStats(edges).collect()(0))
    assert(viaBroadcast.toSeq === viaShuffle.toSeq)
    assert(viaBroadcast.getLong(3) > 0L, "graph should contain triangles")

    val lcB = Graph.localClustering(edges).orderBy("v").collect().map(_.toSeq)
    val lcS = withConf(Graph.BroadcastEdgeCapKey -> "0")(
      Graph.localClustering(edges).orderBy("v").collect().map(_.toSeq))
    assert(lcB === lcS)
  }

  test("k-core tiers agree: dense-array local peel == distributed rounds") {
    val edges = graph(200, 2400).toDF("a", "b")
    val local = Graph.boundedKCorePeel(edges, k = 8, rounds = 6)
      .orderBy("round").collect().map(_.toSeq)
    val dist = withConf(Graph.LocalEdgeCapKey -> "0")(
      Graph.boundedKCorePeel(edges, k = 8, rounds = 6)
        .orderBy("round").collect().map(_.toSeq))
    assert(local === dist)
  }

  test("sssp tiers agree: dense-array local relax == distributed rounds") {
    val edges = graph(300, 1200).toDF("a", "b")
      .withColumn("w", pmod(col("a") + col("b"), lit(5)) + lit(1))
    val seeds = Seq(0L, 7L, 13L).toDF("v")
    val local = Graph.boundedSssp(edges, seeds, iters = 4)
      .orderBy("v").collect().map(_.toSeq)
    val dist = withConf(Graph.LocalEdgeCapKey -> "0")(
      Graph.boundedSssp(edges, seeds, iters = 4)
        .orderBy("v").collect().map(_.toSeq))
    assert(local === dist)
    assert(local.nonEmpty)
  }

  test("a local-tier edge cap above the Int array bound is rejected at call time") {
    val edges = graph(20, 40).toDF("a", "b")
      .withColumn("w", lit(1L))
    val seeds = Seq(0L).toDF("v")
    withConf(Graph.LocalEdgeCapKey -> "2000000000") {
      intercept[IllegalArgumentException](Graph.boundedSssp(edges, seeds, iters = 2))
      intercept[IllegalArgumentException](Graph.boundedKCorePeel(edges, k = 2, rounds = 2))
    }
  }
}
