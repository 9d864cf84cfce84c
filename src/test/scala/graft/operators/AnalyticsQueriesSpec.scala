package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Semantics invariants for the growth/bars analytics shapes (q145-q147):
  * cohort identities, growth accounting conservation, and the max-struct
  * OHLC idiom vs an explicit sort. */
class AnalyticsQueriesSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("cohort cells: offset-0 count is the cohort size; counts never exceed it") {
    val act = Seq( // (user, day) already distinct
      (1L, 0L), (1L, 1L), (1L, 3L),
      (2L, 0L), (2L, 3L),
      (3L, 1L), (3L, 2L),
      (4L, 2L)
    ).toDF("user_id", "day")
    val first = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    val cells = act.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("off"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cells((0L, 0L)) === 2L) // users 1,2
    assert(cells((0L, 3L)) === 2L)
    assert(cells((1L, 0L)) === 1L) // user 3
    assert(cells((2L, 0L)) === 1L) // user 4
    val sizes = cells.collect { case ((c, 0L), n) => c -> n }
    assert(cells.forall { case ((c, _), n) => n <= sizes(c) })
  }

  test("growth accounting: active = new + returning, cumulative ends at distinct users") {
    val act = Seq(
      (1L, 0L), (2L, 0L), (1L, 1L), (3L, 1L), (2L, 2L), (4L, 2L), (1L, 2L)
    ).toDF("user_id", "day")
    val daily = act.groupBy("day").agg(count(lit(1)).as("n_active"))
    val news = act.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = daily.join(news, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("cum_users", sum("n_new").over(w))
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out === Array((0L, 2L, 2L, 0L, 2L), (1L, 2L, 1L, 1L, 3L),
      (2L, 3L, 1L, 2L, 4L)))
    assert(out.forall { case (_, a, n, r, _) => a == n + r })
  }

  test("OHLC max-struct open/close equals the explicit time-sorted first/last") {
    val e = Seq( // (type, h, ts, id, vm) with a ts tie inside bar (a,0)
      ("a", 0L, 100L, 1L, 5L), ("a", 0L, 50L, 2L, 9L), ("a", 0L, 100L, 3L, 2L),
      ("a", 1L, 10L, 4L, 7L),
      ("b", 0L, 30L, 5L, 1L), ("b", 0L, 20L, 6L, 8L)
    ).toDF("t", "h", "ts", "id", "vm")
    val bars = e.groupBy("t", "h").agg(
        min(struct(col("ts"), col("id"), col("vm"))).getField("vm").as("open_vm"),
        max(struct(col("ts"), col("id"), col("vm"))).getField("vm").as("close_vm"),
        max("vm").as("high_vm"), min("vm").as("low_vm"))
      .orderBy("t", "h").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // bar (a,0): open = ts 50 -> 9; close = (ts 100, id 3) -> 2 (tie on ts
    // breaks on id, never on vm)
    assert(bars === Array(
      ("a", 0L, 9L, 2L, 9L, 2L),
      ("a", 1L, 7L, 7L, 7L, 7L),
      ("b", 0L, 8L, 1L, 8L, 1L)))
  }

  test("sortedNeighborhoodPairs: exactly the within-window pairs, blocks isolated") {
    import graft.text.EntityResolution
    val df = Seq( // (id, block, ord)
      (1L, "x", 10L), (2L, "x", 20L), (3L, "x", 30L), (4L, "x", 40L),
      (5L, "y", 5L), (6L, "y", 6L),
      (7L, "z", 1L)
    ).toDF("id", "blk", "o")
    val out = EntityResolution.sortedNeighborhoodPairs(df, col("id"),
        col("blk"), col("o"), window = 2)
      .orderBy("block", "id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out === Array(
      ("x", 1L, 2L, 1), ("x", 1L, 3L, 2), ("x", 2L, 3L, 1), ("x", 2L, 4L, 2),
      ("x", 3L, 4L, 1),
      ("y", 5L, 6L, 1)))
  }

  test("sortedNeighborhoodPairs: window=n-1 recovers the full block quadratic") {
    import graft.text.EntityResolution
    val df = (1L to 6L).map(i => (i, "b", i * 7 % 5)).toDF("id", "blk", "o")
    val pairs = EntityResolution.sortedNeighborhoodPairs(df, col("id"),
      col("blk"), col("o"), window = 5)
    assert(pairs.count() === 15L) // C(6,2)
    // and each unordered pair appears exactly once
    assert(pairs.select(least(col("id_a"), col("id_b")),
      greatest(col("id_a"), col("id_b"))).distinct().count() === 15L)
  }

  test("centroid cosine on the integer grid: identical-direction labels score 1") {
    val emb = Seq(
      (0, Array(1.0f, 2.0f, 2.0f)), (0, Array(2.0f, 4.0f, 4.0f)),
      (1, Array(0.5f, 1.0f, 1.0f)), // same direction as label 0
      (2, Array(-1.0f, 0.0f, 0.0f)) // orthogonal-ish
    ).toDF("label", "embedding")
    val el = emb.select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label"), col("i"),
        floor(col("x").cast("double") * 1000000).cast("long").as("xm"))
    val sums = el.groupBy("label", "i")
      .agg(sum("xm").cast("decimal(38,0)").as("sv"))
    val dots = sums.as("a")
      .join(sums.as("b"), col("a.i") === col("b.i") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
      .agg(sum(col("a.sv") * col("b.sv")).as("dot"))
    val norms = sums.groupBy("label").agg(sum(col("sv") * col("sv")).as("nrm"))
    val cos = dots
      .join(norms.select(col("label").as("la"), col("nrm").as("na")), "la")
      .join(norms.select(col("label").as("lb"), col("nrm").as("nb")), "lb")
      .select(col("la"), col("lb"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          .as("c"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(cos((0, 1)) === 1.0)
    assert(math.abs(cos((0, 2)) - (-1.0 / 3)) < 1e-5) // (-1,0,0)·(1,2,2)/3
  }

  test("sequence patterns: ordered per-user strings and regex flags") {
    val e = Seq( // (user, ts, id, type-initial) — deliberately out of order
      (1L, 30L, 3L, "p"), (1L, 10L, 1L, "v"), (1L, 20L, 2L, "c"),
      (2L, 10L, 4L, "v"), (2L, 20L, 5L, "c"), // vc adjacent, no purchase
      (3L, 10L, 6L, "s"), (3L, 20L, 7L, "e"), (3L, 30L, 8L, "p")
    ).toDF("user_id", "ts", "event_id", "c")
    val seqs = e.groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("c")))),
        x => x.getField("c")), "").as("seq"))
    val m = seqs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "vcp", 2L -> "vc", 3L -> "sep"))
    val census = seqs.agg(
        sum(when(col("seq").rlike("v.*c.*p"), 1L).otherwise(0L)).as("vcp"),
        sum(when(col("seq").rlike("s.*p"), 1L).otherwise(0L)).as("sp"),
        sum(graft.text.TextAnalysis.substrCount(col("seq"), "vc")).as("vc"))
      .collect()(0)
    assert((census.getLong(0), census.getLong(1), census.getLong(2)) === ((1L, 1L, 2L)))
  }

  test("activity bitmaps: bit_or packs days, popcount and patterns are exact") {
    val act = Seq( // (user, day) distinct, origin day 10
      (1L, 10L), (1L, 11L), (1L, 17L), // days 0,1,7 -> bm = 1|2|128 = 131
      (2L, 12L),                       // day 2 -> bm = 4
      (3L, 10L), (3L, 17L)             // days 0,7 -> bm = 129
    ).toDF("user_id", "day")
    val d0 = act.agg(min("day").as("d0"))
    val bm = act.crossJoin(d0)
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(day - d0 AS INT))").as("bit"))
      .groupBy("user_id").agg(expr("bit_or(bit)").as("bm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bm === Map(1L -> 131L, 2L -> 4L, 3L -> 129L))
    val day07 = bm.values.count(v => (v & 129L) == 129L)
    assert(day07 === 2)
    assert(java.lang.Long.bitCount(bm(1L)) === 3)
  }

  test("Gini closed form over (frequency, multiplicity) runs matches direct rank sum") {
    // frequencies with ties: keys {a:1, b:1, c:2, d:4} -> sorted 1,1,2,4
    // direct: n=4, S=8, T = 1*1+1*2+2*3+4*4 = 25; G = (2*25 - 5*8)/(4*8) = 10/32
    val f = Seq(("a", 1L), ("b", 1L), ("c", 2L), ("d", 4L)).toDF("k", "f")
    val ff = f.groupBy("f").agg(count(lit(1)).as("m"))
    val w = Window.orderBy("f")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = ff.withColumn("cum", sum("m").over(w))
      .select(col("f"), col("m"), (col("cum") - col("m") + 1).as("srank"))
    val r = terms.agg(
        sum("m").as("nk"),
        sum((col("f") * col("m")).cast("decimal(38,0)")).as("nr"),
        sum(col("f").cast("decimal(38,0)") *
          (col("m") * col("srank") + expr("m * (m - 1) div 2"))
            .cast("decimal(38,0)")).as("t"))
      .select(
        ((lit(2).cast("decimal(38,0)") * col("t") -
          (col("nk") + 1).cast("decimal(38,0)") * col("nr")).cast("double") /
          (col("nk").cast("decimal(38,0)") * col("nr")).cast("double")).as("g"))
      .collect()(0).getDouble(0)
    assert(math.abs(r - 10.0 / 32.0) < 1e-12)
  }
}
