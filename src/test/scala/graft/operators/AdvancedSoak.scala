package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.JobMetrics.phase

/** Scale soak for the round-10 Advanced family's scale-critical shapes,
  * with CLOSED-FORM invariants (no oracle, no tolerance):
  *
  *   1. Bucketed two-level GLOBAL rank (the q176/q180 idiom): a 20M-row
  *      value permutation must rank every row at exactly its value —
  *      sum|rank - v| == 0 — while never moving the data through a
  *      single-partition window (the offsets window sees only bucket
  *      counts).
  *   2. Sweep-line interval concurrency (q194): a nested staircase of M
  *      intervals per day has max concurrency exactly M in EVERY day.
  *   3. CUSUM closed forms (q168): a constant series has s == 0
  *      everywhere; a series with one planted +delta step of length L at
  *      the end has max cusum == L*(delta - drift) on the integer grid.
  *
  * Run: sbt "Test/runMain graft.Soak AdvancedSoak [N] [days] [M]"
  */
object AdvancedSoak {

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val n = args.long(0, 20000000L)
    val days = args.int(1, 200)
    val m = args.int(2, 50000)

    // --- 1. two-level global rank on a 20M permutation -------------------
    // v = id * 48271 mod n with gcd(48271, n) = 1 (n even, 48271 odd prime
    // > n has no common factor when n % 48271 != 0) is a bijection, so
    // ranking by v must assign rank == v to every row.
    require(n % 48271L != 0, "pick n not divisible by 48271")
    val perm = spark.range(0, n)
      .select(((col("id") * 48271L) % n).as("v"))
    val ranked = graft.model.Frames.denseIndexByKey(perm, Seq.empty,
      bucketCol = expr(s"v div ${math.max(n / 4096, 1)}"),
      orderCols = Seq(col("v")), as = "rank")
    val mismatch = phase(spark, "globalRank")(
      ranked.agg(sum(abs(col("rank") - col("v")))).head().getLong(0))
    require(mismatch == 0L, s"rank != v somewhere: $mismatch")
    println(s"[soak] rank permutation exact at n=$n")

    // --- 2. sweep-line concurrency: nested staircase ---------------------
    // day d holds intervals [i, i + m] (i < m) on its own time origin; at
    // t = m - 1 every interval is active, so each day's max is exactly m.
    val dayNs = 86400000000000L
    val iv = spark.range(0, days.toLong * m).select(
      (col("id") / m).cast("long").as("day"),
      (col("id") % m).as("i"))
      .select(col("day"),
        (col("day") * dayNs + col("i")).as("st"),
        (col("day") * dayNs + col("i") + m).as("en"))
    val b = iv.select(col("day"), col("st").as("t"), lit(1L).as("d"))
      .unionAll(iv.select(col("day"), col("en").as("t"), lit(-1L).as("d")))
    val w = Window.partitionBy("day").orderBy(col("t"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val maxima = phase(spark, "sweepLine")(
      b.withColumn("cum", sum("d").over(w))
        .groupBy("day").agg(max("cum").as("mx"))
        .agg(min("mx").as("lo"), max("mx").as("hi")).head())
    require(maxima.getLong(0) == m && maxima.getLong(1) == m,
      s"staircase concurrency != $m: $maxima")
    println(s"[soak] sweep-line max exact ($m) in all $days days")

    // --- 3. CUSUM closed forms -------------------------------------------
    // series A: constant -> mean == value -> s == 0 everywhere.
    // series B: nB zeros then L of +delta. mean = floor(L*delta / n);
    // replaying s_t = max(0, s_(t-1) + v - mean) gives the exact peak.
    val nB = 1000000L
    val l = 1000L
    val delta = 1000L
    val muB = (l * delta) / (nB + l)
    var peak = 0L; var s = 0L
    var i = 0L
    while (i < nB + l) {
      val v = if (i < nB) 0L else delta
      s = math.max(0L, s + v - muB); if (s > peak) peak = s
      i += 1
    }
    val series = spark.range(0, nB + l).select(col("id").as("t"),
        when(col("id") < nB, 0L).otherwise(delta).as("vm"))
      .withColumn("grp", lit("b"))
      .unionAll(spark.range(0, nB).select(col("id").as("t"), lit(7L).as("vm"))
        .withColumn("grp", lit("a")))
    val mu = series.groupBy("grp").agg(expr("sum(vm) div count(*)").as("mu"))
    val cw = Window.partitionBy("grp").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cus = phase(spark, "cusum")(
      series.join(broadcast(mu), "grp")
        .withColumn("cs", sum(col("vm") - col("mu")).over(cw))
        .withColumn("s", col("cs") - least(lit(0L), min("cs").over(cw)))
        .groupBy("grp").agg(max("s").as("mx"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    require(cus("a") == 0L, s"constant series cusum != 0: ${cus("a")}")
    require(cus("b") == peak, s"planted step peak ${cus("b")} != replay $peak")
    println(s"[soak] cusum closed forms exact (peak=$peak)")

    println("[soak] AdvancedSoak PASS")
  }
}
