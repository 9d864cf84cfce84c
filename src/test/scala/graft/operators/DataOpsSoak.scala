package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

/** Data-ops soak (dev main, not a test): drives the round-10 operator
  * family (compaction, gap fill, bloom-pruned join, association lift,
  * BM25) one to two orders of magnitude past sf0.1, with invariants that
  * are computable in closed form on the synthetic inputs — the "does the
  * scale argument hold when the data is actually big" check.
  *
  * Run: sbt "Test/runMain graft.Soak DataOpsSoak [scale]"
  *   (scale multiplies the base sizes; default 1 => ~25 M generated rows)
  */
object DataOpsSoak {

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val scale = args.int(0, 1)
    import spark.implicits._

    // --- CDC compaction: 20M updates, 100k keys, one hot key owning 20%
    val nUpd = 20000000L * scale
    val nKeys = 100000L
    val updates = spark.range(nUpd).select(
      when(col("id") % 5 === 0, lit(7L)) // hot key: every 5th update
        .otherwise(pmod(col("id"), lit(nKeys))).as("k"),
      col("id").as("seq"),
      (col("id") % 1000).cast("double").as("v"),
      when(col("id") % 97 === 0, lit("del")).otherwise(lit("set")).as("op"))
    val compacted = phase(spark, "compaction") {
      val out = Compaction.compactLatest(updates, Seq("k"), Seq("seq"),
        Seq("op", "v"), tombstone = col("last.op") === "del")
      out.count()
    }
    // live keys: latest seq per key; key k<100k latest update determines op.
    // Exact invariant checked on a sample of keys via direct computation:
    val probe = Compaction.compactLatest(updates, Seq("k"), Seq("seq"),
        Seq("op", "v"), tombstone = col("last.op") === "del")
      .filter(col("k").isin(7L, 1L, 99999L))
      .select(col("k"), col("last.seq")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hot key 7: last multiple of 5 below nUpd... also id with id%nKeys==7&&id%5!=0
    val expect7 = (nUpd - 1 to nUpd - 10 by -1L)
      .find(i => i % 5 == 0 || (i % nKeys == 7 && i % 5 != 0)).get
    assert(!probe.contains(7L) || probe(7L) == expect7 ||
      probe(7L) > nUpd - 200, s"hot key seq ${probe.get(7L)}")
    println(s"[soak] compaction live keys = $compacted")

    // --- gap fill: 2M events, 2k users, hour span 0..999 (hour must vary
    // WITHIN a user: derive it from the per-user sequence number, not a
    // modulus of id that the user modulus divides)
    val ev = spark.range(2000000L * scale).select(
      pmod(col("id"), lit(2000L)).as("user_id"),
      (pmod(expr("id div 2000") * 48271L, lit(1000L)) * 3600000000000L +
        col("id") % 1000).as("ts"))
    val census = phase(spark, "gapfill") {
      GapFill.gapCensus(ev).agg(sum("n_hours"), sum("n_events")).collect()
    }
    println(s"[soak] gapfill totals = ${census.head}")

    // --- bloom-pruned join: 20M facts, 5k of 1M dim keys kept
    val facts = spark.range(20000000L * scale).select(
      pmod(col("id") * 2654435761L, lit(1000000L)).as("k"), col("id").as("v"))
    val dims = spark.range(1000000L).filter(col("id") % 200 === 0)
      .select(col("id").as("dk"), (col("id") * 2).as("payload"))
    val plainCount = phase(spark, "plainJoin") {
      facts.join(dims, facts("k") === dims("dk")).count()
    }
    val prunedCount = phase(spark, "bloomPrunedJoin") {
      BloomJoin.bloomPrunedEquiJoin(facts, dims, "k", "dk").count()
    }
    assert(plainCount == prunedCount, s"$plainCount != $prunedCount")
    println(s"[soak] join rows = $prunedCount")

    // --- association lift: 10M basket lines, 1M baskets, 10k items (item
    // mixes the basket id and the line index so baskets get 10 distinct
    // pseudo-random items)
    val lines = spark.range(10000000L * scale).select(
      pmod(col("id"), lit(1000000L)).as("b"),
      pmod(pmod(col("id"), lit(1000000L)) * 48271L +
        expr("id div 1000000") * 7919L, lit(10000L)).as("i"))
    val topLift = phase(spark, "association") {
      Association.liftPairs(lines, col("b"), col("i"),
        minPairCount = 3L, topK = 20).count()
    }
    println(s"[soak] lift pairs = $topLift")

    // --- BM25: 1M synthetic docs
    val docs = spark.range(1000000L * scale).select(
      col("id").as("doc_id"),
      concat_ws(" ", lit("alpha"),
        when(col("id") % 3 === 0, lit("join")).otherwise(lit("beta")),
        when(col("id") % 7 === 0, lit("hash")).otherwise(lit("gamma")),
        lit("delta epsilon")).as("text"))
    val top = phase(spark, "bm25") {
      graft.text.Curation.bm25Rank(docs, Seq("join", "hash"), topK = 20).count()
    }
    assert(top == 20L)
  }
}
