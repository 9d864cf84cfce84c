package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Salted join: row-for-row equal to the plain join on skewed data, salt
  * actually splits the hot key, and the forced plan is the salted
  * shuffle join (not a broadcast that would make the salt pointless). */
class SkewJoinSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("salted join equals the plain join on a 90%-hot-key input") {
    // 900 rows of key "hot", 100 spread over 10 cold keys; right side has
    // per-key payloads plus a key with no left match (dropped by inner)
    val left = Seq.tabulate(1000)(i =>
      (i.toLong, if (i < 900) "hot" else "k" + (i % 10))).toDF("id", "k")
    val right = (Seq(("hot", 1.0)) ++ Seq.tabulate(10)(j => ("k" + j, 2.0 + j)) ++
      Seq(("unmatched", 9.9))).toDF("k", "payload")
    val plain = left.join(right, Seq("k"))
      .select("id", "k", "payload").collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedInnerJoin(left, right, Seq("k"),
        saltSrc = col("id"), saltFactor = 8, forceShuffle = true)
      .select("id", "k", "payload")
    assert(salted.collect().map(_.toSeq).toSet === plain)
    assert(salted.count() === 1000L)
  }

  test("forceShuffle pins a salted sort-merge join, and the salt splits the hot key") {
    val left = Seq.tabulate(1000)(i => (i.toLong, "hot")).toDF("id", "k")
    val right = Seq(("hot", 1.0)).toDF("k", "payload")
    val salted = SkewJoin.saltedInnerJoin(left, right, Seq("k"),
      saltSrc = col("id"), saltFactor = 8, forceShuffle = true)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected salted SMJ, got:\n$plan")
    assert(plan.contains("_salt"), "join keys must include the salt")
    // the single hot key's rows actually spread across all 8 salt buckets
    val buckets = left
      .withColumn("_salt", pmod(hash(col("id")), lit(8)))
      .groupBy("_salt").count().collect()
    assert(buckets.length === 8)
    assert(buckets.map(_.getLong(1)).max < 500L, "no bucket owns the key")
  }

  test("saltFactor 1 degenerates to the plain join") {
    val left = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    val right = Seq(("a", 10.0), ("b", 20.0)).toDF("k", "payload")
    val out = SkewJoin.saltedInnerJoin(left, right, Seq("k"),
        saltSrc = col("id"), saltFactor = 1)
      .orderBy("id").collect().map(_.toSeq)
    assert(out === Array(Seq("a", 1L, 10.0), Seq("b", 2L, 20.0)))
  }
}
