package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Bucketed layout: the join over two same-bucketed tables must plan with
  * ZERO exchanges (the layout's whole point — the shuffle was paid at
  * write time), and the join result must equal the plain shuffle join. */
class BucketedLayoutSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def layoutTables(): Unit = {
    val facts = Seq.tabulate(1000)(i => (i.toLong % 100, i.toLong, i * 1.5))
      .toDF("k", "id", "v")
    val dims = Seq.tabulate(100)(k => (k.toLong, s"grp${k % 7}")).toDF("k", "g")
    BucketedLayout.writeBucketed(facts, "bl_spec_facts",
      "/tmp/graft_bl_spec/facts", "k", buckets = 8)
    BucketedLayout.writeBucketed(dims, "bl_spec_dims",
      "/tmp/graft_bl_spec/dims", "k", buckets = 8)
  }

  test("bucketed merge join plans with zero Exchange nodes") {
    layoutTables()
    val joined = BucketedLayout.bucketedJoin(spark, "bl_spec_facts",
      "bl_spec_dims", "k", "k")
    val physical = joined.queryExecution.executedPlan
    val exchanges = physical.collect { case e: Exchange => e }
    assert(physical.toString.contains("SortMergeJoin"),
      s"expected merge join over bucketed scans, got:\n$physical")
    assert(exchanges.isEmpty,
      s"bucketed join must not shuffle, found ${exchanges.size} exchanges:\n$physical")
  }

  test("bucketed join result equals the plain join") {
    layoutTables()
    val bucketed = BucketedLayout.bucketedJoin(spark, "bl_spec_facts",
        "bl_spec_dims", "k", "k")
      .select("id", "g", "v").collect().map(_.toSeq).toSet
    val facts = Seq.tabulate(1000)(i => (i.toLong % 100, i.toLong, i * 1.5))
      .toDF("k", "id", "v")
    val dims = Seq.tabulate(100)(k => (k.toLong, s"grp${k % 7}")).toDF("k", "g")
    val plain = facts.join(dims, "k")
      .select("id", "g", "v").collect().map(_.toSeq).toSet
    assert(bucketed === plain)
    assert(bucketed.size === 1000)
  }

  test("re-layout is idempotent (overwrite replaces the previous table)") {
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("k", "x")
    val df2 = Seq((3L, "c")).toDF("k", "x")
    BucketedLayout.writeBucketed(df1, "bl_spec_rewrite",
      "/tmp/graft_bl_spec/rewrite", "k", buckets = 2)
    BucketedLayout.writeBucketed(df2, "bl_spec_rewrite",
      "/tmp/graft_bl_spec/rewrite", "k", buckets = 2)
    assert(spark.table("bl_spec_rewrite").collect().map(_.getLong(0)).toSeq
      === Seq(3L))
  }
}
