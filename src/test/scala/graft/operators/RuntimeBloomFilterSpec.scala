package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Certifies Spark's RUNTIME Bloom-filter join injection
  * (InjectRuntimeFilter): a shuffle join whose build side carries a
  * selective non-join predicate gets a `bloom_filter_agg` subquery on the
  * build side and a `might_contain` row filter on the probe side — rows
  * that can't join die BEFORE the probe-side shuffle. This is the
  * engine-side complement to the manual broadcast-bitset prune
  * (BloomJoin.bloomPrunedEquiJoin, q125): at 100 TB the injected filter is
  * what keeps a petabyte probe side from shuffling rows a 1 %-selective
  * dim was always going to drop.
  *
  * The spec drops the application-side scan threshold to toy scale (the
  * MECHANISM is identical, only the trigger sizes differ), certifies the
  * filter appears, that results are checksum-equal to the
  * feature-disabled run, and that a non-selective build side does NOT
  * trigger injection. Every touched conf round-trips its observed value.
  */
class RuntimeBloomFilterSpec extends AnyFunSuite with graft.SessionSuite {

  private lazy val (factPath, dimPath) = {
    val root = java.nio.file.Files.createTempDirectory("bloomrf").toFile
    graft.streaming.StreamingOps.deleteOnExit(root.toPath)
    val fact = new java.io.File(root, "fact").getAbsolutePath
    val dim = new java.io.File(root, "dim").getAbsolutePath
    spark.range(400000)
      .select(pmod(col("id"), lit(50000)).as("k"),
        lpad(col("id").cast("string"), 24, "x").as("pay"))
      .write.mode("overwrite").parquet(fact)
    spark.range(50000)
      .select(col("id").as("k"), pmod(col("id"), lit(500)).as("sel"))
      .write.mode("overwrite").parquet(dim)
    (fact, dim)
  }

  private def runJoin(bloomOn: Boolean): (String, String, (Long, Long)) = {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> bloomOn.toString,
      // fact parquet is ~a few MB; the default 10GB floor exists to keep
      // tiny scans from paying the filter cost — lower it, don't disable it
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1024",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true") {
      val fact = spark.read.parquet(factPath)
      val dim = spark.read.parquet(dimPath).filter(col("sel") === 7)
      val df = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"),
          sum(pmod(xxhash64(col("k"), col("pay")), lit(1000000007L)))
            .as("checksum"))
      val row = df.collect().head
      (df.queryExecution.optimizedPlan.toString,
        df.queryExecution.executedPlan.toString,
        (row.getLong(0), row.getLong(1)))
    }
  }

  test("selective build side injects bloom_filter_agg + might_contain; results unchanged") {
    val (optOn, execOn, resOn) = runJoin(bloomOn = true)
    assert(optOn.contains("might_contain"),
      s"expected an injected runtime bloom filter on the probe side:\n$optOn")
    assert(optOn.contains("bloom_filter_agg"),
      "expected the build-side bloom aggregate subquery")
    assert(execOn.contains("might_contain"),
      "the injected filter must survive into the physical plan")

    val (optOff, _, resOff) = runJoin(bloomOn = false)
    assert(!optOff.contains("might_contain"))
    assert(resOn == resOff,
      s"runtime filtering must be invisible to results: $resOn vs $resOff")
    // the selective dim keeps 100 of 50000 keys; fact has 8 rows per key
    assert(resOn._1 == 800L, s"join cardinality sanity: ${resOn._1}")
  }

  test("non-selective build side does not trigger injection") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1024",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.parquet(factPath)
      val dim = spark.read.parquet(dimPath) // no selective predicate
      val df = fact.join(dim, "k").agg(count(lit(1)).as("n"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "no selective predicate on the build side -> no runtime filter")
      assert(df.collect().head.getLong(0) == 400000L)
    }
  }
}
