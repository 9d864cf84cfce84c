package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

/** Scan-path soak for the DSv2 synthetic source (dev main, not a test):
  * measures the vectorized ColumnarBatch reader against the row iterator
  * on a large lattice walk — the exact shape that cost ~2.5 s per 640M
  * points row-based (round-12 q351 investigation). Both paths must agree
  * on a full checksum, not just a count.
  *
  * Run: sbt "Test/runMain graft.Soak SyntheticScanSoak [nCh] [nTime]"
  */
object SyntheticScanSoak {
  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nCh = args.int(0, 64)
    val nTime = args.int(1, 10000000)
    def src(columnar: Boolean) = spark.read
      .format("graft.sources.SyntheticSource")
      .option("nchannels", nCh).option("ntime", nTime).option("seed", 5)
      .option("channelsperpartition", 2)
      .option("columnar", columnar).load()
    val pts = nCh.toLong * nTime
    println(s"[soak] lattice $nCh x $nTime = $pts points")
    // lattice-only walk (no trace generation): the row-iterator tax itself
    def latticeSum(c: Boolean) = src(c).select("channel", "t")
      .agg(sum(col("channel").cast("long") * 31 + col("t")).as("s"))
      .head().getLong(0)
    // interleave best-of-2 per path (JIT warm both)
    var rowS = 0L; var colS = 0L
    for (round <- 1 to 2) {
      phase(spark, s"latticeRow#$round") { rowS = latticeSum(false) }
      phase(spark, s"latticeColumnar#$round") { colS = latticeSum(true) }
    }
    assert(rowS == colS, s"checksum mismatch: $rowS vs $colS")
    println(s"[soak] lattice checksum agree: $rowS")
    // value-bearing scan (trace generation + aggregation)
    val vCh = math.min(nCh, 32)
    val vT = math.min(nTime, 2000000)
    def valueSum(c: Boolean) = src(c)
      .filter(col("channel") < vCh && col("t") < vT)
      .agg(sum(expr("CAST(floor(value * 1e6) AS BIGINT)")).as("s"))
      .head().getLong(0)
    var rowV = 0L; var colV = 0L
    for (round <- 1 to 2) {
      phase(spark, s"valueRow#$round") { rowV = valueSum(false) }
      phase(spark, s"valueColumnar#$round") { colV = valueSum(true) }
    }
    assert(rowV == colV, s"value checksum mismatch: $rowV vs $colV")
    println(s"[soak] value checksum agree: $rowV")
  }
}
