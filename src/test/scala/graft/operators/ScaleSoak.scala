package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

/** Scale soak (dev main, not a test): drives the 100 TB ingest shape —
  * LongFrame -> windowLong (bounded windows, ONE sample shuffle) -> blocked
  * CAR -> notch -> wavelet amplitude -> crossfade stitch — at 64 ch x 10 M
  * samples (640 M points), an order of magnitude past 64 ch x 1 M, and
  * measures what the plan-level scale arguments only reason about:
  * per-phase wall time, the longest task over the mean task (stragglers,
  * skew), max task result size (driver materialization guard), and shuffle
  * volume.
  *
  * Run: SPARK_DRIVER_MEM=64g sbt "Test/runMain graft.Soak ScaleSoak
  *   [nChannels] [nSamples] [stride] [context]"
  */
object ScaleSoak {

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nCh = args.int(0, 64)
    val nSamples = args.long(1, 10000000L)
    val stride = args.int(2, 65536)
    val context = args.int(3, 1024)
    val rate = 10000.0
    println(f"[soak] $nCh ch x $nSamples samples = ${nCh * nSamples / 1e6}%.1f M points, " +
      s"stride=$stride context=$context")
    // deterministic distributed LongFrame, pure codegen (no UDF, no driver
    // data): value = band-limited-ish mix of sines + hash noise
    val long = spark.range(nCh * nSamples)
      .select(
        lit("soak").as("series"),
        (col("id") % nCh).cast("int").as("channel"),
        lit(null).cast("int").as("band"),
        lit(rate).as("rate"),
        lit(0.0).as("startingTime"),
        (col("id") / nCh).cast("long").as("t_idx"),
        (sin(col("id") / nCh / 100.0) + sin(col("id") / nCh / 7.0) * 0.3 +
          (pmod(xxhash64(col("id")), lit(10000)) / 10000.0 - 0.5) * 0.1).as("value"))

    // the 100 TB ingest: bounded windows straight from the long layout
    val windowed = phase(spark, "windowLong") { // 1 sample shuffle
      val w = Windowing.windowLong(long, stride, context)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = w.count()
      println(s"[soak]   -> $n window rows")
      w
    }
    phase(spark, "blockedCAR") {
      CommonReferencing.subtractCarSegments(windowed, nCh).foreach(_ => ())
    }
    val notched = DspOperators.applyLinenoiseNotch(windowed)
    val amp = DspOperators.amplitude(
      DspOperators.waveletTransform(notched, "rat", hgOnly = true))
    phase(spark, "notchWavelet") { amp.foreach(_ => ()) } // narrow
    val stitched = Windowing.stitch(amp, stride, context)
    val total = phase(spark, "stitch") { // bounded blocks
      stitched.select(sum(size(col("values")))).head().getLong(0)
    }
    println(s"[soak] stitched samples: $total (expect ~ ${nCh * 6 * nSamples})")
  }
}
