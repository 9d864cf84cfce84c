package graft.streaming

import graft.JobMetrics.phase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming soak (dev main, not a test): drives the streaming ingest at
  * volume — synthetic events parquet -> readStream ->
  * `windowedSegmentsStream` (crossfade context) -> parquet append sink
  * under AvailableNow -> `stitchTimeWindows` identity round trip — and
  * measures the state-store and stitch behavior the toy-scale specs only
  * check for correctness. The window-state aggregation is `assemble_timed`
  * (packed triple buffers), so streaming state is packed arrays, not boxed
  * sample rows; the stitch ships array-level block slices.
  *
  * Run: SPARK_DRIVER_MEM=32g sbt "Test/runMain graft.Soak StreamSoak
  *   [nChannels] [nSamplesPerChannel]";
  * the stream's state partitions are sized from its staged input
  * (`StreamingOps`).
  */
object StreamSoak {

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nCh = args.int(0, 8)
    val nSamples = args.long(1, 2000000L)
    val rate = 1000.0 // 1 kHz -> 1 ms = 1e6 ns between samples
    println(s"[ssoak] $nCh ch x $nSamples samples = ${nCh * nSamples / 1e6} M points")

    // synthetic events: channel-interleaved, strictly increasing per-channel
    // event time at 1 kHz; value encodes (channel, t) for the round-trip sum.
    // ts is written as a real TIMESTAMP(MICROS) column — the harness's
    // current physical type — so the soak exercises the normalizeTsNanos
    // ingestion path, not the legacy long-nanos one
    val dir = java.nio.file.Files.createTempDirectory("stream_soak").toString
    StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    phase(spark, "generateEvents") {
      spark.range(nCh * nSamples)
        .select(
          col("id").as("event_id"),
          timestamp_micros((col("id") / nCh).cast("long") * 1000L).as("ts"),
          (col("id") % nCh).as("user_id"),
          (sin(col("id") / nCh / 100.0) +
            (pmod(xxhash64(col("id")), lit(1000)) / 1000.0 - 0.5) * 0.1).as("value"))
        .write.mode("overwrite").parquet(dir)
    }

    // 64-second core windows (~65k samples), 1 s crossfade context;
    // watermark > windowDur as the context shift requires
    val sinkDf = phase(spark, "windowsStream") {
      StreamingOps.runToParquet(spark, dir, "stream_soak",
        df => StreamingOps.windowedSegmentsStream(df, nCh, rate,
          windowDur = "64 seconds", watermark = "130 seconds",
          contextDur = "1 second"))
    }
    val nWindows = phase(spark, "countWindows") { sinkDf.count() }
    println(s"[ssoak]   -> $nWindows window rows")

    // identity round trip over the conservatively-closed prefix (q37's
    // arithmetic): the watermark holds the last ~2 windows open at stream
    // end, and stitch block w needs windows w-1..w+1, so blocks
    // 0..maxKeep-1 must come back complete — every sample exactly once
    val winU = 64000000L
    val delayU = 130000000L
    val maxTu = (nSamples - 1) * 1000L
    val maxKeep = (maxTu - delayU) / winU - 2
    val winSamples = 64000L
    val stitched = StreamingOps.stitchTimeWindows(sinkDf, "64 seconds", "1 second")
      .filter(col("win_idx") <= maxKeep - 1)
    val total = phase(spark, "stitch") {
      stitched.select(sum(size(col("values")))).head().getLong(0)
    }
    val expected = nCh * maxKeep * winSamples
    println(s"[ssoak] stitched samples in closed blocks: $total (expect $expected)")
    assert(total == expected, s"lost samples: $total != $expected")
  }
}
