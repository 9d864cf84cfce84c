package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase

import graft.dsp.Signal
import graft.functions.SeriesAssembleFunctions
import graft.operators.Checkpoints.Pinnable

/** DSP pipeline soak at ~100x the reference's CI workload (dev main, not a
  * test): the reference's integration test pushes 64 ch x ~2 s x 10 kHz
  * (tests/test_pipeline.py:18-21, ~7.9 M samples); this drives
  * 64 ch x ~1000 s x 12.2 kHz ~= 780 M samples through the FULL chain in
  * its windowed (bounded-memory) form —
  *
  *   assemble segments -> windowSegments -> resample (12.2 kHz -> 3.05 kHz)
  *   -> 60 Hz notch (continuous profile) -> blocked CAR -> wavelet
  *   amplitude (rat, hgOnly, norm pinned to the whole padded length)
  *   -> crossfade stitch at the post-resample (stride/4, context/4)
  *
  * and proves two things the small-scale WindowingSpec cannot:
  *
  *  1. BOUNDED MEMORY: no window row ever exceeds stride + 2*context
  *     samples, no task ships >64 MiB to the driver, and spill stays
  *     bounded — the 100 TB shape (stage profile printed per phase).
  *  2. WINDOWED == WHOLE-TRACE PARITY AT SCALE: a channel sample also runs
  *     the identical chain UNWINDOWED (full 12.2 M-sample FFTs; CAR still
  *     across all 64 channels) and the stitched output must match it on the
  *     interior at the WindowingSpec contract (mean divergence < 1% of
  *     band rms; worst single samples are junction spikes bounded by the
  *     notch+resample impulse tails vs context — the notch's ~1 s impulse
  *     response exceeds any practical context).
  *
  * Pass a checkpoint dir to pin the windowed CAR output through the
  * RELIABLE checkpoint path (graft.checkpoint.dir) instead of
  * localCheckpoint — the executor-loss-safe mode at full DSP volume.
  *
  * Run: SPARK_DRIVER_MEM=64g sbt "Test/runMain graft.Soak DspScaleSoak
  *   [nChannels] [nWindows] [parityChannels] [checkpointDir]"
  * (nWindows=186 -> 12.19 M samples/channel -> 780 M points total)
  */
object DspScaleSoak {
  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val nCh = args.int(0, 64)
    val nWindows = args.int(1, 186)
    val parityCh = args.int(2, 2)
    val ckptDir = args.all.lift(3)
    val stride = 65536
    val context = 8192
    val rate = 12200.0
    val newFreq = rate / 4 // 3050 Hz; 1/4 keeps window lengths integral
    val n = nWindows.toLong * stride
    ckptDir.foreach { d =>
      spark.conf.set(Checkpoints.DirKey, d)
      println(s"[soak] reliable checkpoints -> $d")
    }
    println(f"[soak] $nCh ch x $n samples @ $rate%.0f Hz = ${nCh * n / 1e6}%.1f M points; " +
      s"windowed stride=$stride context=$context, resample 1/4")

    // deterministic distributed LongFrame -> assembled segments (the soaked
    // ingest path): per-channel phase offsets keep channels distinct so the
    // CAR subtracts a genuine cross-channel median band, plus hash noise
    val long = spark.range(nCh * n).select(
      (col("id") % nCh).cast("int").as("channel"),
      (col("id") / nCh).cast("long").as("t_idx"),
      (sin(col("id") / nCh / 800.0) + sin(col("id") / nCh / 37.0) * 0.3 +
        (pmod(xxhash64(col("id")), lit(10000)) / 10000.0 - 0.5) * 0.1).as("value"))
    val segs = phase(spark, "assemble") {
      val s = long.groupBy("channel")
        .agg(SeriesAssembleFunctions.assembleSeries(spark,
          col("t_idx"), col("value")).as("values"))
        .select(lit("soak").as("series"), col("channel"),
          lit(null).cast("int").as("band"), lit(rate).as("rate"),
          lit(0.0).as("startingTime"), col("values"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val k = s.count()
      println(s"[soak]   -> $k segment rows of ${n} samples")
      s
    }

    val nRes = (n / 4).toInt
    val wholePadded = nRes + Signal.padPlan(nRes, Signal.FastPad).padTotal

    // ---------------- windowed (bounded-memory) path ----------------
    val car = phase(spark, "winResampleNotchCar") {
      val w = Windowing.windowSegments(segs, stride, context)
      val r = DspOperators.resample(w, newFreq)
      val nch = DspOperators.applyLinenoiseNotch(r, continuousProfile = true)
      val c = CommonReferencing.subtractCarSegments(nch, nCh).pin
      println(s"[soak]   -> ${c.count()} CAR'd window rows")
      c
    }
    val stitched = phase(spark, "waveletStitch") {
      val amp = DspOperators.amplitude(DspOperators.waveletTransform(
        car, "rat", hgOnly = true, Signal.FastPad, Some(wholePadded)))
      val st = Windowing.stitch(amp, stride / 4, context / 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = st.select(sum(size(col("values")))).head().getLong(0)
      val bands = total / nCh / nRes
      println(s"[soak]   -> $total stitched samples ($bands bands x $nCh ch x $nRes)")
      st
    }

    // ---------------- whole-trace reference path ----------------
    // CAR must see all channels; the expensive per-channel wavelet runs only
    // on the parity sample (per-channel math is channel-independent)
    val whole = phase(spark, "wholeTrace") {
      val r = DspOperators.resample(segs, newFreq)
      val nch = DspOperators.applyLinenoiseNotch(r, continuousProfile = true)
      val c = CommonReferencing.subtractCarSegments(nch, nCh)
      val amp = DspOperators.amplitude(DspOperators.waveletTransform(
        c.filter(col("channel") < parityCh), "rat", hgOnly = true,
        Signal.FastPad, Some(wholePadded)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[soak]   -> ${amp.count()} whole-trace band rows")
      amp
    }

    // ---------------- parity: windowed == whole-trace ----------------
    phase(spark, "parity") {
      val margin = 256
      val a = Windowing.stitchedToLong(
        stitched.filter(col("channel") < parityCh), stride / 4)
        .select(col("channel"), col("band"), col("t_idx"),
          col("value").as("va"))
      val b = whole.select(col("channel"), col("band"),
          posexplode(col("values")).as(Seq("t_idx", "vb")))
        .select(col("channel"), col("band"), col("t_idx").cast("long").as("t_idx"),
          col("vb"))
      val joined = a.join(b, Seq("channel", "band", "t_idx"))
        .filter(col("t_idx") >= margin && col("t_idx") < nRes - margin)
      val stats = joined.groupBy("channel", "band")
        .agg(count(lit(1)).as("n"),
          sqrt(avg(col("vb") * col("vb"))).as("rms"),
          avg(abs(col("va") - col("vb"))).as("mean_err"),
          max(abs(col("va") - col("vb"))).as("max_err"))
        .orderBy("channel", "band")
        .collect()
      stats.foreach { r =>
        val (ch, band, cnt) = (r.getInt(0), r.getInt(1), r.getLong(2))
        val (rms, me, xe) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
        println(f"[soak]   ch$ch band$band n=$cnt mean_err/rms=${me / rms}%.5f max_err/rms=${xe / rms}%.4f")
        assert(cnt == nRes - 2L * 256L,
          s"parity join lost samples at ch$ch band$band: $cnt")
        // contract: WindowingSpec's with-notch parity level — the MEAN is
        // the guarantee (junction effects average out); the worst single
        // sample is a localized junction spike whose envelope scales with
        // the notch+resample impulse tails vs context (measured: means
        // 0.3-0.7%, spikes <= ~0.26 at context=8192)
        assert(me / rms < 0.01,
          f"windowed diverges from whole-trace: mean ${me / rms}%.4f of rms at ch$ch band$band")
        assert(xe / rms < 0.35,
          f"windowed worst-case divergence ${xe / rms}%.3f of rms at ch$ch band$band")
      }
      println(s"[soak]   parity holds on ${stats.length} (channel, band) traces")
    }

  }
}
