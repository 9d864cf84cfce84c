package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Frames, Synthetic}

/** Overlap-add windowing: bounded-row processing of unbounded recordings must
  * reproduce the whole-trace pipeline within the same rtol the reference
  * accepts for its chunked iterator (tests/test_pipeline.py:102-154). */
class WindowingSpec extends AnyFunSuite with graft.SessionSuite {

  // context must cover the longest filter support riding through the windows
  // (the hg wavelet kernels span ~50 samples; the notch ~1 s dominates —
  // see the notch-parity test); stride amortizes the 2*context duplication
  private val Stride = 2048
  private val Context = 512

  private def traces(df: DataFrame): Map[(Int, Option[Int]), Array[Double]] =
    df.select(col("channel"), col("band"), col("values")).collect().map { r =>
      val band = if (r.isNullAt(1)) None else Some(r.getInt(1))
      (r.getInt(0), band) -> r.getSeq[Double](2).toArray
    }.toMap

  private def stitchedTraces(df: DataFrame): Map[(Int, Option[Int]), Array[Double]] =
    df.select(col("channel"), col("band"), col("win_idx"), col("values")).collect()
      .groupBy(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getLong(2)).flatMap(_.getSeq[Double](3)).toArray
      }

  test("windowLong == windowSegments (same bounded windows from either layout)") {
    // 5.0 s at 1000 Hz = 5000 samples: last window is short (not a stride multiple)
    val segs = Synthetic.segments(spark, 5.0, 3, 1000.0, seed = 5)
    val fromSegs = traces(Windowing.windowSegments(segs, Stride, Context)
      .withColumn("band", lit(null).cast("int"))
      .withColumn("channel",
        (col("channel") * 100 + substring_index(col("series"), "#w", -1).cast("int")).cast("int")))
    val long = Frames.toLong(segs)
      .select(col("series"), col("channel"), col("band"), col("rate"),
        col("startingTime"), col("t_idx"), col("value"))
    val fromLong = traces(Windowing.windowLong(long, Stride, Context)
      .withColumn("band", lit(null).cast("int"))
      .withColumn("channel",
        (col("channel") * 100 + substring_index(col("series"), "#w", -1).cast("int")).cast("int")))
    assert(fromSegs.keySet == fromLong.keySet && fromSegs.nonEmpty)
    for (k <- fromSegs.keySet)
      assert(fromSegs(k) sameElements fromLong(k), s"window $k differs between layouts")
    // bounded rows: no window exceeds stride + 2*context
    assert(fromSegs.values.forall(_.length <= Stride + 2 * Context))
    // 3 windows per channel (5000 samples / 2048 stride)
    assert(fromSegs.keySet.size == 3 * 3)
  }

  /** `windowLong` with its membership explode written as before it was
    * code-generated: `array_compact` over the three candidate windows. */
  private def arrayCompactWindowLong(long: DataFrame, stride: Int, context: Int): DataFrame = {
    val core = floor(col("t0") / stride).cast("long")
    val nWins = long.groupBy("series", "channel")
      .agg((floor(max(col("t_idx")) / stride) + 1).cast("long").as("_nw"))
    val r = pmod(col("t0"), lit(stride))
    Windowing.fragments(long, stride, context).toDF()
      .join(broadcast(nWins), Seq("series", "channel"))
      .withColumn("_w", explode(array_compact(array(
        core,
        when(r < context && col("t0") >= stride, core - 1),
        when(r >= stride - context && core + 1 < col("_nw"), core + 1)))))
      .groupBy("series", "channel", "band", "rate", "startingTime", "_w")
      .agg(graft.functions.SeriesAssembleFunctions.assembleFragments(
        spark, col("t0"), col("vals")).as("values"))
      .select(concat(col("series"), lit("#w"), col("_w")).as("series"),
        col("channel"), col("band"), col("rate"), col("startingTime"), col("values"))
  }

  test("windowLong membership is code-generated and equals the array_compact form") {
    val (stride, context) = (256, 64)
    // 1000 samples a trace; channel 1 ends exactly on a window boundary.
    // Fragments are cut where membership changes, so fragment starts fall
    // on every core and context boundary (r = 0, 64, 192).
    val long = Frames.toLong(Synthetic.segments(spark, 1.0, 3, 1000.0, seed = 13))
      .select(col("series"), col("channel"), col("band"), col("rate"),
        col("startingTime"), col("t_idx"), col("value"))
      .filter(!(col("channel") === 1 && col("t_idx") >= 3 * stride))
    def fallbacks(df: DataFrame) = " fallbacks=(\\d+)".r
      .findFirstMatchIn(graft.Inspect.census(df.queryExecution.executedPlan)).get.group(1).toInt
    def rows(df: DataFrame) = df.collect().map { r =>
      (r.getString(0), r.getInt(1), r.getDouble(3), r.getDouble(4), r.getSeq[Double](5))
    }.sortBy(r => (r._1, r._2))
    val got = Windowing.windowLong(long, stride, context)
    val want = arrayCompactWindowLong(long, stride, context)
    assert(fallbacks(got) == 0)
    assert(fallbacks(want) > 0)
    val (g, w) = (rows(got), rows(want))
    assert(g.length == 3 * 4 - 1, g.map(_._1).mkString(","))
    assert(g sameElements w)
  }

  test("identity pipeline: stitch(window(x)) == x exactly") {
    val segs = Synthetic.segments(spark, 4.0, 2, 1000.0, seed = 8)
    val back = stitchedTraces(Windowing.stitch(
      Windowing.windowSegments(segs, Stride, Context), Stride, Context))
    val orig = traces(segs)
    assert(back.keySet == orig.keySet)
    for (k <- orig.keySet) {
      assert(back(k).length == orig(k).length)
      val worst = back(k).zip(orig(k)).map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-12, s"identity round-trip not exact at $k: $worst")
    }
  }

  test("windowed notch+CAR+wavelet == whole-trace within rtol=0.01 (chunked-iterator parity)") {
    val nCh = 4
    // linenoise off: a strong 60 Hz line is on-bin for the whole trace (zero
    // leakage) but off-bin inside a window, so its sinc tails leak into every
    // band at window resolution — physics no overlap-add scheme can undo.
    // The windowed-notch guarantees are asserted separately below.
    val n = 8000
    val segs = Synthetic.segments(spark, 8.0, nCh, 1000.0, seed = 3, linenoise = false)

    // pin the wavelet normalization to the whole trace's padded FFT length so
    // window amplitudes share the whole-trace scale (see fftNormLength doc)
    val wholePadded = {
      val p = graft.dsp.Signal.padPlan(n, graft.dsp.Signal.FastPad)
      n + p.padTotal
    }
    def pipeline(df: DataFrame): DataFrame =
      DspOperators.amplitude(DspOperators.waveletTransform(
        CommonReferencing.subtractCarSegments(df, nCh),
        "human", hgOnly = true, fftNormLength = Some(wholePadded)))

    val whole = traces(pipeline(segs))
    val windowed = stitchedTraces(Windowing.stitch(
      pipeline(Windowing.windowSegments(segs, Stride, Context)), Stride, Context))
    assert(windowed.keySet == whole.keySet && whole.nonEmpty)
    // FFT edge wrap contaminates the outermost samples of BOTH paths
    // differently (the reference has the same edge garbage); judge the
    // interior on mean parity (rtol=0.01 level) plus a worst-case guard:
    // the analytic-signal (Hilbert) kernel decays only like 1/t, so each
    // window edge leaves ~1/(pi*context) tails that crossfading cannot
    // remove — measured worst 3% of band rms at context=512, mean 0.03%
    val Margin = 64
    for (k <- whole.keySet) {
      val (a, b) = (windowed(k), whole(k))
      assert(a.length == b.length, s"length mismatch at $k: ${a.length} != ${b.length}")
      val scale = math.sqrt(b.map(v => v * v).sum / b.length) // rms of the band envelope
      val errs = (Margin until a.length - Margin).map(i => math.abs(a(i) - b(i)))
      assert(errs.sum / errs.size < 0.005 * scale,
        s"windowed pipeline mean divergence at $k: ${errs.sum / errs.size / scale} of rms")
      assert(errs.max < 0.05 * scale,
        s"windowed pipeline diverges from whole-trace at $k: ${errs.max / scale} of rms")
      // edges are out of contract (both paths emit boundary garbage there);
      // only guard against order-of-magnitude blowup
      for (i <- a.indices)
        assert(math.abs(a(i) - b(i)) < 5 * scale, s"edge sample $i wildly off at $k")
    }
  }

  test("windowed pipeline WITH notch: 1% mean parity (notch support exceeds context)") {
    // a ±1 Hz notch has a ~1 s impulse response — longer than any practical
    // context, so per-sample parity degrades to the few-percent level around
    // junctions and converges as context grows (measured: maxAbs/rms 5.3% at
    // context=512, 3.6% at 1024). Contract: mean parity 1%, worst 20%.
    val nCh = 4
    val n = 8000
    val segs = Synthetic.segments(spark, 8.0, nCh, 1000.0, seed = 3, linenoise = false)
    val wholePadded = {
      val p = graft.dsp.Signal.padPlan(n, graft.dsp.Signal.FastPad)
      n + p.padTotal
    }
    // both paths use the resolution-invariant notch profile: the reference's
    // bin-sampled hamming makes the notch shape depend on FFT length, which
    // no windowing scheme can reproduce (see Signal.notch scaladoc)
    def pipeline(df: DataFrame): DataFrame =
      DspOperators.amplitude(DspOperators.waveletTransform(
        CommonReferencing.subtractCarSegments(
          DspOperators.applyLinenoiseNotch(df, continuousProfile = true), nCh),
        "human", hgOnly = true, fftNormLength = Some(wholePadded)))
    val whole = traces(pipeline(segs))
    val windowed = stitchedTraces(Windowing.stitch(
      pipeline(Windowing.windowSegments(segs, Stride, Context)), Stride, Context))
    val Margin = 64
    for (k <- whole.keySet) {
      val (a, b) = (windowed(k), whole(k))
      val scale = math.sqrt(b.map(v => v * v).sum / b.length)
      val errs = (Margin until a.length - Margin).map(i => math.abs(a(i) - b(i)))
      assert(errs.sum / errs.size < 0.01 * scale, s"mean parity >1% at $k")
      assert(errs.max < 0.2 * scale, s"worst parity >20% at $k: ${errs.max / scale}")
    }
  }

  test("windowed notch attenuates an off-bin 60 Hz line by >5x") {
    val segs = Synthetic.segments(spark, 4.0, 2, 1000.0, seed = 4) // linenoise on
    def amp60(df: DataFrame): Double = {
      val x = stitchedTraces(Windowing.stitch(df, Stride, Context))((0, None))
      // goertzel-style projection on 60 Hz over the stitched full trace
      val n = x.length
      var re = 0.0; var im = 0.0
      for (i <- 0 until n) {
        val ph = 2 * math.Pi * 60.0 * i / 1000.0
        re += x(i) * math.cos(ph); im += x(i) * math.sin(ph)
      }
      math.hypot(re, im) / n
    }
    val windowed = Windowing.windowSegments(segs, Stride, Context)
    val before = amp60(windowed)
    val after = amp60(DspOperators.applyLinenoiseNotch(windowed, continuousProfile = true))
    // residual is off-bin leakage OUTSIDE ±1 Hz, which no notch (windowed or
    // whole-trace) removes; 5x is what short-window resolution delivers
    assert(before > 5 * after,
      s"windowed notch attenuation too weak: $before -> $after")
  }

  test("per-time-point CAR is exact under windowing (window-aligned channels)") {
    val nCh = 4
    val segs = Synthetic.segments(spark, 4.0, nCh, 1000.0, seed = 11)
    val whole = traces(CommonReferencing.subtractCarSegments(segs, nCh))
    val windowed = stitchedTraces(Windowing.stitch(
      CommonReferencing.subtractCarSegments(
        Windowing.windowSegments(segs, Stride, Context), nCh), Stride, Context))
    for (k <- whole.keySet) {
      val worst = windowed(k).zip(whole(k)).map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-12, s"CAR not exact under windowing at $k: $worst")
    }
  }
}
