package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentHashMap

import graft.dsp.{Signal, Signal32, Kernels}
import graft.dsp.Signal.{PadSpec, FastPad}
import graft.store.NwbStore.isSingle

/** The per-segment spectral operators: each is a narrow `DataFrame =>
  * DataFrame` map over SegmentFrame rows (no shuffle), with the FFT math in
  * graft.dsp. These are the only Scala UDFs in the engine's hot path — Spark
  * has no FFT primitive (SURVEY.md §7 "built-in vs custom"); everything
  * around them (amplitude, phase, joins, aggregations) stays in Catalyst
  * expressions so codegen and pushdown keep working.
  */
object DspOperators {

  /** Cast a trace to float32 with an optional pre-scale — the reference's
    * `X.astype(dtype(X, precision))` entry cast (utils.py:9-31). */
  private def toF32(values: Array[Double], preScale: Double): Array[Float] = {
    val out = new Array[Float](values.length)
    var i = 0
    while (i < values.length) { out(i) = (values(i) * preScale).toFloat; i += 1 }
    out
  }

  private def toF64(values: Array[Float]): Array[Double] = {
    val out = new Array[Double](values.length)
    var i = 0
    while (i < values.length) { out(i) = values(i); i += 1 }
    out
  }

  /** Resample every segment to `newFreq` (per-row rate-aware). `preScale`
    * folds a unit conversion (e.g. V -> µV ×1e6) into the same UDF pass so
    * the pipeline needs no separate interpreted `transform` HOF.
    * `precision="single"` computes in float32 end to end (the reference's
    * default mode, utils.py:9-31) — values in the returned array<double>
    * column are exactly float32-representable; cast at the storage boundary
    * (NwbStore.withPrecision) for a bit-width match.
    * Ref semantics: /root/reference/src/process_nwb/resample.py:105-153. */
  def resample(segments: DataFrame, newFreq: Double, npad: PadSpec = FastPad,
               preScale: Double = 1.0, precision: String = "double"): DataFrame = {
    val f =
      if (isSingle(precision)) udf { (values: Array[Double], rate: Double) =>
        toF64(Signal32.resample(toF32(values, preScale), newFreq, rate, npad))
      }
      else udf { (values: Array[Double], rate: Double) =>
        val in = if (preScale == 1.0) values else values.map(_ * preScale)
        Signal.resample(in, newFreq, rate, npad)
      }
    // resampling changes the sample count, so a per-sample timestamp column
    // from streaming crossfade windows no longer aligns — drop it so a
    // downstream stitchTimeWindows fails fast on the missing column instead
    // of silently mis-weighting (length-preserving ops keep it)
    segments.drop("sample_ts")
      .withColumn("values", f(col("values"), col("rate")))
      .withColumn("rate", lit(newFreq))
  }

  /** Notch out `noiseHz` and harmonics from every segment.
    * `continuousProfile`: resolution-invariant notch shape for windowed
    * processing (see Signal.notch scaladoc); false = reference parity.
    * `precision="single"`: float32 compute (see resample).
    * Ref: /root/reference/src/process_nwb/linenoise_notch.py:55-92. */
  def applyLinenoiseNotch(segments: DataFrame, noiseHz: Double = 60.0,
                          npad: PadSpec = FastPad,
                          continuousProfile: Boolean = false,
                          precision: String = "double"): DataFrame = {
    val f =
      if (isSingle(precision)) udf { (values: Array[Double], rate: Double) =>
        toF64(Signal32.notch(toF32(values, 1.0), rate, noiseHz, npad, continuousProfile))
      }
      else udf { (values: Array[Double], rate: Double) =>
        Signal.notch(values, rate, noiseHz, npad, continuousProfile)
      }
    segments.withColumn("values", f(col("values"), col("rate")))
  }

  /** One wavelet output band: complex trace as parallel re/im arrays so
    * amplitude/phase stay pure-SQL (`zip_with` + `hypot`/`atan2`). */
  final case class BandTrace(band: Int, re: Array[Double], im: Array[Double])

  // Executor-local filterbank cache: kernels depend on the PADDED length and
  // rate; computing all bands for a channel inside one task is the
  // reference's per-channel spectrum memoization (wavelet_transform.py:198-207)
  // by construction.
  private val fbCache = new ConcurrentHashMap[(String, Int, Double, Boolean), Kernels.Filterbank]()
  private[operators] def cachedFilterbank(filters: String, paddedLen: Int, rate: Double,
                                          hgOnly: Boolean): Kernels.Filterbank =
    fbCache.computeIfAbsent((filters, paddedLen, rate, hgOnly),
      _ => Kernels.filterbank(filters, paddedLen, rate, hgOnly))

  private def packBands(bands: Array[Array[Double]], scale: Double = 1.0): Seq[BandTrace] =
    bands.indices.map { b =>
      val z = bands(b)
      val n = z.length / 2
      val re = new Array[Double](n)
      val im = new Array[Double](n)
      var i = 0
      while (i < n) { re(i) = z(2 * i) * scale; im(i) = z(2 * i + 1) * scale; i += 1 }
      BandTrace(b, re, im)
    }

  private def packBands32(bands: Array[Array[Float]], scale: Double): Seq[BandTrace] =
    bands.indices.map { b =>
      val z = bands(b)
      val n = z.length / 2
      val re = new Array[Double](n)
      val im = new Array[Double](n)
      var i = 0
      while (i < n) {
        re(i) = (z(2 * i) * scale).toFloat.toDouble
        im(i) = (z(2 * i + 1) * scale).toFloat.toDouble
        i += 1
      }
      BandTrace(b, re, im)
    }

  private def explodeBands(segments: DataFrame,
                           f: UserDefinedFunction): DataFrame = {
    // streaming crossfade windows carry per-sample timestamps; the wavelet
    // preserves sample count, so the column stays aligned and rides through
    // for StreamingOps.stitchTimeWindows
    val extras = segments.columns.filter(_ == "sample_ts").map(col).toSeq
    segments
      .withColumn("bt", explode(f(col("values"), col("rate"))))
      .select(Seq(col("series"), col("channel"), col("bt.band").as("band"),
        col("rate"), col("startingTime"), col("bt.re").as("re"), col("bt.im").as("im"))
        ++ extras: _*)
  }

  /** Wavelet transform: explodes each channel segment into one row per band
    * with complex (re, im) trace columns. Narrow except the explode (which is
    * also narrow); partition count grows by nBands via downstream
    * repartition if desired.
    *
    * `fftNormLength`: the reference L2-normalizes each kernel over its OWN
    * FFT grid (wavelet_transform.py:320), which makes absolute band amplitude
    * scale with √Δf — i.e. depend on the trace length. Leave None for exact
    * reference parity on whole traces; set it to a declared reference length
    * to pin the normalization resolution, making amplitudes invariant to how
    * a recording is windowed (each band is rescaled by √(paddedLen/normLen)
    * — required for overlap-add windowed processing, graft.operators
    * .Windowing, to agree with the whole-trace result).
    * Ref: /root/reference/src/process_nwb/wavelet_transform.py:238-322. */
  def waveletTransform(segments: DataFrame, filters: String = "rat",
                       hgOnly: Boolean = true, npad: PadSpec = FastPad,
                       fftNormLength: Option[Int] = None,
                       precision: String = "double"): DataFrame =
    explodeBands(segments, bandsUdf(npad, fftNormLength, precision) { (padded, rate) =>
      cachedFilterbank(filters, padded, rate, hgOnly).kernels
    })

  /** Wavelet transform against a USER-SUPPLIED kernel list — the reference's
    * `get_filterbank` list passthrough (wavelet_transform.py:104-105): band
    * order follows the list; a `None` entry yields the raw analytic signal
    * (`f is None`, :316-318). Because kernels must match the PADDED length,
    * which varies with each segment's own length, entries are builders
    * `(paddedLen, rate) => kernel` rather than prebuilt arrays; each built
    * kernel is L2-normalized like the reference's `f / norm(f)` (:320).
    * Kernel construction is O(nBands·paddedLen) per segment — same order as
    * one band's FFT — so no cross-row cache is needed. */
  def waveletTransform(segments: DataFrame,
                       kernels: Seq[Option[(Int, Double) => Array[Double]]],
                       npad: PadSpec): DataFrame =
    explodeBands(segments, bandsUdf(npad, None, "double") { (padded, rate) =>
      kernels.map {
        case Some(build) => Kernels.l2Normalize(build(padded, rate))
        case None        => null
      }.toArray
    })

  /** The per-segment band UDF behind both `waveletTransform` overloads:
    * pad per `npad`, take the kernels `kernelsFor(paddedLen, rate)`, run
    * the float64 or float32 (`precision = "single"`) transform and rescale
    * by the `fftNormLength` pin. */
  private def bandsUdf(npad: PadSpec, fftNormLength: Option[Int], precision: String)(
      kernelsFor: (Int, Double) => Array[Array[Double]]): UserDefinedFunction =
    if (isSingle(precision)) udf { (values: Array[Double], rate: Double) =>
      val padded = values.length + Signal.padPlan(values.length, npad).padTotal
      val scale = fftNormLength.fold(1.0)(ref => math.sqrt(padded.toDouble / ref))
      packBands32(Signal32.waveletBands(toF32(values, 1.0), kernelsFor(padded, rate), npad), scale)
    }
    else udf { (values: Array[Double], rate: Double) =>
      val padded = values.length + Signal.padPlan(values.length, npad).padTotal
      val scale = fftNormLength.fold(1.0)(ref => math.sqrt(padded.toDouble / ref))
      packBands(Signal.waveletBands(values, kernelsFor(padded, rate), npad), scale)
    }

  /** Amplitude of a complex (re, im) wavelet frame — native Catalyst
    * expression with whole-stage codegen (graft.functions.ComplexAmplitude;
    * `zip_with`+`hypot` is equivalent but runs interpreted). */
  def amplitude(wavelet: DataFrame): DataFrame =
    wavelet.withColumn("values",
        graft.functions.ComplexArrayFunctions.complexAmplitude(wavelet, col("re"), col("im")))
      .drop("re", "im")

  /** Phase of a complex (re, im) wavelet frame — native Catalyst expression. */
  def phase(wavelet: DataFrame): DataFrame =
    wavelet.withColumn("values",
        graft.functions.ComplexArrayFunctions.complexPhase(wavelet, col("re"), col("im")))
      .drop("re", "im")

  /** Band metadata for a named filterbank at declared rate (no kernels
    * built): the band dimension to join on `band` (SURVEY.md J3). */
  def bandMetadata(spark: org.apache.spark.sql.SparkSession, filters: String,
                   hgOnly: Boolean): DataFrame = {
    import spark.implicits._
    val cfs = Kernels.centerFrequencies(filters, hgOnly)
    val sds = filters match {
      case "changlab" => Kernels.changSds(cfs)
      case _          => Kernels.constQSds(cfs)
    }
    cfs.indices.map(i => (i, cfs(i), sds(i))).toDF("band", "cf", "sd")
  }

  /** Z-score each segment against its leading baseline window — narrow
    * per-row map, no shuffle (the segment already holds the whole trace).
    * Population std, like np.std in the tutorial
    * (examples/plot_ECoG_preprocessing_tutorial.py:164-166).
    *
    * A one-pass UDF rather than `transform`/`aggregate` higher-order
    * expressions: HOFs are interpreted (no codegen) and Catalyst's project
    * collapse inlines the baseline aggregate into every downstream element
    * evaluation — measured 100x slower than this loop when followed by a
    * posexplode. */
  def zscoreSegments(segments: DataFrame, baselineSamples: Int = 125,
                     precision: String = "double"): DataFrame =
    zscoreSegments(segments, baselineSamples, precision, baselineOffset = 0)

  /** `baselineOffset`: start the baseline window at this sample instead of
    * sample 0 (default 0 = reference parity). A whole-recording FFT chain
    * (resample/notch) leaves ~1/δ ≈ 1 s of boundary artifact at the trace's
    * own edges (the reference's tests trim `int(rate)` samples before
    * measuring, tests/test_linenoise_notch.py:30-31); a baseline that
    * includes those samples inflates the std and silently compresses every
    * downstream z-score, so deployments z-scoring against a leading quiet
    * period should offset past the edge. */
  def zscoreSegments(segments: DataFrame, baselineSamples: Int,
                     precision: String, baselineOffset: Int): DataFrame = {
    require(baselineOffset >= 0, s"negative baselineOffset: $baselineOffset")
    val f =
      if (isSingle(precision))
        // float32 compute (reference precision='single', utils.py:9-31):
        // two-pass mean/std like np.mean/np.std over a float32 array —
        // the one-pass s2/n - mu^2 form cancels catastrophically in f32
        udf { (values: Array[Double]) =>
          val o = math.min(baselineOffset, math.max(values.length - 1, 0))
          val n = math.min(o + baselineSamples, values.length)
          var s = 0.0f
          var i = o
          while (i < n) { s += values(i).toFloat; i += 1 }
          val mu = s / (n - o)
          var s2 = 0.0f
          i = o
          while (i < n) { val d = values(i).toFloat - mu; s2 += d * d; i += 1 }
          val sd = math.sqrt((s2 / (n - o)).toDouble).toFloat
          values.map(v => ((v.toFloat - mu) / sd).toDouble)
        }
      else
        udf { (values: Array[Double]) =>
          val o = math.min(baselineOffset, math.max(values.length - 1, 0))
          val n = math.min(o + baselineSamples, values.length)
          var s = 0.0
          var s2 = 0.0
          var i = o
          while (i < n) { s += values(i); s2 += values(i) * values(i); i += 1 }
          val mu = s / (n - o)
          val sd = math.sqrt(s2 / (n - o) - mu * mu)
          values.map(v => (v - mu) / sd)
        }
    segments.withColumn("values", f(col("values")))
  }

  /** Welch averaged-periodogram power-spectral-density estimate (Welch
    * 1967) per segment row: split the trace into length-`nperseg` frames
    * advancing by `hop`, taper each with a symmetric Hamming window
    * (0.54 - 0.46 cos(2 pi i/(L-1)), the q39 kernel convention), average the
    * squared rfft magnitudes over frames, and scale to one-sided density —
    * 1/(n_frames * rate * sum(w^2)), interior bins doubled. Rows whose trace
    * is shorter than `nperseg` produce no output.
    *
    * Emits one row per (input row, frequency bin): key columns preserved,
    * plus `k`, `freq`, `psd`. Narrow per-row map + posexplode — no shuffle;
    * parallelism = segment rows, the same distribution contract as every
    * FFT operator here. */
  def welchPsd(segments: DataFrame, nperseg: Int, hop: Int): DataFrame = {
    require(nperseg >= 2 && hop >= 1, s"need nperseg>=2, hop>=1; got $nperseg/$hop")
    val f = udf { (values: Array[Double], rate: Double) =>
      val L = nperseg
      if (values.length < L) Array.empty[Double]
      else {
        val w = Array.tabulate(L)(i => 0.54 - 0.46 * math.cos(2.0 * math.Pi * i / (L - 1)))
        var wsum2 = 0.0
        var i = 0
        while (i < L) { wsum2 += w(i) * w(i); i += 1 }
        val nseg = (values.length - L) / hop + 1
        val m = L / 2 + 1
        val acc = new Array[Double](m)
        var s = 0
        while (s < nseg) {
          val y = new Array[Double](L)
          i = 0
          while (i < L) { y(i) = values(s * hop + i) * w(i); i += 1 }
          val spec = graft.dsp.Fft.rfft(y)
          var k = 0
          while (k < m) {
            val re = spec(2 * k); val im = spec(2 * k + 1)
            acc(k) += re * re + im * im
            k += 1
          }
          s += 1
        }
        val scale = 1.0 / (nseg.toDouble * rate * wsum2)
        var k = 0
        while (k < m) {
          val side = if (k == 0 || (L % 2 == 0 && k == L / 2)) 1.0 else 2.0
          acc(k) *= side * scale
          k += 1
        }
        acc
      }
    }
    segments
      .withColumn("_psd", f(col("values"), col("rate")))
      .select(col("series"), col("channel"), col("band"), col("rate"),
        posexplode(col("_psd")).as(Seq("k", "psd")))
      .withColumn("freq", col("k") * col("rate") / lit(nperseg.toDouble))
  }
}
