package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

import graft.dsp.{Signal, Kernels}
import graft.dsp.Signal.{PadSpec, FastPad}
import graft.functions.{DspFunctions, DspKernels}
import graft.store.NwbStore.isSingle

/** The per-segment spectral operators: each is a narrow `DataFrame =>
  * DataFrame` map over SegmentFrame rows (no shuffle), with the FFT math in
  * graft.dsp. Resample, notch and the named-filterbank wavelet run as native
  * Catalyst expressions over primitive arrays (graft.functions.DspFunctions;
  * Spark has no FFT primitive, SURVEY.md §7 "built-in vs custom"), as do
  * amplitude and phase, so codegen and pushdown keep working around them.
  * Scala UDFs remain for the user-kernel wavelet, z-score and Welch PSD.
  */
object DspOperators {

  /** Resample every segment to `newFreq` (per-row rate-aware). `preScale`
    * folds a unit conversion (e.g. V -> µV ×1e6) into the same array pass so
    * the pipeline needs no separate interpreted `transform` HOF.
    * `precision="single"` computes in float32 end to end (the reference's
    * default mode, utils.py:9-31) — values in the returned array<double>
    * column are exactly float32-representable; cast at the storage boundary
    * (NwbStore.withPrecision) for a bit-width match.
    * Ref semantics: /root/reference/src/process_nwb/resample.py:105-153. */
  def resample(segments: DataFrame, newFreq: Double, npad: PadSpec = FastPad,
               preScale: Double = 1.0, precision: String = "double"): DataFrame = {
    val f = DspFunctions.resample(segments, col("values"), col("rate"), newFreq, preScale,
      npad, precision)
    // resampling changes the sample count, so a per-sample timestamp column
    // from streaming crossfade windows no longer aligns — drop it so a
    // downstream stitchTimeWindows fails fast on the missing column instead
    // of silently mis-weighting (length-preserving ops keep it)
    segments.drop("sample_ts")
      .withColumn("values", f)
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
                          precision: String = "double"): DataFrame =
    segments.withColumn("values", DspFunctions.notch(segments, col("values"), col("rate"),
      noiseHz, npad, continuousProfile, precision))

  /** One row per band of the struct array `bands`: the key columns, the
    * band's traces (`re`, `im`, or the amplitude's `values`) and
    * `sample_ts` if present. Streaming crossfade windows carry per-sample
    * timestamps; the wavelet preserves sample count, so the column stays
    * aligned and rides through for StreamingOps.stitchTimeWindows. The
    * amplitude form keeps the column order of
    * `amplitude(waveletTransform(...))`. */
  private def explodeBands(segments: DataFrame, bands: Column,
                           amplitudeOnly: Boolean): DataFrame = {
    val extras = segments.columns.filter(_ == "sample_ts").map(col).toSeq
    val keys = Seq(col("series"), col("channel"), col("bt.band").as("band"),
      col("rate"), col("startingTime"))
    segments
      .withColumn("bt", explode(bands))
      .select((if (amplitudeOnly) keys ++ extras :+ col("bt.values").as("values")
               else keys ++ Seq(col("bt.re").as("re"), col("bt.im").as("im")) ++ extras): _*)
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
    explodeBands(segments, DspFunctions.waveletBands(segments, col("values"), col("rate"),
      filters, hgOnly, npad, fftNormLength, precision, amplitudeOnly = false), amplitudeOnly = false)

  /** `amplitude(waveletTransform(...))` in one step: the same rows, columns
    * and values, bit for bit, without materializing the complex bands —
    * each band's amplitude is computed from (re, im) as the wavelet emits
    * them. The reference's abs-only `store_wavelet_transform` path
    * (wavelet_transform.py:383-446). */
  def waveletAmplitude(segments: DataFrame, filters: String = "rat",
                       hgOnly: Boolean = true, npad: PadSpec = FastPad,
                       fftNormLength: Option[Int] = None,
                       precision: String = "double"): DataFrame =
    explodeBands(segments, DspFunctions.waveletBands(segments, col("values"), col("rate"),
      filters, hgOnly, npad, fftNormLength, precision, amplitudeOnly = true), amplitudeOnly = true)

  /** Wavelet transform against a USER-SUPPLIED kernel list — the reference's
    * `get_filterbank` list passthrough (wavelet_transform.py:104-105): band
    * order follows the list; a `None` entry yields the raw analytic signal
    * (`f is None`, :316-318). Because kernels must match the PADDED length,
    * which varies with each segment's own length, entries are builders
    * `(paddedLen, rate) => kernel` rather than prebuilt arrays; each built
    * kernel is L2-normalized like the reference's `f / norm(f)` (:320).
    * Kernel construction is O(nBands·paddedLen) per segment — same order as
    * one band's FFT — so no cross-row cache is needed. The builders are
    * Scala functions, which a registered SQL function cannot carry, so this
    * overload stays a Scala UDF (float64 only). */
  def waveletTransform(segments: DataFrame,
                       kernels: Seq[Option[(Int, Double) => Array[Double]]],
                       npad: PadSpec): DataFrame = {
    val f = udf { (values: Array[Double], rate: Double) =>
      val padded = values.length + Signal.padPlan(values.length, npad).padTotal
      val built = kernels.map {
        case Some(build) => Kernels.l2Normalize(build(padded, rate))
        case None        => null
      }.toArray
      Signal.waveletBands(values, built, npad).toSeq.zipWithIndex.map { case (z, b) =>
        val (re, im) = DspKernels.split(z)
        (b, re, im)
      }
    }
    explodeBands(segments, f(col("values"), col("rate"))
      .cast("array<struct<band:int,re:array<double>,im:array<double>>>"), amplitudeOnly = false)
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
