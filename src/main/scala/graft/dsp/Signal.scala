package graft.dsp

/** Core single-trace DSP ops, each operating on one channel's time series
  * (`Array[Double]`). These are the bodies of the Spark UDFs — one Spark row
  * (= one channel / channel-band trace) per call; Spark's task parallelism
  * replaces the reference's FFT worker threads and chunked iterator.
  *
  * Semantics mirror /root/reference/src/process_nwb/{utils,resample,
  * linenoise_notch,wavelet_transform}.py; all compute is float64 (the
  * reference's 'double' precision mode — callers may cast to float at the
  * storage boundary for its 'single' mode).
  */
object Signal {

  /** Padding strategy, mirroring the reference's `npad` parameter
    * (utils.py:106-127): Fast pads to the next 5-smooth FFT length, Auto to
    * the next power of two with margin, Exact(n) pads n on both sides. */
  sealed trait PadSpec
  case object FastPad extends PadSpec
  case object AutoPad extends PadSpec
  final case class ExactPad(n: Int) extends PadSpec

  /** Pad/trim bookkeeping for one transform: pad sizes on each side and, for
    * a resample of ratio r, how many output samples to trim back off each
    * side and the padded-output length. Mirrors `_npads`
    * (utils.py:106-138); Python-3 banker's rounding (`math.rint`). */
  final case class PadPlan(padLeft: Int, padRight: Int,
                           removeLeft: Int, removeRight: Int, newLen: Int) {
    def padTotal: Int = padLeft + padRight
  }

  def padPlan(nTime: Int, npad: PadSpec, ratio: Double = 1.0): PadPlan = {
    val (pl, pr) = npad match {
      case AutoPad =>
        val minAdd = math.min(nTime / 8, 100) * 2
        var p = 1
        while (p < nTime + minAdd) p <<= 1
        val total = p - nTime
        (total / 2, total / 2 + total % 2)
      case FastPad =>
        val total = Fft.nextFastLen(nTime) - nTime
        (total / 2, total / 2 + total % 2)
      case ExactPad(n) =>
        require(n >= 0, "npad must be non-negative")
        (n, n)
    }
    val origLen = nTime + pl + pr
    val newLen = math.rint(ratio * origLen).toInt
    val finalLen = math.rint(ratio * nTime).toInt
    val rm0 = math.rint(ratio * pl).toInt
    val rm1 = newLen - finalLen - rm0
    PadPlan(pl, pr, rm0, rm1, newLen)
  }

  /** Reflect-limited padding (point reflection about the endpoint value,
    * zero-filled where the pad exceeds the signal length).
    * Ref: `_smart_pad` utils.py:150-167. */
  def smartPad(x: Array[Double], padLeft: Int, padRight: Int): Array[Double] = {
    if (padLeft == 0 && padRight == 0) return x
    require(padLeft >= 0 && padRight >= 0, "npad must be non-negative")
    val n = x.length
    val out = new Array[Double](padLeft + n + padRight) // zero-filled
    val lRef = math.min(padLeft, n - 1)
    var i = 0
    while (i < lRef) { out(padLeft - lRef + i) = 2.0 * x(0) - x(lRef - i); i += 1 }
    System.arraycopy(x, 0, out, padLeft, n)
    val rRef = math.min(padRight, n - 1)
    i = 0
    while (i < rRef) { out(padLeft + n + i) = 2.0 * x(n - 1) - x(n - 2 - i); i += 1 }
    out
  }

  /** Trim pad remnants off both ends. Ref: `_trim` utils.py:141-147. */
  def trim(x: Array[Double], removeLeft: Int, removeRight: Int): Array[Double] = {
    if (removeLeft <= 0 && removeRight <= 0) x
    else {
      val from = math.max(removeLeft, 0)
      val until = math.min(x.length - removeRight, x.length)
      java.util.Arrays.copyOfRange(x, from, math.max(until, from))
    }
  }

  /** Trim an interleaved-complex array by `removeLeft`/`removeRight` complex
    * samples. */
  def trimComplex(a: Array[Double], removeLeft: Int, removeRight: Int): Array[Double] = {
    if (removeLeft <= 0 && removeRight <= 0) a
    else {
      val n = a.length / 2
      val from = math.max(removeLeft, 0)
      val until = math.min(n - removeRight, n)
      java.util.Arrays.copyOfRange(a, 2 * from, math.max(2 * until, 2 * from))
    }
  }

  /** FFT-based resample of a trace to exactly `num` samples, with
    * reflect-limited padding. Mirrors `resample_func` (resample.py:43-102):
    * pad -> rfft -> halve/double the shared Nyquist bin for even working
    * length -> scale by ratio -> irfft at the padded target length -> trim. */
  def resampleTo(x: Array[Double], num: Int, npad: PadSpec = FastPad): Array[Double] = {
    val n = x.length
    val ratio = num.toDouble / n
    val plan = padPlan(n, npad, ratio)
    val padded = smartPad(x, plan.padLeft, plan.padRight)
    val oldLen = padded.length
    val newLen = plan.newLen
    val shorter = newLen < oldLen
    val useLen = if (shorter) newLen else oldLen
    val spec = Fft.rfft(padded)
    if (useLen % 2 == 0) {
      val nyq = useLen / 2
      if (nyq < spec.length / 2) {
        val f = if (shorter) 2.0 else 0.5
        spec(2 * nyq) *= f
        spec(2 * nyq + 1) *= f
      }
    }
    var i = 0
    while (i < spec.length) { spec(i) *= ratio; i += 1 }
    val y = Fft.irfft(spec, newLen)
    trim(y, plan.removeLeft, plan.removeRight)
  }

  /** Resample between sampling rates; output length = ceil(n*new/old).
    * Mirrors `resample` (resample.py:105-153) for one channel. */
  def resample(x: Array[Double], newFreq: Double, oldFreq: Double,
               npad: PadSpec = FastPad): Array[Double] = {
    val num = math.ceil(x.length * newFreq / oldFreq).toInt
    resampleTo(x, num, npad)
  }

  /** Notch filter at `noiseHz` and all harmonics below Nyquist: attenuate
    * rFFT bins within ±1 Hz of each harmonic by (1 - hamming window). One
    * forward/inverse FFT total. Mirrors `apply_linenoise_notch` +
    * `_apply_notches` FFT path (linenoise_notch.py:8-92).
    *
    * `continuousProfile`: the reference samples its hamming over however
    * many FFT bins fall inside ±delta — so the attenuation profile depends
    * on the FFT length (2 shallow taps at n≈1k vs 8 deep ones at n≈4k).
    * True evaluates the hamming as a continuous function of bin frequency
    * instead: resolution-invariant, required when a recording is processed
    * in overlap-add windows (graft.operators.Windowing) and the result must
    * not depend on the window size. Default false = exact reference parity. */
  def notch(x: Array[Double], rate: Double, noiseHz: Double = 60.0,
            npad: PadSpec = FastPad, continuousProfile: Boolean = false): Array[Double] = {
    val nyquist = rate / 2.0
    if (nyquist < noiseHz) return x
    val delta = 1.0
    val plan = padPlan(x.length, npad)
    val padded = smartPad(x, plan.padLeft, plan.padRight)
    val n = padded.length
    val spec = Fft.rfft(padded)
    val m = n / 2 + 1
    val freqStep = 1.0 / (n * (1.0 / rate)) // rfftfreq arithmetic, bit-exact
    var h = 1
    var notchF = noiseHz
    while (notchF < nyquist) {
      // contiguous bin range with freq strictly inside (notch-delta, notch+delta)
      var lo = math.max(math.ceil((notchF - delta) / freqStep).toInt - 2, 0)
      while (lo < m && lo * freqStep <= notchF - delta) lo += 1
      var hi = lo
      while (hi < m && hi * freqStep < notchF + delta) hi += 1
      val size = hi - lo
      if (size > 0) {
        var i = 0
        if (continuousProfile) {
          while (i < size) {
            val f = (lo + i) * freqStep
            val h = 0.54 - 0.46 * math.cos(math.Pi * (f - (notchF - delta)) / delta)
            val g = 1.0 - h
            spec(2 * (lo + i)) *= g
            spec(2 * (lo + i) + 1) *= g
            i += 1
          }
        } else {
          val win = Kernels.hammingWindow(size)
          while (i < size) {
            val g = 1.0 - win(i)
            spec(2 * (lo + i)) *= g
            spec(2 * (lo + i) + 1) *= g
            i += 1
          }
        }
      }
      h += 1
      notchF = noiseHz * h
    }
    val y = Fft.irfft(spec, n)
    trim(y, plan.removeLeft, plan.removeRight)
  }

  /** Analytic-signal spectrum of a padded trace: FFT multiplied by the
    * Heaviside filter 2·1[f>0] (zero DC, zero negative and Nyquist bins).
    * Returns 2n interleaved complex. Ref: wavelet_transform.py:306-311. */
  def analyticSpectrum(padded: Array[Double]): Array[Double] = {
    val n = padded.length
    val full = Fft.fftReal(padded)
    val kPos = (n + 1) / 2 // bins with freq > 0 are 1 .. kPos-1
    val out = new Array[Double](2 * n)
    var k = 1
    while (k < kPos) {
      out(2 * k) = 2.0 * full(2 * k)
      out(2 * k + 1) = 2.0 * full(2 * k + 1)
      k += 1
    }
    out
  }

  /** Wavelet transform of one trace against a prebuilt filterbank: for each
    * band, ifft(analytic spectrum × Gaussian kernel) -> complex analytic
    * band-passed trace (interleaved), trimmed back to the unpadded length.
    * The analytic spectrum is computed once and shared across bands — the
    * reference's per-channel memoization (wavelet_transform.py:198-207,
    * 292-300) becomes simple locality here. Kernels must be built at the
    * PADDED length; a `null` kernel yields the raw analytic signal (the
    * reference's `f is None` band, wavelet_transform.py:316-318).
    * Ref: `wavelet_transform` wavelet_transform.py:238-322. */
  def waveletBands(x: Array[Double], kernels: Array[Array[Double]],
                   npad: PadSpec = FastPad): Array[Array[Double]] = {
    val plan = padPlan(x.length, npad)
    val padded = smartPad(x, plan.padLeft, plan.padRight)
    val n = padded.length
    val sh = analyticSpectrum(padded)
    val kPos = (n + 1) / 2
    kernels.map { kern =>
      val b =
        if (kern == null) sh.clone()
        else {
          require(kern.length == n, s"kernel length ${kern.length} != padded length $n")
          val arr = new Array[Double](2 * n)
          var i = 1
          while (i < kPos) {
            arr(2 * i) = sh(2 * i) * kern(i)
            arr(2 * i + 1) = sh(2 * i + 1) * kern(i)
            i += 1
          }
          arr
        }
      Fft.ifftComplexInPlace(b)
      trimComplex(b, plan.removeLeft, plan.removeRight)
    }
  }

  /** |z| per complex sample of an interleaved array. */
  def amplitude(interleaved: Array[Double]): Array[Double] = {
    val n = interleaved.length / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = math.hypot(interleaved(2 * i), interleaved(2 * i + 1)); i += 1 }
    out
  }

  /** arg(z) per complex sample of an interleaved array. */
  def phase(interleaved: Array[Double]): Array[Double] = {
    val n = interleaved.length / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = math.atan2(interleaved(2 * i + 1), interleaved(2 * i)); i += 1 }
    out
  }

  /** Trimmed mean across one time-point's channel values: sort, drop
    * nExclude from each end, mean the middle (NaNs excluded like np.nanmean).
    * Ref: `CAR` common_referencing.py:11-42. The plain-Scala reference the
    * specs check the blocked Spark kernel (CommonReferencing) against;
    * `meanFrac` outside (0, 1] is rejected by both. */
  def trimmedMean(values: Array[Double], meanFrac: Double = 0.95): Double = {
    require(meanFrac > 0.0 && meanFrac <= 1.0, s"mean_frac=$meanFrac outside (0, 1]")
    val clean = values.filterNot(_.isNaN)
    val n = values.length
    if (meanFrac == 1.0) return clean.sum / clean.length
    val nExclude = math.ceil(n * (1.0 - meanFrac) / 2.0).toInt
    if (2 * nExclude >= n) throw new IllegalArgumentException(
      s"mean_frac=$meanFrac excludes all $n channels")
    val sorted = values.sorted // NaN sorts last, like np.sort
    val kept = sorted.slice(nExclude, n - nExclude).filterNot(_.isNaN)
    kept.sum / kept.length
  }
}
