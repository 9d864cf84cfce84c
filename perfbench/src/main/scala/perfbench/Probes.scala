package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.dsp.{Fft, Kernels, Signal, Signal32}
import graft.model.Synthetic
import graft.operators.{CommonReferencing, DspOperators}
import graft.store.NwbStore
import graft.tools.PreprocessFolder

/** Layer probes for the traced run: each calls one layer directly on inputs
  * of the workload's shapes and reports what that layer alone costs. */
object Probes {

  /** One FFT chain a workload runs per trace, and how many traces run it:
    * the raw length and rate, the rate the pipeline resamples to (None = no
    * resample; the resample probe then halves the rate), and the rate of the
    * final amplitude resample (None = none). */
  final case class Chain(nTime: Int, rate: Double, toRate: Option[Double],
                         finalRate: Option[Double], traces: Long)

  /** Single-threaded `Signal32` timings, ns per input sample, plus the
    * computed FFT volume of the chains: points transformed, the padding
    * overhead from `Fft.nextFastLen`, and bytes moved at 8 bytes (one
    * complex float32) per point in and out of every transform. */
  def dsp(chains: Seq[Chain], seed: Long): Map[String, Double] = {
    val nBands = Checks.NBands
    var resampleNs, resampleN, notchNs, notchN, waveletNs, waveletN = 0.0
    var points, unpadded = 0.0
    for (c <- chains) {
      val x = Synthetic.rawTraceForSource(c.nTime, seed, 0).map(_.toFloat)
      val rate = c.toRate.getOrElse(c.rate)
      val (down, ns) = timePerCall(Signal32.resample(x, c.toRate.getOrElse(c.rate / 2), c.rate))
      resampleNs += ns; resampleN += c.nTime
      val y = if (c.toRate.isDefined) down else x
      val (notched, ns2) = timePerCall(Signal32.notch(y, rate))
      notchNs += ns2; notchN += y.length
      val padded = y.length + Signal.padPlan(y.length, Signal.FastPad).padTotal
      val fb = Kernels.filterbank("rat", padded, rate, hgOnly = true)
      val (_, ns3) = timePerCall(Signal32.waveletBands(notched, fb.kernels))
      waveletNs += ns3; waveletN += y.length
      // resample: rfft + irfft; notch: rfft + irfft; wavelet: one forward
      // and one inverse per band; final resample per band: rfft + irfft
      val rawPad = Fft.nextFastLen(c.nTime).toDouble
      val outLen = math.ceil(y.length * c.finalRate.getOrElse(rate) / rate)
      val perTrace =
        (if (c.toRate.isDefined) rawPad + y.length else 0.0) + 2.0 * padded +
          (1 + nBands) * padded.toDouble +
          c.finalRate.fold(0.0)(_ => nBands * (padded + outLen))
      val perTraceUnpadded =
        (if (c.toRate.isDefined) c.nTime + y.length else 0.0) + 2.0 * y.length +
          (1 + nBands) * y.length.toDouble +
          c.finalRate.fold(0.0)(_ => nBands * (y.length + outLen))
      points += perTrace * c.traces
      unpadded += perTraceUnpadded * c.traces
    }
    Map(
      "dsp.resample_ns_per_sample" -> resampleNs / resampleN,
      "dsp.notch_ns_per_sample" -> notchNs / notchN,
      "dsp.wavelet_ns_per_sample" -> waveletNs / waveletN,
      "dsp.fft_pad_ratio" -> points / unpadded,
      "dsp.fft_points" -> points,
      "dsp.bytes_moved" -> points * 2 * 8)
  }

  /** Runs `f` until 0.3 s have passed (at least 3 calls after one warm-up
    * call); returns the last result and the median ns per call. */
  private def timePerCall[T](f: => T): (T, Double) = {
    var r = f
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + 300000000L
    while (times.length < 3 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      r = f
      times += (System.nanoTime() - t0).toDouble
    }
    (r, Stats.median(times.toSeq))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Median of three timed runs after one untimed run. */
  private def median3(f: => Unit): Double = { f; Stats.median(Seq.fill(3)(seconds(f))) }

  /** Operator and store probes on one session store, CLI defaults. Each
    * operator runs on a cached input into a noop sink; its output is then
    * cached for the next operator. `op.stage_share` divides the summed
    * stage times by the session's own `preprocessStore` wall. */
  def operators(spark: SparkSession, dir: String, nCh: Int): Map[String, Double] = {
    val a = PreprocessFolder.parse(Array(dir))
    val store = new NwbStore(dir, spark)
    val sessionS = median3(PreprocessFolder.preprocessStore(store, a))
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); cached += c; c
    }
    try {
      val readS = median3(noop(store.readAcquisition(a.acqName)))
      val raw = keep(store.readAcquisition(a.acqName))
      val down = DspOperators.resample(raw, a.initialRate, precision = a.precision)
      val resampleS = median3(noop(down))
      val notch = DspOperators.applyLinenoiseNotch(keep(down), precision = a.precision)
      val notchS = median3(noop(notch))
      val notched = keep(notch)
      val car = CommonReferencing.subtractCarSegments(notched, nCh)
      val carS = median3(noop(car))
      val shuffle = new SparkTotals(None)
      spark.sparkContext.addSparkListener(shuffle)
      try noop(car) finally {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(shuffle)
      }
      val carOfS = median3(noop(CommonReferencing.carSegments(notched, nCh)))
      val amp = DspOperators.amplitude(DspOperators.waveletTransform(keep(car), a.filters,
        hgOnly = true, precision = a.precision))
      val waveletS = median3(noop(amp))
      val finalDf = DspOperators.resample(keep(amp), a.finalRate, precision = a.precision)
      val finalS = median3(noop(finalDf))
      val out = keep(NwbStore.withPrecision(finalDf, a.precision))
      val table = "perfbench_probe_write"
      val writeS = median3(store.writeProcessing(table, out, partitionByChannel = true))
      val (files, bytes) = dataFiles(new java.io.File(s"$dir/preprocessing/$table"))
      val payload = out.selectExpr("sum(size(values))").head().getLong(0) * 4.0
      val stages = Seq(resampleS, notchS, carS, waveletS, finalS)
      Map(
        "op.resample_s" -> resampleS, "op.notch_s" -> notchS, "op.car_s" -> carS,
        "op.car_of_s" -> carOfS, "op.wavelet_amp_s" -> waveletS, "op.final_resample_s" -> finalS,
        "op.car_shuffle_bytes" -> shuffle.shuffleWrite.get.toDouble,
        "op.stage_share" -> stages.sum / sessionS,
        "store.read_acq_s" -> readS, "store.write_s" -> writeS,
        "store.bytes_written" -> bytes.toDouble, "store.files_written" -> files.toDouble,
        "store.write_amplification" -> bytes / payload)
    } finally cached.foreach(_.unpersist())
  }

  private def dataFiles(d: java.io.File): (Int, Long) = {
    val all = Option(d.listFiles).getOrElse(Array.empty[java.io.File])
    all.foldLeft((0, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = dataFiles(f); (n + n2, b + b2) }
      else if (f.getName.endsWith(".parquet")) (n + 1, b + f.length)
      else (n, b)
    }
  }
}
