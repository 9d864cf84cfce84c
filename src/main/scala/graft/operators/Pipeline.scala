package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsp.Signal.{PadSpec, FastPad}
import graft.model.Frames
import graft.store.NwbStore

/** The end-to-end preprocessing pipeline — the engine's equivalent of
  * `preprocess_block` (/root/reference/src/process_nwb/pipelines.py:15-111):
  * resample -> 60 Hz notch -> CAR subtraction -> wavelet amplitude ->
  * optional amplitude post-resample.
  *
  * The reference's `all_steps=False` "fused in-memory path"
  * (pipelines.py:83-98) is simply Catalyst's lazy DAG here: nothing
  * materializes until a sink runs. Its `all_steps=True` materializing path is
  * `Store.storePreprocessBlock`, the only writer of the four derived tables.
  * The folder driver (`graft.tools.PreprocessFolder`, the reference's
  * scripts/preprocess_folder) is a loop over these two and runs no operator
  * itself. Its chunked deferred execution (SURVEY.md §3.3) is Spark's native
  * partition-parallel execution over channel rows.
  */
object Pipeline {

  final case class Config(
    initialRate: Double = 3200.0,      // pipelines.py:17
    finalRate: Option[Double] = Some(400.0), // pipelines.py:18
    filters: String = "rat",           // pipelines.py:19
    hgOnly: Boolean = true,            // pipelines.py:20
    meanFrac: Double = 0.95,
    noiseHz: Double = 60.0,
    npad: PadSpec = FastPad,
    scaling: Double = 1e6,             // V -> µV at ingest, resample.py:11
    precision: String = "double")      // "single" = float32 compute end to
                                       // end (the reference's own default,
                                       // utils.py:9-31); "double" kept as
                                       // OUR default so results stay exactly
                                       // reproducible against float64 oracles

  /** Full pipeline over a SegmentFrame of raw acquisition data. Returns the
    * wavelet-amplitude SegmentFrame (one row per channel × band). */
  def preprocessBlock(raw: DataFrame, nChannels: Int,
                      config: Config = Config()): DataFrame = {
    // unit scaling (V -> µV) rides inside the resample UDF's array pass —
    // a separate `transform` HOF would run interpreted (NOTES.md sharp edge)
    val downsampled =
      DspOperators.resample(raw, config.initialRate, config.npad,
        preScale = config.scaling, precision = config.precision)
    val notched = DspOperators.applyLinenoiseNotch(downsampled, config.noiseHz, config.npad,
      precision = config.precision)
    val referenced = CommonReferencing.subtractCarSegments(notched, nChannels, config.meanFrac,
      precision = config.precision)
    val amp = DspOperators.waveletAmplitude(referenced, config.filters, config.hgOnly,
      config.npad, precision = config.precision)
    config.finalRate match {
      case Some(fr) => DspOperators.resample(amp, fr, config.npad,
        precision = config.precision)
      case None     => amp
    }
  }

  /** Tutorial tail (examples/plot_ECoG_preprocessing_tutorial.py:164-167):
    * z-score each (channel, band) against its leading baseline window, then
    * average across bands -> one high-gamma trace per channel.
    *
    * The cross-band mean is a SEGMENT-level aggregation: nBands array rows
    * meet per channel in one shuffle and a tight loop averages them
    * elementwise (bands summed in band order — deterministic). The explode
    * -> per-sample groupBy -> re-segment alternative shuffles every sample
    * twice; this shuffles each trace once. */
  def highGammaTrace(waveletAmp: DataFrame, baselineSamples: Int = 125,
                     precision: String = "double"): DataFrame = {
    val z = DspOperators.zscoreSegments(waveletAmp, baselineSamples, precision)
    val single = NwbStore.isSingle(precision)
    val avgBands = udf { (rows: Seq[org.apache.spark.sql.Row]) =>
      val byBand = rows.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      val n = byBand.map(_._2.length).min
      if (single) {
        // float32 accumulate + divide, matching the np.mean-over-float32
        // semantics every other single-mode stage already honors
        val acc = new Array[Float](n)
        var b = 0
        while (b < byBand.length) {
          val v = byBand(b)._2
          var i = 0
          while (i < n) { acc(i) += v(i).toFloat; i += 1 }
          b += 1
        }
        val out = new Array[Double](n)
        var i = 0
        while (i < n) { out(i) = (acc(i) / byBand.length).toDouble; i += 1 }
        out
      } else {
        val out = new Array[Double](n)
        var b = 0
        while (b < byBand.length) {
          val v = byBand(b)._2
          var i = 0
          while (i < n) { out(i) += v(i); i += 1 }
          b += 1
        }
        var i = 0
        while (i < n) { out(i) /= byBand.length; i += 1 }
        out
      }
    }
    z.groupBy("series", "channel", "rate", "startingTime")
      .agg(collect_list(struct(col("band"), col("values"))).as("bv"))
      .select(col("series"), col("channel"), lit(null).cast("int").as("band"),
        col("rate"), col("startingTime"), avgBands(col("bv")).as("values"))
  }
}

/** The all-steps writer — the reference's `store_*` functions and the only
  * code that materializes the derived series: each store writes one table
  * through [[graft.store.NwbStore]] under `<root>/preprocessing/<prefix><series>`
  * with the reference's naming convention (`downsampled_`, `CAR_ln_`,
  * `wvlt_amp_`, `wvlt_phase_` prefixes — SURVEY.md S3) and returns the frame
  * for further chaining, mirroring the `store_*` functions'
  * transform+write+return shape. `precision` applies at storage too
  * (`NwbStore.withPrecision`: float32 tables under "single"); wavelet tables
  * are partitioned by channel.
  */
object Store {

  private def write(df: DataFrame, root: String, name: String, precision: String,
                    partitionByChannel: Boolean = false): NwbStore = {
    val store = new NwbStore(root, df.sparkSession)
    store.writeProcessing(name, NwbStore.withPrecision(df, precision), partitionByChannel)
    store
  }

  /** Write, then return the STORED table (a parquet scan) rather than the
    * input's lazy lineage: chained consumers re-read the materialized
    * bytes instead of re-running the upstream FFT chain — which also makes
    * it safe to unpersist any cache that fed the write. The read-back keeps
    * the input's column order (a partition column reads back last) and
    * widens float32 storage back to array<double> — exact, since
    * single-precision ops emit float32-representable values — so every
    * chained step computes on the values it would have received in memory. */
  private def writeRead(df: DataFrame, root: String, name: String, precision: String,
                        partitionByChannel: Boolean = false): DataFrame = {
    val back = write(df, root, name, precision, partitionByChannel).readProcessing(name)
    back.select(df.columns.map(back(_)): _*)
      .withColumn("values", col("values").cast("array<double>"))
  }

  def storeResample(raw: DataFrame, root: String, series: String, newFreq: Double,
                    npad: PadSpec = FastPad, preScale: Double = 1.0,
                    precision: String = "double"): DataFrame = {
    val resampled = DspOperators.resample(raw, newFreq, npad, preScale, precision)
    write(resampled, root, s"downsampled_$series", precision)
    resampled
  }

  /** `store_subtract_CAR` parity (common_referencing.py:71-129): writes the
    * referenced data as `CAR_<series>` and the average itself as the
    * reference's literal `CAR` series name. The input frame is persisted
    * DISK_ONLY for the two derived writes — upstream (often an FFT chain)
    * runs once — then unpersisted; the RETURNED frame reads the stored
    * table, so chaining after the unpersist does not recompute lineage. */
  def storeSubtractCar(segments: DataFrame, root: String, series: String,
                       nChannels: Int, meanFrac: Double = 0.95,
                       precision: String = "double"): DataFrame = {
    val cached = segments.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      write(CommonReferencing.carSegments(cached, nChannels, meanFrac, precision = precision),
        root, "CAR", precision)
      writeRead(CommonReferencing.subtractCarSegments(cached, nChannels, meanFrac,
        precision = precision), root, s"CAR_$series", precision)
    } finally cached.unpersist()
  }

  /** `store_linenoise_notch_CAR` parity (pipelines.py:114-173): notch, then
    * write the referenced data as `CAR_ln_<series>` AND the computed average
    * as `CAR_of_<series>` (:159-170). The notched frame (an FFT pass) is
    * persisted DISK_ONLY so both writes share one notch computation; the
    * returned frame reads the stored table (see writeRead). */
  def storeLinenoiseNotchCar(segments: DataFrame, root: String, series: String,
                             nChannels: Int, meanFrac: Double = 0.95,
                             noiseHz: Double = 60.0, npad: PadSpec = FastPad,
                             precision: String = "double"): DataFrame = {
    val notched = DspOperators.applyLinenoiseNotch(segments, noiseHz, npad, precision = precision)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      write(CommonReferencing.carSegments(notched, nChannels, meanFrac, precision = precision),
        root, s"CAR_of_$series", precision)
      writeRead(CommonReferencing.subtractCarSegments(notched, nChannels, meanFrac,
        precision = precision), root, s"CAR_ln_$series", precision)
    } finally notched.unpersist()
  }

  /** `preprocess_block(all_steps=True)` parity (pipelines.py:70-110): chain
    * store_resample -> store_linenoise_notch_CAR -> store_wavelet_transform,
    * materializing the reference's table names for series S — each store
    * prefixes the name of the series it consumed, so the chain accretes:
    * `downsampled_S`, `CAR_ln_downsampled_S`, `CAR_of_downsampled_S`,
    * `wvlt_amp_CAR_ln_downsampled_S`. Every Config field the in-memory
    * `Pipeline.preprocessBlock` honors (rates, filters, meanFrac, noiseHz,
    * npad, scaling, precision) is threaded through the stores, so the
    * stored tables equal the functional path's intermediates (stored as
    * float32 under "single"). Returns the
    * amplitude frame (read from its stored table). */
  def storePreprocessBlock(raw: DataFrame, root: String, series: String, nChannels: Int,
                           config: Pipeline.Config = Pipeline.Config()): DataFrame = {
    val ds = storeResample(raw, root, series, config.initialRate,
      config.npad, preScale = config.scaling, precision = config.precision)
    val referenced = storeLinenoiseNotchCar(ds, root, s"downsampled_$series",
      nChannels, config.meanFrac, noiseHz = config.noiseHz, npad = config.npad,
      precision = config.precision)
    storeWaveletTransform(referenced, root, s"CAR_ln_downsampled_$series",
      config.filters, config.hgOnly, absOnly = true,
      postResampleRate = config.finalRate, npad = config.npad,
      precision = config.precision)
  }

  /** `store_wavelet_transform` parity (wavelet_transform.py:383-446): writes
    * `wvlt_amp_<series>`; with `absOnly=false` also `wvlt_phase_<series>`
    * (metric='phase', :424-441). Phase + post-resample is rejected exactly
    * like the reference's ValueError (:424-426). When both series are
    * stored, the complex wavelet frame is persisted DISK_ONLY for the two
    * writes — one FFT pass, bounded memory — then unpersisted. Returns the
    * (possibly post-resampled) amplitude frame read from its stored table. */
  def storeWaveletTransform(segments: DataFrame, root: String, series: String,
                            filters: String = "rat", hgOnly: Boolean = true,
                            absOnly: Boolean = true,
                            postResampleRate: Option[Double] = None,
                            npad: PadSpec = FastPad,
                            precision: String = "double"): DataFrame = {
    require(absOnly || postResampleRate.isEmpty,
      "Wavelet phase should not be resampled.")
    if (absOnly) {
      val amp = DspOperators.waveletAmplitude(segments, filters, hgOnly, npad,
        precision = precision)
      writeRead(postResampleRate.fold(amp)(fr =>
          DspOperators.resample(amp, fr, npad, precision = precision)),
        root, s"wvlt_amp_$series", precision, partitionByChannel = true)
    } else {
      val cached = DspOperators.waveletTransform(segments, filters, hgOnly, npad,
        precision = precision).persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val amp = writeRead(DspOperators.amplitude(cached), root, s"wvlt_amp_$series",
          precision, partitionByChannel = true)
        write(DspOperators.phase(cached), root, s"wvlt_phase_$series", precision,
          partitionByChannel = true)
        amp
      } finally cached.unpersist()
    }
  }
}
