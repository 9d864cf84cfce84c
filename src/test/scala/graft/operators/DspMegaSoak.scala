package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.JobMetrics.phase
import graft.dsp.Signal
import graft.functions.SeriesAssembleFunctions
import graft.operators.Checkpoints.Pinnable

/** Composed DSP-chain soak with PLANTED SPECTRAL GROUND TRUTH at ≥10⁹
  * samples — the reference-parity analog of text's NearDupMegaSoak: not
  * just "the windowed chain matches the whole-trace chain" (DspScaleSoak
  * proves shape, WindowingSpec proves small-scale parity), but "the chain
  * computes the RIGHT THING", certified by a census over invariants
  * planted into the synthetic signal itself.
  *
  * TWO series ride the same composed job (a real multi-series run — the
  * chain is series-keyed end to end):
  *
  *  - `mega` (nWindows windows/channel, the ≥10⁹-sample body): planted
  *    line noise at 60/120/180 Hz plus keeper tone, common mode, HG
  *    bursts, hash noise. Carries the ABSOLUTE census (laws 1-4 below)
  *    — ground truth, no control arm needed.
  *  - `calib` (cleanWindows windows/channel): same construction WITHOUT
  *    the line tones. Carries the windowed==whole-trace parity law. Why
  *    parity can't ride the line-bearing series: a 60 Hz line is
  *    broadband at window resolution (sinc skirt of the boundary
  *    truncation) but essentially a delta at whole-trace resolution, so
  *    the two arms' notch residues GENUINELY differ — physics no
  *    overlap-add scheme can undo, pinned in WindowingSpec's notch note.
  *    The reference's own chunked-parity law (test_pipeline.py:102-154,
  *    rtol=0.01) dodges this by chunking only the wavelet stage
  *    per-channel, notching whole-trace in both arms; time-windowed
  *    overlap-add is our beyond-reference extension, so the parity
  *    control gets the line-free signal and the line-bearing signal gets
  *    the stronger absolute census.
  *
  * The signal (per channel c, raw rate 12.2 kHz):
  *
  *   x_c(t) =  A7·sin(2π·7t)                          common mode, ALL channels
  *           + A30·sin(2π·30t + φ_c)                  keeper tone
  *           + A60·sin(2π·60t + φ_c)                  line noise   (mega only)
  *           + A120·sin(2π·120t + φ_c) + A180·sin(…)  harmonics    (mega only)
  *           + AB·gate_c(t)·sin(2π·110t + φ_c)        planted HG bursts
  *           + u_c(t)                                 ±0.03 hash noise
  *
  * with φ_c = π·(c mod 2) + 2π·⌊c/2⌋/(nCh/2): channels 2k and 2k+1 are
  * ANTIPHASE, so at every time point the multiset of per-channel planted
  * parts is symmetric around 0 and the trimmed-mean CAR
  * (`CommonReferencing.subtractCarSegments`, symmetric trim) subtracts
  * exactly the common mode A7·sin — per-channel content passes CAR
  * untouched BY CONSTRUCTION, making every census invariant exact.
  *
  * Chain (the reference pipeline, `pipelines.py` order, in the
  * overlap-add windowed form of `Windowing` — stride+2·context bounded
  * rows end to end, RELIABLE checkpoints on, ingest via `windowLong`,
  * the one-shuffle 100 TB path ScaleSoak certifies):
  *
  *   windowLong → resample(÷4) → 60 Hz notch (continuous
  *   profile, all harmonics) → blocked trimmed-mean CAR → [time-domain
  *   census tap: crossfade stitch] → wavelet amplitude (rat, hgOnly,
  *   norm pinned to the calib whole padded length) → crossfade stitch →
  *   baseline z-score (interior block-0 stats — see BASELINE note)
  *
  * WINDOW-SIZING LAW (why stride defaults to 2^21 raw = 172 s with a
  * 21.5 s context): the notch zeroes ±δ=1 Hz of FFT bins with a hamming
  * dip (linenoise_notch.py:27-44), but a tone TRUNCATED at a window
  * boundary has a leakage skirt outside ±δ that no notch can remove —
  * in time domain that irreducible residual is CONCENTRATED within
  * ~1/δ = 1 s of each window edge (which is why the reference's own
  * 1000× law, tests/test_linenoise_notch.py:17-33, trims 1 s of edges
  * off a 52 s trace before measuring). Through overlap-add windowing
  * the crossfade ramp suppresses those edge bands by their near-zero
  * stitch weight; the surviving residue falls roughly as 1/T_w
  * (boundary density) with a weaker context dependence: measured 1.5%
  * of A at T_w=5.4 s, 0.35-0.57% at 48 s, ≤0.1% at the 172 s default —
  * the deployment rule is stride ≳ 3 min of signal when the reference's
  * 1000× notch law must hold through the windowed chain. Memory stays
  * bounded: a 2^21-sample window row is 18 MB raw, ~5 MB post-resample.
  *
  * BASELINE note: both arms z-score against block-0 stats over samples
  * [edgeTrim, strideP) — the leading `edgeTrim` (1.3 s) is excluded
  * because the FFT chain leaves boundary artifacts at the trace's own
  * start whose magnitude differs per arm; a baseline that includes them
  * inflates the std arm-dependently and compresses every downstream
  * z-score (measured 15×). The whole arm uses the production operator
  * (`zscoreSegments` with `baselineOffset`); the reference's tests trim
  * `int(rate)` edge samples for the same physics.
  *
  * Census (exact expectations, not regressions):
  *  1. notch depth (mega): per channel, RSS of the 60/120/180 Hz
  *     Goertzel residues post-CAR ≤ RSS of the planted line amplitudes
  *     / 1000 — the reference's norm-shaped law
  *     (tests/test_linenoise_notch.py:33) measured through the COMPOSED
  *     windowed chain; plus each harmonic individually ≥300×;
  *  2. keeper tone (mega): 30 Hz amplitude within 2% of planted on
  *     every channel (the chain must not eat signal — resample + notch
  *     + CAR + stitch are jointly amplitude-preserving off the lines);
  *  3. CAR (mega): the 7 Hz common mode attenuated ≥100× everywhere;
  *  4. bursts (mega): per channel, the z-scored HG amplitude crosses
  *     `thrDet` inside EVERY planted burst core, and NEVER crosses
  *     `thrFp` outside the padded burst regions (trace edges excluded);
  *     counts exact, zero false positives;
  *  5. parity (calib): windowed == whole-trace through the FULL chain
  *     INCLUDING resample, notch, CAR, wavelet and z-score on `parityCh`
  *     channels — mean divergence <1% of band rms (the
  *     tests/test_pipeline.py rtol law at scale), worst sample <35%;
  *  6. scale shape: no task result >64 MiB to the driver, zero spill,
  *     per-phase shuffle/skew profile printed for NOTES.
  *
  * Run: SPARK_DRIVER_MEM=64g sbt "Test/runMain graft.Soak DspMegaSoak
  *   [nChannels] [nWindows] [parityChannels] [stride] [context] [precision]"
  * Defaults 64 ch × 8 windows × 2097152 = 1.074e9 raw samples (mega)
  * + 64 ch × 2 windows (calib parity control).
  * DspPipelineSpec pins the same runner at suite scale.
  */
object DspMegaSoak {

  final case class Params(nCh: Int, nWindows: Int, stride: Int = 2097152,
                          context: Int = 262144, rate: Double = 12200.0,
                          burstLen: Int = 2048, coreMargin: Int = 256,
                          // thresholds ride a ~78x measured separation:
                          // burst-core z >= 2840 everywhere vs <= 36.2
                          // outside every padded region (stitch-boundary
                          // blips); z units are interior-baseline sds
                          fpPad: Int = 1024, thrDet: Double = 400.0,
                          thrFp: Double = 100.0, parityCh: Int = 2,
                          cleanWindows: Int = 2,
                          // "single" = the reference's own default compute
                          // precision (utils.py:9-31) end to end through
                          // every spectral op; the planted census margins
                          // dwarf f32 rounding (~1e-7 relative)
                          precision: String = "double") {
    require(nCh >= 4 && nCh % 2 == 0, "need even nCh >= 4 (antiphase pairs)")
    require(stride % 4 == 0 && context % 4 == 0, "stride/context must survive the /4 resample")
    require(parityCh >= 1 && parityCh <= nCh, s"parityCh out of range: $parityCh")
    val n: Long = nWindows.toLong * stride     // raw samples per channel (mega)
    val nRes: Long = n / 4                     // post-resample samples
    val cleanN: Long = cleanWindows.toLong * stride
    val cleanNRes: Long = cleanN / 4
    val strideP: Int = stride / 4
    val contextP: Int = context / 4
    val baseline: Int = strideP                // z-score baseline = block 0
    // trace-edge exclusion: the FFT chain leaves ~1/δ = 1 s of boundary
    // garbage at the trace's own ends in BOTH arms (the reference trims
    // int(rate) samples in its tests); bursts are placed inside, the fp
    // census and the parity join ignore the edges, and the z baseline
    // starts past it
    val edgeTrim: Long = 4096L                 // post-resample samples (1.3 s)
    def nBursts(pair: Int): Int = 4 + pair % 4
    /** Burst layout for a trace of `res` post-resample samples. */
    final case class Layout(res: Long) {
      val startBase: Long = baseline + edgeTrim
      val span: Long = res - startBase - edgeTrim
      def cycle(pair: Int): Long = span / nBursts(pair)
    }
    val mega: Layout = Layout(nRes)
    val clean: Layout = Layout(cleanNRes)
    require(mega.span > 0 && clean.span > 0 &&
      (0 until nCh / 2).map(p => math.min(mega.cycle(p), clean.cycle(p))).min >
        burstLen + 2L * fpPad,
      s"burst layout needs cycle > burstLen + 2*fpPad at this scale ($this)")
  }

  final case class ToneAmps(channel: Int, n: Long, a7: Double, a30: Double,
                            a60: Double, a120: Double, a180: Double)
  final case class BurstRow(channel: Int, detected: Long, expected: Long)
  final case class ParityRow(channel: Int, band: Int, n: Long, rms: Double,
                             meanErr: Double, maxErr: Double)
  final case class Census(points: Long, cleanPoints: Long,
                          tones: Array[ToneAmps],
                          bursts: Array[BurstRow], falsePositives: Long,
                          minCoreZ: Double, maxOutsideZ: Double,
                          parity: Array[ParityRow])

  // planted amplitudes (shared by generator and census)
  val A7 = 0.5; val A30 = 1.0; val A60 = 3.0; val A120 = 1.5; val A180 = 0.75
  val AB = 2.0; val FB = 110.0; val NOISE = 0.03

  /** The planted LongFrame (full long schema, ready for `windowLong`),
    * fully codegen (no UDFs): one row per (channel, t) raw sample. */
  private[operators] def planted(spark: SparkSession, p: Params,
                                 nWindows: Int, lines: Boolean,
                                 name: String): DataFrame = {
    val lay = p.Layout(nWindows.toLong * p.stride / 4)
    val nRaw = nWindows.toLong * p.stride
    val twoPi = 2.0 * math.Pi
    val ch = (col("id") % p.nCh).cast("int")
    val t = (col("id") / p.nCh).cast("long")
    val tSec = t.cast("double") / lit(p.rate)
    val pair = floor(ch / lit(2)).cast("long")
    val phi = lit(math.Pi) * pmod(ch, lit(2)).cast("double") +
      lit(twoPi) * pair.cast("double") / lit(p.nCh / 2.0)
    def tone(f: Double, a: Double) = lit(a) * sin(lit(twoPi * f) * tSec + phi)
    // burst gate: post-resample sample tP; bursts for pair q start at
    // startBase + k*cycle(q), k < nBursts(q), each burstLen samples
    val tP = floor(t / lit(4)).cast("long")
    val nB = (lit(4) + pmod(pair, lit(4))).cast("long")
    val cyc = floor(lit(lay.span.toDouble) / nB.cast("double")).cast("long")
    val rel = tP - lit(lay.startBase)
    val gate = (rel >= 0) && (floor(rel.cast("double") / cyc.cast("double")) < nB) &&
      (pmod(rel, cyc) < lit(p.burstLen.toLong))
    val noise = (pmod(xxhash64(col("id"), lit(name)), lit(10000)).cast("double") / 10000.0 - 0.5) *
      lit(2 * NOISE)
    val lineTones =
      if (lines) tone(60.0, A60) + tone(120.0, A120) + tone(180.0, A180)
      else lit(0.0)
    spark.range(p.nCh * nRaw).select(
      lit(name).as("series"), ch.as("channel"),
      lit(null).cast("int").as("band"), lit(p.rate).as("rate"),
      lit(0.0).as("startingTime"), t.as("t_idx"),
      (lit(A7) * sin(lit(twoPi * 7.0) * tSec) +
        tone(30.0, A30) + lineTones +
        when(gate, lit(AB) * sin(lit(twoPi * FB) * tSec + phi)).otherwise(lit(0.0)) +
        noise).as("value"))
  }

  def run(spark: SparkSession, p: Params): Census = {
    val mega = planted(spark, p, p.nWindows, lines = true, "mega")
    val calib = planted(spark, p, p.cleanWindows, lines = false, "calib")
    val (points, cleanPoints) =
      phase(spark, "generatorCensus")((mega.count(), calib.count()))

    val newFreq = p.rate / 4
    // wavelet norm pinned to the CALIB whole-trace padded length so the
    // parity arms share a scale; the mega series gets the same constant
    // rescale, which the z-score divides away
    val cleanWholePadded = p.cleanNRes.toInt +
      Signal.padPlan(p.cleanNRes.toInt, Signal.FastPad).padTotal

    // ---------------- windowed chain (both series) ----------------
    val car = phase(spark, "winResampleNotchCar") {
      val w = Windowing.windowLong(mega.unionAll(calib), p.stride, p.context)
      val r = DspOperators.resample(w, newFreq, precision = p.precision)
      val nch = DspOperators.applyLinenoiseNotch(r, continuousProfile = true,
        precision = p.precision)
      val c = CommonReferencing.subtractCarSegments(nch, p.nCh,
        precision = p.precision).pin
      println(s"[soak]   -> ${c.count()} CAR'd window rows")
      c
    }

    // time-domain census tap: the cleaned (resampled, notched, CAR'd)
    // signal stitched back — Goertzel projections read the planted tones
    val twoPi = 2.0 * math.Pi
    val tones = phase(spark, "carStitchTap") {
      val carStitched = Windowing.stitch(car, p.strideP, p.contextP)
      val cl = Windowing.stitchedToLong(carStitched, p.strideP)
        .filter(col("series") === "mega")
      def ang(f: Double) = lit(twoPi * f / newFreq) * col("t_idx").cast("double")
      val freqs = Seq("7" -> 7.0, "30" -> 30.0, "60" -> 60.0,
        "120" -> 120.0, "180" -> 180.0)
      val toneAggs = count(lit(1)).as("nsamp") +: freqs.flatMap { case (nm, f) => Seq(
        sum(col("value") * cos(ang(f))).as(s"c$nm"),
        sum(col("value") * sin(ang(f))).as(s"s$nm")) }
      cl.groupBy("channel").agg(toneAggs.head, toneAggs.tail: _*)
        .collect().map { r =>
          def amp(nm: String): Double = {
            val c = r.getAs[Double](s"c$nm"); val s = r.getAs[Double](s"s$nm")
            2.0 * math.sqrt(c * c + s * s) / p.nRes
          }
          ToneAmps(r.getAs[Number]("channel").intValue(), r.getAs[Long]("nsamp"),
            amp("7"), amp("30"), amp("60"), amp("120"), amp("180"))
        }.sortBy(_.channel)
    }

    // wavelet amplitude -> stitch -> interior-block-0-baseline z-score
    val zStitched = phase(spark, "waveletStitchZ") {
      val amp = DspOperators.amplitude(DspOperators.waveletTransform(
        car, "rat", hgOnly = true, Signal.FastPad, Some(cleanWholePadded),
        precision = p.precision))
      val st = Windowing.stitch(amp, p.strideP, p.contextP)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // per-(series, channel, band) baseline stats from block 0's interior
      // [edgeTrim, strideP) — the zscoreSegments(baselineOffset) law (see
      // BASELINE note) applied to the stitched trace; bounded collect-free
      // broadcast join (2 × nCh × nBands rows)
      val stats = st.filter(col("win_idx") === 0)
        .select(col("series"), col("channel"), col("band"),
          posexplode(col("values")).as(Seq("_pos", "v")))
        .filter(col("_pos") >= p.edgeTrim)
        .groupBy("series", "channel", "band")
        .agg(avg("v").as("mu"),
          sqrt(avg(col("v") * col("v")) - avg("v") * avg("v")).as("sd"))
      val z = st.join(broadcast(stats), Seq("series", "channel", "band"))
        .withColumn("values",
          transform(col("values"), v => (v - col("mu")) / col("sd")))
        .drop("mu", "sd")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      println(s"[soak]   -> ${z.count()} z-scored stitched blocks")
      z
    }

    // burst census over the mega z output (same integer layout math as
    // the generator, recomputed from t_idx — no join needed)
    val zl = Windowing.stitchedToLong(
        zStitched.filter(col("series") === "mega"), p.strideP)
      .withColumn("pair", floor(col("channel") / lit(2)).cast("long"))
      .withColumn("nB", (lit(4) + pmod(col("pair"), lit(4))).cast("long"))
      .withColumn("cyc",
        floor(lit(p.mega.span.toDouble) / col("nB").cast("double")).cast("long"))
      .withColumn("rel", col("t_idx") - lit(p.mega.startBase))
    val inCore = (col("rel") >= 0) &&
      (floor(col("rel").cast("double") / col("cyc").cast("double")) < col("nB")) &&
      (pmod(col("rel"), col("cyc")) >= lit(p.coreMargin.toLong)) &&
      (pmod(col("rel"), col("cyc")) < lit((p.burstLen - p.coreMargin).toLong))
    val rel2 = col("rel") + lit(p.fpPad.toLong)
    val inPadded = (rel2 >= 0) &&
      (floor(rel2.cast("double") / col("cyc").cast("double")) < col("nB")) &&
      (pmod(rel2, col("cyc")) < lit((p.burstLen + 2 * p.fpPad).toLong))
    // one bounded collect (nCh × ≤7 core maxima) + one aggregate scan for
    // the complement — also surfaces the z SEPARATION the thresholds ride on
    val coreMax = phase(spark, "burstCensus")(zl.filter(inCore)
      .withColumn("k", floor(col("rel").cast("double") / col("cyc").cast("double")))
      .groupBy("channel", "k").agg(max("value").as("zmax"))
      .collect().map(r => (r.getAs[Number]("channel").intValue(),
        r.getAs[Double]("zmax"))))
    val minCoreZ = coreMax.map(_._2).min
    val det = coreMax.filter(_._2 >= p.thrDet)
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val bursts = (0 until p.nCh).map { c =>
      BurstRow(c, det.getOrElse(c, 0L), p.nBursts(c / 2).toLong)
    }.toArray
    val outside = phase(spark, "burstCensus")(zl.filter(!inPadded &&
        col("t_idx") >= p.edgeTrim && col("t_idx") < p.nRes - p.edgeTrim)
      .agg(sum(when(col("value") >= p.thrFp, 1L).otherwise(0L)).as("fp"),
        max("value").as("mz")).head())
    val falsePositives = outside.getLong(0)
    val maxOutsideZ = outside.getDouble(1)
    println(f"[soak]   burst z separation: min core zmax $minCoreZ%.1f " +
      f"(thrDet ${p.thrDet}%.0f) vs max outside-padded z $maxOutsideZ%.1f " +
      f"(thrFp ${p.thrFp}%.0f)")

    // ------- whole-trace parity on the line-free calib series -------
    val whole = {
      val segs = calib
        .groupBy("channel")
        .agg(SeriesAssembleFunctions.assembleSeries(spark,
          col("t_idx"), col("value")).as("values"))
        .select(lit("calib").as("series"), col("channel"),
          lit(null).cast("int").as("band"), lit(p.rate).as("rate"),
          lit(0.0).as("startingTime"), col("values"))
      val r = DspOperators.resample(segs, newFreq, precision = p.precision)
      val nch = DspOperators.applyLinenoiseNotch(r, continuousProfile = true,
        precision = p.precision)
      val c = CommonReferencing.subtractCarSegments(nch, p.nCh,
        precision = p.precision)
      val amp = DspOperators.amplitude(DspOperators.waveletTransform(
        c.filter(col("channel") < p.parityCh), "rat", hgOnly = true,
        Signal.FastPad, Some(cleanWholePadded), precision = p.precision))
      // z stats stay f64 in BOTH arms (the windowed arm's stats are SQL
      // aggregates): precision mode exercises the SPECTRAL f32 path, the
      // z normalization is measurement machinery shared by the arms
      DspOperators.zscoreSegments(amp,
          baselineSamples = p.baseline - p.edgeTrim.toInt,
          precision = "double", baselineOffset = p.edgeTrim.toInt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }
    val margin = p.edgeTrim
    val a = Windowing.stitchedToLong(
      zStitched.filter(col("series") === "calib" &&
        col("channel") < p.parityCh), p.strideP)
      .select(col("channel"), col("band"), col("t_idx"), col("value").as("va"))
    val b = whole.select(col("channel"), col("band"),
        posexplode(col("values")).as(Seq("t_idx", "vb")))
      .select(col("channel"), col("band"),
        col("t_idx").cast("long").as("t_idx"), col("vb"))
    // the whole-trace chain runs inside the parity join's jobs
    val parity = phase(spark, "wholeTrace")(a.join(b, Seq("channel", "band", "t_idx"))
      .filter(col("t_idx") >= margin && col("t_idx") < p.cleanNRes - margin)
      .groupBy("channel", "band")
      .agg(count(lit(1)).as("n"),
        sqrt(avg(col("vb") * col("vb"))).as("rms"),
        avg(abs(col("va") - col("vb"))).as("mean_err"),
        max(abs(col("va") - col("vb"))).as("max_err"))
      .orderBy("channel", "band")
      .collect().map(r => ParityRow(r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))))

    Census(points, cleanPoints, tones, bursts, falsePositives,
      minCoreZ, maxOutsideZ, parity)
  }

  /** The exact planted expectations. Separate from [[run]] so
    * DspPipelineSpec pins the identical law at suite scale. */
  def check(c: Census, p: Params): Unit = {
    require(c.points == p.nCh * p.n, s"generator lost samples: ${c.points}")
    require(c.cleanPoints == p.nCh * p.cleanN,
      s"calib generator lost samples: ${c.cleanPoints}")
    require(c.tones.length == p.nCh, s"tone census rows: ${c.tones.length}")
    val plantedRss = math.sqrt(A60 * A60 + A120 * A120 + A180 * A180)
    c.tones.foreach { t =>
      require(t.n == p.nRes,
        s"windowed chain lost samples at ch${t.channel}: stitched ${t.n} of ${p.nRes}")
      require(math.abs(t.a30 - A30) <= 0.02 * A30,
        f"ch${t.channel}: 30 Hz keeper tone ${t.a30}%.4f vs planted $A30 (>2%%)")
      val residRss = math.sqrt(t.a60 * t.a60 + t.a120 * t.a120 + t.a180 * t.a180)
      require(residRss <= plantedRss / 1000.0,
        f"ch${t.channel}: line residue RSS ${residRss}%.6f vs planted " +
          f"$plantedRss%.3f — notch < 1000x through the chain")
      require(t.a60 <= A60 / 300.0 && t.a120 <= A120 / 300.0 && t.a180 <= A180 / 300.0,
        f"ch${t.channel}: a harmonic under 300x (60:${t.a60}%.2e " +
          f"120:${t.a120}%.2e 180:${t.a180}%.2e)")
      require(t.a7 <= A7 / 100.0,
        f"ch${t.channel}: 7 Hz common-mode residue ${t.a7}%.5f — CAR < 100x")
    }
    c.bursts.foreach { b =>
      require(b.detected == b.expected,
        s"ch${b.channel}: detected ${b.detected} bursts, planted ${b.expected}")
    }
    require(c.falsePositives == 0L,
      s"${c.falsePositives} z>=thrFp samples outside every padded burst region")
    require(c.parity.length == p.parityCh *
      graft.dsp.Kernels.centerFrequencies("rat", hgOnly = true).length,
      s"parity rows: ${c.parity.length}")
    c.parity.foreach { r =>
      require(r.n == p.cleanNRes - 2L * p.edgeTrim,
        s"parity join lost samples at ch${r.channel} band${r.band}: ${r.n}")
      require(r.meanErr / r.rms < 0.01,
        f"windowed z diverges from whole-trace: mean ${r.meanErr / r.rms}%.4f " +
          f"of rms at ch${r.channel} band${r.band}")
      require(r.maxErr / r.rms < 0.35,
        f"windowed z worst-case ${r.maxErr / r.rms}%.3f of rms at " +
          f"ch${r.channel} band${r.band}")
    }
  }

  def run(spark: SparkSession, args: graft.Soak.Args): Unit = {
    val p = Params(nCh = args.int(0, 64), nWindows = args.int(1, 8),
      parityCh = args.int(2, 2), stride = args.int(3, 2097152),
      context = args.int(4, 262144), precision = args.str(5, "double"))
    // RELIABLE checkpoints: the executor-loss-safe pin mode at full volume
    val ckpt = java.nio.file.Files.createTempDirectory("dsp_mega_ckpt")
    graft.streaming.StreamingOps.deleteOnExit(ckpt)
    spark.conf.set(Checkpoints.DirKey, ckpt.toString)
    println(s"[soak] reliable checkpoints -> $ckpt")
    println(f"[soak] ${p.nCh} ch x ${p.n} samples @ ${p.rate}%.0f Hz = " +
      f"${p.nCh * p.n / 1e9}%.2f B mega points (+ ${p.nCh * p.cleanN / 1e6}%.0f M calib); " +
      s"stride=${p.stride} context=${p.context}, resample 1/4, " +
      s"bursts ${(0 until p.nCh / 2).map(p.nBursts).sum} planted")
    val census = run(spark, p)
    census.tones.take(4).foreach(t => println(
      f"[soak]   ch${t.channel} tone30=${t.a30}%.4f hz60=${t.a60}%.2e " +
        f"hz120=${t.a120}%.2e hz180=${t.a180}%.2e hz7=${t.a7}%.4f"))
    println(s"[soak]   bursts: ${census.bursts.map(_.detected).sum} detected / " +
      s"${census.bursts.map(_.expected).sum} planted; " +
      s"falsePositives=${census.falsePositives}")
    census.parity.foreach(r => println(
      f"[soak]   parity ch${r.channel} band${r.band} n=${r.n} " +
        f"mean_err/rms=${r.meanErr / r.rms}%.5f max_err/rms=${r.maxErr / r.rms}%.4f"))
    check(census, p)
    println(f"[soak] PASS: planted census exact at ${p.nCh * p.n / 1e9}%.2f B samples")
  }
}
