package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Suite-scale pin of [[DspMegaSoak]] — the composed reference pipeline
  * (windowLong → resample → notch → CAR → wavelet → z-score, overlap-add
  * windowed, two series) with its EXACT planted census: notch RSS ≥1000×
  * (the reference norm law through the composed chain), keeper tone ±2%,
  * CAR ≥100×, all bursts detected with zero false positives, and
  * windowed==whole parity on the line-free calib series. Same
  * run()/check() as the 1.07e9-sample soak; only the raw rate shrinks
  * (2440 vs 12200 Hz), which keeps every law's physics intact — window
  * SECONDS (what the notch depth rides on, see the soak's window-sizing
  * law) are unchanged at 215 s per stride. */
class DspPipelineSpec extends AnyFunSuite with graft.SessionSuite {

  test("composed windowed DSP chain: planted census exact at suite scale") {
    val p = DspMegaSoak.Params(nCh = 4, nWindows = 2, stride = 524288,
      context = 65536, rate = 2440.0)
    val census = DspMegaSoak.run(spark, p)
    info(s"tones ch0: ${census.tones.head}")
    info(f"burst separation: min core z ${census.minCoreZ}%.1f vs " +
      f"max outside z ${census.maxOutsideZ}%.1f")
    census.parity.foreach(r => info(
      f"parity ch${r.channel} band${r.band} mean_err/rms=${r.meanErr / r.rms}%.5f " +
        f"max_err/rms=${r.maxErr / r.rms}%.4f"))
    DspMegaSoak.check(census, p)
  }

  test("composed chain at the reference's default float32 compute precision") {
    // precision='single' is the reference's OWN default (utils.py:9-31);
    // every planted law holds unchanged because the census margins (2%
    // tone, 1000x RSS, 4x-78x z separation, 1% parity) dwarf f32
    // rounding — both parity arms run the same f32 spectral path
    val p = DspMegaSoak.Params(nCh = 4, nWindows = 2, stride = 524288,
      context = 65536, rate = 2440.0, precision = "single")
    val census = DspMegaSoak.run(spark, p)
    info(s"f32 tones ch0: ${census.tones.head}")
    info(f"f32 burst separation: ${census.minCoreZ}%.1f vs ${census.maxOutsideZ}%.1f")
    DspMegaSoak.check(census, p)
  }
}
