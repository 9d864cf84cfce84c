package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dsp.{Kernels, Signal, Signal32}
import graft.model.Synthetic
import graft.operators.{DspOperators, Pipeline}

/** The native spectral expressions (`segment_resample`, `segment_notch`,
  * `wavelet_bands`, `wavelet_amplitude`): bit-identical to the `Signal` /
  * `Signal32` kernels called on the driver, under codegen and interpreted;
  * the amplitude-only wavelet equal to `amplitude(waveletTransform(...))`;
  * null-safe; and the UDFs left in `preprocessBlock`'s plan. */
class DspExpressionsSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  /** 1.0 s at 12207.03125 Hz: 12207 samples, not a 5-smooth length. */
  private val Rate = 12207.03125
  private lazy val raw: DataFrame = Synthetic.segments(spark, 1.0, 3, Rate, seed = 7).cache()
  private lazy val rawByCh: Map[Int, Array[Double]] =
    raw.select("channel", "values").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap

  private def byChannel(df: DataFrame): Map[Int, Array[Double]] =
    df.select("channel", "values").collect()
      .map(r => r.getInt(0) -> Option(r.getSeq[Double](1)).map(_.toArray).orNull).toMap

  private def byBand(df: DataFrame, c: String): Map[(Int, Int), Array[Double]] =
    df.select("channel", "band", c).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap

  private def same(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(a(i)) == java.lang.Double.doubleToRawLongBits(b(i)))

  /** Runs `f` with whole-stage codegen, then fully interpreted. */
  private def bothModes(f: => Unit): Unit = {
    f
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)
  }

  private val f32 = (x: Array[Float]) => x.map(_.toDouble)

  test("resample, notch and wavelet equal the driver-side kernels bit for bit") {
    val preScale = 2.5
    val norm = 4096
    for (precision <- Seq("double", "single")) bothModes {
      val single = precision == "single"
      val down = DspOperators.resample(raw, 3200.0, preScale = preScale, precision = precision)
      val notched = DspOperators.applyLinenoiseNotch(down, precision = precision)
      val wav = DspOperators.waveletTransform(notched, "rat", hgOnly = true,
        fftNormLength = Some(norm), precision = precision)
      val gotDown = byChannel(down)
      val gotNotch = byChannel(notched)
      val (gotRe, gotIm) = (byBand(wav, "re"), byBand(wav, "im"))
      for ((ch, x) <- rawByCh) {
        val (wantDown, wantNotch, bands, paddedLen) =
          if (single) {
            val d = Signal32.resample(x.map(v => (v * preScale).toFloat), 3200.0, Rate)
            val n = Signal32.notch(d, 3200.0)
            val padded = n.length + Signal.padPlan(n.length, Signal.FastPad).padTotal
            val fb = Kernels.filterbank("rat", padded, 3200.0, hgOnly = true)
            (f32(d), f32(n), Signal32.waveletBands(n, fb.kernels).map(f32), padded)
          } else {
            val d = Signal.resample(x.map(_ * preScale), 3200.0, Rate)
            val n = Signal.notch(d, 3200.0)
            val padded = n.length + Signal.padPlan(n.length, Signal.FastPad).padTotal
            val fb = Kernels.filterbank("rat", padded, 3200.0, hgOnly = true)
            (d, n, Signal.waveletBands(n, fb.kernels), padded)
          }
        assert(same(gotDown(ch), wantDown), s"$precision resample, channel $ch")
        assert(same(gotNotch(ch), wantNotch), s"$precision notch, channel $ch")
        val scale = math.sqrt(paddedLen.toDouble / norm)
        assert(scale != 1.0)
        for ((z, b) <- bands.zipWithIndex) {
          def part(off: Int) = Array.tabulate(z.length / 2) { i =>
            val v = z(2 * i + off) * scale
            if (single) v.toFloat.toDouble else v
          }
          assert(same(gotRe((ch, b)), part(0)), s"$precision re, channel $ch band $b")
          assert(same(gotIm((ch, b)), part(1)), s"$precision im, channel $ch band $b")
        }
      }
    }
  }

  test("waveletAmplitude equals amplitude(waveletTransform) exactly, columns included") {
    for (precision <- Seq("double", "single"); norm <- Seq(None, Some(4096))) bothModes {
      val down = DspOperators.resample(raw, 3200.0, precision = precision)
      val fused = DspOperators.waveletAmplitude(down, "rat", hgOnly = true,
        fftNormLength = norm, precision = precision)
      val composed = DspOperators.amplitude(DspOperators.waveletTransform(down, "rat",
        hgOnly = true, fftNormLength = norm, precision = precision))
      assert(fused.schema == composed.schema)
      val (a, b) = (byBand(fused, "values"), byBand(composed, "values"))
      assert(a.keySet == b.keySet && a.size == 3 * 6)
      for (k <- a.keys) assert(same(a(k), b(k)), s"$precision $norm $k")
    }
  }

  test("sample_ts rides through the wavelet in the column order of the composed form") {
    val n = 400
    val seg = Seq(("s", 0, 1000.0, Array.tabulate(n)(i => math.sin(i * 0.7)),
      Array.tabulate(n)(i => 5000L + i)))
      .toDF("series", "channel", "rate", "values", "sample_ts")
      .select(col("series"), col("channel"), lit(null).cast("int").as("band"), col("rate"),
        lit(0.0).as("startingTime"), col("values"), col("sample_ts"))
    val fused = DspOperators.waveletAmplitude(seg, "human", hgOnly = true)
    val composed = DspOperators.amplitude(DspOperators.waveletTransform(seg, "human",
      hgOnly = true))
    assert(fused.schema == composed.schema)
    assert(fused.columns.contains("sample_ts"))
    val rows = fused.select("sample_ts").collect()
    assert(rows.length == Kernels.centerFrequencies("human", hgOnly = true).length)
    assert(rows.forall(_.getSeq[Long](0) == (0 until n).map(5000L + _)))
  }

  test("a null values row gives null, through the Column API and SQL") {
    val seg = Seq(("s", 0, 1000.0, Some(Array.fill(256)(1.0))), ("s", 1, 1000.0, None))
      .toDF("series", "channel", "rate", "values")
      .select(col("series"), col("channel"), lit(null).cast("int").as("band"), col("rate"),
        lit(0.0).as("startingTime"), col("values"))
    for (precision <- Seq("double", "single")) bothModes {
      val down = byChannel(DspOperators.resample(seg, 250.0, precision = precision))
      assert(down(0).length == 64 && down(1) == null)
      val notched = byChannel(DspOperators.applyLinenoiseNotch(seg, precision = precision))
      assert(notched(0).length == 256 && notched(1) == null)
      // the null trace explodes to no band rows
      val amp = DspOperators.waveletAmplitude(seg, "human", hgOnly = true, precision = precision)
      assert(amp.select("channel").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    }
    DspFunctions.register(spark)
    seg.createOrReplaceTempView("dsp_null_seg")
    val sql = spark.sql(
      """SELECT channel,
        |  segment_resample(values, rate, 250, 1.0, 'fast', 'double') AS down,
        |  segment_notch(values, rate, 60.0, 'fast', false, 'single') AS notched,
        |  wavelet_bands(values, rate, 'human', true, 'fast', NULL, 'double') AS bands,
        |  wavelet_amplitude(values, rate, 'human', true, 'fast', 512, 'single') AS amp
        |FROM dsp_null_seg ORDER BY channel""".stripMargin).collect()
    assert(sql(0).getSeq[Double](1).length == 64 && sql(0).getSeq[Double](2).length == 256)
    val nBands = Kernels.centerFrequencies("human", hgOnly = true).length
    assert(sql(0).getSeq[Any](3).length == nBands && sql(0).getSeq[Any](4).length == nBands)
    assert((1 to 4).forall(sql(1).isNullAt))
  }

  test("preprocessBlock's plan keeps Scala UDFs only in CAR's per-block kernel") {
    val plan = Pipeline.preprocessBlock(raw, 3, Pipeline.Config(precision = "single"))
      .queryExecution.executedPlan
    // the two per-block UDFs of CommonReferencing (split, then rebuild),
    // and no interpreted expression
    assert(graft.Inspect.census(plan).endsWith(" udfs=2 fallbacks=0"),
      graft.Inspect.census(plan))
    val names = plan.toString
    Seq("segment_resample", "segment_notch", "wavelet_amplitude")
      .foreach(f => assert(names.contains(f), s"$f missing from\n$names"))
  }
}
