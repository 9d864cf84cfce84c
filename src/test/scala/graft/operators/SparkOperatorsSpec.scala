package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, ShufflePartitionIdPassThrough}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.model.{Frames, Synthetic}
import graft.dsp.Signal

/** Spark-layer ports of the reference's pipeline/equivalence tests
  * (tests/test_pipeline.py, tests/test_utils.py) plus parity of the blocked
  * CAR kernel (`subtractCarSegments`/`carSegments`) with the plain-Scala
  * reference `Signal.trimmedMean`, computed per time point, and with an
  * independent long-form SQL CAR subtracted through a join; and the id
  * placement of CAR's two shuffles (blocks by block, the post-CAR
  * reassembly by channel). */
class SparkOperatorsSpec extends AnyFunSuite with graft.SessionSuite {

  private def collectTraces(df: DataFrame): Map[(Int, Option[Int]), Array[Double]] =
    df.select(col("channel"), col("band"), col("values")).collect().map { r =>
      val band = if (r.isNullAt(1)) None else Some(r.getInt(1))
      (r.getInt(0), band) -> r.getSeq[Double](2).toArray
    }.toMap

  // --- tests/test_utils.py:6-23 --------------------------------------------
  test("synthetic generator: shape and flag/seed sensitivity") {
    val base = Synthetic.segments(spark, 2.0, 4, 400.0)
    val traces = collectTraces(base)
    assert(traces.size == 4)
    assert(traces.values.forall(_.length == 800))
    def first(df: DataFrame) = collectTraces(df)((0, None))
    val noHg = first(Synthetic.segments(spark, 2.0, 4, 400.0, highGamma = false))
    val noLn = first(Synthetic.segments(spark, 2.0, 4, 400.0, linenoise = false))
    val seed1 = first(Synthetic.segments(spark, 2.0, 4, 400.0, seed = 1))
    val ref = traces((0, None))
    assert(!(noHg sameElements ref), "high_gamma flag has no effect")
    assert(!(noLn sameElements ref), "linenoise flag has no effect")
    assert(!(seed1 sameElements ref), "seed has no effect")
    // deterministic: same args -> same data
    val again = first(Synthetic.segments(spark, 2.0, 4, 400.0))
    assert(again sameElements ref, "generator is not deterministic")
  }

  // --- blocked CAR == Signal.trimmedMean per time point --------------------
  /** A one-series SegmentFrame from channel-major traces (band null). */
  private def segmentsOf(byCh: Seq[Array[Double]]): DataFrame = {
    import spark.implicits._
    byCh.zipWithIndex.map { case (v, ch) => ("s", ch, null: Integer, 400.0, 0.0, v) }
      .toDF("series", "channel", "band", "rate", "startingTime", "values")
  }

  /** The reference CAR: Signal.trimmedMean of each time point's channel values. */
  private def referenceCar(byCh: Seq[Array[Double]], meanFrac: Double): Array[Double] =
    byCh.head.indices.map(t => Signal.trimmedMean(byCh.map(_(t)).toArray, meanFrac)).toArray

  private def carTrace(df: DataFrame, nCh: Int, meanFrac: Double,
                       blockSize: Int = 8192): Array[Double] =
    CommonReferencing.carSegments(df, nCh, meanFrac, blockSize)
      .select("values").head().getSeq[Double](0).toArray

  /** Asserts carSegments and subtractCarSegments agree with the reference
    * CAR: exactly, or within `tol` relative (NaN where the reference is NaN). */
  private def checkCar(byCh: Seq[Array[Double]], meanFrac: Double, blockSize: Int = 8192,
                       tol: Double = 0.0): Unit = {
    def same(a: Double, b: Double) = (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
    val nCh = byCh.length
    val ref = referenceCar(byCh, meanFrac)
    val df = segmentsOf(byCh)
    val car = carTrace(df, nCh, meanFrac, blockSize)
    assert(car.length == ref.length)
    car.zip(ref).zipWithIndex.foreach { case ((a, b), t) =>
      assert(same(a, b), s"meanFrac=$meanFrac t=$t: CAR $a != reference $b")
    }
    val referenced = collectTraces(
      CommonReferencing.subtractCarSegments(df, nCh, meanFrac, blockSize))
    assert(referenced.keySet == byCh.indices.map(_ -> None).toSet)
    for (ch <- byCh.indices; t <- ref.indices) {
      val (a, b) = (referenced((ch, None))(t), byCh(ch)(t) - ref(t))
      assert(same(a, b), s"meanFrac=$meanFrac ch=$ch t=$t: referenced $a != $b")
    }
  }

  test("blocked CAR matches Signal.trimmedMean exactly (random channels, outlier ramp)") {
    val rnd = new scala.util.Random(7)
    checkCar(Seq.fill(100)(Array.fill(20)(rnd.nextDouble() * 200 - 100)), 0.95)
    // ramp fixture: 3 time points x 100 channels, CAR = 49.5 with outliers
    val ramp = (0 until 100).map { ch =>
      Array.fill(3)(if (ch == 0) -100.0 else if (ch == 99) 111.0 else ch.toDouble)
    }
    checkCar(ramp, 0.95)
    assert(carTrace(segmentsOf(ramp), 100, 0.95).forall(_ == 49.5))
  }

  test("blocked CAR NaN semantics match np.nanmean (sort-last, trim, skip)") {
    // common_referencing.py:34-41: sort puts NaN last, trim 1 from each end,
    // nanmean skips any NaN still inside the kept window
    val N = Double.NaN
    val oneNaN = Seq(10.0, 2.0, 5.0, N, 7.0, 1.0, 9.0, 4.0).map(Array(_))
    // sorted [1,2,4,5,7,9,10,NaN] -> kept [2,4,5,7,9,10] -> 37/6
    assert(carTrace(segmentsOf(oneNaN), 8, 0.95).head == 37.0 / 6)
    checkCar(oneNaN, 0.95)
    val twoNaN = Seq(10.0, 2.0, N, N, 7.0, 1.0, 9.0, 4.0).map(Array(_))
    // sorted [1,2,4,7,9,10,NaN,NaN] -> kept [2,4,7,9,10,NaN] -> nanmean 32/5
    assert(carTrace(segmentsOf(twoNaN), 8, 0.95).head == 32.0 / 5)
    checkCar(twoNaN, 0.95)
    // meanFrac=1.0 degenerates to nanmean over all channels
    assert(carTrace(segmentsOf(oneNaN), 8, 1.0).head == 38.0 / 7)
    checkCar(oneNaN, 1.0)
  }

  test("blocked CAR == Signal.trimmedMean across meanFrac with planted NaNs") {
    val rnd = new scala.util.Random(23)
    val nCh = 16
    val byCh = (0 until nCh).map { ch =>
      Array.tabulate(50)(t => if ((t * nCh + ch) % 13 == 0) Double.NaN
        else rnd.nextDouble() * 50 - 25)
    }
    // both sum the kept middle in sorted order -> bit-equal
    for (mf <- Seq(0.95, 0.8)) checkCar(byCh, mf)
    // meanFrac=1: the reference sums in input order, the kernel in sorted
    // order — FP addition order differs at the ulp level (numpy nanmean
    // itself sums unsorted here; no order is canonical)
    checkCar(byCh, 1.0, tol = 1e-12)
  }

  test("user-supplied kernel list: gaussian builders == named filterbank; None == analytic signal") {
    import graft.dsp.Kernels
    val raw = Synthetic.segments(spark, 1.0, 2, 400.0, seed = 31)
    // builders replicating the named 'human' hg-only bank must reproduce it
    val cfs = Kernels.centerFrequencies("human", hgOnly = true)
    val sds = Kernels.constQSds(cfs)
    val builders: Seq[Option[(Int, Double) => Array[Double]]] =
      cfs.indices.map(i => Some((n: Int, rate: Double) =>
        Kernels.gaussian(n, rate, cfs(i), sds(i))))
    val named = collectTraces(DspOperators.amplitude(
      DspOperators.waveletTransform(raw, "human", hgOnly = true)))
    val custom = collectTraces(DspOperators.amplitude(
      DspOperators.waveletTransform(raw, builders, Signal.FastPad)))
    assert(named.keySet == custom.keySet && named.nonEmpty)
    for (k <- named.keySet) {
      val worst = named(k).zip(custom(k)).map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-12, s"custom kernel list diverges from named bank at $k: $worst")
    }
    // a None entry is the raw analytic signal (wavelet_transform.py:316-318):
    // its amplitude envelope of a pure cosine is the constant cosine amplitude
    import spark.implicits._
    val t = (0 until 1024).map(i => 3.0 * math.cos(2 * math.Pi * 32 * i / 1024.0))
    val one = Seq(("s", 0, 1024.0, 0.0, t.toArray))
      .toDF("series", "channel", "rate", "startingTime", "values")
    val env = collectTraces(DspOperators.amplitude(DspOperators.waveletTransform(
      one, Seq(None), Signal.ExactPad(0))))((0, Some(0)))
    assert(env.forall(v => math.abs(v - 3.0) < 1e-9),
      s"analytic envelope of pure cosine != amplitude: ${env.take(5).mkString(",")}")
  }

  /** An independent long-form SQL CAR, subtracted through a join: per
    * (series, t_idx) sort the channel values (null as NaN, NaN last), keep
    * [nExclude, nCh - nExclude) and average the non-NaN ones in sorted order.
    * Returns the LongFrame with `value` replaced by value - car. */
  private def joinFormSubtractCar(long: DataFrame, nCh: Int, meanFrac: Double): DataFrame = {
    val nExclude = math.ceil(nCh * (1.0 - meanFrac) / 2.0).toInt
    val car = long.groupBy("series", "t_idx")
      .agg(array_sort(collect_list(coalesce(col("value"), lit(Double.NaN)))).as("sorted"))
      .select(col("series"), col("t_idx"),
        filter(slice(col("sorted"), nExclude + 1, nCh - 2 * nExclude), x => !isnan(x)).as("kept"))
      .select(col("series"), col("t_idx"),
        (aggregate(col("kept"), lit(0.0), (acc, x) => acc + x) / size(col("kept"))).as("car"))
    long.join(car, Seq("series", "t_idx"))
      .withColumn("value", coalesce(col("value"), lit(Double.NaN)) - col("car"))
      .drop("car")
  }

  test("subtractCarLongBlocked == join-form subtractCar incl. planted nulls") {
    // 700 samples at blockSize 256 -> 3 blocks, the last one ragged;
    // planted nulls (NaN in segment form) on channel 3 every 97th sample
    val rnd = new scala.util.Random(23)
    val planted = (0 until 8).map { ch =>
      Array.tabulate(700)(t => if (ch == 3 && t % 97 == 0) Double.NaN
        else rnd.nextDouble() * 100 - 50)
    }
    checkCar(planted, 0.95, blockSize = 256)
    val segs = segmentsOf(planted)
    val long = Frames.toLong(segs)
      .withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
    assert(long.filter(col("value").isNull).count() == 8, "nulls not planted")
    def collectVals(df: DataFrame) =
      df.select("t_idx", "channel", "value").collect()
        .map(r => (r.getInt(0).toLong, r.getInt(1)) -> r.getDouble(2)).toMap
    val joinForm = collectVals(joinFormSubtractCar(long, 8, 0.95))
    val blocked = collectVals(Frames.toLong(
      CommonReferencing.subtractCarSegments(segs, 8, 0.95, blockSize = 256)))
    assert(joinForm.keySet == blocked.keySet && joinForm.size == 700 * 8)
    for (k <- joinForm.keySet) {
      val (a, b) = (joinForm(k), blocked(k))
      assert((a.isNaN && b.isNaN) || math.abs(a - b) < 1e-12, s"diverges at $k: $a vs $b")
    }
  }

  test("blocked segment CAR == long-form SQL CAR (small blockSize forces multi-block)") {
    // synthetic ECoG, 400 samples at blockSize 64 -> 7 blocks
    val raw = Synthetic.segments(spark, 1.0, 8, 400.0, seed = 21)
    val blocked = collectTraces(CommonReferencing.subtractCarSegments(raw, 8, 0.95, blockSize = 64))
    val longForm = collectTraces(Frames.toSegments(
      joinFormSubtractCar(Frames.toLong(raw), 8, 0.95)))
    assert(blocked.keySet == longForm.keySet && blocked.nonEmpty)
    for (k <- blocked.keySet) {
      assert(blocked(k).length == longForm(k).length)
      val worst = blocked(k).zip(longForm(k)).map { case (x, y) => math.abs(x - y) }.max
      assert(worst == 0.0, s"blocked CAR diverges at $k by $worst")
    }
    val rawTraces = collectTraces(raw)
    checkCar((0 until 8).map(ch => rawTraces((ch, None))), 0.95, blockSize = 64)
  }

  test("meanFrac outside (0, 1] is rejected at call time by the CAR and its reference") {
    val raw = Synthetic.segments(spark, 0.5, 8, 400.0, seed = 21)
    for (bad <- Seq(1.5, 0.0, -0.5, Double.NaN)) {
      intercept[IllegalArgumentException](
        CommonReferencing.subtractCarSegments(raw, 8, meanFrac = bad))
      intercept[IllegalArgumentException](
        CommonReferencing.carSegments(raw, 8, meanFrac = bad))
      intercept[IllegalArgumentException](Signal.trimmedMean(Array.fill(8)(1.0), bad))
    }
  }

  // --- tests/test_pipeline.py:102-154 analog: partitioning invariance ------
  test("pipeline result is invariant to partitioning (chunked == unchunked analog)") {
    val raw = Synthetic.segments(spark, 1.0, 8, 2000.0, seed = 3)
    val cfg = Pipeline.Config(initialRate = 1000.0, finalRate = Some(250.0),
      filters = "human", hgOnly = true, scaling = 1.0)
    val one = Pipeline.preprocessBlock(raw.coalesce(1), cfg)
    val many = Pipeline.preprocessBlock(raw.repartition(8), cfg)
    val a = collectTraces(one)
    val b = collectTraces(many)
    assert(a.keySet == b.keySet)
    assert(a.keySet.size == 8 * 8, s"expected 8ch x 8 human-hg bands, got ${a.keySet.size}")
    for (k <- a.keySet) {
      val (x, y) = (a(k), b(k))
      assert(x.length == y.length)
      val worst = x.zip(y).map { case (u, v) => math.abs(u - v) / math.max(1e-12, math.abs(v)) }.max
      assert(worst < 1e-9, s"segment $k diverges: $worst")
    }
  }

  // --- post-CAR placement: the per-channel stages run on every core -------
  /** preprocessBlock over 8 synthetic channels held as a local relation, so
    * the only exchanges in its plan are the pipeline's own (the generator
    * adds a round-robin one). */
  private def preprocessed8ch: DataFrame = {
    val synthetic = Synthetic.segments(spark, 1.0, 8, 2000.0, seed = 3)
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(synthetic.collect(): _*), synthetic.schema)
    Pipeline.preprocessBlock(raw, Pipeline.Config(initialRate = 1000.0,
      finalRate = Some(250.0), filters = "human", hgOnly = true, scaling = 1.0))
  }

  /** The exchanges below are placed on min(channels or blocks, shuffle
    * partitions); 4 partitions give the counts these tests assert on any
    * core count. */
  private def onFourPartitions[T](body: => T): T =
    withConf("spark.sql.shuffle.partitions" -> "4")(body)

  test("preprocessBlock plans two exchanges; the reassembly one is id-placed on 4 partitions") {
    onFourPartitions {
      val partitionings = (preprocessed8ch.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case e: ShuffleExchangeLike => e.outputPartitioning }
      assert(partitionings.size == 2, partitionings.mkString("\n"))
      // the reassembly is placed by channel, the CAR block exchange by block
      assert(partitionings.collect { case p: ShufflePartitionIdPassThrough => p.numPartitions }
        == Seq(4, 4), partitionings.mkString("\n"))
      assert(!partitionings.exists(_.isInstanceOf[HashPartitioning]),
        partitionings.mkString("\n"))
    }
  }

  test("CAR's block exchange is id-placed: a 4-block input runs its block stage on 4 tasks") {
    onFourPartitions {
      import spark.implicits._
      val rnd = new scala.util.Random(7)
      val segs = (0 until 8).map(ch => ("s0", ch, null: Integer, 400.0, 0.0,
          Array.fill(1024)(rnd.nextGaussian())))
        .toDF("series", "channel", "band", "rate", "startingTime", "values")
      val car = CommonReferencing.subtractCarSegments(segs, 8, 0.95, blockSize = 256)
      val partitionings = (car.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case e: ShuffleExchangeLike => e.outputPartitioning }
      assert(partitionings.collect { case p: ShufflePartitionIdPassThrough => p.numPartitions }
        == Seq(4, 4), partitionings.mkString("\n"))
      val metrics = graft.JobMetrics.attach(spark)
      try {
        val rows = graft.JobMetrics.phase(spark, "car-blocks")(car.collect())
        assert(rows.length == 8 && rows.forall(_.getSeq[Double](5).length == 1024))
        metrics.settle()
        // AQE runs each map stage as its own job: the local scan, then the
        // block stage (per-block kernel), then the reassembly
        val jobs = metrics.jobs("car-blocks")
        assert(jobs.size == 3 && jobs(1).tasks == 4, jobs.map(_.line).mkString("\n"))
      } finally spark.sparkContext.removeSparkListener(metrics)
    }
  }

  test("preprocessBlock's post-CAR stage runs one task per shuffle partition under AQE") {
    onFourPartitions {
      val metrics = graft.JobMetrics.attach(spark)
      try {
        val rows = graft.JobMetrics.phase(spark, "post-car")(preprocessed8ch.collect())
        assert(rows.length == 8 * 8)
        metrics.settle()
        // the last job is the result stage: reassembly, wavelet, amplitude,
        // final resample (the map stages before it ran as their own jobs)
        val last = metrics.jobs("post-car").last
        assert(last.tasks == 4, metrics.jobs("post-car").map(_.line).mkString("\n"))
      } finally spark.sparkContext.removeSparkListener(metrics)
    }
  }

  test("subtractCarSegments puts one channel of every series in each partition") {
    onFourPartitions {
      import spark.implicits._
      val rnd = new scala.util.Random(5)
      val segs = (for (s <- 0 until 8; ch <- 0 until 4)
        yield (s"s$s", ch, null: Integer, 400.0, 0.0, Array.fill(100)(rnd.nextDouble())))
        .toDF("series", "channel", "band", "rate", "startingTime", "values")
      val perPartition = CommonReferencing.subtractCarSegments(segs, 4, 0.95)
        .select(spark_partition_id().as("pid"), col("series"), col("channel"))
        .collect().groupBy(_.getInt(0))
      assert(perPartition.keySet == Set(0, 1, 2, 3), perPartition.keySet)
      assert(perPartition.values.forall(_.length == 8),
        perPartition.map { case (p, rs) => p -> rs.length })
      // each partition holds one channel of each series
      assert(perPartition.values.forall(_.map(_.getString(1)).toSet.size == 8))
    }
  }

  // --- end-to-end physics: the minimum slice of SURVEY.md §7 ---------------
  test("flagship slice: notch removes 60 Hz, wavelet tracks high gamma, zscore normalizes") {
    val rate = 1000.0
    val raw = Synthetic.segments(spark, 4.0, 8, rate, seed = 5)
    // notch: 60 Hz power before vs after on channel 0
    def power60(values: Array[Double], r: Double): Double = {
      val re = values.indices.map(i => values(i) * math.cos(2 * math.Pi * 60 * i / r)).sum
      val im = values.indices.map(i => values(i) * math.sin(2 * math.Pi * 60 * i / r)).sum
      math.hypot(re, im) / values.length
    }
    val before = collectTraces(raw)((0, None))
    val notched = collectTraces(DspOperators.applyLinenoiseNotch(raw))((0, None))
    assert(power60(before, rate) / power60(notched, rate) > 100.0, "60 Hz not removed")

    val amp = Pipeline.preprocessBlock(raw,
      Pipeline.Config(initialRate = 1000.0, finalRate = None, filters = "human",
        hgOnly = true, scaling = 1.0))
    val hg = Pipeline.highGammaTrace(amp, baselineSamples = 125)
    val traces = collectTraces(hg)
    assert(traces.size == 8)
    // z-scored and band-averaged: roughly zero-mean over the baseline
    for ((_, t) <- traces) {
      val baseMean = t.take(125).sum / 125
      assert(math.abs(baseMean) < 1.0, s"baseline mean $baseMean not ~0")
    }
  }

  // --- events adapter ------------------------------------------------------
  test("precision='single': float32 compute end to end, within single tolerance of double") {
    val raw = Synthetic.segments(spark, 1.0, 4, 2000.0, seed = 31)
    def isF32(x: Array[Double]): Boolean = x.forall(v => v == v.toFloat.toDouble)
    // each operator's single-precision output must be exactly
    // float32-representable (proof the compute ran in float32, not a cast
    // at the end) and within the reference's own single-vs-double tolerance
    val dsS = DspOperators.resample(raw, 1000.0, precision = "single")
    val dsD = DspOperators.resample(raw, 1000.0)
    val ntS = DspOperators.applyLinenoiseNotch(dsS, precision = "single")
    val ntD = DspOperators.applyLinenoiseNotch(dsD)
    val wvS = DspOperators.amplitude(DspOperators.waveletTransform(
      ntS, "human", hgOnly = true, precision = "single"))
    val wvD = DspOperators.amplitude(DspOperators.waveletTransform(ntD, "human", hgOnly = true))
    def bands(df: DataFrame) = df.select(col("channel"), col("band"), col("values"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    for ((df, label) <- Seq(dsS -> "resample", ntS -> "notch")) {
      val ts = collectTraces(df)
      assert(ts.values.forall(isF32), s"$label single output not float32-valued")
    }
    val sMap = bands(wvS)
    val dMap = bands(wvD)
    assert(sMap.keySet == dMap.keySet && sMap.nonEmpty)
    for (k <- sMap.keySet) {
      val rms = math.sqrt(dMap(k).map(v => v * v).sum / dMap(k).length)
      val worst = sMap(k).zip(dMap(k)).map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-3 * math.max(rms, 1.0),
        s"single diverges from double at $k: $worst (band rms $rms)")
    }
    intercept[IllegalArgumentException](DspOperators.resample(raw, 1000.0, precision = "half"))
  }

  test("precision='single': CAR and z-score accumulate in float32 (last parity gap)") {
    // reference threads precision through CAR itself (common_referencing.py:11-23
    // via utils.py:9-31) and the tutorial z-score runs on float32 arrays; the
    // single path must produce exactly-float32-representable values (proof the
    // COMPUTE narrowed, not a trailing cast) within single tolerance of double
    val raw = Synthetic.segments(spark, 1.0, 8, 400.0, seed = 37)
      // float32-round inputs first, like the reference's astype at ingest
      .withColumn("values", expr("transform(values, v -> cast(cast(v as float) as double))"))
    def isF32(x: Array[Double]): Boolean = x.forall(v => v.isNaN || v == v.toFloat.toDouble)
    def close(s: Map[(Int, Option[Int]), Array[Double]],
              d: Map[(Int, Option[Int]), Array[Double]], label: String): Unit = {
      assert(s.keySet == d.keySet && s.nonEmpty)
      for (k <- s.keySet) {
        val rms = math.sqrt(d(k).map(v => v * v).sum / d(k).length)
        val worst = s(k).zip(d(k)).map { case (a, b) => math.abs(a - b) }.max
        assert(worst < 1e-3 * math.max(rms, 1.0), s"$label single vs double at $k: $worst")
      }
    }
    val carS = CommonReferencing.subtractCarSegments(raw, 8, precision = "single")
    val carD = CommonReferencing.subtractCarSegments(raw, 8)
    val (cs, cd) = (collectTraces(carS), collectTraces(carD))
    assert(cs.values.forall(isF32), "single blocked CAR output not float32-valued")
    close(cs, cd, "blocked CAR")
    // the CAR trace itself (CAR_of_ series)
    val trS = CommonReferencing.carSegments(raw, 8, precision = "single")
    assert(trS.select("values").collect()
      .forall(r => isF32(r.getSeq[Double](0).toArray)), "single CAR trace not f32-valued")
    // z-score in float32
    val zS = collectTraces(DspOperators.zscoreSegments(carS, 125, precision = "single"))
    val zD = collectTraces(DspOperators.zscoreSegments(carD, 125))
    assert(zS.values.forall(isF32), "single z-score output not float32-valued")
    close(zS, zD, "z-score")
    // the cross-band average at the pipeline tail narrows too: the high-gamma
    // trace is the last stage a float32 pipeline flows through
    val ampBands = DspOperators.amplitude(DspOperators.waveletTransform(
      raw, "human", hgOnly = true, precision = "single"))
    val hgS = collectTraces(Pipeline.highGammaTrace(ampBands, 125, precision = "single"))
    val hgD = collectTraces(Pipeline.highGammaTrace(ampBands, 125))
    assert(hgS.values.forall(isF32), "single high-gamma trace not float32-valued")
    close(hgS, hgD, "high-gamma band average")
    // the reference's precision rule is case-sensitive: "Single" is rejected too
    for (bad <- Seq("half", "Single"))
      intercept[IllegalArgumentException](
        CommonReferencing.subtractCarSegments(raw, 8, precision = bad))
  }

  test("bucketed dense index equals single-window row_number") {
    import org.apache.spark.sql.expressions.Window
    val events = Frames.normalizeTsNanos(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .withColumn("channel", pmod(col("user_id"), lit(8)).cast("int"))
    val w = Window.partitionBy(col("channel")).orderBy(col("ts"), col("event_id"))
    val expect = events.withColumn("t_idx", (row_number().over(w) - 1).cast("long"))
      .select("channel", "event_id", "t_idx")
    val got = Frames.denseIndexByKey(events, Seq("channel"),
        (col("ts").cast("long") / (3600L * 1000 * 1000 * 1000)).cast("long"),
        Seq(col("ts"), col("event_id")), "t_idx")
      .select("channel", "event_id", "t_idx")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "bucketed dense index diverges from global row_number")
    // and the plan has no whole-channel window: every window partitioning
    // includes the bucket column
    val windows = got.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
    }
    assert(windows.nonEmpty)
    val bigDataWindow = windows.filter(_.output.exists(_.name == "t_idx"))
    assert(bigDataWindow.forall(_.partitionSpec.length >= 2),
      "per-row rank window must be partitioned by (key, bucket), not key alone")
  }

  test("eventsToSegments == toSegments(rectangularize(eventsToLong)) exactly") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val fused = Frames.eventsToSegments(events, 8, 1000.0)
    val staged = Frames.toSegments(Frames.rectangularize(
      Frames.eventsToLong(events, 8, 1000.0)))
    val f = collectTraces(fused)
    val s = collectTraces(staged)
    assert(f.keySet == s.keySet && f.size == 8)
    for (k <- f.keySet) {
      assert(f(k).length == s(k).length, s"length differs at $k")
      assert(f(k) sameElements s(k), s"fused adapter diverges at $k")
    }
  }

  test("eventsToLong is deterministic and rectangular after trim") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val long = Frames.rectangularize(Frames.eventsToLong(events, 8, 200.0))
    val counts = long.groupBy("channel").count().collect().map(_.getLong(1)).distinct
    assert(counts.length == 1, s"not rectangular: ${counts.toSeq}")
    val a = long.orderBy("channel", "t_idx").collect()
    val b = Frames.rectangularize(Frames.eventsToLong(events, 8, 200.0))
      .orderBy("channel", "t_idx").collect()
    assert(a sameElements b)
    // round-trip long -> segments -> long preserves values
    val seg = Frames.toSegments(long)
    assert(seg.count() == 8)
    val back = Frames.toLong(seg)
    assert(back.count() == long.count())
  }
}
