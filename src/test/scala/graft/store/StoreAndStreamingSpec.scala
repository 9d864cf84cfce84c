package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.model.Synthetic
import graft.tools.PreprocessFolder
import graft.streaming.StreamingOps

/** Store layout (S1-S3, S8), folder driver (S7), precision cast (F1),
  * store==functional equivalence, and the streaming surface (ST3). */
class StoreAndStreamingSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("store round-trip, legacy fallback, strip, precision") {
    val root = Files.createTempDirectory("nwbstore").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val store = new NwbStore(root, spark)
    val raw = Synthetic.segments(spark, 1.0, 4, 400.0, seed = 9)
    store.writeAcquisition("ECoG", raw)
    store.writeElectrodes(graft.model.Frames.electrodes(spark, 4))
    assert(store.readAcquisition("ECoG").count() == 4)
    assert(store.listAcquisition() == Seq("ECoG"))
    // legacy layout fallback: acquisition/Raw/<name>
    val legacyRoot = Files.createTempDirectory("nwblegacy").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(legacyRoot))
    raw.write.parquet(s"$legacyRoot/acquisition/Raw/Old")
    assert(new NwbStore(legacyRoot, spark).readAcquisition("Old").count() == 4)
    intercept[IllegalArgumentException](store.readAcquisition("Nope"))
    // precision cast at the boundary
    val single = NwbStore.withPrecision(raw, "single")
    assert(single.schema("values").dataType.simpleString == "array<float>")
    intercept[IllegalArgumentException](NwbStore.withPrecision(raw, "half"))
    // strip == copy_strip
    store.writeProcessing("derived", raw)
    assert(store.listProcessing() == Seq("derived"))
    store.stripProcessing()
    assert(store.listProcessing().isEmpty)
    assert(store.readAcquisition("ECoG").count() == 4)
  }

  test("acquisitions read back with the declared schema and no job; no dictionary on values") {
    val root = Files.createTempDirectory("nwbschema").toString
    StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val store = new NwbStore(root, spark)
    val raw = Synthetic.segments(spark, 1.0, 4, 400.0, seed = 5)
    store.writeAcquisition("ECoG", raw)
    raw.write.parquet(s"$root/acquisition/Raw/Old")
    val metrics = graft.JobMetrics.attach(spark)
    try {
      val declared = graft.JobMetrics.phase(spark, "declared")(store.readAcquisition("ECoG"))
      val legacy = graft.JobMetrics.phase(spark, "legacy")(store.readAcquisition("Old"))
      metrics.settle()
      // the declared read runs no schema-inference job; the legacy read does
      assert(metrics.jobs("declared").isEmpty, metrics.jobs("declared").map(_.line))
      assert(metrics.jobs("legacy").nonEmpty)
      assert(declared.schema.simpleString == graft.model.Frames.SegmentSchema.simpleString)
      assert(declared.collect().toSet == raw.collect().toSet)
      assert(legacy.count() == 4)
    } finally spark.sparkContext.removeSparkListener(metrics)
    assertNoValuesDictionary(spark.read.parquet(s"$root/acquisition/ECoG"))
  }

  /** Every `values` column chunk in the files behind a parquet read-back is
    * plain-encoded, with no dictionary page (read from the footers). */
  private def assertNoValuesDictionary(parquet: org.apache.spark.sql.DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val values = parquet.inputFiles.toSeq.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      val chunks = try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        finally reader.close()
      chunks.filter(_.getPath.toDotString == "values.list.element").map(f -> _)
    }
    // a micro-batch that emitted no row writes a file without row groups
    assert(values.nonEmpty)
    for ((f, c) <- values)
      assert(!c.hasDictionaryPage && !c.getEncodings.asScala.exists(_.usesDictionary),
        s"$f: ${c.getEncodings}")
  }

  /** 4 ch at 1 kHz for `seconds` s, one 1 s file per micro-batch, then a
    * far-future flush file that closes the data windows and an empty one
    * that evicts them; returns the staging directory. */
  private def stageRecording(name: String, seconds: Int,
                             value: org.apache.spark.sql.Column): java.nio.file.Path = {
    val stage = Files.createTempDirectory(name)
    StreamingOps.deleteOnExit(stage)
    val events = spark.range(4000L * seconds).select($"id".as("event_id"),
      ($"id" % 4).as("user_id"), ($"id" / 4).cast("long").multiply(1000000L).as("ts"),
      value.as("value"))
    val t0 = System.currentTimeMillis() - 60000L
    for (f <- 0 until seconds)
      StreamingOps.stageFileAs(events.filter($"ts" >= f * 1000000000L &&
        $"ts" < (f + 1) * 1000000000L), stage, s"b$f.parquet", t0 + 1000L * f)
    val flush = events.limit(4).select(($"event_id" + 100000L).as("event_id"), $"user_id",
      lit(1000500000000L).as("ts"), lit(0.0).as("value"))
    StreamingOps.stageFileAs(flush, stage, "flush.parquet", t0 + 1000L * seconds)
    StreamingOps.stageFileAs(flush.filter(lit(false)), stage, "z_evict.parquet",
      t0 + 1000L * (seconds + 1))
    stage
  }

  /** The windowed stream of the staged recordings: 1 s windows, 100 ms
    * context. */
  private def shortWindows(df: org.apache.spark.sql.DataFrame) =
    StreamingOps.windowedSegmentsStream(df, nChannels = 4, rate = 1000.0,
      windowDur = "1 second", watermark = "2 seconds", contextDur = "100 milliseconds")

  test("the stream sink writes values without a dictionary; the caller's session keeps no such key") {
    // four distinct values: a dictionary fits, so only the property keeps it out
    val stage = stageRecording("dict_stream", 2, ($"id" % 4).cast("double"))
    def dictionaryKeys = spark.conf.getAll.keys.filter(_.startsWith("parquet.enable.dictionary"))
    assert(dictionaryKeys.isEmpty)
    val callerParts = spark.conf.get("spark.sql.shuffle.partitions")
    val sink = StreamingOps.runToParquetOrdered(spark, stage.toString, "dict_stream",
      shortWindows)
    assert(sink.count() == 4 * 2)
    assertNoValuesDictionary(sink)
    assert(dictionaryKeys.isEmpty, dictionaryKeys)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == callerParts)
  }

  test("the stream sink reads back with the query's schema: equal to the inferred one, no job") {
    import graft.operators.DspOperators
    val stage = stageRecording("schema_stream", 2, sin($"id" / 40.0) + $"id" % 4)
    def amplitude(events: org.apache.spark.sql.DataFrame) =
      DspOperators.amplitude(DspOperators.waveletTransform(
        DspOperators.applyLinenoiseNotch(shortWindows(events), continuousProfile = true,
          precision = "single"), "human", hgOnly = true, precision = "single"))
    val metrics = graft.JobMetrics.attach(spark)
    try {
      val sink = graft.JobMetrics.phase(spark, "stream")(
        StreamingOps.runToParquetOrdered(spark, stage.toString, "schema_stream", amplitude))
      metrics.settle()
      // from the first micro-batch on, every job ran inside one: none
      // inferred the sink's schema (the one before is the events source's)
      val jobs = metrics.jobs("stream").dropWhile(!_.desc.contains("batch = "))
      assert(jobs.nonEmpty && jobs.forall(_.desc.contains("batch = ")),
        metrics.jobs("stream").map(_.line).mkString("\n"))
      val inferred = spark.read.parquet(sink.inputFiles.head.replaceAll("/[^/]+$", ""))
      assert(sink.schema == inferred.schema, s"${sink.schema.treeString}\n${inferred.schema.treeString}")
      assert(sink.collect().map(_.toString).sorted.sameElements(
        inferred.collect().map(_.toString).sorted))
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  /** `windowedSegmentsStream`'s context membership written as before it
    * was code-generated: `array_compact` over the three candidate offsets,
    * then a stub filter with `exists` over the assembled sample times. */
  private def arrayCompactWindows(events: org.apache.spark.sql.DataFrame,
                                  winU: Long, ctxU: Long) =
    graft.model.Frames.normalizeTsNanos(events)
      .withColumn("channel", pmod($"user_id", lit(4)).cast("int"))
      .withColumn("_tu", ($"ts" / 1000).cast("long"))
      .withColumn("_off", explode(array_compact(array(
        lit(0L),
        when(pmod($"_tu", lit(winU)) < ctxU, lit(-winU)),
        when(pmod($"_tu", lit(winU)) >= winU - ctxU, lit(winU))))))
      .withColumn("member_time", timestamp_micros($"_tu" + $"_off"))
      .groupBy(window($"member_time", s"$winU microseconds"), $"channel")
      .agg(graft.functions.SeriesAssembleFunctions.assembleTimed(spark,
        $"ts".cast("long"), $"event_id".cast("long"), $"value".cast("double")).as("_a"))
      .withColumn("_startU", unix_micros($"window.start"))
      .filter(exists($"_a.ts", t =>
        (t / 1000).cast("long").between($"_startU", $"_startU" + winU - 1)))
      .select(concat(lit("events#w"), ($"_startU" / winU).cast("long")).as("series"),
        $"channel", ($"_startU".cast("double") / 1e6).as("startingTime"),
        $"_a.values".as("values"), $"_a.ts".as("sample_ts"))

  test("windowedSegmentsStream membership is code-generated and equals the array_compact form") {
    // events on, just before and just after every window and context
    // boundary of 1 s windows with 100 ms context (offsets in micros), and
    // a lone event in the right margin of window 5, whose copy in window 6
    // is a stub
    val offsets = Seq(0L, 1L, 99999L, 100000L, 100001L, 500000L,
      899999L, 900000L, 900001L, 999999L)
    val tsUs = (for (w <- 0L until 3L; o <- offsets) yield w * 1000000L + o) :+ 5950000L
    val dir = Files.createTempDirectory("membership_batch")
    StreamingOps.deleteOnExit(dir)
    tsUs.zipWithIndex.flatMap { case (us, i) =>
      (0 until 4).map(ch => (i * 4L + ch, ch.toLong, us * 1000L, (i * 4 + ch) * 0.5))
    }.toDF("event_id", "user_id", "ts", "value")
      .write.mode("overwrite").parquet(dir.resolve("events").toString)
    val events = spark.read.parquet(dir.resolve("events").toString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("series", "channel", "startingTime", "values", "sample_ts").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getSeq[Double](3),
          r.getSeq[Long](4))).sortBy(r => (r._1, r._2))
    val got = shortWindows(events)
    val want = arrayCompactWindows(events, 1000000L, 100000L)
    def fallbacks(df: org.apache.spark.sql.DataFrame) = " fallbacks=(\\d+)".r
      .findFirstMatchIn(graft.Inspect.census(df.queryExecution.executedPlan)).get.group(1).toInt
    assert(fallbacks(got) == 0)
    assert(fallbacks(want) > 0)
    val (g, w) = (rows(got), rows(want))
    // windows -1, 3 and 6 hold only borrowed context: stubs, dropped
    assert(g.map(_._1).distinct.toSeq ==
      Seq("events#w0", "events#w1", "events#w2", "events#w5"))
    assert(g sameElements w)
  }

  test("bucketed processing sink: channel joins read pre-partitioned, no shuffle") {
    val root = Files.createTempDirectory("nwbbucketed").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val store = new NwbStore(root, spark)
    val a = Synthetic.segments(spark, 1.0, 4, 400.0, seed = 21)
    val b = Synthetic.segments(spark, 1.0, 4, 400.0, seed = 22)
      .withColumnRenamed("values", "values_b")
    store.writeProcessingBucketed("ser_a", a, nBuckets = 4, tablePrefix = "bkt")
    store.writeProcessingBucketed("ser_b", b, nBuckets = 4, tablePrefix = "bkt")
    val ja = store.readProcessingBucketed("ser_a", "bkt")
    val jb = store.readProcessingBucketed("ser_b", "bkt")
      .select("channel", "values_b")
    val joined = ja.join(jb, "channel")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == 4)
    // read-back preserves data, not just metadata
    val row = joined.filter($"channel" === 1)
      .select(size($"values"), size($"values_b")).head()
    assert(row.getInt(0) == 400 && row.getInt(1) == 400)
  }

  test("folder driver: store path == functional path (test_pipeline.py analog)") {
    val root = Files.createTempDirectory("sessions").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val raw = Synthetic.segments(spark, 1.0, 4, 2000.0, seed = 13)
    val store = new NwbStore(s"$root/sess0", spark)
    store.writeAcquisition("ECoG", raw)
    val args = PreprocessFolder.parse(Array(s"$root", "--initial-rate", "1000",
      "--final-rate", "250", "--filters", "human", "--all-steps", "--precision", "double"))
    PreprocessFolder.preprocessStore(store, args)
    // all_steps=True writes the reference's four tables (pipelines.py:70-110:
    // store_resample + store_linenoise_notch_CAR's two series + the wavelet
    // series named after the CAR series it consumed)
    assert(store.listProcessing().toSet ==
      Set("downsampled_ECoG", "CAR_ln_downsampled_ECoG", "CAR_of_downsampled_ECoG",
        "wvlt_amp_CAR_ln_downsampled_ECoG"))

    // functional path, same params
    import graft.operators.{DspOperators, CommonReferencing}
    val func = DspOperators.amplitude(DspOperators.waveletTransform(
      CommonReferencing.subtractCarSegments(
        DspOperators.applyLinenoiseNotch(
          DspOperators.resample(raw, 1000.0)), 4), "human", hgOnly = true))
    val funcFinal = DspOperators.resample(func, 250.0)

    def traces(df: org.apache.spark.sql.DataFrame) =
      df.select("channel", "band", "values").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val stored = traces(store.readProcessing("wvlt_amp_CAR_ln_downsampled_ECoG"))
    val functional = traces(funcFinal)
    assert(stored.keySet == functional.keySet && stored.nonEmpty)
    for (k <- stored.keySet) {
      val worst = stored(k).zip(functional(k))
        .map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-12, s"store path diverges from functional at $k: $worst")
    }
  }

  test("folder driver: fused wavelet table == Pipeline.preprocessBlock unscaled, both precisions") {
    import graft.operators.Pipeline
    val raw = Synthetic.segments(spark, 1.0, 4, 2000.0, seed = 13)
    def traces(df: org.apache.spark.sql.DataFrame) =
      df.select(col("channel"), col("band"), col("values").cast("array<double>")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    for (precision <- Seq("double", "single")) {
      val root = Files.createTempDirectory("fused").toString
      graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
      val store = new NwbStore(s"$root/sess0", spark)
      store.writeAcquisition("ECoG", raw)
      val metrics = graft.JobMetrics.attach(spark)
      try {
        graft.JobMetrics.phase(spark, "fused")(
          PreprocessFolder.preprocessStore(store, PreprocessFolder.parse(Array(root,
            "--initial-rate", "1000", "--final-rate", "250", "--filters", "human",
            "--precision", precision))))
        metrics.settle()
        // no channel count, and the write's two shuffles are stages of one job
        val jobs = metrics.jobs("fused")
        assert(jobs.size == 1 && jobs.head.stages == 3, jobs.map(_.line).mkString("\n"))
      } finally spark.sparkContext.removeSparkListener(metrics)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val expected = NwbStore.withPrecision(Pipeline.preprocessBlock(raw,
        Pipeline.Config(initialRate = 1000.0, finalRate = Some(250.0), filters = "human",
          scaling = 1.0, precision = precision)), precision)
      val stored = traces(store.readProcessing("wvlt_amp_CAR_ln_downsampled_ECoG"))
      val want = traces(expected)
      val differing = want.keys.count(k => !stored.get(k).contains(want(k)))
      assert(want.nonEmpty && stored.keySet == want.keySet)
      assert(differing == 0, s"driver diverges from preprocessBlock at precision $precision: " +
        s"$differing of ${want.size} traces differ")
    }
  }

  test("storeSubtractCar: CAR_<s> + literal CAR tables; CAR trace reconstructs the subtraction") {
    import graft.operators.{Store, CommonReferencing}
    val root = Files.createTempDirectory("subcar").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val raw = Synthetic.segments(spark, 0.5, 6, 1000.0, seed = 21)
    Store.storeSubtractCar(raw, root, "ECoG")
    // reference table names (common_referencing.py:104,117): CAR_<name> for
    // the referenced data, the literal name CAR for the average series
    val referenced = spark.read.parquet(s"$root/preprocessing/CAR_ECoG")
    val carTab = spark.read.parquet(s"$root/preprocessing/CAR")
    assert(referenced.select("channel").distinct().count() == 6)
    assert(carTab.count() == 1, "CAR series is one channel-less trace per series")
    assert(carTab.select("channel").head().isNullAt(0))
    // raw - CAR == referenced, elementwise (the stored avg is THE avg used)
    val car = carTab.select("values").head().getSeq[Double](0).toArray
    val rawCh0 = raw.filter($"channel" === 0).select("values").head().getSeq[Double](0).toArray
    val refCh0 = referenced.filter($"channel" === 0).select("values").head().getSeq[Double](0).toArray
    val worst = rawCh0.indices.map(i => math.abs(rawCh0(i) - car(i) - refCh0(i))).max
    assert(worst < 1e-12, s"stored CAR does not reconstruct the subtraction: $worst")
    // and the trace equals carSegments directly
    val direct = CommonReferencing.carSegments(raw, 6).select("values").head().getSeq[Double](0)
    assert(direct.toArray.sameElements(car))
  }

  test("storePreprocessBlock writes the reference's four all-steps tables") {
    import graft.operators.{Store, Pipeline}
    val root = Files.createTempDirectory("allsteps").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val raw = Synthetic.segments(spark, 0.5, 4, 2000.0, seed = 5)
    Store.storePreprocessBlock(raw, root, "ECoG",
      Pipeline.Config(initialRate = 1000.0, finalRate = Some(250.0), filters = "human"))
    val tables = new java.io.File(s"$root/preprocessing").listFiles().map(_.getName).toSet
    assert(tables == Set("downsampled_ECoG", "CAR_ln_downsampled_ECoG",
      "CAR_of_downsampled_ECoG", "wvlt_amp_CAR_ln_downsampled_ECoG"))
  }

  test("store abs_only=False: wvlt_phase_ series matches functional phase; resample+phase rejected") {
    import graft.operators.{Store, DspOperators}
    val root = Files.createTempDirectory("wvltphase").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(root))
    val raw = Synthetic.segments(spark, 1.0, 2, 1000.0, seed = 17)
    Store.storeWaveletTransform(raw, root, "ECoG", "human", hgOnly = true, absOnly = false)
    val storedPhase = spark.read.parquet(s"$root/preprocessing/wvlt_phase_ECoG")
    val storedAmp = spark.read.parquet(s"$root/preprocessing/wvlt_amp_ECoG")
    def traces(df: org.apache.spark.sql.DataFrame) =
      df.select("channel", "band", "values").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val wvlt = DspOperators.waveletTransform(raw, "human", hgOnly = true)
    val funcPhase = traces(DspOperators.phase(wvlt))
    val gotPhase = traces(storedPhase)
    assert(gotPhase.keySet == funcPhase.keySet && gotPhase.nonEmpty)
    for (k <- gotPhase.keySet) {
      val worst = gotPhase(k).zip(funcPhase(k)).map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-12, s"stored phase diverges from functional at $k: $worst")
    }
    assert(traces(storedAmp).keySet == funcPhase.keySet)
    // reference raises ValueError for phase + post-resample (wavelet_transform.py:424-426)
    intercept[IllegalArgumentException](Store.storeWaveletTransform(
      raw, root, "ECoG", absOnly = false, postResampleRate = Some(250.0)))
  }

  test("streaming: windowed event agg matches batch over the same files") {
    // file-stream source wants a directory; stage the single parquet file
    val dir = Files.createTempDirectory("events_stream").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val streamed = StreamingOps.runToMemory(spark, dir, "win_agg",
      df => StreamingOps.windowedEventAgg(df),
      org.apache.spark.sql.streaming.OutputMode.Append)
    val batch = StreamingOps.windowedEventAgg(spark.read.parquet(dir))
    // append mode emits only closed windows; every emitted row must match batch
    val b = batch.select($"window.start", $"event_type", $"n", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .map { case (w, t, n, s) => (w, t) -> ((n, math.round(s * 100))) }.toMap
    val got = streamed.select($"window.start", $"event_type", $"n", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    assert(got.nonEmpty, "no closed windows emitted")
    for ((w, t, n, s) <- got)
      assert(b((w, t)) == ((n, math.round(s * 100))), s"window $w/$t diverges")
  }

  test("streaming windowed DSP: notch over streamed segment windows == batch") {
    import graft.operators.DspOperators
    val dir = Files.createTempDirectory("events_dsp_stream").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      DspOperators.applyLinenoiseNotch(
        StreamingOps.windowedSegmentsStream(df, nChannels = 4, rate = 1000.0))
    val streamed = StreamingOps.runToMemory(spark, dir, "win_dsp", pipeline,
      org.apache.spark.sql.streaming.OutputMode.Append)
    val batch = pipeline(spark.read.parquet(dir))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("channel", "startingTime", "values").collect()
        .map(r => (r.getInt(0), r.getDouble(1)) -> r.getSeq[Double](2).toArray).toMap
    val got = rows(streamed)
    val want = rows(batch)
    // append emits only watermark-closed windows; each emitted segment must
    // match the batch computation of the same window exactly
    assert(got.nonEmpty, "no closed windows emitted")
    for ((k, v) <- got) {
      assert(want.contains(k), s"streamed window $k absent from batch")
      val worst = v.zip(want(k)).map { case (a, b) => math.abs(a - b) }.max
      assert(v.length == want(k).length && worst < 1e-12,
        s"streamed notch diverges from batch at $k: $worst")
    }
  }

  test("streaming windowed DSP with context: crossfaded windows == batch; identity stitch exact") {
    import graft.operators.DspOperators
    val dir = Files.createTempDirectory("events_ctx_stream").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val (winDur, ctxDur) = ("1 minute", "10 seconds")
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      DspOperators.applyLinenoiseNotch(
        StreamingOps.windowedSegmentsStream(df, nChannels = 4, rate = 1000.0,
          windowDur = winDur, watermark = "2 minutes", contextDur = ctxDur))
    val streamed = StreamingOps.runToMemory(spark, dir, "win_ctx_dsp", pipeline,
      org.apache.spark.sql.streaming.OutputMode.Append)
    val batch = pipeline(spark.read.parquet(dir))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("series", "channel", "values").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val got = rows(streamed)
    val want = rows(batch)
    assert(got.nonEmpty, "no closed windows emitted")
    for ((k, v) <- got) {
      assert(want.contains(k), s"streamed window $k absent from batch")
      assert(v.length == want(k).length, s"length differs at $k")
      val worst = v.zip(want(k)).map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-12, s"streamed crossfade-windowed notch diverges at $k: $worst")
    }
    // the emitted windows really carry borrowed context margins
    val winU = 60L * 1000000L // "1 minute" in micros
    val margins = streamed.select($"startingTime", $"sample_ts").collect().map { r =>
      val startU = (r.getDouble(0) * 1e6).toLong
      r.getSeq[Long](1).count(ts => ts / 1000 < startU || ts / 1000 >= startU + winU)
    }
    assert(margins.exists(_ > 0), "no window carries context samples")
    // identity pipeline: crossfade-stitching unmodified overlapping windows
    // reproduces every original sample exactly (WindowingSpec's invariant,
    // streaming form)
    val windows = StreamingOps.windowedSegmentsStream(spark.read.parquet(dir),
      nChannels = 4, rate = 1000.0, windowDur = winDur, contextDur = ctxDur)
    val stitched = StreamingOps.stitchTimeWindows(windows, winDur, ctxDur)
      .select($"channel", $"win_idx", $"values")
      .collect().groupBy(_.getInt(0)).map { case (ch, rs) =>
        ch -> rs.sortBy(_.getLong(1)).flatMap(_.getSeq[Double](2)).toArray
      }
    val orig = spark.read.parquet(dir)
      .withColumn("channel", pmod($"user_id", lit(4)).cast("int"))
      .groupBy("channel")
      .agg(transform(array_sort(collect_list(struct($"ts", $"event_id", $"value"))),
        s => s.getField("value").cast("double")).as("values"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    assert(stitched.keySet == orig.keySet)
    for ((ch, v) <- stitched) {
      assert(v.length == orig(ch).length, s"channel $ch sample count differs")
      val worst = v.zip(orig(ch)).map { case (a, b) => math.abs(a - b) }.max
      assert(worst < 1e-12, s"identity stitch not exact on channel $ch: $worst")
    }
    // wavelet output keeps sample_ts aligned (sample-count-preserving), so
    // per-band crossfade stitching works on the spectral stream too
    val wvltAmp = DspOperators.amplitude(
      DspOperators.waveletTransform(windows, "human", hgOnly = true))
    assert(wvltAmp.columns.contains("sample_ts"), "sample_ts dropped by wavelet explode")
    val stitchedWv = StreamingOps.stitchTimeWindows(wvltAmp, winDur, ctxDur)
      .select($"channel", $"band", $"values").collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.map(_.getSeq[Double](2).length).sum }
    assert(stitchedWv.nonEmpty)
    for (((ch, _), n) <- stitchedWv)
      assert(n == orig(ch).length, s"stitched wavelet sample count differs on channel $ch")
  }

  test("stream state partitions are sized from the staged input; the caller's count is untouched") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val stage = stageRecording("sized_stream", 3, sin($"id" / 40.0) + $"id" % 4)
    val bytes = stage.toFile.listFiles.map(_.length).sum

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Seq[Int], String)]
    var done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = seen.synchronized {
        seen += ((e.progress.stateOperators.map(_.numShufflePartitions.toInt).toSeq,
          spark.conf.get("spark.sql.shuffle.partitions")))
      }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    // one streamed + stitched recording: (state partitions per batch, the
    // caller's count seen while it ran, stitched values per channel)
    def run(name: String) = {
      seen.clear(); done = new java.util.concurrent.CountDownLatch(1)
      val out = StreamingOps.runToParquetOrdered(spark, stage.toString, name, shortWindows)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val stitched = StreamingOps.stitchTimeWindows(out, "1 second", "100 milliseconds")
        .select($"channel", $"win_idx", $"values").collect().groupBy(_.getInt(0))
        .map { case (ch, rs) => ch -> rs.sortBy(_.getLong(1)).flatMap(_.getSeq[Double](2)).toSeq }
      seen.synchronized((seen.flatMap(_._1).distinct.toSeq, seen.map(_._2).distinct.toSeq,
        stitched))
    }
    spark.streams.addListener(listener)
    val callerParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val (parts1, callerConf1, out1) = run("sized_default")
      assert(parts1 == Seq(1), s"a $bytes B input should run on 1 state partition")
      assert(callerConf1 == Seq(callerParts),
        "the caller's shuffle partitions moved while the query ran")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == callerParts)
      assert(out1.keySet == Set(0, 1, 2, 3) && out1.values.forall(_.length == 3000))
      // a smaller advisory size: min(shuffle partitions, ceil(bytes / advisory))
      val advisory = (bytes + 2) / 3
      val (parts3, callerConf3, out3) =
        withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString)(
          run("sized_small_advisory"))
      assert(parts3 == Seq(math.min(callerParts.toLong, (bytes + advisory - 1) / advisory).toInt))
      assert(parts3.head > 1)
      assert(callerConf3 == Seq(callerParts))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == callerParts)
      assert(out3 == out1, "stitched output depends on the state partition count")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming: stateful running channel stats converge to batch stats") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(pmod($"user_id", lit(4)).cast("int").as("channel"),
        $"value".cast("double").as("value"))
      .as[StreamingOps.ChannelEvent]
    // batch Welford via the same code path (static Dataset works too)
    val stats = StreamingOps.runningChannelStats(events)
    val rows = stats.collect()
    assert(rows.length == 4)
    val expected = events.groupBy("channel")
      .agg(count(lit(1)).as("n"), avg("value").as("mean"), stddev_pop("value").as("std"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    for (s <- rows) {
      val (n, mean, std) = expected(s.channel)
      assert(s.n == n)
      assert(math.abs(s.mean - mean) < 1e-9)
      assert(math.abs(s.std - std) < 1e-9)
    }
  }

  test("streaming: stateful exact-dedup matches batch dedup groups") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(md5($"text").as("content_hash"), $"doc_id")
      .as[StreamingOps.DocHashEvent]
    val updates = StreamingOps.runningDedup(docs).collect()
    val expected = docs.groupBy("content_hash")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(updates.length == expected.size)
    for (u <- updates) {
      val (n, keeper) = expected(u.content_hash)
      assert(u.n_copies == n && u.keeper == keeper, u.content_hash)
    }
    // order-independence: min-id keeper survives adversarial arrival order
    val shuffled = Seq(
      StreamingOps.DocHashEvent("h1", 9L), StreamingOps.DocHashEvent("h1", 3L),
      StreamingOps.DocHashEvent("h1", 7L), StreamingOps.DocHashEvent("h2", 5L))
      .toDS()
    val out = StreamingOps.runningDedup(shuffled).collect()
      .map(u => u.content_hash -> ((u.n_copies, u.keeper))).toMap
    assert(out === Map("h1" -> ((3L, 3L)), "h2" -> ((1L, 5L))))
  }

  test("streaming count-min: final cells == batch cells under forced multi-batch slicing") {
    import graft.text.Sketches
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stage = java.nio.file.Files.createTempDirectory("cms_docs")
    graft.streaming.StreamingOps.deleteOnExit(stage)
    StreamingOps.deleteOnExit(stage)
    docs.repartition(4).write.mode("overwrite").parquet(stage.toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = Sketches.countMinCells(stream, d = 2, mCols = 256).writeStream
      .outputMode(OutputMode.Update).trigger(Trigger.AvailableNow())
      .format("memory").queryName("cms_multi_batch").start()
    q.awaitTermination()
    val sink = spark.table("cms_multi_batch")
    val finalCells = sink.groupBy("j", "pos").agg(max("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = Sketches.countMinCells(docs, d = 2, mCols = 256)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(finalCells === batch)
    // the equivalence actually exercised >1 micro-batch: recurring cells
    // emitted multiple updates
    assert(sink.groupBy("j", "pos").count().filter($"count" > 1).count() > 0,
      "stream collapsed to a single micro-batch — slicing not exercised")
  }

  test("streaming OHLC argmin/argmax state: final bars == batch under forced multi-batch slicing") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val events = graft.model.Frames.normalizeTsNanos(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val stage = java.nio.file.Files.createTempDirectory("ohlc_events")
    graft.streaming.StreamingOps.deleteOnExit(stage)
    StreamingOps.deleteOnExit(stage)
    events.repartition(4).write.mode("overwrite").parquet(stage.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(stage.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    def bars(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), expr("ts div 3600000000000").as("h"),
        col("ts"), col("event_id"),
        floor(col("value") * 1000).cast("long").as("vm"))
      .groupBy("event_type", "h")
      .agg(min(struct(col("ts"), col("event_id"), col("vm"))).as("_open"),
        max(struct(col("ts"), col("event_id"), col("vm"))).as("_close"),
        max("vm").as("high_vm"), min("vm").as("low_vm"),
        count(lit(1)).as("n"), sum("vm").as("sum_vm"))
    val q = bars(stream).writeStream
      .outputMode(OutputMode.Update).trigger(Trigger.AvailableNow())
      .format("memory").queryName("ohlc_multi_batch").start()
    q.awaitTermination()
    val sink = spark.table("ohlc_multi_batch")
    def finalize(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("h"), col("_open.vm").as("o"),
        col("_close.vm").as("c"), col("high_vm"), col("low_vm"),
        col("n"), col("sum_vm"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    val streamed = finalize(sink.groupBy("event_type", "h")
      .agg(max(struct(col("n"), col("_open"), col("_close"), col("high_vm"),
        col("low_vm"), col("sum_vm"))).as("_fin"))
      .select(col("event_type"), col("h"), col("_fin._open").as("_open"),
        col("_fin._close").as("_close"), col("_fin.high_vm").as("high_vm"),
        col("_fin.low_vm").as("low_vm"), col("_fin.n").as("n"),
        col("_fin.sum_vm").as("sum_vm")))
    val batch = finalize(bars(events))
    assert(streamed === batch)
    assert(sink.groupBy("event_type", "h").count().filter($"count" > 1).count() > 0,
      "stream collapsed to a single micro-batch — slicing not exercised")
  }

  test("streaming histogram cells: final cells == batch under forced multi-batch slicing") {
    import graft.operators.Quantiles
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val stage = java.nio.file.Files.createTempDirectory("hist_events")
    graft.streaming.StreamingOps.deleteOnExit(stage)
    StreamingOps.deleteOnExit(stage)
    events.repartition(4).write.mode("overwrite").parquet(stage.toString)
    val stream = graft.model.Frames.normalizeTsNanos(
      spark.readStream.schema(spark.read.parquet(stage.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString))
    val q = Quantiles.fixedGridCells(stream, "event_type", "value", 0.0, 1000.0, 200)
      .writeStream
      .outputMode(OutputMode.Update).trigger(Trigger.AvailableNow())
      .format("memory").queryName("hist_multi_batch").start()
    q.awaitTermination()
    val sink = spark.table("hist_multi_batch")
    val finalCells = sink.groupBy("g", "bin").agg(max("cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Quantiles.fixedGridCells(events, "event_type", "value", 0.0, 1000.0, 200)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(finalCells === batch)
    assert(sink.groupBy("g", "bin").count().filter($"count" > 1).count() > 0,
      "stream collapsed to a single micro-batch — slicing not exercised")
    // and the read side over streamed cells equals the batch sketch
    val cellsDf = sink.groupBy("g", "bin").agg(max("cnt").as("cnt"))
    val fromStream = Quantiles.quantilesFromCells(cellsDf, "event_type",
        0.0, 1000.0, 200, Seq("p50" -> 0.5, "p95" -> 0.95))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val cellsBatch = Quantiles.fixedGridCells(events, "event_type", "value", 0.0, 1000.0, 200)
    val fromBatch = Quantiles.quantilesFromCells(cellsBatch, "event_type",
        0.0, 1000.0, 200, Seq("p50" -> 0.5, "p95" -> 0.95))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(fromStream === fromBatch)
  }

  test("stream-stream interval join: matches across micro-batch boundaries == batch") {
    import org.apache.spark.sql.expressions.Window
    val events = graft.model.Frames.normalizeTsNanos(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    // 4 time-ordered files with increasing mtimes: the file source processes
    // oldest-modified first, so event time advances monotonically across
    // micro-batches — nothing is late, and clicks buffered in early batches
    // must survive in join state to match errors arriving in later ones
    val stage = java.nio.file.Files.createTempDirectory("ssj_events")
    graft.streaming.StreamingOps.deleteOnExit(stage)
    StreamingOps.deleteOnExit(stage)
    val quarted = events.withColumn("_q", ntile(4).over(Window.orderBy("ts")))
    for (i <- 1 to 4) {
      val tmp = java.nio.file.Files.createTempDirectory(s"ssj_part$i")
      graft.streaming.StreamingOps.deleteOnExit(tmp)
      StreamingOps.deleteOnExit(tmp)
      quarted.filter($"_q" === i).drop("_q")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dest = stage.resolve(f"part_$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dest)
      dest.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(stage.toString).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    def shape(df: org.apache.spark.sql.DataFrame, side: String) =
      if (side == "e")
        df.filter($"event_type" === "error")
          .select($"user_id", $"event_id".as("error_id"),
            timestamp_micros(expr("ts div 1000")).as("et"))
      else
        df.filter($"event_type" === "click")
          .select($"user_id".as("c_user_id"), $"event_id".as("click_id"),
            timestamp_micros(expr("ts div 1000")).as("ct"))
    val joined = shape(src(), "e").withWatermark("et", "1 hour")
      .join(shape(src(), "c").withWatermark("ct", "4 hours"),
        $"user_id" === $"c_user_id" &&
          $"ct" >= $"et" - expr("INTERVAL 2 HOURS") && $"ct" < $"et")
    val streamed = StreamingOps.runStreamToParquet(spark, joined, "ssj_spec")
      .select($"error_id", $"click_id").as[(Long, Long)].collect().toSet
    val batch = shape(events, "e").join(shape(events, "c"),
        $"user_id" === $"c_user_id" &&
          $"ct" >= $"et" - expr("INTERVAL 2 HOURS") && $"ct" < $"et")
      .select($"error_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch,
      s"missing=${batch -- streamed} extra=${streamed -- batch}")
    assert(batch.nonEmpty, "no matches — fixture too sparse to exercise the join")
    // the equivalence must have exercised cross-batch state: at least one
    // match's click and error sit in different time quartiles
    val q = quarted.select($"event_id", $"_q").as[(Long, Int)].collect().toMap
    assert(batch.exists { case (e, c) => q(e) != q(c) },
      "every match fell inside one micro-batch — slicing not exercised")
  }

  test("streaming: stateless pii scrub through the parquet sink == batch") {
    import graft.text.TextAnalysis
    val stage = java.nio.file.Files.createTempDirectory("pii_docs")
    graft.streaming.StreamingOps.deleteOnExit(stage)
    StreamingOps.deleteOnExit(stage)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      stage.resolve("documents.parquet"))
    def scrub(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.withPiiRedacted(
        df.select($"doc_id",
          concat($"text", lit(" mail a@b.io at 10.0.0."),
            pmod($"doc_id", lit(256)).cast("string")).as("text")))
        .select($"doc_id", $"n_emails", $"n_ips", $"redacted")
    val streamed = StreamingOps.runToParquet(spark, stage.toString,
      "pii_scrub_spec", scrub)
    val batch = scrub(spark.read.parquet(stage.toString))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming scrub must equal the batch scrub row-for-row")
    assert(streamed.filter($"n_emails" =!= 1 || $"n_ips" =!= 1).isEmpty)
  }

  test("streaming transitions: final per-user update == batch lag counts under forced multi-batch slicing") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val events = graft.model.Frames.normalizeTsNanos(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val stage = Files.createTempDirectory("trans_events")
    graft.streaming.StreamingOps.deleteOnExit(stage)
    StreamingOps.deleteOnExit(stage)
    // hash repartition scatters each user's events across files, so later
    // micro-batches deliver EARLIER events — the sorted-state contract is
    // exactly what this exercises
    events.repartition(4).write.mode("overwrite").parquet(stage.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(stage.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    def toSeqEvents(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"ts".cast("long").as("tu"), $"event_id", $"event_type")
      .as[StreamingOps.SeqEvent]
    val q = StreamingOps.runningTransitions(toSeqEvents(stream)).toDF()
      .writeStream.outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("trans_multi_batch").start()
    q.awaitTermination()
    val sink = spark.table("trans_multi_batch")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val got = sink.withColumn("_mx", max("n_events").over(w))
      .filter($"n_events" === $"_mx")
      .groupBy("prev_type", "next_type").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tu", "event_id")
    val batch = toSeqEvents(events).toDF()
      .withColumn("prev_type", lag("event_type", 1).over(wUser))
      .filter($"prev_type".isNotNull)
      .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch)
    // the slicing was real: at least one user updated more than once
    assert(sink.select($"user_id", $"n_events").distinct()
      .groupBy("user_id").count().filter($"count" > 1).count() > 0,
      "stream collapsed to a single micro-batch — slicing not exercised")
  }

  test("streaming capped sessions: final per-user update == batch fold under forced multi-batch slicing") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val events = graft.model.Frames.normalizeTsNanos(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val stage = Files.createTempDirectory("capped_events")
    graft.streaming.StreamingOps.deleteOnExit(stage)
    StreamingOps.deleteOnExit(stage)
    // scatter each user's events across files so later micro-batches carry
    // EARLIER timestamps — out-of-order arrivals must re-split boundaries
    events.repartition(4).write.mode("overwrite").parquet(stage.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(stage.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val gap = 43200000000000L; val cap = 86400000000000L
    val q = StreamingOps.runningCappedSessions(
        stream.select($"user_id", $"ts".cast("long").as("tn"), $"event_id")
          .as[StreamingOps.SessEvent], gap, cap).toDF()
      .writeStream.outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("capped_multi_batch").start()
    q.awaitTermination()
    val sink = spark.table("capped_multi_batch")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val got = sink.withColumn("_mx", max("n_events").over(w))
      .filter($"n_events" === $"_mx")
      .select("user_id", "n_events", "n_sessions", "n_cap_splits", "max_sess_events")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val batch = graft.operators.Sessionize.cappedSessionStats(
        events, "user_id", "ts", "event_id", gap, cap)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === batch)
    assert(sink.select($"user_id", $"n_events").distinct()
      .groupBy("user_id").count().filter($"count" > 1).count() > 0,
      "stream collapsed to a single micro-batch — slicing not exercised")
  }
}
