package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryDef.table
import graft.model.{Frames, Synthetic}
import graft.operators.{DspOperators, Pipeline}

/** The spectral (FFT-backed) operator surface — resample, notch, wavelet,
  * full pipeline, synthetic source (SURVEY.md §2: F5-F11, S5, ST1-ST2).
  * Each carries an exact DuckDB oracle from SpectralOracles (direct DFT for
  * the FFT operators; a bit-exact HUGEINT splitmix64 replica for the
  * synthetic source) — at verify scale an O(n²) DFT in SQL is cheap — on top
  * of the golden-vector and semantics specs (src/test/scala/graft/dsp)
  * which pin these operators to numpy/reference behavior.
  *
  * Output traces are exploded to long form with rounded values so results
  * are stable, schema-simple parquet.
  */
object Spectral {

  // fused adapter: identical result to
  // toSegments(rectangularize(eventsToLong(...))) — SparkOperatorsSpec pins
  // the equivalence — with one sample-level shuffle instead of three
  private def segments(s: SparkSession, dir: String): DataFrame =
    Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)

  private def toLongRounded(seg: DataFrame): DataFrame =
    Frames.toLong(seg)
      .select(col("channel"), col("band"), col("t_idx"), round(col("value"), 6).as("value"))
      .orderBy("channel", "band", "t_idx")

  /** Structural exchange count: collects ShuffleExchangeLike /
    * BroadcastExchangeLike nodes, recursing through the leaf-like AQE
    * wrappers (AdaptiveSparkPlanExec.executedPlan, QueryStageExec.plan,
    * ReusedExchangeExec.child) that a plain tree-collect cannot see.
    * Robust against plan-STRING format changes across Spark versions —
    * the r13 version substring-matched `toString` lines. */
  private[graft] def countExchanges(
      plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => n += 1
        case _ => ()
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        // a ShuffleQueryStageExec/BroadcastQueryStageExec's `plan` IS the
        // materialized exchange — recursing counts it
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case other => other.children.foreach(walk)
      }
    }
    walk(plan)
    n
  }

  /** q361: runs the storage-partitioned join eagerly under the V2-bucketing
    * confs (saved/restored around the action) and returns the 8-row result
    * plus the executed plan's exchange count — structural (see
    * [[countExchanges]]), covering shuffle AND broadcast exchanges: the
    * claim is NO exchange of any kind, so a planner regression to
    * broadcast must fail the oracle's 0. */
  private def q361Build(s: SparkSession): DataFrame = {
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> s.conf.get(k))
    try {
      s.conf.set(keys(0), "true")
      s.conf.set(keys(1), "true")
      s.conf.set(keys(2), "-1")
      def synth(seed: Int) = s.read.format("graft.sources.SyntheticSource")
        .option("nchannels", 8).option("ntime", 800).option("seed", seed)
        .option("channelsperpartition", 1)
        .load()
      val left = synth(42)
        .select(col("channel"),
          expr("CAST(round(value * 1000000000) AS BIGINT)").as("ve9"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_left"), sum("ve9").as("sum_left_e9"))
      val right = synth(43)
        .filter(col("t") < 400)
        .select(col("channel"),
          expr("CAST(round(value * 1000000000) AS BIGINT)").as("ve9"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_right"), sum("ve9").as("sum_right_e9"))
      val joined = left.join(right, "channel")
      val rows = joined.collect()
      val exchanges = countExchanges(joined.queryExecution.executedPlan)
      import s.implicits._
      rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), exchanges))
        .toDF("channel", "n_left", "sum_left_e9", "n_right", "sum_right_e9",
          "exchanges_in_plan")
        .orderBy("channel")
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** q363: stored-series SPJ, run eagerly under the V2-bucketing confs
    * (saved/restored): write two event-derived series through the
    * bucketed store, read them back via the catalog-free V2 bucketed
    * scan, join per-channel aggregates, and emit the executed plan's
    * structural exchange count (see [[countExchanges]]) for the oracle
    * to pin at 0. */
  private def q363Build(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> s.conf.get(k))
    try {
      s.conf.set(keys(0), "true")
      s.conf.set(keys(1), "true")
      s.conf.set(keys(2), "-1")
      val root = java.nio.file.Files.createTempDirectory("q363_store")
      // recursive-delete hook — File.deleteOnExit cannot remove a
      // non-empty directory (the q367 ADVICE finding)
      graft.streaming.StreamingOps.deleteOnExit(root)
      val store = new graft.store.NwbStore(root.toString, s)
      val ev = s.read.parquet(s"$dir/events.parquet")
      def toSeries(df: DataFrame) = df.select(
        expr("CAST(event_id % 8 AS INT)").as("channel"),
        col("event_id").as("t_idx"), col("value"))
      store.writeProcessingBucketed("spj_a", toSeries(ev), nBuckets = 4)
      store.writeProcessingBucketed("spj_b",
        toSeries(ev.filter(col("event_type") === "click")), nBuckets = 4)
      def side(name: String, nCol: String, sumCol: String) =
        store.readProcessingBucketedV2(name, nBuckets = 4, nChannels = 8)
          .select(col("channel"),
            expr("CAST(round(value * 1000000000) AS BIGINT)").as("ve9"))
          .groupBy("channel")
          .agg(count(lit(1)).as(nCol), sum("ve9").as(sumCol))
      val joined = side("spj_a", "n_left", "sum_left_e9")
        .join(side("spj_b", "n_right", "sum_right_e9"), "channel")
      val rows = joined.collect()
      val exchanges = countExchanges(joined.queryExecution.executedPlan)
      import s.implicits._
      rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), exchanges))
        .toDF("channel", "n_left", "sum_left_e9", "n_right", "sum_right_e9",
          "exchanges_in_plan")
        .orderBy("channel")
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q30_resample", "F5/F6 FFT rational resampling (1000->250 Hz)",
      (s, dir) => toLongRounded(DspOperators.resample(segments(s, dir), 250.0)),
      Some(SpectralOracles.q30())),

    QueryDef("q31_notch", "F7 60 Hz line-noise notch",
      (s, dir) => toLongRounded(DspOperators.applyLinenoiseNotch(segments(s, dir))),
      Some(SpectralOracles.q31())),

    QueryDef("q32_wavelet_amplitude", "F8-F11 wavelet filterbank amplitude (human, hg-only)",
      (s, dir) => toLongRounded(
        DspOperators.waveletAmplitude(segments(s, dir), "human", hgOnly = true)),
      Some(SpectralOracles.q32())),

    QueryDef("q33_pipeline_high_gamma", "S1-S3/ST1-ST2 full preprocess_block + tutorial tail",
      (s, dir) => {
        val amp = Pipeline.preprocessBlock(segments(s, dir), 8,
          Pipeline.Config(initialRate = 1000.0, finalRate = Some(250.0),
            filters = "human", hgOnly = true, scaling = 1.0))
        toLongRounded(Pipeline.highGammaTrace(amp, baselineSamples = 50))
      },
      Some(SpectralOracles.q33())),

    QueryDef("q34_synthetic_source", "S5 deterministic synthetic ECoG source",
      (s, dir) => toLongRounded(
        Synthetic.segments(s, duration = 2.0, nChannels = 8, rate = 400.0, seed = 42)),
      Some(SpectralOracles.q34())),

    QueryDef("q303_dsv2_source_scan",
      "DataSource V2 synthetic table: pushed channel-range scan + per-channel aggregates",
      // the engine-native source surface: graft.sources.SyntheticSource is
      // a full DSv2 TableProvider — one InputPartition per channel block,
      // channel predicates prune partitions at PLANNING time
      // (SupportsPushDownFilters; the [2, 5] filter below plans exactly 4
      // of 8 partitions — spec-asserted), and column pruning reaches the
      // reader (a value-free scan skips trace generation). Certified the
      // q34 way: the oracle REBUILDS splitmix64 + Box-Muller + boxcar(50)
      // in SQL and must match the source's per-channel e9-rounded sums.
      (s, dir) => {
        import org.apache.spark.sql.functions._
        s.read.format("graft.sources.SyntheticSource")
          .option("nchannels", 8).option("ntime", 800).option("seed", 42)
          .load()
          .filter(col("channel") >= 2 && col("channel") <= 5)
          .select(col("channel"),
            expr("CAST(round(value * 1000000000) AS BIGINT)").as("ve9"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_samples"), sum("ve9").as("sum_v_e9"),
            max("ve9").as("max_v_e9"))
          .orderBy("channel")
      },
      Some(SpectralOracles.q303(2, 5))),

    QueryDef("q361_spj_channel_join",
      "DSv2 storage-partitioned join: KeyGroupedPartitioning on channel, zero-Exchange plan",
      // Two independently-seeded synthetic corpora, each key-grouped on
      // `channel` (channelsPerPartition=1 => one InputPartition per channel,
      // HasPartitionKey + SupportsReportPartitioning). Under V2 bucketing
      // the per-channel aggregates ride the storage partitioning (no
      // exchange before either HashAggregate) and the join co-locates by
      // partition key (no exchange on either join side) — the V2 analogue
      // of co-located bucketed tables, and the shuffle that would dominate
      // a 100 TB channel-keyed join simply never happens. The build runs
      // EAGERLY and emits the executed plan's exchange count as a column
      // pinned to 0 by the oracle, so the shuffle-elision itself is
      // driver-certified (SpjSpec additionally pins checksum equality with
      // the shuffled plan).
      (s, dir) => q361Build(s),
      Some(SpectralOracles.q361(42L, 43L, 400))),

    QueryDef("q363_spj_stored_join",
      "stored-series SPJ: bucketed store read back catalog-free as " +
        "KeyGroupedPartitioning(channel), zero-Exchange join of two series",
      // q361 certifies the SPJ contract on GENERATED partitions; this
      // closes the loop for STORED data: two series derived from the
      // events table are written through writeProcessingBucketed
      // (bucketBy(4, channel) + in-bucket sort), then read back through
      // the catalog-free V2 scan (graft.sources.BucketedNwbSource) that
      // recomputes Spark's murmur3 bucket placement per channel and
      // reports KeyGroupedPartitioning(identity(channel)) — so the
      // channel-keyed per-series aggregates and the join between them
      // plan with ZERO exchanges over real parquet files, with no
      // dependency on the writer's session catalog. The executed plan's
      // structural exchange count rides the result; the oracle pins it to
      // 0 and replays both series' aggregates from the events table.
      (s, dir) => q363Build(s, dir),
      Some(SpectralOracles.q363())),

    QueryDef("q35_wavelet_phase", "F12 wavelet phase (the reference's abs_only=False path)",
      (s, dir) => toLongRounded(DspOperators.phase(
        DspOperators.waveletTransform(segments(s, dir), "human", hgOnly = true))),
      Some(SpectralOracles.q35())),

    // J3 band-metadata dimension as a first-class checked table: every
    // filterbank x hg-pruning combination with its (band, cf, sd) rows —
    // the dim the pipeline joins onto wavelet output. Oracle replicates
    // numpy-logspace cfs (exact 10^hi endpoint), const-Q sd = cf/8, and the
    // changlab sd = 10^(log10(0.39) + 0.5 log10(cf)) * sqrt(2)
    // (utils.py:34-73).
    QueryDef("q38_band_metadata", "J3/F10 filterbank band metadata dimension",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        Seq("rat", "human", "changlab").map { f =>
          Seq(false, true).map { hg =>
            DspOperators.bandMetadata(s, f, hg)
              .select(lit(f).as("filters"), lit(hg).as("hg_only"), col("band"),
                round(col("cf"), 6).as("cf"), round(col("sd"), 6).as("sd"))
          }.reduce(_ unionAll _)
        }.reduce(_ unionAll _).orderBy("filters", "hg_only", "band")
      },
      Some("""WITH raw AS (
  SELECT f.filters, g.g,
         CASE WHEN g.g = f.n - 1 THEN power(10, log10(f.fmax))
              ELSE power(10, log10(f.fmin) + g.g * (log10(f.fmax) - log10(f.fmin)) / (f.n - 1))
         END AS cf
  FROM (VALUES ('rat', 2.6308, 1200.0, 54),
               ('human', 4.0749286538265, 200.0, 40),
               ('changlab', 4.0749286538265, 200.0, 40)) f(filters, fmin, fmax, n)
  CROSS JOIN (SELECT unnest(generate_series(0, 53)) AS g) g
  WHERE g.g < f.n
), pruned AS (
  SELECT r.filters, h.hg_only, r.cf,
         CASE WHEN r.filters = 'changlab'
              THEN power(10, log10(0.39) + 0.5 * log10(r.cf)) * sqrt(2.0)
              ELSE r.cf / 8.0 END AS sd,
         CAST(row_number() OVER (PARTITION BY r.filters, h.hg_only ORDER BY r.g) - 1 AS INT) AS band
  FROM raw r CROSS JOIN (SELECT unnest([false, true]) AS hg_only) h
  WHERE NOT h.hg_only OR (r.cf >= 70.0 AND r.cf <= 150.0)
)
SELECT filters, hg_only, band, round(cf, 6) AS cf, round(sd, 6) AS sd
FROM pruned ORDER BY filters, hg_only, band""")),

    // F9 band-limited Hamming kernel (wavelet_transform.py:40-71): the
    // declared-API kernel, emitted as its full two-sided 1000-bin grid at
    // rate 1000 Hz for the 60-120 Hz band. The oracle rebuilds numpy
    // fftfreq ordering, per-side hamming windows (m=1 special case kept),
    // and the L2 norm over the whole grid. Kernels are tiny driver-built
    // dims by design (broadcast at scale), so a 1000-row local Dataset is
    // the honest shape.
    QueryDef("q39_hamming_kernel", "F9 band-limited two-sided Hamming kernel",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions._
        graft.dsp.Kernels.hammingKernel(1000, 1000.0, 60.0, 120.0)
          .zipWithIndex.map { case (v, k) => (k, v) }.toSeq
          .toDF("k", "value")
          .select(col("k").cast("long").as("k"), round(col("value"), 9).as("value"))
          .orderBy("k")
      },
      Some("""WITH idx AS (SELECT unnest(generate_series(0, 999)) AS k),
freqs AS (SELECT k, CASE WHEN k < 500 THEN k ELSE k - 1000 END * 1.0 AS f FROM idx),
pos AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS i, count(*) OVER () AS m
        FROM freqs WHERE f >= 60.0 AND f <= 120.0),
neg AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS i, count(*) OVER () AS m
        FROM freqs WHERE f <= -60.0 AND f >= -120.0),
win AS (
  SELECT k, CASE WHEN m = 1 THEN 1.0
                 ELSE 0.54 - 0.46 * cos(2 * pi() * i / (m - 1)) END AS w FROM pos
  UNION ALL
  SELECT k, CASE WHEN m = 1 THEN 1.0
                 ELSE 0.54 - 0.46 * cos(2 * pi() * i / (m - 1)) END AS w FROM neg
), nrm AS (SELECT sqrt(sum(w * w)) AS n FROM win)
SELECT i.k AS k, round(coalesce(w.w / nrm.n, 0.0), 9) AS value
FROM idx i LEFT JOIN win w ON w.k = i.k CROSS JOIN nrm
ORDER BY i.k""")),

    // ST1/ST3 the overlap-add WINDOWING SPINE itself — the bounded-row
    // ingest/stitch path every 100 TB chain rides (windowLong: fragment
    // packing + one sample shuffle; stitch: crossfade-weighted combine) —
    // driver-gated through its conservation law: stitch(window(x)) == x.
    // Values are pre-quantized to a 1e-3 grid so the crossfade's ~1-ulp
    // arithmetic noise rounds away identically in both engines; the result
    // is a per-(channel, stride-block) census of count (loss/dup) and a
    // position-weighted integer checksum (permutation, misalignment,
    // mis-weighting — including the partial last window and the trace
    // edges where stitch weights self-correct). The oracle never windows:
    // it reads the SAME rectangularized long frame directly, which is the
    // whole point — two shuffles of windowing machinery must be invisible.
    QueryDef("q368_window_stitch_roundtrip",
      "ST1/ST3 overlap-add windowing spine: windowLong -> stitch conservation",
      (s, dir) => {
        val stride = 256
        val context = 64
        val long = Frames.rectangularize(
            Frames.eventsToLong(table(s, dir, "events"), 8, 1000.0))
          .withColumn("value", floor(col("value") * 1000) / lit(1000.0))
        val back = graft.operators.Windowing.stitchedToLong(
          graft.operators.Windowing.stitch(
            graft.operators.Windowing.windowLong(long, stride, context),
            stride, context), stride)
        back.groupBy(col("channel"), expr(s"t_idx div $stride").as("blk"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1000).cast("long") * (col("t_idx") + 1))
              .as("wsum"))
          .orderBy("channel", "blk")
      },
      Some(s"""${QueryDef.EventsRectSql}
SELECT channel, t_idx // 256 AS blk, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(floor(value * 1000) AS BIGINT) * (t_idx + 1)) AS BIGINT) AS wsum
FROM rect GROUP BY 1, 2 ORDER BY 1, 2""")),

    // S3/J4 the derived-series STORE NAMING + provenance chain
    // (preprocess_block, pipelines.py:70-110): each store prefixes the
    // name of the series it consumed, so the chain accretes
    // downsampled_S -> CAR_ln_downsampled_S (+ CAR_of_downsampled_S) ->
    // wvlt_amp_CAR_ln_downsampled_S. The query RUNS the store chain
    // against a temp root and emits the resulting table inventory with
    // its shape facts (rows, channels, bands, stored rate, length
    // uniformity) — all SF-independent by construction, so the oracle is
    // the reference contract itself as literals: the hash certifies that
    // the writes produce EXACTLY the reference's table names with the
    // shapes the naming promises (the per-table COUNTS certify provenance
    // — e.g. the wavelet table must hold channels x hgOnly-bands rows of
    // uniform post-resampled length). Values/math parity of the stored
    // bytes is q20-q39's job; this row pins the API surface a reference
    // user navigates by.
    QueryDef("q369_store_naming_contract",
      "S3/J4 derived-series sink naming + provenance chain",
      (s, dir) => {
        import s.implicits._
        val root = java.nio.file.Files.createTempDirectory("q369_store")
        graft.streaming.StreamingOps.deleteOnExit(root)
        val segs = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        graft.operators.Store.storePreprocessBlock(segs, root.toString,
          "events", 8, graft.operators.Pipeline.Config(
            initialRate = 500.0, finalRate = Some(250.0)))
        val tables = new java.io.File(s"$root/preprocessing")
          .listFiles().map(_.getName).sorted.toSeq
        val rows = tables.map { t =>
          val df = s.read.parquet(s"$root/preprocessing/$t")
          (t,
            df.count(),
            df.select("channel").distinct().count(),
            df.filter(col("band").isNotNull).select("band").distinct().count(),
            df.select(max(col("rate"))).head().getDouble(0),
            df.select(countDistinct(size(col("values")))).head().getLong(0))
        }
        rows.toDF("tbl", "n_rows", "n_channels", "n_bands", "rate",
            "n_distinct_lens")
          .orderBy("tbl")
      },
      Some("""SELECT * FROM (VALUES
  ('CAR_ln_downsampled_events', CAST(8 AS BIGINT), CAST(8 AS BIGINT),
   CAST(0 AS BIGINT), CAST(500.0 AS DOUBLE), CAST(1 AS BIGINT)),
  ('CAR_of_downsampled_events', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
   CAST(0 AS BIGINT), CAST(500.0 AS DOUBLE), CAST(1 AS BIGINT)),
  ('downsampled_events', CAST(8 AS BIGINT), CAST(8 AS BIGINT),
   CAST(0 AS BIGINT), CAST(500.0 AS DOUBLE), CAST(1 AS BIGINT)),
  ('wvlt_amp_CAR_ln_downsampled_events', CAST(48 AS BIGINT), CAST(8 AS BIGINT),
   CAST(6 AS BIGINT), CAST(250.0 AS DOUBLE), CAST(1 AS BIGINT))
) AS t(tbl, n_rows, n_channels, n_bands, rate, n_distinct_lens)
ORDER BY tbl""")),

    // S1/S8 the NWB-file-abstraction SCAN with the reference's
    // legacy-layout fallback (pipelines.py:61-65: `acquisition[name]`
    // else `acquisition['Raw'][name]`) and the `copy_strip` utility
    // (scripts/copy_strip). The query writes the SAME events-derived
    // series under both layouts, reads each back through
    // `readAcquisition` (so 'sig_legacy' resolves ONLY via the
    // fallback), and emits a per-channel count + position-weighted
    // integer checksum of the round-tripped samples — the oracle
    // recomputes them from the events table directly, so the hash
    // certifies the store scan returns exactly the written values
    // whichever layout holds them. Two inventory rows certify
    // stripProcessing: a derived table exists before the strip and the
    // processing namespace is empty after.
    QueryDef("q370_store_scan_legacy_strip",
      "S1 scan + legacy fallback; S8 strip/copy utility",
      (s, dir) => {
        import s.implicits._
        val root = java.nio.file.Files.createTempDirectory("q370_store")
        graft.streaming.StreamingOps.deleteOnExit(root)
        val store = new graft.store.NwbStore(root.toString, s)
        val segs = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        store.writeAcquisition("sig", segs)
        segs.write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$root/acquisition/Raw/sig_legacy")
        store.writeProcessing("tmp_derived", segs)
        val preStrip = store.listProcessing().size.toLong
        store.stripProcessing()
        val postStrip = store.listProcessing().size.toLong
        def census(name: String): DataFrame =
          Frames.toLong(store.readAcquisition(name))
            .groupBy(col("channel"))
            .agg(count(lit(1)).as("n"),
              sum(floor(col("value") * 1000) * (col("t_idx") + 1)).as("wsum"))
            .select(lit(name).as("item"), col("channel"), col("n"), col("wsum"))
        census("sig")
          .unionAll(census("sig_legacy"))
          .unionAll(Seq(
            ("pre_strip_processing", -1, preStrip, 0L),
            ("post_strip_processing", -1, postStrip, 0L))
            .toDF("item", "channel", "n", "wsum"))
          .orderBy("item", "channel")
      },
      Some(s"""${QueryDef.EventsRectSql}
SELECT 'sig' AS item, channel, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(floor(value * 1000) AS BIGINT) * (t_idx + 1)) AS BIGINT) AS wsum
FROM rect GROUP BY 2
UNION ALL
SELECT 'sig_legacy' AS item, channel, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(floor(value * 1000) AS BIGINT) * (t_idx + 1)) AS BIGINT) AS wsum
FROM rect GROUP BY 2
UNION ALL
SELECT 'pre_strip_processing', CAST(-1 AS INT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)
UNION ALL
SELECT 'post_strip_processing', CAST(-1 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
ORDER BY item, channel""")),

    // P3 the NYQUIST GUARD PREDICATES: (a) the notch is an exact no-op
    // when the line frequency sits above Nyquist (Signal.notch's early
    // return, mirroring linenoise_notch.py's harmonic loop never
    // entering) — certified by notching a 100 Hz-rate series (Nyquist
    // 50 < 60) and checksumming the OUTPUT against an oracle that
    // recomputes the checksums from the raw events table: only a
    // bit-exact pass-through hashes equal; (b) the wavelet filterbank
    // REFUSES above Nyquist exactly like the reference's ValueError
    // (wavelet_transform.py:121-125) — the full 'rat' bank (max cf
    // 1200 Hz) must raise at rate 2000, while the hgOnly bank builds 6
    // bands at rate 400. Guard outcomes are literal census rows.
    QueryDef("q371_nyquist_guards",
      "P3 Nyquist guard predicates (notch no-op below Nyquist; wavelet refusal above)",
      (s, dir) => {
        import s.implicits._
        val segs = Frames.eventsToSegments(table(s, dir, "events"), 8, 100.0)
        val notched = DspOperators.applyLinenoiseNotch(segs)
        val idCensus = Frames.toLong(notched)
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000) * (col("t_idx") + 1)).as("wsum"))
          .select(lit("notch_above_nyquist_noop").as("item"), col("channel"),
            col("n"), col("wsum"))
        val raised =
          try { graft.dsp.Kernels.filterbank("rat", 4096, 2000.0, hgOnly = false); 0L }
          catch { case _: IllegalArgumentException => 1L }
        val okBands =
          graft.dsp.Kernels.filterbank("rat", 4096, 400.0, hgOnly = true)
            .kernels.length.toLong
        idCensus.unionAll(Seq(
            ("wavelet_rat_full_raises_at_2000", -1, raised, 0L),
            ("wavelet_rat_hg_bands_at_400", -1, okBands, 0L))
          .toDF("item", "channel", "n", "wsum"))
          .orderBy("item", "channel")
      },
      Some(s"""${QueryDef.EventsRectSql}
SELECT 'notch_above_nyquist_noop' AS item, channel,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(floor(value * 1000) AS BIGINT) * (t_idx + 1)) AS BIGINT) AS wsum
FROM rect GROUP BY 2
UNION ALL
SELECT 'wavelet_rat_full_raises_at_2000', CAST(-1 AS INT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)
UNION ALL
SELECT 'wavelet_rat_hg_bands_at_400', CAST(-1 AS INT), CAST(6 AS BIGINT), CAST(0 AS BIGINT)
ORDER BY item, channel""")),

    // S7 the FOLDER DRIVER (scripts/preprocess_folder): two session
    // stores with DIFFERENT channel counts are laid out under one root,
    // discovered by the driver's own FS listing, and each preprocessed
    // through `PreprocessFolder.preprocessStore` with --all-steps and
    // --precision single (the reference's float32 compute default). The
    // census reads every session's processing namespace back: the
    // accreted table names and their provenance-shaped row counts
    // (channels, channels, 1 CAR-average, channels x 6 hg bands) are the
    // reference contract as literals — per session, so a driver that
    // mixed sessions up or skipped one cannot hash equal.
    QueryDef("q372_folder_driver",
      "S7 folder driver CLI over multi-session store roots",
      (s, dir) => {
        import s.implicits._
        val root = java.nio.file.Files.createTempDirectory("q372_sessions")
        graft.streaming.StreamingOps.deleteOnExit(root)
        val events = table(s, dir, "events")
        val a = new graft.store.NwbStore(s"$root/sess_a", s)
        a.writeAcquisition("ECoG", Frames.eventsToSegments(events, 8, 1000.0))
        val b = new graft.store.NwbStore(s"$root/sess_b", s)
        b.writeAcquisition("ECoG", Frames.eventsToSegments(
          events.filter(pmod(col("user_id"), lit(8)) < 4), 4, 1000.0))
        val args = graft.tools.PreprocessFolder.parse(Array(root.toString,
          "--initial-rate", "500", "--final-rate", "250", "--all-steps",
          "--precision", "single"))
        // the driver's own discovery: list session dirs under the root
        val fs = new org.apache.hadoop.fs.Path(args.root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val sessions = fs.listStatus(new org.apache.hadoop.fs.Path(args.root))
          .filter(_.isDirectory).map(_.getPath.toString).sorted
        val rows = sessions.flatMap { sess =>
          val store = new graft.store.NwbStore(sess, s)
          graft.tools.PreprocessFolder.preprocessStore(store, args)
          val name = sess.split('/').last
          store.listProcessing().map(t =>
            (name, t, store.readProcessing(t).count()))
        }.toSeq
        rows.toDF("session", "tbl", "n_rows").orderBy("session", "tbl")
      },
      Some("""SELECT * FROM (VALUES
  ('sess_a', 'CAR_ln_downsampled_ECoG', CAST(8 AS BIGINT)),
  ('sess_a', 'CAR_of_downsampled_ECoG', CAST(1 AS BIGINT)),
  ('sess_a', 'downsampled_ECoG', CAST(8 AS BIGINT)),
  ('sess_a', 'wvlt_amp_CAR_ln_downsampled_ECoG', CAST(48 AS BIGINT)),
  ('sess_b', 'CAR_ln_downsampled_ECoG', CAST(4 AS BIGINT)),
  ('sess_b', 'CAR_of_downsampled_ECoG', CAST(1 AS BIGINT)),
  ('sess_b', 'downsampled_ECoG', CAST(4 AS BIGINT)),
  ('sess_b', 'wvlt_amp_CAR_ln_downsampled_ECoG', CAST(24 AS BIGINT))
) AS t(session, tbl, n_rows) ORDER BY session, tbl""")),

    // F1 precision='single' (utils.py:9-31), the last spec-only SURVEY §2
    // row, made driver-visible (r18 VERDICT item 5). f32 VALUE parity of
    // the FFT pipeline stays with the golden-vector specs — DuckDB has no
    // f32 FFT to oracle against — but the STORAGE contract is fully
    // oracle-checkable: (a) the stored column is FloatType (schema string
    // rides the result, oracle pins the literal), (b) the double→float
    // cast at the boundary is IEEE round-to-nearest — DuckDB's
    // CAST(AS REAL) replays it bit-for-bit, certified through e9 integer
    // checksums of the f32 values widened back to f64 (exact widening),
    // (c) the parquet FloatType round-trip is lossless (readback ==
    // pre-write cast, emitted as a count the oracle fixes at n). Source =
    // the splitmix64 synthetic raw noise (the q303/q34 replica), so every
    // checksummed value is derivable by both engines from first
    // principles.
    QueryDef("q386_f32_storage_contract",
      "F1 float32 storage boundary: FloatType schema, IEEE cast checksums, lossless round-trip",
      (s, dir) => {
        val root = java.nio.file.Files.createTempDirectory("q386_store")
        graft.streaming.StreamingOps.deleteOnExit(root)
        val store = new graft.store.NwbStore(root.toString, s)
        val src = s.read.format("graft.sources.SyntheticSource")
          .option("nchannels", 8).option("ntime", 800).option("seed", 42)
          .load() // (channel INT, t INT, value DOUBLE)
        store.writeProcessing("single_raw",
          graft.store.NwbStore.withPrecision(src, "single"))
        val back = store.readProcessing("single_raw")
        val storedType = back.schema("value").dataType.simpleString
        val expected = src.select(col("channel"), col("t"),
          col("value").cast("float").as("vexp"))
        back.join(expected, Seq("channel", "t"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_samples"),
            sum(floor(col("value").cast("double") * lit(1e9))).as("sum_f32_e9"),
            sum(when(col("value") === col("vexp"), 1L).otherwise(0L))
              .as("n_roundtrip_exact"))
          .select(col("channel"), lit(storedType).as("stored_type"),
            col("n_samples"), col("sum_f32_e9"), col("n_roundtrip_exact"))
          .orderBy("channel")
      },
      Some(s"""|WITH ${SpectralOracles.rawNoiseCtesFor(42L).trim.stripSuffix(",")}
               |SELECT ch AS channel, 'float' AS stored_type,
               |  count(*) AS n_samples,
               |  CAST(sum(CAST(floor(CAST(CAST(v AS REAL) AS DOUBLE) * 1e9)
               |    AS BIGINT)) AS BIGINT) AS sum_f32_e9,
               |  CAST(count(*) AS BIGINT) AS n_roundtrip_exact
               |FROM smoothed GROUP BY ch ORDER BY channel""".stripMargin)))
}
