package graft.model

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** The engine's two layouts for multichannel uniformly-sampled time series
  * (SURVEY.md §1.4), with lossless converters.
  *
  * - **SegmentFrame** — one row per channel(-band) trace:
  *   `(series string, channel int, band int?, rate double, startingTime
  *   double, values array<double>)`. The unit of DSP work: every FFT operator
  *   is a narrow per-row map, so Spark parallelizes across channels exactly
  *   like the reference's chunked iterator
  *   (/root/reference/src/process_nwb/wavelet_transform.py:142-235) but
  *   concurrently instead of serially.
  *
  * - **LongFrame** — one row per sample:
  *   `(series, t_idx long, channel, band?, rate, startingTime, value double)`.
  *   The relational layout: CAR is a groupBy(t_idx), z-score a broadcast
  *   join, electrode metadata an equi-join.
  *
  * At 100 TB, segments cap a row at one channel's trace; long recordings
  * should be windowed into bounded segments upstream (series name encodes the
  * window). All operators here are per-segment and don't care.
  */
object Frames {

  val SegmentCols = Seq("series", "channel", "band", "rate", "startingTime", "values")

  /** The SegmentFrame schema, as `NwbStore.writeAcquisition` writes it and
    * `readAcquisition` reads it back without inferring it from the files. */
  val SegmentSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "series string, channel int, band int, rate double, startingTime double, " +
        "values array<double>")

  /** Normalize an events frame's `ts` column to long NANOS regardless of the
    * physical parquet type the harness wrote. Two generations exist:
    * TIMESTAMP(NANOS), which Spark 4 only reads under
    * `spark.sql.legacy.parquet.nanosAsLong` (arrives here as LongType nanos —
    * pass through), and TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ
    * (or LTZ) and is converted via `unix_micros * 1000`. The NTZ->LTZ cast
    * is wall-clock-in-session-TZ; the session is pinned to UTC so the epoch
    * value is preserved exactly — the same interpretation DuckDB's
    * `epoch_ns`/`epoch_us` give the naive timestamp, keeping every oracle
    * comparison aligned. Narrow projection: no shuffle, streaming-safe. */
  def normalizeTsNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }
  }

  /** SegmentFrame -> LongFrame. Narrow (no shuffle): posexplode. */
  def toLong(segments: DataFrame): DataFrame =
    segments.select(
      col("series"), col("channel"), col("band"), col("rate"), col("startingTime"),
      posexplode(col("values")).as(Seq("t_idx", "value")))

  /** LongFrame -> SegmentFrame. One shuffle on the segment key; values are
    * re-ordered by t_idx inside the aggregation (O(n) placement for the
    * dense case), so input order is free. Assembly is the native
    * `assemble_series` aggregate: packed primitive buffers instead of
    * per-sample struct rows (see SeriesAssembleAggregate). */
  def toSegments(long: DataFrame): DataFrame =
    long.groupBy("series", "channel", "band", "rate", "startingTime")
      .agg(graft.functions.SeriesAssembleFunctions.assembleSeries(
        long.sparkSession, col("t_idx").cast("long"), col("value").cast("double"))
        .as("values"))

  /** Dense 0-based index per key, ordered by `orderCols`, WITHOUT a
    * single-window-per-key sort: rows are bucketed by a coarse prefix of the
    * ordering (`bucketCol`, e.g. an hour of event time), ranked inside each
    * (key, bucket) — parallelism = keys × buckets, so it grows with data
    * span instead of funnelling each key through one task — and offset by
    * the running count of earlier buckets (a window over the tiny
    * per-bucket-count aggregate, broadcast-joined back). Bucket boundaries
    * must respect the ordering (bucketCol is derived from its leading
    * column), so concatenating bucket-local ranks reproduces the global
    * per-key rank exactly. */
  def denseIndexByKey(df: DataFrame, keyCols: Seq[String], bucketCol: Column,
                      orderCols: Seq[Column], as: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.withColumn("_bucket", bucketCol)
    val key = keyCols.map(col)
    val counts = keyed.groupBy((key :+ col("_bucket")): _*).count()
    val runningW = Window.partitionBy(key: _*).orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_offset", coalesce(sum(col("count")).over(runningW), lit(0L)))
      .drop("count")
    val inBucketW = Window.partitionBy((key :+ col("_bucket")): _*).orderBy(orderCols: _*)
    keyed
      .join(broadcast(offsets), keyCols :+ "_bucket")
      .withColumn(as, (col("_offset") + row_number().over(inBucketW) - 1).cast("long"))
      .drop("_bucket", "_offset")
  }

  /** Adapt the harness `events` table (event_id, ts, user_id, event_type,
    * value, props) into a LongFrame: user buckets become channels, per-channel
    * row order becomes t_idx (deterministic: ordered by ts then event_id).
    * `rate` is a declared nominal rate — the reference's model is "uniform
    * sampling declared by metadata", see SURVEY.md §1.1.
    *
    * t_idx is assigned via denseIndexByKey bucketed by event hour: no
    * whole-channel window, so the sort parallelism scales with recording
    * span (nChannels × hours tasks) instead of pinning each channel's entire
    * history to one task. `ts` is normalized to long nanos at entry
    * ([[normalizeTsNanos]]) whatever the parquet physical type. */
  def eventsToLong(eventsRaw: DataFrame, nChannels: Int, rate: Double,
                   series: String = "events"): DataFrame = {
    val events = normalizeTsNanos(eventsRaw)
    val hourNanos = 3600L * 1000 * 1000 * 1000
    denseIndexByKey(
      events.withColumn("channel", pmod(col("user_id"), lit(nChannels)).cast("int")),
      keyCols = Seq("channel"),
      bucketCol = (col("ts").cast("long") / hourNanos).cast("long"),
      orderCols = Seq(col("ts"), col("event_id")),
      as = "t_idx")
      .select(lit(series).as("series"), col("channel"), lit(null).cast("int").as("band"),
        lit(rate).as("rate"), lit(0.0).as("startingTime"), col("t_idx"),
        col("value").cast("double").as("value"))
  }

  /** Events -> SegmentFrame directly — the fused form of
    * `toSegments(rectangularize(eventsToLong(...)))` for consumers that only
    * need segments (the spectral queries): result-identical (spec-pinned),
    * but the per-sample data crosses ONE shuffle instead of three. Samples
    * group and sort per (channel, hour bucket) — bounded tasks, parallelism
    * = channels × hours like denseIndexByKey — then a per-channel combine
    * concatenates the few bucket arrays in bucket order (tiny rows: one
    * array per bucket). The rectangular trim length comes from a
    * count-only aggregate over the raw events (column-pruned scan, map-side
    * combined, no arrays, no sort) broadcast into a `slice`. The long-form
    * dense index is never materialized. */
  def eventsToSegments(eventsRaw: DataFrame, nChannels: Int, rate: Double,
                       series: String = "events"): DataFrame = {
    val events = normalizeTsNanos(eventsRaw)
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val chan = events.withColumn("channel", pmod(col("user_id"), lit(nChannels)).cast("int"))
    // native sort-assembly (packed buffers, JVM comparator) instead of
    // array_sort(collect_list(struct(...))), whose struct comparator runs
    // interpreted per element pair — same (ts, event_id, value) order
    val bucketed = chan
      .withColumn("_bucket", (col("ts").cast("long") / hourNanos).cast("long"))
      .groupBy("channel", "_bucket")
      .agg(graft.functions.SeriesAssembleFunctions.assembleTimed(events.sparkSession,
        col("ts").cast("long"), col("event_id").cast("long"), col("value").cast("double"))
        .getField("values").as("_vals"))
    val combine = udf { (parts: Seq[org.apache.spark.sql.Row]) =>
      parts.sortBy(_.getLong(0)).flatMap(_.getSeq[Double](1)).toArray
    }
    val minLen = chan.groupBy("channel").count().agg(min("count").as("_minlen"))
    bucketed
      .groupBy("channel")
      .agg(combine(collect_list(struct(col("_bucket"), col("_vals")))).as("_all"))
      .join(broadcast(minLen))
      .select(lit(series).as("series"), col("channel"), lit(null).cast("int").as("band"),
        lit(rate).as("rate"), lit(0.0).as("startingTime"),
        slice(col("_all"), lit(1), col("_minlen").cast("int")).as("values"))
  }

  /** Per-channel trace count must be equal for a rectangular (n_time, n_ch)
    * matrix; trims every channel to its series' minimum length. Fully lazy:
    * the min-length is a one-row-per-series aggregate broadcast back into the
    * filter, not an eager driver action (an eager `.first()` here would run a
    * full scan job at every plan construction). */
  def rectangularize(long: DataFrame): DataFrame = {
    val minLen = long.groupBy("series", "channel").count()
      .groupBy("series").agg(min("count").as("_minlen"))
    long.join(broadcast(minLen), Seq("series"))
      .filter(col("t_idx") < col("_minlen"))
      .drop("_minlen")
  }

  /** The electrodes dimension (FIXTURES.md §4): id, x, y, z, imp, location,
    * filtering, group — the reference's only relational object
    * (/root/reference/src/process_nwb/utils.py:245-251). */
  def electrodes(spark: org.apache.spark.sql.SparkSession, nChannels: Int): DataFrame = {
    import spark.implicits._
    (0 until nChannels).map(i =>
      (i, 1.0, 2.0, 3.0, -i.toDouble, "cortex", "none", "Grid"))
      .toDF("id", "x", "y", "z", "imp", "location", "filtering", "group")
  }
}
