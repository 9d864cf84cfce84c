package graft.queries

import graft.operators.Checkpoints.Pinnable
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DspOperators
import graft.streaming.StreamingOps
import graft.text.{TextAnalysis, TextOps, Sketches}

/** Driver-visible Structured Streaming surface (SURVEY.md ST3): q36 runs a
  * REAL streaming query — file-source readStream -> event-time windowed
  * segment assembly (watermark + append) -> wavelet filterbank amplitude ->
  * parquet file sink under Trigger.AvailableNow — and checks it against a DuckDB
  * oracle that replicates the windowed spectral math per (channel, window)
  * group with a direct DFT (per-group padded lengths, unlike the global-plan
  * oracles in SpectralOracles).
  *
  * Watermark boundary semantics (ms-truncated watermark, <= vs < eviction)
  * are deliberately kept OUT of the oracle: both sides post-filter to the
  * conservative window set `(win + 2) * winU <= maxTs - delay` — one full
  * window earlier than anything the watermark could still hold open — so the
  * comparison never straddles an emission boundary. Emitted-but-filtered
  * windows are discarded; a window in the conservative set that the stream
  * FAILED to emit shows up as a missing row and fails the hash.
  */
object StreamingQueries {

  private val sinkId = new AtomicInteger(0)

  /** 48 h tumbling windows over ~30 days of events; 1 h watermark delay. */
  private val WinU = 48L * 3600L * 1000000L
  private val DelayU = 3600L * 1000000L
  private val MinN = 8 // drop windows too short for a meaningful filterbank
  private val Rate = 1000.0
  private val NCh = 8

  /** Stage the single events parquet into a directory (file-stream sources
    * want a directory) and return Spark's exact per-row micro truncation of
    * the max event timestamp — the quantity both conservative-window
    * filters are anchored to. */
  private def stageEvents(s: SparkSession, dir: String): String = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stage = java.nio.file.Files.createTempDirectory("stream_events")
    StreamingOps.deleteOnExit(stage)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    stage.toString
  }

  private def stageAndMaxTu(s: SparkSession, dir: String): (String, Long) = {
    val stage = stageEvents(s, dir)
    val maxTu = QueryDef.table(s, dir, "events")
      .agg(max((col("ts") / 1000).cast("long"))).head().getLong(0)
    (stage, maxTu)
  }

  private def q36Build(s: SparkSession, dir: String): DataFrame = {
    val (stage, maxTu) = stageAndMaxTu(s, dir)
    val streamed = StreamingOps.runToParquet(s, stage,
      s"q36_sink_${sinkId.incrementAndGet()}",
      df => DspOperators.waveletAmplitude(
        StreamingOps.windowedSegmentsStream(df, NCh, Rate,
          windowDur = "48 hours", watermark = "1 hour")
          .filter(size(col("values")) >= MinN),
        "human", hgOnly = true))
    // conservative closed-window set: identical arithmetic to the oracle
    val maxKeep = (maxTu - DelayU) / WinU - 2
    streamed
      .withColumn("win", substring_index(col("series"), "#w", -1).cast("long"))
      .filter(col("win") <= maxKeep)
      .select(col("channel"), col("win"), col("band"),
        posexplode(col("values")).as(Seq("t_idx", "v")))
      .select(col("channel"), col("win"), col("band"),
        col("t_idx").cast("long").as("t_idx"), round(col("v"), 6).as("value"))
      .orderBy("channel", "win", "band", "t_idx")
  }

  /** Per-(channel, window) direct-DFT wavelet oracle. Each window group has
    * its OWN sample count n, 5-smooth padded length np, pad split (pl, pr)
    * and kernel frequency grid rate/np — the per-group generalization of
    * SpectralOracles.q32's single global plan. The rfft norm weight is 1
    * only at DC and (even np) Nyquist; odd per-group np doubles k = np//2
    * like any other positive frequency. `tu` reproduces Spark's
    * (ts/1000).cast(long) — long->double->divide->truncate — bit-for-bit
    * (IEEE determinism), so window membership agrees even when the double
    * rounding lands a microsecond off the true quotient. */
  private def q36Oracle: String = {
    val tu = "CAST(trunc(epoch_ns(ts)::DOUBLE / 1000.0) AS BIGINT)"
    s"""WITH seq AS (
  SELECT CAST(user_id % $NCh AS INT) AS channel,
         $tu // $WinU AS win,
         CAST(value AS DOUBLE) AS value,
         CAST(row_number() OVER (
              PARTITION BY user_id % $NCh, $tu // $WinU
              ORDER BY ts, event_id) - 1 AS BIGINT) AS t_idx
  FROM events
), maxtu AS (
  SELECT max($tu) AS m FROM events
), kept AS (
  SELECT s.channel, s.win, count(*) AS n
  FROM seq s, maxtu mx
  GROUP BY s.channel, s.win, mx.m
  HAVING count(*) >= $MinN AND s.win + 2 <= (mx.m - $DelayU) // $WinU
), plan2 AS (
  SELECT channel, win, n, np, (np - n) // 2 AS pl, np - n - (np - n) // 2 AS pr
  FROM (
    SELECT k.channel, k.win, k.n, min(CAST(s.l AS BIGINT)) AS np
    FROM kept k JOIN (
      SELECT power(2, a.g) * power(3, b.g) * power(5, c.g) AS l
      FROM (SELECT unnest(generate_series(0, 31)) AS g) a,
           (SELECT unnest(generate_series(0, 20)) AS g) b,
           (SELECT unnest(generate_series(0, 14)) AS g) c) s
      ON s.l >= k.n AND s.l <= 2 * k.n
    GROUP BY k.channel, k.win, k.n) t
), edges AS (
  SELECT s.channel, s.win,
         max(CASE WHEN s.t_idx = 0 THEN s.value END) AS x0,
         max(CASE WHEN s.t_idx = p.n - 1 THEN s.value END) AS xl
  FROM seq s JOIN plan2 p ON p.channel = s.channel AND p.win = s.win
  GROUP BY s.channel, s.win
), idx AS (
  SELECT channel, win, n, np, pl, pr, unnest(generate_series(0, np - 1)) AS i
  FROM plan2
), padded AS (
  SELECT x.channel, x.win, x.np, x.i,
    CASE WHEN x.i >= x.pl AND x.i < x.pl + x.n THEN rv.value
         WHEN x.i < x.pl AND (x.pl - x.i) <= x.n - 1 THEN 2.0 * e.x0 - rv.value
         WHEN x.i >= x.pl + x.n AND (x.i - x.pl - x.n) < LEAST(x.pr, x.n - 1)
           THEN 2.0 * e.xl - rv.value
         ELSE 0.0 END AS p
  FROM idx x
  JOIN edges e ON e.channel = x.channel AND e.win = x.win
  LEFT JOIN seq rv ON rv.channel = x.channel AND rv.win = x.win AND rv.t_idx =
    CASE WHEN x.i >= x.pl AND x.i < x.pl + x.n THEN x.i - x.pl
         WHEN x.i < x.pl THEN x.pl - x.i
         ELSE 2 * x.n - 2 - (x.i - x.pl) END
), bands AS (
  SELECT CAST(row_number() OVER (ORDER BY cf) - 1 AS INT) AS band, cf, cf / 8.0 AS sd
  FROM (SELECT power(10, log10(4.0749286538265)
                        + g * (log10(200.0) - log10(4.0749286538265)) / 39) AS cf
        FROM (SELECT unnest(generate_series(0, 39)) AS g) t0) t1
  WHERE cf >= 70.0 AND cf <= 150.0
), ks AS (
  SELECT channel, win, np, unnest(generate_series(0, np // 2)) AS k FROM plan2
), gk AS (
  SELECT ks.channel, ks.win, ks.np, b.band, ks.k,
         exp(-pow(ks.k * ($Rate / ks.np) - b.cf, 2) / (2 * b.sd * b.sd)) AS g
  FROM ks CROSS JOIN bands b
), gnorm AS (
  SELECT channel, win, band,
         sqrt(sum((CASE WHEN k = 0 OR (np % 2 = 0 AND k = np // 2)
                        THEN 1 ELSE 2 END) * g * g)) AS nrm
  FROM gk GROUP BY channel, win, band
), xbins AS (
  SELECT p.channel, p.win, k.k,
         sum(p.p * cos(2 * pi() * k.k * p.i / p.np)) AS re,
         -sum(p.p * sin(2 * pi() * k.k * p.i / p.np)) AS im
  FROM padded p
  JOIN (SELECT channel, win, unnest(generate_series(1, (np + 1) // 2 - 1)) AS k
        FROM plan2) k
    ON k.channel = p.channel AND k.win = p.win
  GROUP BY p.channel, p.win, k.k
), zbins AS (
  SELECT x.channel, x.win, gk.band, x.k,
         2.0 * x.re * gk.g / gn.nrm AS re,
         2.0 * x.im * gk.g / gn.nrm AS im
  FROM xbins x
  JOIN gk ON gk.channel = x.channel AND gk.win = x.win AND gk.k = x.k
  JOIN gnorm gn ON gn.channel = x.channel AND gn.win = x.win AND gn.band = gk.band
), tpts AS (
  SELECT channel, win, np, pl, unnest(generate_series(pl, pl + n - 1)) AS t
  FROM plan2
), ztrace AS (
  SELECT z.channel, z.win, z.band, t.t - t.pl AS t_idx,
         sum(z.re * cos(2 * pi() * z.k * t.t / t.np)
             - z.im * sin(2 * pi() * z.k * t.t / t.np)) / t.np AS zre,
         sum(z.re * sin(2 * pi() * z.k * t.t / t.np)
             + z.im * cos(2 * pi() * z.k * t.t / t.np)) / t.np AS zim
  FROM zbins z
  JOIN tpts t ON t.channel = z.channel AND t.win = z.win
  GROUP BY z.channel, z.win, z.band, t.t, t.np, t.pl
)
SELECT channel, win, band, t_idx, round(sqrt(zre * zre + zim * zim), 6) AS value
FROM ztrace ORDER BY channel, win, band, t_idx"""
  }

  /** q37: the crossfade machinery end to end as an IDENTITY round-trip —
    * streaming windowed assembly with 4 h context margins, then
    * `stitchTimeWindows` crossfades the overlapping windows back together.
    * Ramps of adjacent windows sum to 1 and edge blocks are
    * weight-normalized, so every original sample comes back exactly (to fp
    * rounding, absorbed by round 6): the oracle is simply the channelized
    * event sequence. Blocks are trimmed to win <= maxKeep - 1 because block
    * w needs windows w-1..w+1 emitted; samples' (channel, ts) pairs are
    * unique in the events table at every sf (stitch's documented
    * precondition). */
  private val CtxU = 4L * 3600L * 1000000L
  private val DelayU37 = 72L * 3600L * 1000000L // watermark > windowDur with context

  private def q37Build(s: SparkSession, dir: String): DataFrame = {
    val (stage, maxTu) = stageAndMaxTu(s, dir)
    val streamed = StreamingOps.runToParquet(s, stage,
      s"q37_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.windowedSegmentsStream(df, NCh, Rate,
        windowDur = "48 hours", watermark = "72 hours", contextDur = "4 hours"))
    val maxKeep = (maxTu - DelayU37) / WinU - 2
    StreamingOps.stitchTimeWindows(streamed, "48 hours", "4 hours")
      .filter(col("win_idx") <= maxKeep - 1)
      .select(col("channel"), col("win_idx").as("win"),
        posexplode(col("values")).as(Seq("t_idx", "v")))
      .select(col("channel"), col("win"), col("t_idx").cast("long").as("t_idx"),
        round(col("v"), 6).as("value"))
      .orderBy("channel", "win", "t_idx")
  }

  private def q37Oracle: String = {
    val tu = "CAST(trunc(epoch_ns(ts)::DOUBLE / 1000.0) AS BIGINT)"
    s"""WITH mx AS (SELECT max($tu) AS m FROM events)
SELECT CAST(user_id % $NCh AS INT) AS channel,
       $tu // $WinU AS win,
       CAST(row_number() OVER (
            PARTITION BY user_id % $NCh, $tu // $WinU
            ORDER BY ts, event_id) - 1 AS BIGINT) AS t_idx,
       round(CAST(value AS DOUBLE), 6) AS value
FROM events, mx
WHERE $tu // $WinU + 3 <= (mx.m - $DelayU37) // $WinU
ORDER BY channel, win, t_idx"""
  }

  /** q55: the plain watermarked event-time windowed aggregation
    * (`StreamingOps.windowedEventAgg`) as a driver query. 6 h tumbling
    * windows, 12 h watermark; same conservative closed-window filter as
    * q36 (both sides keep windows >= 1 full window before maxTs - delay)
    * so emission boundaries never straddle the compare. */
  private val WinU55 = 6L * 3600L * 1000000L
  private val DelayU55 = 12L * 3600L * 1000000L

  private def q55Build(s: SparkSession, dir: String): DataFrame = {
    val (stage, maxTu) = stageAndMaxTu(s, dir)
    val streamed = StreamingOps.runToParquet(s, stage,
      s"q55_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.windowedEventAgg(df, window = "6 hours",
        watermark = "12 hours"))
    val maxKeep = (maxTu - DelayU55) / WinU55 - 2
    streamed
      .withColumn("win", (unix_micros(col("window.start")) / WinU55).cast("long"))
      .filter(col("win") <= maxKeep)
      .select(col("win"), col("event_type"), col("n"),
        round(col("sum_value"), 6).as("sum_value"))
      .orderBy("win", "event_type")
  }

  private def q55Oracle: String = {
    val tu = "CAST(trunc(epoch_ns(ts)::DOUBLE / 1000.0) AS BIGINT)"
    s"""WITH mx AS (SELECT max($tu) AS m FROM events)
SELECT $tu // $WinU55 AS win, event_type,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM events, mx
WHERE $tu // $WinU55 + 2 <= (mx.m - $DelayU55) // $WinU55
GROUP BY 1, 2 ORDER BY win, event_type"""
  }

  /** q56: custom streaming state (`runningChannelStats`,
    * mapGroupsWithState) as a driver query. Under AvailableNow the staged
    * single file is one micro-batch, so each channel's LAST emitted update
    * (max n) is the full-data Welford stats — checked against a plain
    * per-channel aggregate. The max-n reduction makes the query robust to
    * the engine splitting the input into several batches. */
  private def q56Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    import s.implicits._
    val updates = StreamingOps.runToMemory(s, stage,
      s"q56_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.runningChannelStats(
        df.select(pmod(col("user_id"), lit(NCh)).cast("int").as("channel"),
          col("value").cast("double").as("value")).as[StreamingOps.ChannelEvent])
        .toDF(),
      outputMode = OutputMode.Update)
    // keep each channel's last update; bounded output (<= NCh x batches)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("channel").orderBy(col("n").desc)
    updates
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("channel"), col("n"),
        round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"))
      .orderBy("channel")
  }

  private def q56Oracle: String =
    s"""SELECT CAST(user_id % $NCh AS INT) AS channel, count(*) AS n,
       round(avg(value), 6) AS mean,
       round(sqrt(sum((value - sub.m) * (value - sub.m)) / count(*)), 6) AS std
FROM events JOIN (
  SELECT CAST(user_id % $NCh AS INT) AS ch, avg(value) AS m
  FROM events GROUP BY 1) sub ON sub.ch = CAST(user_id % $NCh AS INT)
GROUP BY 1 ORDER BY channel"""

  /** q64: streaming exact-dedup — documents as a file stream, per-content-
    * hash running (count, min-id keeper) state via mapGroupsWithState.
    * Each hash's last update (max n_copies) equals the batch aggregate
    * regardless of micro-batch slicing, so the oracle is the plain batch
    * dedup SQL. */
  private def q64Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("stream_docs")
    StreamingOps.deleteOnExit(stage)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stage.resolve("documents.parquet"))
    import s.implicits._
    val updates = StreamingOps.runToMemory(s, stage.toString,
      s"q64_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.runningDedup(
        df.select(md5(col("text")).as("content_hash"), col("doc_id"))
          .as[StreamingOps.DocHashEvent]).toDF(),
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("n_copies").desc)
    updates
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("content_hash"), col("n_copies"), col("keeper"))
      .orderBy("content_hash")
  }

  private def q64Oracle: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
      |  min(doc_id) AS keeper
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** Streaming PII scrub: q70's detect-and-redact pipeline applied verbatim
    * to a file STREAM — the curation ops are stateless codegen'd Catalyst
    * expressions, so they drop into Structured Streaming with zero changes
    * (append mode, no watermark, no state store). Per-doc redacted rows go
    * through the parquet file sink (the unbounded-output shape, not the
    * driver-bounded memory sink); the driver-visible result is a per-source
    * rollup whose checksum pins every redacted byte stream. */
  private def q73Build(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("stream_docs")
    StreamingOps.deleteOnExit(stage)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stage.resolve("documents.parquet"))
    val scrubbed = StreamingOps.runToParquet(s, stage.toString,
      s"q73_sink_${sinkId.incrementAndGet()}",
      df => {
        val id = col("doc_id").cast("string")
        val withPii = df.select(col("doc_id"), col("source"),
          concat(
            substring(col("text"), 1, 80),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit(" mail user"), id, lit("@ex"),
                pmod(col("doc_id"), lit(7)).cast("string"), lit(".org")))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(lit(" host 10."), pmod(col("doc_id"), lit(256)).cast("string"),
                lit("."), pmod(col("doc_id") * 13, lit(256)).cast("string"), lit(".9")))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(4)) === 0,
              concat(lit(" call +1 555-"),
                lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-0199")))
              .otherwise(lit(""))).as("text"))
        TextAnalysis.withPiiRedacted(withPii)
          .select(col("doc_id"), col("source"), col("n_emails"), col("n_ips"),
            col("n_phones"), col("redacted"))
      })
    scrubbed.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_emails").as("n_emails"), sum("n_ips").as("n_ips"),
        sum("n_phones").as("n_phones"),
        sum(conv(substring(md5(col("redacted")), 1, 8), 16, 10).cast("long"))
          .as("redacted_checksum"))
      .orderBy("source")
  }

  private def q73Oracle: String =
    """WITH p AS (
      |  SELECT doc_id, source,
      |    substr(text, 1, 80)
      |    || CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR)
      |         || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
      |         || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) || '.9' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0 THEN ' call +1 555-'
      |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
      |    AS text
      |  FROM documents
      |), r AS (
      |  SELECT source,
      |    len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
      |    len(regexp_extract_all(text,
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS i,
      |    len(regexp_extract_all(text,
      |      '\+\d{1,2} \d{3}-\d{3}-\d{4}')) AS ph,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\+\d{1,2} \d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
      |  FROM p
      |)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(i) AS BIGINT) AS n_ips,
      |  CAST(sum(ph) AS BIGINT) AS n_phones,
      |  CAST(sum(('0x' || substr(md5(redacted), 1, 8))::UBIGINT) AS BIGINT)
      |    AS redacted_checksum
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** q78: streaming MinHash near-dup — band buckets as running
    * (count, min-id) state; post-stream batch composition flags each doc
    * against the FINAL bucket table (the q37 "rollup over the sink" idiom:
    * the stream keeps exactly one stateful operator). A doc is a candidate
    * near-dup iff any of its 8 band buckets holds >= 2 docs; its `dup_ref`
    * is the smallest doc id across those shared buckets (self when none).
    * Unlike pair generation this needs NO skew cap: per-doc flags come from
    * a constant-size bucket state, so a 10k-doc boilerplate bucket costs
    * one state row, not 10k^2 pairs. */
  private def q78Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("stream_docs")
    StreamingOps.deleteOnExit(stage)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stage.resolve("documents.parquet"))
    import s.implicits._
    val updates = StreamingOps.runToMemory(s, stage.toString,
      s"q78_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.runningBandBuckets(
        TextOps.bandBuckets(TextOps.minhashSignatures(df))
          .as[StreamingOps.BandBucketEvent]).toDF(),
      outputMode = OutputMode.Update)
    // last update per bucket == final state == batch aggregate (count/min
    // are commutative, so this holds for ANY micro-batch slicing)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band_idx", "bucket").orderBy(col("n_docs").desc)
    val finalBuckets = updates
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("band_idx"), col("bucket"), col("n_docs"), col("min_doc"))
    // batch composition over the final state: recompute each doc's buckets
    // (stateless, deterministic) and flag collisions
    val docBuckets = TextOps.bandBuckets(TextOps.minhashSignatures(
      s.read.parquet(s"$dir/documents.parquet")))
    docBuckets.join(finalBuckets, Seq("band_idx", "bucket"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_colliding_bands"),
        min(when(col("n_docs") >= 2, col("min_doc"))).as("_ref"))
      .select(col("doc_id"),
        col("n_colliding_bands").cast("long").as("n_colliding_bands"),
        when(col("n_colliding_bands") > 0, 1).otherwise(0).cast("int")
          .as("is_candidate_dup"),
        coalesce(col("_ref"), col("doc_id")).cast("long").as("dup_ref"))
      .orderBy("doc_id")
  }

  private def q78Oracle: String =
    s"""WITH ${Llm.MinhashCtes}, bstat AS (
       |  SELECT band_idx, bucket, count(*) AS n_docs, min(doc_id) AS min_doc
       |  FROM bucket GROUP BY 1, 2
       |), perdoc AS (
       |  SELECT b.doc_id,
       |    sum(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS n_colliding_bands,
       |    min(CASE WHEN s.n_docs >= 2 THEN s.min_doc END) AS ref0
       |  FROM bucket b JOIN bstat s USING (band_idx, bucket)
       |  GROUP BY b.doc_id
       |)
       |SELECT doc_id, CAST(n_colliding_bands AS BIGINT) AS n_colliding_bands,
       |  CAST(CASE WHEN n_colliding_bands > 0 THEN 1 ELSE 0 END AS INT)
       |    AS is_candidate_dup,
       |  CAST(COALESCE(ref0, doc_id) AS BIGINT) AS dup_ref
       |FROM perdoc ORDER BY doc_id""".stripMargin

  /** Streaming count-min: q83's cell table built as a STREAMING
    * aggregation — the frequency-monitor shape whose state is bounded at
    * d×m cells no matter how long the stream runs (vs unbounded per-word
    * state for exact streaming counts). Cell counts only grow, so each
    * cell's LAST update (max cnt) equals the batch cell value under any
    * micro-batch slicing; probing the final cells therefore reproduces the
    * q83 batch oracle exactly. */
  private def q84Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("stream_docs")
    StreamingOps.deleteOnExit(stage)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stage.resolve("documents.parquet"))
    val updates = StreamingOps.runToMemory(s, stage.toString,
      s"q84_sink_${sinkId.incrementAndGet()}",
      df => Sketches.countMinCells(df, d = 3, mCols = 4096),
      outputMode = OutputMode.Update)
    val cells = updates.groupBy("j", "pos").agg(max("cnt").as("cnt"))
    val top = s.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("word")).limit(20)
    Sketches.countMinEstimate(cells, top, d = 3, mCols = 4096)
      .select(col("word"), col("exact_count"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("overcount"))
      .orderBy("word")
  }

  private def q84Oracle: String =
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
      |), exact AS (
      |  SELECT word, count(*) AS exact_count FROM w GROUP BY word
      |), top AS (
      |  SELECT word, exact_count FROM exact
      |  ORDER BY exact_count DESC, word LIMIT 20
      |), cells AS (
      |  SELECT j,
      |    ('0x' || substr(md5(j::VARCHAR || ':' || word), 1, 15))::UBIGINT
      |      % 4096 AS pos,
      |    count(*) AS cnt
      |  FROM w CROSS JOIN generate_series(0, 2) t(j)
      |  GROUP BY 1, 2
      |), est AS (
      |  SELECT t.word, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_estimate
      |  FROM top t CROSS JOIN generate_series(0, 2) g(j)
      |  LEFT JOIN cells c ON c.j = g.j
      |    AND c.pos = ('0x' || substr(md5(g.j::VARCHAR || ':' || t.word), 1, 15))::UBIGINT
      |                % 4096
      |  GROUP BY t.word
      |)
      |SELECT t.word, t.exact_count, e.cms_estimate,
      |  CAST(e.cms_estimate - t.exact_count AS BIGINT) AS overcount
      |FROM top t JOIN est e USING (word)
      |ORDER BY t.word""".stripMargin

  /** Streaming histogram quantiles: q101's sketch with the grid DECLARED
    * up front ([0, 1000) × 200 bins — fixing the grid removes the min/max
    * pre-pass, which is what makes the aggregation streaming-legal). The
    * running (group, bin) count state is bounded at groups × nBins for any
    * stream length; counts only grow, so each cell's last Update-mode
    * emission equals the batch cell under any micro-batch slicing (the
    * q84 count-min argument), and quantile selection over the final cells
    * reproduces the batch sketch exactly. */
  private def q102Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q102_sink_${sinkId.incrementAndGet()}",
      df => graft.operators.Quantiles.fixedGridCells(
        df, "event_type", "value", lo = 0.0, hi = 1000.0, nBins = 200),
      outputMode = OutputMode.Update)
    val cells = updates.groupBy("g", "bin").agg(max("cnt").as("cnt"))
    graft.operators.Quantiles.quantilesFromCells(cells, "event_type",
        lo = 0.0, hi = 1000.0, nBins = 200,
        Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99),
        gridDecimals = Some(6))
      .orderBy("event_type")
  }

  private def q102Oracle: String =
    """WITH base AS (
      |  SELECT CAST(event_type AS VARCHAR) AS g, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      |), cells AS (
      |  SELECT g,
      |    CAST(least(greatest(floor((v - 0.0) / (1000.0 - 0.0) * 200),
      |      0.0), 199.0) AS BIGINT) AS bin,
      |    count(*) AS c
      |  FROM base GROUP BY 1, 2
      |), cum AS (
      |  SELECT g, bin, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY bin) AS cum,
      |    sum(c) OVER (PARTITION BY g ORDER BY bin) - c AS cumb,
      |    sum(c) OVER (PARTITION BY g) AS n
      |  FROM cells
      |)
      |SELECT g AS event_type,
      |  floor((max(CASE WHEN cumb < greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
      |    AND cum >= greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
      |    THEN 0.0 + 1000.0 / 200.0 * (CAST(bin AS DOUBLE)
      |      + CAST(greatest(CAST(ceil(0.5 * n) AS BIGINT), 1) - cumb AS DOUBLE)
      |        / CAST(c AS DOUBLE)) END)) * 1e6 + 0.5) / 1e6 AS p50,
      |  floor((max(CASE WHEN cumb < greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
      |    AND cum >= greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
      |    THEN 0.0 + 1000.0 / 200.0 * (CAST(bin AS DOUBLE)
      |      + CAST(greatest(CAST(ceil(0.95 * n) AS BIGINT), 1) - cumb AS DOUBLE)
      |        / CAST(c AS DOUBLE)) END)) * 1e6 + 0.5) / 1e6 AS p95,
      |  floor((max(CASE WHEN cumb < greatest(CAST(ceil(0.99 * n) AS BIGINT), 1)
      |    AND cum >= greatest(CAST(ceil(0.99 * n) AS BIGINT), 1)
      |    THEN 0.0 + 1000.0 / 200.0 * (CAST(bin AS DOUBLE)
      |      + CAST(greatest(CAST(ceil(0.99 * n) AS BIGINT), 1) - cumb AS DOUBLE)
      |        / CAST(c AS DOUBLE)) END)) * 1e6 + 0.5) / 1e6 AS p99
      |FROM cum GROUP BY g ORDER BY event_type""".stripMargin

  /** Streaming sessionization via the native `session_window` aggregate
    * (dynamic-gap event-time windows — the one stateful-streaming primitive
    * the engine didn't yet demonstrate): per-user sessions close when
    * 30 min pass without an event; append mode emits a session only once
    * the watermark passes its end. Exact-integer aggregates (count +
    * milli-sum) and exact micro timestamps (`ts div 1000`, integer
    * division — no double-rounding contract needed, unlike q36's legacy
    * truncation replay). Both engines post-filter to the conservative
    * closed set (end <= maxTu - delay - gap, a full gap clear of any
    * watermark boundary semantics, the q36 pattern): an emitted-but-open
    * session is discarded on both sides, a conservative session the stream
    * FAILED to emit is a missing row and fails the hash. */
  private val GapU103 = 1800000000L   // 30 min session gap, micros
  private val DelayU103 = 3600000000L // 1 h watermark delay, micros

  private def q103Build(s: SparkSession, dir: String): DataFrame = {
    val stage = stageEvents(s, dir)
    val maxTu = QueryDef.table(s, dir, "events")
      .agg(max(expr("ts div 1000"))).head().getLong(0)
    val streamed = StreamingOps.runToParquet(s, stage,
      s"q103_sink_${sinkId.incrementAndGet()}",
      df => df
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .withColumn("vmilli", round(col("value") * 1000).cast("long"))
        .withWatermark("event_time", "1 hour")
        .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum("vmilli").as("vmilli")))
    streamed
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n"), col("vmilli"))
      .filter(col("session_end_us") <= maxTu - DelayU103 - GapU103)
      .orderBy("user_id", "session_start_us")
  }

  private def q103Oracle: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us,
       |    CAST(round(value * 1000) AS BIGINT) AS vmilli
       |  FROM events
       |), marked AS (
       |  SELECT user_id, us, vmilli,
       |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
       |      OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= $GapU103
       |      THEN 1 ELSE 0 END AS brk
       |  FROM e
       |), ses AS (
       |  SELECT user_id, us, vmilli,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY us) AS sid
       |  FROM marked
       |)
       |SELECT user_id, min(us) AS session_start_us,
       |  max(us) + $GapU103 AS session_end_us,
       |  count(*) AS n, CAST(sum(vmilli) AS BIGINT) AS vmilli
       |FROM ses GROUP BY user_id, sid
       |HAVING max(us) + $GapU103 <=
       |  (SELECT max(epoch_us(ts)) FROM events) - $DelayU103 - $GapU103
       |ORDER BY user_id, session_start_us""".stripMargin

  /** Stream-STREAM interval join — the last major Structured Streaming
    * capability surface (two watermarked streams, a range join condition,
    * and state eviction driven by both watermarks): each error event joins
    * the same user's clicks in the strictly-before 2 h window — q88's
    * semantics with BOTH sides unbounded. The click side's watermark must
    * cover the error side's lookback (2 h) plus the error delay (1 h) for
    * Spark to accept the state-cleanup bound. Staged as AvailableNow file
    * streams; inner joins with time bounds emit every in-window match, so
    * the result equals the batch interval join — the DuckDB oracle is
    * q88's brute-force SQL shape over exact micro ords. */
  private def q104Build(s: SparkSession, dir: String): DataFrame = {
    val stage = stageEvents(s, dir)
    def src() = StreamingOps.eventsStream(s, stage)
    val errors = src().filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        expr("ts div 1000").as("error_us"),
        timestamp_micros(expr("ts div 1000")).as("et"))
      .withWatermark("et", "1 hour")
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        expr("ts div 1000").as("click_us"),
        timestamp_micros(expr("ts div 1000")).as("ct"))
      .withWatermark("ct", "4 hours")
    val joined = errors.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("ct") >= col("et") - expr("INTERVAL 2 HOURS") &&
        col("ct") < col("et"))
    StreamingOps.runStreamToParquet(s, joined,
        s"q104_sink_${sinkId.incrementAndGet()}")
      .select(col("error_id"), col("user_id"), col("error_us"),
        col("click_id"), col("click_us"))
      .orderBy("error_id", "click_id")
  }

  /** q330: q104's LEFT OUTER twin — the semantics stream-stream inner
    * joins can't give: an error with NO click in its trailing 2h window
    * still emits (null click columns), but only once the CLICK watermark
    * has passed its window, so the row is provably final. Under
    * AvailableNow the final global watermark is min(maxEt−1h, maxCt−4h);
    * the conservative cutoff (max event micros − 4h watermark − 1h slack)
    * keeps exactly the errors whose outer verdict is closed, and the
    * oracle replays the SAME integer-micros cutoff over a batch left
    * join. */
  /** Final global watermark of the error(1 h)/click(4 h) stream pair:
    * Spark's stream-stream join evicts state on the GLOBAL watermark —
    * the MIN across inputs of (that stream's max event time − its delay).
    * Anchoring cutoffs to the global max event time instead silently
    * assumed every stream's own max trails it by < 1 h; true at sf0.01
    * event density, false at sf0.001 where the last click can trail the
    * last event by hours (caught by the first full-registry sf0.001
    * sweep: one unmatched-error row inside the old cutoff had NOT been
    * evicted/emitted when the stream ended). */
  private def errClickFinalWatermarkUs(s: SparkSession, dir: String): Long = {
    val r = QueryDef.table(s, dir, "events")
      .agg(
        max(when(col("event_type") === "error", expr("ts div 1000"))).as("me"),
        max(when(col("event_type") === "click", expr("ts div 1000"))).as("mc"))
      .head()
    // an events table with no 'error' or no 'click' rows makes the max()
    // NULL — fail with the reason instead of an unboxing NPE (the oracle's
    // least() would silently tolerate the NULL and diverge)
    require(!r.isNullAt(0) && !r.isNullAt(1),
      "errClickFinalWatermarkUs: events table has no " +
        s"${if (r.isNullAt(0)) "'error'" else "'click'"} rows — the " +
        "stream-pair watermark is undefined on this data")
    math.min(r.getLong(0) - 3600000000L, r.getLong(1) - 4L * 3600000000L)
  }

  /** The oracle twin of [[errClickFinalWatermarkUs]]. */
  private val ErrClickWmCte: String =
    """mx AS (
      |  SELECT least(
      |    max(CASE WHEN event_type = 'error' THEN epoch_ns(ts) // 1000 END)
      |      - 3600000000,
      |    max(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END)
      |      - 14400000000) AS wm
      |  FROM events
      |)""".stripMargin

  private def q330Build(s: SparkSession, dir: String): DataFrame = {
    val stage = stageEvents(s, dir)
    val wmFinal = errClickFinalWatermarkUs(s, dir)
    def src() = StreamingOps.eventsStream(s, stage)
    val errors = src().filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        expr("ts div 1000").as("error_us"),
        timestamp_micros(expr("ts div 1000")).as("et"))
      .withWatermark("et", "1 hour")
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        expr("ts div 1000").as("click_us"),
        timestamp_micros(expr("ts div 1000")).as("ct"))
      .withWatermark("ct", "4 hours")
    val joined = errors.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("ct") >= col("et") - expr("INTERVAL 2 HOURS") &&
        col("ct") < col("et"), "left_outer")
    // an unmatched error emits once the GLOBAL watermark passes its time;
    // keep rows a 1 h margin inside the FINAL global watermark
    val cutoff = wmFinal - 3600000000L
    StreamingOps.runStreamToParquet(s, joined,
        s"q330_sink_${sinkId.incrementAndGet()}")
      .filter(col("error_us") <= cutoff)
      .select(col("error_id"), col("user_id"), col("error_us"),
        col("click_id"), col("click_us"))
      .orderBy("error_id", "click_id")
  }

  /** q333: q318's STREAMING twin — the events frame flows out through the
    * graft-nwb sink under forced multi-batch slicing (4 staged files,
    * maxFilesPerTrigger=1 → 4 epochs, each an idempotent marker-guarded
    * commit) and back in through the stock parquet reader; the per-type
    * census must equal the direct scan, certifying no epoch lost or
    * doubled any task output. */
  private def q333Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val stage = java.nio.file.Files.createTempDirectory("q333_stage")
    StreamingOps.deleteOnExit(stage)
    QueryDef.table(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .repartition(4).write.mode("overwrite").parquet(stage.toString)
    val out = java.nio.file.Files.createTempDirectory("q333_out")
    StreamingOps.deleteOnExit(out)
    val schema = s.read.parquet(stage.toString).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = stream.writeStream
      .format("graft-nwb")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/data")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("user_id").as("sum_users"),
        sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("sum_v_e6"),
        countDistinct("event_id").as("n_distinct_ids"),
        min("ts").as("min_ts"), max("ts").as("max_ts"))
      .orderBy("event_type")
  }

  /** q338: q119's streaming twin — the 256-register HLL state is a plain
    * Update-mode max aggregate (commutative, monotone), so the stream's
    * FINAL per-bucket cell equals the batch register under any slicing;
    * the readout hands the final cells to the same estimate chain and
    * joins the batch exact count. Oracle is q119's SQL verbatim. */
  private def q338Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("stream_docs")
    StreamingOps.deleteOnExit(stage)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stage.resolve("documents.parquet"))
    val shingles = udf((t: String) =>
      if (t == null) Array.empty[String]
      else graft.text.TextOps.shingleArray(t, 3))
    val updates = StreamingOps.runToMemory(s, stage.toString,
      s"q338_sink_${sinkId.incrementAndGet()}",
      df => graft.text.Sketches.hllRegisters(
        df.select(explode(shingles(col("text"))).as("item"))),
      outputMode = OutputMode.Update)
    val regsFinal = updates.groupBy("bucket").agg(max("reg").as("reg"))
    val exact = QueryDef.table(s, dir, "documents")
      .select(explode(shingles(col("text"))).as("item"))
      .distinct().agg(count(lit(1)).as("n_distinct_exact"))
    graft.text.Sketches.hllEstimateFromRegisters(regsFinal)
      .crossJoin(exact)
  }

  private def q333Oracle: String =
    """|SELECT event_type, count(*) AS n,
       |  CAST(sum(user_id) AS BIGINT) AS sum_users,
       |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
       |    AS sum_v_e6,
       |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       |  min(epoch_ns(ts)) AS min_ts, max(epoch_ns(ts)) AS max_ts
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private def q360Build(s: SparkSession, dir: String): DataFrame = {
    val stage = stageEvents(s, dir)
    val wmFinal = errClickFinalWatermarkUs(s, dir)
    def src() = StreamingOps.eventsStream(s, stage)
    val errors = src().filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        expr("ts div 1000").as("error_us"),
        timestamp_micros(expr("ts div 1000")).as("et"))
      .withWatermark("et", "1 hour")
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        expr("ts div 1000").as("click_us"),
        timestamp_micros(expr("ts div 1000")).as("ct"))
      .withWatermark("ct", "4 hours")
    val joined = errors.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("ct") >= col("et") - expr("INTERVAL 2 HOURS") &&
        col("ct") < col("et"), "full_outer")
    // an unmatched click only emits once the GLOBAL watermark passes
    // click_us + 2 h (its match range end), an unmatched error once it
    // passes error_us — so the conservative region sits 2 h inside the
    // FINAL global watermark, plus q330's 1 h margin
    val cutoff = wmFinal - 3L * 3600000000L
    StreamingOps.runStreamToParquet(s, joined,
        s"q360_sink_${sinkId.incrementAndGet()}")
      .filter(coalesce(col("error_us"), col("click_us")) <= cutoff)
      .select(col("error_id"),
        coalesce(col("user_id"), col("c_user_id")).as("uid"),
        col("error_us"), col("click_id"), col("click_us"))
      .orderBy("error_id", "click_id")
  }

  private def q360Oracle: String =
    s"""WITH $ErrClickWmCte, ee AS (
      |  SELECT event_id AS error_id, user_id, epoch_ns(ts) // 1000
      |    AS error_us
      |  FROM events WHERE event_type = 'error'
      |), cc AS (
      |  SELECT event_id AS click_id, user_id AS cu, epoch_ns(ts) // 1000
      |    AS click_us
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT ee.error_id, coalesce(ee.user_id, cc.cu) AS uid,
      |  ee.error_us, cc.click_id, cc.click_us
      |FROM ee FULL JOIN cc
      |  ON ee.user_id = cc.cu
      | AND cc.click_us >= ee.error_us - 7200000000
      | AND cc.click_us < ee.error_us
      |WHERE coalesce(ee.error_us, cc.click_us) <= (SELECT wm FROM mx) - 10800000000
      |ORDER BY error_id, click_id""".stripMargin

  private def q330Oracle: String =
    s"""WITH $ErrClickWmCte, ee AS (
      |  SELECT event_id AS error_id, user_id, epoch_ns(ts) // 1000
      |    AS error_us
      |  FROM events WHERE event_type = 'error'
      |), cc AS (
      |  SELECT event_id AS click_id, user_id AS cu, epoch_ns(ts) // 1000
      |    AS click_us
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT ee.error_id, ee.user_id, ee.error_us, cc.click_id, cc.click_us
      |FROM ee LEFT JOIN cc
      |  ON ee.user_id = cc.cu
      | AND cc.click_us >= ee.error_us - 7200000000
      | AND cc.click_us < ee.error_us
      |WHERE ee.error_us <= (SELECT wm FROM mx) - 3600000000
      |ORDER BY error_id, click_id""".stripMargin

  private def q104Oracle: String =
    """WITH ee AS (
      |  SELECT event_id AS error_id, user_id, epoch_us(ts) AS error_us
      |  FROM events WHERE event_type = 'error'
      |), cc AS (
      |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT ee.error_id, ee.user_id, ee.error_us, cc.click_id, cc.click_us
      |FROM ee JOIN cc
      |  ON ee.user_id = cc.user_id
      | AND cc.click_us >= ee.error_us - 7200000000
      | AND cc.click_us < ee.error_us
      |ORDER BY error_id, click_id""".stripMargin

  /** Native watermark-bounded streaming dedup (`dropDuplicatesWithinWatermark`)
    * — the OPERATOR counterpart of q64's hand-built mapGroupsWithState dedup:
    * seen-key state is evicted once the watermark passes, so state is
    * bounded by the duplicate-arrival window rather than the stream's
    * lifetime key count. The stream is the staged events UNIONED with
    * itself (every event arrives exactly twice, possibly within one
    * micro-batch); if the operator deduplicates perfectly, a per-type
    * rollup over the sink equals the plain rollup over the ORIGINAL table —
    * which is the oracle. A failed dedup doubles every count and fails the
    * hash. */
  private def q106Build(s: SparkSession, dir: String): DataFrame = {
    val stage = stageEvents(s, dir)
    def src() = StreamingOps.eventsStream(s, stage)
    val deduped = src().unionByName(src())
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    StreamingOps.runStreamToParquet(s, deduped,
        s"q106_sink_${sinkId.incrementAndGet()}")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000).cast("long")).as("vmilli"))
      .orderBy("event_type")
  }

  private def q106Oracle: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vmilli
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Stream-STATIC join (the remaining streaming join mode after q104's
    * stream-stream): the events stream enriched per micro-batch with the
    * broadcast electrodes dimension (J2's dim attach running inside a
    * streaming query — stateless on the join itself), then a running
    * per-(channel, imp) aggregation in Update mode. Counts only grow, so
    * the last update per key (max-n struct) equals the batch aggregate
    * under any micro-batch slicing — the q84 argument — and the emitted
    * `imp` values prove the dimension actually attached. */
  private def q107Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q107_sink_${sinkId.incrementAndGet()}",
      df => df
        .withColumn("channel", pmod(col("user_id"), lit(8)).cast("int"))
        .join(broadcast(graft.model.Frames.electrodes(s, 8)),
          col("channel") === col("id"))
        .groupBy("channel", "imp")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000).cast("long")).as("vmilli")),
      outputMode = OutputMode.Update)
    updates.groupBy("channel", "imp")
      .agg(max(struct(col("n"), col("vmilli"))).as("_last"))
      .select(col("channel"), col("imp"),
        col("_last.n").as("n"), col("_last.vmilli").as("vmilli"))
      .orderBy("channel")
  }

  private def q107Oracle: String =
    """SELECT CAST(user_id % 8 AS INT) AS channel,
      |  CAST(-(user_id % 8) AS DOUBLE) AS imp,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vmilli
      |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Streaming twin of q166's decayed engagement, anchored at a FIXED epoch
    * (2024-02-01T00:00Z) instead of q166's data-dependent max-ts anchor:
    * anchoring makes each event's dyadic 2^40-grid weight a pure function of
    * the event, so the decayed sum is a commutative monoid and a plain
    * running aggregation in Update mode equals the batch aggregate under ANY
    * micro-batch slicing — the streaming-safe form of time-decay (the max-ts
    * variant cannot stream exactly: its anchor isn't known until the stream
    * ends). DECIMAL(38,0) state, count is monotone so the last update per
    * user is max(struct(n_events, wsum)). */
  private def q174Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val anchorNs = 1706745600000000000L // 2024-02-01T00:00:00Z
    val updates = StreamingOps.runToMemory(s, stage,
      s"q174_sink_${sinkId.incrementAndGet()}",
      df => df
        .select(col("user_id"), col("ts").cast("long").as("tns"),
          floor(col("value") * 1000).cast("long").as("vm"))
        // age clamped at BOTH ends: events after the anchor (a live stream
        // outrunning its fixed anchor) pin to age 0 — without the lower
        // clamp Spark's truncating `div` and DuckDB's flooring `//`
        // disagree on negative ages, and wexp > 63 would wrap shiftleft
        .withColumn("wexp", lit(40L) -
          least(greatest(expr(s"(${anchorNs}L - tns) div 86400000000000"),
            lit(0L)), lit(40L)))
        .withColumn("term", col("vm").cast("decimal(38,0)") *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(wexp AS INT))").cast("decimal(38,0)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("term").cast("decimal(38,0)").as("wsum")),
      outputMode = OutputMode.Update)
    updates.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("wsum"))).as("_last"))
      .select(col("user_id"), col("_last.n_events").as("n_events"),
        round(col("_last.wsum").cast("double") / lit(1.099511627776e12) / lit(1000.0), 6)
          .as("decayed_score"))
      .orderBy("user_id")
  }

  private def q174Oracle: String =
    """|WITH b AS (
       |  SELECT user_id, epoch_ns(ts) AS tns,
       |    CAST(floor(value * 1000) AS BIGINT) AS vm
       |  FROM events
       |), t AS (
       |  SELECT user_id, CAST(vm AS HUGEINT) *
       |    CAST(power(2, 40 - LEAST(GREATEST((1706745600000000000 - tns)
       |         // 86400000000000, 0), 40)) AS HUGEINT) AS term
       |  FROM b
       |)
       |SELECT user_id, count(*) AS n_events,
       |  round(CAST(sum(term) AS DOUBLE) / 1099511627776.0 / 1000.0, 6)
       |    AS decayed_score
       |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming trending detector: the stream maintains watermarked hourly
    * type counts in an append parquet sink (the unbounded-output shape);
    * the q170 trailing-z burst math runs batch-side over the sink's
    * conservative closed-window set — the live-dashboard composition
    * (stream keeps the window store, readout is a bounded query). Both
    * sides share the conservative window filter, so emission boundaries
    * can't leak into the comparison; z is the (10c-s)/sqrt(10s2-s^2)
    * integer fold. */
  private def q206Build(s: SparkSession, dir: String): DataFrame = {
    val winU = 3600L * 1000000L
    val delayU = 3600L * 1000000L
    val (stage, maxTu) = stageAndMaxTu(s, dir)
    val streamed = StreamingOps.runToParquet(s, stage,
      s"q206_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.windowedEventAgg(df, window = "1 hour",
        watermark = "1 hour"))
    val maxKeep = (maxTu - delayU) / winU - 2
    val counts = streamed
      .withColumn("win", (unix_micros(col("window.start")) / winU).cast("long"))
      .filter(col("win") <= maxKeep)
      .select(col("win"), col("event_type"), col("n").as("c"))
    // q170's detector fold, shared verbatim — the twin can't drift
    Advanced.trailingZ(counts, "win")
  }

  private def q206Oracle: String = {
    val tu = "CAST(trunc(epoch_ns(ts)::DOUBLE / 1000.0) AS BIGINT)"
    val winU = 3600L * 1000000L
    val delayU = 3600L * 1000000L
    s"""WITH mx AS (SELECT max($tu) AS m FROM events),
cnt AS (
  SELECT $tu // $winU AS win, event_type, count(*) AS c
  FROM events, mx
  WHERE $tu // $winU + 2 <= (mx.m - $delayU) // $winU
  GROUP BY 1, 2
), r AS (
  SELECT event_type, win, c,
    count(*) OVER w AS n_prev, sum(c) OVER w AS s, sum(c * c) OVER w AS s2
  FROM cnt
  WINDOW w AS (PARTITION BY event_type ORDER BY win
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, win, c,
  CASE WHEN 10 * s2 - s * s > 0
       THEN round(CAST(10 * c - s AS DOUBLE)
                  / sqrt(CAST(10 * s2 - s * s AS DOUBLE)), 6) END AS z
FROM r WHERE n_prev = 10
ORDER BY event_type, win"""
  }

  /** Streaming twin of q182's A/B readout: the per-user conversion flag is
    * max(flag) — monotone, so a running Update-mode aggregation's last
    * update per user equals the batch flag under any micro-batch slicing.
    * The experiment statistic (variant pivot + two-proportion z) runs
    * batch-side over the final per-user states, sharing q182's exact
    * formula and oracle — the live-dashboard shape: stream maintains the
    * per-user store, the readout is a cheap bounded query over it. */
  private def q186Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q186_sink_${sinkId.incrementAndGet()}",
      df => df
        .select(col("user_id"), Advanced.conversionFlag.as("p"))
        .groupBy("user_id").agg(max("p").as("conv")),
      outputMode = OutputMode.Update)
    // q182's flag + statistic, shared verbatim — the twin can't drift
    Advanced.abReadout(
      updates.groupBy("user_id").agg(max("conv").as("conv")))
  }

  /** q182's oracle verbatim — the streaming store must reproduce the batch
    * experiment readout exactly. */
  private def q186Oracle: String =
    """|WITH per AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND value > 150
       |        THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id
       |), v AS (
       |  SELECT user_id % 2 AS variant, count(*) AS n,
       |    CAST(sum(conv) AS BIGINT) AS c
       |  FROM per GROUP BY 1
       |)
       |SELECT a.n AS n_a, a.c AS conv_a, b.n AS n_b, b.c AS conv_b,
       |  round(CAST(a.c AS DOUBLE) / a.n, 6) AS rate_a,
       |  round(CAST(b.c AS DOUBLE) / b.n, 6) AS rate_b,
       |  CASE WHEN a.c + b.c > 0 AND a.c + b.c < a.n + b.n
       |  THEN round((CAST(a.c AS DOUBLE) / a.n - CAST(b.c AS DOUBLE) / b.n)
       |    / sqrt((CAST(a.c + b.c AS DOUBLE) / (a.n + b.n))
       |      * (1 - CAST(a.c + b.c AS DOUBLE) / (a.n + b.n))
       |      * (1.0 / a.n + 1.0 / b.n)), 6) END AS z
       |FROM (SELECT n, c FROM v WHERE variant = 0) a
       |CROSS JOIN (SELECT n, c FROM v WHERE variant = 1) b""".stripMargin

  /** Streaming twin of q123's CDC compaction: the same
    * `max(struct(version, payload))` running as streaming state in Update
    * mode — the latest-state store a log-structured ingest maintains
    * continuously. Both the packed struct and `n_versions` only grow per
    * key, so the last update per key (max on (n_versions, last)) equals
    * the batch compaction under ANY micro-batch slicing; the tombstone
    * filter applies at read-out exactly as the batch operator does. The
    * oracle is q123's, verbatim. */
  private def q138Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q138_sink_${sinkId.incrementAndGet()}",
      df => df.groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("last"),
          count(lit(1)).as("n_versions")),
      outputMode = OutputMode.Update)
    updates.groupBy("user_id")
      .agg(max(struct(col("n_versions"), col("last"))).as("_fin"))
      .select(col("user_id"), col("_fin.last.ts").as("last_ts"),
        col("_fin.last.event_type").as("last_event_type"),
        col("_fin.last.value").as("last_value"),
        col("_fin.n_versions").as("n_versions"))
      .filter(col("last_event_type") =!= "error")
      .orderBy("user_id")
  }

  private def q138Oracle: String =
    """|WITH ranked AS (
       |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_type, value,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n_versions
       |  FROM events
       |)
       |SELECT user_id, ts_ns AS last_ts, event_type AS last_event_type,
       |  value AS last_value, CAST(n_versions AS BIGINT) AS n_versions
       |FROM ranked WHERE rn = 1 AND event_type <> 'error'
       |ORDER BY user_id""".stripMargin

  /** Streaming twin of q147's OHLC bars: min/max(struct) argmin/argmax +
    * count/sum running as Update-mode state per (event_type, hour). Every
    * aggregate is commutative and mergeable, and `n` only grows per key,
    * so the last update per key (max on (n, payload)) equals the batch
    * bars under ANY micro-batch slicing — the q123/q138 argument applied
    * to argmin/argmax state. The oracle is q147's, verbatim. */
  private def q153Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q153_sink_${sinkId.incrementAndGet()}",
      df => df
        .select(col("event_type"), expr("ts div 3600000000000").as("h"),
          col("ts"), col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy("event_type", "h")
        .agg(min(struct(col("ts"), col("event_id"), col("vm"))).as("_open"),
          max(struct(col("ts"), col("event_id"), col("vm"))).as("_close"),
          max("vm").as("high_vm"), min("vm").as("low_vm"),
          count(lit(1)).as("n"), sum("vm").as("sum_vm")),
      outputMode = OutputMode.Update)
    updates.groupBy("event_type", "h")
      .agg(max(struct(col("n"), col("_open"), col("_close"),
        col("high_vm"), col("low_vm"), col("sum_vm"))).as("_fin"))
      .select(col("event_type"), col("h"),
        col("_fin._open.vm").as("open_vm"),
        col("_fin._close.vm").as("close_vm"),
        col("_fin.high_vm").as("high_vm"), col("_fin.low_vm").as("low_vm"),
        col("_fin.n").as("n"), col("_fin.sum_vm").as("sum_vm"))
      .orderBy("event_type", "h")
  }

  private def q153Oracle: String =
    """|WITH v AS (
       |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
       |    epoch_ns(ts) AS t, event_id,
       |    CAST(floor(value * 1000) AS BIGINT) AS vm
       |  FROM events
       |), r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY event_type, h
       |      ORDER BY t, event_id) AS rna,
       |    row_number() OVER (PARTITION BY event_type, h
       |      ORDER BY t DESC, event_id DESC) AS rnd
       |  FROM v
       |)
       |SELECT event_type, h,
       |  max(CASE WHEN rna = 1 THEN vm END) AS open_vm,
       |  max(CASE WHEN rnd = 1 THEN vm END) AS close_vm,
       |  max(vm) AS high_vm, min(vm) AS low_vm,
       |  count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_vm
       |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q36_streaming_windowed_wavelet",
      "ST3 streaming windowed DSP: readStream -> watermarked event-time " +
        "windows -> wavelet amplitude -> append sink (AvailableNow)",
      q36Build, Some(q36Oracle)),
    QueryDef("q37_streaming_crossfade_stitch",
      "ST3/ST4 crossfade context + stitch: streaming windows with 4 h " +
        "margins crossfade-stitched back to the exact original samples",
      q37Build, Some(q37Oracle)),
    QueryDef("q55_streaming_event_agg",
      "ST3 watermarked event-time windowed aggregation: readStream -> " +
        "6 h tumbling windows -> per-type counts/sums -> append sink",
      q55Build, Some(q55Oracle)),
    QueryDef("q56_streaming_running_stats",
      "ST3 custom streaming state: per-channel Welford mean/std via " +
        "mapGroupsWithState, last update per channel == batch aggregate",
      q56Build, Some(q56Oracle)),
    QueryDef("q64_streaming_dedup",
      "streaming exact-dedup: per-content-hash running (count, keeper) " +
        "state via mapGroupsWithState == batch dedup aggregate",
      q64Build, Some(q64Oracle)),
    QueryDef("q73_streaming_pii_scrub",
      "streaming PII scrub: the q70 stateless redaction chain on a file " +
        "stream -> parquet sink; per-source rollup checksums every byte",
      q73Build, Some(q73Oracle)),
    QueryDef("q78_streaming_minhash_dedup",
      "streaming MinHash near-dup: LSH band buckets as running " +
        "(count, min-id) state == batch bucket aggregate; per-doc " +
        "collision flags from the final state",
      q78Build, Some(q78Oracle)),
    QueryDef("q84_streaming_count_min",
      "streaming count-min sketch: d*m-bounded cell state, last update " +
        "per cell == batch cell value; estimates == q83's batch oracle",
      q84Build, Some(q84Oracle)),
    QueryDef("q102_streaming_histogram_quantiles",
      "streaming histogram quantiles: fixed-grid (group, bin) running " +
        "count state bounded at groups*nBins; last cell update == batch " +
        "cell; selection over final cells == the batch sketch",
      q102Build, Some(q102Oracle)),
    QueryDef("q103_streaming_sessions",
      "streaming sessionization: native session_window (30 min gap) + " +
        "watermarked append; conservative closed set == batch gap-merge",
      q103Build, Some(q103Oracle)),
    QueryDef("q104_streaming_interval_join",
      "stream-stream interval join: two watermarked streams, range " +
        "condition, state eviction; result == batch interval join",
      q104Build, Some(q104Oracle)),
    QueryDef("q106_streaming_native_dedup",
      "native dropDuplicatesWithinWatermark over a self-unioned stream " +
        "(every event twice): rollup == the original table's rollup",
      q106Build, Some(q106Oracle)),
    QueryDef("q107_stream_static_enrich",
      "stream-static broadcast-dim join + running Update-mode rollup: " +
        "last update per key == batch aggregate",
      q107Build, Some(q107Oracle)),
    QueryDef("q138_streaming_compaction",
      "streaming CDC compaction: running max(struct) latest-state store " +
        "in Update mode == batch compaction (q123's oracle verbatim)",
      q138Build, Some(q138Oracle)),
    QueryDef("q153_streaming_ohlc",
      "streaming OHLC bars: running min/max(struct) argmin/argmax state " +
        "in Update mode == batch bars (q147's oracle verbatim)",
      q153Build, Some(q153Oracle)),
    QueryDef("q174_streaming_decayed",
      "streaming time-decayed engagement: fixed-anchor dyadic weights make " +
        "the decayed sum a commutative monoid — running Update-mode " +
        "aggregation == batch under any micro-batch slicing",
      q174Build, Some(q174Oracle)),
    QueryDef("q186_streaming_ab_test",
      "streaming A/B store: monotone per-user conversion flags in Update " +
        "mode, batch-side z readout == q182's batch statistic (oracle " +
        "verbatim)",
      q186Build, Some(q186Oracle)),
    QueryDef("q206_streaming_trending",
      "streaming trending detector: watermarked hourly counts to an " +
        "append sink, q170's trailing-z burst math batch-side over the " +
        "conservative closed-window set",
      q206Build, Some(q206Oracle)),
    QueryDef("q225_streaming_transitions",
      "streaming Markov transition store: per-user sorted sequence state " +
        "via flatMapGroupsWithState, final update == q217's batch " +
        "transition counts",
      q225Build, Some(q225Oracle)),
    QueryDef("q258_streaming_psi",
      "streaming PSI drift store: running (feature, bin, half) counts in " +
        "Update mode — commutative, so the final update feeds q255's " +
        "batch PSI readout exactly (oracle verbatim)",
      q258Build, Some(q258Oracle)),
    QueryDef("q239_streaming_aqp",
      "streaming AQP store: running per-type (exact, 1-in-4 HT sample) " +
        "totals in Update mode — every moment is commutative, so the " +
        "final update == q238's batch audit (oracle verbatim)",
      q239Build, Some(q239Oracle)),

    QueryDef("q270_streaming_bootstrap",
      "streaming Poisson bootstrap: 32 running hash-weighted replicates in Update mode",
      // q262's streaming twin: every per-(replicate, row) Poisson weight is
      // a pure row function and the per-replicate (count, weight-sum,
      // weighted-value-sum) triples are commutative integer sums, so the
      // LAST update per replicate (max row count — strictly monotone)
      // equals the batch aggregate under ANY micro-batch slicing. The
      // uncertainty readout of a 100 TB stream costs 32 state rows.
      q270Build, Some(q270Oracle)),

    QueryDef("q287_streaming_feature_pit",
      "streaming point-in-time feature store: per-user sorted history " +
        "state re-derives every purchase's leak-free features; final " +
        "update per label == q282's batch join (oracle verbatim)",
      q287Build, Some(q287Oracle)),

    QueryDef("q308_streaming_scd2",
      "streaming SCD Type-2 maintenance: sorted history state re-derives " +
        "validity intervals (retroactive arrivals SPLIT intervals); " +
        "final update per key == q141's batch build (oracle verbatim)",
      q308Build, Some(q308Oracle)),

    QueryDef("q324_streaming_capped_sessions",
      "streaming capped sessionization: sorted-history state re-runs the " +
        "gap+ceiling fold (out-of-order arrivals re-split boundaries); " +
        "final update per user == q316's batch fold (oracle verbatim)",
      q324Build, Some(Mlops.CappedSessionsOracle)),

    QueryDef("q330_streaming_outer_interval_join",
      "stream-stream LEFT OUTER interval join: unmatched errors emit once " +
        "the click watermark closes their window; conservative cutoff " +
        "replayed in the oracle",
      q330Build, Some(q330Oracle)),

    QueryDef("q333_streaming_sink_roundtrip",
      "DSv2 STREAMING write path: per-epoch idempotent commits through " +
        "graft-nwb, multi-batch census == direct scan (q318's oracle)",
      q333Build, Some(q333Oracle)),

    QueryDef("q338_streaming_hll",
      "streaming HyperLogLog registers in Update mode: per-bucket max-rho " +
        "is commutative, final cells == q119's batch sketch (oracle " +
        "verbatim)",
      q338Build, Some(Llm.HllTrigramOracle)),

    QueryDef("q341_late_data_audit",
      "watermark late-data accounting: planted beyond-watermark arrivals " +
        "are DROPPED, within-delay arrivals RETAINED; the oracle derives " +
        "the retained set from the watermark rule itself",
      q341Build, Some(q341Oracle)),
    QueryDef("q343_rocksdb_state_dedup",
      "q64's running dedup under the RocksDB state store (changelog " +
        "checkpointing, 3 forced micro-batches): the production state " +
        "backend must be invisible to results == batch dedup aggregate",
      q343Build, Some(q343Oracle)),
    QueryDef("q344_tws_state_dedup",
      "the running dedup on Spark 4's transformWithState API " +
        "(StatefulProcessor + named ValueState, RocksDB-only): the " +
        "next-gen state API == classic GroupState == batch aggregate",
      q344Build, Some(q344Oracle)),

    QueryDef("q353_tws_map_state_hist",
      "transformWithState MAP state: per-source language histogram with " +
        "one state-store entry per (source, lang) sub-key == batch census",
      // completes the TWS state-family certification (q344 = ValueState):
      // MapState gives per-sub-key read-modify-write without rehydrating
      // the whole histogram — with N sub-keys, a batch touching one lang
      // rewrites ~1/N of what a ValueState[Map] would. Counts commute, so
      // the last update per (source, lang) (= max, counts are monotone)
      // equals the batch census under any micro-batch slicing.
      q353Build, Some(
        """|SELECT source, lang, CAST(count(*) AS BIGINT) AS n
           |FROM documents GROUP BY source, lang
           |ORDER BY source, lang""".stripMargin)),

    QueryDef("q354_tws_list_state_sessions",
      "transformWithState LIST state: capped sessionization with O(batch) " +
        "append-only state writes == q316's batch fold (oracle verbatim)",
      // the LIST member of the family: arrivals APPEND to per-user
      // ListState (the q324 GroupState form rewrites its whole sorted
      // history each batch), the gap+ceiling fold re-runs over the sorted
      // union, and the final per-user update equals the batch fold.
      q354Build, Some(Mlops.CappedSessionsOracle)),

    QueryDef("q360_streaming_full_outer_interval_join",
      "stream-stream FULL OUTER interval join: unmatched rows emit from " +
        "BOTH sides once the opposite watermark closes their window; " +
        "conservative cutoff == the batch full join",
      // completes the stream-stream join modes (q104 inner, q330 left
      // outer): state evicts (and outer rows emit) on the GLOBAL
      // watermark — min across inputs of (that stream's own max event
      // time − its delay) — so the conservative cutoff anchors THERE
      // (errClickFinalWatermarkUs), 2 h inside it for the click window
      // end plus a 1 h margin, where the emitted set provably equals the
      // batch FULL JOIN at any event density (an earlier global-max
      // anchor held only while every stream's own max trailed the global
      // max by < 1 h — true at sf0.01, false at sf0.001).
      q360Build, Some(q360Oracle)),

    QueryDef("q365_streaming_neardup_pairs",
      "streaming near-dup pair emission: per-bucket ListState of the first " +
        "cap arrivals (capacity = live ListState membership); the emitted " +
        "pair set = all pairs among each LSH bucket's first cap arrivals " +
        "(rank oracle)",
      // the streaming twin of q364's incremental ingest, with the state
      // store AS the corpus: docs arrive in three deterministic batches
      // (doc_id % 3, mtime-ordered), each new doc pairs against its
      // buckets' stored members and joins them while the bucket's LIVE
      // ListState membership is under the cap (no separate arrival
      // counter — with TTL, expired members free their slots by design,
      // which is what makes the cap a rolling-retention capacity rather
      // than a lifetime one). The arrival-ordered cap makes the result
      // replayable: DuckDB ranks each bucket's members by (batch, doc_id)
      // and keeps pairs whose later member ranks <= cap. State per bucket
      // is bounded at cap ids regardless of bucket heat.
      q365Build, Some(q365Oracle)),

    QueryDef("q377_streaming_semdedup_pairs",
      "streaming SemDeDup candidates: a frozen coarse quantizer broadcast " +
        "into the stream; per-CELL ListState of the first cap arrivals " +
        "emits same-cell pairs, scored exactly batch-side (rank oracle)",
      // q365's semantic twin and q376's streaming sibling — the deployment
      // shape where embeddings ARRIVE: the coarse quantizer is trained ONCE
      // batch-side on the standing corpus and broadcast into the stream
      // (a stream never retrains its quantizer); each arriving vector
      // assigns to its frozen cell and pairs against the cell's stored
      // members under the same capped-ListState contract as q365 (state
      // per cell bounded at cap ids regardless of cell heat). Candidates
      // then score EXACTLY batch-side — the stream generates candidates,
      // the cheap exact cosine attaches after, mirroring how q373 splits
      // candidate generation from scoring. The oracle replays the frozen
      // quantizer (full-corpus Lloyd replica + af assignment), ranks each
      // cell's members by (batch, vec_id), and keeps pairs whose later
      // member ranks <= cap.
      q377Build, Some(q377Oracle)),

    QueryDef("q383_streaming_semdedup_approx",
      "streaming SemDeDup candidates through the two-level quantizer probe " +
        "at probe == nSuper: the exactness law makes q377's rank oracle " +
        "certify the probe path inside a live micro-batch pipeline",
      // q380's streaming twin, completing the family symmetry (batch
      // flat/approx, incremental derived/stored, sampled train, streaming
      // flat/approx): the frozen centroids AND the super-quantizer
      // broadcast into the stream; each arriving vector routes through
      // the probe scan. At probe == nSuper the routed cell equals the
      // flat scan bit-for-bit (the spec-pinned law), so the stored-member
      // pair emission and the rank oracle are q377's verbatim — which is
      // exactly what makes the approx machinery HASH-certifiable through
      // a streaming run (shallow probes stay census-certified: the
      // routing is approximate, so no oracle can replay it).
      q383Build, Some(q377Oracle)))

  /** q258: q255's streaming twin — the per-(feature, bin, half) counts are
    * commutative sums, so the last update per cell (max total; counts are
    * monotone) equals the batch census, and the PSI readout is q255's
    * batch math over the final cells. The half split anchors at the STATIC
    * table's min day (the drift baseline is a fixed property of the
    * deployment, not of arrival order). */
  private def q258Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val d0 = QueryDef.table(s, dir, "events")
      .agg(min(expr("ts div 86400000000000"))).head().getLong(0)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q258_sink_${sinkId.incrementAndGet()}",
      df => {
        val base = df.select(
          ((expr("ts div 86400000000000") - lit(d0)) >= 15L).as("cur"),
          expr("(ts div 3600000000000) % 24 div 4").as("f_hour_band"),
          expr("CAST(length(CAST(CAST(round(value * 1000) AS BIGINT) AS STRING)) AS BIGINT)")
            .as("f_value_digits"),
          pmod(col("user_id"), lit(8)).as("f_user_bucket"))
        val feats = Seq("f_hour_band", "f_value_digits", "f_user_bucket").map { f =>
          base.select(lit(f).as("feature"), col(f).as("bin"), col("cur"))
        }.reduce(_ union _)
        feats.groupBy("feature", "bin", "cur").agg(count(lit(1)).as("c"))
      },
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("feature", "bin", "cur")
    val cells = updates.withColumn("_mx", max("c").over(w))
      .filter(col("c") === col("_mx"))
      .select("feature", "bin", "cur", "c").distinct()
      .groupBy("feature", "bin")
      .agg(sum(when(!col("cur"), col("c")).otherwise(0L)).as("cb"),
        sum(when(col("cur"), col("c")).otherwise(0L)).as("cc"))
      .pin // feeds per-feature totals and the readout
    val tots = cells.groupBy("feature")
      .agg(sum("cb").as("nb"), sum("cc").as("nc"), count(lit(1)).as("bc"))
    cells.join(tots, "feature")
      .withColumn("term_micro", expr("""CAST(floor((
        ((cb + 1.0D) / (nb + bc) - (cc + 1.0D) / (nc + bc))
        * ln(((cb + 1.0D) / (nb + bc))
           / ((cc + 1.0D) / (nc + bc))) * 1e6) + 0.5) AS BIGINT)"""))
      .groupBy("feature").agg(sum("term_micro").cast("long").as("psi_micro"))
      .orderBy("feature")
  }

  private def q258Oracle: String =
    """|WITH base AS (
       |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |    (epoch_ns(ts) // 3600000000000) % 24 // 4 AS f_hour_band,
       |    CAST(len(CAST(CAST(round(value * 1000) AS BIGINT) AS VARCHAR))
       |      AS BIGINT) AS f_value_digits,
       |    user_id % 8 AS f_user_bucket
       |  FROM events
       |), half AS (
       |  SELECT *, day - (SELECT min(day) FROM base) >= 15 AS cur
       |  FROM base
       |), feats AS (
       |  SELECT 'f_hour_band' AS feature, f_hour_band AS bin, cur FROM half
       |  UNION ALL
       |  SELECT 'f_value_digits', f_value_digits, cur FROM half
       |  UNION ALL
       |  SELECT 'f_user_bucket', f_user_bucket, cur FROM half
       |), c AS (
       |  SELECT feature, bin,
       |    CAST(sum(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS cb,
       |    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cc
       |  FROM feats GROUP BY 1, 2
       |), t AS (
       |  SELECT feature, CAST(sum(cb) AS BIGINT) AS nb,
       |    CAST(sum(cc) AS BIGINT) AS nc, count(*) AS bc
       |  FROM c GROUP BY 1
       |)
       |SELECT c.feature,
       |  CAST(sum(CAST(floor((
       |    ((cb + 1.0) / (nb + bc) - (cc + 1.0) / (nc + bc))
       |    * ln(((cb + 1.0) / (nb + bc)) / ((cc + 1.0) / (nc + bc)))
       |    * 1e6) + 0.5) AS BIGINT)) AS BIGINT) AS psi_micro
       |FROM c JOIN t ON t.feature = c.feature
       |GROUP BY c.feature ORDER BY c.feature""".stripMargin

  /** q239: the streaming twin of q238 — the deterministic md5 sample
    * membership ('aqp:' grid) and all four running totals are commutative
    * sums, so the per-type LAST update (max n_true, counts are monotone)
    * equals the batch Horvitz-Thompson audit under any micro-batch
    * slicing. The AQP dashboard as a live store. */
  private def q239Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q239_sink_${sinkId.incrementAndGet()}",
      df => df
        .select(col("event_type"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("vm"),
          (conv(substring(md5(concat(lit("aqp:"), col("event_id").cast("string"))),
            1, 15), 16, 10).cast("long") % 4L === 0L).as("insample"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_true"), sum("vm").as("sum_true_vm"),
          (sum(when(col("insample"), 1L).otherwise(0L)) * 4L).as("n_hat"),
          (sum(when(col("insample"), col("vm")).otherwise(0L)) * 4L)
            .as("sum_hat_vm")),
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    updates
      .withColumn("_mx", max("n_true").over(w))
      .filter(col("n_true") === col("_mx"))
      .select(col("event_type"), col("n_true"), col("n_hat"),
        col("sum_true_vm"), col("sum_hat_vm"),
        expr("CAST(round(1e6 * (n_hat - n_true) / n_true, 0) AS BIGINT)")
          .as("n_err_ppm"),
        expr("""CAST(round(1e6 * (sum_hat_vm - sum_true_vm)
          / sum_true_vm, 0) AS BIGINT)""").as("sum_err_ppm"))
      .orderBy("event_type")
  }

  private def q239Oracle: String =
    """|WITH e AS (
       |  SELECT event_type,
       |    CAST(round(value * 1000) AS BIGINT) AS vm,
       |    CAST(('0x' || substr(md5('aqp:' || event_id), 1, 15))
       |      AS UBIGINT) % 4 = 0 AS insample
       |  FROM events
       |), agg AS (
       |  SELECT event_type,
       |    CAST(count(*) AS BIGINT) AS n_true,
       |    CAST(sum(CASE WHEN insample THEN 1 ELSE 0 END) * 4 AS BIGINT)
       |      AS n_hat,
       |    CAST(sum(vm) AS BIGINT) AS sum_true_vm,
       |    CAST(sum(CASE WHEN insample THEN vm ELSE 0 END) * 4 AS BIGINT)
       |      AS sum_hat_vm
       |  FROM e GROUP BY 1
       |)
       |SELECT event_type, n_true, n_hat, sum_true_vm, sum_hat_vm,
       |  CAST(round(1e6 * (n_hat - n_true) / n_true, 0) AS BIGINT)
       |    AS n_err_ppm,
       |  CAST(round(1e6 * (sum_hat_vm - sum_true_vm) / sum_true_vm, 0)
       |    AS BIGINT) AS sum_err_ppm
       |FROM agg ORDER BY event_type""".stripMargin

  /** q270: q262's streaming twin — see the QueryDef note. The Poisson
    * weight CASE (thresholds included) comes from the same Mlops helper the
    * batch query embeds, so batch, stream, and oracle share one literal. */
  private def q270Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    val w = Mlops.poissonWeightCase(
      "concat('sboot:', CAST(b AS STRING), ':', CAST(event_id AS STRING))",
      spark = true)
    val updates = StreamingOps.runToMemory(s, stage,
      s"q270_sink_${sinkId.incrementAndGet()}",
      df => df
        .select(col("event_id"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("vm"),
          explode(sequence(lit(0), lit(31))).as("b"))
        .select(col("b"), col("vm"), expr(w).as("w"))
        .groupBy("b")
        .agg(count(lit(1)).as("n_rows"), sum("w").as("n_eff"),
          sum(expr("w * vm")).as("sum_vm")),
      outputMode = OutputMode.Update)
    val win = org.apache.spark.sql.expressions.Window.partitionBy("b")
    updates.withColumn("_mx", max("n_rows").over(win))
      .filter(col("n_rows") === col("_mx"))
      .select(col("b").cast("int").as("b"), col("n_rows"), col("n_eff"),
        col("sum_vm"),
        round(col("sum_vm").cast("double") / col("n_eff"), 6).as("boot_mean"))
      .orderBy("b")
  }

  private def q270Oracle: String = {
    val w = Mlops.poissonWeightCase("'sboot:' || b || ':' || event_id",
      spark = false)
    s"""|WITH fan AS (
        |  SELECT u.b, CAST(round(e.value * 1000) AS BIGINT) AS vm, $w AS w
        |  FROM events e
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) u
        |)
        |SELECT CAST(b AS INT) AS b, count(*) AS n_rows,
        |  CAST(sum(w) AS BIGINT) AS n_eff,
        |  CAST(sum(w * vm) AS BIGINT) AS sum_vm,
        |  round(CAST(CAST(sum(w * vm) AS BIGINT) AS DOUBLE)
        |    / CAST(sum(w) AS BIGINT), 6) AS boot_mean
        |FROM fan GROUP BY b ORDER BY b""".stripMargin
  }

  /** q225: the streaming twin of q217's transition matrix — per-user event
    * sequences accumulate as sorted state (StreamingOps.runningTransitions),
    * each update re-emits the user's full transition multiset, the batch
    * readout keeps each user's final update (max n_events) and reduces to
    * the global (prev, next) counts. Order-independence across micro-batch
    * slicings comes from sorting the stored history, not from arrival
    * order. */
  private def q225Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    import s.implicits._
    val updates = StreamingOps.runToMemory(s, stage,
      s"q225_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.runningTransitions(
        df.select(col("user_id"), col("ts").cast("long").as("tu"),
          col("event_id"), col("event_type"))
          .as[StreamingOps.SeqEvent]).toDF(),
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    updates
      .withColumn("_mx", max("n_events").over(w))
      .filter(col("n_events") === col("_mx"))
      .groupBy("prev_type", "next_type")
      .agg(sum("n").cast("long").as("n"))
      .orderBy("prev_type", "next_type")
  }

  /** q287: q282's streaming twin — per-user sorted (tn, eid, type, vmilli)
    * history via StreamingOps.runningPitFeatures re-derives every
    * purchase's strictly-before features on each update, so the readout
    * (each label's final update, n_events monotone per user) equals the
    * batch point-in-time join under any micro-batch slicing. The oracle is
    * q282's correlated-subquery spec verbatim. */
  private def q287Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    import s.implicits._
    val updates = StreamingOps.runToMemory(s, stage,
      s"q287_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.runningPitFeatures(
        df.select(col("user_id"), col("ts").cast("long").as("tn"),
          col("event_id"), col("event_type"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("vmilli"))
          .as[StreamingOps.PitEvent]).toDF(),
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("label_id")
    updates
      .withColumn("_mx", max("n_events").over(w))
      .filter(col("n_events") === col("_mx"))
      .select(col("label_id"), col("user_id"), col("label_us"),
        col("n_views_before"), col("last_click_vmilli"),
        col("err_vmilli_before"))
      .orderBy("label_id")
  }

  /** q308: q141's streaming twin — per-user sorted (tn, eid, vm) state via
    * StreamingOps.runningScd2; each update re-emits the user's FULL
    * interval table, the readout keeps the final update per user
    * (n_events monotone), and equality with the batch lead-window build
    * holds under any micro-batch slicing including retroactive interval
    * splits. Oracle is q141's SQL verbatim. */
  private def q308Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    import s.implicits._
    val updates = StreamingOps.runToMemory(s, stage,
      s"q308_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.runningScd2(
        df.filter(col("user_id") % 20 === 0)
          .select(col("user_id"), col("ts").cast("long").as("tn"),
            col("event_id"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .as[StreamingOps.Scd2Event]).toDF(),
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    updates
      .withColumn("_mx", max("n_events").over(w))
      .filter(col("n_events") === col("_mx"))
      .select(col("user_id"), col("event_id"),
        col("valid_from"), col("valid_to"), col("vm"), col("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** q324: q316's streaming twin — per-user sorted (tn, eid) state via
    * StreamingOps.runningCappedSessions re-runs the duration-cap fold on
    * every update; the readout keeps the final update per user (n_events
    * strictly monotone — the group function only fires when rows arrive),
    * so equality with the batch fold holds under any micro-batch slicing.
    * Oracle is q316's list_reduce SQL verbatim. */
  private def q324Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    import s.implicits._
    val updates = StreamingOps.runToMemory(s, stage,
      s"q324_sink_${sinkId.incrementAndGet()}",
      df => StreamingOps.runningCappedSessions(
        df.select(col("user_id"), col("ts").cast("long").as("tn"),
          col("event_id")).as[StreamingOps.SessEvent],
        gapNs = 43200000000000L, capNs = 86400000000000L).toDF(),
      outputMode = OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    updates
      .withColumn("_mx", max("n_events").over(w))
      .filter(col("n_events") === col("_mx"))
      .select(col("user_id"), col("n_events"), col("n_sessions"),
        col("n_cap_splits"), col("max_sess_events"))
      .orderBy("user_id")
  }

  private def q308Oracle: String =
    """|WITH f AS (
       |  SELECT user_id, event_id, epoch_ns(ts) AS t,
       |    CAST(floor(value * 1000) AS BIGINT) AS vm
       |  FROM events WHERE user_id % 20 = 0
       |), iv AS (
       |  SELECT user_id, event_id, t AS valid_from,
       |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
       |      AS valid_to,
       |    vm
       |  FROM f
       |)
       |SELECT user_id, event_id, valid_from, valid_to, vm,
       |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
       |FROM iv ORDER BY user_id, valid_from, event_id""".stripMargin

  private def q287Oracle: String =
    """|SELECT p.event_id AS label_id, p.user_id,
       |  epoch_us(p.ts) AS label_us,
       |  (SELECT count(*) FROM events v
       |   WHERE v.event_type = 'view' AND v.user_id = p.user_id
       |     AND v.ts < p.ts) AS n_views_before,
       |  (SELECT CAST(floor(c.value * 1000) AS BIGINT) FROM events c
       |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
       |     AND c.ts < p.ts AND c.value IS NOT NULL
       |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1)
       |    AS last_click_vmilli,
       |  (SELECT COALESCE(CAST(sum(CAST(floor(er.value * 1000)
       |       AS BIGINT)) AS BIGINT), 0) FROM events er
       |   WHERE er.event_type = 'error' AND er.user_id = p.user_id
       |     AND er.ts < p.ts) AS err_vmilli_before
       |FROM events p WHERE p.event_type = 'purchase'
       |ORDER BY label_id""".stripMargin

  private def q225Oracle: String =
    """|WITH o AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_type
       |  FROM events
       |)
       |SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
       |FROM o WHERE prev_type IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q341: watermark late-data accounting ------------------------------
  //
  // Every other streaming query stages ONE file (one micro-batch), where the
  // watermark starts at the epoch and nothing is ever late — they certify
  // state discipline, not the DROP rule. q341 stages TWO mtime-ordered
  // files (one micro-batch each via maxFilesPerTrigger=1):
  //
  //   batch 1 (file A): the corpus's old era (ts <= maxTs - 36 h), minus the
  //     planted sets below. Its max event time fixes the late filter for
  //     the final batch: wm1 = maxA - 2 h.
  //   batch 2: an EMPTY file. Spark's late-data filter runs one batch
  //     behind the reported watermark (batch N filters with batch N-1's
  //     REPORTED value, which is maxET(batch N-2) - delay — measured
  //     empirically: with two files the planted-late batch filtered
  //     against the epoch and dropped nothing). The empty middle batch
  //     advances the reported watermark to maxA - delay so the next file
  //     is filtered against exactly the value batch 1 established.
  //   batch 3 (file B): the recent era (on time), plus two PLANTED sets
  //     that are late relative to batch 1:
  //       - late_set ('late:' md5 sample at 0.3 of rows older than
  //         maxTs - 72 h): >= 26 h beyond wm1 -> every row must be DROPPED;
  //       - mid_set ('mid:' md5 sample at 0.5 of rows in
  //         (maxA_era - 90 min, maxTs - 36 h]): late but INSIDE the 2 h
  //         delay (>= 30 min from the boundary) -> every row must be
  //         RETAINED.
  //
  // Both planted sets land in windows the conservative output filter keeps
  // (they sit >= 26 h below the final watermark), so the drop/retain
  // decision is VISIBLE in the compared counts — unlike boundary windows,
  // which both sides discard as usual. The >= 30 min / >= 26 h margins keep
  // Spark's ms-truncated watermark and the <=-vs-< eviction strictness out
  // of the compare; the oracle applies the rule at window granularity (a
  // batch-2 row survives iff its window end is past wm1), which the margins
  // make equivalent to any of Spark's internal formulations.
  // defs (a val, earlier in the file) interpolates these into the oracle
  // SQL at object init — they must be defs, not vals, or they read as 0
  private def WinU341 = 6L * 3600L * 1000000L   // 6 h windows (micros)
  private def DelayU341 = 2L * 3600L * 1000000L // 2 h watermark delay
  private def HNs = 3600L * 1000000000L

  private def q341Build(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Curation
    val ev = QueryDef.table(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val mn = ev.agg(max("ts")).head().getLong(0)
    val eraEnd = mn - 36L * HNs
    val isLate = col("ts") < mn - 72L * HNs &&
      Curation.sampleHash(col("event_id"), "late") <
        Curation.rateThreshold(0.3)
    val isMid = col("ts") > eraEnd - 90L * 60L * 1000000000L &&
      col("ts") <= eraEnd &&
      Curation.sampleHash(col("event_id"), "mid") <
        Curation.rateThreshold(0.5)
    val fileA = ev.filter(col("ts") <= eraEnd && !isLate && !isMid)
    val fileB = ev.filter(col("ts") > eraEnd || isLate || isMid)
    val stage = java.nio.file.Files.createTempDirectory("q341_stage")
    StreamingOps.deleteOnExit(stage)
    val now = System.currentTimeMillis()
    StreamingOps.stageFileAs(fileA, stage, "a_batch1.parquet", now - 180000L)
    StreamingOps.stageFileAs(ev.filter(lit(false)), stage,
      "b_batch2_wm.parquet", now - 90000L)
    StreamingOps.stageFileAs(fileB, stage, "c_batch3.parquet", now)
    val streamed = StreamingOps.runToParquetOrdered(s, stage.toString,
      s"q341_sink_${sinkId.incrementAndGet()}",
      df => df
        .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
        .withWatermark("event_time", "2 hours")
        .groupBy(window(col("event_time"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("sum_v_e6")))
    val maxTu = ev.agg(max((col("ts") / 1000).cast("long"))).head().getLong(0)
    val maxKeep = (maxTu - DelayU341) / WinU341 - 2
    streamed
      .withColumn("win", (unix_micros(col("window.start")) / WinU341).cast("long"))
      .filter(col("win") <= maxKeep)
      .select(col("win"), col("event_type"), col("n"), col("sum_v_e6"))
      .orderBy("win", "event_type")
  }

  private def q341Oracle: String = {
    import graft.text.Curation
    val tu = "CAST(trunc(epoch_ns(ts)::DOUBLE / 1000.0) AS BIGINT)"
    s"""|WITH base AS (
        |  SELECT event_id, event_type, value, epoch_ns(ts) AS tn, $tu AS tu,
        |    CAST(('0x' || substr(md5('late:' || event_id), 1, 15)) AS BIGINT)
        |      AS hl,
        |    CAST(('0x' || substr(md5('mid:' || event_id), 1, 15)) AS BIGINT)
        |      AS hm
        |  FROM events
        |), mx AS (SELECT max(tn) AS mn, max(tu) AS mu FROM base),
        |flags AS (
        |  SELECT b.*,
        |    (b.tn < mx.mn - ${72L * HNs}
        |      AND b.hl < ${Curation.rateThreshold(0.3)}) AS is_late,
        |    (b.tn > mx.mn - ${36L * HNs + 90L * 60L * 1000000000L}
        |      AND b.tn <= mx.mn - ${36L * HNs}
        |      AND b.hm < ${Curation.rateThreshold(0.5)}) AS is_mid,
        |    (b.tn <= mx.mn - ${36L * HNs}) AS in_era_a
        |  FROM base b, mx
        |),
        |fa AS (
        |  SELECT * FROM flags WHERE in_era_a AND NOT is_late AND NOT is_mid
        |),
        |wm AS (SELECT max(tu) - $DelayU341 AS w1 FROM fa),
        |fb AS (
        |  SELECT * FROM flags WHERE NOT in_era_a OR is_late OR is_mid
        |),
        |-- the watermark rule: a batch-2 row survives iff its window is
        |-- still open against the watermark batch 1 established
        |fbkept AS (
        |  SELECT fb.* FROM fb, wm
        |  WHERE (fb.tu // $WinU341 + 1) * $WinU341 > wm.w1
        |),
        |retained AS (
        |  SELECT tu, event_type, value FROM fa
        |  UNION ALL SELECT tu, event_type, value FROM fbkept
        |)
        |SELECT tu // $WinU341 AS win, event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_v_e6
        |FROM retained, mx
        |WHERE tu // $WinU341 + 2 <= (mx.mu - $DelayU341) // $WinU341
        |GROUP BY 1, 2 ORDER BY win, event_type""".stripMargin
  }

  // ---- q343: dedup state through the RocksDB state store -----------------
  // The default HDFSBackedStateStoreProvider keeps every store's working
  // map ON-HEAP per executor — fine while total streaming state fits
  // executor memory, a wall once corpus-lifetime dedup state (one entry
  // per distinct document EVER seen) outgrows the heap. RocksDB keeps
  // state off-heap/on-disk per partition with changelog checkpointing
  // (commits ship a delta, not a snapshot) — the production backend at
  // 100 TB. The backend must be INVISIBLE to results, so q343 re-runs
  // q64's running dedup under RocksDB, forced through three mtime-ordered
  // micro-batches (state committed to and restored from RocksDB between
  // batches, not one trivial commit), against the same batch oracle.

  private def q343Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("q343_stage")
    StreamingOps.deleteOnExit(stage)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(3)) === i),
        stage, s"docs_$i.parquet", now - (3 - i) * 60000L)
    import s.implicits._
    val updates = StreamingOps.withRocksDbState(s) {
      StreamingOps.runToMemoryOrdered(s, stage.toString,
        s"q343_sink_${sinkId.incrementAndGet()}",
        df => StreamingOps.runningDedup(
          df.select(md5(col("text")).as("content_hash"), col("doc_id"))
            .as[StreamingOps.DocHashEvent]).toDF(),
        outputMode = OutputMode.Update)
    }
    // each hash's LAST update (max running count) == the batch aggregate
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("n_copies").desc)
    updates
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("content_hash"), col("n_copies"), col("keeper"))
      .orderBy("content_hash")
  }

  private def q343Oracle: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
      |  min(doc_id) AS keeper
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  // ---- q344: dedup on the transformWithState API -------------------------
  // Spark 4's public successor to mapGroupsWithState: named typed state
  // through a StatefulProcessorHandle, TTL, timers — and RocksDB-only by
  // design. q344 runs the SAME running-dedup fold as q343 but through
  // `StatefulProcessor`/`ValueState` instead of GroupState, forced through
  // the same three micro-batches, against the same batch oracle — so the
  // engine's next-generation state API is driver-certified alongside the
  // classic one.

  private def q344Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("q344_stage")
    StreamingOps.deleteOnExit(stage)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(3)) === i),
        stage, s"docs_$i.parquet", now - (3 - i) * 60000L)
    import s.implicits._
    val updates = StreamingOps.withRocksDbState(s) {
      StreamingOps.runToMemoryOrdered(s, stage.toString,
        s"q344_sink_${sinkId.incrementAndGet()}",
        df => StreamingOps.runningDedupTws(
          df.select(md5(col("text")).as("content_hash"), col("doc_id"))
            .as[StreamingOps.DocHashEvent]).toDF(),
        outputMode = OutputMode.Update)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("n_copies").desc)
    updates
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("content_hash"), col("n_copies"), col("keeper"))
      .orderBy("content_hash")
  }

  private def q344Oracle: String = q343Oracle

  // ---- q353/q354: the MapState and ListState members of the TWS family ---

  private def q353Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("q353_stage")
    StreamingOps.deleteOnExit(stage)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(3)) === i),
        stage, s"docs_$i.parquet", now - (3 - i) * 60000L)
    import s.implicits._
    val updates = StreamingOps.withRocksDbState(s) {
      StreamingOps.runToMemoryOrdered(s, stage.toString,
        s"q353_sink_${sinkId.incrementAndGet()}",
        df => StreamingOps.runningLangHistTws(
          df.select(col("source"), col("lang"))
            .as[StreamingOps.LangEvent]).toDF(),
        outputMode = OutputMode.Update)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "lang")
    updates
      .withColumn("_mx", max("n").over(w))
      .filter(col("n") === col("_mx"))
      .select(col("source"), col("lang"), col("n")).distinct()
      .orderBy("source", "lang")
  }

  private def q354Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = stageEvents(s, dir)
    import s.implicits._
    val updates = StreamingOps.withRocksDbState(s) {
      StreamingOps.runToMemory(s, stage,
        s"q354_sink_${sinkId.incrementAndGet()}",
        df => StreamingOps.runningCappedSessionsTws(
          df.select(col("user_id"), col("ts").cast("long").as("tn"),
            col("event_id")).as[StreamingOps.SessEvent],
          gapNs = 43200000000000L, capNs = 86400000000000L).toDF(),
        outputMode = OutputMode.Update)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    updates
      .withColumn("_mx", max("n_events").over(w))
      .filter(col("n_events") === col("_mx"))
      .select(col("user_id"), col("n_events"), col("n_sessions"),
        col("n_cap_splits"), col("max_sess_events"))
      .orderBy("user_id")
  }

  // ---- q365: streaming near-dup pair emission (capped ListState) ---------

  private def q365Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stage = java.nio.file.Files.createTempDirectory("q365_stage")
    StreamingOps.deleteOnExit(stage)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(docs.filter(pmod(col("doc_id"), lit(3)) === i),
        stage, s"docs_$i.parquet", now - (3 - i) * 60000L)
    import s.implicits._
    // global arrival sequence consistent with (batch order, in-batch id
    // order): the oracle ranks by exactly this
    val emits = StreamingOps.withRocksDbState(s) {
      StreamingOps.runToMemoryOrdered(s, stage.toString,
        s"q365_sink_${sinkId.incrementAndGet()}",
        df => StreamingOps.runningNearDupPairs(
          TextOps.bandBuckets(TextOps.minhashSignatures(df))
            .withColumn("seq",
              pmod(col("doc_id"), lit(3)) * 1000000000000L + col("doc_id"))
            .as[StreamingOps.PairEvent]).toDF(),
        outputMode = OutputMode.Append)
    }
    emits.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("doc_a", "doc_b")
  }

  private def q365Oracle: String =
    s"""WITH ${Llm.MinhashCtes}, rk AS (
       |  SELECT doc_id, band_idx, bucket,
       |    row_number() OVER (PARTITION BY band_idx, bucket
       |      ORDER BY doc_id % 3, doc_id) AS rnk
       |  FROM bucket
       |)
       |SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |  greatest(a.doc_id, b.doc_id) AS doc_b,
       |  count(*) AS n_bands
       |FROM rk a JOIN rk b
       |  ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.rnk < b.rnk
       |WHERE b.rnk <= 64
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin

  // ---- q377: streaming SemDeDup candidates (frozen quantizer) ------------

  private def q377Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.text.Similarity
    val stage = java.nio.file.Files.createTempDirectory("q377_stage")
    StreamingOps.deleteOnExit(stage)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    // the frozen quantizer: trained once batch-side on the standing corpus
    val centroids = Similarity.kmeansCentroids(emb, k = 16, iters = 2)
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(emb.filter(pmod(col("vec_id"), lit(3)) === i),
        stage, s"emb_$i.parquet", now - (3 - i) * 60000L)
    import s.implicits._
    val emits = StreamingOps.withRocksDbState(s) {
      StreamingOps.runToMemoryOrdered(s, stage.toString,
        s"q377_sink_${sinkId.incrementAndGet()}",
        df => StreamingOps.runningNearDupPairs(
          Similarity.assignWith(df, centroids)
            .select(lit(0).as("band_idx"),
              col("cell").cast("string").as("bucket"),
              col("id").as("doc_id"),
              (pmod(col("id"), lit(3)) * 1000000000000L + col("id")).as("seq"))
            .as[StreamingOps.PairEvent]).toDF(),
        outputMode = OutputMode.Append)
    }
    // exact scoring attaches batch-side to the streamed candidate set.
    // Emitted similarity rides the e9 integer grid END TO END (the q384 /
    // Lloyd-moment idiom): dot/na/nb are exact BIGINTs from floor_dot_e9,
    // and sim_e4 derives from them through correctly-rounded IEEE ops only
    // (long->double exact below 2^53, sqrt/div/mul correctly rounded,
    // floor tie-free) — bit-identical on any engine, unlike the former
    // round(<raw double cosine>, 4) whose parity relied on two engines'
    // independent float arithmetic agreeing (the r15/r16 driver reds).
    semdedupExactGridScore(s, dir, emits)
  }

  /** q383: q377's build with the stream-side assignment routed through the
    * two-level probe at probe == nSuper (exhaustive — bit-identical cells,
    * so the emitted pair set and q377's oracle apply verbatim). */
  private def q383Build(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.text.Similarity
    val stage = java.nio.file.Files.createTempDirectory("q383_stage")
    StreamingOps.deleteOnExit(stage)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val centroids = Similarity.kmeansCentroids(emb, k = 16, iters = 2)
    val sq = Similarity.superQuantizer(centroids, nSuper = 4)
    val now = System.currentTimeMillis()
    for (i <- 0 until 3)
      StreamingOps.stageFileAs(emb.filter(pmod(col("vec_id"), lit(3)) === i),
        stage, s"emb_$i.parquet", now - (3 - i) * 60000L)
    import s.implicits._
    val emits = StreamingOps.withRocksDbState(s) {
      StreamingOps.runToMemoryOrdered(s, stage.toString,
        s"q383_sink_${sinkId.incrementAndGet()}",
        df => StreamingOps.runningNearDupPairs(
          Similarity.assignWithApprox(df, centroids, sq, probe = 4)
            .select(lit(0).as("band_idx"),
              col("cell").cast("string").as("bucket"),
              col("id").as("doc_id"),
              (pmod(col("id"), lit(3)) * 1000000000000L + col("id")).as("seq"))
            .as[StreamingOps.PairEvent]).toDF(),
        outputMode = OutputMode.Append)
    }
    semdedupExactGridScore(s, dir, emits)
  }

  /** Shared q377/q383 batch-side rescoring tail: attach the full-precision
    * vectors to the streamed candidate pair set, then score on the exact
    * e9 integer grid. dot_e9/na_e9/nb_e9 are the certifying integer
    * moments (Σ floor(aᵢ·bᵢ·1e9), native codegen'd [[FloorDotE9]]);
    * sim_e4 = floor(dot/√na/√nb · 1e4 + 0.5) is a human-readable 4-decimal
    * cosine that stays a BIGINT and is reproducible bit-for-bit from the
    * moments alone on any IEEE engine (each step is a single correctly-
    * rounded op on identical inputs — no engine-dependent rounding mode,
    * no half-way case). */
  private def semdedupExactGridScore(s: SparkSession, dir: String,
      emits: DataFrame): DataFrame = {
    graft.functions.GridFunctions.register(s)
    val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    emits.select(col("doc_a"), col("doc_b"))
      .join(vecs.select(col("vec_id").as("doc_a"),
        col("embedding").as("va")), "doc_a")
      .join(vecs.select(col("vec_id").as("doc_b"),
        col("embedding").as("vb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("floor_dot_e9(va, vb)").as("dot_e9"),
        expr("floor_dot_e9(va, va)").as("na_e9"),
        expr("floor_dot_e9(vb, vb)").as("nb_e9"))
      // zero-norm guard — the same branch gridSimE4/gridSimE4Sql define as
      // part of the grid contract: without it a zero vector makes the
      // Spark floor read Long.MaxValue (floor over DoubleType is LongType,
      // Infinity saturates) while the oracle's floor(inf) errors (r18
      // ADVICE). The CASE twin lives in q377Oracle.
      .withColumn("sim_e4",
        when(col("na_e9") <= 0L || col("nb_e9") <= 0L, lit(0L))
          .otherwise(floor(
            col("dot_e9").cast("double") / sqrt(col("na_e9").cast("double")) /
              sqrt(col("nb_e9").cast("double")) * lit(1e4) + lit(0.5))))
      .orderBy("doc_a", "doc_b")
  }

  private def q377Oracle: String =
    s"""WITH ${Llm.ivfLloydCtes()}
       |${Llm.IvfAssignCte},
       |rk AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY vec_id % 3, vec_id) AS rnk
       |  FROM af
       |),
       |scored AS (
       |  SELECT least(a.vec_id, b.vec_id) AS doc_a,
       |    greatest(a.vec_id, b.vec_id) AS doc_b,
       |    -- exact e9-grid moments: the floor_dot_e9 replica (each term is
       |    -- floor of a correctly-rounded double product; the long sum is
       |    -- order-free), so the hash never rests on raw-double parity
       |    COALESCE(CAST(list_sum(list_transform(generate_series(1, len(ea.v)),
       |      i -> CAST(floor(ea.v[i] * eb.v[i] * 1e9) AS BIGINT)))
       |      AS BIGINT), 0) AS dot_e9,
       |    COALESCE(CAST(list_sum(list_transform(generate_series(1, len(ea.v)),
       |      i -> CAST(floor(ea.v[i] * ea.v[i] * 1e9) AS BIGINT)))
       |      AS BIGINT), 0) AS na_e9,
       |    COALESCE(CAST(list_sum(list_transform(generate_series(1, len(eb.v)),
       |      i -> CAST(floor(eb.v[i] * eb.v[i] * 1e9) AS BIGINT)))
       |      AS BIGINT), 0) AS nb_e9
       |  FROM rk a JOIN rk b ON a.cell = b.cell AND a.rnk < b.rnk
       |  JOIN emb ea ON ea.vec_id = least(a.vec_id, b.vec_id)
       |  JOIN emb eb ON eb.vec_id = greatest(a.vec_id, b.vec_id)
       |  WHERE b.rnk <= 64
       |)
       |SELECT doc_a, doc_b, dot_e9, na_e9, nb_e9,
       |  CASE WHEN na_e9 <= 0 OR nb_e9 <= 0 THEN 0
       |    ELSE CAST(floor(CAST(dot_e9 AS DOUBLE) / sqrt(CAST(na_e9 AS DOUBLE))
       |      / sqrt(CAST(nb_e9 AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) END AS sim_e4
       |FROM scored
       |ORDER BY doc_a, doc_b""".stripMargin
}
