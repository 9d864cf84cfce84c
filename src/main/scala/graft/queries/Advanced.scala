package graft.queries

import graft.operators.Checkpoints.Pinnable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QueryDef.table
import graft.model.Frames
import graft.operators.{DspOperators, Graph}

/** Round-10 additions: spectral estimation (Welch PSD), cross-channel lag
  * correlation, time-decayed scoring, bounded-hop shortest paths, CUSUM
  * drift detection, and small-file compaction planning. Float-adjacent math
  * runs on integer grids or behind a log compressor so every query carries
  * an exact hash-checked DuckDB oracle.
  */
object Advanced {

  /** 2^40 — the decayed-score weight grid (exact dyadic weights). */
  private val DecayScale = 1099511627776L

  /** Per-user high-value-purchase conversion flag — ONE definition shared
    * by q182 and its streaming twin q186, so the threshold can't drift
    * between the batch statistic and the streaming store. */
  private[queries] def conversionFlag: org.apache.spark.sql.Column =
    when(col("event_type") === "purchase" && col("value") > 150, 1L)
      .otherwise(0L)

  /** Two-proportion z readout over a per-user `(user_id, conv)` frame —
    * q182's exact formula (guarded CASE for the degenerate pool), shared
    * with q186. The variant pivot is a 2-row broadcast self-join; z is one
    * double chain over 4 exact integers. */
  private[queries] def abReadout(perUser: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val per = perUser
      .withColumn("variant", pmod(col("user_id"), lit(2)))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("conv").as("c"))
    val a = per.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("c").as("conv_a"))
    val b = per.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("c").as("conv_b"))
    a.join(b)
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("round(CAST(conv_a AS DOUBLE) / n_a, 6)").as("rate_a"),
        expr("round(CAST(conv_b AS DOUBLE) / n_b, 6)").as("rate_b"),
        expr("""CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
             THEN round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b)), 6) END""").as("z"))
  }

  /** Trailing-10-observed-window burst z over `(event_type, <win>, c)`
    * counts — q170's integer fold (z = (10c-s)/sqrt(10*s2-s^2)), shared
    * with streaming q206 so the detector math exists once. */
  private[queries] def trailingZ(counts: org.apache.spark.sql.DataFrame,
                                 winCol: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(winCol).rowsBetween(-10, -1)
    counts
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("s", sum("c").over(w))
      .withColumn("s2", sum(col("c") * col("c")).over(w))
      .filter(col("n_prev") === 10)
      .withColumn("varnum", lit(10) * col("s2") - col("s") * col("s"))
      .select(col("event_type"), col(winCol), col("c"),
        when(col("varnum") > 0,
          round((lit(10) * col("c") - col("s")).cast("double") /
            sqrt(col("varnum").cast("double")), 6)).as("z"))
      .orderBy("event_type", winCol)
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q164_welch_psd",
      "Welch averaged-periodogram PSD per channel (Hamming taper, one-sided density)",
      // DspOperators.welchPsd: narrow per-row map over the fused
      // events->segments adapter; parallelism = channels, no shuffle after
      // segment assembly. Output through ln(1+psd): the log compresses the
      // FFT-vs-direct-DFT float drift to ~1e-14 absolute, so round(.,6) is
      // bit-stable while still pinning every bin. freq = k*rate/L is exact
      // dyadic-decimal at rate 1000, L 64.
      (s, dir) => {
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        DspOperators.welchPsd(seg, nperseg = 64, hop = 32)
          .select(col("channel"), col("k"),
            round(col("freq"), 6).as("freq"),
            graft.functions.GridFunctions.gridRound(log1p(col("psd")), 6).as("psd_ln"))
          .orderBy("channel", "k")
      },
      Some(s"""|WITH ${QueryDef.EventsRectSql.stripPrefix("WITH ")},
              |nseg AS (SELECT (n - 64) // 32 + 1 AS s FROM minlen),
              |win AS (
              |  SELECT i, 0.54 - 0.46 * cos(2 * pi() * i / 63.0) AS w
              |  FROM (SELECT unnest(generate_series(0, 63)) AS i)
              |), wsum AS (SELECT sum(w * w) AS ww FROM win),
              |segs AS (SELECT unnest(generate_series(0, s - 1)) AS seg FROM nseg),
              |y AS (
              |  SELECT r.channel, sg.seg, w.i, r.value * w.w AS y
              |  FROM segs sg CROSS JOIN win w
              |  JOIN rect r ON r.t_idx = sg.seg * 32 + w.i
              |), bins AS (SELECT unnest(generate_series(0, 32)) AS k),
              |spec AS (
              |  SELECT y.channel, y.seg, b.k,
              |         sum(y.y * cos(2 * pi() * b.k * y.i / 64.0)) AS re,
              |         sum(y.y * sin(2 * pi() * b.k * y.i / 64.0)) AS im
              |  FROM y CROSS JOIN bins b
              |  GROUP BY y.channel, y.seg, b.k
              |), pxx AS (
              |  SELECT channel, k, sum(re * re + im * im) AS p
              |  FROM spec GROUP BY channel, k
              |)
              |SELECT p.channel, CAST(p.k AS INT) AS k,
              |  round(p.k * 1000.0 / 64.0, 6) AS freq,
              |  floor((ln(1.0 + (CASE WHEN p.k = 0 OR p.k = 32 THEN 1.0 ELSE 2.0 END)
              |    * p.p / (n.s * 1000.0 * ws.ww))) * 1e6 + 0.5) / 1e6 AS psd_ln
              |FROM pxx p CROSS JOIN nseg n CROSS JOIN wsum ws
              |ORDER BY channel, k""".stripMargin)),

    QueryDef("q165_lag_xcorr",
      "cross-channel lag correlation (raw dot products at lags 0..4, exact integer grid)",
      // channel traces are already assembled one-per-row, so the pair space
      // is a 28-row self-join of TINY rows (one bounded trace array each) —
      // no per-sample shuffle, per-pair lag loop over quantized longs. At
      // 100 TB the trace length per row is bounded by the upstream segment
      // windowing contract (Frames doc), so a pair row stays executor-sized.
      // Products on the milli grid: |vm| < 2^19, so a 2^38 product summed
      // over any realistic trace fits a long with >2^10 headroom.
      (s, dir) => {
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        val quant = udf { (vs: Seq[Double]) =>
          vs.map(v => math.floor(v * 1000).toLong).toArray
        }
        // both sides of the pair join read the quantized traces — checkpoint
        // so the segment assembly's shuffle lineage runs once (q42 rule)
        val q = seg.select(col("channel"), quant(col("values")).as("vm"))
          .pin
        val a = q.select(col("channel").as("c1"), col("vm").as("v1"))
        val b = q.select(col("channel").as("c2"), col("vm").as("v2"))
        val lagDots = udf { (v1s: Seq[Long], v2s: Seq[Long]) =>
          val v1 = v1s.toArray; val v2 = v2s.toArray
          // lags longer than the trace emit nothing (the oracle's join
          // naturally produces no row there — a zero/negative n_terms row
          // here would be a phantom)
          (0 to 4).flatMap { l =>
            val n = v1.length - l
            if (n <= 0) None
            else {
              var sum = 0L
              var i = 0
              while (i < n) { sum += v1(i) * v2(i + l); i += 1 }
              Some((l, n.toLong, sum))
            }
          }
        }
        a.crossJoin(b).filter(col("c1") < col("c2"))
          .select(col("c1"), col("c2"),
            explode(lagDots(col("v1"), col("v2"))).as("ld"))
          .select(col("c1"), col("c2"), col("ld._1").as("lag"),
            col("ld._2").as("n_terms"), col("ld._3").as("dot"))
          .orderBy("c1", "c2", "lag")
      },
      Some(s"""|WITH ${QueryDef.EventsRectSql.stripPrefix("WITH ")},
              |q AS (
              |  SELECT channel, t_idx, CAST(floor(value * 1000) AS BIGINT) AS vm
              |  FROM rect
              |), lags AS (SELECT unnest(generate_series(0, 4)) AS lag)
              |SELECT a.channel AS c1, b.channel AS c2, CAST(l.lag AS INT) AS lag,
              |  count(*) AS n_terms,
              |  CAST(sum(CAST(a.vm AS HUGEINT) * b.vm) AS BIGINT) AS dot
              |FROM q a CROSS JOIN lags l
              |JOIN q b ON b.channel > a.channel AND b.t_idx = a.t_idx + l.lag
              |GROUP BY a.channel, b.channel, l.lag
              |ORDER BY c1, c2, lag""".stripMargin)),

    QueryDef("q166_decayed_engagement",
      "per-user exponentially time-decayed engagement score (exact dyadic half-life weights)",
      // the recommender/feature-store freshness aggregate: each event's
      // weight halves per day of age. Weights are EXACT powers of two on a
      // 2^40 grid (age clamped at 40 half-lives, beyond which a milli-value
      // rounds to 0 anyway), terms summed in DECIMAL(38,0) — no float
      // summation order anywhere; ONE double chain at the end whose divisors
      // are powers of 2 and 1000, identical IEEE ops in both engines.
      // Shape: column-pruned scan, a 1-row broadcast max, map-side partial
      // aggregation to |users| rows.
      (s, dir) => {
        val e = table(s, dir, "events").select(col("user_id"),
          col("ts").cast("long").as("tns"),
          floor(col("value") * 1000).cast("long").as("vm"))
        val tmax = e.agg(max("tns").as("tmax"))
        e.join(broadcast(tmax))
          .withColumn("wexp",
            lit(40L) - least(expr("(tmax - tns) div 86400000000000"), lit(40L)))
          .withColumn("term", col("vm").cast("decimal(38,0)") *
            expr("shiftleft(CAST(1 AS BIGINT), CAST(wexp AS INT))").cast("decimal(38,0)"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum("term").cast("decimal(38,0)").as("wsum"))
          .select(col("user_id"), col("n_events"),
            round(col("wsum").cast("double") / lit(DecayScale.toDouble) / lit(1000.0), 6)
              .as("decayed_score"))
          .orderBy("user_id")
      },
      Some("""|WITH b AS (
             |  SELECT user_id, epoch_ns(ts) AS tns,
             |    CAST(floor(value * 1000) AS BIGINT) AS vm
             |  FROM events
             |), mx AS (SELECT max(tns) AS tmax FROM b),
             |t AS (
             |  SELECT user_id, CAST(vm AS HUGEINT) *
             |    CAST(power(2, 40 - LEAST((tmax - tns) // 86400000000000, 40))
             |         AS HUGEINT) AS term
             |  FROM b CROSS JOIN mx
             |)
             |SELECT user_id, count(*) AS n_events,
             |  round(CAST(sum(term) AS DOUBLE) / 1099511627776.0 / 1000.0, 6)
             |    AS decayed_score
             |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin)),

    QueryDef("q167_sssp_reach",
      "bounded-hop weighted shortest paths from a seed set (Bellman-Ford, exact min-plus)",
      // Graph.boundedSssp over the co-purchase graph: 4 relaxation rounds,
      // each ONE src-keyed join + ONE dst-keyed min-agg, distances
      // checkpointed round-sized. Edge weights are a deterministic function
      // of the endpoints so both engines build the identical weighted graph.
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
          .withColumn("w", pmod(col("a") + col("b"), lit(7)) + lit(1))
        val seeds = li.filter(col("l_partkey") % 100 === 0)
          .select(col("l_partkey").as("v")).distinct()
        Graph.boundedSssp(edges, seeds, iters = 4).orderBy("v")
      },
      Some(ssspReachOracle)),

    QueryDef("q168_cusum_drift",
      "CUSUM mean-shift drift detection per event type (prefix-sum/prefix-min form, exact)",
      // sequential CUSUM s_t = max(0, s_{t-1} + (x_t - mu)) re-expressed in
      // its closed window form s_t = C_t - min(0, min_{j<=t} C_j) — two
      // running windows instead of an unexpressible recurrence. All integer:
      // milli-values against the per-type integer floor-mean. The per-type
      // ordered window is the irreducible sequential scan of change
      // detection; parallelism = event types (keys), state = one running
      // sum + min per task.
      (s, dir) => {
        val e = table(s, dir, "events").select(col("event_type"),
          col("ts").cast("long").as("tns"), col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        val mu = e.groupBy("event_type")
          .agg(expr("sum(vm) div count(*)").as("mu"))
        val w = Window.partitionBy("event_type").orderBy("tns", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val thresh = 5000000L
        e.join(broadcast(mu), "event_type")
          .withColumn("cs", sum(col("vm") - col("mu")).over(w))
          .withColumn("s", col("cs") - least(lit(0L), min("cs").over(w)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            max("s").as("max_cusum"),
            count(when(col("s") > thresh, 1)).as("n_drift"),
            min(when(col("s") > thresh, col("tns"))).as("first_drift_tns"))
          .orderBy("event_type")
      },
      Some("""|WITH b AS (
             |  SELECT event_type, epoch_ns(ts) AS tns, event_id,
             |    CAST(floor(value * 1000) AS BIGINT) AS vm
             |  FROM events
             |), mu AS (
             |  SELECT event_type, CAST(sum(vm) // count(*) AS BIGINT) AS mu
             |  FROM b GROUP BY event_type
             |), cs AS (
             |  SELECT b.event_type, b.tns, b.event_id,
             |    sum(b.vm - mu.mu) OVER (PARTITION BY b.event_type
             |      ORDER BY b.tns, b.event_id ROWS UNBOUNDED PRECEDING) AS c
             |  FROM b JOIN mu USING (event_type)
             |), cm AS (
             |  SELECT event_type, tns, c,
             |    min(c) OVER (PARTITION BY event_type ORDER BY tns, event_id
             |      ROWS UNBOUNDED PRECEDING) AS cmin
             |  FROM cs
             |), s AS (
             |  SELECT event_type, tns, c - LEAST(0, cmin) AS s FROM cm
             |)
             |SELECT event_type, count(*) AS n_events,
             |  CAST(max(s) AS BIGINT) AS max_cusum,
             |  count(*) FILTER (WHERE s > 5000000) AS n_drift,
             |  min(tns) FILTER (WHERE s > 5000000) AS first_drift_tns
             |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("q169_compaction_plan",
      "small-file compaction planning: greedy byte-budget binning per source",
      // the lakehouse OPTIMIZE planner: assign each doc to an output file by
      // floor(cumulative-bytes-before / target) within its source partition
      // — the window cumsum IS the greedy first-fit-in-order packing.
      // Integer exact; per-source ordered scan parallelizes across sources,
      // output is bounded by total-bytes/target rows.
      (s, dir) => {
        val d = table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        d.withColumn("before", coalesce(sum("n_chars").over(w), lit(0L)))
          .withColumn("file_id", expr("before div 2000"))
          .groupBy("source", "file_id")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("source", "file_id")
      },
      Some("""|WITH c AS (
             |  SELECT doc_id, source, n_chars,
             |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             |  FROM documents
             |)
             |SELECT source, CAST(before // 2000 AS BIGINT) AS file_id,
             |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY source, file_id
             |ORDER BY source, file_id""".stripMargin)),

    QueryDef("q170_trending_windows",
      "trending minute windows: count z-score vs the trailing 10 observed windows",
      // the ops-dashboard burst detector. Trailing mean/std come from EXACT
      // integer window sums (s, s2 over a 10-ROW frame), folded into
      // z = (10c - s)/sqrt(10*s2 - s^2) — one sqrt + one divide, identical
      // IEEE ops both engines. Windows are per-type ordered scans (the
      // rolling-feature shape, parallelism = types); zero-count minutes are
      // not materialized — the spec is "trailing observed windows", the
      // gap-filled variant is q118's operator composed upstream.
      (s, dir) => {
        val c = table(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(ts AS BIGINT) div 60000000000").as("minute"))
          .groupBy("event_type", "minute").agg(count(lit(1)).as("c"))
        trailingZ(c, "minute")
      },
      Some("""|WITH m AS (
             |  SELECT event_type, epoch_ns(ts) // 60000000000 AS minute,
             |    count(*) AS c
             |  FROM events GROUP BY event_type, minute
             |), r AS (
             |  SELECT event_type, minute, c,
             |    count(*) OVER w AS n_prev,
             |    sum(c) OVER w AS s,
             |    sum(c * c) OVER w AS s2
             |  FROM m
             |  WINDOW w AS (PARTITION BY event_type ORDER BY minute
             |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
             |)
             |SELECT event_type, minute, c,
             |  CASE WHEN 10 * s2 - s * s > 0
             |       THEN round(CAST(10 * c - s AS DOUBLE)
             |                  / sqrt(CAST(10 * s2 - s * s AS DOUBLE)), 6)
             |  END AS z
             |FROM r WHERE n_prev = 10
             |ORDER BY event_type, minute""".stripMargin)),

    QueryDef("q171_coherence",
      "magnitude-squared coherence per channel pair (Welch cross-spectral estimate)",
      // the functional-connectivity matrix: per pair, Welch auto/cross
      // spectra accumulated over Hamming-tapered frames, coherence =
      // |Pxy|^2/(Pxx*Pyy) in [0,1]. Same 28-row trace-pair self-join as
      // q165 — no per-sample shuffle, pair rows bounded by the segment
      // windowing contract. The density scale factors cancel in the ratio,
      // and the FFT-vs-direct-DFT drift is relative, so round(.,6) on a
      // [0,1] value is bit-stable.
      (s, dir) => {
        // checkpoint: the assembled traces feed both sides of the pair join
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
          .select(col("channel"), col("values")).pin
        val a = seg.select(col("channel").as("c1"), col("values").as("v1"))
        val b = seg.select(col("channel").as("c2"), col("values").as("v2"))
        val L = 64; val hop = 32
        val cohUdf = udf { (v1s: Seq[Double], v2s: Seq[Double]) =>
          val v1 = v1s.toArray; val v2 = v2s.toArray
          val n = math.min(v1.length, v2.length)
          if (n < L) Seq.empty[(Int, Double)]
          else {
            val w = Array.tabulate(L)(i => 0.54 - 0.46 * math.cos(2.0 * math.Pi * i / (L - 1)))
            val nseg = (n - L) / hop + 1
            val m = L / 2 + 1
            val pxx = new Array[Double](m); val pyy = new Array[Double](m)
            val pxyRe = new Array[Double](m); val pxyIm = new Array[Double](m)
            var sgi = 0
            while (sgi < nseg) {
              val y1 = new Array[Double](L); val y2 = new Array[Double](L)
              var i = 0
              while (i < L) {
                y1(i) = v1(sgi * hop + i) * w(i)
                y2(i) = v2(sgi * hop + i) * w(i)
                i += 1
              }
              val s1 = graft.dsp.Fft.rfft(y1); val s2 = graft.dsp.Fft.rfft(y2)
              var k = 0
              while (k < m) {
                val re1 = s1(2 * k); val im1 = s1(2 * k + 1)
                val re2 = s2(2 * k); val im2 = s2(2 * k + 1)
                pxx(k) += re1 * re1 + im1 * im1
                pyy(k) += re2 * re2 + im2 * im2
                pxyRe(k) += re1 * re2 + im1 * im2
                pxyIm(k) += im1 * re2 - re1 * im2
                k += 1
              }
              sgi += 1
            }
            (0 until m).map { k =>
              k -> (pxyRe(k) * pxyRe(k) + pxyIm(k) * pxyIm(k)) / (pxx(k) * pyy(k))
            }
          }
        }
        a.crossJoin(b).filter(col("c1") < col("c2"))
          .select(col("c1"), col("c2"), explode(cohUdf(col("v1"), col("v2"))).as("kc"))
          .select(col("c1"), col("c2"), col("kc._1").as("k"),
            round(col("kc._1") * lit(1000.0) / lit(64.0), 6).as("freq"),
            round(col("kc._2"), 6).as("coherence"))
          .orderBy("c1", "c2", "k")
      },
      Some(s"""|WITH ${QueryDef.EventsRectSql.stripPrefix("WITH ")},
              |nseg AS (SELECT (n - 64) // 32 + 1 AS s FROM minlen),
              |win AS (
              |  SELECT i, 0.54 - 0.46 * cos(2 * pi() * i / 63.0) AS w
              |  FROM (SELECT unnest(generate_series(0, 63)) AS i)
              |), segs AS (SELECT unnest(generate_series(0, s - 1)) AS seg FROM nseg),
              |y AS (
              |  SELECT r.channel, sg.seg, w.i, r.value * w.w AS y
              |  FROM segs sg CROSS JOIN win w
              |  JOIN rect r ON r.t_idx = sg.seg * 32 + w.i
              |), bins AS (SELECT unnest(generate_series(0, 32)) AS k),
              |spec AS (
              |  SELECT y.channel, y.seg, b.k,
              |         sum(y.y * cos(2 * pi() * b.k * y.i / 64.0)) AS re,
              |         sum(y.y * sin(2 * pi() * b.k * y.i / 64.0)) AS im
              |  FROM y CROSS JOIN bins b
              |  GROUP BY y.channel, y.seg, b.k
              |), pair AS (
              |  SELECT a.channel AS c1, b.channel AS c2, a.k,
              |    sum(a.re * a.re + a.im * a.im) AS pxx,
              |    sum(b.re * b.re + b.im * b.im) AS pyy,
              |    sum(a.re * b.re + a.im * b.im) AS pxy_re,
              |    sum(a.im * b.re - a.re * b.im) AS pxy_im
              |  FROM spec a
              |  JOIN spec b ON b.seg = a.seg AND b.k = a.k AND b.channel > a.channel
              |  GROUP BY a.channel, b.channel, a.k
              |)
              |SELECT c1, c2, CAST(k AS INT) AS k,
              |  round(k * 1000.0 / 64.0, 6) AS freq,
              |  round((pxy_re * pxy_re + pxy_im * pxy_im) / (pxx * pyy), 6)
              |    AS coherence
              |FROM pair ORDER BY c1, c2, k""".stripMargin)),

    QueryDef("q172_vocab_drift",
      "corpus drift: per-word Jensen-Shannon divergence between corpus halves",
      // the training-data distribution monitor: unigram distributions of the
      // doc_id-even vs doc_id-odd halves, per-word JS contribution
      // 0.5(p ln(p/m) + q ln(q/m)). p, q, m are ratios of exact integers —
      // identical doubles in both engines — so each row is one independent
      // double chain (no cross-row float summation; the corpus-level total
      // sums the ROUNDED micro contributions as exact integers). One token
      // scan, vocabulary-keyed shuffle, top-50 by rounded contribution.
      (s, dir) => {
        val words = table(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .withColumn("half", (col("doc_id") % 2).cast("int"))
        // ONE corpus tokenize pass; the vocabulary-sized count frame feeds
        // three consumers (totals, per-word contribs, corpus total) — the
        // q42 multi-consumer rule: checkpoint it, don't re-scan the corpus
        // (plan-audited: the first cut tokenized twice and re-aggregated
        // the counts under a ReusedExchange)
        val counts = words.groupBy("word")
          .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
            sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
          .pin
        val totals = counts.agg(sum("c0").as("n0"), sum("c1").as("n1"))
        val contrib = counts.join(broadcast(totals))
          .withColumn("p", col("c0").cast("double") / col("n0"))
          .withColumn("q", col("c1").cast("double") / col("n1"))
          .withColumn("m", (col("p") + col("q")) / 2.0)
          .withColumn("js",
            (when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(0.0) +
             when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(0.0)) / 2.0)
          .withColumn("js_r", round(col("js"), 9))
        val total = contrib.agg(
          sum(round(col("js") * 1e6, 0).cast("long")).as("total_js_micro"))
        contrib.join(broadcast(total))
          .select(col("word"), col("c0"), col("c1"), col("js_r"),
            col("total_js_micro"))
          .orderBy(col("js_r").desc, col("word")).limit(50)
      },
      Some("""|WITH w AS (
             |  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS word
             |  FROM documents
             |), counts AS (
             |  SELECT word,
             |    sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
             |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
             |  FROM w GROUP BY word
             |), totals AS (
             |  SELECT sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
             |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
             |  FROM w
             |), contrib AS (
             |  SELECT word, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
             |    (CASE WHEN c0 > 0 THEN (c0 / n0) * ln((c0 / n0) /
             |       ((c0 / n0 + c1 / n1) / 2.0)) ELSE 0.0 END +
             |     CASE WHEN c1 > 0 THEN (c1 / n1) * ln((c1 / n1) /
             |       ((c0 / n0 + c1 / n1) / 2.0)) ELSE 0.0 END) / 2.0 AS js
             |  FROM counts CROSS JOIN totals
             |), tot AS (
             |  SELECT CAST(sum(CAST(round(js * 1e6, 0) AS BIGINT)) AS BIGINT)
             |    AS total_js_micro FROM contrib
             |)
             |SELECT word, c0, c1, round(js, 9) AS js_r, total_js_micro
             |FROM contrib CROSS JOIN tot
             |ORDER BY round(js, 9) DESC, word LIMIT 50""".stripMargin)),

    QueryDef("q173_type_correlation",
      "pairwise Pearson correlation of per-minute event-type activity",
      // cross-stream co-movement on the minute grid. The trick that avoids
      // gap-filling 43k minutes: zero-count minutes contribute nothing to
      // any sum, so per-type (sx, sxx) come from observed rows only and n
      // is the global grid span — exact integers throughout, one double
      // chain per pair. Pair space = |types|^2 rows of AGGREGATES (a
      // broadcast self-join of a 5-row frame), never row-level.
      (s, dir) => {
        val m = table(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(ts AS BIGINT) div 60000000000").as("minute"))
          .groupBy("event_type", "minute").agg(count(lit(1)).as("c"))
          .pin // feeds three subtrees (span, sums, pair join)
        val span = m.agg((max("minute") - min("minute") + 1).as("n"))
        val sums = m.groupBy("event_type")
          .agg(sum("c").as("sx"), sum(col("c") * col("c")).as("sxx"))
        val xy = m.select(col("event_type").as("t1"), col("minute"), col("c").as("cx"))
          .join(m.select(col("event_type").as("t2"), col("minute"), col("c").as("cy")),
            "minute")
          .filter(col("t1") < col("t2"))
          .groupBy("t1", "t2").agg(sum(col("cx") * col("cy")).as("sxy"))
        xy.join(broadcast(sums.select(col("event_type").as("t1"),
            col("sx").as("sx1"), col("sxx").as("sxx1"))), "t1")
          .join(broadcast(sums.select(col("event_type").as("t2"),
            col("sx").as("sx2"), col("sxx").as("sxx2"))), "t2")
          .join(broadcast(span))
          // zero-variance guard on the EXACT INTEGER variances (n·sxx−sx²
          // are BIGINT products — no float compare): a constant-count type
          // would otherwise push NaN/Inf into gridRound, whose floor is 0
          // on Spark but NaN-propagating in DuckDB (the gridRound
          // non-finite contract). NULL is the defined "undefined" reading
          // on both engines.
          .withColumn("_v1", col("n") * col("sxx1") - col("sx1") * col("sx1"))
          .withColumn("_v2", col("n") * col("sxx2") - col("sx2") * col("sx2"))
          .select(col("t1"), col("t2"),
            when(col("_v1") > 0L && col("_v2") > 0L,
              graft.functions.GridFunctions.gridRound(
                (col("n") * col("sxy") - col("sx1") * col("sx2")).cast("double") /
                  sqrt(col("_v1").cast("double") * col("_v2").cast("double")),
                6)).as("pearson_r"))
          .orderBy("t1", "t2")
      },
      Some("""|WITH m AS (
             |  SELECT event_type, epoch_ns(ts) // 60000000000 AS minute,
             |    count(*) AS c
             |  FROM events GROUP BY event_type, minute
             |), span AS (SELECT max(minute) - min(minute) + 1 AS n FROM m),
             |sums AS (
             |  SELECT event_type, sum(c) AS sx, sum(c * c) AS sxx
             |  FROM m GROUP BY event_type
             |), xy AS (
             |  SELECT a.event_type AS t1, b.event_type AS t2,
             |    sum(a.c * b.c) AS sxy
             |  FROM m a JOIN m b ON b.minute = a.minute
             |    AND b.event_type > a.event_type
             |  GROUP BY t1, t2
             |)
             |SELECT xy.t1, xy.t2,
             |  CASE WHEN span.n * s1.sxx - s1.sx * s1.sx > 0
             |        AND span.n * s2.sxx - s2.sx * s2.sx > 0
             |  THEN floor((CAST(span.n * xy.sxy - s1.sx * s2.sx AS DOUBLE) /
             |    sqrt(CAST(span.n * s1.sxx - s1.sx * s1.sx AS DOUBLE) *
             |         CAST(span.n * s2.sxx - s2.sx * s2.sx AS DOUBLE)))
             |    * 1e6 + 0.5) / 1e6 END AS pearson_r
             |FROM xy
             |JOIN sums s1 ON s1.event_type = xy.t1
             |JOIN sums s2 ON s2.event_type = xy.t2
             |CROSS JOIN span
             |ORDER BY t1, t2""".stripMargin)),

    QueryDef("q175_itemset_triples",
      "top-50 frequent 3-itemsets by basket support (in-row combination generation)",
      // the Apriori tier above q133's pairs. Triples are generated INSIDE
      // each basket row from its sorted distinct-item set — single-digit
      // TPC-H baskets bound the C(n,3) blow-up, so the only corpus-sized
      // exchanges are the basket shuffle and the triple-count aggregation
      // (itemset-keyed, map-side combined). Never a 3-way self-join.
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val triples = udf { (items: Seq[Long]) =>
          val a = items.sorted.toArray
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          var i = 0
          while (i < a.length) {
            var j = i + 1
            while (j < a.length) {
              var k = j + 1
              while (k < a.length) { out += ((a(i), a(j), a(k))); k += 1 }
              j += 1
            }
            i += 1
          }
          out.toSeq
        }
        li.groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey").cast("long")).as("items"))
          .select(explode(triples(col("items"))).as("t"))
          .select(col("t._1").as("a"), col("t._2").as("b"), col("t._3").as("c"))
          .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("a"), col("b"), col("c"))
          .limit(50)
      },
      Some("""|WITH it AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
             |), t AS (
             |  SELECT x.l_partkey AS a, y.l_partkey AS b, z.l_partkey AS c
             |  FROM it x
             |  JOIN it y ON y.l_orderkey = x.l_orderkey AND y.l_partkey > x.l_partkey
             |  JOIN it z ON z.l_orderkey = x.l_orderkey AND z.l_partkey > y.l_partkey
             |)
             |SELECT a, b, c, count(*) AS support
             |FROM t GROUP BY a, b, c
             |ORDER BY support DESC, a, b, c LIMIT 50""".stripMargin)),

    QueryDef("q176_global_revenue_rank",
      "global dense revenue ranking WITHOUT a single-partition window (bucketed two-level rank)",
      // the scale showcase: a global ORDER BY rank normally funnels every
      // row through ONE window task. Here rows are bucketed by a coarse
      // monotone prefix of the ordering ($10k revenue bands), ranked inside
      // each bucket in parallel, and offset by the running count of earlier
      // buckets (a window over the TINY per-bucket-count aggregate) — the
      // denseIndexByKey idiom applied with an empty key, so parallelism =
      // buckets instead of 1. Revenue is exact integer cents (identical
      // IEEE product both engines, then integer sums).
      (s, dir) => {
        val rev = table(s, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
              .as("cents"))
          .groupBy("l_orderkey").agg(sum("cents").as("rev_cents"))
        Frames.denseIndexByKey(rev, keyCols = Seq.empty,
            bucketCol = expr("-(rev_cents div 1000000)"),
            orderCols = Seq(col("rev_cents").desc, col("l_orderkey")),
            as = "rank")
          .select(col("l_orderkey"), col("rev_cents"), col("rank"))
          .orderBy("rank")
      },
      Some("""|WITH rev AS (
             |  SELECT l_orderkey,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |        AS BIGINT)) AS BIGINT) AS rev_cents
             |  FROM lineitem GROUP BY l_orderkey
             |)
             |SELECT l_orderkey, rev_cents,
             |  row_number() OVER (ORDER BY rev_cents DESC, l_orderkey) - 1 AS rank
             |FROM rev ORDER BY rank""".stripMargin)),

    QueryDef("q177_fd_violations",
      "functional-dependency mining: violation census for candidate column dependencies",
      // the schema-inference profiler: for each candidate LHS -> RHS, one
      // grouped distinct-count per LHS key, rolled up to a 1-row census per
      // dependency (holds iff no key maps to 2+ RHS values). Each check is
      // a key-shuffled two-level aggregate; candidates union into one
      // bounded report.
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val o = table(s, dir, "orders")
        val p = table(s, dir, "part")
        def check(df: org.apache.spark.sql.DataFrame, name: String,
                  lhs: String, rhs: String) =
          df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
            .agg(lit(name).as("fd"), count(lit(1)).as("n_keys"),
              count(when(col("nd") > 1, 1)).as("n_violating_keys"),
              max("nd").as("max_rhs_per_key"))
        check(li, "l_partkey->l_suppkey", "l_partkey", "l_suppkey")
          .unionAll(check(li, "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
          .unionAll(check(o, "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
          .unionAll(check(o, "o_orderkey->o_custkey", "o_orderkey", "o_custkey"))
          .unionAll(check(p, "p_brand->p_size", "p_brand", "p_size"))
          .withColumn("holds", col("n_violating_keys") === 0)
          .orderBy("fd")
      },
      Some("""|WITH checks AS (
             |  SELECT 'l_partkey->l_suppkey' AS fd, count(*) AS n_keys,
             |    count(*) FILTER (WHERE nd > 1) AS n_violating_keys,
             |    max(nd) AS max_rhs_per_key
             |  FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nd
             |        FROM lineitem GROUP BY 1)
             |  UNION ALL
             |  SELECT 'l_orderkey->l_returnflag', count(*),
             |    count(*) FILTER (WHERE nd > 1), max(nd)
             |  FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS nd
             |        FROM lineitem GROUP BY 1)
             |  UNION ALL
             |  SELECT 'o_custkey->o_orderpriority', count(*),
             |    count(*) FILTER (WHERE nd > 1), max(nd)
             |  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
             |        FROM orders GROUP BY 1)
             |  UNION ALL
             |  SELECT 'o_orderkey->o_custkey', count(*),
             |    count(*) FILTER (WHERE nd > 1), max(nd)
             |  FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
             |        FROM orders GROUP BY 1)
             |  UNION ALL
             |  SELECT 'p_brand->p_size', count(*),
             |    count(*) FILTER (WHERE nd > 1), max(nd)
             |  FROM (SELECT p_brand, count(DISTINCT p_size) AS nd
             |        FROM part GROUP BY 1)
             |)
             |SELECT fd, n_keys, n_violating_keys, max_rhs_per_key,
             |  n_violating_keys = 0 AS holds
             |FROM checks ORDER BY fd""".stripMargin)),

    QueryDef("q178_k_anonymity",
      "k-anonymity risk census over quasi-identifiers (class-size histogram)",
      // the privacy audit a training-data release needs: equivalence
      // classes of (coarse user bucket, event type, hour-of-day), bucketed
      // into a fixed class-size histogram with at-risk (size < 5) counts.
      // Two-level aggregation: QI-keyed classes collapse map-side, the
      // histogram is |buckets| rows.
      (s, dir) => {
        val e = table(s, dir, "events").select(
          expr("user_id div 10").as("user_bucket"),
          col("event_type"),
          expr("(CAST(ts AS BIGINT) div 3600000000000) % 24").as("hour_of_day"))
        val classes = e.groupBy("user_bucket", "event_type", "hour_of_day")
          .agg(count(lit(1)).as("sz"))
        classes
          .withColumn("size_bucket",
            when(col("sz") === 1, "1").when(col("sz") <= 4, "2-4")
              .when(col("sz") <= 9, "5-9").otherwise("10+"))
          .groupBy("size_bucket")
          .agg(count(lit(1)).as("n_classes"), sum("sz").as("n_rows"),
            min("sz").as("min_size"), max("sz").as("max_size"),
            count(when(col("sz") < 5, 1)).as("n_classes_below_k"),
            sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("n_rows_at_risk"))
          .orderBy("size_bucket")
      },
      Some("""|WITH c AS (
             |  SELECT user_id // 10 AS user_bucket, event_type,
             |    (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day,
             |    count(*) AS sz
             |  FROM events GROUP BY 1, 2, 3
             |), b AS (
             |  SELECT sz, CASE WHEN sz = 1 THEN '1' WHEN sz <= 4 THEN '2-4'
             |    WHEN sz <= 9 THEN '5-9' ELSE '10+' END AS size_bucket
             |  FROM c
             |)
             |SELECT size_bucket, count(*) AS n_classes, CAST(sum(sz) AS BIGINT) AS n_rows,
             |  min(sz) AS min_size, max(sz) AS max_size,
             |  count(*) FILTER (WHERE sz < 5) AS n_classes_below_k,
             |  CAST(coalesce(sum(sz) FILTER (WHERE sz < 5), 0) AS BIGINT) AS n_rows_at_risk
             |FROM b GROUP BY size_bucket ORDER BY size_bucket""".stripMargin)),

    QueryDef("q179_readability",
      "per-document readability profile (vowel-group syllable counting, no UDF)",
      // text-quality scoring beyond q48: syllables approximated as vowel
      // groups via the codegen'd regexp_extract_all expression — the whole
      // chain (split, explode, regexp, aggregate) stays inside whole-stage
      // codegen. Ratios are one double chain over exact integer counts.
      (s, dir) => {
        table(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .withColumn("syll", expr("size(regexp_extract_all(word, '[aeiouy]+', 0))"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum("syll").as("n_syllables"),
            count(when(col("syll") >= 3, 1)).as("n_poly"))
          .select(col("doc_id"), col("n_words"), col("n_syllables"), col("n_poly"),
            round(col("n_syllables").cast("double") / col("n_words"), 6)
              .as("avg_syllables"),
            round(lit(100.0) * col("n_poly") / col("n_words"), 6).as("pct_poly"))
          .orderBy("doc_id")
      },
      Some("""|WITH w AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |  FROM documents
             |), sy AS (
             |  SELECT doc_id, len(regexp_extract_all(word, '[aeiouy]+')) AS syll
             |  FROM w
             |), agg AS (
             |  SELECT doc_id, count(*) AS n_words, sum(syll) AS n_syllables,
             |    count(*) FILTER (WHERE syll >= 3) AS n_poly
             |  FROM sy GROUP BY doc_id
             |)
             |SELECT doc_id, n_words, CAST(n_syllables AS BIGINT) AS n_syllables,
             |  n_poly,
             |  round(CAST(n_syllables AS DOUBLE) / n_words, 6) AS avg_syllables,
             |  round(100.0 * n_poly / n_words, 6) AS pct_poly
             |FROM agg ORDER BY doc_id""".stripMargin)),

    QueryDef("q180_quantile_normalize",
      "quantile-transform a value column to [0,1] (bucketed two-level global rank)",
      // the rank-gaussianization feature preprocessor, minus the gaussian:
      // value -> rank/(n-1). Global ranking via the same bucketed two-level
      // scheme as q176 (coarse milli-value bands ranked in parallel +
      // running bucket offsets) — never a single-partition window over the
      // fact table. Ties break by event_id (row-rank semantics, documented;
      // average-rank ties are a different estimator).
      (s, dir) => {
        val e = table(s, dir, "events").select(col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        val n = e.agg(count(lit(1)).as("n"))
        Frames.denseIndexByKey(e, keyCols = Seq.empty,
            bucketCol = expr("vm div 10000"),
            orderCols = Seq(col("vm"), col("event_id")), as = "rk")
          .join(broadcast(n))
          .select(col("event_id"), col("vm"),
            round(col("rk").cast("double") / (col("n") - 1), 6).as("quantile"))
          .orderBy("event_id")
      },
      Some("""|WITH e AS (
             |  SELECT event_id, CAST(floor(value * 1000) AS BIGINT) AS vm
             |  FROM events
             |), n AS (SELECT count(*) AS n FROM e)
             |SELECT event_id, vm,
             |  round(CAST(row_number() OVER (ORDER BY vm, event_id) - 1 AS DOUBLE)
             |    / (n.n - 1), 6) AS quantile
             |FROM e CROSS JOIN n
             |ORDER BY event_id""".stripMargin)),

    QueryDef("q181_churn_census",
      "cohort churn census: per first-seen week, users inactive in the trailing 7 days",
      // product-analytics churn: per-user (first, last) activity bounds —
      // one user-keyed map-side-combined aggregate — rolled up by absolute
      // first-seen week against the global max timestamp. All integer
      // nanos; one rounded ratio per cohort row.
      (s, dir) => {
        val e = table(s, dir, "events")
          .select(col("user_id"), col("ts").cast("long").as("tns"))
        val gmax = e.agg(max("tns").as("gmax"))
        e.groupBy("user_id")
          .agg(min("tns").as("first_tns"), max("tns").as("last_tns"))
          .join(broadcast(gmax))
          .withColumn("cohort_week", expr("first_tns div 604800000000000"))
          .withColumn("churned",
            (col("gmax") - col("last_tns")) > lit(7L * 86400000000000L))
          .groupBy("cohort_week")
          .agg(count(lit(1)).as("n_users"),
            count(when(col("churned"), 1)).as("n_churned"))
          .select(col("cohort_week"), col("n_users"), col("n_churned"),
            round(col("n_churned").cast("double") / col("n_users"), 6)
              .as("churn_rate"))
          .orderBy("cohort_week")
      },
      Some("""|WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS tns FROM events
             |), g AS (SELECT max(tns) AS gmax FROM e),
             |per AS (
             |  SELECT user_id, min(tns) AS first_tns, max(tns) AS last_tns
             |  FROM e GROUP BY user_id
             |), f AS (
             |  SELECT first_tns // 604800000000000 AS cohort_week,
             |    (g.gmax - last_tns) > 604800000000000 AS churned
             |  FROM per CROSS JOIN g
             |)
             |SELECT cohort_week, count(*) AS n_users,
             |  count(*) FILTER (WHERE churned) AS n_churned,
             |  round(CAST(count(*) FILTER (WHERE churned) AS DOUBLE)
             |    / count(*), 6) AS churn_rate
             |FROM f GROUP BY cohort_week ORDER BY cohort_week""".stripMargin)),

    QueryDef("q182_ab_test",
      "two-proportion z-test: purchase conversion lift between user-parity variants",
      // the experimentation readout: per-user conversion flags collapse
      // map-side to 2 variant rows, the z statistic is one double chain
      // over 4 exact integers (identical op order both engines). The
      // variant pivot is a 2-row broadcast self-join.
      (s, dir) => {
        abReadout(table(s, dir, "events")
          .select(col("user_id"), conversionFlag.as("p"))
          .groupBy("user_id").agg(max("p").as("conv")))
      },
      Some("""|WITH per AS (
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
             |CROSS JOIN (SELECT n, c FROM v WHERE variant = 1) b""".stripMargin)),

    QueryDef("q183_image_tiles",
      "per-tile exact pixel sums over REAL-decoded gradient PNGs (thumbnail grid features)",
      // multimodal beyond q50's solid fills: every pixel of the synthetic
      // gradient differs, so the 4x4-tile integer sums pin the decoder's
      // complete raster readback against the oracle's closed-form
      // arithmetic. Decode is a narrow per-row map; payload bytes never
      // cross a shuffle (pruned before the tile explode's aggregation).
      (s, dir) => {
        import graft.multimodal.Multimodal
        val png = udf { (id: Long) => Multimodal.syntheticGradientPng(id) }
        val media = table(s, dir, "documents")
          .select(col("doc_id").cast("long").as("media_id"),
            lit("image").as("kind"),
            png(col("doc_id").cast("long")).as("payload"),
            lit(null).cast(Multimodal.MediaSchema("meta").dataType).as("meta"))
        Multimodal.tileStats(media, 4, 4)
          .select(col("media_id").as("doc_id"), col("tile_x"), col("tile_y"),
            col("n_px"), col("sum_lum"))
          .orderBy("doc_id", "tile_y", "tile_x")
      },
      Some("""|WITH d AS (
             |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h,
             |    1 + doc_id % 5 AS ax, 1 + doc_id % 3 AS by, doc_id % 256 AS c
             |  FROM documents
             |), xs AS (
             |  SELECT doc_id, h, ax, by, c,
             |    unnest(generate_series(0, CAST(w - 1 AS INT))) AS x
             |  FROM d
             |), px AS (
             |  SELECT doc_id, ax, by, c, x,
             |    unnest(generate_series(0, CAST(h - 1 AS INT))) AS y
             |  FROM xs
             |)
             |SELECT doc_id, CAST(x // 4 AS INT) AS tile_x,
             |  CAST(y // 4 AS INT) AS tile_y,
             |  count(*) AS n_px,
             |  CAST(sum((x * ax + y * by + c) % 256) AS BIGINT) AS sum_lum
             |FROM px GROUP BY doc_id, tile_x, tile_y
             |ORDER BY doc_id, tile_y, tile_x""".stripMargin)),

    QueryDef("q184_bootstrap_ci",
      "deterministic multiplicity-bootstrap confidence interval for per-type means",
      // resampling without randomness: replicate b weights each event by
      // md5('boot:'|event|b) mod 3 (mean-1 multiplicities — the Poisson-
      // bootstrap shape with a fixed hash in place of an RNG, so any engine
      // replays identical replicates; 'boot:' salt disjoint from the repo's
      // other hash families). 100 replicates explode map-side and collapse
      // to |types| x 100 aggregate rows before the only shuffle; the CI is
      // an order statistic over each type's 100 ROUNDED replicate means.
      (s, dir) => {
        val e = table(s, dir, "events").select(col("event_type"),
          col("event_id"), floor(col("value") * 1000).cast("long").as("vm"))
        val reps = e.select(col("event_type"), col("event_id"), col("vm"),
            explode(sequence(lit(0), lit(99))).as("b"))
          .withColumn("w",
            conv(substring(md5(concat(lit("boot:"), col("event_id").cast("string"),
              lit(":"), col("b").cast("string"))), 1, 15), 16, 10)
              .cast("long") % 3)
          .groupBy("event_type", "b")
          .agg(sum(col("w") * col("vm")).as("ws"), sum("w").as("wn"))
          .select(col("event_type"), col("b"),
            round(col("ws").cast("double") / col("wn") / 1000.0, 6).as("m_r"))
        val w = Window.partitionBy("event_type").orderBy("m_r", "b")
        val ci = reps.withColumn("rn", row_number().over(w))
          .groupBy("event_type")
          .agg(min(when(col("rn") === 6, col("m_r"))).as("ci_lo"),
            min(when(col("rn") === 95, col("m_r"))).as("ci_hi"))
        val point = e.groupBy("event_type")
          .agg(round(sum("vm").cast("double") / count(lit(1)) / 1000.0, 6)
            .as("mean"))
        point.join(ci, "event_type").orderBy("event_type")
      },
      Some("""|WITH e AS (
             |  SELECT event_type, event_id,
             |    CAST(floor(value * 1000) AS BIGINT) AS vm
             |  FROM events
             |), reps AS (
             |  SELECT event_type, b.b,
             |    round(CAST(sum(w * vm) AS DOUBLE) / sum(w) / 1000.0, 6) AS m_r
             |  FROM e CROSS JOIN generate_series(0, 99) b(b)
             |  CROSS JOIN LATERAL (SELECT CAST(('0x' ||
             |    substr(md5('boot:' || event_id || ':' || b.b), 1, 15))
             |    AS UBIGINT) % 3 AS w)
             |  GROUP BY event_type, b.b
             |), ranked AS (
             |  SELECT event_type, m_r,
             |    row_number() OVER (PARTITION BY event_type ORDER BY m_r, b) AS rn
             |  FROM reps
             |), ci AS (
             |  SELECT event_type,
             |    min(CASE WHEN rn = 6 THEN m_r END) AS ci_lo,
             |    min(CASE WHEN rn = 95 THEN m_r END) AS ci_hi
             |  FROM ranked GROUP BY event_type
             |), pt AS (
             |  SELECT event_type,
             |    round(CAST(sum(vm) AS DOUBLE) / count(*) / 1000.0, 6) AS mean
             |  FROM e GROUP BY event_type
             |)
             |SELECT pt.event_type, pt.mean, ci.ci_lo, ci.ci_hi
             |FROM pt JOIN ci USING (event_type)
             |ORDER BY event_type""".stripMargin)),

    QueryDef("q185_column_entropy",
      "Shannon entropy profile per column (exact integer micro-nat sums)",
      // the data-profiling complement to q129: per column, category
      // distribution entropy -sum(p ln p). Each category's contribution is
      // ONE double chain over exact integers, rounded to micro-nats and
      // summed as integers — deterministic under any aggregation order.
      // Each check is a category-keyed two-level aggregate; the report is
      // 4 rows.
      (s, dir) => {
        val e = table(s, dir, "events")
        def entropy(cat: org.apache.spark.sql.Column, name: String) = {
          val cnts = e.select(cat.as("cat")).groupBy("cat")
            .agg(count(lit(1)).as("c"))
          val tot = cnts.agg(sum("c").as("n"))
          cnts.join(broadcast(tot))
            .agg(lit(name).as("column_name"),
              count(lit(1)).as("n_distinct"), max("n").as("n_rows"),
              sum(expr("CAST(floor(((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 1e6) + 0.5) AS BIGINT)"))
                .as("entropy_micro"))
        }
        entropy(col("event_type"), "event_type")
          .unionAll(entropy(expr("user_id div 10"), "user_bucket"))
          .unionAll(entropy(expr("(CAST(ts AS BIGINT) div 60000000000) % 60"),
            "minute_of_hour"))
          .unionAll(entropy(expr("CAST(floor(value * 1000) AS BIGINT) div 50000"),
            "value_band"))
          .orderBy("column_name")
      },
      Some("""|WITH checks AS (
             |  SELECT 'event_type' AS column_name, count(*) AS n_distinct,
             |    max(n) AS n_rows,
             |    sum(CAST(floor(((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 1e6) + 0.5) AS BIGINT)) AS entropy_micro
             |  FROM (SELECT c, sum(c) OVER () AS n FROM
             |    (SELECT count(*) AS c FROM events GROUP BY event_type))
             |  UNION ALL
             |  SELECT 'user_bucket', count(*), max(n),
             |    sum(CAST(floor(((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 1e6) + 0.5) AS BIGINT))
             |  FROM (SELECT c, sum(c) OVER () AS n FROM
             |    (SELECT count(*) AS c FROM events GROUP BY user_id // 10))
             |  UNION ALL
             |  SELECT 'minute_of_hour', count(*), max(n),
             |    sum(CAST(floor(((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 1e6) + 0.5) AS BIGINT))
             |  FROM (SELECT c, sum(c) OVER () AS n FROM
             |    (SELECT count(*) AS c FROM events
             |     GROUP BY (epoch_ns(ts) // 60000000000) % 60))
             |  UNION ALL
             |  SELECT 'value_band', count(*), max(n),
             |    sum(CAST(floor(((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 1e6) + 0.5) AS BIGINT))
             |  FROM (SELECT c, sum(c) OVER () AS n FROM
             |    (SELECT count(*) AS c FROM events
             |     GROUP BY CAST(floor(value * 1000) AS BIGINT) // 50000))
             |)
             |SELECT column_name, n_distinct,
             |  CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(entropy_micro AS BIGINT) AS entropy_micro
             |FROM checks ORDER BY column_name""".stripMargin)),

    QueryDef("q187_weighted_quantiles",
      "exact weighted quantiles (quantity-weighted price median/p90 per return flag)",
      // the q91 family extended with weights: collapse to (group, value)
      // rows FIRST (bounded by distinct values, deterministic cumsum — no
      // tie ambiguity), then the selected order statistic is the smallest
      // value whose weight cumsum reaches ceil(p*W). All integers: cents
      // values, long weights, ceil as (a+b-1) div b. Per-group ordered
      // scans parallelize across groups.
      (s, dir) => {
        val li = table(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          col("l_quantity").cast("long").as("qty"))
        val byVal = li.groupBy("flag", "cents").agg(sum("qty").as("w"))
        val win = Window.partitionBy("flag").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = byVal.withColumn("cum", sum("w").over(win))
        val tot = byVal.groupBy("flag").agg(sum("w").as("tw"))
        cum.join(broadcast(tot), "flag")
          .groupBy("flag")
          .agg(max("tw").as("total_weight"),
            min(when(col("cum") >= expr("(tw + 1) div 2"), col("cents")))
              .as("wmedian_cents"),
            min(when(col("cum") >= expr("(9 * tw + 9) div 10"), col("cents")))
              .as("wp90_cents"))
          .orderBy("flag")
      },
      Some("""|WITH v AS (
             |  SELECT l_returnflag AS flag,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             |    sum(CAST(l_quantity AS BIGINT)) AS w
             |  FROM lineitem GROUP BY 1, 2
             |), c AS (
             |  SELECT flag, cents, w,
             |    sum(w) OVER (PARTITION BY flag ORDER BY cents
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(w) OVER (PARTITION BY flag) AS tw
             |  FROM v
             |)
             |SELECT flag, CAST(max(tw) AS BIGINT) AS total_weight,
             |  min(CASE WHEN cum >= (tw + 1) // 2 THEN cents END) AS wmedian_cents,
             |  min(CASE WHEN cum >= (9 * tw + 9) // 10 THEN cents END) AS wp90_cents
             |FROM c GROUP BY flag ORDER BY flag""".stripMargin)),

    QueryDef("q188_conversion_path_census",
      "events-to-conversion path length census (histogram + exact mean)",
      // journey analytics: per converting user, how many events strictly
      // precede the first high-value purchase. The first-conversion anchor
      // is a per-user min aggregate (map-side combined) joined back as a
      // filter — never a per-user ordered window over the fact table; the
      // census is a bounded histogram.
      (s, dir) => {
        val e = table(s, dir, "events").select(col("user_id"),
          col("ts").cast("long").as("tns"), col("event_type"), col("value"))
        val conv = e.filter(col("event_type") === "purchase" && col("value") > 150)
          .groupBy("user_id").agg(min("tns").as("conv_tns"))
        val lengths = e.join(conv, "user_id")
          .groupBy("user_id")
          .agg(max("conv_tns").as("conv_tns"),
            count(when(col("tns") < col("conv_tns"), 1)).as("path_len"))
        lengths
          .withColumn("bucket",
            when(col("path_len") === 0, "0").when(col("path_len") <= 9, "1-9")
              .when(col("path_len") <= 49, "10-49").otherwise("50+"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_users"), sum("path_len").as("total_len"),
            round(sum("path_len").cast("double") / count(lit(1)), 6)
              .as("avg_len"))
          .orderBy("bucket")
      },
      Some("""|WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS tns, event_type, value
             |  FROM events
             |), conv AS (
             |  SELECT user_id, min(tns) AS conv_tns FROM e
             |  WHERE event_type = 'purchase' AND value > 150
             |  GROUP BY user_id
             |), lens AS (
             |  SELECT e.user_id,
             |    count(*) FILTER (WHERE e.tns < conv.conv_tns) AS path_len
             |  FROM e JOIN conv USING (user_id)
             |  GROUP BY e.user_id
             |), b AS (
             |  SELECT path_len, CASE WHEN path_len = 0 THEN '0'
             |    WHEN path_len <= 9 THEN '1-9' WHEN path_len <= 49 THEN '10-49'
             |    ELSE '50+' END AS bucket
             |  FROM lens
             |)
             |SELECT bucket, count(*) AS n_users,
             |  CAST(sum(path_len) AS BIGINT) AS total_len,
             |  round(CAST(sum(path_len) AS DOUBLE) / count(*), 6) AS avg_len
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    QueryDef("q189_date_dimension",
      "generated calendar dimension (2024, leap year) with warehouse flags",
      // the star-schema staple built from a pure integer grid: one
      // sequence explode, every attribute an arithmetic/calendar function
      // of the day index — no source scan at all. Dimension builds like
      // this are driver-cheap and broadcast at scale.
      (s, dir) => {
        table(s, dir, "region") // anchor the plan to the harness dir contract
          .limit(1).select(explode(sequence(lit(0), lit(365))).as("d"))
          .select(col("d"),
            date_add(to_date(lit("2024-01-01")), col("d")).as("dt"))
          .select(col("d"),
            col("dt").cast("string").as("date_str"),
            pmod(col("d"), lit(7)).as("dow_mon0"),
            expr("d div 7").as("week_idx"),
            month(col("dt")).as("month"),
            quarter(col("dt")).as("quarter"),
            dayofmonth(col("dt")).as("day_of_month"),
            (dayofmonth(col("dt")) === 1).as("is_month_start"),
            (dayofmonth(date_add(col("dt"), 1)) === 1).as("is_month_end"))
          .orderBy("d")
      },
      Some("""|WITH g AS (
             |  SELECT unnest(generate_series(0, 365)) AS d
             |), dd AS (
             |  SELECT d, DATE '2024-01-01' + CAST(d AS INT) AS dt FROM g
             |)
             |SELECT CAST(d AS INT) AS d,
             |  strftime(dt, '%Y-%m-%d') AS date_str,
             |  CAST(d % 7 AS INT) AS dow_mon0,
             |  d // 7 AS week_idx,
             |  CAST(month(dt) AS INT) AS month,
             |  CAST(quarter(dt) AS INT) AS quarter,
             |  CAST(day(dt) AS INT) AS day_of_month,
             |  day(dt) = 1 AS is_month_start,
             |  day(dt + 1) = 1 AS is_month_end
             |FROM dd ORDER BY d""".stripMargin)),

    QueryDef("q190_embedding_profile",
      "per-dimension embedding distribution profile (exact micro-grid moments)",
      // the pre-training sanity check over an embedding table: every
      // dimension's n/min/max/sum and std from EXACT integer micro sums
      // (float->double widening is exact; floor(v*1e6) is the same IEEE
      // product both engines). One posexplode + one dim-keyed aggregation,
      // map-side combined to |dims| rows — never a whole-column collect.
      (s, dir) => {
        val x = table(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("dim"),
            floor(col("v").cast("double") * 1e6).cast("long").as("mu"))
        // second moments in DECIMAL(38,0) (the q192 idiom): n*ssq and
        // sum^2 pass 2^63 at ~20k vectors while the oracle's HUGEINT
        // stays exact — Long here would wrap silently into a NaN std
        x.groupBy("dim")
          .agg(count(lit(1)).as("n"), min("mu").as("min_micro"),
            max("mu").as("max_micro"), sum("mu").as("sum_micro"),
            sum((col("mu") * col("mu")).cast("decimal(38,0)")).as("ssq"))
          .select(col("dim"), col("n"), col("min_micro"), col("max_micro"),
            col("sum_micro"),
            round(col("sum_micro").cast("double") / col("n") / 1e6, 6).as("mean"),
            round(sqrt(expr("""CAST(CAST(n AS DECIMAL(38,0)) * ssq
                - CAST(sum_micro AS DECIMAL(38,0)) * sum_micro AS DOUBLE)"""))
              / col("n") / 1e6, 6).as("std"))
          .orderBy("dim")
      },
      Some("""|WITH x AS (
             |  SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
             |    unnest(list_transform(embedding,
             |      v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT))) AS mu
             |  FROM embeddings
             |)
             |SELECT CAST(dim AS INT) AS dim, count(*) AS n,
             |  min(mu) AS min_micro, max(mu) AS max_micro,
             |  CAST(sum(mu) AS BIGINT) AS sum_micro,
             |  round(CAST(sum(mu) AS DOUBLE) / count(*) / 1e6, 6) AS mean,
             |  round(sqrt(CAST(count(*) * sum(mu * mu) - sum(mu) * sum(mu)
             |    AS DOUBLE)) / count(*) / 1e6, 6) AS std
             |FROM x GROUP BY dim ORDER BY dim""".stripMargin)),

    QueryDef("q191_sql_api_unshipped_revenue",
      "TPC-H Q3 shape through the pure spark.sql() string API (temp views)",
      // the SQL-string entry point a BI tool uses: temp views over the
      // harness tables, the whole query one ANSI string Catalyst plans
      // exactly like the DataFrame form (broadcast dim, two fact shuffles,
      // TakeOrdered top-10). Revenue on the exact cents grid.
      (s, dir) => {
        table(s, dir, "customer").createOrReplaceTempView("v_customer")
        table(s, dir, "orders").createOrReplaceTempView("v_orders")
        table(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
        s.sql("""
          SELECT l_orderkey,
            sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS revenue_cents,
            CAST(CAST(o_orderdate AS DATE) AS STRING) AS order_date,
            o_orderpriority
          FROM v_customer
          JOIN v_orders ON c_custkey = o_custkey
          JOIN v_lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
            AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue_cents DESC, l_orderkey
          LIMIT 10""")
      },
      Some("""|SELECT l_orderkey,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |      AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
             |  o_orderpriority
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue_cents DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    QueryDef("q192_envelope_correlation",
      "amplitude-envelope correlation between channel pairs per wavelet band",
      // the ECoG functional-connectivity metric the coherence (q171)
      // family complements: correlate high-gamma AMPLITUDE envelopes, not
      // raw signals. Envelopes come off the q32 wavelet chain, pinned to
      // the cross-engine round(.,6) grid and floored to exact milli
      // integers BEFORE any correlation math — Pearson then runs entirely
      // on integer sums (DECIMAL(38,0) headroom) with one double chain per
      // (band, pair) row. The envelope frame is checkpointed once: it
      // feeds the stats pass and both sides of the pair join, and its
      // lineage holds the FFT work.
      (s, dir) => {
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        val amp = DspOperators.waveletAmplitude(seg, "human", hgOnly = true)
        val long = Frames.toLong(amp)
          .select(col("channel"), col("band"), col("t_idx"),
            floor(round(col("value"), 6) * 1000).cast("long").as("am"))
          .pin
        val st = long.groupBy("channel", "band")
          .agg(count(lit(1)).as("n"), sum("am").as("sx"),
            sum((col("am") * col("am")).cast("decimal(38,0)")).as("sxx"))
        val xy = long.select(col("band"), col("t_idx"),
            col("channel").as("c1"), col("am").as("am1"))
          .join(long.select(col("band"), col("t_idx"),
            col("channel").as("c2"), col("am").as("am2")), Seq("band", "t_idx"))
          .filter(col("c1") < col("c2"))
          .groupBy("band", "c1", "c2")
          .agg(sum((col("am1") * col("am2")).cast("decimal(38,0)")).as("sxy"))
        xy
          .join(broadcast(st.select(col("channel").as("c1"), col("band"),
            col("n"), col("sx").as("sx1"), col("sxx").as("sxx1"))), Seq("band", "c1"))
          .join(broadcast(st.select(col("channel").as("c2"), col("band"),
            col("sx").as("sx2"), col("sxx").as("sxx2"))), Seq("band", "c2"))
          .select(col("band"), col("c1"), col("c2"),
            round(expr("""CAST(CAST(n AS DECIMAL(38,0)) * sxy
                - CAST(sx1 AS DECIMAL(38,0)) * sx2 AS DOUBLE)""") /
              sqrt(expr("""CAST(CAST(n AS DECIMAL(38,0)) * sxx1
                  - CAST(sx1 AS DECIMAL(38,0)) * sx1 AS DOUBLE)""") *
                expr("""CAST(CAST(n AS DECIMAL(38,0)) * sxx2
                  - CAST(sx2 AS DECIMAL(38,0)) * sx2 AS DOUBLE)""")), 6)
              .as("envelope_r"))
          .orderBy("band", "c1", "c2")
      },
      Some(SpectralOracles.q192())),

    QueryDef("q193_funnel_windows",
      "time-bounded 3-step funnel (view -> click -> purchase, 24 h step windows)",
      // q98's ordered funnel with per-step deadlines: each step's anchor is
      // the previous step's per-user min aggregate joined back as a range
      // filter (the q188 anchor idiom, never an ordered window over the
      // fact table). All boundaries exact integer nanos; one double chain
      // for the average.
      (s, dir) => {
        val dayNs = 86400000000000L
        val e = table(s, dir, "events").select(col("user_id"),
          col("ts").cast("long").as("tns"), col("event_type"))
        // each step anchor feeds the next step AND its own census —
        // checkpoint the bounded per-user frames so the event scans run
        // once per step, not once per consumer
        val s1 = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("tns").as("t1"))
          .pin
        val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
          .filter(col("tns") > col("t1") && col("tns") <= col("t1") + dayNs)
          .groupBy("user_id").agg(min("tns").as("t2"), max("t1").as("t1"))
          .pin
        val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
          .filter(col("tns") > col("t2") && col("tns") <= col("t2") + dayNs)
          .groupBy("user_id").agg(min("tns").as("t3"), max("t1").as("t1"))
        val n1 = s1.agg(count(lit(1)).as("n_step1"))
        val n2 = s2.agg(count(lit(1)).as("n_step2"))
        val n3 = s3.agg(count(lit(1)).as("n_step3"),
          sum(col("t3") - col("t1")).as("total_ns"))
        n1.join(n2).join(n3)
          .select(col("n_step1"), col("n_step2"), col("n_step3"),
            round(col("total_ns").cast("double") / col("n_step3") /
              lit(3600000000000.0), 6).as("avg_hours_to_convert"))
      },
      Some("""|WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS tns, event_type FROM events
             |), s1 AS (
             |  SELECT user_id, min(tns) AS t1 FROM e
             |  WHERE event_type = 'view' GROUP BY user_id
             |), s2 AS (
             |  SELECT e.user_id, min(e.tns) AS t2, max(s1.t1) AS t1
             |  FROM e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.tns > s1.t1
             |    AND e.tns <= s1.t1 + 86400000000000
             |  GROUP BY e.user_id
             |), s3 AS (
             |  SELECT e.user_id, min(e.tns) AS t3, max(s2.t1) AS t1
             |  FROM e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.tns > s2.t2
             |    AND e.tns <= s2.t2 + 86400000000000
             |  GROUP BY e.user_id
             |)
             |SELECT (SELECT count(*) FROM s1) AS n_step1,
             |  (SELECT count(*) FROM s2) AS n_step2,
             |  (SELECT count(*) FROM s3) AS n_step3,
             |  (SELECT round(CAST(sum(t3 - t1) AS DOUBLE) / count(*)
             |     / 3600000000000.0, 6) FROM s3) AS avg_hours_to_convert""".stripMargin)),

    QueryDef("q194_interval_concurrency",
      "max concurrent sessions per day (sweep-line over interval boundaries)",
      // the capacity-planning census: per-user-day activity intervals
      // become +1/-1 boundary events; the running sum under (t, delta desc)
      // ordering — starts before ends at a shared instant, so touching
      // intervals count as concurrent — peaks at the day's max concurrency.
      // Intervals never cross days by construction, so the sweep partitions
      // per day (parallelism = days) and each day's sum returns to zero.
      // Max-of-cumsum is invariant to reordering within equal (t, delta)
      // runs, so ties can't make the answer nondeterministic.
      (s, dir) => {
        val e = table(s, dir, "events").select(col("user_id"),
          col("ts").cast("long").as("tns"),
          expr("CAST(ts AS BIGINT) div 86400000000000").as("day"))
        val iv = e.groupBy("user_id", "day")
          .agg(min("tns").as("st"), max("tns").as("en"))
        // both boundaries from ONE pass over the interval aggregate (a
        // union of two selects would run the groupBy subtree twice)
        val b = iv.select(col("day"), explode(array(
            struct(col("st").as("t"), lit(1L).as("d")),
            struct(col("en").as("t"), lit(-1L).as("d")))).as("bd"))
          .select(col("day"), col("bd.t").as("t"), col("bd.d").as("d"))
        val w = Window.partitionBy("day").orderBy(col("t"), col("d").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        b.withColumn("cum", sum("d").over(w))
          .groupBy("day")
          .agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
            max("cum").as("max_concurrent"))
          .orderBy("day")
      },
      Some("""|WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS tns,
             |    epoch_ns(ts) // 86400000000000 AS day
             |  FROM events
             |), iv AS (
             |  SELECT user_id, day, min(tns) AS st, max(tns) AS en
             |  FROM e GROUP BY user_id, day
             |), b AS (
             |  SELECT day, st AS t, 1 AS d FROM iv
             |  UNION ALL SELECT day, en AS t, -1 AS d FROM iv
             |), c AS (
             |  SELECT day,
             |    sum(d) OVER (PARTITION BY day ORDER BY t, d DESC
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM b
             |)
             |SELECT day, CAST(count(*) // 2 AS BIGINT) AS n_sessions,
             |  CAST(max(cum) AS BIGINT) AS max_concurrent
             |FROM c GROUP BY day ORDER BY day""".stripMargin)),

    QueryDef("q195_hierarchy_rollup",
      "hierarchy path rollup via closed-form ancestor explosion (decimal trie)",
      // hierarchical aggregation WITHOUT recursion: each part's ancestor
      // chain (id, id/10, ..., id/10^4 — the derived decimal trie) explodes
      // in-row (bounded by depth), then one node-keyed aggregate rolls
      // values up every level simultaneously — the flattened-closure shape
      // that replaces an iterative parent join at scale.
      (s, dir) => {
        val p = table(s, dir, "part").select(col("p_partkey"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"))
        p.select(col("cents"), posexplode(array(
            col("p_partkey"), expr("p_partkey div 10"),
            expr("p_partkey div 100"), expr("p_partkey div 1000"),
            expr("p_partkey div 10000"))).as(Seq("depth", "node")))
          .groupBy("depth", "node")
          .agg(count(lit(1)).as("n_parts"), sum("cents").as("total_cents"))
          .orderBy(col("total_cents").desc, col("depth"), col("node"))
          .limit(50)
      },
      Some("""|WITH anc AS (
             |  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
             |    unnest([0, 1, 2, 3, 4]) AS depth,
             |    unnest([p_partkey, p_partkey // 10, p_partkey // 100,
             |            p_partkey // 1000, p_partkey // 10000]) AS node
             |  FROM part
             |)
             |SELECT CAST(depth AS INT) AS depth, node, count(*) AS n_parts,
             |  CAST(sum(cents) AS BIGINT) AS total_cents
             |FROM anc GROUP BY depth, node
             |ORDER BY total_cents DESC, depth, node LIMIT 50""".stripMargin)),

    QueryDef("q196_event_disorder_census",
      "event-time disorder census: inversions vs arrival order (watermark tuning input)",
      // how out-of-order is the stream? Arrival order = event_id; an event
      // is LATE when its event time regresses below the running max of
      // everything that arrived before it — exactly what a streaming
      // watermark must absorb. The running max is a per-type ordered
      // window (parallelism = types); everything integer nanos, one
      // rounded ratio. max_regression_ns is the minimum watermark delay
      // that would have captured every event of the type.
      (s, dir) => {
        val e = table(s, dir, "events").select(col("event_type"),
          col("event_id"), col("ts").cast("long").as("tns"))
        val w = Window.partitionBy("event_type").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        e.withColumn("prevmax", max("tns").over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            count(when(col("tns") < col("prevmax"), 1)).as("n_late"),
            max(when(col("tns") < col("prevmax"), col("prevmax") - col("tns")))
              .as("max_regression_ns"))
          .select(col("event_type"), col("n_events"), col("n_late"),
            col("max_regression_ns"),
            round(col("n_late").cast("double") / col("n_events"), 6)
              .as("late_frac"))
          .orderBy("event_type")
      },
      Some("""|WITH e AS (
             |  SELECT event_type, event_id, epoch_ns(ts) AS tns FROM events
             |), r AS (
             |  SELECT event_type, tns,
             |    max(tns) OVER (PARTITION BY event_type ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
             |  FROM e
             |)
             |SELECT event_type, count(*) AS n_events,
             |  count(*) FILTER (WHERE tns < prevmax) AS n_late,
             |  max(CASE WHEN tns < prevmax THEN prevmax - tns END)
             |    AS max_regression_ns,
             |  round(CAST(count(*) FILTER (WHERE tns < prevmax) AS DOUBLE)
             |    / count(*), 6) AS late_frac
             |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("q197_degree_distribution",
      "co-purchase degree distribution with log-log power-law slope",
      // the graph-health profile: degree histogram (bounded by distinct
      // degree values) plus a least-squares slope of ln(count) vs ln(degree)
      // — regression sums over ROUNDED micro-log integers (exact,
      // order-free; ln on identical integer inputs is the same double both
      // engines), one double chain for the slope broadcast onto every
      // histogram row.
      (s, dir) => {
        val e = Graph.coOccurrenceEdges(table(s, dir, "lineitem"),
          "l_orderkey", "l_partkey")
        val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val hist = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
          .pin // feeds the fit aggregate and the output rows
        val fit = hist
          .select(expr("CAST(floor((ln(CAST(deg AS DOUBLE)) * 1e6) + 0.5) AS BIGINT)").as("x"),
            expr("CAST(floor((ln(CAST(n_nodes AS DOUBLE)) * 1e6) + 0.5) AS BIGINT)").as("y"))
          .agg(count(lit(1)).as("np"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          // guarded floor-grid, not round(): the ratio of integer sums is
          // non-rational-margin (den ~1e15, so the 1/(2n) round() safety
          // bound doesn't apply), and a single-degree histogram makes the
          // denominator 0 → NaN (gridRound non-finite contract) — same
          // CASE both engines, NULL fit when degenerate.
          .select(when(col("np") * col("sxx") - col("sx") * col("sx") > 0L,
            graft.functions.GridFunctions.gridRound(
              (col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("np") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
            .as("loglog_slope"))
        hist.join(broadcast(fit))
          .select(col("deg"), col("n_nodes"), col("loglog_slope"))
          .orderBy("deg")
      },
      Some("""|WITH e AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
             |  WHERE x.l_partkey < y.l_partkey
             |), deg AS (
             |  SELECT v, count(*) AS deg FROM (
             |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
             |  ) GROUP BY v
             |), hist AS (
             |  SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg
             |), pts AS (
             |  SELECT CAST(floor((ln(CAST(deg AS DOUBLE)) * 1e6) + 0.5) AS BIGINT) AS x,
             |    CAST(floor((ln(CAST(n_nodes AS DOUBLE)) * 1e6) + 0.5) AS BIGINT) AS y
             |  FROM hist
             |), fit AS (
             |  SELECT CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) > 0
             |    THEN floor((CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
             |      / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE))
             |      * 1e6 + 0.5) / 1e6 END AS loglog_slope
             |  FROM pts
             |)
             |SELECT deg, n_nodes, loglog_slope
             |FROM hist CROSS JOIN fit ORDER BY deg""".stripMargin)),

    QueryDef("q198_boxplot_bands",
      "per-type boxplot export: exact quartiles, 1.5-IQR whiskers, outlier census",
      // the dashboard boxplot in one pass over Quantiles.exactQuantiles'
      // range-shuffled rank selection (never a whole group in one buffer),
      // then the bounds broadcast back for the outlier count. Quartiles
      // ride the 6-decimal floor grid (r18 — the round() readout was the
      // measured cross-engine round() hazard class); the fences derive
      // from the GRIDDED quartiles on both engines, so the comparison
      // census compares identical doubles.
      (s, dir) => {
        val q = graft.operators.Quantiles.exactQuantiles(
            table(s, dir, "events"), "event_type", "value",
            Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75),
            gridDecimals = Some(6))
          .withColumn("lo_fence", col("p25") - (col("p75") - col("p25")) * 1.5)
          .withColumn("hi_fence", col("p75") + (col("p75") - col("p25")) * 1.5)
        table(s, dir, "events")
          .select(col("event_type"), col("value"))
          .join(broadcast(q), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            max("p25").as("p25"), max("p50").as("p50"), max("p75").as("p75"),
            count(when(col("value") < col("lo_fence") ||
              col("value") > col("hi_fence"), 1)).as("n_outliers"))
          .select(col("event_type"), col("n"),
            col("p25"), col("p50"), col("p75"), col("n_outliers"))
          .orderBy("event_type")
      },
      Some("""|WITH v AS (
             |  SELECT event_type AS g, value AS v FROM events
             |  WHERE value IS NOT NULL AND event_type IS NOT NULL
             |), r AS (
             |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS rk,
             |    count(*) OVER (PARTITION BY g) AS n
             |  FROM v
             |), sel AS (
             |  SELECT g, n,
             |    max(CASE WHEN rk = CAST(floor(0.25::DOUBLE * (n - 1)) AS BIGINT)
             |      THEN v END) AS lo25,
             |    max(CASE WHEN rk = least(CAST(floor(0.25::DOUBLE * (n - 1)) AS BIGINT) + 1, n - 1)
             |      THEN v END) AS hi25,
             |    max(CASE WHEN rk = CAST(floor(0.5::DOUBLE * (n - 1)) AS BIGINT)
             |      THEN v END) AS lo50,
             |    max(CASE WHEN rk = least(CAST(floor(0.5::DOUBLE * (n - 1)) AS BIGINT) + 1, n - 1)
             |      THEN v END) AS hi50,
             |    max(CASE WHEN rk = CAST(floor(0.75::DOUBLE * (n - 1)) AS BIGINT)
             |      THEN v END) AS lo75,
             |    max(CASE WHEN rk = least(CAST(floor(0.75::DOUBLE * (n - 1)) AS BIGINT) + 1, n - 1)
             |      THEN v END) AS hi75
             |  FROM r GROUP BY g, n
             |), qq AS (
             |  SELECT g,
             |    floor((lo25 + (hi25 - lo25) * (0.25::DOUBLE * (n - 1) - floor(0.25::DOUBLE * (n - 1)))) * 1e6 + 0.5) / 1e6 AS p25,
             |    floor((lo50 + (hi50 - lo50) * (0.5::DOUBLE * (n - 1) - floor(0.5::DOUBLE * (n - 1)))) * 1e6 + 0.5) / 1e6 AS p50,
             |    floor((lo75 + (hi75 - lo75) * (0.75::DOUBLE * (n - 1) - floor(0.75::DOUBLE * (n - 1)))) * 1e6 + 0.5) / 1e6 AS p75
             |  FROM sel
             |), f AS (
             |  SELECT g, p25, p50, p75,
             |    p25 - (p75 - p25) * 1.5 AS lo_fence,
             |    p75 + (p75 - p25) * 1.5 AS hi_fence
             |  FROM qq
             |)
             |SELECT v.g AS event_type, count(*) AS n,
             |  max(f.p25) AS p25, max(f.p50) AS p50,
             |  max(f.p75) AS p75,
             |  count(*) FILTER (WHERE v.v < f.lo_fence OR v.v > f.hi_fence)
             |    AS n_outliers
             |FROM v JOIN f ON f.g = v.g
             |GROUP BY v.g ORDER BY event_type""".stripMargin)),

    QueryDef("q199_revenue_mom",
      "monthly revenue with month-over-month change (BI period-over-period)",
      // the BI staple: exact integer cents per month, lag window over the
      // BOUNDED month frame (rows = calendar months, not data), one double
      // chain for the percentage.
      (s, dir) => {
        val o = table(s, dir, "orders").select(
          expr("CAST(date_format(CAST(o_orderdate AS DATE), 'yyyy-MM') AS STRING)")
            .as("month"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val m = o.groupBy("month").agg(count(lit(1)).as("n_orders"),
          sum("cents").as("revenue_cents"))
        val w = Window.orderBy("month")
        m.withColumn("prev", lag("revenue_cents", 1).over(w))
          .select(col("month"), col("n_orders"), col("revenue_cents"),
            when(col("prev") > 0,
              round((col("revenue_cents") - col("prev")).cast("double") /
                col("prev"), 6)).as("mom_change"))
          .orderBy("month")
      },
      Some("""|WITH m AS (
             |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             |    count(*) AS n_orders,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS revenue_cents
             |  FROM orders GROUP BY 1
             |)
             |SELECT month, n_orders, revenue_cents,
             |  CASE WHEN lag(revenue_cents) OVER (ORDER BY month) > 0
             |    THEN round(CAST(revenue_cents - lag(revenue_cents) OVER (ORDER BY month)
             |      AS DOUBLE) / lag(revenue_cents) OVER (ORDER BY month), 6)
             |  END AS mom_change
             |FROM m ORDER BY month""".stripMargin)),

    QueryDef("q200_proration_allocation",
      "largest-remainder proration: allocate order totals across lines, cents-exact",
      // the cost-allocation algorithm finance pipelines need to be EXACT:
      // floor(T*q_i/Q) per line, then the leftover cents go to the lines
      // with the largest integer remainders (linenumber tiebreak) — the
      // allocation sums to T per order by construction, no float anywhere.
      // One orderkey shuffle; per-order windows over single-digit baskets.
      (s, dir) => {
        val li = table(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity").cast("long").as("q"))
        val o = table(s, dir, "orders").select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("t"))
        val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("qt", sum("q").over(Window.partitionBy("l_orderkey")))
          .withColumn("alloc0", expr("(t * q) div qt"))
          .withColumn("rem", expr("(t * q) % qt"))
          .withColumn("short",
            col("t") - sum("alloc0").over(Window.partitionBy("l_orderkey")))
          .withColumn("rk", row_number().over(Window.partitionBy("l_orderkey")
            .orderBy(col("rem").desc, col("l_linenumber"))))
          .withColumn("alloc_cents",
            col("alloc0") + when(col("rk") <= col("short"), 1L).otherwise(0L))
        base.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"), max("t").as("total_cents"),
            sum("alloc_cents").as("allocated_cents"),
            max("alloc_cents").as("max_alloc"))
          .filter(col("l_orderkey") % 10 === 0)
          .orderBy("l_orderkey")
      },
      Some("""|WITH li AS (
             |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS q
             |  FROM lineitem
             |), o AS (
             |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS t
             |  FROM orders
             |), base AS (
             |  SELECT li.l_orderkey, li.l_linenumber, o.t, li.q,
             |    sum(li.q) OVER (PARTITION BY li.l_orderkey) AS qt
             |  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
             |), a AS (
             |  SELECT l_orderkey, l_linenumber, t,
             |    (t * q) // qt AS alloc0, (t * q) % qt AS rem,
             |    t - sum((t * q) // qt) OVER (PARTITION BY l_orderkey) AS short,
             |    row_number() OVER (PARTITION BY l_orderkey
             |      ORDER BY (t * q) % qt DESC, l_linenumber) AS rk
             |  FROM base
             |), alloc AS (
             |  SELECT l_orderkey, t, rk,
             |    alloc0 + CASE WHEN rk <= short THEN 1 ELSE 0 END AS alloc_cents
             |  FROM a
             |)
             |SELECT l_orderkey, count(*) AS n_lines, max(t) AS total_cents,
             |  CAST(sum(alloc_cents) AS BIGINT) AS allocated_cents,
             |  CAST(max(alloc_cents) AS BIGINT) AS max_alloc
             |FROM alloc GROUP BY l_orderkey
             |HAVING l_orderkey % 10 = 0
             |ORDER BY l_orderkey""".stripMargin)),

    QueryDef("q201_key_gap_islands",
      "key-space gap islands over sparse order keys (bucketed lag, no global window)",
      // the islands-and-gaps pattern made scalable: neighbors come from a
      // bucketed lag (parallelism = key-space buckets) and each bucket's
      // first key takes its predecessor from the PREVIOUS bucket's max —
      // a window over the tiny per-bucket aggregate, broadcast back. No
      // key ever crosses a single-partition window. The audited key set is
      // the high-value-order subset (the harness keys themselves are
      // dense); top-50 widest gaps.
      (s, dir) => {
        val k = table(s, dir, "orders")
          .filter(col("o_totalprice") > 450000)
          .select(col("o_orderkey").as("key"))
          .withColumn("bucket", expr("key div 1024"))
        val inLag = k.withColumn("prev_in",
          lag("key", 1).over(Window.partitionBy("bucket").orderBy("key")))
        val bmax = k.groupBy("bucket").agg(max("key").as("bmax"))
        val prevB = bmax.withColumn("prev_bmax",
          lag("bmax", 1).over(Window.orderBy("bucket")))
        inLag.join(broadcast(prevB.select(col("bucket"), col("prev_bmax"))), "bucket")
          .withColumn("prev", coalesce(col("prev_in"), col("prev_bmax")))
          .filter(col("prev").isNotNull && col("key") - col("prev") > 1)
          .select((col("prev") + 1).as("gap_start"), (col("key") - 1).as("gap_end"),
            (col("key") - col("prev") - 1).as("gap_len"))
          .orderBy(col("gap_len").desc, col("gap_start"))
          .limit(50)
      },
      Some("""|WITH k AS (
             |  SELECT o_orderkey AS key,
             |    lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev
             |  FROM orders WHERE o_totalprice > 450000
             |)
             |SELECT prev + 1 AS gap_start, key - 1 AS gap_end,
             |  key - prev - 1 AS gap_len
             |FROM k WHERE prev IS NOT NULL AND key - prev > 1
             |ORDER BY gap_len DESC, gap_start LIMIT 50""".stripMargin)),

    QueryDef("q202_pareto_concentration",
      "revenue concentration (Pareto/80-20) via two-level distributed prefix sums",
      // how many users carry 80% of value? Users rank by value desc through
      // the bucketed two-level rank; the cumulative sum uses the SAME
      // decomposition — intra-bucket running sums offset by the running
      // total of earlier buckets (a window over the tiny per-bucket
      // aggregate) — so neither the rank nor the prefix sum ever crosses a
      // single-partition window. The 80% crossing compares 5*cum < 4*total
      // in exact integers.
      (s, dir) => {
        // the user aggregate feeds three subtrees (bucket counts, ranked
        // join, totals) — checkpoint per the multi-consumer rule
        val u = table(s, dir, "events")
          .select(col("user_id"), floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy("user_id").agg(sum("vm").as("uv"))
          .withColumn("bucket", expr("-(uv div 1000000)"))
          .pin
        val counts = u.groupBy("bucket")
          .agg(count(lit(1)).as("bn"), sum("uv").as("bs"))
        val offW = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
        val offsets = counts
          .withColumn("rk_off", coalesce(sum("bn").over(offW), lit(0L)))
          .withColumn("sum_off", coalesce(sum("bs").over(offW), lit(0L)))
          .select(col("bucket"), col("rk_off"), col("sum_off"))
        val inW = Window.partitionBy("bucket")
          .orderBy(col("uv").desc, col("user_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ranked = u.join(broadcast(offsets), "bucket")
          .withColumn("cum", col("sum_off") + sum("uv").over(inW))
          .withColumn("rank", col("rk_off") +
            row_number().over(Window.partitionBy("bucket")
              .orderBy(col("uv").desc, col("user_id"))) - 1)
        val tot = u.agg(sum("uv").as("t"), count(lit(1)).as("n_users"))
        ranked.join(broadcast(tot))
          .agg(max("n_users").as("n_users"), max("t").as("total_vm"),
            count(when(col("cum") * 5 < col("t") * 4, 1)).as("n_below_80"),
            max(when(col("rank") === 0, col("uv"))).as("top_user_vm"))
          .select(col("n_users"), col("total_vm"),
            (col("n_below_80") + 1).as("n_users_for_80pct"),
            col("top_user_vm"),
            round((col("n_below_80") + 1).cast("double") / col("n_users"), 6)
              .as("pct_users_for_80pct"))
      },
      Some("""|WITH u AS (
             |  SELECT user_id, sum(CAST(floor(value * 1000) AS BIGINT)) AS uv
             |  FROM events GROUP BY user_id
             |), r AS (
             |  SELECT uv,
             |    row_number() OVER (ORDER BY uv DESC, user_id) - 1 AS rank,
             |    sum(uv) OVER (ORDER BY uv DESC, user_id
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM u
             |), t AS (SELECT sum(uv) AS t, count(*) AS n_users FROM u)
             |SELECT t.n_users,
             |  CAST(t.t AS BIGINT) AS total_vm,
             |  (SELECT count(*) FROM r, t WHERE cum * 5 < t.t * 4) + 1
             |    AS n_users_for_80pct,
             |  CAST((SELECT uv FROM r WHERE rank = 0) AS BIGINT) AS top_user_vm,
             |  round(CAST((SELECT count(*) FROM r, t WHERE cum * 5 < t.t * 4) + 1
             |    AS DOUBLE) / t.n_users, 6) AS pct_users_for_80pct
             |FROM t""".stripMargin)),

    QueryDef("q203_linear_attribution",
      "linear multi-touch attribution with exact cents splitting (largest-remainder)",
      // beyond q151's last-touch: each conversion's cents split EQUALLY
      // across its 24 h lookback touches — floor share + the leftover
      // cents to the most recent touches (the q200 remainder idiom), so
      // attributed cents sum to conversion cents by construction.
      // Touchless conversions credit 'direct'. One user-keyed shuffle;
      // per-conversion windows over bounded per-user event sets.
      (s, dir) => {
        val dayNs = 86400000000000L
        val e = table(s, dir, "events").select(col("user_id"),
          col("event_id"), col("ts").cast("long").as("tns"),
          col("event_type"), col("value"))
        val conv = e.filter(col("event_type") === "purchase" && col("value") > 150)
          .select(col("user_id"), col("event_id").as("conv_id"),
            col("tns").as("ct"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val touches = e.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_id").as("touch_id"),
            col("tns").as("tt"), col("event_type").as("channel"))
        // the range predicate is part of the JOIN condition: a conversion
        // whose user has touches but none in-window must still survive as a
        // null-extended 'direct' row (a post-join filter would drop it)
        val joined = conv.join(touches,
          conv("user_id") === touches("user_id") &&
            touches("tt") < conv("ct") &&
            touches("tt") >= conv("ct") - dayNs, "left")
          .drop(touches("user_id"))
        val nW = Window.partitionBy("conv_id")
        val rkW = Window.partitionBy("conv_id")
          .orderBy(col("tt").desc, col("touch_id").desc)
        val credited = joined
          .withColumn("nt", count("touch_id").over(nW))
          .withColumn("chan",
            when(col("nt") === 0, "direct").otherwise(col("channel")))
          .withColumn("alloc",
            when(col("nt") === 0, col("cents"))
              .otherwise(expr("cents div nt") +
                when(row_number().over(rkW) <= col("cents") % col("nt"), 1L)
                  .otherwise(0L)))
        credited.groupBy("chan")
          .agg(countDistinct("conv_id").as("n_conversions"),
            sum("alloc").as("attributed_cents"))
          .orderBy("chan")
      },
      Some("""|WITH conv AS (
             |  SELECT user_id, event_id AS conv_id, epoch_ns(ts) AS ct,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase' AND value > 150
             |), touches AS (
             |  SELECT user_id, event_id AS touch_id, epoch_ns(ts) AS tt,
             |    event_type AS channel
             |  FROM events WHERE event_type IN ('view', 'click')
             |), joined AS (
             |  SELECT c.conv_id, c.cents, t.touch_id, t.tt, t.channel
             |  FROM conv c LEFT JOIN touches t ON t.user_id = c.user_id
             |    AND t.tt < c.ct AND t.tt >= c.ct - 86400000000000
             |), n AS (
             |  SELECT conv_id, cents, touch_id, tt, channel,
             |    count(touch_id) OVER (PARTITION BY conv_id) AS nt,
             |    row_number() OVER (PARTITION BY conv_id
             |      ORDER BY tt DESC, touch_id DESC) AS rk
             |  FROM joined
             |), credited AS (
             |  SELECT conv_id,
             |    CASE WHEN nt = 0 THEN 'direct' ELSE channel END AS chan,
             |    CASE WHEN nt = 0 THEN cents
             |         ELSE cents // nt + CASE WHEN rk <= cents % nt
             |              THEN 1 ELSE 0 END END AS alloc
             |  FROM n
             |)
             |SELECT chan, count(DISTINCT conv_id) AS n_conversions,
             |  CAST(sum(alloc) AS BIGINT) AS attributed_cents
             |FROM credited GROUP BY chan ORDER BY chan""".stripMargin)),

    QueryDef("q204_rfm_segments",
      "RFM quintile segmentation (bucketed ranks, integer quintile arithmetic)",
      // the CRM classic: per-user recency/frequency/monetary, each ranked
      // through the bucketed two-level global rank (no single-partition
      // window even though the per-user frame is small — the shape must
      // survive a user table that isn't), quintile = (5*rank) div n.
      // Output: the populated (r,f,m) segment census.
      (s, dir) => {
        val e = table(s, dir, "events")
          .select(col("user_id"), col("ts").cast("long").as("tns"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val per = e.groupBy("user_id")
          .agg(max("tns").as("recency"), count(lit(1)).as("freq"),
            sum("vm").as("monetary"))
          .pin // feeds three independent ranked passes
        val n = per.count()
        // bucket granularity per dimension keeps the offsets frame tiny
        // (recency spans epoch nanos, freq single digits x10, monetary ~1e7)
        def quintile(valCol: String, bucketDiv: Long, as: String) =
          graft.model.Frames.denseIndexByKey(
            per.select(col("user_id"), col(valCol)), Seq.empty,
            bucketCol = expr(s"-($valCol div $bucketDiv)"),
            orderCols = Seq(col(valCol).desc, col("user_id")), as = "rk")
            .select(col("user_id"), expr(s"(5 * rk) div $n").cast("int").as(as))
        per.select(col("user_id"))
          .join(quintile("recency", 1000000000000000L, "r"), "user_id")
          .join(quintile("freq", 8L, "f"), "user_id")
          .join(quintile("monetary", 1000000L, "m"), "user_id")
          .groupBy("r", "f", "m").agg(count(lit(1)).as("n_users"))
          .orderBy("r", "f", "m")
      },
      Some("""|WITH per AS (
             |  SELECT user_id, max(epoch_ns(ts)) AS recency, count(*) AS freq,
             |    sum(CAST(floor(value * 1000) AS BIGINT)) AS monetary
             |  FROM events GROUP BY user_id
             |), n AS (SELECT count(*) AS n FROM per),
             |q AS (
             |  SELECT user_id,
             |    CAST((5 * (row_number() OVER (ORDER BY recency DESC, user_id) - 1))
             |      // n.n AS INT) AS r,
             |    CAST((5 * (row_number() OVER (ORDER BY freq DESC, user_id) - 1))
             |      // n.n AS INT) AS f,
             |    CAST((5 * (row_number() OVER (ORDER BY monetary DESC, user_id) - 1))
             |      // n.n AS INT) AS m
             |  FROM per CROSS JOIN n
             |)
             |SELECT r, f, m, count(*) AS n_users
             |FROM q GROUP BY r, f, m ORDER BY r, f, m""".stripMargin)),

    QueryDef("q205_cohort_ltv",
      "cohort lifetime-value curve: cumulative cents by cohort week x weeks-since-first",
      // q145's retention matrix with money: per (cohort, age) cents collapse
      // map-side to a weeks^2-bounded frame; the cumulative LTV runs inside
      // each cohort over that bounded frame. avg_ltv_cents is per cohort
      // SIZE (including inactive users), the product metric.
      (s, dir) => {
        val e = table(s, dir, "events")
          .select(col("user_id"), col("ts").cast("long").as("tns"),
            floor(col("value") * 100).cast("long").as("cents"))
        val first = e.groupBy("user_id").agg(min("tns").as("ft"))
        val sized = first
          .withColumn("cohort_week", expr("ft div 604800000000000"))
          .groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
        val aged = e.join(first, "user_id")
          .withColumn("cohort_week", expr("ft div 604800000000000"))
          .withColumn("age_weeks", expr("(tns - ft) div 604800000000000"))
          .groupBy("cohort_week", "age_weeks")
          .agg(sum("cents").as("week_cents"))
        val w = Window.partitionBy("cohort_week").orderBy("age_weeks")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        aged
          .withColumn("cum_cents", sum("week_cents").over(w))
          .join(broadcast(sized), "cohort_week")
          .select(col("cohort_week"), col("age_weeks"), col("cohort_size"),
            col("week_cents"), col("cum_cents"),
            round(col("cum_cents").cast("double") / col("cohort_size") / 100.0, 6)
              .as("avg_ltv"))
          .orderBy("cohort_week", "age_weeks")
      },
      Some("""|WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS tns,
             |    CAST(floor(value * 100) AS BIGINT) AS cents
             |  FROM events
             |), f AS (
             |  SELECT user_id, min(tns) AS ft FROM e GROUP BY user_id
             |), sized AS (
             |  SELECT ft // 604800000000000 AS cohort_week,
             |    count(*) AS cohort_size
             |  FROM f GROUP BY 1
             |), aged AS (
             |  SELECT f.ft // 604800000000000 AS cohort_week,
             |    (e.tns - f.ft) // 604800000000000 AS age_weeks,
             |    sum(e.cents) AS week_cents
             |  FROM e JOIN f USING (user_id)
             |  GROUP BY 1, 2
             |), c AS (
             |  SELECT cohort_week, age_weeks, week_cents,
             |    sum(week_cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks
             |      ROWS UNBOUNDED PRECEDING) AS cum_cents
             |  FROM aged
             |)
             |SELECT c.cohort_week, c.age_weeks, s.cohort_size,
             |  CAST(c.week_cents AS BIGINT) AS week_cents,
             |  CAST(c.cum_cents AS BIGINT) AS cum_cents,
             |  round(CAST(c.cum_cents AS DOUBLE) / s.cohort_size / 100.0, 6)
             |    AS avg_ltv
             |FROM c JOIN sized s USING (cohort_week)
             |ORDER BY cohort_week, age_weeks""".stripMargin)),

    QueryDef("q207_instantaneous_frequency",
      "instantaneous frequency from wavelet phase (lagged unwrap, per-band Hz stats)",
      // the q35 phase chain composed with d(phase)/dt: phases pinned to the
      // cross-engine round(.,6) grid, lagged per (channel, band), wrapped
      // into [-pi, pi) by floor arithmetic, scaled to Hz. The per-band mean
      // must sit near the band's center frequency — physics as the
      // invariant. Means sum ROUNDED micro-Hz integers (order-free); the
      // lag is a per-(channel, band) ordered window, parallelism =
      // channels x bands.
      (s, dir) => {
        val rate = 1000.0
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, rate)
        val ph = DspOperators.phase(
          DspOperators.waveletTransform(seg, "human", hgOnly = true))
        val long = Frames.toLong(ph)
          .select(col("channel"), col("band"), col("t_idx"),
            round(col("value"), 6).as("p"))
        val w = Window.partitionBy("channel", "band").orderBy("t_idx")
        val twoPi = 2.0 * math.Pi
        long
          .withColumn("d", col("p") - lag("p", 1).over(w))
          .filter(col("d").isNotNull)
          .withColumn("f",
            (col("d") - lit(twoPi) * floor((col("d") + lit(math.Pi)) / lit(twoPi)))
              * lit(rate) / lit(twoPi))
          .groupBy("channel", "band")
          .agg(count(lit(1)).as("n"),
            round(sum(expr("CAST(round(f * 1e6, 0) AS BIGINT)")).cast("double")
              / count(lit(1)) / 1e6, 6).as("mean_if_hz"),
            count(when(col("f") < 0, 1)).as("n_negative"))
          .orderBy("channel", "band")
      },
      Some(SpectralOracles.q207())),

    QueryDef("q208_survival_curve",
      "Kaplan-Meier retention survival with right-censoring (exact risk sets)",
      // time-to-churn survival: duration = active span in days; users still
      // active near the stream end are CENSORED (counted at risk, never as
      // deaths). Risk sets and death counts are exact integers from a
      // day-bounded histogram; the survival product becomes
      // exp(cumsum(round-micro ln(1 - d/n))) — per-term doubles are
      // identical cross-engine (same rationals), the cumsum is an exact
      // integer, and exp runs once per output row. Windows run over the
      // CALENDAR-bounded day frame, not the data.
      (s, dir) => {
        val dayNs = 86400000000000L
        val e = table(s, dir, "events")
          .select(col("user_id"), col("ts").cast("long").as("tns"))
        val gmax = e.agg(max("tns").as("gmax"))
        val per = e.groupBy("user_id")
          .agg(min("tns").as("ft"), max("tns").as("lt"))
          .join(broadcast(gmax))
          .select(expr("(lt - ft) div 86400000000000").as("dur_days"),
            (col("gmax") - col("lt") > lit(7L * dayNs)).as("churned"))
        val byDay = per.groupBy("dur_days")
          .agg(count(when(col("churned"), 1)).as("d"),
            count(lit(1)).as("ending"))
        val tot = per.agg(count(lit(1)).as("n_total"))
        val wPrev = Window.orderBy("dur_days")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy("dur_days")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byDay.join(broadcast(tot))
          .withColumn("n_risk",
            col("n_total") - coalesce(sum("ending").over(wPrev), lit(0L)))
          // d == n_risk would be ln(0): flag the absorbing zero instead of
          // feeding -inf into the sum (same CASE both engines)
          .withColumn("lnterm", expr("""CASE WHEN d >= n_risk THEN 0
            ELSE CAST(floor((ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e6) + 0.5)
              AS BIGINT) END"""))
          .withColumn("dead", expr("CASE WHEN d >= n_risk THEN 1 ELSE 0 END"))
          .withColumn("s",
            when(sum("dead").over(wCum) > 0, lit(0.0))
              .otherwise(graft.functions.GridFunctions.gridRound(exp(sum("lnterm").over(wCum).cast("double") / 1e6), 6)))
          .select(col("dur_days"), col("n_risk"), col("d").as("n_churned"),
            (col("ending") - col("d")).as("n_censored"), col("s").as("survival"))
          .orderBy("dur_days")
      },
      Some("""|WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS tns FROM events
             |), g AS (SELECT max(tns) AS gmax FROM e),
             |per AS (
             |  SELECT (max(tns) - min(tns)) // 86400000000000 AS dur_days,
             |    (g.gmax - max(tns)) > 604800000000000 AS churned
             |  FROM e CROSS JOIN g GROUP BY user_id, g.gmax
             |), byday AS (
             |  SELECT dur_days, count(*) FILTER (WHERE churned) AS d,
             |    count(*) AS ending
             |  FROM per GROUP BY dur_days
             |), t AS (SELECT count(*) AS n_total FROM per),
             |r AS (
             |  SELECT dur_days, d, ending,
             |    t.n_total - coalesce(sum(ending) OVER (ORDER BY dur_days
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
             |  FROM byday CROSS JOIN t
             |), l AS (
             |  SELECT dur_days, n_risk, d, ending,
             |    CASE WHEN d >= n_risk THEN 0
             |      ELSE CAST(floor((ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e6) + 0.5)
             |        AS BIGINT) END AS lnterm,
             |    CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
             |  FROM r
             |)
             |SELECT dur_days, CAST(n_risk AS BIGINT) AS n_risk,
             |  d AS n_churned, ending - d AS n_censored,
             |  CASE WHEN sum(dead) OVER (ORDER BY dur_days
             |      ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0
             |    ELSE floor((exp(CAST(sum(lnterm) OVER (ORDER BY dur_days
             |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6)) * 1e6 + 0.5) / 1e6 END AS survival
             |FROM l ORDER BY dur_days""".stripMargin)),

    QueryDef("q209_seasonality_index",
      "weekly seasonality index per event type (share-of-week x 7, exact ratios)",
      // the demand-planning staple: day-of-week activity index where 1.0 =
      // a uniform week. Counts collapse map-side to types x 7 rows; the
      // index is one double chain over exact integers.
      (s, dir) => {
        val e = table(s, dir, "events").select(col("event_type"),
          expr("(CAST(ts AS BIGINT) div 86400000000000) % 7").as("dow"))
        val c = e.groupBy("event_type", "dow").agg(count(lit(1)).as("c"))
        val t = c.groupBy("event_type").agg(sum("c").as("wk"))
        c.join(broadcast(t), "event_type")
          .select(col("event_type"), col("dow"), col("c"),
            round(col("c") * lit(7).cast("double") / col("wk"), 6).as("idx"))
          .orderBy("event_type", "dow")
      },
      Some("""|WITH c AS (
             |  SELECT event_type, (epoch_ns(ts) // 86400000000000) % 7 AS dow,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2
             |), t AS (
             |  SELECT event_type, sum(c) AS wk FROM c GROUP BY event_type
             |)
             |SELECT c.event_type, CAST(c.dow AS BIGINT) AS dow, c.c,
             |  round(CAST(c.c * 7 AS DOUBLE) / t.wk, 6) AS idx
             |FROM c JOIN t USING (event_type)
             |ORDER BY event_type, dow""".stripMargin)),

    QueryDef("q210_segment_overlap",
      "audience overlap matrix: user-set Jaccard between event types",
      // which behaviors share an audience? (type, user) distinct-ed FIRST
      // (the two-level distinct idiom), then the intersection counts come
      // from a self-join on the USER key — fan-out bounded by types per
      // user, never |users|^2 — and the union sizes follow by
      // inclusion-exclusion from the bounded per-type counts.
      (s, dir) => {
        val tu = table(s, dir, "events")
          .select(col("event_type"), col("user_id")).distinct()
          .pin // feeds sizes + both self-join sides
        val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
        val inter = tu.select(col("event_type").as("t1"), col("user_id"))
          .join(tu.select(col("event_type").as("t2"), col("user_id")), "user_id")
          .filter(col("t1") < col("t2"))
          .groupBy("t1", "t2").agg(count(lit(1)).as("n_both"))
        inter
          .join(broadcast(sizes.select(col("event_type").as("t1"), col("n").as("n1"))), "t1")
          .join(broadcast(sizes.select(col("event_type").as("t2"), col("n").as("n2"))), "t2")
          .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_both"),
            round(col("n_both").cast("double") /
              (col("n1") + col("n2") - col("n_both")), 6).as("jaccard"))
          .orderBy("t1", "t2")
      },
      Some("""|WITH tu AS (
             |  SELECT DISTINCT event_type, user_id FROM events
             |), sizes AS (
             |  SELECT event_type, count(*) AS n FROM tu GROUP BY event_type
             |), inter AS (
             |  SELECT a.event_type AS t1, b.event_type AS t2,
             |    count(*) AS n_both
             |  FROM tu a JOIN tu b ON b.user_id = a.user_id
             |    AND b.event_type > a.event_type
             |  GROUP BY 1, 2
             |)
             |SELECT i.t1, i.t2, s1.n AS n1, s2.n AS n2, i.n_both,
             |  round(CAST(i.n_both AS DOUBLE) / (s1.n + s2.n - i.n_both), 6)
             |    AS jaccard
             |FROM inter i
             |JOIN sizes s1 ON s1.event_type = i.t1
             |JOIN sizes s2 ON s2.event_type = i.t2
             |ORDER BY t1, t2""".stripMargin)),

    QueryDef("q211_word_burstiness",
      "lexical burstiness: per-word Fano factor of per-document counts",
      // content words cluster in few docs (Fano >> 1), function words
      // spread evenly (~uniform): variance/mean of per-doc counts with
      // ZERO-docs included via closed form — sum/sumsq over observed
      // (word, doc) rows plus n_docs from a 1-row broadcast, never a
      // gap-filled word x doc matrix. Exact integer moments, one double
      // chain, top-50 by rounded Fano.
      (s, dir) => {
        val wd = table(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy("word", "doc_id").agg(count(lit(1)).as("c"))
        val nd = table(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
        wd.groupBy("word")
          .agg(count(lit(1)).as("n_present"), sum("c").as("tc"),
            sum(col("c") * col("c")).as("tc2"))
          .join(broadcast(nd))
          .filter(col("tc") >= 10)
          .select(col("word"), col("n_present"), col("tc").as("total_count"),
            round((col("tc2").cast("double") * col("n_docs") - col("tc") * col("tc"))
              / (col("tc") * col("n_docs")), 6).as("fano"))
          .orderBy(round((col("tc2").cast("double") * col("n_docs") - col("tc") * col("tc"))
            / (col("tc") * col("n_docs")), 6).desc, col("word"))
          .limit(50)
      },
      Some("""|WITH wd AS (
             |  SELECT word, doc_id, count(*) AS c FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |    FROM documents
             |  ) GROUP BY word, doc_id
             |), nd AS (SELECT count(*) AS n_docs FROM documents),
             |agg AS (
             |  SELECT word, count(*) AS n_present,
             |    CAST(sum(c) AS BIGINT) AS tc, CAST(sum(c * c) AS BIGINT) AS tc2
             |  FROM wd GROUP BY word
             |)
             |SELECT word, n_present, tc AS total_count,
             |  round((CAST(tc2 AS DOUBLE) * n_docs - tc * tc)
             |    / (tc * n_docs), 6) AS fano
             |FROM agg CROSS JOIN nd
             |WHERE tc >= 10
             |ORDER BY round((CAST(tc2 AS DOUBLE) * n_docs - tc * tc)
             |  / (tc * n_docs), 6) DESC, word LIMIT 50""".stripMargin)),

    QueryDef("q212_graph_assortativity",
      "degree assortativity of the co-purchase graph (exact edge-degree moments)",
      // do high-degree parts co-purchase with high-degree parts? Pearson
      // correlation of endpoint degrees over edges, both directions
      // counted (the standard undirected convention — symmetric moments:
      // sum_x == sum_y, so one moment set suffices). All integer sums in
      // DECIMAL(38,0), one double chain; the edge-degree join is two
      // broadcast-joinable degree lookups at this scale, hash joins at any.
      (s, dir) => {
        val e = Graph.coOccurrenceEdges(table(s, dir, "lineitem"),
          "l_orderkey", "l_partkey").pin
        val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val dd = e
          .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        // both directed orientations: (da,db) and (db,da)
        val pairs = dd.select(col("da").as("x"), col("db").as("y"))
          .unionAll(dd.select(col("db").as("x"), col("da").as("y")))
        pairs.agg(count(lit(1)).as("m"),
            sum("x").as("sx"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
          .select(col("m"), col("sx").as("sum_deg"),
            round(expr("""CAST(CAST(m AS DECIMAL(38,0)) * sxy
                - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)""") /
              expr("""CAST(CAST(m AS DECIMAL(38,0)) * sxx
                - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"""), 6)
              .as("assortativity"))
      },
      Some("""|WITH e AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
             |  WHERE x.l_partkey < y.l_partkey
             |), deg AS (
             |  SELECT v, count(*) AS deg FROM (
             |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
             |  ) GROUP BY v
             |), dd AS (
             |  SELECT d1.deg AS da, d2.deg AS db
             |  FROM e JOIN deg d1 ON d1.v = e.a JOIN deg d2 ON d2.v = e.b
             |), pairs AS (
             |  SELECT da AS x, db AS y FROM dd
             |  UNION ALL SELECT db, da FROM dd
             |)
             |SELECT count(*) AS m, CAST(sum(x) AS BIGINT) AS sum_deg,
             |  round(CAST(count(*) * sum(CAST(x AS HUGEINT) * y)
             |      - CAST(sum(x) AS HUGEINT) * sum(x) AS DOUBLE) /
             |    CAST(count(*) * sum(CAST(x AS HUGEINT) * x)
             |      - CAST(sum(x) AS HUGEINT) * sum(x) AS DOUBLE), 6)
             |    AS assortativity
             |FROM pairs""".stripMargin)),

    QueryDef("q213_heaps_law",
      "vocabulary growth curve with Heaps-law exponent (global token order, no global window)",
      // vocab(N) = distinct words among the first N corpus tokens, on a
      // deterministic (doc_id, position) token order. The global token
      // index = per-doc offset (prefix sum of doc lengths over the BOUNDED
      // doc frame) + in-doc position — the distributed prefix-sum idiom
      // again, never a corpus-wide window. Each word's FIRST global index
      // is a min-aggregate; vocab at each 2^k checkpoint counts firsts <=
      // N. Heaps' exponent = micro-log integer regression (q197 idiom)
      // over the checkpoints.
      (s, dir) => {
        val words = table(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " "))
            .as(Seq("pos", "word")))
          .pin // feeds doc lengths + first-index agg
        val lens = words.groupBy("doc_id").agg(count(lit(1)).as("len"))
        val offW = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        val offsets = lens
          .withColumn("off", coalesce(sum("len").over(offW), lit(0L)))
          .select(col("doc_id"), col("off"))
        val firsts = words.join(broadcast(offsets), "doc_id")
          .select(col("word"), (col("off") + col("pos")).as("gidx"))
          .groupBy("word").agg(min("gidx").as("first_idx"))
          .pin // vocabulary-sized; feeds every checkpoint
        val pts = firsts
          .select(explode(sequence(lit(10), lit(16))).as("k"), col("first_idx"))
          .withColumn("n_tokens", expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) AS BIGINT)"))
          .filter(col("first_idx") < col("n_tokens"))
          .groupBy("n_tokens").agg(count(lit(1)).as("vocab"))
        val fit = pts
          .select(expr("CAST(floor((ln(CAST(n_tokens AS DOUBLE)) * 1e6) + 0.5) AS BIGINT)").as("x"),
            expr("CAST(floor((ln(CAST(vocab AS DOUBLE)) * 1e6) + 0.5) AS BIGINT)").as("y"))
          .agg(count(lit(1)).as("np"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
          .select(round((col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("np") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("heaps_beta"))
        pts.join(broadcast(fit)).orderBy("n_tokens")
      },
      Some("""|WITH w AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             |    unnest(generate_series(0, len(string_split(text, ' ')) - 1))
             |      AS pos
             |  FROM documents
             |), lens AS (
             |  SELECT doc_id, count(*) AS len FROM w GROUP BY doc_id
             |), offs AS (
             |  SELECT doc_id, coalesce(sum(len) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
             |  FROM lens
             |), firsts AS (
             |  SELECT w.word, min(o.off + w.pos) AS first_idx
             |  FROM w JOIN offs o USING (doc_id)
             |  GROUP BY w.word
             |), pts AS (
             |  SELECT CAST(power(2, k.k) AS BIGINT) AS n_tokens,
             |    count(*) AS vocab
             |  FROM firsts
             |  CROSS JOIN (SELECT unnest(generate_series(10, 16)) AS k) k
             |  WHERE first_idx < CAST(power(2, k.k) AS BIGINT)
             |  GROUP BY 1
             |), xy AS (
             |  SELECT CAST(floor((ln(CAST(n_tokens AS DOUBLE)) * 1e6) + 0.5) AS BIGINT) AS x,
             |    CAST(floor((ln(CAST(vocab AS DOUBLE)) * 1e6) + 0.5) AS BIGINT) AS y
             |  FROM pts
             |), fit AS (
             |  SELECT round(CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
             |    / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE), 6)
             |    AS heaps_beta
             |  FROM xy
             |)
             |SELECT n_tokens, vocab, heaps_beta
             |FROM pts CROSS JOIN fit ORDER BY n_tokens""".stripMargin)),

    QueryDef("q214_benford_audit",
      "Benford first-digit audit of order totals (chi-square vs log10(1+1/d))",
      // the fraud-analytics screen: observed first-digit counts vs the
      // Benford expectation. Digits are exact integer string prefixes; per-
      // digit chi2 contributions are independent double chains over exact
      // counts and the shared transcendental expectation, the total sums
      // ROUNDED micro contributions as integers (the q185 idiom). Counts
      // collapse map-side to 9 rows.
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("observed"))
        val tot = o.agg(sum("observed").as("n"))
        val scored = o.join(broadcast(tot))
          .withColumn("expected", expr("CAST(n AS DOUBLE) * ln(1.0 + 1.0 / digit) / ln(10.0)"))
          .withColumn("contrib_micro", expr("""CAST(round(
            (observed - expected) * (observed - expected) / expected * 1e6, 0)
            AS BIGINT)"""))
        val chi2 = scored.agg(sum("contrib_micro").as("chi2_micro"))
        scored.join(broadcast(chi2))
          .select(col("digit"), col("observed"),
            round(col("expected"), 6).as("expected"),
            col("contrib_micro"), col("chi2_micro"))
          .orderBy("digit")
      },
      Some("""|WITH d AS (
             |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM orders
             |), o AS (
             |  SELECT digit, count(*) AS observed FROM d GROUP BY digit
             |), t AS (SELECT sum(observed) AS n FROM o),
             |s AS (
             |  SELECT digit, observed,
             |    CAST(n AS DOUBLE) * ln(1.0 + 1.0 / digit) / ln(10.0) AS expected
             |  FROM o CROSS JOIN t
             |), c AS (
             |  SELECT digit, observed, expected,
             |    CAST(round((observed - expected) * (observed - expected)
             |      / expected * 1e6, 0) AS BIGINT) AS contrib_micro
             |  FROM s
             |), x AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro FROM c)
             |SELECT digit, observed, round(expected, 6) AS expected,
             |  contrib_micro, chi2_micro
             |FROM c CROSS JOIN x ORDER BY digit""".stripMargin)),

    QueryDef("q215_rollup_hierarchy",
      "ROLLUP region -> nation revenue hierarchy with grouping_id (q92's CUBE sibling)",
      // the drill-down subtotal shape: (region, nation), (region), ()
      // grouping sets in ONE pass — Catalyst expands the rollup before the
      // single hash aggregate. Dim joins broadcast; sentinel-coalesced
      // coordinates keep both engines' null ordering out of the compare.
      (s, dir) => {
        val rev = table(s, dir, "lineitem")
          .join(table(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(table(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(table(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(table(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name").as("region_name"), col("n_name").as("nation_name"),
            expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
              .as("cents"))
        // the SQL ROLLUP form: Dataset.rollup over a multi-join child trips
        // Spark 4's dataset-id ambiguity check (q92's bare .cube only works
        // join-free); GROUP BY ROLLUP over a view of the SAME built frame
        // plans identically — one expanded hash aggregate above the joins
        rev.createOrReplaceTempView("v_rollup_rev")
        s.sql("""
          SELECT coalesce(region_name, '(all)') AS region,
            coalesce(nation_name, '(all)') AS nation,
            sum(cents) AS revenue_cents, count(*) AS n_lines,
            CAST(grouping_id(region_name, nation_name) AS INT) AS gid
          FROM v_rollup_rev
          GROUP BY ROLLUP (region_name, nation_name)
          ORDER BY region, nation""")
      },
      Some("""|SELECT coalesce(r_name, '(all)') AS region,
             |  coalesce(n_name, '(all)') AS nation,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |      AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  count(*) AS n_lines,
             |  CAST(GROUPING(r_name, n_name) AS INT) AS gid
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY region, nation""".stripMargin)),

    QueryDef("q216_geo_neighbor_pairs",
      "grid-bucketed spatial neighbor join over md5-derived user coordinates (lossless vs all-pairs)",
      // the spatial blocking pattern: each user gets exact integer micro-
      // degree coordinates on a 10x10-degree map from the md5 grid ('geo:'
      // salt, disjoint hash family), points land in 1-degree cells, and the
      // ONLY exchange is the cell-keyed equi-join of a 9-cell probe fan-out
      // against 1-row-per-point build (Spatial.gridNeighborPairs). radius
      // 0.5 deg <= cell size makes the probe lossless, so the oracle is the
      // NAIVE all-pairs join — the bucketed plan must reproduce it exactly.
      // All distances are exact integer squares; no trig, no doubles.
      (s, dir) => {
        val pts = table(s, dir, "events").select(col("user_id")).distinct()
          .select(col("user_id").as("id"),
            (conv(substring(md5(concat(lit("geo:"), col("user_id").cast("string"),
              lit(":x"))), 1, 15), 16, 10).cast("long") % 10000000L).as("x"),
            (conv(substring(md5(concat(lit("geo:"), col("user_id").cast("string"),
              lit(":y"))), 1, 15), 16, 10).cast("long") % 10000000L).as("y"))
        graft.operators.Spatial.gridNeighborPairs(pts, 1000000L, 500000L)
          .orderBy("id_a", "id_b")
      },
      Some("""|WITH u AS (SELECT DISTINCT user_id FROM events),
             |p AS (
             |  SELECT user_id AS id,
             |    CAST(CAST(('0x' || substr(md5('geo:' || user_id || ':x'), 1, 15))
             |      AS UBIGINT) % 10000000 AS BIGINT) AS x,
             |    CAST(CAST(('0x' || substr(md5('geo:' || user_id || ':y'), 1, 15))
             |      AS UBIGINT) % 10000000 AS BIGINT) AS y
             |  FROM u
             |)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
             |FROM p a JOIN p b ON a.id < b.id
             |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             |  <= 500000 * CAST(500000 AS BIGINT)
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q217_transition_entropy",
      "Markov transition matrix + conditional entropy rate of per-user event-type sequences",
      // the sequence-predictability readout over q124's transition shape:
      // per-user lag(1) bigrams -> exact integer transition counts; the
      // conditional entropy H(next|prev) = -sum (n/N) ln(n/n_prev) sums
      // ROUNDED micro-nat contributions as integers (the q185 idiom), so
      // both engines agree despite the transcendentals. One window shuffle
      // (user-keyed) + one |types|^2-row aggregate; totals broadcast back.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = table(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        val np = tr.groupBy("prev_type").agg(sum("n").cast("long").as("n_prev"))
        val tot = tr.agg(sum("n").cast("long").as("n_total"))
        val c = tr.join(broadcast(np), "prev_type").join(broadcast(tot))
          .withColumn("p_cond", round(col("n").cast("double") / col("n_prev"), 6))
          .withColumn("contrib_micro", expr("""CAST(floor((
            -CAST(n AS DOUBLE) / n_total * ln(CAST(n AS DOUBLE) / n_prev) * 1e6) + 0.5) AS BIGINT)"""))
        val h = c.agg(sum("contrib_micro").cast("long").as("h_cond_micro"))
        c.join(broadcast(h))
          .select(col("prev_type"), col("next_type"), col("n"), col("p_cond"),
            col("contrib_micro"), col("h_cond_micro"))
          .orderBy("prev_type", "next_type")
      },
      Some("""|WITH o AS (
             |  SELECT event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS prev_type
             |  FROM events
             |), tr AS (
             |  SELECT prev_type, event_type AS next_type, count(*) AS n
             |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
             |), np AS (
             |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev FROM tr GROUP BY 1
             |), t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM tr),
             |c AS (
             |  SELECT tr.prev_type, next_type, n,
             |    round(CAST(n AS DOUBLE) / n_prev, 6) AS p_cond,
             |    CAST(floor((-CAST(n AS DOUBLE) / n_total
             |      * ln(CAST(n AS DOUBLE) / n_prev) * 1e6) + 0.5) AS BIGINT)
             |      AS contrib_micro
             |  FROM tr JOIN np USING (prev_type) CROSS JOIN t
             |), h AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS h_cond_micro FROM c)
             |SELECT prev_type, next_type, n, p_cond, contrib_micro, h_cond_micro
             |FROM c CROSS JOIN h ORDER BY prev_type, next_type""".stripMargin)),

    QueryDef("q218_kcore_peel",
      "bounded k-core peeling census of the co-purchase graph (k=80, 8 rounds)",
      // the graph-sparsification workhorse: per round ONE endpoint-keyed
      // degree aggregation + two semi-joins against the survivor set
      // (Graph.boundedKCorePeel), round-sized plans via localCheckpoint.
      // Bounded rounds is q167's contract — the oracle replays the same 8
      // peels as unrolled CTEs over exact integer degrees. On this data the
      // k=80 core reaches fixpoint inside the budget, so the census tail
      // certifies convergence, not just progress.
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        graft.operators.Graph.boundedKCorePeel(
          graft.operators.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"),
          k = 80, rounds = 8)
          .orderBy("round")
      },
      Some(kCorePeelOracle(k = 80, rounds = 8))),

    QueryDef("q219_spearman_balance_spend",
      "tie-aware Spearman rank correlation between customer balance and total spend",
      // the robust-correlation readout: exact doubled average ranks
      // (2m + c - 1, integers even under ties) via the BUCKETED two-level
      // global index (q176's denseIndexByKey-with-empty-key idiom — never a
      // single-partition global window) + a per-value min/max window; the
      // correlation is one double chain over six exact long sums. Customers
      // without orders rank at spend 0 — the left join keeps them.
      (s, dir) => {
        val spend = table(s, dir, "orders")
          .groupBy(col("o_custkey").as("custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend"))
        val base = table(s, dir, "customer")
          .select(col("c_custkey").as("custkey"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
          .join(spend, Seq("custkey"), "left")
          .withColumn("spend", coalesce(col("spend"), lit(0L)))
        def doubledRank(df: org.apache.spark.sql.DataFrame, v: String,
                        bucketPitch: Long, as: String) = {
          val idx = Frames.denseIndexByKey(df.select("custkey", v), Seq.empty,
            bucketCol = expr(s"$v div $bucketPitch"),
            orderCols = Seq(col(v), col("custkey")), as = "_idx")
          val wv = Window.partitionBy(v)
          idx.select(col("custkey"),
            (min("_idx").over(wv) + max("_idx").over(wv) + lit(2L)).as(as))
        }
        val xy = doubledRank(base, "bal", 100000L, "x2")
          .join(doubledRank(base, "spend", 10000000L, "y2"), "custkey")
        // long sums are exact through sf0.1 (|2n|^2 * n ~ 1e17 at n=15k);
        // the 100 TB variant swaps these six aggregates to DECIMAL(38,0)
        xy.agg(count(lit(1)).as("n"), sum("x2").as("sx"), sum("y2").as("sy"),
            sum(col("x2") * col("y2")).as("sxy"),
            sum(col("x2") * col("x2")).as("sxx"),
            sum(col("y2") * col("y2")).as("syy"))
          .select(col("n"),
            expr("""round(CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE)), 6)""").as("rho"))
      },
      Some("""|WITH spend AS (
             |  SELECT o_custkey AS custkey,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend
             |  FROM orders GROUP BY 1
             |), base AS (
             |  SELECT c_custkey AS custkey,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
             |    coalesce(spend, 0) AS spend
             |  FROM customer LEFT JOIN spend ON c_custkey = custkey
             |), ranked AS (
             |  SELECT
             |    2 * rank() OVER (ORDER BY bal)
             |      + count(*) OVER (PARTITION BY bal) - 1 AS x2,
             |    2 * rank() OVER (ORDER BY spend)
             |      + count(*) OVER (PARTITION BY spend) - 1 AS y2
             |  FROM base
             |), s AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x2) AS BIGINT) AS sx, CAST(sum(y2) AS BIGINT) AS sy,
             |    CAST(sum(x2 * y2) AS BIGINT) AS sxy,
             |    CAST(sum(x2 * x2) AS BIGINT) AS sxx,
             |    CAST(sum(y2 * y2) AS BIGINT) AS syy
             |  FROM ranked
             |)
             |SELECT n, round(CAST(n * sxy - sx * sy AS DOUBLE)
             |  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             |       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
             |FROM s""".stripMargin)),

    QueryDef("q220_mann_kendall",
      "Mann-Kendall trend test with tie correction on per-type daily value sums",
      // the nonparametric is-there-a-trend screen: S = sum over day pairs of
      // sign(later - earlier), computed IN-ROW over each type's sorted
      // 30-day array (C(30,2) bounded pairs — no pair shuffle), tie-corrected
      // variance on the exact integer grid (var18 = 18*Var(S)), z from the
      // standard continuity-corrected formula. Bounded-group collect is the
      // q175 in-row-pairs contract: group size = days in range, never rows.
      (s, dir) => {
        val daily = table(s, dir, "events")
          .select(col("event_type"),
            expr("ts div 86400000000000").as("day"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
          .groupBy("event_type", "day").agg(sum("vm").as("sd"))
        val ties = daily.groupBy("event_type", "sd").agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
        val mk = daily.groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("day"), col("sd")))).as("pts"))
          .withColumn("vals", expr("transform(pts, p -> p.sd)"))
          .withColumn("n_days", size(col("vals")).cast("long"))
          .withColumn("s_stat", when(col("n_days") >= 2, expr("""
            aggregate(sequence(0, size(vals) - 2), 0L, (acc, i) ->
              acc + size(filter(slice(vals, i + 2, size(vals)), v -> v > vals[i]))
                  - size(filter(slice(vals, i + 2, size(vals)), v -> v < vals[i])))"""))
            .otherwise(0L))
        mk.join(ties, "event_type")
          .withColumn("var18",
            expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
          .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
            expr("""round(CASE WHEN s_stat > 0
                 THEN (s_stat - 1) / sqrt(var18 / 18.0D)
              WHEN s_stat < 0
                 THEN (s_stat + 1) / sqrt(var18 / 18.0D)
              ELSE 0.0D END, 6)""").as("z"))
          .orderBy("event_type")
      },
      Some("""|WITH daily AS (
             |  SELECT event_type,
             |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    sum(CAST(round(value * 1000) AS BIGINT)) AS sd
             |  FROM events GROUP BY 1, 2
             |), pairs AS (
             |  SELECT a.event_type, sign(b.sd - a.sd) AS sg
             |  FROM daily a JOIN daily b
             |    ON a.event_type = b.event_type AND a.day < b.day
             |), s AS (
             |  SELECT event_type, CAST(coalesce(sum(sg), 0) AS BIGINT) AS s_stat
             |  FROM pairs GROUP BY 1
             |), ties AS (
             |  SELECT event_type,
             |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
             |  FROM (SELECT event_type, sd, count(*) AS t FROM daily GROUP BY 1, 2)
             |  GROUP BY 1
             |), nd AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
             |  FROM daily GROUP BY 1
             |), m AS (
             |  -- LEFT JOIN + coalesce: a single-day type has no day pairs,
             |  -- so s has no row for it; the engine still emits the type
             |  -- (s_stat = 0, var18 = 0, z = 0) and the oracle must too
             |  SELECT event_type, n_days, CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
             |    n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
             |  FROM nd LEFT JOIN s USING (event_type) JOIN ties USING (event_type)
             |)
             |SELECT event_type, n_days, s_stat, var18,
             |  round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)
             |    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
             |    ELSE 0.0 END, 6) AS z
             |FROM m ORDER BY event_type""".stripMargin)),

    QueryDef("q221_local_clustering",
      "top-20 local clustering coefficients over the co-purchase graph (oriented triangle fan-out)",
      // the per-node version of q143: triangles enumerated ONCE at their
      // degree-order-minimal vertex (O(sqrt(2m)) wedge fan-out under any
      // skew), then exploded to their 3 members for per-node counts — never
      // a deg^2 neighbor-pair generation at hubs. The oracle IS that naive
      // deg^2 generation (adj self-join closed per node), so orientation
      // provably loses nothing. Rounded coeff + node id give a total order,
      // making the top-20 cut deterministic.
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        graft.operators.Graph.localClustering(
          graft.operators.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
          .orderBy(col("coeff").desc, col("v")).limit(20)
      },
      Some("""|WITH e AS MATERIALIZED (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
             |  WHERE x.l_partkey < y.l_partkey
             |), deg AS MATERIALIZED (
             |  SELECT v, count(*) AS d FROM (
             |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
             |  ) GROUP BY v
             |), adj AS MATERIALIZED (
             |  SELECT a AS v, b AS w FROM e UNION ALL SELECT b AS v, a AS w FROM e
             |), tri AS MATERIALIZED (
             |  SELECT n1.v, count(*) AS t
             |  FROM adj n1
             |  JOIN adj n2 ON n1.v = n2.v AND n1.w < n2.w
             |  JOIN e ON e.a = n1.w AND e.b = n2.w
             |  GROUP BY n1.v
             |)
             |SELECT deg.v, d, CAST(coalesce(t, 0) AS BIGINT) AS t,
             |  round(2.0 * coalesce(t, 0) / (d * (d - 1)), 6) AS coeff
             |FROM deg LEFT JOIN tri USING (v)
             |WHERE d >= 2
             |ORDER BY coeff DESC, v LIMIT 20""".stripMargin)),

    QueryDef("q222_event_acf",
      "autocorrelation function of per-minute event counts at lags 1-10 on the dense grid",
      // the periodicity probe: the per-minute series zero-filled over full
      // UTC days (grid rows fan out from a 30-row day frame — never one
      // giant sequence array), mean-centered EXACTLY by working on the
      // N*x - S integer grid (N = grid minutes, S = total events), so
      // r_k = sum((N*x_t - S)(N*x_{t+k} - S)) / sum((N*x_t - S)^2) is a
      // ratio of exact longs rounded once. One minute-keyed shuffle for the
      // 10-lag self-join; the denominator broadcast back.
      (s, dir) => {
        val minuteNanos = 60000000000L
        val counts = table(s, dir, "events")
          .select(expr(s"ts div $minuteNanos").as("t"))
          .groupBy("t").agg(count(lit(1)).as("x"))
          .pin // feeds the span agg, the grid join, and totals
        val span = counts.agg(expr("min(t) div 1440").as("d0"),
          expr("max(t) div 1440").as("d1"))
        val grid = span.select(explode(expr("sequence(d0, d1)")).as("day"))
          .select(explode(expr("sequence(0, 1439)")).as("m"), col("day"))
          .select((col("day") * 1440L + col("m")).as("t"))
        val dense = grid.join(counts, Seq("t"), "left")
          .withColumn("x", coalesce(col("x"), lit(0L)))
        val tot = dense.agg(count(lit(1)).as("nn"), sum("x").as("ss"))
        val y = dense.join(broadcast(tot))
          .select(col("t"), (col("nn") * col("x") - col("ss")).as("y"))
          .pin // consumed by both sides of the lag join + den
        val den = y.agg(sum(col("y") * col("y")).as("den"))
        val shifted = y.select(explode(expr("sequence(1, 10)")).as("lag"),
            col("t").as("t0"), col("y").as("y0"))
          .select(col("lag"), (col("t0") + col("lag")).as("t"), col("y0"))
        val prods = shifted.join(y, "t")
          .groupBy("lag")
          .agg(count(lit(1)).as("n_pairs"), sum(col("y0") * col("y")).as("num"))
        prods.join(broadcast(den))
          .select(col("lag"), col("n_pairs"),
            round(col("num").cast("double") / col("den"), 6).as("r"))
          .orderBy("lag")
      },
      Some("""|WITH c AS (
             |  SELECT epoch_ns(ts) // 60000000000 AS t, count(*) AS x
             |  FROM events GROUP BY 1
             |), span AS (
             |  SELECT min(t) // 1440 AS d0, max(t) // 1440 AS d1 FROM c
             |), grid AS (
             |  SELECT CAST(day * 1440 + m AS BIGINT) AS t
             |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM span)
             |  CROSS JOIN (SELECT unnest(generate_series(0, 1439)) AS m)
             |), dense AS (
             |  SELECT grid.t, coalesce(c.x, 0) AS x FROM grid LEFT JOIN c USING (t)
             |), tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS ss
             |  FROM dense
             |), y AS (
             |  SELECT t, nn * x - ss AS y FROM dense CROSS JOIN tot
             |), den AS (SELECT CAST(sum(y * y) AS BIGINT) AS den FROM y),
             |prods AS (
             |  SELECT lag.k AS lag, count(*) AS n_pairs,
             |    CAST(sum(a.y * b.y) AS BIGINT) AS num
             |  FROM (SELECT unnest(generate_series(1, 10)) AS k) lag
             |  JOIN y a ON true
             |  JOIN y b ON b.t = a.t + lag.k
             |  GROUP BY 1
             |)
             |SELECT lag, n_pairs, round(CAST(num AS DOUBLE) / den, 6) AS r
             |FROM prods CROSS JOIN den ORDER BY lag""".stripMargin)),

    QueryDef("q223_ks_two_sample",
      "two-sample Kolmogorov-Smirnov distance between click and view value distributions",
      // the distribution-shift detector: D = max |F_click - F_view| over
      // observed value points, computed as max |n2*cum1 - n1*cum2| on the
      // EXACT integer grid (no double CDFs until the final readout). The
      // cumulative counts use the q202 two-level decomposition — in-bucket
      // running sums offset by the running total of earlier buckets — so no
      // single-partition window anywhere. Ties (both samples jumping at the
      // same value) are handled inclusively on both sides by construction.
      (s, dir) => {
        val v = table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(expr("CAST(round(value * 1000) AS BIGINT)").as("vm"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("is1"))
        val perVm = v.groupBy("vm")
          .agg(sum("is1").as("c1"), sum(lit(1L) - col("is1")).as("c2"))
          .withColumn("bucket", expr("vm div 100000"))
          .pin // feeds bucket offsets, the ranked join, totals
        val bOff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
        val offsets = perVm.groupBy("bucket")
          .agg(sum("c1").as("b1"), sum("c2").as("b2"))
          .withColumn("off1", coalesce(sum("b1").over(bOff), lit(0L)))
          .withColumn("off2", coalesce(sum("b2").over(bOff), lit(0L)))
          .select("bucket", "off1", "off2")
        val inW = Window.partitionBy("bucket").orderBy("vm")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cums = perVm.join(broadcast(offsets), "bucket")
          .withColumn("cum1", col("off1") + sum("c1").over(inW))
          .withColumn("cum2", col("off2") + sum("c2").over(inW))
        val tot = perVm.agg(sum("c1").as("n1"), sum("c2").as("n2"))
        cums.join(broadcast(tot))
          .agg(max("n1").as("n1"), max("n2").as("n2"),
            max(abs(col("n2") * col("cum1") - col("n1") * col("cum2")))
              .as("d_scaled"))
          .select(col("n1"), col("n2"), col("d_scaled"),
            expr("round(CAST(d_scaled AS DOUBLE) / (n1 * n2), 6)").as("ks_d"),
            expr("""round(CAST(d_scaled AS DOUBLE) / (n1 * n2)
              * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6)""").as("lambda"))
      },
      Some("""|WITH v AS (
             |  SELECT CAST(round(value * 1000) AS BIGINT) AS vm,
             |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
             |  FROM events WHERE event_type IN ('click', 'view')
             |), pv AS (
             |  SELECT vm, CAST(sum(is1) AS BIGINT) AS c1,
             |    CAST(sum(1 - is1) AS BIGINT) AS c2
             |  FROM v GROUP BY vm
             |), cums AS (
             |  SELECT vm,
             |    sum(c1) OVER (ORDER BY vm) AS cum1,
             |    sum(c2) OVER (ORDER BY vm) AS cum2
             |  FROM pv
             |), tot AS (
             |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
             |  FROM pv
             |), d AS (
             |  SELECT n1, n2,
             |    CAST(max(abs(n2 * cum1 - n1 * cum2)) AS BIGINT) AS d_scaled
             |  FROM cums CROSS JOIN tot GROUP BY n1, n2
             |)
             |SELECT n1, n2, d_scaled,
             |  round(CAST(d_scaled AS DOUBLE) / (n1 * n2), 6) AS ks_d,
             |  round(CAST(d_scaled AS DOUBLE) / (n1 * n2)
             |    * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6) AS lambda
             |FROM d""".stripMargin)),

    QueryDef("q224_rrf_fusion",
      "reciprocal-rank fusion of BM25 and term-density retrieval rankings (top-50 lists, k=60)",
      // the hybrid-retrieval combiner: two independent rankers over the same
      // corpus — q114's BM25 (floor-1e6 integer grid) and a term-density
      // score floor(1e6 * matched_terms / dl) — each cut to a deterministic
      // top-50 (rounded score + doc_id is a total order), fused by
      // RRF_micro = sum round(1e6 / (60 + rank)). Ranks are windows over the
      // ALREADY-LIMITED 50-row lists (TakeOrdered cuts distributed; the
      // 50-row window is driver-bounded by construction), fusion is one
      // full-outer join of two tiny frames.
      (s, dir) => {
        val terms = Seq("join", "hash", "vector")
        val bm = graft.text.Curation.bm25Rank(table(s, dir, "documents"),
            queryTerms = terms, k1 = 1.2, b = 0.75, topK = 50)
          .pin // 50 rows; feeds the rank window
        val r1 = bm.select(col("doc_id"),
          row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
            .cast("long").as("rank_bm25"))
        val tfSum = terms.map(t => s"size(filter(ws, w -> w = '$t'))").mkString(" + ")
        val dens = table(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), w -> length(w) > 0)").as("ws"))
          .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
            expr(s"CAST($tfSum AS BIGINT)").as("tfsum"))
          .filter(col("tfsum") > 0)
          .withColumn("s2_e6", expr("CAST(floor(1000000.0D * tfsum / dl) AS BIGINT)"))
          .orderBy(col("s2_e6").desc, col("doc_id")).limit(50)
          .pin
        val r2 = dens.select(col("doc_id"),
          row_number().over(Window.orderBy(col("s2_e6").desc, col("doc_id")))
            .cast("long").as("rank_density"))
        r1.join(r2, Seq("doc_id"), "full_outer")
          .withColumn("rrf_micro",
            coalesce(expr("CAST(round(1000000.0D / (60 + rank_bm25), 0) AS BIGINT)"), lit(0L))
              + coalesce(expr("CAST(round(1000000.0D / (60 + rank_density), 0) AS BIGINT)"), lit(0L)))
          .orderBy(col("rrf_micro").desc, col("doc_id")).limit(20)
          .select("doc_id", "rank_bm25", "rank_density", "rrf_micro")
      },
      Some("""|WITH w AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
             |  FROM documents
             |), t AS (
             |  SELECT doc_id, len(ws) AS dl,
             |    len(list_filter(ws, x -> x = 'join')) AS tf0,
             |    len(list_filter(ws, x -> x = 'hash')) AS tf1,
             |    len(list_filter(ws, x -> x = 'vector')) AS tf2
             |  FROM w
             |), s AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n,
             |    CAST(sum(dl) AS DOUBLE) AS total_dl,
             |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
             |  FROM t
             |), sc AS (
             |  SELECT doc_id, dl,
             |    (CASE WHEN tf0 > 0 THEN CAST(floor(
             |       floor((ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))) * 1e6 + 0.5) / 1e6
             |       * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
             |       / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (total_dl / n))))
             |       * 1000000.0) AS BIGINT) ELSE 0 END
             |   + CASE WHEN tf1 > 0 THEN CAST(floor(
             |       floor((ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))) * 1e6 + 0.5) / 1e6
             |       * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
             |       / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (total_dl / n))))
             |       * 1000000.0) AS BIGINT) ELSE 0 END
             |   + CASE WHEN tf2 > 0 THEN CAST(floor(
             |       floor((ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))) * 1e6 + 0.5) / 1e6
             |       * (CAST(tf2 AS DOUBLE) * (1.2 + 1.0))
             |       / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (total_dl / n))))
             |       * 1000000.0) AS BIGINT) ELSE 0 END) AS s_e6
             |  FROM t CROSS JOIN s
             |), r1 AS (
             |  SELECT doc_id, rank_bm25 FROM (
             |    SELECT doc_id,
             |      row_number() OVER (ORDER BY s_e6 DESC, doc_id) AS rank_bm25
             |    FROM sc WHERE s_e6 > 0
             |  ) WHERE rank_bm25 <= 50
             |), d2 AS (
             |  SELECT doc_id,
             |    CAST(floor(1000000.0 * (tf0 + tf1 + tf2) / dl) AS BIGINT) AS s2_e6
             |  FROM t WHERE tf0 + tf1 + tf2 > 0
             |), r2 AS (
             |  SELECT doc_id, rank_density FROM (
             |    SELECT doc_id,
             |      row_number() OVER (ORDER BY s2_e6 DESC, doc_id) AS rank_density
             |    FROM d2
             |  ) WHERE rank_density <= 50
             |), f AS (
             |  SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
             |    CAST(rank_bm25 AS BIGINT) AS rank_bm25,
             |    CAST(rank_density AS BIGINT) AS rank_density,
             |    coalesce(CAST(round(1000000.0 / (60 + rank_bm25), 0) AS BIGINT), 0)
             |      + coalesce(CAST(round(1000000.0 / (60 + rank_density), 0) AS BIGINT), 0)
             |      AS rrf_micro
             |  FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
             |)
             |SELECT doc_id, rank_bm25, rank_density, rrf_micro
             |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin)),

    QueryDef("q226_theil_sen",
      "Theil-Sen robust trend slope (median of pairwise slopes) on per-type daily sums",
      // q220's robust sibling: the slope estimate is the MEDIAN of all
      // C(n,2) pairwise slopes, computed IN-ROW over each type's sorted
      // 30-day array (bounded pairs, no pair shuffle). Slopes land on the
      // rounded micro grid so the median is an exact integer order
      // statistic; med2 = s[(m+1)/2] + s[m/2+1] (1-based) doubles the
      // median exactly for both parities.
      (s, dir) => {
        val daily = table(s, dir, "events")
          .select(col("event_type"),
            expr("ts div 86400000000000").as("day"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
          .groupBy("event_type", "day").agg(sum("vm").as("sd"))
        daily.groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("day"), col("sd")))).as("pts"))
          .withColumn("slopes", expr("""array_sort(flatten(
            transform(sequence(0, size(pts) - 2), i ->
              transform(sequence(i + 1, size(pts) - 1), j ->
                CAST(round(1000000.0D * (pts[j].sd - pts[i].sd)
                  / (pts[j].day - pts[i].day), 0) AS BIGINT)))))"""))
          .select(col("event_type"),
            expr("CAST(size(slopes) AS BIGINT)").as("n_pairs"),
            expr("""element_at(slopes, CAST((size(slopes) + 1) div 2 AS INT))
              + element_at(slopes, CAST(size(slopes) div 2 + 1 AS INT))""")
              .as("med2_micro"))
          .withColumn("slope", expr("round(med2_micro / 2000000.0D, 6)"))
          .orderBy("event_type")
      },
      Some("""|WITH daily AS (
             |  SELECT event_type,
             |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    sum(CAST(round(value * 1000) AS BIGINT)) AS sd
             |  FROM events GROUP BY 1, 2
             |), sl AS (
             |  SELECT a.event_type,
             |    CAST(round(1000000.0 * (b.sd - a.sd) / (b.day - a.day), 0)
             |      AS BIGINT) AS sm
             |  FROM daily a JOIN daily b
             |    ON a.event_type = b.event_type AND a.day < b.day
             |), r AS (
             |  SELECT event_type, sm,
             |    row_number() OVER (PARTITION BY event_type ORDER BY sm) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS m
             |  FROM sl
             |), med AS (
             |  SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
             |    CAST(sum(CASE WHEN rn = (m + 1) // 2 THEN sm ELSE 0 END)
             |       + sum(CASE WHEN rn = m // 2 + 1 THEN sm ELSE 0 END)
             |      AS BIGINT) AS med2_micro
             |  FROM r GROUP BY event_type
             |)
             |SELECT event_type, n_pairs, med2_micro,
             |  round(med2_micro / 2000000.0, 6) AS slope
             |FROM med ORDER BY event_type""".stripMargin)),

    QueryDef("q227_profile_distance",
      "pairwise L1 distance matrix between per-type hour-of-day activity profiles",
      // the profile-clustering readout: each type's 24-hour activity
      // histogram, cross-normalized EXACTLY — d(a,b) = sum_h |n_b*c_ah -
      // n_a*c_bh| on the integer grid (no double CDFs), so missing hours
      // zero-fill through a dense types x 24 grid built from a 5-row
      // distinct frame. |types|^2 x 24 rows total — every join is tiny;
      // d_norm = d / (n_a*n_b) is the only double.
      (s, dir) => {
        val byHour = table(s, dir, "events")
          .select(col("event_type"), expr("(ts div 3600000000000) % 24").as("h"))
          .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
          .pin // feeds the grid join and the totals
        val grid = byHour.select("event_type").distinct()
          .select(col("event_type"), explode(expr("sequence(0, 23)")).as("h"))
          .join(byHour, Seq("event_type", "h"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
        val tot = byHour.groupBy("event_type").agg(sum("c").as("n"))
        val a = grid.join(tot, "event_type")
          .select(col("event_type").as("type_a"), col("h"),
            col("c").as("ca"), col("n").as("na"))
        val b = grid.join(tot, "event_type")
          .select(col("event_type").as("type_b"), col("h"),
            col("c").as("cb"), col("n").as("nb"))
        a.join(b, "h").filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(max("na").as("n_a"), max("nb").as("n_b"),
            sum(abs(col("nb") * col("ca") - col("na") * col("cb")))
              .as("d_scaled"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("d_scaled"),
            expr("round(CAST(d_scaled AS DOUBLE) / (n_a * n_b), 6)").as("d_norm"))
          .orderBy("type_a", "type_b")
      },
      Some("""|WITH byh AS (
             |  SELECT event_type,
             |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS BIGINT) AS h,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2
             |), grid AS (
             |  SELECT t.event_type, g.h, coalesce(byh.c, 0) AS c
             |  FROM (SELECT DISTINCT event_type FROM byh) t
             |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) g
             |  LEFT JOIN byh ON byh.event_type = t.event_type AND byh.h = g.h
             |), tot AS (
             |  SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM byh GROUP BY 1
             |)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             |  max(ta.n) AS n_a, max(tb.n) AS n_b,
             |  CAST(sum(abs(tb.n * a.c - ta.n * b.c)) AS BIGINT) AS d_scaled,
             |  round(CAST(sum(abs(tb.n * a.c - ta.n * b.c)) AS DOUBLE)
             |    / (max(ta.n) * max(tb.n)), 6) AS d_norm
             |FROM grid a
             |JOIN grid b ON a.h = b.h AND a.event_type < b.event_type
             |JOIN tot ta ON ta.event_type = a.event_type
             |JOIN tot tb ON tb.event_type = b.event_type
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef("q228_information_gain",
      "information-gain feature screen for predicting purchase events",
      // the feature-selection pass: IG(feature) = H(Y) - H(Y|X) for three
      // candidate features — hour-of-day band, value digit-count (an exact
      // integer order-of-magnitude proxy: length of the decimal string),
      // and user bucket. Every entropy term sums ROUNDED micro-nat
      // contributions of exact counts (the q185/q217 idiom); each feature
      // is one small (values x 2) aggregate unioned into a 3-row report.
      (s, dir) => {
        val e = table(s, dir, "events")
          .select(when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            expr("(ts div 3600000000000) % 24 div 4").as("f_hour_band"),
            expr("length(CAST(CAST(round(value * 1000) AS BIGINT) AS STRING))")
              .cast("long").as("f_value_digits"),
            pmod(col("user_id"), lit(8)).as("f_user_bucket"))
          .pin // three feature aggregates + the class totals
        val tot = e.agg(count(lit(1)).as("nn"))
        val hy = e.groupBy("y").agg(count(lit(1)).as("ny"))
          .join(broadcast(tot))
          .agg(sum(expr("""CAST(floor((
            -CAST(ny AS DOUBLE) / nn * ln(CAST(ny AS DOUBLE) / nn) * 1e6) + 0.5)
            AS BIGINT)""")).as("h_y_micro"))
        def hcond(f: String) = {
          val vy = e.groupBy(col(f).as("v"), col("y")).agg(count(lit(1)).as("nvy"))
          val nv = vy.groupBy("v").agg(sum("nvy").as("nv"))
          vy.join(nv, "v").join(broadcast(tot))
            .agg(sum(expr("""CAST(floor((
              -CAST(nvy AS DOUBLE) / nn * ln(CAST(nvy AS DOUBLE) / nv) * 1e6) + 0.5)
              AS BIGINT)""")).as("h_cond_micro"))
            .select(lit(f).as("feature"), col("h_cond_micro"))
        }
        Seq("f_hour_band", "f_value_digits", "f_user_bucket")
          .map(hcond).reduce(_ union _)
          .join(broadcast(hy))
          .select(col("feature"), col("h_y_micro"), col("h_cond_micro"),
            (col("h_y_micro") - col("h_cond_micro")).as("ig_micro"))
          .orderBy("feature")
      },
      Some("""|WITH e AS (
             |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             |    (epoch_ns(ts) // 3600000000000) % 24 // 4 AS f_hour_band,
             |    CAST(len(CAST(CAST(round(value * 1000) AS BIGINT) AS VARCHAR))
             |      AS BIGINT) AS f_value_digits,
             |    user_id % 8 AS f_user_bucket
             |  FROM events
             |), tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM e),
             |hy AS (
             |  SELECT CAST(sum(CAST(floor((
             |    -CAST(ny AS DOUBLE) / nn * ln(CAST(ny AS DOUBLE) / nn) * 1e6) + 0.5)
             |    AS BIGINT)) AS BIGINT) AS h_y_micro
             |  FROM (SELECT y, count(*) AS ny FROM e GROUP BY y) CROSS JOIN tot
             |), feats AS (
             |  SELECT 'f_hour_band' AS feature, f_hour_band AS v, y FROM e
             |  UNION ALL
             |  SELECT 'f_value_digits', f_value_digits, y FROM e
             |  UNION ALL
             |  SELECT 'f_user_bucket', f_user_bucket, y FROM e
             |), vy AS (
             |  SELECT feature, v, y, count(*) AS nvy FROM feats GROUP BY 1, 2, 3
             |), nv AS (
             |  SELECT feature, v, CAST(sum(nvy) AS BIGINT) AS nv
             |  FROM vy GROUP BY 1, 2
             |), hc AS (
             |  SELECT vy.feature, CAST(sum(CAST(floor((
             |    -CAST(nvy AS DOUBLE) / nn * ln(CAST(nvy AS DOUBLE) / nv) * 1e6) + 0.5)
             |    AS BIGINT)) AS BIGINT) AS h_cond_micro
             |  FROM vy JOIN nv ON vy.feature = nv.feature AND vy.v = nv.v
             |  CROSS JOIN tot
             |  GROUP BY vy.feature
             |)
             |SELECT feature, h_y_micro, h_cond_micro,
             |  h_y_micro - h_cond_micro AS ig_micro
             |FROM hc CROSS JOIN hy ORDER BY feature""".stripMargin)),

    QueryDef("q229_user_kl_anomaly",
      "top-20 behavioral anomalies: per-user KL divergence from the global event-type mix",
      // the bot/outlier screen: KL(user || global) = sum_t (n_ut/n_u) *
      // ln((n_ut/n_u) / (n_t/N)), each (user, type) term ROUNDED to
      // micro-nats and summed as integers (the q185/q217 idiom) so the
      // per-user score is engine-exact. One (user, type) aggregate + a
      // broadcast of the 5-row global mix; top-20 cut on the
      // (kl_micro desc, user_id) total order.
      (s, dir) => {
        val ut = table(s, dir, "events")
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("nut"))
          .pin // feeds user totals, global mix, and the score
        val nu = ut.groupBy("user_id").agg(sum("nut").cast("long").as("nu"))
        val nt = ut.groupBy("event_type").agg(sum("nut").cast("long").as("nt"))
        val tot = ut.agg(sum("nut").cast("long").as("nn"))
        ut.join(nu, "user_id").join(broadcast(nt), "event_type")
          .join(broadcast(tot))
          .withColumn("contrib_micro", expr("""CAST(floor((
            CAST(nut AS DOUBLE) / nu
              * ln(CAST(nut AS DOUBLE) / nu * nn / nt) * 1e6) + 0.5) AS BIGINT)"""))
          .groupBy("user_id")
          .agg(max("nu").as("n_events"), sum("contrib_micro").as("kl_micro"))
          .orderBy(col("kl_micro").desc, col("user_id")).limit(20)
      },
      Some("""|WITH ut AS (
             |  SELECT user_id, event_type, count(*) AS nut
             |  FROM events GROUP BY 1, 2
             |), nu AS (
             |  SELECT user_id, CAST(sum(nut) AS BIGINT) AS nu FROM ut GROUP BY 1
             |), nt AS (
             |  SELECT event_type, CAST(sum(nut) AS BIGINT) AS nt FROM ut GROUP BY 1
             |), tot AS (SELECT CAST(sum(nut) AS BIGINT) AS nn FROM ut),
             |c AS (
             |  SELECT ut.user_id, nu.nu,
             |    CAST(floor((CAST(nut AS DOUBLE) / nu
             |      * ln(CAST(nut AS DOUBLE) / nu * nn / nt) * 1e6) + 0.5) AS BIGINT)
             |      AS contrib_micro
             |  FROM ut JOIN nu USING (user_id) JOIN nt USING (event_type)
             |  CROSS JOIN tot
             |)
             |SELECT user_id, max(nu) AS n_events,
             |  CAST(sum(contrib_micro) AS BIGINT) AS kl_micro
             |FROM c GROUP BY user_id
             |ORDER BY kl_micro DESC, user_id LIMIT 20""".stripMargin)),

    QueryDef("q230_qq_shift",
      "Q-Q decile shift profile between click and view value distributions",
      // q223's where-does-it-differ companion: exact nearest-rank deciles
      // (value at rank ceil(p*n/10), p = 1..9) per type through the
      // BUCKETED two-level global rank (q176's idiom keyed by type — no
      // single-partition window), paired into a 9-row shift profile on the
      // exact vm grid. The only doubles are the final per-decile ratios.
      (s, dir) => {
        val v = table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_type"), col("event_id"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
        val idx = Frames.denseIndexByKey(v, keyCols = Seq("event_type"),
          bucketCol = expr("vm div 100000"),
          orderCols = Seq(col("vm"), col("event_id")), as = "idx")
        val nByType = idx.groupBy("event_type").agg(count(lit(1)).as("n"))
        val picks = idx.join(broadcast(nByType), "event_type")
          .select(col("event_type"), col("vm"), col("idx"), col("n"),
            explode(expr("sequence(1, 9)")).as("p"))
          // nearest-rank: 1-based rank ceil(p*n/10) == 0-based idx + 1
          .filter(expr("idx + 1 = CAST(ceil(p * n / 10.0D) AS BIGINT)"))
        val c = picks.filter(col("event_type") === "click")
          .select(col("p"), col("vm").as("q_click"), col("n").as("n_click"))
        val w = picks.filter(col("event_type") === "view")
          .select(col("p"), col("vm").as("q_view"), col("n").as("n_view"))
        c.join(w, "p")
          .select(col("p").cast("long").as("p"), col("n_click"), col("n_view"),
            col("q_click"), col("q_view"),
            (col("q_view") - col("q_click")).as("shift_vm"))
          .orderBy("p")
      },
      Some("""|WITH v AS (
             |  SELECT event_type, event_id,
             |    CAST(round(value * 1000) AS BIGINT) AS vm
             |  FROM events WHERE event_type IN ('click', 'view')
             |), r AS (
             |  SELECT event_type, vm,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY vm, event_id) AS rk,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM v
             |), picks AS (
             |  SELECT event_type, p.p, vm, CAST(n AS BIGINT) AS n
             |  FROM r CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS p) p
             |  WHERE rk = CAST(ceil(p.p * n / 10.0) AS BIGINT)
             |)
             |SELECT c.p, c.n AS n_click, w.n AS n_view,
             |  c.vm AS q_click, w.vm AS q_view, w.vm - c.vm AS shift_vm
             |FROM picks c JOIN picks w
             |  ON c.p = w.p AND c.event_type = 'click' AND w.event_type = 'view'
             |ORDER BY c.p""".stripMargin)),

    QueryDef("q231_blocking_recall",
      "blocking-quality audit: sorted-neighborhood (w=3) recall vs the full block-quadratic match set",
      // the meta-analytics every blocked matcher owes its users: how many
      // true matches does the cheap candidate generator actually reach?
      // Ground truth = per-block quadratic pairs with lev(40-char prefixes)
      // <= 25 (q130's contract, threshold set where this corpus has a real
      // match set — 45 pairs at sf0.01, not just the exact-dup singleton); candidates = q148's rank-window pairs,
      // canonicalized to (min,max) id and scored with the SAME predicate.
      // recall = |SN ∩ full| / |full| — and n_common == n_sn certifies the
      // subset property (SN never invents cross-block pairs).
      (s, dir) => {
        // fanOutScan BEFORE the pin: the pin freezes the partition count,
        // and the block-quadratic levenshtein ground truth downstream was
        // profiled at 2.7 s in ONE task over the single-split bench scan
        // (the broadcast self-join streams the pinned side as-is)
        val docs = graft.operators.Parallelism.fanOutScan(
            table(s, dir, "documents")
              .select(col("doc_id"),
                concat_ws("|", col("lang"), col("source")).as("block"),
                substring(col("text"), 1, 40).as("t40"), col("n_chars")))
          .pin // feeds ground truth, SN ranks, and both scorers
        val l = docs.select(col("block"), col("doc_id").as("a"), col("t40").as("ta"))
        val r = docs.select(col("block"), col("doc_id").as("b"), col("t40").as("tb"))
        val full = l.join(r, Seq("block")).filter(col("a") < col("b"))
          .filter(levenshtein(col("ta"), col("tb")) <= 25)
          .select("a", "b")
          .pin // consumed by the count and the intersection
        val sn = graft.text.EntityResolution.sortedNeighborhoodPairs(
            docs, col("doc_id"), col("block"), col("n_chars"), window = 3)
          .select(least(col("id_a"), col("id_b")).as("a"),
            greatest(col("id_a"), col("id_b")).as("b"))
          .join(docs.select(col("doc_id").as("a"), col("t40").as("ta")), "a")
          .join(docs.select(col("doc_id").as("b"), col("t40").as("tb")), "b")
          .filter(levenshtein(col("ta"), col("tb")) <= 25)
          .select("a", "b")
          .pin
        val nFull = full.count()
        val nSn = sn.count()
        val nCommon = sn.join(full, Seq("a", "b"), "left_semi").count()
        import s.implicits._
        Seq((nFull, nSn, nCommon)).toDF("n_true_matches", "n_sn_matches", "n_common")
          .withColumn("recall", round(col("n_common").cast("double")
            / col("n_true_matches"), 6))
      },
      Some("""|WITH d AS (
             |  SELECT doc_id, lang || '|' || source AS block,
             |    substr(text, 1, 40) AS t40, n_chars
             |  FROM documents
             |), full_m AS (
             |  SELECT a.doc_id AS a, b.doc_id AS b
             |  FROM d a JOIN d b ON a.block = b.block AND a.doc_id < b.doc_id
             |  WHERE levenshtein(a.t40, b.t40) <= 25
             |), ranked AS (
             |  SELECT doc_id, block, t40,
             |    row_number() OVER (PARTITION BY block
             |      ORDER BY n_chars, doc_id) AS rnk
             |  FROM d
             |), sn AS (
             |  SELECT least(a.doc_id, b.doc_id) AS a,
             |    greatest(a.doc_id, b.doc_id) AS b
             |  FROM ranked a JOIN ranked b ON a.block = b.block
             |    AND b.rnk BETWEEN a.rnk + 1 AND a.rnk + 3
             |  WHERE levenshtein(a.t40, b.t40) <= 25
             |), c AS (
             |  SELECT count(*) AS n_common
             |  FROM sn WHERE EXISTS (
             |    SELECT 1 FROM full_m f WHERE f.a = sn.a AND f.b = sn.b)
             |)
             |SELECT (SELECT count(*) FROM full_m) AS n_true_matches,
             |  (SELECT count(*) FROM sn) AS n_sn_matches,
             |  n_common,
             |  round(CAST(n_common AS DOUBLE)
             |    / (SELECT count(*) FROM full_m), 6) AS recall
             |FROM c""".stripMargin)),

    QueryDef("q232_changepoint_split",
      "single change-point localization per type: binary-segmentation SSE split on daily sums",
      // CUSUM's (q168) localizing sibling: for every candidate split k the
      // two-segment cost J(k) = SSE_left + SSE_right comes from running
      // (count, sum, sum-of-squares) prefix sums — 30-row per-type windows,
      // all integer until the final IEEE-identical division chain. argmin
      // via min(struct(j_milli, split_day)): the milli-rounded cost plus
      // day tiebreak is a total order, so the chosen split is engine-exact.
      (s, dir) => {
        val daily = table(s, dir, "events")
          .select(col("event_type"),
            expr("ts div 86400000000000").as("day"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
          .groupBy("event_type", "day").agg(sum("vm").as("sd"))
        val wRun = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val pre = daily
          .withColumn("i", count(lit(1)).over(wRun))
          .withColumn("c1", sum("sd").over(wRun))
          .withColumn("c2", sum(col("sd") * col("sd")).over(wRun))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("t1", sum("sd").over(wAll))
          .withColumn("t2", sum(col("sd") * col("sd")).over(wAll))
          .filter(col("i") < col("n")) // split AFTER row i; both sides non-empty
          .withColumn("j_milli", expr("""CAST(round(
            ((c2 - CAST(c1 AS DOUBLE) * c1 / i)
             + ((t2 - c2) - CAST(t1 - c1 AS DOUBLE) * (t1 - c1) / (n - i)))
            * 1e3, 0) AS BIGINT)"""))
          .withColumn("j_null_milli", expr("""CAST(round(
            (t2 - CAST(t1 AS DOUBLE) * t1 / n) * 1e3, 0) AS BIGINT)"""))
        pre.groupBy("event_type")
          .agg(min(struct(col("j_milli"), col("day"), col("i"),
            col("j_null_milli"))).as("best"))
          .select(col("event_type"), col("best.day").as("split_day"),
            col("best.i").as("n_left"), col("best.j_milli"),
            (col("best.j_null_milli") - col("best.j_milli")).as("gain_milli"))
          .orderBy("event_type")
      },
      Some("""|WITH daily AS (
             |  SELECT event_type,
             |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    sum(CAST(round(value * 1000) AS BIGINT)) AS sd
             |  FROM events GROUP BY 1, 2
             |), pre AS (
             |  SELECT event_type, day,
             |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY day)
             |      AS BIGINT) AS i,
             |    CAST(sum(sd) OVER (PARTITION BY event_type ORDER BY day)
             |      AS BIGINT) AS c1,
             |    CAST(sum(sd * sd) OVER (PARTITION BY event_type ORDER BY day)
             |      AS BIGINT) AS c2,
             |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             |    CAST(sum(sd) OVER (PARTITION BY event_type) AS BIGINT) AS t1,
             |    CAST(sum(sd * sd) OVER (PARTITION BY event_type) AS BIGINT) AS t2
             |  FROM daily
             |), scored AS (
             |  SELECT event_type, day, i,
             |    CAST(round(
             |      ((c2 - CAST(c1 AS DOUBLE) * c1 / i)
             |       + ((t2 - c2) - CAST(t1 - c1 AS DOUBLE) * (t1 - c1) / (n - i)))
             |      * 1e3, 0) AS BIGINT) AS j_milli,
             |    CAST(round(
             |      (t2 - CAST(t1 AS DOUBLE) * t1 / n) * 1e3, 0) AS BIGINT)
             |      AS j_null_milli
             |  FROM pre WHERE i < n
             |), best AS (
             |  SELECT event_type, day, i, j_milli, j_null_milli,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY j_milli, day) AS rn
             |  FROM scored
             |)
             |SELECT event_type, day AS split_day, i AS n_left, j_milli,
             |  j_null_milli - j_milli AS gain_milli
             |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    QueryDef("q233_lead_lag_matrix",
      "lead-lag matrix: best cross-correlation lag (-5..+5 min) between type pairs on the dense grid",
      // q222's pairwise extension — which activity stream leads which: each
      // type's per-minute series zero-filled and mean-centered on the exact
      // N*x - S_type integer grid, cross products summed per (pair, lag)
      // through ONE minute-keyed join (fan-out bounded at types^2 x lags per
      // minute), normalized by the broadcast per-type denominators. Best
      // lag = max(struct(r, -|lag|, -lag)) — an engine-exact total order;
      // positive best_lag means type_b trails type_a.
      (s, dir) => {
        val minuteNanos = 60000000000L
        val counts = table(s, dir, "events")
          .select(col("event_type"), expr(s"ts div $minuteNanos").as("t"))
          .groupBy("event_type", "t").agg(count(lit(1)).as("x"))
          .pin // feeds span, per-type grids, and totals
        val span = counts.agg(expr("min(t) div 1440").as("d0"),
          expr("max(t) div 1440").as("d1"))
        val grid = counts.select("event_type").distinct()
          .join(span.select(explode(expr("sequence(d0, d1)")).as("day"))
            .select(explode(expr("sequence(0, 1439)")).as("m"), col("day"))
            .select((col("day") * 1440L + col("m")).as("t")))
          .join(counts, Seq("event_type", "t"), "left")
          .withColumn("x", coalesce(col("x"), lit(0L)))
        val tot = grid.groupBy("event_type")
          .agg(count(lit(1)).as("nn"), sum("x").as("ss"))
        val y = grid.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("t"),
            (col("nn") * col("x") - col("ss")).as("y"))
          .pin // both sides of the lag join + denominators
        val dens = y.groupBy("event_type")
          .agg(sum(col("y") * col("y")).as("den"))
        val left = y.select(col("event_type").as("type_a"),
            explode(expr("sequence(-5, 5)")).as("lag"),
            col("t").as("t0"), col("y").as("ya"))
          .select(col("type_a"), col("lag").cast("long").as("lag"),
            (col("t0") + col("lag")).as("t"), col("ya"))
        val prods = left.join(
            y.select(col("event_type").as("type_b"), col("t"), col("y").as("yb")),
            "t")
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b", "lag")
          .agg(sum(col("ya") * col("yb")).as("num"))
        val scored = prods
          .join(broadcast(dens.select(col("event_type").as("type_a"),
            col("den").as("da"))), "type_a")
          .join(broadcast(dens.select(col("event_type").as("type_b"),
            col("den").as("db"))), "type_b")
          .withColumn("r_micro", expr("""CAST(round(
            num / sqrt(CAST(da AS DOUBLE) * db) * 1e6, 0) AS BIGINT)"""))
        scored.groupBy("type_a", "type_b")
          .agg(max(struct(col("r_micro"), (-abs(col("lag"))).as("nal"),
            (-col("lag")).as("nl"), col("lag").as("lag_v"))).as("best"),
            max(when(col("lag") === 0L, col("r_micro"))).as("r0_micro"))
          .select(col("type_a"), col("type_b"),
            col("best.lag_v").as("best_lag"),
            col("best.r_micro").as("r_best_micro"), col("r0_micro"))
          .orderBy("type_a", "type_b")
      },
      Some("""|WITH c AS MATERIALIZED (
             |  SELECT event_type, epoch_ns(ts) // 60000000000 AS t,
             |    count(*) AS x
             |  FROM events GROUP BY 1, 2
             |), span AS MATERIALIZED (
             |  SELECT min(t) // 1440 AS d0, max(t) // 1440 AS d1 FROM c
             |), grid AS MATERIALIZED (
             |  SELECT ty.event_type, CAST(day * 1440 + m AS BIGINT) AS t,
             |    coalesce(c.x, 0) AS x
             |  FROM (SELECT DISTINCT event_type FROM c) ty
             |  CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS day FROM span)
             |  CROSS JOIN (SELECT unnest(generate_series(0, 1439)) AS m)
             |  LEFT JOIN c ON c.event_type = ty.event_type
             |    AND c.t = CAST(day * 1440 + m AS BIGINT)
             |), tot AS MATERIALIZED (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS nn,
             |    CAST(sum(x) AS BIGINT) AS ss
             |  FROM grid GROUP BY 1
             |), y AS MATERIALIZED (
             |  SELECT grid.event_type, t, nn * x - ss AS y
             |  FROM grid JOIN tot USING (event_type)
             |), dens AS MATERIALIZED (
             |  SELECT event_type, CAST(sum(y * y) AS BIGINT) AS den
             |  FROM y GROUP BY 1
             |), prods AS MATERIALIZED (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    CAST(k.k AS BIGINT) AS lag, CAST(sum(a.y * b.y) AS BIGINT) AS num
             |  FROM (SELECT unnest(generate_series(-5, 5)) AS k) k
             |  JOIN y a ON true
             |  JOIN y b ON b.t = a.t + k.k AND a.event_type < b.event_type
             |  GROUP BY 1, 2, 3
             |), scored AS (
             |  SELECT type_a, type_b, lag,
             |    CAST(round(num / sqrt(CAST(da.den AS DOUBLE) * db.den) * 1e6, 0)
             |      AS BIGINT) AS r_micro
             |  FROM prods
             |  JOIN dens da ON da.event_type = type_a
             |  JOIN dens db ON db.event_type = type_b
             |), best AS (
             |  SELECT type_a, type_b, lag, r_micro,
             |    row_number() OVER (PARTITION BY type_a, type_b
             |      ORDER BY r_micro DESC, abs(lag), lag) AS rn
             |  FROM scored
             |), r0 AS (
             |  SELECT type_a, type_b, r_micro AS r0_micro
             |  FROM scored WHERE lag = 0
             |)
             |SELECT b.type_a, b.type_b, b.lag AS best_lag,
             |  b.r_micro AS r_best_micro, r0.r0_micro
             |FROM best b JOIN r0 ON b.type_a = r0.type_a AND b.type_b = r0.type_b
             |WHERE b.rn = 1 ORDER BY b.type_a, b.type_b""".stripMargin)),

    QueryDef("q234_ols_closed_form",
      "closed-form two-feature OLS (value ~ day + hour) via Cramer's rule on exact sums",
      // distributed regression without an iteration in sight: ONE narrow
      // aggregation collects the 10 exact integer moments (n, feature sums,
      // Gramian entries, response cross-products), the driver-free readout
      // solves the 3x3 normal equations by Cramer's rule. Sums stay long
      // (features centered to a 0..29/0..23 grid keeps them small); the
      // determinants cast each sum to double BEFORE multiplying — the same
      // IEEE chain in both engines, so round(6) is stable. R^2 comes from
      // the same moments (SSE = Syy - b·[Sy, Syd, Syh]).
      (s, dir) => {
        val base = table(s, dir, "events")
          .select(expr("CAST(round(value * 1000) AS BIGINT)").as("y"),
            expr("ts div 86400000000000").as("day"),
            expr("(ts div 3600000000000) % 24").as("h"))
        val d0 = base.agg(min("day").as("d0"))
        val m = base.join(broadcast(d0))
          .select(col("y"), (col("day") - col("d0")).as("d"), col("h"))
          .agg(count(lit(1)).as("n"), sum("d").as("sd"), sum("h").as("sh"),
            sum(col("d") * col("d")).as("sdd"),
            sum(col("d") * col("h")).as("sdh"),
            sum(col("h") * col("h")).as("shh"),
            sum("y").as("sy"), sum(col("y") * col("d")).as("syd"),
            sum(col("y") * col("h")).as("syh"),
            sum(col("y") * col("y")).as("syy"))
        m.select(col("n"),
            expr("""CAST(n AS DOUBLE) * (CAST(sdd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sdh)
              - CAST(sd AS DOUBLE) * (CAST(sd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sh)
              + CAST(sh AS DOUBLE) * (CAST(sd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * sh)""")
              .as("det"),
            expr("""CAST(sy AS DOUBLE) * (CAST(sdd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sdh)
              - CAST(sd AS DOUBLE) * (CAST(syd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * syh)
              + CAST(sh AS DOUBLE) * (CAST(syd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * syh)""")
              .as("det0"),
            expr("""CAST(n AS DOUBLE) * (CAST(syd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * syh)
              - CAST(sy AS DOUBLE) * (CAST(sd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sh)
              + CAST(sh AS DOUBLE) * (CAST(sd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sh)""")
              .as("det1"),
            expr("""CAST(n AS DOUBLE) * (CAST(sdd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sdh)
              - CAST(sd AS DOUBLE) * (CAST(sd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sh)
              + CAST(sy AS DOUBLE) * (CAST(sd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * sh)""")
              .as("det2"),
            col("sy"), col("syd"), col("syh"), col("syy"))
          .select(col("n"),
            expr("round(det0 / det, 6)").as("beta0"),
            expr("round(det1 / det, 6)").as("beta_day"),
            expr("round(det2 / det, 6)").as("beta_hour"),
            expr("""round(1.0D - (syy - det0 / det * sy - det1 / det * syd
                - det2 / det * syh)
              / (syy - CAST(sy AS DOUBLE) * sy / n), 6)""").as("r2"))
      },
      Some("""|WITH base AS (
             |  SELECT CAST(round(value * 1000) AS BIGINT) AS y,
             |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS BIGINT) AS h
             |  FROM events
             |), c AS (
             |  SELECT y, day - (SELECT min(day) FROM base) AS d, h FROM base
             |), m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(d) AS BIGINT) AS sd, CAST(sum(h) AS BIGINT) AS sh,
             |    CAST(sum(d * d) AS BIGINT) AS sdd,
             |    CAST(sum(d * h) AS BIGINT) AS sdh,
             |    CAST(sum(h * h) AS BIGINT) AS shh,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(y * d) AS BIGINT) AS syd,
             |    CAST(sum(y * h) AS BIGINT) AS syh,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM c
             |), dets AS (
             |  SELECT n, sy, syd, syh, syy,
             |    CAST(n AS DOUBLE) * (CAST(sdd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sdh)
             |      - CAST(sd AS DOUBLE) * (CAST(sd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sh)
             |      + CAST(sh AS DOUBLE) * (CAST(sd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * sh)
             |      AS det,
             |    CAST(sy AS DOUBLE) * (CAST(sdd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sdh)
             |      - CAST(sd AS DOUBLE) * (CAST(syd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * syh)
             |      + CAST(sh AS DOUBLE) * (CAST(syd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * syh)
             |      AS det0,
             |    CAST(n AS DOUBLE) * (CAST(syd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * syh)
             |      - CAST(sy AS DOUBLE) * (CAST(sd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sh)
             |      + CAST(sh AS DOUBLE) * (CAST(sd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sh)
             |      AS det1,
             |    CAST(n AS DOUBLE) * (CAST(sdd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sdh)
             |      - CAST(sd AS DOUBLE) * (CAST(sd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sh)
             |      + CAST(sy AS DOUBLE) * (CAST(sd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * sh)
             |      AS det2
             |  FROM m
             |)
             |SELECT n, round(det0 / det, 6) AS beta0,
             |  round(det1 / det, 6) AS beta_day,
             |  round(det2 / det, 6) AS beta_hour,
             |  round(1.0 - (syy - det0 / det * sy - det1 / det * syd
             |      - det2 / det * syh)
             |    / (syy - CAST(sy AS DOUBLE) * sy / n), 6) AS r2
             |FROM dets""".stripMargin)),

    QueryDef("q235_grid_density_clusters",
      "grid-density clustering of user coordinates (DBSCAN-lite, 6-round min-label propagation)",
      // q216's clustering sibling: dense 1-degree cells (>= 2 users) become
      // nodes, 8-neighborhood adjacency becomes edges, components get
      // min-cell labels through 6 bounded propagation rounds
      // (Spatial.gridDensityClusters — the q167/q218 bounded-rounds
      // contract, replayed exactly by the unrolled oracle). The point set
      // only ever passes ONE count aggregate; the loop runs on cells.
      (s, dir) => {
        val pts = table(s, dir, "events").select(col("user_id")).distinct()
          .select(col("user_id").as("id"),
            (conv(substring(md5(concat(lit("geo:"), col("user_id").cast("string"),
              lit(":x"))), 1, 15), 16, 10).cast("long") % 10000000L).as("x"),
            (conv(substring(md5(concat(lit("geo:"), col("user_id").cast("string"),
              lit(":y"))), 1, 15), 16, 10).cast("long") % 10000000L).as("y"))
        graft.operators.Spatial.gridDensityClusters(pts, cellSize = 1000000L,
            minPts = 2L, rounds = 6)
          .orderBy("cx", "cy")
      },
      Some(gridClusterOracle(rounds = 6))),

    QueryDef("q236_kmeans_grid",
      "bounded Lloyd k-means (k=4, 3 iterations) on the integer user map with WCSS readout",
      // the workhorse clustering loop, Spark-shaped: assignment is a pure
      // codegen'd expression over BROADCAST centroid literals (argmin via
      // array_min of (dist2, k) structs — no point-to-centroid join, no
      // shuffle beyond the k-row update aggregate), centroid updates are
      // exact floor divisions, so the unrolled oracle replays all 3 rounds
      // bit-for-bit (Spatial.lloydIterations). Seeds at the quadrant
      // centers; empty clusters keep their centroid on both sides.
      (s, dir) => {
        val pts = table(s, dir, "events").select(col("user_id")).distinct()
          .select(col("user_id").as("id"),
            (conv(substring(md5(concat(lit("geo:"), col("user_id").cast("string"),
              lit(":x"))), 1, 15), 16, 10).cast("long") % 10000000L).as("x"),
            (conv(substring(md5(concat(lit("geo:"), col("user_id").cast("string"),
              lit(":y"))), 1, 15), 16, 10).cast("long") % 10000000L).as("y"))
        graft.operators.Spatial.lloydIterations(pts, KMeansSeeds, iters = 3)
          .orderBy("k")
      },
      Some(kMeansOracle(KMeansSeeds, iters = 3))),

    QueryDef("q237_containment_join",
      "asymmetric containment join (4-gram shingle set A mostly inside B) via rare-shingle prefix filtering",
      // subset-dedup's query shape over 4-word shingle sets (unigram sets
      // are degenerate on this tight-vocabulary corpus — 144k pairs at 0.8):
      // cont(A->B) = |A∩B| / |A| >= 0.8. If B holds >= 80% of A, then among
      // A's floor(0.2|A|)+1 RAREST shingles (global-df order) one is in B —
      // so only that prefix hits
      // the inverted index and the candidate join is LOSSLESS at the
      // threshold (q100's prefix contract, asymmetric flavor). Verification
      // intersects the two word arrays in-row; the oracle is the NAIVE
      // every-shared-word pair join, which the pruned plan must reproduce.
      (s, dir) => {
        val words = table(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), w -> length(w) > 0)").as("w0"))
          .filter(size(col("w0")) >= 4) // shorter docs have no 4-gram set
          .select(col("doc_id"), expr("""array_distinct(
            transform(sequence(1, size(w0) - 3), i ->
              concat(element_at(w0, i), ' ', element_at(w0, i + 1), ' ',
                element_at(w0, i + 2), ' ', element_at(w0, i + 3))))""").as("ws"))
          .pin // feeds df counts, the index, and verification
        val df = words.select(col("doc_id"), explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("dfc"))
        // per-doc words sorted by (df, word): rarest first — one word-keyed
        // join attaches df, one in-row sort rebuilds the array
        val sorted = words.select(col("doc_id"), explode(col("ws")).as("w"))
          .join(df, "w")
          .groupBy("doc_id")
          .agg(expr("transform(array_sort(collect_list(struct(dfc, w))), p -> p.w)")
            .as("ws_sorted"))
          .withColumn("sz", size(col("ws_sorted")).cast("long"))
          .pin
        val prefix = sorted.select(col("doc_id").as("doc_a"),
          col("sz").as("size_a"), col("ws_sorted").as("wa"),
          explode(expr("slice(ws_sorted, 1, CAST(CAST(sz AS DOUBLE) * 0.2 AS INT) + 1)"))
            .as("w"))
        val index = sorted.select(col("doc_id").as("doc_b"),
          col("ws_sorted").as("wb"), explode(col("ws_sorted")).as("w"))
        prefix.join(index, "w")
          .filter(col("doc_a") =!= col("doc_b"))
          .select("doc_a", "doc_b", "size_a", "wa", "wb").distinct()
          .withColumn("inter", expr("CAST(size(array_intersect(wa, wb)) AS BIGINT)"))
          .filter(expr("inter * 5 >= size_a * 4")) // inter/size_a >= 0.8 exactly
          .select(col("doc_a"), col("doc_b"), col("size_a"), col("inter"),
            expr("round(CAST(inter AS DOUBLE) / size_a, 6)").as("containment"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""|WITH w0 AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS w0
             |  FROM documents
             |), w AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_distinct(list_transform(generate_series(1, len(w0) - 3),
             |      i -> w0[i] || ' ' || w0[i+1] || ' ' || w0[i+2] || ' '
             |        || w0[i+3])) AS ws
             |  FROM w0 WHERE len(w0) >= 4
             |), x AS MATERIALIZED (
             |  SELECT doc_id, unnest(ws) AS w FROM w
             |), pairs AS MATERIALIZED (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM x a JOIN x b ON a.w = b.w AND a.doc_id <> b.doc_id
             |), scored AS (
             |  SELECT p.doc_a, p.doc_b,
             |    CAST(len(wa.ws) AS BIGINT) AS size_a,
             |    CAST(len(list_intersect(wa.ws, wb.ws)) AS BIGINT) AS inter
             |  FROM pairs p
             |  JOIN w wa ON wa.doc_id = p.doc_a
             |  JOIN w wb ON wb.doc_id = p.doc_b
             |)
             |SELECT doc_a, doc_b, size_a, inter,
             |  round(CAST(inter AS DOUBLE) / size_a, 6) AS containment
             |FROM scored WHERE inter * 5 >= size_a * 4
             |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("q384_containment_join_sparse",
      "containment join, sparse architecture: ids-only inverted index, " +
        "shingle arrays attach to DISTINCT candidates (q237's oracle verbatim)",
      // q237's scale path, the q366 lesson applied to containment: the
      // dense form explodes the FULL 4-gram array per index entry, so the
      // word-keyed join moves Σ|ws|² bytes per doc on the index side (and
      // 0.2·Σ|ws|² on the prefix side) — quadratic in shingle-set size,
      // exactly the payload-through-the-shuffle shape the sparse LSH
      // rewrite eliminated (569→152 MB/task at 20 M docs). Here both join
      // legs carry (doc_id, w) ONLY; the arrays attach ONCE per DISTINCT
      // candidate pair by two doc_id-keyed joins against the bounded
      // sorted frame. Result-identical by construction — the same
      // candidate set survives the lossless rare-prefix contract — so
      // q237's naive-pair oracle certifies this plan unchanged.
      (s, dir) => {
        import graft.operators.Checkpoints.Pinnable
        val words = table(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), w -> length(w) > 0)").as("w0"))
          .filter(size(col("w0")) >= 4)
          .select(col("doc_id"), expr("""array_distinct(
            transform(sequence(1, size(w0) - 3), i ->
              concat(element_at(w0, i), ' ', element_at(w0, i + 1), ' ',
                element_at(w0, i + 2), ' ', element_at(w0, i + 3))))""").as("ws"))
          .pin
        val df = words.select(col("doc_id"), explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("dfc"))
        val sorted = words.select(col("doc_id"), explode(col("ws")).as("w"))
          .join(df, "w")
          .groupBy("doc_id")
          .agg(expr("transform(array_sort(collect_list(struct(dfc, w))), p -> p.w)")
            .as("ws_sorted"))
          .withColumn("sz", size(col("ws_sorted")).cast("long"))
          .pin
        // ids-only legs: no array rides the word-keyed shuffle
        val prefix = sorted.select(col("doc_id").as("doc_a"),
          explode(expr("slice(ws_sorted, 1, CAST(CAST(sz AS DOUBLE) * 0.2 AS INT) + 1)"))
            .as("w"))
        val index = sorted.select(col("doc_id").as("doc_b"),
          explode(col("ws_sorted")).as("w"))
        val cand = prefix.join(index, "w")
          .filter(col("doc_a") =!= col("doc_b"))
          .select("doc_a", "doc_b").distinct()
        cand
          .join(sorted.select(col("doc_id").as("doc_a"),
            col("ws_sorted").as("wa"), col("sz").as("size_a")), "doc_a")
          .join(sorted.select(col("doc_id").as("doc_b"),
            col("ws_sorted").as("wb")), "doc_b")
          .withColumn("inter", expr("CAST(size(array_intersect(wa, wb)) AS BIGINT)"))
          .filter(expr("inter * 5 >= size_a * 4"))
          .select(col("doc_a"), col("doc_b"), col("size_a"), col("inter"),
            expr("round(CAST(inter AS DOUBLE) / size_a, 6)").as("containment"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""|WITH w0 AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS w0
             |  FROM documents
             |), w AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_distinct(list_transform(generate_series(1, len(w0) - 3),
             |      i -> w0[i] || ' ' || w0[i+1] || ' ' || w0[i+2] || ' '
             |        || w0[i+3])) AS ws
             |  FROM w0 WHERE len(w0) >= 4
             |), x AS MATERIALIZED (
             |  SELECT doc_id, unnest(ws) AS w FROM w
             |), pairs AS MATERIALIZED (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM x a JOIN x b ON a.w = b.w AND a.doc_id <> b.doc_id
             |), scored AS (
             |  SELECT p.doc_a, p.doc_b,
             |    CAST(len(wa.ws) AS BIGINT) AS size_a,
             |    CAST(len(list_intersect(wa.ws, wb.ws)) AS BIGINT) AS inter
             |  FROM pairs p
             |  JOIN w wa ON wa.doc_id = p.doc_a
             |  JOIN w wb ON wb.doc_id = p.doc_b
             |)
             |SELECT doc_a, doc_b, size_a, inter,
             |  round(CAST(inter AS DOUBLE) / size_a, 6) AS containment
             |FROM scored WHERE inter * 5 >= size_a * 4
             |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("q385_arith_canary",
      "cross-engine arithmetic canary: the floor-grid readout chains " +
        "(division, sqrt, ln, products, truncation) pinned per row on " +
        "real doubles",
      // the r17 grid contract as a driver-certified surface: every parity
      // conversion this round rests on a handful of engine-arithmetic
      // facts — +,*,/ and sqrt are correctly rounded on identical inputs
      // (measured sqrt: 0/67994 JVM-vs-DuckDB bitwise mismatches), floor
      // has no half-way case, and transcendental grids absorb the libm
      // ulp-mismatch (ln: 3.4e-4/value raw, ~3e-14 after the e6 grid).
      // This query evaluates exactly those chains per row over a
      // deterministic lineitem slice and emits ONLY floor-grid values, so
      // any engine/build drift in the arithmetic contract (a different
      // libm, a vectorized reassociation, a rounding-mode change) reds
      // THIS row-diffable query instead of scattering across the
      // registry — and Verify's _colhash.json localizes the failing chain
      // to a column. Plan shape: one pushed-filter scan, one narrow
      // projection, no shuffle before the bounded sort.
      (s, dir) => table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 97 === 0)
        .select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("k"),
          (floor(col("l_extendedprice") / (col("l_discount") + lit(1.25))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("g4_div"),
          (floor(sqrt(col("l_extendedprice")) * lit(1e6) + lit(0.5))
            / lit(1e6)).as("g6_sqrt"),
          (floor(log(col("l_extendedprice")) * lit(1e6) + lit(0.5))
            / lit(1e6)).as("g6_ln"),
          floor(col("l_extendedprice") * lit(1e2) * col("l_quantity")
            + lit(0.5)).as("cents_q"),
          floor(col("l_extendedprice") * lit(1e3)).as("xe3"))
        .orderBy("k"),
      Some("""SELECT l_orderkey * 10 + l_linenumber AS k,
             |  floor(l_extendedprice / (l_discount + 1.25) * 1e4 + 0.5)
             |    / 1e4 AS g4_div,
             |  floor(sqrt(l_extendedprice) * 1e6 + 0.5) / 1e6 AS g6_sqrt,
             |  floor(ln(l_extendedprice) * 1e6 + 0.5) / 1e6 AS g6_ln,
             |  CAST(floor(l_extendedprice * 1e2 * l_quantity + 0.5) AS BIGINT)
             |    AS cents_q,
             |  CAST(floor(l_extendedprice * 1e3) AS BIGINT) AS xe3
             |FROM lineitem WHERE l_orderkey % 97 = 0
             |ORDER BY k""".stripMargin)),

    QueryDef("q238_aqp_sample_estimate",
      "approximate query processing audit: Horvitz-Thompson estimates from a deterministic 1-in-4 sample vs truth",
      // the sampled-dashboard contract, made auditable: a fixed md5 grid
      // ('aqp:' salt) admits exactly the rows both engines agree on
      // (p = 1/4), per-type totals inverse-propensity scale by 4, and the
      // SAME query reports the exact truth and the ppm error — the report
      // a production AQP layer owes its users. One scan, two aggregates.
      (s, dir) => {
        val e = table(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
          .withColumn("insample",
            (conv(substring(md5(concat(lit("aqp:"), col("event_id").cast("string"))),
              1, 15), 16, 10).cast("long") % 4L) === 0L)
        e.groupBy("event_type")
          .agg(count(lit(1)).as("n_true"), sum("vm").as("sum_true_vm"),
            (sum(when(col("insample"), 1L).otherwise(0L)) * 4L).as("n_hat"),
            (sum(when(col("insample"), col("vm")).otherwise(0L)) * 4L)
              .as("sum_hat_vm"))
          .select(col("event_type"), col("n_true"), col("n_hat"),
            col("sum_true_vm"), col("sum_hat_vm"),
            expr("CAST(round(1e6 * (n_hat - n_true) / n_true, 0) AS BIGINT)")
              .as("n_err_ppm"),
            expr("""CAST(round(1e6 * (sum_hat_vm - sum_true_vm)
              / sum_true_vm, 0) AS BIGINT)""").as("sum_err_ppm"))
          .orderBy("event_type")
      },
      Some("""|WITH e AS (
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
             |FROM agg ORDER BY event_type""".stripMargin)),

    QueryDef("q240_minhash_containment_audit",
      "sketch-quality audit: MinHash-estimated Jaccard/containment vs exact sets on q42's candidates",
      // closes the loop on the LSH tier: for every q42 candidate pair, the
      // 32-slot signature estimate sits next to the EXACT 2-gram shingle
      // overlap — J error in micro, and the containment both ways
      // (I/|A| with I = J(|A|+|B|)/(1+J) from the estimate vs exact
      // intersection). est_jaccard = k/32 is exactly representable in 5
      // decimals, so no rounding gymnastics; the exact sets use the same
      // split-on-space basis as the signatures. This is the report that
      // justifies trusting the sketch tier at 100 TB where exact sets
      // can't be materialized pairwise.
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val pairs = graft.text.TextOps.minhashCandidates(
          graft.text.TextOps.minhashSignatures(docs), threshold = 0.2)
        val sets = docs
          .select(col("doc_id"), split(col("text"), " ").as("w0"))
          .filter(size(col("w0")) >= 2)
          .select(col("doc_id"), expr("""array_distinct(
            transform(sequence(1, size(w0) - 1), i ->
              concat(element_at(w0, i), ' ', element_at(w0, i + 1))))""")
            .as("ws"))
          .pin // joined to both pair sides
        pairs
          .join(sets.select(col("doc_id").as("doc_a"), col("ws").as("wa"),
            size(col("ws")).cast("long").as("size_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ws").as("wb"),
            size(col("ws")).cast("long").as("size_b")), "doc_b")
          .withColumn("inter", expr("CAST(size(array_intersect(wa, wb)) AS BIGINT)"))
          .select(col("doc_a"), col("doc_b"), col("size_a"), col("size_b"),
            col("inter"), col("est_jaccard"),
            expr("round(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 6)")
              .as("j_exact"),
            expr("round(CAST(inter AS DOUBLE) / size_a, 6)").as("c_exact"),
            expr("""round(est_jaccard * (size_a + size_b) / (1.0D + est_jaccard)
              / size_a, 6)""").as("c_est"),
            expr("""CAST(round(1e6 * (est_jaccard
              - CAST(inter AS DOUBLE) / (size_a + size_b - inter)), 0) AS BIGINT)""")
              .as("j_err_micro"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${Llm.MinhashCtes},
              |est AS MATERIALIZED (
              |${Llm.MinhashPairsSelect}
              |), wx AS MATERIALIZED (
              |  SELECT doc_id, list_distinct(list_transform(
              |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) AS ws
              |  FROM words WHERE len(w) >= 2
              |), scored AS (
              |  SELECT e.doc_a, e.doc_b,
              |    CAST(len(a.ws) AS BIGINT) AS size_a,
              |    CAST(len(b.ws) AS BIGINT) AS size_b,
              |    CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
              |    e.est_jaccard
              |  FROM est e
              |  JOIN wx a ON a.doc_id = e.doc_a
              |  JOIN wx b ON b.doc_id = e.doc_b
              |)
              |SELECT doc_a, doc_b, size_a, size_b, inter, est_jaccard,
              |  round(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 6)
              |    AS j_exact,
              |  round(CAST(inter AS DOUBLE) / size_a, 6) AS c_exact,
              |  round(est_jaccard * (size_a + size_b) / (1.0 + est_jaccard)
              |    / size_a, 6) AS c_est,
              |  CAST(round(1e6 * (est_jaccard
              |    - CAST(inter AS DOUBLE) / (size_a + size_b - inter)), 0)
              |    AS BIGINT) AS j_err_micro
              |FROM scored ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("q241_exclusive_shingles",
      "per-source exclusive-content census: 4-gram shingles owned by exactly one source",
      // the corpus-provenance readout a curation pipeline owes its users:
      // how much of each source's content is UNIQUE to it? Per shingle, the
      // distinct owning sources collapse to (n_sources, min_source) in one
      // aggregate; exclusive = n_sources = 1. Per-source report: distinct
      // shingles used, exclusively-owned count, and the exclusivity ratio.
      // One shingle-keyed shuffle; nothing pairwise anywhere.
      (s, dir) => {
        val sh = table(s, dir, "documents")
          .select(col("source"),
            expr("filter(split(text, ' '), w -> length(w) > 0)").as("w0"))
          .filter(size(col("w0")) >= 4)
          .select(col("source"), explode(expr("""array_distinct(
            transform(sequence(1, size(w0) - 3), i ->
              concat(element_at(w0, i), ' ', element_at(w0, i + 1), ' ',
                element_at(w0, i + 2), ' ', element_at(w0, i + 3))))"""))
            .as("shingle"))
          .distinct() // (source, shingle) ownership set
          .pin // feeds per-shingle owners and per-source totals
        val owners = sh.groupBy("shingle")
          .agg(count(lit(1)).as("n_sources"), min("source").as("one_source"))
        val excl = owners.filter(col("n_sources") === 1)
          .groupBy(col("one_source").as("source"))
          .agg(count(lit(1)).as("n_exclusive"))
        sh.groupBy("source").agg(count(lit(1)).as("n_shingles"))
          .join(excl, Seq("source"), "left")
          .withColumn("n_exclusive", coalesce(col("n_exclusive"), lit(0L)))
          .withColumn("exclusivity",
            round(col("n_exclusive").cast("double") / col("n_shingles"), 6))
          .orderBy("source")
      },
      Some("""|WITH w0 AS (
             |  SELECT source,
             |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS w0
             |  FROM documents
             |), sh AS MATERIALIZED (
             |  SELECT DISTINCT source,
             |    unnest(list_distinct(list_transform(generate_series(1, len(w0) - 3),
             |      i -> w0[i] || ' ' || w0[i+1] || ' ' || w0[i+2] || ' '
             |        || w0[i+3]))) AS shingle
             |  FROM w0 WHERE len(w0) >= 4
             |), owners AS (
             |  SELECT shingle, count(*) AS n_sources, min(source) AS one_source
             |  FROM sh GROUP BY 1
             |), excl AS (
             |  SELECT one_source AS source, CAST(count(*) AS BIGINT) AS n_exclusive
             |  FROM owners WHERE n_sources = 1 GROUP BY 1
             |), tot AS (
             |  SELECT source, count(*) AS n_shingles FROM sh GROUP BY 1
             |)
             |SELECT tot.source, n_shingles,
             |  coalesce(n_exclusive, 0) AS n_exclusive,
             |  round(CAST(coalesce(n_exclusive, 0) AS DOUBLE) / n_shingles, 6)
             |    AS exclusivity
             |FROM tot LEFT JOIN excl ON excl.source = tot.source
             |ORDER BY tot.source""".stripMargin)),

    QueryDef("q242_cotemporal_lift",
      "co-temporal lift: event-type pairs observed in the same user-minute vs independence",
      // q124's sequential bigrams say what FOLLOWS what; this says what
      // happens TOGETHER: for unordered type pairs co-present in a
      // (user, minute) bucket, lift = P(a,b) / (P(a) P(b)) over bucket
      // presence counts — exact integers until one rounded ratio. In-bucket
      // pair generation is bounded by types^2, never by events; one
      // (user, minute) shuffle plus a broadcast of the 5-row marginals.
      (s, dir) => {
        val pres = table(s, dir, "events")
          .select(col("user_id"), expr("ts div 60000000000").as("minute"),
            col("event_type"))
          .distinct()
          .pin // feeds marginals, bucket count, and the pair join
        val nb = pres.select("user_id", "minute").distinct().count()
        val marg = pres.groupBy("event_type").agg(count(lit(1)).as("nt"))
        val l = pres.select(col("user_id"), col("minute"),
          col("event_type").as("type_a"))
        val r = pres.select(col("user_id"), col("minute"),
          col("event_type").as("type_b"))
        l.join(r, Seq("user_id", "minute"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
          .join(broadcast(marg.select(col("event_type").as("type_a"),
            col("nt").as("n_a"))), "type_a")
          .join(broadcast(marg.select(col("event_type").as("type_b"),
            col("nt").as("n_b"))), "type_b")
          .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
            col("n_b"),
            expr(s"""round(CAST(n_ab AS DOUBLE) * $nb
              / (CAST(n_a AS DOUBLE) * n_b), 6)""").as("lift"))
          .orderBy("type_a", "type_b")
      },
      Some("""|WITH pres AS MATERIALIZED (
             |  SELECT DISTINCT user_id, epoch_ns(ts) // 60000000000 AS minute,
             |    event_type
             |  FROM events
             |), nb AS (
             |  SELECT count(*) AS nb FROM (
             |    SELECT DISTINCT user_id, minute FROM pres)
             |), marg AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS nt
             |  FROM pres GROUP BY 1
             |), pairs AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    count(*) AS n_ab
             |  FROM pres a JOIN pres b
             |    ON a.user_id = b.user_id AND a.minute = b.minute
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2
             |)
             |SELECT type_a, type_b, n_ab, ma.nt AS n_a, mb.nt AS n_b,
             |  round(CAST(n_ab AS DOUBLE) * nb.nb
             |    / (CAST(ma.nt AS DOUBLE) * mb.nt), 6) AS lift
             |FROM pairs
             |JOIN marg ma ON ma.event_type = type_a
             |JOIN marg mb ON mb.event_type = type_b
             |CROSS JOIN nb
             |ORDER BY type_a, type_b""".stripMargin)),

    QueryDef("q243_dedup_savings",
      "dedup ROI report: bytes kept vs dropped per source under exact content dedup",
      // the number a storage bill actually shows: per source, total chars,
      // chars surviving exact dedup (min-id keeper per content hash — q40's
      // contract), rows dropped, and the savings ratio. One hash-keyed
      // window picks keepers; everything else is per-source sums.
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            md5(col("text")).as("h"))
        val w = Window.partitionBy("h").orderBy("doc_id")
        docs.withColumn("_rn", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("n_kept"),
            sum("n_chars").cast("long").as("chars_total"),
            sum(when(col("_rn") === 1, col("n_chars")).otherwise(0L))
              .cast("long").as("chars_kept"))
          .withColumn("savings",
            round(lit(1.0) - col("chars_kept").cast("double") / col("chars_total"), 6))
          .orderBy("source")
      },
      Some("""|WITH k AS (
             |  SELECT source, n_chars,
             |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM documents
             |)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
             |  CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             |    AS chars_kept,
             |  round(1.0 - CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END)
             |      AS DOUBLE) / sum(n_chars), 6) AS savings
             |FROM k GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef("q244_phase_amplitude_coupling",
      "phase-amplitude coupling (Tort modulation index): low-band phase bins high-band amplitude",
      // the canonical downstream ECoG analysis the reference's outputs feed:
      // phase of the LOWEST hg band (q35 chain) bins the amplitude of the
      // HIGHEST hg band (q32 chain) into 18 phase bins; MI = (ln K + sum
      // p ln p)/ln K over the bin distribution. Phase/amp pin to the
      // round(.,6) cross-engine grid FIRST, bins are floor arithmetic on
      // those identical doubles, amplitudes floor to milli integers, MI
      // sums ROUNDED micro-nat contributions. The wavelet frame is
      // checkpointed once and feeds both projections (the multi-consumer
      // rule); the join is per (channel, t_idx) — parallelism = channels.
      (s, dir) => {
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        val wt = DspOperators.waveletTransform(seg, "human", hgOnly = true)
          .pin // feeds amplitude, phase, and the band bounds
        val bands = wt.agg(min("band").as("lo"), max("band").as("hi")).head()
        val (lo, hi) = (bands.getInt(0), bands.getInt(1))
        val ph = Frames.toLong(DspOperators.phase(wt))
          .filter(col("band") === lo)
          .select(col("channel"), col("t_idx"), round(col("value"), 6).as("p"))
        val am = Frames.toLong(DspOperators.amplitude(wt))
          .filter(col("band") === hi)
          .select(col("channel"), col("t_idx"), round(col("value"), 6).as("a"))
        val g = ph.join(am, Seq("channel", "t_idx"))
          .withColumn("bin",
            expr("CAST(least(floor((p + pi()) * 9 / pi()), 17) AS INT)"))
          .withColumn("am_milli", expr("CAST(floor(a * 1000) AS BIGINT)"))
          .groupBy("channel", "bin")
          .agg(count(lit(1)).as("n"), sum("am_milli").as("s"))
          .pin // feeds totals and the contribution readout
        val t = g.groupBy("channel").agg(sum("s").cast("long").as("tot"))
        val c = g.join(t, "channel")
          .withColumn("contrib_micro", expr("""CASE WHEN s > 0
            THEN CAST(floor((CAST(s AS DOUBLE) / tot
              * ln(CAST(s AS DOUBLE) / tot) * 1e6) + 0.5) AS BIGINT)
            ELSE 0L END"""))
        val mi = c.groupBy("channel")
          .agg(expr("""CAST(floor(((ln(18.0D) + CAST(sum(contrib_micro) AS DOUBLE)
            / 1e6) / ln(18.0D) * 1e6) + 0.5) AS BIGINT)""").as("mi_ppm"))
        c.join(mi, "channel")
          .select(col("channel"), col("bin"), col("n"),
            col("s").as("amp_milli"), col("contrib_micro"), col("mi_ppm"))
          .orderBy("channel", "bin")
      },
      Some(SpectralOracles.q244())),

    QueryDef("q245_hg_burst_census",
      "high-gamma burst census: threshold crossings and run statistics on the summed envelope",
      // the event-detection analysis layered on q32: per (channel, t) the
      // envelope is the SUM of milli-floored band amplitudes (exact
      // integers), the burst threshold is 1.5x the channel mean in pure
      // floor arithmetic ((3*(S div N)) div 2), and bursts are maximal
      // above-threshold runs via the rownumber-difference island idiom
      // (q201/q118). Census: burst count, samples, longest run, mean run.
      (s, dir) => {
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        val env = Frames.toLong(
            DspOperators.waveletAmplitude(seg, "human", hgOnly = true))
          .select(col("channel"), col("t_idx"),
            expr("CAST(floor(round(value, 6) * 1000) AS BIGINT)").as("am"))
          .groupBy("channel", "t_idx").agg(sum("am").as("e"))
          .pin // feeds the threshold agg and the island scan
        val thr = env.groupBy("channel")
          .agg(expr("(3 * (sum(e) div count(1))) div 2").as("thr"))
        val wIsl = Window.partitionBy("channel").orderBy("t_idx")
        val runs = env.join(broadcast(thr), "channel")
          .filter(col("e") > col("thr"))
          .withColumn("grp", col("t_idx") - row_number().over(wIsl))
          .groupBy("channel", "grp").agg(count(lit(1)).as("runlen"))
        thr.join(runs, Seq("channel"), "left")
          .groupBy("channel", "thr")
          .agg(count(col("grp")).as("n_bursts"),
            coalesce(sum("runlen"), lit(0L)).as("burst_samples"),
            coalesce(max("runlen"), lit(0L)).as("max_run"),
            round(coalesce(sum("runlen").cast("double") / count(col("grp")),
              lit(0.0)), 6).as("mean_run"))
          .select(col("channel"), col("thr").as("thr_milli"), col("n_bursts"),
            col("burst_samples"), col("max_run"), col("mean_run"))
          .orderBy("channel")
      },
      Some(SpectralOracles.q245())),

    QueryDef("q246_erp_epoch_average",
      "event-related average: time-locked signal epochs (-5..+5 samples) around purchases",
      // THE downstream electrophysiology readout (epoching + trial
      // averaging), re-expressed relationally: triggers are purchase rows'
      // (channel, t_idx) in the channelized series (the eventsToLong rank
      // contract — bucketed two-level index, no whole-channel window),
      // epochs fan out 11 offsets per trigger, and ONE (channel, t_idx)
      // equi-join aligns them with the signal. Trial means are exact
      // integer sums over the milli grid divided once.
      (s, dir) => {
        val ranked = Frames.denseIndexByKey(
          table(s, dir, "events")
            .select(pmod(col("user_id"), lit(8)).cast("int").as("channel"),
              col("ts"), col("event_id"), col("event_type"),
              expr("CAST(round(value * 1000) AS BIGINT)").as("vm")),
          keyCols = Seq("channel"),
          bucketCol = expr("ts div 3600000000000"),
          orderCols = Seq(col("ts"), col("event_id")), as = "t_idx")
          .pin // feeds triggers and the signal side
        val triggers = ranked.filter(col("event_type") === "purchase")
          .select(col("channel"), explode(expr("sequence(-5, 5)")).as("off"),
            col("t_idx").as("t0"))
          .select(col("channel"), col("off"), (col("t0") + col("off")).as("t_idx"))
        val signal = ranked.select(col("channel"), col("t_idx"), col("vm"))
        triggers.join(signal, Seq("channel", "t_idx"))
          .groupBy("channel", "off")
          .agg(count(lit(1)).as("n_trials"), sum("vm").as("sum_vm"))
          .select(col("channel"), col("off").cast("long").as("off"),
            col("n_trials"), col("sum_vm"),
            round(col("sum_vm").cast("double") / col("n_trials") / 1000.0, 6)
              .as("erp_mean"))
          .orderBy("channel", "off")
      },
      Some("""|WITH ranked AS (
             |  SELECT CAST(user_id % 8 AS INT) AS channel, event_type,
             |    CAST(round(value * 1000) AS BIGINT) AS vm,
             |    CAST(row_number() OVER (PARTITION BY user_id % 8
             |      ORDER BY ts, event_id) - 1 AS BIGINT) AS t_idx
             |  FROM events
             |), trig AS (
             |  SELECT channel, CAST(o.off AS BIGINT) AS off, t_idx + o.off AS t_idx
             |  FROM ranked
             |  CROSS JOIN (SELECT unnest(generate_series(-5, 5)) AS off) o
             |  WHERE event_type = 'purchase'
             |)
             |SELECT t.channel, t.off, count(*) AS n_trials,
             |  CAST(sum(s.vm) AS BIGINT) AS sum_vm,
             |  round(CAST(sum(s.vm) AS DOUBLE) / count(*) / 1000.0, 6)
             |    AS erp_mean
             |FROM trig t JOIN ranked s
             |  ON s.channel = t.channel AND s.t_idx = t.t_idx
             |GROUP BY t.channel, t.off
             |ORDER BY t.channel, t.off""".stripMargin)),

    QueryDef("q247_spectral_edge",
      "spectral edge frequency: first band holding 95% of cumulative hg power per channel",
      // the anesthesia-monitoring classic on q32's chain: per-(channel,
      // band) power = integer sum of floor(round(amp,6)^2 * 1000), a
      // band-ordered cumulative (bands ascend in cf by construction), and
      // the edge is the first band with 20*cum >= 19*total — all exact
      // integer comparisons, no percentile machinery.
      (s, dir) => {
        val seg = Frames.eventsToSegments(table(s, dir, "events"), 8, 1000.0)
        val pw = Frames.toLong(
            DspOperators.waveletAmplitude(seg, "human", hgOnly = true))
          .select(col("channel"), col("band"),
            expr("CAST(floor(round(value, 6) * round(value, 6) * 1000) AS BIGINT)")
              .as("pm"))
          .groupBy("channel", "band").agg(sum("pm").as("p"))
        val wCum = Window.partitionBy("channel").orderBy("band")
        val wAll = Window.partitionBy("channel")
        pw.withColumn("c", sum("p").over(wCum))
          .withColumn("tot", sum("p").over(wAll))
          .groupBy("channel")
          .agg(min(when(lit(20) * col("c") >= lit(19) * col("tot"), col("band")))
              .cast("int").as("sef_band"),
            max("tot").as("total_power_milli"),
            max(when(lit(20) * col("c") >= lit(19) * col("tot"), lit(null))
              .otherwise(col("c"))).cast("long").as("cum_below_edge"))
          .orderBy("channel")
      },
      Some(SpectralOracles.q247())),

    QueryDef("q248_signal_qc",
      "per-channel signal quality census: clipping counts, flatline runs, value range",
      // the data-quality gate a recording pipeline runs before any science:
      // per channel of the ranked series — extreme-value (clipping)
      // counts at the channel min/max, flatline runs (>= 3 consecutive
      // identical samples) via change-flag cumulative run ids, and the
      // range itself. Everything exact integers on the milli grid; the
      // only per-channel window is the lag/run scan (parallelism =
      // channels, the eventsToLong contract).
      (s, dir) => {
        val ranked = Frames.denseIndexByKey(
          table(s, dir, "events")
            .select(pmod(col("user_id"), lit(8)).cast("int").as("channel"),
              col("ts"), col("event_id"),
              expr("CAST(round(value * 1000) AS BIGINT)").as("vm")),
          keyCols = Seq("channel"),
          bucketCol = expr("ts div 3600000000000"),
          orderCols = Seq(col("ts"), col("event_id")), as = "t_idx")
          .pin // feeds extremes, the run scan, and counts
        val w = Window.partitionBy("channel").orderBy("t_idx")
        val runs = ranked
          .withColumn("chg",
            when(col("vm") === lag("vm", 1).over(w), 0L).otherwise(1L))
          .withColumn("runid", sum("chg").over(
            Window.partitionBy("channel").orderBy("t_idx")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("channel", "runid").agg(count(lit(1)).as("runlen"))
          .groupBy("channel")
          .agg(sum(when(col("runlen") >= 3, 1L).otherwise(0L)).as("n_flat_runs"),
            max("runlen").as("max_flat_run"))
        val ext = ranked.groupBy("channel")
          .agg(count(lit(1)).as("n"), min("vm").as("vmin"), max("vm").as("vmax"))
        val clip = ranked.join(broadcast(ext), "channel")
          .groupBy("channel")
          .agg(sum(when(col("vm") === col("vmin"), 1L).otherwise(0L)).as("n_at_min"),
            sum(when(col("vm") === col("vmax"), 1L).otherwise(0L)).as("n_at_max"))
        ext.join(clip, "channel").join(runs, "channel")
          .select("channel", "n", "vmin", "vmax", "n_at_min", "n_at_max",
            "n_flat_runs", "max_flat_run")
          .orderBy("channel")
      },
      Some("""|WITH ranked AS (
             |  SELECT CAST(user_id % 8 AS INT) AS channel,
             |    CAST(round(value * 1000) AS BIGINT) AS vm,
             |    row_number() OVER (PARTITION BY user_id % 8
             |      ORDER BY ts, event_id) AS rn
             |  FROM events
             |), flagged AS (
             |  SELECT channel, vm, rn,
             |    CASE WHEN vm = lag(vm) OVER (PARTITION BY channel ORDER BY rn)
             |      THEN 0 ELSE 1 END AS chg
             |  FROM ranked
             |), runids AS (
             |  SELECT channel,
             |    sum(chg) OVER (PARTITION BY channel ORDER BY rn) AS runid
             |  FROM flagged
             |), runs AS (
             |  SELECT channel,
             |    CAST(sum(CASE WHEN runlen >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_flat_runs,
             |    CAST(max(runlen) AS BIGINT) AS max_flat_run
             |  FROM (SELECT channel, runid, count(*) AS runlen
             |        FROM runids GROUP BY 1, 2)
             |  GROUP BY channel
             |), ext AS (
             |  SELECT channel, count(*) AS n,
             |    CAST(min(vm) AS BIGINT) AS vmin, CAST(max(vm) AS BIGINT) AS vmax
             |  FROM ranked GROUP BY 1
             |), clip AS (
             |  SELECT r.channel,
             |    CAST(sum(CASE WHEN vm = vmin THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_at_min,
             |    CAST(sum(CASE WHEN vm = vmax THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_at_max
             |  FROM ranked r JOIN ext ON ext.channel = r.channel
             |  GROUP BY r.channel
             |)
             |SELECT ext.channel, n, vmin, vmax, n_at_min, n_at_max,
             |  n_flat_runs, max_flat_run
             |FROM ext JOIN clip ON clip.channel = ext.channel
             |JOIN runs ON runs.channel = ext.channel
             |ORDER BY ext.channel""".stripMargin)),

    QueryDef("q249_ols_holdout_eval",
      "out-of-sample regression audit: q234's OLS fit on a 3/4 train split, scored on the 1/4 holdout",
      // the generalization check q234 owes its users: the md5 grid
      // ('cv:' salt) splits deterministically, the Cramer solve runs on
      // TRAIN moments only, and the holdout SSE sums per-row ROUNDED
      // squared residuals (identical double chains -> identical integers
      // -> order-free). One scan builds both sides; betas broadcast back
      // as a 1-row frame.
      (s, dir) => {
        val base = table(s, dir, "events")
          .select(expr("CAST(round(value * 1000) AS BIGINT)").as("y"),
            expr("ts div 86400000000000").as("day"),
            expr("(ts div 3600000000000) % 24").as("h"),
            ((conv(substring(md5(concat(lit("cv:"), col("event_id").cast("string"))),
              1, 15), 16, 10).cast("long") % 4L) === 0L).as("istest"))
        val d0 = base.agg(min("day").as("d0"))
        val all = base.join(broadcast(d0))
          .select(col("y"), (col("day") - col("d0")).as("d"), col("h"),
            col("istest"))
          .pin // feeds the train moments and the test scorer
        val m = all.filter(!col("istest"))
          .agg(count(lit(1)).as("n"), sum("d").as("sd"), sum("h").as("sh"),
            sum(col("d") * col("d")).as("sdd"),
            sum(col("d") * col("h")).as("sdh"),
            sum(col("h") * col("h")).as("shh"),
            sum("y").as("sy"), sum(col("y") * col("d")).as("syd"),
            sum(col("y") * col("h")).as("syh"),
            sum(col("y") * col("y")).as("syy"))
        val betas = m.select(col("n").as("n_train"),
          expr(OlsDetExpr).as("det"), expr(OlsDet0Expr).as("det0"),
          expr(OlsDet1Expr).as("det1"), expr(OlsDet2Expr).as("det2"),
          col("sy"), col("syd"), col("syh"), col("syy"))
        val scored = all.filter(col("istest")).join(broadcast(betas))
          .withColumn("res", expr("""y - (det0 / det + det1 / det * d
            + det2 / det * h)"""))
          .agg(count(lit(1)).as("n_test"),
            sum(expr("CAST(round(res * res, 0) AS BIGINT)")).as("sse_test"),
            max("n_train").as("n_train"), max("det").as("det"),
            max("det0").as("det0"), max("det1").as("det1"),
            max("det2").as("det2"), max("sy").as("sy"), max("syd").as("syd"),
            max("syh").as("syh"), max("syy").as("syy"))
        scored.select(col("n_train"), col("n_test"),
          expr("round(det0 / det, 6)").as("beta0"),
          expr("round(det1 / det, 6)").as("beta_day"),
          expr("round(det2 / det, 6)").as("beta_hour"),
          expr("""round(1.0D - (syy - det0 / det * sy - det1 / det * syd
              - det2 / det * syh)
            / (syy - CAST(sy AS DOUBLE) * sy / n_train), 6)""").as("r2_train"),
          col("sse_test"),
          expr("round(sqrt(CAST(sse_test AS DOUBLE) / n_test) / 1000.0, 6)")
            .as("rmse_test"))
      },
      Some(s"""|WITH base AS (
             |  SELECT CAST(round(value * 1000) AS BIGINT) AS y,
             |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS BIGINT) AS h,
             |    CAST(('0x' || substr(md5('cv:' || event_id), 1, 15))
             |      AS UBIGINT) % 4 = 0 AS istest
             |  FROM events
             |), c AS (
             |  SELECT y, day - (SELECT min(day) FROM base) AS d, h, istest
             |  FROM base
             |), m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(d) AS BIGINT) AS sd, CAST(sum(h) AS BIGINT) AS sh,
             |    CAST(sum(d * d) AS BIGINT) AS sdd,
             |    CAST(sum(d * h) AS BIGINT) AS sdh,
             |    CAST(sum(h * h) AS BIGINT) AS shh,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(y * d) AS BIGINT) AS syd,
             |    CAST(sum(y * h) AS BIGINT) AS syh,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM c WHERE NOT istest
             |), dets AS (
             |  SELECT n AS n_train, sy, syd, syh, syy,
             |    $OlsDetExpr AS det, $OlsDet0Expr AS det0,
             |    $OlsDet1Expr AS det1, $OlsDet2Expr AS det2
             |  FROM m
             |), t AS (
             |  SELECT count(*) AS n_test,
             |    CAST(sum(CAST(round((y - (det0 / det + det1 / det * d
             |      + det2 / det * h)) * (y - (det0 / det + det1 / det * d
             |      + det2 / det * h)), 0) AS BIGINT)) AS BIGINT) AS sse_test
             |  FROM c CROSS JOIN dets WHERE istest
             |)
             |SELECT n_train, CAST(n_test AS BIGINT) AS n_test,
             |  round(det0 / det, 6) AS beta0,
             |  round(det1 / det, 6) AS beta_day,
             |  round(det2 / det, 6) AS beta_hour,
             |  round(1.0 - (syy - det0 / det * sy - det1 / det * syd
             |      - det2 / det * syh)
             |    / (syy - CAST(sy AS DOUBLE) * sy / n_train), 6) AS r2_train,
             |  sse_test,
             |  round(sqrt(CAST(sse_test AS DOUBLE) / n_test) / 1000.0, 6)
             |    AS rmse_test
             |FROM dets CROSS JOIN t""".stripMargin)),

    QueryDef("q250_logistic_newton",
      "distributed logistic regression: 3 exact-replay Newton iterations predicting purchases",
      // the iterative-ML flagship, Spark-shaped: each Newton step is ONE
      // narrow scan — per-row sigmoid under BROADCAST weight literals,
      // gradient/Hessian contributions micro-ROUNDED to integers (identical
      // IEEE chains -> identical integers -> order-free sums), the 3x3
      // symmetric Cramer solve on the driver replaying the oracle's exact
      // double chain, and weights pinned to the 9-decimal grid each round
      // so both engines carry literally equal state into the next
      // iteration. The oracle unrolls all 3 rounds as CTEs. Readout: final
      // weights + training accuracy at the 0.5 threshold.
      (s, dir) => {
        val base = table(s, dir, "events")
          .select(when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            expr("ts div 86400000000000").as("day"),
            expr("(ts div 3600000000000) % 24").as("h"))
        val d0 = base.agg(min("day")).head().getLong(0)
        val all = base.select(col("y").cast("double").as("y"),
            (col("day") - lit(d0)).cast("double").as("d"),
            col("h").cast("double").as("h"))
          .pin // one scan per Newton step + the readout
        def sigmoid(w: Array[Double]) =
          lit(1.0) / (lit(1.0) + exp(-(lit(w(0)) + lit(w(1)) * col("d")
            + lit(w(2)) * col("h"))))
        var w = Array(0.0, 0.0, 0.0)
        for (_ <- 1 to 3) {
          val p = sigmoid(w)
          def em(c: org.apache.spark.sql.Column) =
            sum(round(c * lit(1e6)).cast("long"))
          val row = all.agg(
            em(col("y") - p), em((col("y") - p) * col("d")),
            em((col("y") - p) * col("h")),
            em(p * (lit(1.0) - p)), em(p * (lit(1.0) - p) * col("d")),
            em(p * (lit(1.0) - p) * col("h")),
            em(p * (lit(1.0) - p) * col("d") * col("d")),
            em(p * (lit(1.0) - p) * col("d") * col("h")),
            em(p * (lit(1.0) - p) * col("h") * col("h"))).head()
          w = newtonStep(w, Array.tabulate(9)(row.getLong))
        }
        val pFinal = sigmoid(w)
        all.agg(count(lit(1)).as("n"),
            sum(when((pFinal >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("n"), lit(w(0)).as("w0"), lit(w(1)).as("w1"),
            lit(w(2)).as("w2"), col("n_correct"),
            round(col("n_correct").cast("double") / col("n"), 6).as("accuracy"))
      },
      Some(s"""|WITH base AS (
             |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS BIGINT) AS h
             |  FROM base0
             |), c AS MATERIALIZED (
             |  SELECT CAST(y AS DOUBLE) AS y,
             |    CAST(day - (SELECT min(day) FROM base) AS DOUBLE) AS d,
             |    CAST(h AS DOUBLE) AS h
             |  FROM base
             |), w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
             |${logitIterCtes(1)},
             |${logitIterCtes(2)},
             |${logitIterCtes(3)},
             |fin AS (
             |  SELECT y, 1.0 / (1.0 + exp(-(w.w0 + w.w1 * d + w.w2 * h))) AS p,
             |    w.w0, w.w1, w.w2
             |  FROM c CROSS JOIN w3 w
             |)
             |SELECT count(*) AS n, max(w0) AS w0, max(w1) AS w1, max(w2) AS w2,
             |  CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  round(CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
             |      AS DOUBLE) / count(*), 6) AS accuracy
             |FROM fin""".stripMargin.replace("FROM base0", "FROM events"))),

    QueryDef("q251_naive_bayes",
      "naive Bayes purchase classifier with Laplace smoothing — fully integer-exact scoring",
      // counts-based ML needs NO floating-point truce at all: class priors
      // and per-(feature, value, class) likelihoods are exact integers,
      // each log term rounds to micro-nats once, and the per-row score is
      // an INTEGER sum — argmax is an integer compare, so prediction is
      // deterministic in any engine. Three broadcast lookup joins (one per
      // feature, each table <= values x 2 rows); one scan to score.
      (s, dir) => {
        val base = table(s, dir, "events")
          .select(when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            expr("(ts div 3600000000000) % 24 div 4").as("f_hour_band"),
            expr("CAST(length(CAST(CAST(round(value * 1000) AS BIGINT) AS STRING)) AS BIGINT)")
              .as("f_value_digits"),
            pmod(col("user_id"), lit(8)).as("f_user_bucket"))
          .pin // feeds 3 count tables, priors, and the scorer
        val tot = base.agg(count(lit(1)).as("nn"), sum("y").as("n1"))
          .withColumn("n0", col("nn") - col("n1"))
        def likelihood(f: String) = {
          val counts = base.groupBy(col(f).as("v"))
            .agg(sum("y").as("c1"), sum(lit(1L) - col("y")).as("c0"))
          val vf = counts.count() // |values| for the Laplace denominator
          counts.join(broadcast(tot))
            .select(col("v"),
              expr(s"""CAST(floor((ln((c0 + 1.0D) / (n0 + ${vf}L)) * 1e6) + 0.5)
                AS BIGINT)""").as(s"${f}_l0"),
              expr(s"""CAST(floor((ln((c1 + 1.0D) / (n1 + ${vf}L)) * 1e6) + 0.5)
                AS BIGINT)""").as(s"${f}_l1"))
        }
        val scored = base.join(broadcast(tot))
          .withColumn("prior0",
            expr("CAST(floor((ln(CAST(n0 AS DOUBLE) / nn) * 1e6) + 0.5) AS BIGINT)"))
          .withColumn("prior1",
            expr("CAST(floor((ln(CAST(n1 AS DOUBLE) / nn) * 1e6) + 0.5) AS BIGINT)"))
          .join(broadcast(likelihood("f_hour_band"))
            .withColumnRenamed("v", "f_hour_band"), "f_hour_band")
          .join(broadcast(likelihood("f_value_digits"))
            .withColumnRenamed("v", "f_value_digits"), "f_value_digits")
          .join(broadcast(likelihood("f_user_bucket"))
            .withColumnRenamed("v", "f_user_bucket"), "f_user_bucket")
          .withColumn("s0", col("prior0") + col("f_hour_band_l0")
            + col("f_value_digits_l0") + col("f_user_bucket_l0"))
          .withColumn("s1", col("prior1") + col("f_hour_band_l1")
            + col("f_value_digits_l1") + col("f_user_bucket_l1"))
          .withColumn("pred", when(col("s1") > col("s0"), 1L).otherwise(0L))
        scored.agg(count(lit(1)).as("n"), max("n1").as("n_purchases"),
            sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
          .select(col("n"), col("n_purchases"), col("n_correct"),
            round(col("n_correct").cast("double") / col("n"), 6).as("accuracy"))
      },
      Some("""|WITH base AS (
             |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             |    (epoch_ns(ts) // 3600000000000) % 24 // 4 AS f_hour_band,
             |    CAST(len(CAST(CAST(round(value * 1000) AS BIGINT) AS VARCHAR))
             |      AS BIGINT) AS f_value_digits,
             |    user_id % 8 AS f_user_bucket
             |  FROM events
             |), tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS n1,
             |    CAST(count(*) - sum(y) AS BIGINT) AS n0
             |  FROM base
             |), lhb AS (
             |  SELECT f_hour_band AS v,
             |    CAST(floor((ln((sum(1 - y) + 1.0) / (max(n0)
             |      + (SELECT count(DISTINCT f_hour_band) FROM base))) * 1e6) + 0.5)
             |      AS BIGINT) AS l0,
             |    CAST(floor((ln((sum(y) + 1.0) / (max(n1)
             |      + (SELECT count(DISTINCT f_hour_band) FROM base))) * 1e6) + 0.5)
             |      AS BIGINT) AS l1
             |  FROM base CROSS JOIN tot GROUP BY 1
             |), lvd AS (
             |  SELECT f_value_digits AS v,
             |    CAST(floor((ln((sum(1 - y) + 1.0) / (max(n0)
             |      + (SELECT count(DISTINCT f_value_digits) FROM base))) * 1e6) + 0.5)
             |      AS BIGINT) AS l0,
             |    CAST(floor((ln((sum(y) + 1.0) / (max(n1)
             |      + (SELECT count(DISTINCT f_value_digits) FROM base))) * 1e6) + 0.5)
             |      AS BIGINT) AS l1
             |  FROM base CROSS JOIN tot GROUP BY 1
             |), lub AS (
             |  SELECT f_user_bucket AS v,
             |    CAST(floor((ln((sum(1 - y) + 1.0) / (max(n0)
             |      + (SELECT count(DISTINCT f_user_bucket) FROM base))) * 1e6) + 0.5)
             |      AS BIGINT) AS l0,
             |    CAST(floor((ln((sum(y) + 1.0) / (max(n1)
             |      + (SELECT count(DISTINCT f_user_bucket) FROM base))) * 1e6) + 0.5)
             |      AS BIGINT) AS l1
             |  FROM base CROSS JOIN tot GROUP BY 1
             |), scored AS (
             |  SELECT y,
             |    CAST(floor((ln(CAST(n0 AS DOUBLE) / nn) * 1e6) + 0.5) AS BIGINT)
             |      + a.l0 + b.l0 + c.l0 AS s0,
             |    CAST(floor((ln(CAST(n1 AS DOUBLE) / nn) * 1e6) + 0.5) AS BIGINT)
             |      + a.l1 + b.l1 + c.l1 AS s1
             |  FROM base CROSS JOIN tot
             |  JOIN lhb a ON a.v = f_hour_band
             |  JOIN lvd b ON b.v = f_value_digits
             |  JOIN lub c ON c.v = f_user_bucket
             |)
             |SELECT count(*) AS n,
             |  (SELECT n1 FROM tot) AS n_purchases,
             |  CAST(sum(CASE WHEN (CASE WHEN s1 > s0 THEN 1 ELSE 0 END) = y
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             |  round(CAST(sum(CASE WHEN (CASE WHEN s1 > s0 THEN 1 ELSE 0 END) = y
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
             |FROM scored""".stripMargin)),

    QueryDef("q252_decision_stump",
      "best one-split decision stump: max information-gain equality split across all feature values",
      // q228 picks the best FEATURE; this picks the best binary SPLIT
      // (f == v vs rest) and reads the stump out as a classifier. Every
      // candidate's IG is ONE double chain over four exact integers
      // (v-side/rest-side class counts), rounded once to micro-nats;
      // argmax = min(struct(-ig, feature, value)) — a total order, so the
      // chosen stump is engine-exact. Stump accuracy = majority class per
      // side, pure integer max arithmetic.
      (s, dir) => {
        val base = table(s, dir, "events")
          .select(when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            expr("(ts div 3600000000000) % 24 div 4").as("f_hour_band"),
            expr("CAST(length(CAST(CAST(round(value * 1000) AS BIGINT) AS STRING)) AS BIGINT)")
              .as("f_value_digits"),
            pmod(col("user_id"), lit(8)).as("f_user_bucket"))
          .pin
        val tot = base.agg(count(lit(1)).as("nn"), sum("y").as("t1"))
          .withColumn("t0", col("nn") - col("t1"))
        val cands = Seq("f_hour_band", "f_value_digits", "f_user_bucket").map { f =>
          base.groupBy(col(f).as("v"))
            .agg(sum("y").as("c1"), sum(lit(1L) - col("y")).as("c0"))
            .select(lit(f).as("feature"), col("v"), col("c0"), col("c1"))
        }.reduce(_ union _)
        // plogp(k, n) = (k/n) ln(k/n) guarded at k=0; IG in ONE chain
        val scored = cands.join(broadcast(tot))
          .withColumn("ig_micro", expr("""CAST(floor(((
            -(CASE WHEN t0 > 0 THEN CAST(t0 AS DOUBLE) / nn * ln(CAST(t0 AS DOUBLE) / nn) ELSE 0.0D END)
            - (CASE WHEN t1 > 0 THEN CAST(t1 AS DOUBLE) / nn * ln(CAST(t1 AS DOUBLE) / nn) ELSE 0.0D END)
            + CAST(c0 + c1 AS DOUBLE) / nn * (
                (CASE WHEN c0 > 0 THEN CAST(c0 AS DOUBLE) / (c0 + c1) * ln(CAST(c0 AS DOUBLE) / (c0 + c1)) ELSE 0.0D END)
              + (CASE WHEN c1 > 0 THEN CAST(c1 AS DOUBLE) / (c0 + c1) * ln(CAST(c1 AS DOUBLE) / (c0 + c1)) ELSE 0.0D END))
            + CAST(nn - c0 - c1 AS DOUBLE) / nn * (
                (CASE WHEN t0 - c0 > 0 THEN CAST(t0 - c0 AS DOUBLE) / (nn - c0 - c1) * ln(CAST(t0 - c0 AS DOUBLE) / (nn - c0 - c1)) ELSE 0.0D END)
              + (CASE WHEN t1 - c1 > 0 THEN CAST(t1 - c1 AS DOUBLE) / (nn - c0 - c1) * ln(CAST(t1 - c1 AS DOUBLE) / (nn - c0 - c1)) ELSE 0.0D END))
            ) * 1e6) + 0.5) AS BIGINT)"""))
          .withColumn("n_correct",
            greatest(col("c0"), col("c1"))
              + greatest(col("t0") - col("c0"), col("t1") - col("c1")))
        scored.agg(min(struct((-col("ig_micro")).as("nig"), col("feature"),
            col("v"), col("ig_micro"), col("c0"), col("c1"),
            col("n_correct"), col("nn"))).as("best"))
          .select(col("best.feature").as("feature"),
            col("best.v").as("split_value"),
            col("best.ig_micro").as("ig_micro"),
            (col("best.c0") + col("best.c1")).as("n_split"),
            col("best.n_correct").as("n_correct"),
            round(col("best.n_correct").cast("double") / col("best.nn"), 6)
              .as("accuracy"))
      },
      Some("""|WITH base AS (
             |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             |    (epoch_ns(ts) // 3600000000000) % 24 // 4 AS f_hour_band,
             |    CAST(len(CAST(CAST(round(value * 1000) AS BIGINT) AS VARCHAR))
             |      AS BIGINT) AS f_value_digits,
             |    user_id % 8 AS f_user_bucket
             |  FROM events
             |), tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS t1,
             |    CAST(count(*) - sum(y) AS BIGINT) AS t0
             |  FROM base
             |), cands AS (
             |  SELECT 'f_hour_band' AS feature, f_hour_band AS v,
             |    CAST(sum(1 - y) AS BIGINT) AS c0, CAST(sum(y) AS BIGINT) AS c1
             |  FROM base GROUP BY 2
             |  UNION ALL
             |  SELECT 'f_value_digits', f_value_digits,
             |    CAST(sum(1 - y) AS BIGINT), CAST(sum(y) AS BIGINT)
             |  FROM base GROUP BY 2
             |  UNION ALL
             |  SELECT 'f_user_bucket', f_user_bucket,
             |    CAST(sum(1 - y) AS BIGINT), CAST(sum(y) AS BIGINT)
             |  FROM base GROUP BY 2
             |), scored AS (
             |  SELECT feature, v, c0, c1, nn,
             |    CAST(floor(((
             |      -(CASE WHEN t0 > 0 THEN CAST(t0 AS DOUBLE) / nn * ln(CAST(t0 AS DOUBLE) / nn) ELSE 0.0 END)
             |      - (CASE WHEN t1 > 0 THEN CAST(t1 AS DOUBLE) / nn * ln(CAST(t1 AS DOUBLE) / nn) ELSE 0.0 END)
             |      + CAST(c0 + c1 AS DOUBLE) / nn * (
             |          (CASE WHEN c0 > 0 THEN CAST(c0 AS DOUBLE) / (c0 + c1) * ln(CAST(c0 AS DOUBLE) / (c0 + c1)) ELSE 0.0 END)
             |        + (CASE WHEN c1 > 0 THEN CAST(c1 AS DOUBLE) / (c0 + c1) * ln(CAST(c1 AS DOUBLE) / (c0 + c1)) ELSE 0.0 END))
             |      + CAST(nn - c0 - c1 AS DOUBLE) / nn * (
             |          (CASE WHEN t0 - c0 > 0 THEN CAST(t0 - c0 AS DOUBLE) / (nn - c0 - c1) * ln(CAST(t0 - c0 AS DOUBLE) / (nn - c0 - c1)) ELSE 0.0 END)
             |        + (CASE WHEN t1 - c1 > 0 THEN CAST(t1 - c1 AS DOUBLE) / (nn - c0 - c1) * ln(CAST(t1 - c1 AS DOUBLE) / (nn - c0 - c1)) ELSE 0.0 END))
             |      ) * 1e6) + 0.5) AS BIGINT) AS ig_micro,
             |    greatest(c0, c1) + greatest(t0 - c0, t1 - c1) AS n_correct
             |  FROM cands CROSS JOIN tot
             |), best AS (
             |  SELECT *, row_number() OVER (
             |    ORDER BY ig_micro DESC, feature, v) AS rn
             |  FROM scored
             |)
             |SELECT feature, v AS split_value, ig_micro,
             |  CAST(c0 + c1 AS BIGINT) AS n_split,
             |  CAST(n_correct AS BIGINT) AS n_correct,
             |  round(CAST(n_correct AS DOUBLE) / nn, 6) AS accuracy
             |FROM best WHERE rn = 1""".stripMargin)),

    QueryDef("q253_welch_ttest",
      "Welch's unequal-variance t-test between click and view values",
      // q182 tests proportions; this tests MEANS: per-type exact integer
      // moments (n, sum, sum-of-squares on the milli grid) in one
      // aggregate, then the t statistic and Welch-Satterthwaite degrees of
      // freedom as a single double chain both engines replay identically.
      (s, dir) => {
        val m = table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_type"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vm").as("s1"),
            sum(col("vm") * col("vm")).as("s2"))
        val a = m.filter(col("event_type") === "click")
          .select(col("n").as("n1"), col("s1").as("sa1"), col("s2").as("sa2"))
        val b = m.filter(col("event_type") === "view")
          .select(col("n").as("n2"), col("s1").as("sb1"), col("s2").as("sb2"))
        a.join(b)
          .withColumn("v1", expr("(sa2 - CAST(sa1 AS DOUBLE) * sa1 / n1) / (n1 - 1)"))
          .withColumn("v2", expr("(sb2 - CAST(sb1 AS DOUBLE) * sb1 / n2) / (n2 - 1)"))
          .withColumn("se2", expr("v1 / n1 + v2 / n2"))
          .select(col("n1"), col("n2"),
            expr("round((CAST(sa1 AS DOUBLE) / n1 - CAST(sb1 AS DOUBLE) / n2) / 1000.0, 6)")
              .as("mean_diff"),
            expr("""round((CAST(sa1 AS DOUBLE) / n1 - CAST(sb1 AS DOUBLE) / n2)
              / sqrt(se2), 6)""").as("t"),
            expr("""round(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
              + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6)""").as("df_welch"))
      },
      Some("""|WITH m AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS s1,
             |    CAST(sum(CAST(round(value * 1000) AS BIGINT)
             |      * CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS s2
             |  FROM events WHERE event_type IN ('click', 'view')
             |  GROUP BY 1
             |), j AS (
             |  SELECT a.n AS n1, a.s1 AS sa1, a.s2 AS sa2,
             |    b.n AS n2, b.s1 AS sb1, b.s2 AS sb2
             |  FROM m a JOIN m b
             |    ON a.event_type = 'click' AND b.event_type = 'view'
             |), v AS (
             |  SELECT *,
             |    (sa2 - CAST(sa1 AS DOUBLE) * sa1 / n1) / (n1 - 1) AS v1,
             |    (sb2 - CAST(sb1 AS DOUBLE) * sb1 / n2) / (n2 - 1) AS v2
             |  FROM j
             |), se AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM v)
             |SELECT n1, n2,
             |  round((CAST(sa1 AS DOUBLE) / n1 - CAST(sb1 AS DOUBLE) / n2)
             |    / 1000.0, 6) AS mean_diff,
             |  round((CAST(sa1 AS DOUBLE) / n1 - CAST(sb1 AS DOUBLE) / n2)
             |    / sqrt(se2), 6) AS t,
             |  round(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
             |    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df_welch
             |FROM se""".stripMargin)),

    QueryDef("q254_mann_whitney",
      "Mann-Whitney U test + Cliff's delta between click and view values (tie-aware, integer-exact U)",
      // q253's nonparametric sibling: 2*U1 = R1_doubled - n1*(n1+1) is an
      // EXACT integer via q219's doubled average ranks (2m + c - 1 under
      // ties, from the bucketed two-level index — no single-partition
      // window); Cliff's delta = (2*U1 - n1*n2)/(n1*n2) and the tie-
      // corrected normal z are double chains over exact integer pieces.
      (s, dir) => {
        val v = table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_id"), col("event_type"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
        val idx = Frames.denseIndexByKey(v, keyCols = Seq.empty,
          bucketCol = expr("vm div 100000"),
          orderCols = Seq(col("vm"), col("event_id")), as = "_idx")
        val wv = Window.partitionBy("vm")
        val ranked = idx.select(col("event_type"), col("vm"),
          (min("_idx").over(wv) + max("_idx").over(wv) + lit(2L)).as("r2"))
          .pin // feeds rank sums and the tie census
        val sums = ranked.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("r2").as("r2sum"))
        val ties = ranked.groupBy("vm").agg(count(lit(1)).as("t"))
          .agg(sum(expr("t * t * t - t")).as("tie_cube"))
        val a = sums.filter(col("event_type") === "click")
          .select(col("n").as("n1"), col("r2sum").as("r1d"))
        val b = sums.filter(col("event_type") === "view")
          .select(col("n").as("n2"))
        a.join(b).join(broadcast(ties))
          .withColumn("u2", col("r1d") - col("n1") * (col("n1") + 1L))
          .select(col("n1"), col("n2"), col("u2").as("u_doubled"),
            expr("""round(CAST(u2 - n1 * n2 AS DOUBLE) / (n1 * n2), 6)""")
              .as("cliffs_delta"),
            expr("""round((CAST(u2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
              / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                * ((n1 + n2 + 1) - CAST(tie_cube AS DOUBLE)
                   / ((n1 + n2) * (n1 + n2 - 1.0D)))), 6)""").as("z"))
      },
      Some("""|WITH v AS (
             |  SELECT event_id, event_type,
             |    CAST(round(value * 1000) AS BIGINT) AS vm
             |  FROM events WHERE event_type IN ('click', 'view')
             |), ranked AS (
             |  SELECT event_type, vm,
             |    2 * rank() OVER (ORDER BY vm)
             |      + count(*) OVER (PARTITION BY vm) - 1 AS r2
             |  FROM v
             |), sums AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(r2) AS BIGINT) AS r2sum
             |  FROM ranked GROUP BY 1
             |), ties AS (
             |  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_cube
             |  FROM (SELECT vm, count(*) AS t FROM ranked GROUP BY 1)
             |), j AS (
             |  SELECT a.n AS n1, a.r2sum AS r1d, b.n AS n2, tie_cube,
             |    a.r2sum - a.n * (a.n + 1) AS u2
             |  FROM sums a JOIN sums b
             |    ON a.event_type = 'click' AND b.event_type = 'view'
             |  CROSS JOIN ties
             |)
             |SELECT n1, n2, CAST(u2 AS BIGINT) AS u_doubled,
             |  round(CAST(u2 - n1 * n2 AS DOUBLE) / (n1 * n2), 6)
             |    AS cliffs_delta,
             |  round((CAST(u2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
             |    / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
             |      * ((n1 + n2 + 1) - CAST(tie_cube AS DOUBLE)
             |         / ((n1 + n2) * (n1 + n2 - 1.0)))), 6) AS z
             |FROM j""".stripMargin)),

    QueryDef("q255_psi_drift",
      "population stability index per feature between the first and second half of the month",
      // the ML-ops drift gate: PSI = sum (p - q) ln(p / q) over feature
      // bins, baseline = days 0-14, current = days 15+, both
      // (+1)-smoothed so no bin divides by zero. Per-(feature, bin, half)
      // counts are one aggregate; each bin's term rounds to micro-nats
      // once and the per-feature PSI is an integer sum (q185's idiom).
      (s, dir) => {
        val base = table(s, dir, "events")
          .select(expr("ts div 86400000000000").as("day"),
            expr("(ts div 3600000000000) % 24 div 4").as("f_hour_band"),
            expr("CAST(length(CAST(CAST(round(value * 1000) AS BIGINT) AS STRING)) AS BIGINT)")
              .as("f_value_digits"),
            pmod(col("user_id"), lit(8)).as("f_user_bucket"))
        val d0 = base.agg(min("day")).head().getLong(0)
        val half = base.withColumn("cur",
            (col("day") - lit(d0)) >= 15L)
          .pin
        def psi(f: String) = {
          val c = half.groupBy(col(f).as("bin"))
            .agg(sum(when(!col("cur"), 1L).otherwise(0L)).as("cb"),
              sum(when(col("cur"), 1L).otherwise(0L)).as("cc"))
            .pin // feeds totals + the contribution readout
          val bcount = c.count()
          val tots = c.agg(sum("cb").as("nb"), sum("cc").as("nc"))
          c.join(broadcast(tots))
            .withColumn("term_micro", expr(s"""CAST(floor((
              ((cb + 1.0D) / (nb + ${bcount}L) - (cc + 1.0D) / (nc + ${bcount}L))
              * ln(((cb + 1.0D) / (nb + ${bcount}L))
                 / ((cc + 1.0D) / (nc + ${bcount}L))) * 1e6) + 0.5) AS BIGINT)"""))
            .agg(sum("term_micro").as("psi_micro"))
            .select(lit(f).as("feature"), col("psi_micro"))
        }
        Seq("f_hour_band", "f_value_digits", "f_user_bucket")
          .map(psi).reduce(_ union _).orderBy("feature")
      },
      Some("""|WITH base AS (
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
             |GROUP BY c.feature ORDER BY c.feature""".stripMargin)),

    QueryDef("q256_kruskal_wallis",
      "Kruskal-Wallis k-sample rank test across all five event types (tie-corrected)",
      // q254's k-sample extension: doubled average ranks over the pooled
      // values (q219's exact idiom — bucketed two-level index, never a
      // single-partition rank), per-type doubled rank sums, and
      // H = 3/(n(n+1)) * sum(R2_g^2 / n_g) - 3(n+1) with the tie
      // correction 1 - sum(t^3 - t)/(n^3 - n) — one double chain over
      // exact integers.
      (s, dir) => {
        val v = table(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
        val idx = Frames.denseIndexByKey(v, keyCols = Seq.empty,
          bucketCol = expr("vm div 100000"),
          orderCols = Seq(col("vm"), col("event_id")), as = "_idx")
        val wv = Window.partitionBy("vm")
        val ranked = idx.select(col("event_type"), col("vm"),
            (min("_idx").over(wv) + max("_idx").over(wv) + lit(2L)).as("r2"))
          .pin // feeds group sums and the tie census
        val g = ranked.groupBy("event_type")
          .agg(count(lit(1)).as("ng"), sum("r2").as("r2sum"))
        val ties = ranked.groupBy("vm").agg(count(lit(1)).as("t"))
          .agg(sum(expr("t * t * t - t")).as("tie_cube"))
        g.agg(sum("ng").as("n"), count(lit(1)).as("k"),
            sum(expr("CAST(r2sum AS DOUBLE) * r2sum / ng")).as("rterm"))
          .join(broadcast(ties))
          .select(col("n"), (col("k") - 1L).as("df"),
            expr("""round(3.0D / (CAST(n AS DOUBLE) * (n + 1)) * rterm
              - 3.0D * (n + 1), 6)""").as("h"),
            expr("""round((3.0D / (CAST(n AS DOUBLE) * (n + 1)) * rterm
              - 3.0D * (n + 1))
              / (1.0D - CAST(tie_cube AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * n - n)), 6)""").as("h_corrected"))
      },
      Some("""|WITH v AS (
             |  SELECT event_id, event_type,
             |    CAST(round(value * 1000) AS BIGINT) AS vm
             |  FROM events
             |), ranked AS (
             |  SELECT event_type, vm,
             |    2 * rank() OVER (ORDER BY vm)
             |      + count(*) OVER (PARTITION BY vm) - 1 AS r2
             |  FROM v
             |), g AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
             |    CAST(sum(r2) AS BIGINT) AS r2sum
             |  FROM ranked GROUP BY 1
             |), ties AS (
             |  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_cube
             |  FROM (SELECT vm, count(*) AS t FROM ranked GROUP BY 1)
             |), agg AS (
             |  SELECT CAST(sum(ng) AS BIGINT) AS n,
             |    CAST(count(*) - 1 AS BIGINT) AS df,
             |    sum(CAST(r2sum AS DOUBLE) * r2sum / ng) AS rterm
             |  FROM g
             |)
             |SELECT n, df,
             |  round(3.0 / (CAST(n AS DOUBLE) * (n + 1)) * rterm
             |    - 3.0 * (n + 1), 6) AS h,
             |  round((3.0 / (CAST(n AS DOUBLE) * (n + 1)) * rterm
             |    - 3.0 * (n + 1))
             |    / (1.0 - CAST(tie_cube AS DOUBLE)
             |       / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_corrected
             |FROM agg CROSS JOIN ties""".stripMargin)),

    QueryDef("q257_cuped_variance_reduction",
      "CUPED experiment-sensitivity audit: pre-period covariate adjustment per user",
      // the variance-reduction workhorse of modern A/B platforms: per-user
      // pre-period (days 0-14) and post-period (days 15+) value sums, then
      // theta = cov(x, y)/var(x) and the achieved variance reduction
      // rho^2 = cov^2/(var x * var y) from one-pass moments. Sums of
      // squares ride DECIMAL(38,0) (they outgrow longs at sf0.1); every
      // readout is one identical double chain.
      (s, dir) => {
        val base = table(s, dir, "events")
          .select(col("user_id"), expr("ts div 86400000000000").as("day"),
            expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
        val d0 = base.agg(min("day")).head().getLong(0)
        val per = base
          .groupBy("user_id")
          .agg(sum(when(col("day") - lit(d0) < 15L, col("vm")).otherwise(0L)).as("x"),
            sum(when(col("day") - lit(d0) >= 15L, col("vm")).otherwise(0L)).as("y"))
        val m = per.agg(count(lit(1)).as("n"),
          sum("x").cast("decimal(38,0)").as("sx"),
          sum("y").cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        m.select(col("n"),
            expr("""(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)""")
              .as("covxy"),
            expr("""(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)""")
              .as("varx"),
            expr("""(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)""")
              .as("vary"))
          .select(col("n"),
            expr("round(covxy / varx, 6)").as("theta"),
            expr("round(covxy * covxy / (varx * vary), 6)")
              .as("variance_reduction"))
      },
      Some("""|WITH base AS (
             |  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    CAST(round(value * 1000) AS BIGINT) AS vm
             |  FROM events
             |), per AS (
             |  SELECT user_id,
             |    CAST(sum(CASE WHEN day - (SELECT min(day) FROM base) < 15
             |      THEN vm ELSE 0 END) AS BIGINT) AS x,
             |    CAST(sum(CASE WHEN day - (SELECT min(day) FROM base) >= 15
             |      THEN vm ELSE 0 END) AS BIGINT) AS y
             |  FROM base GROUP BY 1
             |), m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
             |  FROM per
             |), d AS (
             |  SELECT n,
             |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n
             |      AS covxy,
             |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
             |      AS varx,
             |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n
             |      AS vary
             |  FROM m
             |)
             |SELECT n, round(covxy / varx, 6) AS theta,
             |  round(covxy * covxy / (varx * vary), 6) AS variance_reduction
             |FROM d""".stripMargin)),

    QueryDef("q259_meta_analysis",
      "fixed-effect meta-analysis: inverse-variance pooling of per-type daily trend slopes",
      // the many-experiments summarizer: each type's daily-count OLS slope
      // and its sampling variance come from exact per-type moments (one
      // aggregate), the pooled estimate weights by 1/var, and Cochran's Q
      // measures heterogeneity — every readout one identical double chain.
      // Per-type rows carry the shared pooled columns (broadcast back).
      (s, dir) => {
        val daily = table(s, dir, "events")
          .select(col("event_type"), expr("ts div 86400000000000").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        val d0 = daily.agg(min("day")).head().getLong(0)
        val m = daily.select(col("event_type"),
            (col("day") - lit(d0)).as("x"), col("c").as("y"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("y") * col("y")).as("syy"))
          .withColumn("sxx_c", expr("CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n"))
          .withColumn("b", expr("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / sxx_c"))
          // residual variance s2 = (Syy_c - b^2 * Sxx_c) / (n - 2); var(b) = s2 / Sxx_c
          .withColumn("var_b", expr("""((CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * sy / n) - b * b * sxx_c)
            / (n - 2) / sxx_c"""))
          // weights and weighted slopes round to micro integers BEFORE the
          // pool sum — 5 doubles added in partition order would not be
          // engine-deterministic; integers are order-free (the q185 rule)
          .withColumn("w_micro", expr("CAST(round(1.0D / var_b * 1e6, 0) AS BIGINT)"))
          .withColumn("wb_micro", expr("CAST(round(1.0D / var_b * b * 1e6, 0) AS BIGINT)"))
          .pin // feeds the pool aggregate and the per-type rows
        val pool = m.agg(sum("w_micro").as("sw"), sum("wb_micro").as("swb"))
        m.join(broadcast(pool))
          .select(col("event_type"), col("n").as("n_days"),
            round(col("b"), 6).as("slope"),
            round(expr("sqrt(var_b)"), 6).as("se"),
            round(expr("CAST(swb AS DOUBLE) / sw"), 6).as("pooled_slope"),
            round(expr("sqrt(1e6 / sw)"), 6).as("pooled_se"))
          .orderBy("event_type")
      },
      Some("""|WITH daily AS (
             |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2
             |), pts AS (
             |  SELECT event_type,
             |    CAST(day - (SELECT min(day) FROM daily) AS BIGINT) AS x,
             |    CAST(c AS BIGINT) AS y
             |  FROM daily
             |), m AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM pts GROUP BY 1
             |), fit AS (
             |  SELECT event_type, n,
             |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
             |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS b,
             |    sy, syy
             |  FROM m
             |), vb AS (
             |  SELECT event_type, n, b,
             |    ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
             |      - b * b * sxx_c) / (n - 2) / sxx_c AS var_b
             |  FROM fit
             |), wtd AS (
             |  SELECT *,
             |    CAST(round(1.0 / var_b * 1e6, 0) AS BIGINT) AS w_micro,
             |    CAST(round(1.0 / var_b * b * 1e6, 0) AS BIGINT) AS wb_micro
             |  FROM vb
             |), pool AS (
             |  SELECT CAST(sum(w_micro) AS BIGINT) AS sw,
             |    CAST(sum(wb_micro) AS BIGINT) AS swb
             |  FROM wtd
             |)
             |SELECT event_type, n AS n_days, round(b, 6) AS slope,
             |  round(sqrt(var_b), 6) AS se,
             |  round(CAST(swb AS DOUBLE) / sw, 6) AS pooled_slope,
             |  round(sqrt(1e6 / sw), 6) AS pooled_se
             |FROM wtd CROSS JOIN pool ORDER BY event_type""".stripMargin)),

    QueryDef("q260_theil_inequality",
      "Theil-T inequality of order values with exact within/between-nation decomposition",
      // the inequality-accounting readout: T = (1/N) sum (x/mu) ln(x/mu)
      // over order totals, decomposed as T = sum_g s_g*T_g + T_between with
      // s_g = (N_g*mu_g)/(N*mu) the income shares. x/mu = x*N/S is an exact
      // rational, so every per-row term is one identical double chain,
      // micro-ROUNDED and integer-summed (the q185 rule); the between and
      // share terms are per-group chains over the same exact sums. Customer
      // and nation dims broadcast onto the fact scan.
      (s, dir) => {
        val x = table(s, dir, "orders")
          .join(broadcast(table(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(table(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
          .pin // feeds global sums, group sums, per-row terms
        val tot = x.agg(count(lit(1)).as("nn"), sum("x").as("ss"))
        val g = x.groupBy("nation").agg(count(lit(1)).as("ng"), sum("x").as("sg"))
          .pin
        // per-row global terms (x*N/S) and within-group terms (x*Ng/Sg)
        val terms = x.join(broadcast(tot))
          .join(broadcast(g), "nation")
          .select(col("nation"),
            expr("""CAST(floor((CAST(x AS DOUBLE) * nn / ss
              * ln(CAST(x AS DOUBLE) * nn / ss) * 1e6) + 0.5) AS BIGINT)""")
              .as("t_glob_micro"),
            expr("""CAST(floor((CAST(x AS DOUBLE) * ng / sg
              * ln(CAST(x AS DOUBLE) * ng / sg) * 1e6) + 0.5) AS BIGINT)""")
              .as("t_within_micro"))
          .groupBy("nation")
          .agg(sum("t_glob_micro").as("tg_sum"), sum("t_within_micro").as("tw_sum"))
        terms.join(g, "nation").join(broadcast(tot))
          .select(col("nation"), col("ng").as("n_orders"),
            expr("round(CAST(sg AS DOUBLE) / ng / 100.0, 6)").as("mean_price"),
            expr("round(CAST(tw_sum AS DOUBLE) / ng / 1e6, 6)").as("t_within"),
            // income share and the group's between-term, one chain each
            expr("round(CAST(sg AS DOUBLE) / ss, 6)").as("income_share"),
            expr("""floor((CAST(sg AS DOUBLE) / ss
              * ln(CAST(sg AS DOUBLE) * nn / (CAST(ss AS DOUBLE) * ng))) * 1e6 + 0.5) / 1e6""")
              .as("t_between_term"),
            expr("round(CAST(tg_sum AS DOUBLE) / nn / 1e6, 6)")
              .as("t_total_contrib"))
          .orderBy("nation")
      },
      Some("""|WITH x AS MATERIALIZED (
             |  SELECT n_name AS nation,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |), tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS ss
             |  FROM x
             |), g AS (
             |  SELECT nation, CAST(count(*) AS BIGINT) AS ng,
             |    CAST(sum(x) AS BIGINT) AS sg
             |  FROM x GROUP BY 1
             |), terms AS (
             |  SELECT x.nation,
             |    CAST(sum(CAST(floor((CAST(x AS DOUBLE) * nn / ss
             |      * ln(CAST(x AS DOUBLE) * nn / ss) * 1e6) + 0.5) AS BIGINT))
             |      AS BIGINT) AS tg_sum,
             |    CAST(sum(CAST(floor((CAST(x AS DOUBLE) * ng / sg
             |      * ln(CAST(x AS DOUBLE) * ng / sg) * 1e6) + 0.5) AS BIGINT))
             |      AS BIGINT) AS tw_sum
             |  FROM x CROSS JOIN tot JOIN g ON g.nation = x.nation
             |  GROUP BY x.nation
             |)
             |SELECT t.nation, ng AS n_orders,
             |  round(CAST(sg AS DOUBLE) / ng / 100.0, 6) AS mean_price,
             |  round(CAST(tw_sum AS DOUBLE) / ng / 1e6, 6) AS t_within,
             |  round(CAST(sg AS DOUBLE) / ss, 6) AS income_share,
             |  floor((CAST(sg AS DOUBLE) / ss
             |    * ln(CAST(sg AS DOUBLE) * nn / (CAST(ss AS DOUBLE) * ng))) * 1e6 + 0.5) / 1e6
             |    AS t_between_term,
             |  round(CAST(tg_sum AS DOUBLE) / nn / 1e6, 6) AS t_total_contrib
             |FROM terms t JOIN g ON g.nation = t.nation CROSS JOIN tot
             |ORDER BY t.nation""".stripMargin)),

    QueryDef("q261_gini_by_nation",
      "per-nation Gini coefficient of order values via the exact rank formula",
      // q260's bounded-in-[0,1] sibling: G = (2*sum(r*x) - (n+1)*S) / (n*S)
      // with ordinal ranks from the BUCKETED two-level index keyed by
      // nation (ties are automatically safe — permuting equal x leaves
      // sum(r*x) unchanged). Numerator and denominator are exact longs;
      // one ranked shuffle, one aggregate, one rounded division.
      (s, dir) => {
        val x = table(s, dir, "orders")
          .join(broadcast(table(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(table(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
        val idx = Frames.denseIndexByKey(x, keyCols = Seq("nation"),
          bucketCol = expr("x div 1000000"),
          orderCols = Seq(col("x"), col("o_orderkey")), as = "_idx")
        idx.groupBy("nation")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum((col("_idx") + 1L) * col("x")).as("srx"))
          .select(col("nation"), col("n"),
            expr("round(CAST(sx AS DOUBLE) / n / 100.0, 6)").as("mean_price"),
            expr("""round(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
              / (CAST(n AS DOUBLE) * sx), 6)""").as("gini"))
          .orderBy("nation")
      },
      Some("""|WITH x AS (
             |  SELECT n_name AS nation, o_orderkey,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |), r AS (
             |  SELECT nation, x,
             |    row_number() OVER (PARTITION BY nation
             |      ORDER BY x, o_orderkey) AS rk
             |  FROM x
             |)
             |SELECT nation, CAST(count(*) AS BIGINT) AS n,
             |  round(CAST(sum(x) AS DOUBLE) / count(*) / 100.0, 6) AS mean_price,
             |  round(CAST(2 * sum(rk * x) - (count(*) + 1) * sum(x) AS DOUBLE)
             |    / (CAST(count(*) AS DOUBLE) * sum(x)), 6) AS gini
             |FROM r GROUP BY nation ORDER BY nation""".stripMargin)),

    QueryDef("q346_sssp_distributed_tier",
      "distributed SSSP tier certification: q167 with the single-task cap " +
        "forced to 0 (per-round join + min-agg loop)",
      // q167's co-purchase graph is far below graft.graph.localEdgeCap, so
      // the driver gate would otherwise only certify the single-task
      // Bellman-Ford tier; forcing the cap to 0 routes the SAME graph
      // through the distributed round loop against the SAME unrolled-CTE
      // oracle (q342's pattern — the tier dispatch is eager, so the conf
      // bracket around the call suffices even though the frame is lazy).
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
          .withColumn("w", pmod(col("a") + col("b"), lit(7)) + lit(1))
        val seeds = li.filter(col("l_partkey") % 100 === 0)
          .select(col("l_partkey").as("v")).distinct()
        s.conf.set(Graph.LocalEdgeCapKey, "0")
        try Graph.boundedSssp(edges, seeds, iters = 4).orderBy("v")
        finally s.conf.unset(Graph.LocalEdgeCapKey)
      },
      Some(ssspReachOracle)),

    QueryDef("q347_kcore_distributed_tier",
      "distributed k-core tier certification: q218 with the single-task " +
        "cap forced to 0 (per-round degree agg + survivor semi-joins)",
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        s.conf.set(Graph.LocalEdgeCapKey, "0")
        try Graph.boundedKCorePeel(
            Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"),
            k = 80, rounds = 8)
          .orderBy("round")
        finally s.conf.unset(Graph.LocalEdgeCapKey)
      },
      Some(kCorePeelOracle(k = 80, rounds = 8))))

  /** Cramer determinants for the 2-feature OLS normal equations over the
    * one-pass moments (n, sd, sh, sdd, sdh, shh, sy, syd, syh) — valid as a
    * Spark expr AND as DuckDB SQL, so q249 shares one definition across
    * engines (q234 carries the same chains inline). Sums cast to double
    * BEFORE multiplying: the identical IEEE chain either side. */
  private def OlsDetExpr: String =
    """CAST(n AS DOUBLE) * (CAST(sdd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sdh)
      - CAST(sd AS DOUBLE) * (CAST(sd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sh)
      + CAST(sh AS DOUBLE) * (CAST(sd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * sh)"""
  private def OlsDet0Expr: String =
    """CAST(sy AS DOUBLE) * (CAST(sdd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sdh)
      - CAST(sd AS DOUBLE) * (CAST(syd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * syh)
      + CAST(sh AS DOUBLE) * (CAST(syd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * syh)"""
  private def OlsDet1Expr: String =
    """CAST(n AS DOUBLE) * (CAST(syd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * syh)
      - CAST(sy AS DOUBLE) * (CAST(sd AS DOUBLE) * shh - CAST(sdh AS DOUBLE) * sh)
      + CAST(sh AS DOUBLE) * (CAST(sd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sh)"""
  private def OlsDet2Expr: String =
    """CAST(n AS DOUBLE) * (CAST(sdd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sdh)
      - CAST(sd AS DOUBLE) * (CAST(sd AS DOUBLE) * syh - CAST(syd AS DOUBLE) * sh)
      + CAST(sy AS DOUBLE) * (CAST(sd AS DOUBLE) * sdh - CAST(sdd AS DOUBLE) * sh)"""

  /** One Newton iteration's DuckDB CTEs for q250's logistic regression:
    * per-row sigmoid under the previous weights, micro-ROUNDED gradient and
    * Hessian contributions summed as integers, the symmetric 3x3 Cramer
    * solve on doubles cast from those integers, and the weight update
    * pinned to the 9-decimal grid. Mirrors [[newtonStep]] exactly. */
  private def logitIterCtes(r: Int): String =
    s"""p$r AS (
       |  SELECT y, d, h,
       |    1.0 / (1.0 + exp(-(w.w0 + w.w1 * d + w.w2 * h))) AS p
       |  FROM c CROSS JOIN w${r - 1} w
       |), s$r AS (
       |  SELECT
       |    CAST(sum(CAST(round((y - p) * 1e6, 0) AS BIGINT)) AS BIGINT) AS g0,
       |    CAST(sum(CAST(round((y - p) * d * 1e6, 0) AS BIGINT)) AS BIGINT) AS g1,
       |    CAST(sum(CAST(round((y - p) * h * 1e6, 0) AS BIGINT)) AS BIGINT) AS g2,
       |    CAST(sum(CAST(round(p * (1.0 - p) * 1e6, 0) AS BIGINT)) AS BIGINT) AS h00,
       |    CAST(sum(CAST(round(p * (1.0 - p) * d * 1e6, 0) AS BIGINT)) AS BIGINT) AS h01,
       |    CAST(sum(CAST(round(p * (1.0 - p) * h * 1e6, 0) AS BIGINT)) AS BIGINT) AS h02,
       |    CAST(sum(CAST(round(p * (1.0 - p) * d * d * 1e6, 0) AS BIGINT)) AS BIGINT) AS h11,
       |    CAST(sum(CAST(round(p * (1.0 - p) * d * h * 1e6, 0) AS BIGINT)) AS BIGINT) AS h12,
       |    CAST(sum(CAST(round(p * (1.0 - p) * h * h * 1e6, 0) AS BIGINT)) AS BIGINT) AS h22
       |  FROM p$r
       |), m$r AS (
       |  SELECT CAST(g0 AS DOUBLE) / 1e6 AS gp, CAST(g1 AS DOUBLE) / 1e6 AS gq,
       |    CAST(g2 AS DOUBLE) / 1e6 AS gr,
       |    CAST(h00 AS DOUBLE) / 1e6 AS ha, CAST(h01 AS DOUBLE) / 1e6 AS hb,
       |    CAST(h02 AS DOUBLE) / 1e6 AS hc, CAST(h11 AS DOUBLE) / 1e6 AS hd,
       |    CAST(h12 AS DOUBLE) / 1e6 AS he, CAST(h22 AS DOUBLE) / 1e6 AS hf
       |  FROM s$r
       |), det$r AS (
       |  SELECT
       |    ha * (hd * hf - he * he) - hb * (hb * hf - he * hc)
       |      + hc * (hb * he - hd * hc) AS det,
       |    gp * (hd * hf - he * he) - hb * (gq * hf - he * gr)
       |      + hc * (gq * he - hd * gr) AS det0,
       |    ha * (gq * hf - he * gr) - gp * (hb * hf - he * hc)
       |      + hc * (hb * gr - gq * hc) AS det1,
       |    ha * (hd * gr - gq * he) - hb * (hb * gr - gq * hc)
       |      + gp * (hb * he - hd * hc) AS det2
       |  FROM m$r
       |), w$r AS (
       |  SELECT round(w.w0 + det0 / det, 9) AS w0,
       |    round(w.w1 + det1 / det, 9) AS w1,
       |    round(w.w2 + det2 / det, 9) AS w2
       |  FROM det$r CROSS JOIN w${r - 1} w
       |)""".stripMargin

  /** q250's driver-side Newton step over the micro-integer sums collected
    * from one Spark scan — the IDENTICAL double chain as [[logitIterCtes]]
    * (`m`/`det`/`w` CTEs), so both engines replay the same weights. */
  private[queries] def newtonStep(w: Array[Double], sums: Array[Long]): Array[Double] = {
    val Array(g0, g1, g2, h00, h01, h02, h11, h12, h22) = sums
    val gp = g0.toDouble / 1e6; val gq = g1.toDouble / 1e6; val gr = g2.toDouble / 1e6
    val ha = h00.toDouble / 1e6; val hb = h01.toDouble / 1e6; val hc = h02.toDouble / 1e6
    val hd = h11.toDouble / 1e6; val he = h12.toDouble / 1e6; val hf = h22.toDouble / 1e6
    val det = ha * (hd * hf - he * he) - hb * (hb * hf - he * hc) + hc * (hb * he - hd * hc)
    val det0 = gp * (hd * hf - he * he) - hb * (gq * hf - he * gr) + hc * (gq * he - hd * gr)
    val det1 = ha * (gq * hf - he * gr) - gp * (hb * hf - he * hc) + hc * (hb * gr - gq * hc)
    val det2 = ha * (hd * gr - gq * he) - hb * (hb * gr - gq * hc) + gp * (hb * he - hd * hc)
    def pin9(x: Double): Double =
      new java.math.BigDecimal(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    Array(pin9(w(0) + det0 / det), pin9(w(1) + det1 / det), pin9(w(2) + det2 / det))
  }

  /** q236's fixed seeds: the quadrant centers of the 10x10-degree map.
    * (a def: `defs` initializes before any trailing vals would) */
  private def KMeansSeeds: Seq[(Long, Long)] = Seq(
    (2500000L, 2500000L), (2500000L, 7500000L),
    (7500000L, 2500000L), (7500000L, 7500000L))

  /** Unrolled-CTE oracle for [[graft.operators.Spatial.lloydIterations]]:
    * per round, argmin assignment (row_number over (dist2, k) per point)
    * and floor-div centroid update with empty-cluster carry-over — the
    * identical integer recurrence. Points carry user_id so duplicate
    * coordinates (if the md5 map ever collides) stay distinct rows. */
  private def kMeansOracle(seeds: Seq[(Long, Long)], iters: Int): String = {
    val seedRows = seeds.zipWithIndex
      .map { case ((cx, cy), k) => s"($k, ${cx}, ${cy})" }.mkString(", ")
    val roundCtes = (1 to iters).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT user_id, x, y, k, d FROM (
         |    SELECT p.user_id, p.x, p.y, c.k,
         |      (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d,
         |      row_number() OVER (PARTITION BY p.user_id
         |        ORDER BY (p.x - c.cx) * (p.x - c.cx)
         |          + (p.y - c.cy) * (p.y - c.cy), c.k) AS rn
         |    FROM p CROSS JOIN c${r - 1} c
         |  ) WHERE rn = 1
         |), c$r AS MATERIALIZED (
         |  SELECT c${r - 1}.k,
         |    coalesce(CAST(s.sx // s.n AS BIGINT), c${r - 1}.cx) AS cx,
         |    coalesce(CAST(s.sy // s.n AS BIGINT), c${r - 1}.cy) AS cy
         |  FROM c${r - 1} LEFT JOIN (
         |    SELECT k, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |      count(*) AS n
         |    FROM a$r GROUP BY k
         |  ) s USING (k)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH u AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
       |p AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(CAST(('0x' || substr(md5('geo:' || user_id || ':x'), 1, 15))
       |      AS UBIGINT) % 10000000 AS BIGINT) AS x,
       |    CAST(CAST(('0x' || substr(md5('geo:' || user_id || ':y'), 1, 15))
       |      AS UBIGINT) % 10000000 AS BIGINT) AS y
       |  FROM u
       |), c0 AS MATERIALIZED (
       |  SELECT k, CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy
       |  FROM (VALUES $seedRows) AS t(k, cx, cy)
       |), $roundCtes, af AS MATERIALIZED (
       |  SELECT user_id, k, d FROM (
       |    SELECT p.user_id, c.k,
       |      (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d,
       |      row_number() OVER (PARTITION BY p.user_id
       |        ORDER BY (p.x - c.cx) * (p.x - c.cx)
       |          + (p.y - c.cy) * (p.y - c.cy), c.k) AS rn
       |    FROM p CROSS JOIN c$iters c
       |  ) WHERE rn = 1
       |)
       |SELECT c.k, c.cx, c.cy,
       |  CAST(coalesce(s.n, 0) AS BIGINT) AS n,
       |  CAST(coalesce(s.wcss, 0) AS BIGINT) AS wcss
       |FROM c$iters c LEFT JOIN (
       |  SELECT k, count(*) AS n, CAST(sum(d) AS BIGINT) AS wcss
       |  FROM af GROUP BY k
       |) s USING (k)
       |ORDER BY c.k""".stripMargin
  }

  /** Unrolled-CTE oracle for [[graft.operators.Spatial.gridDensityClusters]]
    * over the q216/q235 md5-derived user map: dense cells, 8-neighborhood
    * adjacency, and `rounds` min-label propagation steps — the identical
    * integer recurrence, MATERIALIZED so DuckDB never re-inlines a round. */
  private def gridClusterOracle(rounds: Int): String = {
    val props = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT cx, cy, min(label) AS label FROM (
         |    SELECT cx, cy, label FROM l${r - 1}
         |    UNION ALL
         |    SELECT e.acx, e.acy, l${r - 1}.label
         |    FROM e JOIN l${r - 1} ON l${r - 1}.cx = e.bcx AND l${r - 1}.cy = e.bcy
         |  ) GROUP BY cx, cy
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH u AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
       |p AS MATERIALIZED (
       |  SELECT
       |    CAST(CAST(('0x' || substr(md5('geo:' || user_id || ':x'), 1, 15))
       |      AS UBIGINT) % 10000000 AS BIGINT) AS x,
       |    CAST(CAST(('0x' || substr(md5('geo:' || user_id || ':y'), 1, 15))
       |      AS UBIGINT) % 10000000 AS BIGINT) AS y
       |  FROM u
       |), cells AS MATERIALIZED (
       |  SELECT x // 1000000 AS cx, y // 1000000 AS cy,
       |    count(*) AS n_points
       |  FROM p GROUP BY 1, 2 HAVING count(*) >= 2
       |), e AS MATERIALIZED (
       |  SELECT a.cx AS acx, a.cy AS acy, b.cx AS bcx, b.cy AS bcy
       |  FROM cells a JOIN cells b
       |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       |    AND NOT (a.cx = b.cx AND a.cy = b.cy)
       |), l0 AS MATERIALIZED (
       |  SELECT cx, cy, CAST(cx * 1024 + cy AS BIGINT) AS label FROM cells
       |), $props
       |SELECT cells.cx, cells.cy, n_points, l$rounds.label
       |FROM cells JOIN l$rounds USING (cx, cy)
       |ORDER BY cells.cx, cells.cy""".stripMargin
  }

  /** Unrolled-CTE oracle for [[graft.operators.Graph.boundedSssp]] over
    * the co-purchase graph (4 relaxation rounds, min-plus on longs) —
    * shared by q167 (tier-dispatched, local at driver scale) and q346
    * (cap forced to 0 → the distributed round loop). */
  private def ssspReachOracle: String =
    """|WITH e AS (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |  WHERE x.l_partkey < y.l_partkey
       |), dirE AS (
       |  SELECT a AS src, b AS dst, (a + b) % 7 + 1 AS w FROM e
       |  UNION ALL SELECT b, a, (a + b) % 7 + 1 FROM e
       |), d0 AS (
       |  SELECT DISTINCT l_partkey AS v, CAST(0 AS BIGINT) AS d
       |  FROM lineitem WHERE l_partkey % 100 = 0
       |), d1 AS (
       |  SELECT v, min(d) AS d FROM (
       |    SELECT v, d FROM d0
       |    UNION ALL SELECT de.dst, p.d + de.w FROM dirE de JOIN d0 p ON de.src = p.v
       |  ) GROUP BY v
       |), d2 AS (
       |  SELECT v, min(d) AS d FROM (
       |    SELECT v, d FROM d1
       |    UNION ALL SELECT de.dst, p.d + de.w FROM dirE de JOIN d1 p ON de.src = p.v
       |  ) GROUP BY v
       |), d3 AS (
       |  SELECT v, min(d) AS d FROM (
       |    SELECT v, d FROM d2
       |    UNION ALL SELECT de.dst, p.d + de.w FROM dirE de JOIN d2 p ON de.src = p.v
       |  ) GROUP BY v
       |), d4 AS (
       |  SELECT v, min(d) AS d FROM (
       |    SELECT v, d FROM d3
       |    UNION ALL SELECT de.dst, p.d + de.w FROM dirE de JOIN d3 p ON de.src = p.v
       |  ) GROUP BY v
       |)
       |SELECT v, d AS dist FROM d4 ORDER BY v""".stripMargin

  /** Unrolled-CTE oracle for [[graft.operators.Graph.boundedKCorePeel]]:
    * round r computes degrees of e(r-1), keeps v with d >= k, restricts the
    * edge set — identical integer recurrence to the Spark loop. */
  private def kCorePeelOracle(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { r =>
      s"""deg$r AS MATERIALIZED (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM e${r - 1} UNION ALL SELECT b AS v FROM e${r - 1}
         |  ) GROUP BY v
         |), keep$r AS MATERIALIZED (SELECT v FROM deg$r WHERE d >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT v FROM keep$r) AND b IN (SELECT v FROM keep$r)
         |)""".stripMargin
    }.mkString(", ")
    val rows = (1 to rounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT count(*) FROM deg$r) AS nodes_before,
         |  (SELECT count(*) FROM keep$r) AS kept""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |  WHERE x.l_partkey < y.l_partkey
       |), $peels
       |SELECT * FROM ($rows) ORDER BY round""".stripMargin
  }
}
