package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Overlap-add windowing for unbounded recordings (SURVEY.md §7 hard-part 5).
  *
  * A SegmentFrame row holds one channel's whole trace — fine for bench-scale
  * recordings, unbounded at 100 TB. These operators bound every row instead:
  * the trace is split into `stride`-sample core windows, each extended by
  * `context` samples of real signal on both sides; spectral operators run
  * per window exactly as on whole traces (window id rides inside the
  * `series` name — the "#w<i>" suffix — so every existing operator,
  * including the cross-channel blocked CAR, threads it through untouched);
  * `stitch` then crossfades the overlap regions back into bounded output
  * blocks. Per-time-point ops (CAR, scaling) are exact under windowing;
  * FFT ops (notch, wavelet) differ from the whole-trace result only by
  * boundary leakage, bounded by the crossfade — the same rtol-level
  * equivalence the reference accepts for its chunked iterator
  * (tests/test_pipeline.py:102-154).
  *
  * Scale shape: `windowSegments` is a narrow explode (no shuffle);
  * `windowLong` builds bounded windows straight from a LongFrame with ONE
  * shuffle on (channel, window) — replacing the unbounded whole-trace
  * `Frames.toSegments` as the scale ingest; `stitch` costs one shuffle on
  * (channel, block) with ≤3 contributor rows per group.
  */
object Windowing {

  private val WinToken = "#w"

  /** Crossfade weight of window `win` at global sample `t`: linear ramps of
    * width 2·context centered on the core boundaries; adjacent windows' ramps
    * sum to exactly 1. Trace edges (where only one window covers `t`) are
    * handled by weight normalization in `stitch`, not special-cased here. */
  private def weight(win: Long, t: Long, stride: Int, context: Int): Double =
    if (context == 0) 1.0
    else {
      val upEnd = win * stride + context
      val downStart = (win + 1) * stride - context
      if (t < upEnd) (t - (win * stride - context)).toDouble / (2 * context)
      else if (t >= downStart) ((win + 1) * stride + context - t).toDouble / (2 * context)
      else 1.0
    }

  final case class Win(win: Long, values: Array[Double])

  /** Whole-trace SegmentFrame -> windowed SegmentFrame. Narrow (explode
    * only): row (series, ch, values[N]) becomes ceil(N/stride) rows
    * (series#w<i>, ch, values[<= stride+2*context]) where each window's array
    * carries `context` samples of real neighbor signal on each side
    * (clamped at trace edges). */
  def windowSegments(segments: DataFrame, stride: Int, context: Int): DataFrame = {
    require(context >= 0 && stride >= 2 * context,
      s"need stride >= 2*context for disjoint crossfade ramps (got $stride < 2*$context)")
    val f = udf { (values: Array[Double]) =>
      val n = values.length
      val nw = math.max(1L, ((n + stride - 1) / stride).toLong)
      (0L until nw).map { w =>
        val a = math.max(w * stride - context, 0L).toInt
        val b = math.min((w + 1) * stride + context, n.toLong).toInt
        Win(w, java.util.Arrays.copyOfRange(values, a, b))
      }
    }
    segments
      .withColumn("_w", explode(f(col("values"))))
      .select(concat(col("series"), lit(WinToken), col("_w.win")).as("series"),
        col("channel"), col("band"), col("rate"), col("startingTime"),
        col("_w.values").as("values"))
  }

  /** One packed run of consecutive samples for one trace, bounded by the
    * window-membership region around t0 (all its samples share the same
    * window memberships) and by [[FragCap]]. */
  final case class Frag(series: String, channel: Option[Int], band: Option[Int],
                        rate: Option[Double], startingTime: Option[Double],
                        t0: Long, vals: Array[Double])

  /** Fragment size cap: bounds the per-trace open buffer held map-side
    * (FragCap doubles) and the single-row payload on the shuffle wire. */
  private val FragCap = 8192

  /** Open fragment state for one trace inside one input partition. */
  private final class FragState(val band: Option[Int], val rate: Option[Double],
                                val startingTime: Option[Double]) {
    var t0: Long = 0L
    var cut: Long = 0L // exclusive end: next membership boundary or cap
    var last: Long = 0L
    var buf: Array[Double] = new Array[Double](64)
    var n: Int = 0
    def add(v: Double): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      buf(n) = v
      n += 1
    }
    def take(): Array[Double] = {
      val out = java.util.Arrays.copyOf(buf, n)
      n = 0
      out
    }
  }

  /** First membership boundary strictly after t: window membership changes
    * only where t mod stride crosses {0, context, stride-context}, so a run
    * cut at these points has ONE membership set for all its samples. */
  private def nextBoundary(t: Long, stride: Int, context: Int): Long = {
    val r = java.lang.Math.floorMod(t, stride.toLong)
    val base = t - r
    if (context == 0 || r >= stride - context) base + stride
    else if (r < context) base + context
    else base + (stride - context)
  }

  /** The narrow map-side level of the two-level ingest: pack consecutive
    * samples into membership-uniform runs (<= FragCap) per trace, one open
    * buffer per trace per partition. */
  private[graft] def fragments(long: DataFrame, stride: Int,
                               context: Int): org.apache.spark.sql.Dataset[Frag] = {
    val spark = long.sparkSession
    import spark.implicits._
    // CONTRACT: this cast canonicalizes the LongFrame metadata column types —
    // channel/band int, rate/startingTime double — so the emitted SegmentFrame
    // always carries these types regardless of how the input parquet was
    // written (e.g. a long channel column). Callers needing the original
    // numeric types must re-cast on output; every graft source already
    // produces the canonical types.
    val typed = long.select(
        col("series").cast("string"), col("channel").cast("int"),
        col("band").cast("int"), col("rate").cast("double"),
        col("startingTime").cast("double"), col("t_idx").cast("long"),
        col("value").cast("double"))
      .as[(String, Option[Int], Option[Int], Option[Double], Option[Double],
           Option[Long], Option[Double])]
    typed.mapPartitions { rows =>
      // keyed by (series, channel, band) — the full trace identity. Keying
      // by (series, channel) alone would thrash on band-interleaved multi-
      // band frames: every row fails the continuation guard, flushing
      // one-sample runs = worse than the per-sample path it replaced
      val open = scala.collection.mutable.HashMap
        .empty[(String, Option[Int], Option[Int]), FragState]
      def flush(key: (String, Option[Int], Option[Int]), s: FragState): Frag =
        Frag(key._1, key._2, s.band, s.rate, s.startingTime, s.t0, s.take())
      val emitted = rows.flatMap { case (series, channel, band, rate, st, tOpt, vOpt) =>
        tOpt match {
          case None => Iterator.empty // null t_idx = no slot, like assemble_series
          case Some(t) =>
            val v = vOpt.getOrElse(Double.NaN) // null value = missing sample
            val key = (series, channel, band)
            open.get(key) match {
              case Some(s) if t == s.last + 1 && t < s.cut && s.n < FragCap &&
                  s.rate == rate && s.startingTime == st =>
                s.add(v)
                s.last = t
                Iterator.empty
              case prev =>
                val s = new FragState(band, rate, st)
                s.t0 = t
                s.cut = math.min(nextBoundary(t, stride, context), t + FragCap)
                s.last = t
                s.add(v)
                open.put(key, s)
                prev.filter(_.n > 0).map(p => flush(key, p)).iterator
            }
        }
      }
      emitted ++ open.iterator.filter(_._2.n > 0).map { case (k, s) => flush(k, s) }
    }
  }

  /** LongFrame -> windowed SegmentFrame with bounded rows — the 100 TB
    * ingest path, two-level: a NARROW per-partition pass packs consecutive
    * samples into membership-uniform runs of <= FragCap (packed
    * Array[Double] rows — per-partition imperative logic, the one place the
    * mapPartitions escape hatch earns its keep: an aggregate would pay a
    * per-SAMPLE group-key hash + interpreted eval, measured as the dominant
    * ingest cost at the 640M-point soak), then ONE shuffle of fragment rows
    * on (series, channel, window) and an O(len) offset placement per window
    * (assemble_fragments). Scattered layouts degrade gracefully: a run
    * breaks wherever t_idx is non-consecutive within a partition, worst
    * case one-sample runs = the old per-sample shape. Trace lengths come
    * from a one-row-per-(series,channel) aggregate over the FRAGMENT frame
    * (1/FragCap the rows of the input) broadcast back in, so no stub
    * windows appear past the trace end. */
  def windowLong(long: DataFrame, stride: Int, context: Int): DataFrame = {
    require(context >= 0 && stride >= 2 * context,
      s"need stride >= 2*context for disjoint crossfade ramps (got $stride < 2*$context)")
    val spark = long.sparkSession
    val frags = fragments(long, stride, context)
    val core = floor(col("t0") / stride).cast("long")
    val wins =
      if (context == 0) frags.toDF().withColumn("_w", core)
      else {
        // trace lengths from the RAW long frame (codegen'd max over 2
        // primitive group keys — cheap), not from `frags`: the fragment
        // builder is the expensive stage and must not run twice just to
        // size the broadcast side
        val nWins = long.groupBy("series", "channel")
          .agg((floor(max(col("t_idx")) / stride) + 1).cast("long").as("_nw"))
        val r = pmod(col("t0"), lit(stride))
        frags.toDF()
          .join(broadcast(nWins), Seq("series", "channel"))
          // a null filter after the explode, not array_compact: that one
          // is an interpreted higher-order function (ArrayFilter) per row
          .withColumn("_w", explode(array(
            core,
            when(r < context && col("t0") >= stride, core - 1),
            when(r >= stride - context && core + 1 < col("_nw"), core + 1))))
          .filter(col("_w").isNotNull)
      }
    wins
      .groupBy("series", "channel", "band", "rate", "startingTime", "_w")
      .agg(graft.functions.SeriesAssembleFunctions.assembleFragments(
        spark, col("t0"), col("vals")).as("values"))
      .select(concat(col("series"), lit(WinToken), col("_w")).as("series"),
        col("channel"), col("band"), col("rate"), col("startingTime"),
        col("values"))
  }

  final case class Contrib(win: Long, blk: Long, off: Int, vals: Array[Double])

  /** Windowed SegmentFrame (after per-window ops) -> bounded output blocks:
    * one row per (channel, band, block) with `values` of <= stride samples,
    * `win_idx` = block index, base `series` restored. Each window emits its
    * crossfade-weighted pieces to the <= 3 blocks it covers; one shuffle
    * groups the <= 3 contributors per block and normalizes by the weight sum
    * (which is 1 in the interior and self-corrects at trace edges).
    *
    * Only the weighted VALUES cross the shuffle: the weight of window `win`
    * at sample `t` is a pure function of (win, t, stride, context), so the
    * combine side recomputes it from the contributor's window id instead of
    * shipping a second full-width array — halves stitch shuffle volume
    * (measured 66 GB of spill at the 640M-point soak before this). */
  def stitch(windowed: DataFrame, stride: Int, context: Int): DataFrame = {
    require(context >= 0 && stride >= 2 * context)
    val contribs = udf { (win: Long, values: Array[Double]) =>
      val a = math.max(win * stride - context, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[Contrib]
      var blk = a / stride
      val end = a + values.length
      while (blk * stride < end) {
        val t0 = math.max(blk * stride, a)
        val t1 = math.min((blk + 1) * stride, end)
        if (t1 > t0) {
          val vals = new Array[Double]((t1 - t0).toInt)
          var i = 0
          while (i < vals.length) {
            val t = t0 + i
            vals(i) = values((t - a).toInt) * weight(win, t, stride, context)
            i += 1
          }
          out += Contrib(win, blk, (t0 - blk * stride).toInt, vals)
        }
        blk += 1
      }
      out.toSeq
    }
    val combine = udf { (rows: Seq[Row]) =>
      val parts = rows.map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getSeq[Double](3).toArray))
      val len = parts.map { case (_, _, off, v) => off + v.length }.max
      val acc = new Array[Double](len)
      val wacc = new Array[Double](len)
      for ((win, blk, off, v) <- parts) {
        var i = 0
        while (i < v.length) {
          acc(off + i) += v(i)
          wacc(off + i) += weight(win, blk * stride + off + i, stride, context)
          i += 1
        }
      }
      var i = 0
      while (i < len) { acc(i) = if (wacc(i) > 0) acc(i) / wacc(i) else 0.0; i += 1 }
      acc
    }
    val parsed = windowed
      .withColumn("_base", substring_index(col("series"), WinToken, 1))
      .withColumn("_win", substring_index(col("series"), WinToken, -1).cast("long"))
      .withColumn("_c", explode(contribs(col("_win"), col("values"))))
    parsed
      .groupBy(col("_base"), col("channel"), col("band"), col("rate"),
        col("startingTime"), col("_c.blk").as("win_idx"))
      .agg(collect_list(struct(col("_c.win"), col("_c.blk"), col("_c.off"),
        col("_c.vals"))).as("parts"))
      .select(col("_base").as("series"), col("channel"), col("band"), col("rate"),
        col("startingTime"), col("win_idx"), combine(col("parts")).as("values"))
  }

  /** Context-0 inverse of windowLong: windowed SegmentFrame -> LongFrame
    * with the global t_idx restored, no crossfade needed (disjoint windows).
    * Narrow. */
  def windowedToLong(windowed: DataFrame, stride: Int): DataFrame =
    windowed
      .withColumn("win_idx", substring_index(col("series"), WinToken, -1).cast("long"))
      .withColumn("series", substring_index(col("series"), WinToken, 1))
      .select(col("series"), col("channel"), col("band"), col("rate"),
        col("startingTime"), col("win_idx"),
        posexplode(col("values")).as(Seq("_pos", "value")))
      .withColumn("t_idx", col("win_idx") * stride + col("_pos"))
      .drop("win_idx", "_pos")

  /** Stitched blocks -> LongFrame with the global t_idx restored. Narrow. */
  def stitchedToLong(stitched: DataFrame, stride: Int): DataFrame =
    stitched
      .select(col("series"), col("channel"), col("band"), col("rate"),
        col("startingTime"), col("win_idx"),
        posexplode(col("values")).as(Seq("_pos", "value")))
      .withColumn("t_idx", col("win_idx") * stride + col("_pos"))
      .drop("win_idx", "_pos")
}
