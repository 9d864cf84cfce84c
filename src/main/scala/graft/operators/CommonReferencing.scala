package graft.operators

import org.apache.spark.sql.{DataFrame, Column, Row}
import org.apache.spark.sql.functions._

import graft.store.NwbStore.isSingle

/** Common average referencing — the engine's flagship cross-channel
  * aggregate, in pure Spark SQL (no UDF, fully codegen-able).
  *
  * Semantics (ref /root/reference/src/process_nwb/common_referencing.py:11-68):
  * per time point, sort the channel values, drop
  * `nExclude = ceil(nChannels*(1-meanFrac)/2)` from each end, average the
  * middle; `meanFrac = 1` degenerates to the plain mean. Nulls are skipped
  * like np.nanmean. The subtraction broadcasts the per-time aggregate back
  * onto every channel row.
  *
  * Scale shape: one shuffle on (series, t_idx) for the aggregate; the
  * add-back join shuffles the long frame once more unless AQE broadcasts the
  * (n_time-rows) CAR side, which it will whenever n_time is modest. This is
  * the reference's only cross-channel reduction (SURVEY.md §1.3), so the
  * pipeline pays for time-axis partitioning exactly once.
  */
object CommonReferencing {

  /** Trimmed-mean aggregation column over a grouped `value`, with the
    * reference's NaN semantics (common_referencing.py:34-41): sort with
    * NaN/null LAST (so missing samples land in the tail trim window, not
    * silently dropped before the sort), trim nExclude from each end, then
    * nanmean the kept middle. Nulls are normalized to NaN first —
    * collect_list would otherwise drop them pre-sort and shift the window.
    * `roundFunc` is the reference's round_func (common_referencing.py:11,37):
    * how `nChannels*(1-meanFrac)/2` rounds to a channel count — math.ceil
    * (default), math.floor, or math.rint for np.round parity. */
  def trimmedMeanAgg(nChannels: Int, meanFrac: Double = 0.95,
                     roundFunc: Double => Double = math.ceil): Column = {
    val nanSafe = coalesce(col("value"), lit(Double.NaN))
    if (meanFrac == 1.0) {
      // np.nanmean: skip NaN (Spark avg skips null but propagates NaN)
      avg(when(isnan(nanSafe), lit(null)).otherwise(nanSafe))
    } else {
      val nExclude = roundFunc(nChannels * (1.0 - meanFrac) / 2.0).toInt
      require(2 * nExclude < nChannels,
        s"meanFrac=$meanFrac excludes all $nChannels channels")
      // sort_array orders NaN greater than any double, like np.sort
      val kept = filter(
        slice(sort_array(collect_list(nanSafe)), nExclude + 1, nChannels - 2 * nExclude),
        x => !isnan(x))
      aggregate(kept, lit(0.0), (a, x) => a + x) / size(kept)
    }
  }

  /** Native one-pass form of `trimmedMeanAgg`: a TypedImperativeAggregate
    * (graft.functions.TrimmedMeanNan) holding a primitive double buffer per
    * group — no collect_list array materialization, no interpreted
    * higher-order functions. Bit-identical results on every group size:
    * `nKeep = nChannels - 2*nExclude` reproduces the SQL form's slice
    * window even for ragged groups shorter than nChannels, and the
    * kept-window sum runs in the same sorted order. Needs a session for
    * function registration, hence the extra parameter; `trimmedMeanAgg`
    * remains the registration-free pure-SQL expression. */
  def trimmedMeanAggNative(spark: org.apache.spark.sql.SparkSession,
                           nChannels: Int, meanFrac: Double = 0.95,
                           roundFunc: Double => Double = math.ceil,
                           precision: String = "double"): Column = {
    val nExclude = nExcludeFor(nChannels, meanFrac, roundFunc)
    graft.functions.TrimmedMeanFunctions.trimmedMeanNan(spark, col("value"),
      nExclude, nChannels - 2 * nExclude, single = isSingle(precision))
  }

  /** Per-(series, t_idx) CAR frame: columns (series, t_idx, car). */
  def car(long: DataFrame, nChannels: Int, meanFrac: Double = 0.95,
          roundFunc: Double => Double = math.ceil,
          precision: String = "double"): DataFrame =
    long.groupBy("series", "t_idx")
      .agg(trimmedMeanAggNative(long.sparkSession, nChannels, meanFrac, roundFunc,
        precision).as("car"))

  /** Subtract the CAR from every channel sample of a LongFrame — the
    * reference-shaped join form: groupBy(t_idx) aggregate + add-back join,
    * which relies on AQE broadcasting the n_time-row CAR side. Fine at
    * modest n_time; for unbounded recordings use `subtractCarLongBlocked`,
    * whose shuffle widths are bounded by its stride. */
  def subtractCar(long: DataFrame, nChannels: Int, meanFrac: Double = 0.95,
                  roundFunc: Double => Double = math.ceil,
                  precision: String = "double"): DataFrame = {
    val diff =
      if (isSingle(precision)) // float32 subtract, like X.astype(f32) - avg
        (col("value").cast("float") - col("car").cast("float")).cast("double")
      else col("value") - col("car")
    long.join(car(long, nChannels, meanFrac, roundFunc, precision), Seq("series", "t_idx"))
      .withColumn("value", diff)
      .drop("car")
  }

  /** Long-form CAR at scale: pack the long frame into bounded disjoint
    * windows (Windowing.windowLong, context 0 — the trimmed mean is
    * per-time-point, so window boundaries change nothing), run the blocked
    * segment CAR inside each window, unpack back to the long layout. One
    * bounded per-sample shuffle plus two segment-level ones; no per-sample
    * aggregate join, no unbounded rows, regardless of recording length.
    * Nulls are normalized to NaN up front (missing samples then follow the
    * reference's sort-last/nanmean path, common_referencing.py:34-41), so
    * missing inputs yield NaN outputs where the join form yields null —
    * equivalent under np.isnan-style comparison. */
  def subtractCarLongBlocked(long: DataFrame, nChannels: Int,
                             meanFrac: Double = 0.95,
                             roundFunc: Double => Double = math.ceil,
                             stride: Int = 8192,
                             precision: String = "double"): DataFrame = {
    val nanSafe = long.withColumn("value",
      coalesce(col("value").cast("double"), lit(Double.NaN)))
    val windowed = Windowing.windowLong(nanSafe, stride, context = 0)
    val referenced = subtractCarSegments(windowed, nChannels, meanFrac, stride,
      roundFunc, precision)
    Windowing.windowedToLong(referenced, stride)
  }

  private def nExcludeFor(nChannels: Int, meanFrac: Double,
                          roundFunc: Double => Double): Int = {
    val nExclude =
      if (meanFrac == 1.0) 0
      else roundFunc(nChannels * (1.0 - meanFrac) / 2.0).toInt
    require(2 * nExclude < nChannels,
      s"meanFrac=$meanFrac excludes all $nChannels channels")
    nExclude
  }

  /** Per-time-point trimmed nanmean across a block of channel arrays: sort
    * channel values (NaN last, like np.sort), trim nExclude from each end,
    * nanmean the kept middle. `single = true` casts to float32 and
    * accumulates the nanmean in float32 — the reference's
    * precision='single' compute mode (common_referencing.py:11-23 via
    * utils.py:9-31). */
  private def carOfBlock(byCh: Array[(Int, Array[Double])], nExclude: Int,
                         single: Boolean = false): Array[Double] = {
    val m = byCh.length // channels present in this block (nChannels if rectangular)
    val len = byCh.map(_._2.length).min
    val car = new Array[Double](len)
    if (single) {
      val sorted = new Array[Float](m)
      var t = 0
      while (t < len) {
        var i = 0
        while (i < byCh.length) { sorted(i) = byCh(i)._2(t).toFloat; i += 1 }
        java.util.Arrays.sort(sorted) // NaN sorts last, like np.sort
        var s = 0.0f
        var cnt = 0
        var k = nExclude
        while (k < m - nExclude) {
          val v = sorted(k)
          if (!v.isNaN) { s += v; cnt += 1 } // float32 nanmean of the middle
          k += 1
        }
        car(t) = (s / cnt).toDouble
        t += 1
      }
    } else {
      val sorted = new Array[Double](m)
      var t = 0
      while (t < len) {
        var i = 0
        while (i < byCh.length) { sorted(i) = byCh(i)._2(t); i += 1 }
        java.util.Arrays.sort(sorted) // NaN sorts last, like np.sort
        var s = 0.0
        var cnt = 0
        var k = nExclude
        while (k < m - nExclude) {
          val v = sorted(k)
          if (!v.isNaN) { s += v; cnt += 1 } // nanmean of the kept middle
          k += 1
        }
        car(t) = s / cnt
        t += 1
      }
    }
    car
  }

  /** Split segments into blockSize-sample blocks (narrow). */
  private def blocked(segments: DataFrame, blockSize: Int): DataFrame = {
    val toBlocks = udf { (values: Array[Double]) =>
      values.grouped(blockSize).toArray
    }
    segments.select(
      col("series"), col("channel"), col("band"), col("rate"), col("startingTime"),
      posexplode(toBlocks(col("values"))).as(Seq("block_idx", "block")))
  }

  /** Reassemble per-key segments from blocks in block order — native
    * assemble_fragments with each block placed at sample offset
    * `block_idx * blockSize` (packed buffers, O(n) dense placement), not
    * array_sort(collect_list(struct)) with its interpreted per-pair struct
    * comparator. Groups here are small (nBlocks rows), but this sits on the
    * reassembly path of every blocked-CAR query. */
  private def reassemble(blocks: DataFrame, keys: Seq[String], blockSize: Int): DataFrame =
    blocks
      .groupBy(keys.head, keys.tail: _*)
      .agg(graft.functions.SeriesAssembleFunctions.assembleFragments(
        blocks.sparkSession, col("block_idx").cast("long") * blockSize, col("block"))
        .as("values"))

  /** Subtract CAR on a SegmentFrame via fixed-size time blocks instead of
    * per-sample rows: segments split into `blockSize`-sample blocks
    * (narrow), blocks of all channels for the same time range meet in one
    * shuffle (nBlocks rows, not nSamples), the trimmed mean runs as a tight
    * JVM loop per block, and a second shuffle reassembles channel segments.
    * Identical semantics to the long-form path (the trimmed mean is
    * per-time-point; block boundaries don't change it) — measured ~10x
    * faster at 64ch x 1M samples. Cross-channel math costs exactly these
    * two shuffles; everything else in the pipeline stays narrow. */
  def subtractCarSegments(segments: DataFrame, nChannels: Int,
                          meanFrac: Double = 0.95, blockSize: Int = 8192,
                          roundFunc: Double => Double = math.ceil,
                          precision: String = "double"): DataFrame = {
    val nExclude = nExcludeFor(nChannels, meanFrac, roundFunc)
    val single = isSingle(precision)

    // one row per (series, block_idx): all channels' blocks
    val subtractUdf = udf { (chBlocks: Seq[Row]) =>
      val byCh = chBlocks.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toArray
      val car = carOfBlock(byCh, nExclude, single)
      byCh.map { case (ch, b) =>
        val out = new Array[Double](car.length)
        var i = 0
        if (single) // float32 subtract, like X.astype(f32) - avg
          while (i < car.length) { out(i) = (b(i).toFloat - car(i).toFloat).toDouble; i += 1 }
        else
          while (i < car.length) { out(i) = b(i) - car(i); i += 1 }
        (ch, out)
      }
    }
    val referenced = blocked(segments, blockSize)
      .groupBy("series", "band", "rate", "startingTime", "block_idx")
      .agg(collect_list(struct(col("channel"), col("block"))).as("chBlocks"))
      .select(col("series"), col("band"), col("rate"), col("startingTime"), col("block_idx"),
        explode(subtractUdf(col("chBlocks"))).as("cb"))
      .select(col("series"), col("cb._1").as("channel"), col("band"),
        col("rate"), col("startingTime"), col("block_idx"), col("cb._2").as("block"))

    reassemble(referenced, Seq("series", "channel", "band", "rate", "startingTime"), blockSize)
  }

  /** The CAR trace itself as a channel-less SegmentFrame (channel = null) —
    * the series the reference materializes alongside the referenced data:
    * `CAR_of_<name>` in store_linenoise_notch_CAR (pipelines.py:159-170) and
    * the literal `CAR` series in store_subtract_CAR
    * (common_referencing.py:116-128). Same blocked two-shuffle shape as
    * subtractCarSegments, but the cross-channel aggregate emits ONE array
    * per block, so the reassembly side is nBlocks rows per series — tiny. */
  def carSegments(segments: DataFrame, nChannels: Int,
                  meanFrac: Double = 0.95, blockSize: Int = 8192,
                  roundFunc: Double => Double = math.ceil,
                  precision: String = "double"): DataFrame = {
    val nExclude = nExcludeFor(nChannels, meanFrac, roundFunc)
    val single = isSingle(precision)
    val carUdf = udf { (chBlocks: Seq[Row]) =>
      carOfBlock(chBlocks.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toArray,
        nExclude, single)
    }
    val carBlocks = blocked(segments, blockSize)
      .groupBy("series", "band", "rate", "startingTime", "block_idx")
      .agg(collect_list(struct(col("channel"), col("block"))).as("chBlocks"))
      .select(col("series"), col("band"), col("rate"), col("startingTime"),
        col("block_idx"), carUdf(col("chBlocks")).as("block"))
    reassemble(carBlocks, Seq("series", "band", "rate", "startingTime"), blockSize)
      .select(col("series"), lit(null).cast("int").as("channel"), col("band"),
        col("rate"), col("startingTime"), col("values"))
  }
}
