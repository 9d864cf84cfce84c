package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Common average referencing (CAR), the engine's one cross-channel
  * reduction (SURVEY.md §1.3).
  *
  * Semantics (ref common_referencing.py:11-68): per time point, sort the
  * channel values with NaN last (like np.sort), drop
  * `nExclude = ceil(m*(1-meanFrac)/2)` from each end, and nanmean the
  * middle; `meanFrac = 1` degenerates to the plain nanmean. The CAR is
  * subtracted from every channel at that time point. `m` is the number of
  * channels present in the time block, as the reference takes it from
  * `data.shape[1]`: no job counts channels up front. On a rectangular
  * frame that is every channel; a series missing a channel, or a channel
  * whose trace ends before a block starts, trims the blocks it lacks from
  * the channels they hold. A trace that ends inside a block cuts that
  * block of every channel to its length (`carOfBlock` runs to the
  * shortest block). A block too narrow to trim (`2·nExclude ≥ m`) fails
  * its task with the same message `meanFrac` gets when it excludes every
  * channel.
  *
  * Shape: segments are cut into fixed `blockSize`-sample time blocks
  * (narrow, the native `segment_blocks` + `posexplode`), the blocks of all
  * channels for one time range meet in one shuffle keyed on (series, band,
  * rate, startingTime, block_idx) — nBlocks rows, not nSamples, placed by
  * block id (`perBlock`) — and a native aggregate (`car_block` /
  * `car_subtract_block`, [[graft.functions.CarBlock]]) collects each
  * block's (channel, samples) pairs in packed buffers and runs `carOfBlock`
  * on them. A second shuffle reassembles the blocks into segments. No
  * Scala UDF is on the path. `Signal.trimmedMean` is the plain-Scala
  * reference the specs check this kernel against.
  *
  * Placement of the referenced segments: the reassembly shuffle of
  * `subtractCarSegments` decides the parallelism of everything downstream
  * of CAR (wavelet, amplitude, final resample, write — the heaviest stage
  * of the preprocessing chain, one channel row at a time). A hash exchange
  * is wrong there: it carries only a few MB, so AQE coalesces it by bytes
  * onto 1–3 tasks, and channels that do hash apart can still collide. The
  * exchange is therefore placed by channel id (`repartitionById`) onto the
  * shuffle partitions: an explicit partition count that AQE never
  * coalesces, with channel `c` of a series at partition `(h + c) mod n`,
  * `h` a hash of the series keys, so one series puts one channel per task
  * and several series rotate over all `n` partitions. Balance assumes dense
  * channel ids (0..m-1), the SegmentFrame convention; sparse ids stay
  * correct, only less even.
  */
object CommonReferencing {

  private def checkMeanFrac(meanFrac: Double): Unit =
    require(meanFrac > 0.0 && meanFrac <= 1.0, s"meanFrac=$meanFrac outside (0, 1]")

  /** Trim count per end: the reference's `round_func` default, np.ceil. */
  private[graft] def nExcludeFor(nChannels: Int, meanFrac: Double): Int = {
    checkMeanFrac(meanFrac)
    val nExclude = math.ceil(nChannels * (1.0 - meanFrac) / 2.0).toInt
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
  private[graft] def carOfBlock(byCh: Array[(Int, Array[Double])], nExclude: Int,
                                single: Boolean): Array[Double] = {
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

  /** Each channel's block minus the block's CAR; `single` subtracts in
    * float32, like `X.astype(f32) - avg`. */
  private[graft] def subtractOfBlock(byCh: Array[(Int, Array[Double])], nExclude: Int,
                                     single: Boolean): Array[(Int, Array[Double])] = {
    val car = carOfBlock(byCh, nExclude, single)
    byCh.map { case (ch, b) =>
      val out = new Array[Double](car.length)
      var i = 0
      if (single)
        while (i < car.length) { out(i) = (b(i).toFloat - car(i).toFloat).toDouble; i += 1 }
      else
        while (i < car.length) { out(i) = b(i) - car(i); i += 1 }
      (ch, out)
    }
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

  /** Columns of one time block across channels: the CAR shuffle's key. */
  private val BlockKey = Seq("series", "band", "rate", "startingTime", "block_idx")

  /** `pmod(hash(series, band, rate, startingTime), n) + k`: the partition
    * id (mod `n`) of item `k` of a series, so one series' items take
    * consecutive partitions from a hashed start. */
  private def placed(k: Column, n: Int): Column =
    pmod(hash(col("series"), col("band"), col("rate"), col("startingTime")), lit(n)) + k

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** The CAR shuffle: segments are cut into `blockSize`-sample blocks
    * (narrow), blocks of every channel for the same time range meet in one
    * row per `BlockKey`, and the CAR aggregate maps their (channel, block)
    * pairs to `block`: the CAR block, or (`referenced`) every channel's
    * block minus it as `array<struct<channel, block>>`.
    *
    * The exchange is placed by block id (`_bid = placed(block_idx)`, `n` =
    * shuffle partitions), for the reason the reassembly is placed by
    * channel: hashed, its few MB are coalesced by AQE onto one task that
    * then runs the kernel for every block of the recording. `_bid` is a
    * grouping key too, dropped after the aggregate. The aggregate sees the
    * channels in shuffle order; the kernel sorts each time point's values,
    * so no output bit depends on it. */
  private def perBlock(segments: DataFrame, meanFrac: Double, blockSize: Int,
                       precision: String, referenced: Boolean): DataFrame = {
    checkMeanFrac(meanFrac)
    val n = shufflePartitions(segments)
    val fns = graft.functions.DspFunctions
    segments.select(
        col("series"), col("channel"), col("band"), col("rate"), col("startingTime"),
        posexplode(fns.blocks(segments, col("values"), blockSize)).as(Seq("block_idx", "block")))
      .withColumn("_bid", placed(col("block_idx"), n))
      .repartitionById(n, col("_bid"))
      .groupBy((BlockKey :+ "_bid").map(col): _*)
      .agg(fns.car(segments, col("channel"), col("block"), meanFrac, precision, referenced)
        .as("block"))
  }

  /** CAR subtracted from every channel, without a channel count: the one
    * implementation behind `Pipeline.preprocessBlock`, the `Store` chain and
    * [[subtractCarSegments]]. Blocks are cut (narrow), met across channels
    * in one shuffle (`perBlock`), referenced by `carOfBlock`, and
    * reassembled into channel segments by a second shuffle — measured ~10x
    * faster than a per-sample aggregate + join at 64ch x 1M samples. Block
    * boundaries change nothing: the trimmed mean is per time point.
    *
    * The reassembly shuffle is placed by channel id, not hashed: row
    * `_pid = pmod(hash(series, band, rate, startingTime), n) + channel`
    * goes to partition `_pid mod n`, `n` = shuffle partitions. A hash
    * exchange here is coalesced by AQE to 1–3 tasks (it moves a few MB),
    * which then run every downstream per-channel stage; an explicit count
    * is never coalesced. `_pid` is also a grouping key of the reassembly,
    * so the id-placed exchange satisfies the aggregate and the plan keeps
    * its two exchanges. Even balance assumes dense channel ids. */
  private[graft] def subtractCar(segments: DataFrame, meanFrac: Double = 0.95,
                                 blockSize: Int = 8192,
                                 precision: String = "double"): DataFrame = {
    val n = shufflePartitions(segments)
    val byChannel = perBlock(segments, meanFrac, blockSize, precision, referenced = true)
      .select(BlockKey.map(col) :+ inline(col("block")): _*)
      .withColumn("_pid", placed(col("channel"), n))
      .repartitionById(n, col("_pid"))
    reassemble(byChannel, Seq("series", "channel", "band", "rate", "startingTime", "_pid"),
      blockSize).drop("_pid")
  }

  /** The CAR trace itself as a channel-less SegmentFrame (channel = null) —
    * the series the reference materializes alongside the referenced data:
    * `CAR_of_<name>` in store_linenoise_notch_CAR (pipelines.py:159-170) and
    * the literal `CAR` series in store_subtract_CAR
    * (common_referencing.py:116-128). Same blocked two-shuffle shape as
    * [[subtractCar]], but the cross-channel aggregate emits ONE array per
    * block, so the reassembly side is nBlocks rows per series — tiny. */
  private[graft] def car(segments: DataFrame, meanFrac: Double = 0.95,
                         blockSize: Int = 8192, precision: String = "double"): DataFrame =
    reassemble(perBlock(segments, meanFrac, blockSize, precision, referenced = false),
        Seq("series", "band", "rate", "startingTime"), blockSize)
      .select(col("series"), lit(null).cast("int").as("channel"), col("band"),
        col("rate"), col("startingTime"), col("values"))

  /** [[subtractCar]], with `nChannels` checked against `meanFrac` when it
    * is called. The trim itself counts the channels of each block. */
  def subtractCarSegments(segments: DataFrame, nChannels: Int,
                          meanFrac: Double = 0.95, blockSize: Int = 8192,
                          precision: String = "double"): DataFrame = {
    nExcludeFor(nChannels, meanFrac)
    subtractCar(segments, meanFrac, blockSize, precision)
  }

  /** [[car]], with `nChannels` checked against `meanFrac` when it is
    * called. The trim itself counts the channels of each block. */
  def carSegments(segments: DataFrame, nChannels: Int,
                  meanFrac: Double = 0.95, blockSize: Int = 8192,
                  precision: String = "double"): DataFrame = {
    nExcludeFor(nChannels, meanFrac)
    car(segments, meanFrac, blockSize, precision)
  }
}
