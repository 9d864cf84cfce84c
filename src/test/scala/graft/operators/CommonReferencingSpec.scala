package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dsp.Signal
import graft.functions.SeriesAssembleFunctions

/** The native CAR aggregate (`segment_blocks` + `car_block` /
  * `car_subtract_block`) against the form it replaced, and the trim rule
  * for blocks that lack a channel. */
class CommonReferencingSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private val BlockKey = Seq("series", "band", "rate", "startingTime", "block_idx")

  /** CAR as it ran before the native aggregate, kept as the bit-identity
    * reference: a typed UDF cuts each trace (`toBlocks` + `posexplode`),
    * `collect_list(struct(channel, block))` meets a block's channels, and a
    * typed UDF over the collected rows runs the kernel, trimming by
    * `nChannels`. Returns the referenced segments, or (`referenced =
    * false`) the CAR trace. */
  private def udfForm(segments: DataFrame, nChannels: Int, meanFrac: Double, blockSize: Int,
                      precision: String, referenced: Boolean): DataFrame = {
    val nExclude = CommonReferencing.nExcludeFor(nChannels, meanFrac)
    val single = precision == "single"
    val toBlocks = udf { (values: Array[Double]) => values.grouped(blockSize).toArray }
    def rows(chBlocks: Seq[Row]) =
      chBlocks.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toArray
    val subtractUdf = udf { (chBlocks: Seq[Row]) =>
      CommonReferencing.subtractOfBlock(rows(chBlocks), nExclude, single)
    }
    val carUdf = udf { (chBlocks: Seq[Row]) =>
      CommonReferencing.carOfBlock(rows(chBlocks), nExclude, single)
    }
    val collected = segments.select(
        col("series"), col("channel"), col("band"), col("rate"), col("startingTime"),
        posexplode(toBlocks(col("values"))).as(Seq("block_idx", "block")))
      .groupBy(BlockKey.map(col): _*)
      .agg(collect_list(struct(col("channel"), col("block"))).as("chBlocks"))
    val (blocks, keys) =
      if (referenced)
        (collected.select(BlockKey.map(col) :+ explode(subtractUdf(col("chBlocks"))).as("cb"): _*)
          .select(col("series"), col("cb._1").as("channel"), col("band"), col("rate"),
            col("startingTime"), col("block_idx"), col("cb._2").as("block")),
          Seq("series", "channel", "band", "rate", "startingTime"))
      else
        (collected.select(BlockKey.map(col) :+ carUdf(col("chBlocks")).as("block"): _*),
          Seq("series", "band", "rate", "startingTime"))
    val segs = blocks.groupBy(keys.map(col): _*)
      .agg(SeriesAssembleFunctions.assembleFragments(spark,
        col("block_idx").cast("long") * blockSize, col("block")).as("values"))
    if (referenced) segs else segs.withColumn("channel", lit(null).cast("int"))
  }

  /** (series, channel) -> raw bits of each sample; channel -1 for the CAR
    * trace. */
  private def bits(df: DataFrame): Map[(String, Int), Seq[Long]] =
    df.select(col("series"), coalesce(col("channel"), lit(-1)), col("values")).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        r.getSeq[Double](2).map(java.lang.Double.doubleToRawLongBits))
      .toMap

  /** Two series of `nCh` channels x 700 samples; channel 1 of series "a"
    * holds a NaN every 37th sample. */
  private def segments(nCh: Int): DataFrame = {
    val rnd = new scala.util.Random(nCh)
    (for (s <- Seq("a", "b"); ch <- 0 until nCh) yield {
      val v = Array.tabulate(700)(t =>
        if (s == "a" && ch == 1 && t % 37 == 0) Double.NaN else rnd.nextGaussian() * 40)
      (s, ch, null: Integer, 400.0, 0.0, v)
    }).toDF("series", "channel", "band", "rate", "startingTime", "values")
  }

  test("native CAR is bit-identical to the UDF form: both precisions, tail block, NaN, 3 and 8 ch") {
    // 700 samples at blockSize 256: blocks of 256, 256 and a 188-sample tail
    for (nCh <- Seq(3, 8); precision <- Seq("double", "single"); meanFrac <- Seq(0.95, 0.5)) {
      val segs = segments(nCh)
      val label = s"nCh=$nCh precision=$precision meanFrac=$meanFrac"
      val native = bits(CommonReferencing.subtractCar(segs, meanFrac, 256, precision))
      val reference = bits(udfForm(segs, nCh, meanFrac, 256, precision, referenced = true))
      assert(native.size == 2 * nCh && native.values.forall(_.size == 700), label)
      assert(native == reference, s"referenced segments differ at $label")
      val nativeCar = bits(CommonReferencing.car(segs, meanFrac, 256, precision))
      assert(nativeCar.keySet == Set(("a", -1), ("b", -1)), label)
      assert(nativeCar == bits(udfForm(segs, nCh, meanFrac, 256, precision, referenced = false)),
        s"CAR traces differ at $label")
    }
  }

  test("CAR trims each block by the channels it holds; a block too narrow to trim fails its task") {
    val rnd = new scala.util.Random(11)
    // series "s": channels 0-3 run two 64-sample blocks, channels 4-7 one;
    // series "t" has 7 channels, one block
    val traces = (0 until 8).map(ch => ("s", ch, Array.fill(if (ch < 4) 128 else 64)(rnd.nextGaussian()))) ++
      (0 until 7).map(ch => ("t", ch, Array.fill(64)(rnd.nextGaussian())))
    val segs = traces.map { case (s, ch, v) => (s, ch, null: Integer, 400.0, 0.0, v) }
      .toDF("series", "channel", "band", "rate", "startingTime", "values")
    // meanFrac 0.5 trims 2 of 8 and 2 of 7 channels from each end, 1 of 4:
    // trimming the second block of "s" by the 8 channels of its series
    // would exclude all 4 it holds
    val car = CommonReferencing.car(segs, 0.5, 64).select("series", "values").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    def expected(s: String, t: Int) =
      Signal.trimmedMean(traces.collect { case (`s`, _, v) if t < v.length => v(t) }.toArray, 0.5)
    assert(car("s").length == 128 && car("t").length == 64)
    for ((s, c) <- car; t <- c.indices)
      assert(c(t) == expected(s, t), s"series $s t=$t: ${c(t)} != ${expected(s, t)}")
    val referenced = CommonReferencing.subtractCar(segs, 0.5, 64)
      .select("series", "channel", "values").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    assert(referenced.size == 15)
    for (((s, ch, v), i) <- traces.zipWithIndex; t <- v.indices)
      assert(referenced((s, ch))(t) == v(t) - car(s)(t), s"series $s ch $ch t=$t ($i)")

    // one channel alone in a block: ceil(1 * 0.5 / 2) = 1 excludes it
    val narrow = Seq(("u", 0, null: Integer, 400.0, 0.0, Array.fill(128)(1.0)),
        ("u", 1, null: Integer, 400.0, 0.0, Array.fill(64)(2.0)),
        ("u", 2, null: Integer, 400.0, 0.0, Array.fill(64)(3.0)))
      .toDF("series", "channel", "band", "rate", "startingTime", "values")
    val e = intercept[org.apache.spark.SparkException](
      CommonReferencing.car(narrow, 0.5, 64).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("meanFrac=0.5 excludes all 1 channels"), messages)
  }

  test("segment_blocks, car_block and car_subtract_block are callable from SQL") {
    graft.functions.DspFunctions.register(spark)
    val blocks = spark.sql("SELECT segment_blocks(array(1d, 2d, 3d), 2) AS b")
      .head().getSeq[Seq[Double]](0)
    assert(blocks == Seq(Seq(1.0, 2.0), Seq(3.0)))
    // meanFrac 0.5 keeps the middle of 3 channels; 1.0 is the plain mean
    val row = spark.sql("""SELECT car_block(channel, block, 0.5, 'double') AS car,
        |  car_subtract_block(channel, block, 1.0, 'single') AS sub
        |FROM VALUES (0, array(1d, 5d)), (1, array(2d, 6d)), (2, array(9d, 7d))
        |  AS t(channel, block)""".stripMargin).head()
    assert(row.getSeq[Double](0) == Seq(2.0, 6.0))
    assert(row.getSeq[Row](1).map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap ==
      Map(0 -> Seq(-3.0, -1.0), 1 -> Seq(-2.0, 0.0), 2 -> Seq(5.0, 1.0)))
  }
}
