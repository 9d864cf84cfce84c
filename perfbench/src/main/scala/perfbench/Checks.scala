package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dsp.{Kernels, Signal, Signal32}
import graft.store.NwbStore
import graft.tools.PreprocessFolder

/** Output checks. Each returns the list of problems found (empty = pass). */
object Checks {

  val WaveletTable = "wvlt_amp_CAR_ln_downsampled_ECoG"
  val NBands: Int = Kernels.centerFrequencies("rat", hgOnly = true).length

  /** Shape, rate and finiteness of one stored SegmentFrame table. */
  private def census(df: DataFrame): Row =
    df.agg(count(lit(1)), min(col("rate")), max(col("rate")),
      sum(when(exists(col("values"), v => isnan(v) || abs(v) === Double.PositiveInfinity), 1)
        .otherwise(0))).head()

  /** `folder_fused`: the wavelet table has nCh x nBands rows at the final
    * rate with only finite values. */
  def folderOutput(store: NwbStore, nCh: Int, a: PreprocessFolder.Args): Seq[String] = {
    val r = census(store.readProcessing(WaveletTable))
    val problems = Seq(
      (r.getLong(0) != nCh.toLong * NBands) -> s"$WaveletTable rows ${r.getLong(0)} != ${nCh * NBands}",
      (r.getDouble(1) != a.finalRate || r.getDouble(2) != a.finalRate) ->
        s"$WaveletTable rate ${r.getDouble(1)}..${r.getDouble(2)} != ${a.finalRate}",
      (r.getLong(3) != 0) -> s"$WaveletTable has ${r.getLong(3)} rows with non-finite values")
    problems.collect { case (true, msg) => msg }
  }

  /** `folder_all_steps`: the four reference tables with row counts nCh,
    * nCh, 1 and nCh x nBands. */
  def allStepsTables(store: NwbStore, nCh: Int): Seq[String] = {
    val want = Seq("downsampled_ECoG" -> nCh.toLong, "CAR_ln_downsampled_ECoG" -> nCh.toLong,
      "CAR_of_downsampled_ECoG" -> 1L, WaveletTable -> nCh.toLong * NBands)
    val have = store.listProcessing().toSet
    want.flatMap { case (t, n) =>
      if (!have(t)) Seq(s"missing table $t")
      else {
        val got = store.readProcessing(t).count()
        if (got != n) Seq(s"$t rows $got != $n") else Nil
      }
    }
  }

  private def f32(x: Array[Double]): Array[Float] = x.map(_.toFloat)

  /** Recomputes one channel of the wavelet table in this JVM, straight
    * through `graft.dsp` at float32: resample, notch, CAR over all channels
    * (trimmed mean, 95 % kept), wavelet amplitude, final resample. Values
    * must agree with the stored ones within rtol 0.01, the tolerance of the
    * reference's chunked-vs-whole pipeline test; atol is 1e-6 of the band's
    * peak. */
  def recomputeChannel(store: NwbStore, ch: Int, a: PreprocessFolder.Args): Seq[String] = {
    val raw = store.readAcquisition(a.acqName).select("channel", "rate", "values")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    import scala.concurrent.{Await, Future, ExecutionContext}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val notched = Await.result(Future.traverse(raw.toSeq) { case (c, rate, v) => Future {
      val down = Signal32.resample(f32(v), a.initialRate, rate)
      (c, Signal32.notch(down, a.initialRate))
    }}, scala.concurrent.duration.Duration.Inf).toArray
    // preprocessStore runs CAR at its default double precision on the
    // float32-valued notch output
    val nCh = notched.length
    val nExclude = math.ceil(nCh * (1.0 - 0.95) / 2.0).toInt
    val mine = notched.find(_._1 == ch).map(_._2)
      .getOrElse(return Seq(s"channel $ch missing from the acquisition"))
    val len = notched.map(_._2.length).min
    val sorted = new Array[Double](nCh)
    val referenced = Array.tabulate(len) { t =>
      var i = 0
      while (i < nCh) { sorted(i) = notched(i)._2(t); i += 1 }
      java.util.Arrays.sort(sorted)
      var s = 0.0
      var k = nExclude
      while (k < nCh - nExclude) { s += sorted(k); k += 1 }
      (mine(t) - s / (nCh - 2 * nExclude)).toFloat
    }
    val padded = referenced.length + Signal.padPlan(referenced.length, Signal.FastPad).padTotal
    val fb = Kernels.filterbank(a.filters, padded, a.initialRate, hgOnly = true)
    val bands = Signal32.waveletBands(referenced, fb.kernels)
    val expected = bands.map { z =>
      val amp = Array.tabulate(z.length / 2)(i =>
        math.hypot(z(2 * i).toDouble, z(2 * i + 1).toDouble).toFloat)
      Signal32.resample(amp, a.finalRate, a.initialRate)
    }
    val stored = store.readProcessing(WaveletTable)
      .filter(col("channel") === ch).select("band", "values").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    expected.indices.flatMap { b =>
      stored.get(b) match {
        case None => Seq(s"channel $ch band $b missing")
        case Some(got) if got.length != expected(b).length =>
          Seq(s"channel $ch band $b has ${got.length} samples, expected ${expected(b).length}")
        case Some(got) =>
          val want = expected(b)
          val atol = 1e-6 * want.map(math.abs).max
          val bad = want.indices.count(i =>
            !(math.abs(got(i) - want(i)) <= atol + 0.01 * math.abs(want(i))))
          if (bad > 0) Seq(s"channel $ch band $b: $bad of ${want.length} samples outside rtol 0.01")
          else Nil
      }
    }
  }

  /** `stream_windows`: after stitching, every (channel, band) holds exactly
    * the staged per-channel sample count, and all values are finite. */
  def stitched(rows: Array[Row], nCh: Int, samples: Int): Seq[String] = {
    val per = rows.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (k, rs) =>
      k -> (rs.map(_.getSeq[Double](2).length).sum, rs.forall(_.getSeq[Double](2).forall(_.isFinite)))
    }
    val keys = for (c <- 0 until nCh; b <- 0 until NBands) yield (c, b)
    keys.flatMap { k =>
      per.get(k) match {
        case None => Seq(s"stitched output lacks channel ${k._1} band ${k._2}")
        case Some((n, _)) if n != samples =>
          Seq(s"channel ${k._1} band ${k._2}: $n samples after stitching, $samples staged")
        case Some((_, false)) => Seq(s"channel ${k._1} band ${k._2}: non-finite values")
        case _ => Nil
      }
    } ++ (per.keySet -- keys).map(k => s"unexpected stitched key $k")
  }
}
