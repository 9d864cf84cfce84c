package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.dsp.{Kernels, Signal, Signal32}
import graft.dsp.Signal.{AutoPad, ExactPad, FastPad, PadSpec}
import graft.store.NwbStore.isSingle

/** Native Catalyst expressions for the per-segment spectral kernels:
  * resample and notch ([[SegmentMap]], one trace in, one out) and the
  * named-filterbank wavelet ([[WaveletBands]], one trace in, one struct per
  * band out). Each reads its `array<double>` input with one bulk
  * `ArrayData.toDoubleArray()`, runs the unchanged `Signal` / `Signal32`
  * kernel, and writes primitive `UnsafeArrayData`. A typed Scala UDF over
  * the same kernel deserializes its input through `MapObjects`, boxing
  * every sample, and serializes its output back element by element; these
  * do neither (the rule of [[ComplexArrayOp]]: a custom Catalyst Expression
  * beats a Scala UDF).
  *
  * Kernel parameters are plan-time constants: the registered SQL functions
  * take them as literal arguments and fold them into the expression, as
  * [[PqFunctions]] folds its lookup tables. */
object DspKernels {

  /** The reference's entry cast `X.astype(float32)` (utils.py:9-31), with an
    * optional pre-scale folded into the same pass. */
  def toF32(values: Array[Double], preScale: Double): Array[Float] = {
    val out = new Array[Float](values.length)
    var i = 0
    while (i < values.length) { out(i) = (values(i) * preScale).toFloat; i += 1 }
    out
  }

  def toF64(values: Array[Float]): Array[Double] = {
    val out = new Array[Double](values.length)
    var i = 0
    while (i < values.length) { out(i) = values(i); i += 1 }
    out
  }

  /** `npad` as a literal argument: `fast`, `auto`, or the exact pad count. */
  def padName(npad: PadSpec): String = npad match {
    case FastPad     => "fast"
    case AutoPad     => "auto"
    case ExactPad(n) => n.toString
  }

  def parsePad(s: String): PadSpec = s match {
    case "fast" => FastPad
    case "auto" => AutoPad
    case n      => ExactPad(n.toInt)
  }

  // Executor-local filterbank cache: kernels depend on the PADDED length and
  // rate; computing all bands for a channel inside one task is the
  // reference's per-channel spectrum memoization (wavelet_transform.py:198-207)
  // by construction.
  private val fbCache = new ConcurrentHashMap[(String, Int, Double, Boolean), Kernels.Filterbank]()
  def cachedFilterbank(filters: String, paddedLen: Int, rate: Double,
                       hgOnly: Boolean): Kernels.Filterbank =
    fbCache.computeIfAbsent((filters, paddedLen, rate, hgOnly),
      _ => Kernels.filterbank(filters, paddedLen, rate, hgOnly))

  /** One band's interleaved complex trace as (re, im). */
  def split(z: Array[Double]): (Array[Double], Array[Double]) = {
    val n = z.length / 2
    val re = new Array[Double](n)
    val im = new Array[Double](n)
    var i = 0
    while (i < n) { re(i) = z(2 * i); im(i) = z(2 * i + 1); i += 1 }
    (re, im)
  }
}

/** A 1→1 per-segment kernel over (values, rate). */
sealed trait SegmentKernel extends Serializable {
  def apply(values: Array[Double], rate: Double): Array[Double]
}

/** Resample to `newFreq` (`Signal.resample`); `preScale` multiplies the
  * input first (a unit conversion). `single` computes in float32. */
final case class ResampleKernel(newFreq: Double, preScale: Double, npad: PadSpec,
                                single: Boolean) extends SegmentKernel {
  def apply(values: Array[Double], rate: Double): Array[Double] =
    if (single)
      DspKernels.toF64(Signal32.resample(DspKernels.toF32(values, preScale), newFreq, rate, npad))
    else
      Signal.resample(if (preScale == 1.0) values else values.map(_ * preScale),
        newFreq, rate, npad)
}

/** Notch `noiseHz` and its harmonics (`Signal.notch`); `single` computes
  * in float32. */
final case class NotchKernel(noiseHz: Double, npad: PadSpec, continuousProfile: Boolean,
                             single: Boolean) extends SegmentKernel {
  def apply(values: Array[Double], rate: Double): Array[Double] =
    if (single)
      DspKernels.toF64(Signal32.notch(DspKernels.toF32(values, 1.0), rate, noiseHz, npad,
        continuousProfile))
    else Signal.notch(values, rate, noiseHz, npad, continuousProfile)
}

/** `kernel(values, rate)` per row: `array<double>`, null on a null input. */
case class SegmentMap(left: Expression, right: Expression, kernel: SegmentKernel)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // nullable like the Scala UDF this replaces, so stored schemas do not change
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = kernel match {
    case _: ResampleKernel => "segment_resample"
    case _: NotchKernel    => "segment_notch"
  }

  def transform(values: ArrayData, rate: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(kernel(values.toDoubleArray(), rate))

  override def nullSafeEval(values: Any, rate: Any): Any =
    transform(values.asInstanceOf[ArrayData], rate.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("segmentMap", this)
    nullSafeCodeGen(ctx, ev, (v, r) => s"${ev.value} = $self.transform($v, $r);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The named-filterbank wavelet of one trace (`Signal.waveletBands` against
  * `Kernels.filterbank(filters, paddedLen, rate, hgOnly)`), each band
  * rescaled by √(paddedLen / fftNormLength) when that is set. The complex
  * form emits `array<struct<band, re, im>>`; `amplitudeOnly` emits
  * `array<struct<band, values>>` with `values = hypot(re, im)` of the same
  * (re, im), so it equals `complex_amplitude` over the complex form bit for
  * bit. Under `single` the transform runs in float32 and re, im are the
  * scaled parts rounded to float32. */
final case class WaveletSpec(filters: String, hgOnly: Boolean, npad: PadSpec,
                             fftNormLength: Option[Int], single: Boolean,
                             amplitudeOnly: Boolean)

case class WaveletBands(left: Expression, right: Expression, spec: WaveletSpec)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = WaveletBands.dataType(spec.amplitudeOnly)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    if (spec.amplitudeOnly) "wavelet_amplitude" else "wavelet_bands"

  def transform(values: ArrayData, rate: Double): ArrayData = {
    val x = values.toDoubleArray()
    val padded = x.length + Signal.padPlan(x.length, spec.npad).padTotal
    val scale = spec.fftNormLength.fold(1.0)(ref => math.sqrt(padded.toDouble / ref))
    val kernels = DspKernels.cachedFilterbank(spec.filters, padded, rate, spec.hgOnly).kernels
    val bands: Array[Array[Double]] =
      if (spec.single)
        Signal32.waveletBands(DspKernels.toF32(x, 1.0), kernels, spec.npad).map { z =>
          val out = new Array[Double](z.length)
          var i = 0
          while (i < z.length) { out(i) = (z(i) * scale).toFloat.toDouble; i += 1 }
          out
        }
      else {
        val zs = Signal.waveletBands(x, kernels, spec.npad)
        if (scale != 1.0) zs.foreach { z =>
          var i = 0
          while (i < z.length) { z(i) *= scale; i += 1 }
        }
        zs
      }
    val rows = new Array[Any](bands.length)
    var b = 0
    while (b < bands.length) {
      rows(b) =
        if (spec.amplitudeOnly)
          InternalRow(b, UnsafeArrayData.fromPrimitiveArray(Signal.amplitude(bands(b))))
        else {
          val (re, im) = DspKernels.split(bands(b))
          InternalRow(b, UnsafeArrayData.fromPrimitiveArray(re),
            UnsafeArrayData.fromPrimitiveArray(im))
        }
      b += 1
    }
    new GenericArrayData(rows)
  }

  override def nullSafeEval(values: Any, rate: Any): Any =
    transform(values.asInstanceOf[ArrayData], rate.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("waveletBands", this)
    nullSafeCodeGen(ctx, ev, (v, r) => s"${ev.value} = $self.transform($v, $r);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object WaveletBands {
  private val trace = ArrayType(DoubleType, containsNull = false)

  /** The band structs as the Scala UDF this replaces typed them (nullable
    * elements and traces), so the exploded columns keep their nullability. */
  def dataType(amplitudeOnly: Boolean): DataType = ArrayType(StructType(
    StructField("band", IntegerType, nullable = false) +:
      (if (amplitudeOnly) Seq(StructField("values", trace))
       else Seq(StructField("re", trace), StructField("im", trace)))))
}

/** Column API + SQL registration. The SQL forms take the kernel parameters
  * as literals after (values, rate); `npad` is `'fast'`, `'auto'` or the
  * exact pad count, `precision` is `'single'` or `'double'`:
  *
  *  - `segment_resample(values, rate, new_freq, pre_scale, npad, precision)`
  *  - `segment_notch(values, rate, noise_hz, npad, continuous_profile, precision)`
  *  - `wavelet_bands(values, rate, filters, hg_only, npad, fft_norm_length, precision)`
  *  - `wavelet_amplitude(values, rate, filters, hg_only, npad, fft_norm_length, precision)`
  *
  * `fft_norm_length` is NULL for none. Each name is registered once per
  * session ([[registerIfAbsent]]); [[graft.GraftExtensions]] injects the
  * same builders. */
object DspFunctions {

  private def params(name: String, exprs: Seq[Expression], n: Int): IndexedSeq[Any] = {
    require(exprs.length == n, s"$name takes $n arguments, got ${exprs.length}")
    exprs.drop(2).map { e =>
      require(e.foldable, s"$name: parameter $e must be a literal")
      e.eval() match {
        case s: UTF8String => s.toString
        case other => other
      }
    }.toIndexedSeq
  }

  private def num(v: Any): Double = v match {
    case d: Decimal => d.toDouble // a SQL literal such as 1.0
    case n => n.asInstanceOf[Number].doubleValue
  }

  private def wavelet(name: String, amplitudeOnly: Boolean)(exprs: Seq[Expression]): Expression = {
    val p = params(name, exprs, 7)
    WaveletBands(exprs(0), exprs(1), WaveletSpec(p(0).asInstanceOf[String],
      p(1).asInstanceOf[Boolean], DspKernels.parsePad(p(2).toString),
      Option(p(3)).map(v => v.asInstanceOf[Number].intValue), isSingle(p(4).toString),
      amplitudeOnly))
  }

  /** (name, expression class, builder) of every function here. */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("segment_resample", classOf[SegmentMap], { exprs =>
      val p = params("segment_resample", exprs, 6)
      SegmentMap(exprs(0), exprs(1), ResampleKernel(num(p(0)), num(p(1)),
        DspKernels.parsePad(p(2).toString), isSingle(p(3).toString)))
    }),
    ("segment_notch", classOf[SegmentMap], { exprs =>
      val p = params("segment_notch", exprs, 6)
      SegmentMap(exprs(0), exprs(1), NotchKernel(num(p(0)),
        DspKernels.parsePad(p(1).toString), p(2).asInstanceOf[Boolean], isSingle(p(3).toString)))
    }),
    ("wavelet_bands", classOf[WaveletBands], wavelet("wavelet_bands", amplitudeOnly = false)),
    ("wavelet_amplitude", classOf[WaveletBands], wavelet("wavelet_amplitude", amplitudeOnly = true)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, build) => registerIfAbsent(spark, name)(build) }

  private def call(df: org.apache.spark.sql.DataFrame, name: String, args: Column*): Column = {
    register(df.sparkSession)
    call_function(name, args: _*)
  }

  def resample(df: org.apache.spark.sql.DataFrame, values: Column, rate: Column,
               newFreq: Double, preScale: Double, npad: PadSpec, precision: String): Column = {
    isSingle(precision)
    call(df, "segment_resample", values, rate, lit(newFreq), lit(preScale),
      lit(DspKernels.padName(npad)), lit(precision))
  }

  def notch(df: org.apache.spark.sql.DataFrame, values: Column, rate: Column,
            noiseHz: Double, npad: PadSpec, continuousProfile: Boolean,
            precision: String): Column = {
    isSingle(precision)
    call(df, "segment_notch", values, rate, lit(noiseHz), lit(DspKernels.padName(npad)),
      lit(continuousProfile), lit(precision))
  }

  def waveletBands(df: org.apache.spark.sql.DataFrame, values: Column, rate: Column,
                   filters: String, hgOnly: Boolean, npad: PadSpec,
                   fftNormLength: Option[Int], precision: String,
                   amplitudeOnly: Boolean): Column = {
    isSingle(precision)
    call(df, if (amplitudeOnly) "wavelet_amplitude" else "wavelet_bands", values, rate,
      lit(filters), lit(hgOnly), lit(DspKernels.padName(npad)),
      fftNormLength.fold(lit(null).cast(IntegerType))(n => lit(n)), lit(precision))
  }
}
