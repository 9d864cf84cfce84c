package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the complex-trace hot path: elementwise
  * amplitude |z| and phase arg(z) over parallel (re, im) double arrays.
  *
  * `zip_with(re, im, hypot)` expresses the same thing but higher-order
  * functions run interpreted (per-element lambda dispatch, no codegen);
  * these generate a tight primitive loop inside whole-stage codegen instead
  * — the preference order of SURVEY.md §7 ("custom Catalyst Expression
  * beats a Scala UDF beats anything else" for scalar kernels).
  */
abstract class ComplexArrayOp extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  /** scalar JVM kernel */
  protected def scalarOp(re: Double, im: Double): Double
  /** java source for the generated per-element expression */
  protected def scalarJava(re: String, im: String): String

  override def nullSafeEval(reAny: Any, imAny: Any): Any = {
    val re = reAny.asInstanceOf[ArrayData]
    val im = imAny.asInstanceOf[ArrayData]
    val n = math.min(re.numElements(), im.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = scalarOp(re.getDouble(i), im.getDouble(i))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (re, im) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |final int $n = java.lang.Math.min($re.numElements(), $im.numElements());
         |final double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = ${scalarJava(s"$re.getDouble($i)", s"$im.getDouble($i)")};
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
}

/** |z| = hypot(re, im) per element. */
case class ComplexAmplitude(left: Expression, right: Expression) extends ComplexArrayOp {
  override protected def scalarOp(re: Double, im: Double): Double = math.hypot(re, im)
  override protected def scalarJava(re: String, im: String): String =
    s"java.lang.Math.hypot($re, $im)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "complex_amplitude"
}

/** arg(z) = atan2(im, re) per element. */
case class ComplexPhase(left: Expression, right: Expression) extends ComplexArrayOp {
  override protected def scalarOp(re: Double, im: Double): Double = math.atan2(im, re)
  override protected def scalarJava(re: String, im: String): String =
    s"java.lang.Math.atan2($im, $re)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "complex_phase"
}

/** Column API + SQL registration, so operator code can call these without
  * setup; each name is registered once per session ([[registerIfAbsent]]). */
object ComplexArrayFunctions {

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    registerIfAbsent(spark, "complex_amplitude")(exprs => ComplexAmplitude(exprs(0), exprs(1)))
    registerIfAbsent(spark, "complex_phase")(exprs => ComplexPhase(exprs(0), exprs(1)))
  }

  def complexAmplitude(df: org.apache.spark.sql.DataFrame, re: Column, im: Column): Column = {
    register(df.sparkSession)
    call_function("complex_amplitude", re, im)
  }

  def complexPhase(df: org.apache.spark.sql.DataFrame, re: Column, im: Column): Column = {
    register(df.sparkSession)
    call_function("complex_phase", re, im)
  }
}
