package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, typedlit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native PQ asymmetric-distance kernels — the codegen answer to the
  * measured serve-only tie (NOTES r12 s6): the Scala-UDF ADC pays boxed
  * `Seq[Int]` codes + per-row dispatch, which cancels the m-lookups-vs-
  * dim-mults arithmetic win; these generate the tight primitive loop
  * inside whole-stage codegen instead. The lookup tables ride the plan as
  * reference objects (bounded: nq·m·k longs), never a driver loop.
  *
  * [[AdcDotE9]]: Σ_s lut(qi)(s)(codes(s)) — the per-query e9-grid dot LUT
  * sum. [[AdcNormE9]]: Σ_s lut(s)(codes(s)) — the query-independent
  * reconstruction-norm sum. Both NULL on null inputs/elements AND on a
  * codes array whose length differs from the LUT's subspace count m
  * (mirroring FloorDotE9's unequal-length guard — the registered SQL names
  * are callable with arbitrary arrays, and a short array would otherwise
  * read past the ArrayData end while a long one would silently ignore
  * trailing codes), and THROW on out-of-range codes (an encoder bug must
  * not rank silently). */
abstract class AdcSumBase extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  protected def codesOk: Boolean = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }
}

/** left = codes array<int>, right = query index int; `lut` indexed
  * (qi, sub, code), e9-grid longs. */
case class AdcDotE9(left: Expression, right: Expression,
                    lut: Array[Array[Array[Long]]]) extends AdcSumBase {

  override def prettyName: String = "adc_dot_e9"

  override def checkInputDataTypes(): TypeCheckResult =
    if (codesOk && right.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<int>, int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val codes = l.asInstanceOf[ArrayData]
    val q = lut(r.asInstanceOf[Int])
    if (codes.numElements() != q.length) return null
    var acc = 0L
    var s = 0
    while (s < q.length) {
      if (codes.isNullAt(s)) return null
      acc += q(s)(codes.getInt(s))
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, qi) => {
      val lutRef = ctx.addReferenceObj("adcLut", lut, "long[][][]")
      val q = ctx.freshName("q")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      s"""
         |final long[][] $q = $lutRef[$qi];
         |long $acc = 0L;
         |if ($codes.numElements() != $q.length) { ${ev.isNull} = true; }
         |else for (int $s = 0; $s < $q.length; $s++) {
         |  if ($codes.isNullAt($s)) { ${ev.isNull} = true; break; }
         |  $acc += $q[$s][$codes.getInt($s)];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** left = codes array<int>, right ignored placeholder (int literal 0);
  * `lut` indexed (sub, code). Kept binary so both kernels share the
  * null-safe codegen shape. */
case class AdcNormE9(left: Expression, right: Expression,
                     lut: Array[Array[Long]]) extends AdcSumBase {

  override def prettyName: String = "adc_norm_e9"

  override def checkInputDataTypes(): TypeCheckResult =
    if (codesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<int> codes, got ${left.dataType.simpleString}")

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val codes = l.asInstanceOf[ArrayData]
    if (codes.numElements() != lut.length) return null
    var acc = 0L
    var s = 0
    while (s < lut.length) {
      if (codes.isNullAt(s)) return null
      acc += lut(s)(codes.getInt(s))
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, _) => {
      val lutRef = ctx.addReferenceObj("adcNormLut", lut, "long[][]")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      s"""
         |long $acc = 0L;
         |if ($codes.numElements() != $lutRef.length) { ${ev.isNull} = true; }
         |else for (int $s = 0; $s < $lutRef.length; $s++) {
         |  if ($codes.isNullAt($s)) { ${ev.isNull} = true; break; }
         |  $acc += $lutRef[$s][$codes.getInt($s)];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column API via the per-session SQL registry (the GridFunctions
  * pattern): the LUT travels as a nested-array LITERAL argument that the
  * registered builder folds back into primitive arrays at plan time — so
  * the Column API needs no private Spark bridges, and a pure-SQL user can
  * call the functions with an array literal too. */
object PqFunctions {

  private def toLut3(e: Expression): Array[Array[Array[Long]]] = {
    val a = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { i =>
      val b = a.getArray(i)
      Array.tabulate(b.numElements())(j => b.getArray(j).toLongArray())
    }
  }

  private def toLut2(e: Expression): Array[Array[Long]] = {
    val a = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(i => a.getArray(i).toLongArray())
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    registerIfAbsent(spark, "adc_dot_e9")(
      exprs => AdcDotE9(exprs(0), exprs(1), toLut3(exprs(2))))
    registerIfAbsent(spark, "adc_norm_e9")(
      exprs => AdcNormE9(exprs(0),
        org.apache.spark.sql.catalyst.expressions.Literal(0), toLut2(exprs(1))))
  }

  def adcDotE9(df: org.apache.spark.sql.DataFrame, codes: Column, qi: Column,
               lut: Array[Array[Array[Long]]]): Column = {
    register(df.sparkSession)
    call_function("adc_dot_e9", codes, qi,
      typedlit(lut.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
  }

  def adcNormE9(df: org.apache.spark.sql.DataFrame, codes: Column,
                lut: Array[Array[Long]]): Column = {
    register(df.sparkSession)
    call_function("adc_norm_e9", codes,
      typedlit(lut.map(_.toIndexedSeq).toIndexedSeq))
  }
}
