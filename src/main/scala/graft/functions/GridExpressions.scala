package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Exact-grid dot product: Σᵢ floor(aᵢ · bᵢ · 1e9) as one long — the
  * micro-rounded, order-free inner product every embedding operator in this
  * engine builds on (cosine rescoring, energy norms, Gramian cells; see
  * `Similarity.momentsE9` for the determinism/overflow contract).
  *
  * The higher-order form `aggregate(zip_with(a, b, ...), 0L, ...)` computes
  * the same longs but runs interpreted — per-element lambda dispatch on
  * boxed rows, outside whole-stage codegen. This expression generates the
  * tight primitive loop instead (SURVEY.md §7 preference order: native
  * Catalyst Expression > HOF > UDF for scalar kernels). Identical results
  * by construction: a float product widened to double is correctly rounded
  * in any IEEE engine and floor has no half-way case, so swapping the HOF
  * for this expression never changes a certified value.
  *
  * NULL chain mirrors the HOF form EXACTLY (a requirement of the
  * [[RewriteFloorDotE9]] optimizer rule, which substitutes this expression
  * for that pattern): a NULL array, any NULL element, or UNEQUAL lengths
  * yields NULL — `zip_with` null-pads the shorter array, so the HOF
  * returns NULL there too. Accepts float or double arrays on either side.
  *
  * `failOnError` mirrors the accumulator Add's evalMode: under ANSI the
  * HOF's `acc + e` THROWS on Long overflow, so the substituted kernel must
  * too (checked `Math.addExact`); under LEGACY both wrap silently. The
  * per-element floor is mode-independent in both forms (Spark's
  * `floor(double)` saturates on toLong regardless of ANSI). The thrown
  * class is ArithmeticException either way; only the message text differs
  * from Spark's ANSI error — semantics, not formatting, is the contract.
  */
case class FloorDotE9(left: Expression, right: Expression,
                      failOnError: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // A null ELEMENT nulls the result even when both array children are
  // non-nullable, so nullability cannot derive from the children. This is
  // also what lets doGenCode assign `ev.isNull`: with the default
  // child-derived nullability, non-nullable inputs made Spark declare
  // `ev.isNull` as the literal `false`, the janino compile failed
  // ("not an rvalue") and EVERY floor_dot_e9 plan silently fell back to
  // the interpreted path (caught round 12 via the q350 codegen logs).
  override def nullable: Boolean = true
  override def prettyName: String = "floor_dot_e9"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (isFloat(left)) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (isFloat(right)) b.getFloat(i).toDouble else b.getDouble(i)
      val e = math.floor(x * y * 1e9).toLong
      acc = if (failOnError) Math.addExact(acc, e) else acc + e
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val e = ctx.freshName("e")
      def get(arr: String, side: Expression) =
        if (isFloat(side)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      val add =
        if (failOnError) s"$acc = java.lang.Math.addExact($acc, $e);"
        else s"$acc += $e;"
      s"""
         |final int $n = $a.numElements();
         |long $acc = 0L;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final long $e = (long) java.lang.Math.floor(
         |    ${get(a, left)} * ${get(b, right)} * 1e9);
         |  $add
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column API + per-session SQL registration (the ComplexArrayFunctions
  * pattern, [[registerIfAbsent]]). */
object GridFunctions {

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registerIfAbsent(spark, "floor_dot_e9")(exprs => FloorDotE9(exprs(0), exprs(1)))

  /** Engine-exact 6-decimal readout: floor(x·1e6 + 0.5)/1e6. Unlike
    * `round(x, 6)` — which Spark evaluates decimal-exactly (BigDecimal
    * HALF_UP) while DuckDB rounds the SCALED DOUBLE (std::round of
    * fl(x·1e6)), a measured divergence within ~1 ulp of every .5 boundary
    * (51/7998 adversarial doubles at k=6; NOTES r17) — every step here is
    * one correctly-rounded IEEE op, so identical operands give identical
    * results on any engine. Oracle twin: `floor((x) * 1e6 + 0.5) / 1e6`. */
  def gridRound6(c: Column): Column = gridRound(c, 6)

  /** [[gridRound6]] at any decimal count — oracle twin
    * `floor((x) * 10^k + 0.5) / 10^k` (plain `floor((x) + 0.5)` at k=0).
    *
    * NON-FINITE CONTRACT (r18, ADVICE): Spark's `floor` over DoubleType is
    * LongType, so a NaN operand silently becomes 0.0 and ±Inf becomes
    * ±Long.Max/10^k, while the DuckDB twin's `floor` PROPAGATES NaN/Inf —
    * a non-finite operand is therefore a guaranteed parity red, never a
    * silent agreement. Every call site must make its operand provably
    * finite: either structurally (ln/sqrt of strictly-positive counts,
    * exp of non-positive sums, guarded CASE branches — the audit in
    * NOTES §r18) or with an explicit zero-denominator guard carried
    * verbatim in the oracle twin (q201 pearson variance guard,
    * zipfSpectrum's single-rank fit guard, the gridSimE4 zero-norm
    * branch). NULL passes through identically on both engines and is the
    * canonical "undefined" emission. Half-way note: floor(x·10^k + 0.5)
    * is round-half-UP for negatives (−0.5 → 0, not −1) — fine because
    * both engines evaluate the identical expression; pinned by
    * GridContractSpec. */
  def gridRound(c: Column, decimals: Int): Column = {
    import org.apache.spark.sql.functions.{floor, lit}
    require(decimals >= 0 && decimals <= 9, s"decimals in [0,9]: $decimals")
    if (decimals == 0) floor(c + lit(0.5))
    else {
      val p = math.pow(10, decimals)
      floor(c * lit(p) + lit(0.5)) / lit(p)
    }
  }
}
