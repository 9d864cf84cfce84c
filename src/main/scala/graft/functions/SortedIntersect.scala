package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** |A ∩ B| for two ASC-sorted, duplicate-free arrays (both string or both
  * long) as one two-pointer merge — the verification kernel of the exact
  * Jaccard prefix join (`TextOps.jaccardPrefixJoin`, which intersects
  * token-id long arrays on its fast path).
  *
  * `size(array_intersect(a, b))` re-builds a hash set of the left array
  * PER ROW (measured ~40 µs/pair on ~100-shingle documents — the
  * dominant cost of q100's verification once the PPJoin filters have
  * done their work); on sorted inputs the same count is a single linear
  * scan with no allocation, inside whole-stage codegen. Equality with
  * the builtin (on sorted distinct inputs) is pinned by
  * SortedIntersectSpec; the end-to-end brute-force equality of the
  * prefix join certifies it in situ.
  *
  * CONTRACT: both arrays sorted ascending (binary UTF8 order — what
  * `sort_array`/`array_sort` produce) with no duplicates and no null
  * elements (`collect_list` emits none). Unsorted input silently
  * undercounts — this is a private building block, registered per
  * session for the Column API, not a general SQL surface. NULL array →
  * NULL. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(StringType, _) => Some(StringType)
    case ArrayType(LongType, _) => Some(LongType)
    case _ => None
  }

  private def isLongs: Boolean = elemType(left).contains(LongType)

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<string> or two array<bigint> inputs, " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    val longs = isLongs
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val c =
        if (longs) java.lang.Long.compare(a.getLong(i), b.getLong(j))
        else a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val cmp =
        if (isLongs) s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
        else s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $na && $j < $nb) {
         |  final int $c = $cmp;
         |  if ($c < 0) $i++;
         |  else if ($c > 0) $j++;
         |  else { $n++; $i++; $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedIntersectFunctions {

  /** Underscore-prefixed registry name: the kernel silently undercounts
    * on unsorted/duplicated input (see the contract above), so it is a
    * private building block, not a general SQL surface — the prefix keeps
    * ad-hoc SQL in the same session from reaching for it by accident. */
  val registeredName = "_graft_sorted_intersect_size"

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registerIfAbsent(spark, registeredName)(exprs => SortedIntersectSize(exprs(0), exprs(1)))

  def sortedIntersectSize(df: org.apache.spark.sql.DataFrame,
                          a: Column, b: Column): Column = {
    register(df.sparkSession)
    call_function(registeredName, a, b)
  }
}
