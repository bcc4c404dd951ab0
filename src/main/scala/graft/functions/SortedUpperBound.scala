package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count of elements `<= target` in an ASCENDING-sorted bigint array — the
  * classic upper-bound binary search, O(log n) per row.
  *
  * The probe primitive of the broadcast as-of join (AsOfJoin.
  * broadcastBackward): the build side collapses to one sorted
  * timestamp array per key, and each probe row finds its match position
  * with this expression instead of scanning the array. The composable form
  * — `size(filter(arr, x -> x <= t))` — is value-identical on sorted
  * input (PropertySpec pins it) but walks all n elements through an
  * interpreted lambda; at billions of probe rows against thousand-element
  * reference series that linear scan is the whole join.
  *
  * Contract: the array MUST be sorted ascending — on unsorted input the
  * result is an arbitrary valid index (binary search inspects O(log n)
  * slots; it cannot detect disorder). Null handling follows the engine's
  * native-expression convention (round-4 advice): null array or null
  * target → NULL via the null-intolerant BinaryExpression contract;
  * null ELEMENTS are rejected at analysis time (containsNull must be
  * false) because a binary search cannot null-poison like the HOF form —
  * it may never touch the null slot.
  */
case class SortedUpperBound(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_sorted_upper_bound"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint> with non-null elements, bigint), " +
          s"got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, t: Any): Any =
    SortedUpperBound.upperBound(a.asInstanceOf[ArrayData], t.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = s"${SortedUpperBound.getClass.getName}.MODULE$$"
    defineCodeGen(ctx, ev, (a, t) => s"$kernel.upperBound($a, $t)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedUpperBound =
    copy(left = newLeft, right = newRight)
}

object SortedUpperBound {

  /** The count of elements `<= target` in ascending `arr`, by binary
    * search. The one kernel behind both eval paths. */
  def upperBound(arr: ArrayData, target: Long): Int = {
    var lo = 0
    var hi = arr.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getLong(mid) <= target) lo = mid + 1 else hi = mid
    }
    lo
  }
}
