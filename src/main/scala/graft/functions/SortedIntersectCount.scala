package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform

/** |A ∩ B| for two SORTED, duplicate-free array<long> columns, as a
  * two-pointer merge — the second native expression the extension surface
  * earns (SURVEY.md §7): `size(array_intersect(a, b))` builds a hash set
  * per ROW, which on an O(n²) near-dup pair join means 10⁷+ hash-set
  * builds; the merge loop is allocation-free and whole-stage-codegens.
  *
  * Caller contract: both inputs sorted ascending with distinct elements
  * (`array_sort` over hashed shingle sets upstream) — unsorted input
  * silently undercounts, so this is deliberately NOT a drop-in
  * array_intersect replacement.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_sorted_intersect_count"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      // containsNull=false required: getLong on a null slot would read 0
      // and silently mis-count — reject at analysis time instead (advice
      // r2). Every internal producer (graft_ngram_hashes) already emits
      // null-free arrays.
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> inputs without null " +
            s"elements (containsNull=false), got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = s"${SortedIntersectCount.getClass.getName}.MODULE$$"
    defineCodeGen(ctx, ev, (a, b) => s"$kernel.count($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {

  /** |x ∩ y| for two sorted, distinct `long[]` (see the class doc for the
    * contract): the O(n²) shingle scans of `Dedup` hold their sets as
    * primitive arrays and call this per pair, with no wrapper or copy. */
  def count(x: Array[Long], y: Array[Long]): Long =
    merge(x, Platform.LONG_ARRAY_OFFSET, x.length,
      y, Platform.LONG_ARRAY_OFFSET, y.length)

  /** The same count over two array columns, for both eval paths: two
    * `UnsafeArrayData` are read in place; other `ArrayData` are copied
    * out once. */
  def count(x: ArrayData, y: ArrayData): Long = (x, y) match {
    case (u: UnsafeArrayData, v: UnsafeArrayData) =>
      merge(u.getBaseObject, start(u), u.numElements(),
        v.getBaseObject, start(v), v.numElements())
    case _ => count(x.toLongArray(), y.toLongArray())
  }

  /** Byte offset of an `UnsafeArrayData`'s first element. */
  private def start(u: UnsafeArrayData): Long =
    u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(
      u.numElements())

  /** The one two-pointer merge: `n` longs from `xb` at byte offset `xo`
    * against `m` longs from `yb` at `yo`. */
  private def merge(xb: AnyRef, xo: Long, n: Int,
                    yb: AnyRef, yo: Long, m: Int): Long = {
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val xi = Platform.getLong(xb, xo + 8L * i)
      val yj = Platform.getLong(yb, yo + 8L * j)
      if (xi < yj) i += 1
      else if (xi > yj) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}
