package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 63-bit SimHash over an array<long> of element hashes, in ONE pass:
  * bit b of the result is set iff more elements have bit b set than
  * clear; bit 63 stays clear so the sketch is a non-negative BIGINT.
  *
  * Equivalent to the composable form (63 nested `aggregate` passes over
  * the array — SURVEY.md §2h policy: built-ins first, native Expression
  * when profiling demands), but 63× fewer array traversals and no
  * interpreted lambda per element. Bit b of the output corresponds to the
  * fold `acc*2 + bit_b` over b = 0..62, i.e. bit 0's majority lands in
  * the result's bit 62 — same layout as the HOF version it replaces.
  */
case class SimHash63(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_simhash63"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // containsNull=false required: getLong on a null slot would vote
      // all-zero bits into the majority — reject at analysis time (advice
      // r2). The internal producer (graft_ngram_hashes) emits null-free
      // arrays.
      case ArrayType(LongType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint> without null elements " +
            s"(containsNull=false), got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any = SimHash63.sketch(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = s"${SimHash63.getClass.getName}.MODULE$$"
    defineCodeGen(ctx, ev, a => s"$kernel.sketch($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash63 =
    copy(child = newChild)
}

object SimHash63 {

  /** The 63-bit majority sketch of `x` (see the class doc). The one
    * kernel behind both eval paths. */
  def sketch(x: ArrayData): Long = {
    val n = x.numElements()
    val cnt = new Array[Int](63)
    var i = 0
    while (i < n) {
      val h = x.getLong(i)
      var b = 0
      while (b < 63) {
        if (((h >> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 63) {
      acc = acc * 2 + (if (cnt(b) > 0) 1L else 0L)
      b += 1
    }
    acc
  }
}
