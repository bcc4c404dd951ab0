package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The LSH band hashes of a MinHash signature in ONE pass:
  * `graft_minhash_bands(sig, rowsPerBand)`, element b (b = 0 until
  * size(sig) / rowsPerBand) = `xxhash64(b, slice(sig, b·r + 1, r))` bit for
  * bit. Spark's multi-argument xxhash64 chains its seed through the
  * arguments — `hashInt(b, 42)`, then `hashLong(e, ·)` for each non-null
  * element `e` of the slice (a NULL element leaves the hash unchanged) —
  * and this loop does the same with the same XXH64 primitives.
  *
  * Why a custom Expression: the `transform(sequence(...), b -> ...)` form
  * it replaces runs an interpreted lambda per band (`ArrayTransform` is a
  * CodegenFallback) and slices a fresh array per band. Codegen and the
  * interpreted eval both call the one kernel [[MinHashBands.bands]], so the
  * two paths are bit-equal by construction.
  *
  * A NULL signature yields NULL; a trailing partial band (size(sig) not a
  * multiple of rowsPerBand) is dropped. */
case class MinHashBands(child: Expression, rowsPerBand: Int) extends UnaryExpression {

  override def prettyName: String = "graft_minhash_bands"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if rowsPerBand > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> and rowsPerBand > 0, got " +
        s"${other.catalogString} / rowsPerBand=$rowsPerBand")
  }

  override def nullSafeEval(a: Any): Any =
    MinHashBands.bands(a.asInstanceOf[ArrayData], rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = s"${MinHashBands.getClass.getName}.MODULE$$"
    defineCodeGen(ctx, ev, a => s"$kernel.bands($a, $rowsPerBand)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {

  /** The band hashes of `sig` (see the class doc), as a primitive array. */
  def bands(sig: ArrayData, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](sig.numElements() / rowsPerBand)
    var b = 0
    while (b < out.length) {
      var h = XXH64.hashInt(b, 42L)
      var i = b * rowsPerBand
      val end = i + rowsPerBand
      while (i < end) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
