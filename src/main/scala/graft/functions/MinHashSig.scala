package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature over an array<long> of element hashes, in ONE pass:
  * result[p] = min over elements h of xxhash64(h, p), for p = 0..numPerm-1.
  *
  * Value-identical to the composable form
  * `transform(sequence(0, numPerm-1), p -> array_min(transform(sh, h ->
  * xxhash64(h, p))))` — Spark's multi-arg xxhash64 chains seeds as
  * `hashInt(p, hashLong(h, 42))` (p comes from sequence() as an INT, and
  * hashInt/hashLong DIVERGE — see HyperplaneSig's note), which this loop
  * reproduces via the same XXH64 primitives — but with numPerm× fewer
  * array traversals and no
  * interpreted lambdas (the signature stage dominated the LSH pipeline at
  * ~7.5 s for 5k docs × 32 perms).
  *
  * Contract: empty input yields NULL (callers filter empty shingle sets
  * before sketching).
  */
case class MinHashSig(child: Expression, numPerm: Int) extends UnaryExpression {

  override def prettyName: String = "graft_minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // containsNull=false required: getLong on a null slot would hash 0
      // as if it were a real shingle — reject at analysis time (advice
      // r2). The internal producer (graft_ngram_hashes) emits null-free
      // arrays.
      case ArrayType(LongType, false) if numPerm > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint> without null elements " +
            s"(containsNull=false) and numPerm > 0, got " +
            s"${other.catalogString} / numPerm=$numPerm")
    }

  override def nullSafeEval(a: Any): Any =
    MinHashSig.signature(a.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = s"${MinHashSig.getClass.getName}.MODULE$$"
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = $kernel.signature($a, $numPerm);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** The signature of `arr` (see the class doc), NULL when it is empty.
    * The one kernel behind both eval paths. */
  def signature(arr: ArrayData, numPerm: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h1 = XXH64.hashLong(arr.getLong(i), 42L)
      var p = 0
      while (p < numPerm) {
        val v = XXH64.hashInt(p, h1)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
