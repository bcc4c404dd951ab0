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

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    val uad = classOf[UnsafeArrayData].getName
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h1 = ctx.freshName("h1")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$numPerm];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h1 = $xxh.hashLong($a.getLong($i), 42L);
         |    for (int $p = 0; $p < $numPerm; $p++) {
         |      long $v = $xxh.hashInt($p, $h1);
         |      if ($v < $mins[$p]) { $mins[$p] = $v; }
         |    }
         |  }
         |  ${ev.value} = $uad.fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}
