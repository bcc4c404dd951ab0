package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct 64-bit hashes of the word n-grams of a token array —
  * the shingle-set builder, fused into one pass.
  *
  * Two hash algorithms, selected by `algo`:
  *  - `"xxh64"` (production default): Spark's XXH64-over-bytes primitive,
  *    seed 42 — value-identical (modulo 2⁻⁶⁴ collisions) to the
  *    composable form `array_sort(transform(array_distinct(transform(
  *    sequence(...), i -> concat_ws(' ', ws[i..i+n-1]))), s ->
  *    xxhash64(s)))`. Fastest, but not expressible outside Spark.
  *  - `"md5"` (differential-testing variant): the first 15 hex chars of
  *    md5(gram) read base-16 — a uniform 60-bit value any engine can
  *    reproduce (DuckDB: `CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)`),
  *    which makes the whole sketch → band → verify dedup chain
  *    oracle-checkable end-to-end. 60 uniform bits keep the collision
  *    rate (2⁻⁶⁰ per pair) irrelevant for dedup while staying strictly
  *    positive in a signed BIGINT in both engines.
  *
  * The HOF chain paid interpreted lambdas + per-gram array churn and was
  * the dominant cost of every shingle-based dedup query (~6.5 s for 5k
  * docs at sf0.1); this loop is a plain traversal + sort.
  *
  * CodegenFallback: the eval is already a tight primitive loop; breaking
  * whole-stage codegen for the projection costs far less than the chain
  * it replaces. Fewer than n tokens → empty array (same guard as
  * Dedup.shingles).
  */
case class WordNGramHashes(child: Expression, n: Int, algo: String = "xxh64")
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "graft_ngram_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if n > 0 && WordNGramHashes.Algos(algo) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, n > 0 and algo in " +
            s"${WordNGramHashes.Algos.mkString("{", ",", "}")}, got " +
            s"${other.catalogString} / n=$n / algo=$algo")
    }

  private val space = UTF8String.fromString(" ")
  private val useMd5 = algo == "md5"

  // One digest instance per thread: MessageDigest is stateful and
  // getInstance per gram would dominate the md5 path.
  @transient private lazy val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private def hashGram(g: UTF8String): Long =
    if (!useMd5) {
      XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)
    } else {
      val md = md5Local.get()
      md.reset()
      val d = md.digest(g.getBytes)
      // First 15 hex chars of the digest = big-endian first 8 bytes >>> 4.
      val be64 =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      be64 >>> 4
    }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val grams = new Array[Long](len - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      grams(i) = hashGram(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    java.util.Arrays.sort(grams)
    // dedupe the sorted run in place
    var w = 0
    var r = 0
    while (r < grams.length) {
      if (w == 0 || grams(r) != grams(w - 1)) { grams(w) = grams(r); w += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(grams, w))
  }

  override protected def withNewChildInternal(newChild: Expression): WordNGramHashes =
    copy(child = newChild)
}

object WordNGramHashes {
  val Algos: Set[String] = Set("xxh64", "md5")
}
