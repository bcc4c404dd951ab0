package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructType}

/** Native Catalyst expression for the ids of the `keep` centroids nearest
  * to one vector, with the whole centroid set held in ONE array value:
  * `graft_nearest_centroids(v, cents, keep)`, `cents` an
  * array<struct<centroid_id bigint, centv array<float|double>>>.
  *
  * Why a custom Expression (the [[DotProduct]] rationale, one level up):
  * the relational form — cross every row with every centroid, score, and
  * keep `row_number() <= keep` over a window per row — shuffles every
  * (row × centroid) pair to sort each row's scores. With the centroid set
  * in one broadcast row, the ranking is a map-only loop per row.
  *
  * Ranking is exactly the window form's: the score is
  * `Similarity.cosine` — dot/(‖v‖·‖c‖) with every dot the left-to-right
  * double fold of [[DotProduct]], and −2 when the denominator is NULL or
  * not > 0 under Spark's comparison (NaN counts as > 0) — ordered
  * descending by Spark's SQL double order (NaN highest, −0.0 = 0.0) with
  * a NULL score (a length mismatch) last; ties go to the smaller id, a
  * NULL id first. A NULL `v` scores −2 everywhere and still gets the
  * `keep` smallest ids; a NULL `cents` yields NULL. Codegen and the
  * interpreted eval both call the one kernel [[NearestCentroids.rank]],
  * so the two paths are bit-equal by construction. */
case class NearestCentroids(left: Expression, right: Expression, keep: Int)
    extends BinaryExpression {

  override def prettyName: String = "graft_nearest_centroids"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def centVecType: DataType =
    right.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields(1).dataType

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = right.dataType match {
      case ArrayType(s: StructType, _) =>
        s.fields.length == 2 && s.fields(0).dataType == LongType &&
          isVector(s.fields(1).dataType)
      case _ => false
    }
    if (isVector(left.dataType) && centsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> vector and an " +
        "array<struct<bigint, array<float|double>>> centroid set, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val c = right.eval(input)
    if (c == null) null
    else NearestCentroids.topK(left.eval(input).asInstanceOf[ArrayData],
      isFloatArray(left.dataType), c.asInstanceOf[ArrayData],
      isFloatArray(centVecType), keep)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val c = right.genCode(ctx)
    val kernel = s"${NearestCentroids.getClass.getName}.MODULE$$"
    ev.copy(code = code"""
      |${v.code}
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $kernel.topK(${v.isNull} ? null : ${v.value},
      |    ${isFloatArray(left.dataType)}, ${c.value},
      |    ${isFloatArray(centVecType)}, $keep);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroids =
    copy(left = newLeft, right = newRight)
}

object NearestCentroids {

  import DotProduct.{dot, hasNull}

  /** Positions in `cents` of the `keep` best centroids for `v`, best
    * first (see the class doc for the order); null struct entries are
    * skipped. The one kernel behind both eval paths and the IVF Lloyd
    * pass. */
  def rank(v: ArrayData, vFloat: Boolean, cents: ArrayData, cFloat: Boolean,
           keep: Int): Array[Int] = {
    val n = cents.numElements()
    val vNull = v == null || hasNull(v)
    val vNorm = if (vNull) 0.0 else math.sqrt(dot(v, vFloat, v, vFloat, checkNulls = false))
    val cos = new Array[Double](n)
    val cosNull = new Array[Boolean](n)
    val ids = new Array[Long](n)
    val idNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (!cents.isNullAt(i)) {
        val s = cents.getStruct(i, 2)
        idNull(i) = s.isNullAt(0)
        if (!idNull(i)) ids(i) = s.getLong(0)
        val c = if (s.isNullAt(1)) null else s.getArray(1)
        val cNull = c == null || hasNull(c)
        // CASE WHEN norm(v)·norm(c) > 0 THEN dot/den ELSE −2: a NULL
        // denominator takes the ELSE branch, a NaN one the THEN branch
        if (vNull || cNull) cos(i) = -2.0
        else {
          val den = vNorm * math.sqrt(dot(c, cFloat, c, cFloat, checkNulls = false))
          if (SQLOrderingUtil.compareDoubles(den, 0.0) <= 0) cos(i) = -2.0
          else if (v.numElements() != c.numElements()) cosNull(i) = true
          else cos(i) = dot(v, vFloat, c, cFloat, checkNulls = false) / den
        }
      }
      i += 1
    }
    def better(a: Int, b: Int): Boolean =
      if (cosNull(a) != cosNull(b)) cosNull(b)
      else {
        val byCos =
          if (cosNull(a)) 0 else SQLOrderingUtil.compareDoubles(cos(a), cos(b))
        if (byCos != 0) byCos > 0
        else if (idNull(a) != idNull(b)) idNull(a)
        else !idNull(a) && ids(a) < ids(b)
      }
    // insertion into a best-first buffer of at most `keep` positions:
    // O(n·keep), with keep ≪ n on every probe path
    val top = new Array[Int](math.max(0, math.min(keep, n)))
    var size = 0
    i = 0
    while (i < n) {
      if (!cents.isNullAt(i) &&
          (size < top.length || (size > 0 && better(i, top(size - 1))))) {
        var j = size - 1 // full: the worst kept entry makes room
        if (size < top.length) { j = size; size += 1 }
        while (j > 0 && better(i, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = i
      }
      i += 1
    }
    if (size == top.length) top else java.util.Arrays.copyOf(top, size)
  }

  /** The expression's value: the ids at [[rank]]'s positions. */
  def topK(v: ArrayData, vFloat: Boolean, cents: ArrayData, cFloat: Boolean,
           keep: Int): ArrayData = {
    val pos = rank(v, vFloat, cents, cFloat, keep)
    val out = new Array[Any](pos.length)
    var i = 0
    while (i < pos.length) {
      val s = cents.getStruct(pos(i), 2)
      out(i) = if (s.isNullAt(0)) null else s.getLong(0)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
