package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for Σ aᵢ·bᵢ over two numeric array columns,
  * accumulating in double, left-to-right.
  *
  * Why a custom Expression (SURVEY.md §7 "custom Catalyst vs built-in"):
  * the composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — is a
  * chain of interpreted higher-order functions that allocates an
  * intermediate array per row and pays ~µs/element lambda overhead; on an
  * O(n²) similarity join that's the whole runtime. This expression's
  * codegen and interpreted eval both call the one primitive fold
  * [[DotProduct.dot]] (~ns/element), so the two paths are bit-equal by
  * construction, and equal to the HOF form and a sequential-fold SQL
  * oracle.
  *
  * Elements are read as float or double per the input type and widened to
  * double BEFORE multiplying (float·float in float32 would lose the bits
  * a double-precision oracle computes).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> or array<double> inputs, " +
          s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  // Mismatched lengths → NULL, matching the HOF form this expression
  // claims bit-equality with (zip_with pads the shorter array with nulls,
  // which poison the fold): a corrupt mixed-dimension vector must surface
  // as NULL, never as a plausible partial dot product. A null ELEMENT on
  // either side → NULL for the same reason (zip_with's null·x is null and
  // the fold propagates it) — a round-2 advice fix: reading a null slot
  // as 0 would have silently broken the equivalence claim.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val v = DotProduct.dot(x, elemIsFloat(left), y, elemIsFloat(right), checkNulls = true)
    if (DotProduct.isNull(x, y, v)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = s"${DotProduct.getClass.getName}.MODULE$$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = $kernel.dot($a, ${elemIsFloat(left)}, $b, ${elemIsFloat(right)}, true);
         |${ev.isNull} = $kernel.isNull($a, $b, ${ev.value});""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Σ aᵢ·bᵢ, left to right in double, each element widened before the
    * multiply. A length mismatch, or with `checkNulls` a null element,
    * stops the fold with NaN, so the common path reads each element once
    * and returns a primitive; [[isNull]] tells that stop from a NaN the
    * data produced. Callers whose operands are known null-free
    * ([[NearestCentroids]], [[MatProject]]) pass `checkNulls = false`.
    * The one dot fold behind both eval paths and those two. */
  def dot(a: ArrayData, af: Boolean, b: ArrayData, bf: Boolean,
          checkNulls: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return Double.NaN
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Whether [[dot]]'s result `v` over `a`, `b` is SQL NULL: only a NaN
    * can be, so a second pass runs only on that rare path. */
  def isNull(a: ArrayData, b: ArrayData, v: Double): Boolean =
    java.lang.Double.isNaN(v) &&
      (a.numElements() != b.numElements() || hasNull(a) || hasNull(b))

  /** Whether `a` holds a null element. */
  def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }
}

/** Session registration for the engine's native functions. Idempotent.
  *
  * [[builders]] is the single source of truth for BOTH registration
  * surfaces — this in-process `register()` and the
  * `spark.sql.extensions=graft.GraftExtensions` injection — so the two
  * can never drift (round-2 advice: the extensions path was missing
  * graft_ngram_hashes and graft_minhash_sig).
  */
object GraftFunctions {

  private def arity(name: String, n: Int)(exprs: Seq[Expression]): Seq[Expression] = {
    require(exprs.length == n, s"$name takes exactly $n argument(s), got ${exprs.length}")
    exprs
  }

  // The null check in both extractors matters: a foldable NULL literal
  // (e.g. CAST(NULL AS INT)) passes the type guard but eval()s to null,
  // and unboxing/toString-ing it would NPE with no hint of which argument
  // was wrong — fall through to the designed error instead.
  private def intLit(name: String, what: String)(e: Expression): Int = e match {
    case l if l.foldable && l.dataType == org.apache.spark.sql.types.IntegerType
        && l.eval() != null =>
      l.eval().asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$name: $what must be a non-null int literal, got $other")
  }

  private def strLit(name: String, what: String)(e: Expression): String = e match {
    case l if l.foldable && l.dataType == org.apache.spark.sql.types.StringType
        && l.eval() != null =>
      l.eval().toString
    case other => throw new IllegalArgumentException(
      s"$name: $what must be a non-null string literal, got $other")
  }

  /** (name, implementing class, usage doc, builder) per native function. */
  val builders: Seq[(String, Class[_], String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct],
      "_FUNC_(a, b) - double dot product of two numeric arrays",
      es => { val e = arity("graft_dot", 2)(es); DotProduct(e(0), e(1)) }),
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      "_FUNC_(a, b) - |A∩B| of two sorted distinct bigint arrays",
      es => {
        val e = arity("graft_sorted_intersect_count", 2)(es)
        SortedIntersectCount(e(0), e(1))
      }),
    ("graft_simhash63", classOf[SimHash63],
      "_FUNC_(a) - 63-bit simhash of a bigint array",
      es => SimHash63(arity("graft_simhash63", 1)(es).head)),
    ("graft_ngram_hashes", classOf[WordNGramHashes],
      "_FUNC_(ws, n[, algo]) - sorted distinct 64-bit hashes of the word " +
        "n-grams of a token array; algo 'xxh64' (default) or 'md5'",
      es => {
        require(es.length == 2 || es.length == 3,
          s"graft_ngram_hashes takes 2 or 3 arguments, got ${es.length}")
        val algo = if (es.length == 3)
          strLit("graft_ngram_hashes", "algo")(es(2)) else "xxh64"
        WordNGramHashes(es.head, intLit("graft_ngram_hashes", "n")(es(1)), algo)
      }),
    ("graft_minhash_sig", classOf[MinHashSig],
      "_FUNC_(sh, numPerm) - minhash signature of an array of element hashes",
      es => {
        val e = arity("graft_minhash_sig", 2)(es)
        MinHashSig(e.head, intLit("graft_minhash_sig", "numPerm")(e(1)))
      }),
    ("graft_minhash_bands", classOf[MinHashBands],
      "_FUNC_(sig, rowsPerBand) - LSH band hashes of a minhash signature: " +
        "element b = xxhash64(b, slice(sig, b * rowsPerBand + 1, rowsPerBand))",
      es => {
        val e = arity("graft_minhash_bands", 2)(es)
        MinHashBands(e.head, intLit("graft_minhash_bands", "rowsPerBand")(e(1)))
      }),
    ("graft_text_metrics", classOf[TextMetrics],
      "_FUNC_(text) - struct of per-document text statistics " +
        "(chars, tokens, distinct tokens, subword estimate, stopwords, punctuation)",
      es => TextMetrics(arity("graft_text_metrics", 1)(es).head,
        TextMetrics.DefaultStopwords)),
    ("graft_rolling_hash", classOf[TokenRollingHash],
      "_FUNC_(text) - 31-base token rolling hash mod 1e9+7",
      es => TokenRollingHash(arity("graft_rolling_hash", 1)(es).head)),
    ("graft_sorted_upper_bound", classOf[SortedUpperBound],
      "_FUNC_(arr, t) - count of elements <= t in an ascending-sorted " +
        "bigint array (binary search)",
      es => {
        val e = arity("graft_sorted_upper_bound", 2)(es)
        SortedUpperBound(e(0), e(1))
      }),
    ("graft_hyperplane_sig", classOf[HyperplaneSig],
      "_FUNC_(v, bits, table) - bits-bit random-hyperplane LSH signature of a numeric array",
      es => {
        val e = arity("graft_hyperplane_sig", 3)(es)
        HyperplaneSig(e.head, intLit("graft_hyperplane_sig", "bits")(e(1)),
          intLit("graft_hyperplane_sig", "table")(e(2)))
      }),
    ("graft_mat_project", classOf[MatProject],
      "_FUNC_(v, comps, mu, scales) - project a numeric array onto a " +
        "literal basis: out[c] = (v . comps[c] - mu[c]) * scales[c]",
      es => {
        val e = arity("graft_mat_project", 4)(es)
        import org.apache.spark.sql.types.{ArrayType, DoubleType}
        def litData(what: String)(x: Expression): org.apache.spark.sql.catalyst.util.ArrayData =
          x match {
            case l if l.foldable && l.eval() != null =>
              l.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            case other => throw new IllegalArgumentException(
              s"graft_mat_project: $what must be a non-null array literal, got $other")
          }
        // element-type and null-slot guards (round 15): the raw
        // toDoubleArray on an int-typed literal died with a bare
        // ClassCastException (and a null slot with an NPE) naming
        // neither the function nor the argument — the intLit/strLit
        // discipline, applied to the array extractors
        def litDoubles(what: String)(x: Expression): Array[Double] = {
          x.dataType match {
            case ArrayType(DoubleType, _) => ()
            case dt => throw new IllegalArgumentException(
              s"graft_mat_project: $what must be array<double>, got ${dt.simpleString}")
          }
          val ad = litData(what)(x)
          Array.tabulate(ad.numElements()) { i =>
            if (ad.isNullAt(i)) throw new IllegalArgumentException(
              s"graft_mat_project: $what must not contain nulls (slot $i)")
            ad.getDouble(i)
          }
        }
        e(1).dataType match {
          case ArrayType(ArrayType(DoubleType, _), _) => ()
          case dt => throw new IllegalArgumentException(
            "graft_mat_project: comps must be array<array<double>>, got " +
              dt.simpleString)
        }
        val cr = litData("comps")(e(1))
        val rows = (0 until cr.numElements()).map { i =>
          if (cr.isNullAt(i)) throw new IllegalArgumentException(
            s"graft_mat_project: comps must not contain null rows (row $i)")
          val row = cr.getArray(i)
          Array.tabulate(row.numElements()) { j =>
            if (row.isNullAt(j)) throw new IllegalArgumentException(
              s"graft_mat_project: comps must not contain nulls (row $i, col $j)")
            row.getDouble(j)
          }
        }
        require(rows.nonEmpty && rows.forall(_.length == rows.head.length),
          "graft_mat_project: comps must be a non-empty rectangular matrix")
        MatProject(e.head, rows.flatten.toArray,
          litDoubles("mu")(e(2)),
          litDoubles("scales")(e(3)), rows.head.length)
      }),
    ("graft_nearest_centroids", classOf[NearestCentroids],
      "_FUNC_(v, cents, keep) - ids of the keep centroids of " +
        "array<struct<id, vec>> nearest to v by cosine (ties to the smaller id)",
      es => {
        val e = arity("graft_nearest_centroids", 3)(es)
        NearestCentroids(e(0), e(1), intLit("graft_nearest_centroids", "keep")(e(2)))
      }),
    ("graft_span_scrub", classOf[SpanScrubRow],
      "_FUNC_(ws, n) - row-wise repeated-span scrub of a token array: " +
        "struct(n_tokens, n_removed, text_clean)",
      es => {
        val e = arity("graft_span_scrub", 2)(es)
        SpanScrubRow(e.head, intLit("graft_span_scrub", "n")(e(1)))
      }))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // Once per session: register() is called from every Tables.table()
    // load, and createOrReplaceTempFunction logs a WARN per function per
    // call ("replaced a previously registered function") — a 290-query
    // bench run flooded its stdout tail with thousands of
    // SimpleFunctionRegistry lines (round-15 verdict). Probing one
    // sentinel name is enough: builders registers all-or-nothing below.
    // (Benign race under concurrent first loads: worst case one extra
    // registration round and a handful of WARNs.)
    val sentinel = org.apache.spark.sql.catalyst.FunctionIdentifier(
      builders.head._1)
    if (!registry.functionExists(sentinel)) {
      builders.foreach { case (name, _, _, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
    }
  }
}
