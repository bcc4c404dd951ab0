package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every native expression whose codegen body calls its eval kernel
  * (`graft.functions`) gives the same value, bit for bit, through
  * whole-stage codegen and through interpreted eval.
  *
  * One table: per function, a frame of random and edge inputs (NULL
  * array, NULL element where the type allows it, empty array, float and
  * double mixes, unequal lengths, numPerm up to 512) and the calls to
  * run over it. The frame comes from an RDD, not a local Seq: the
  * optimizer folds a projection over a local relation with interpreted
  * eval on the driver, and the codegen side would never run. That side
  * also forbids every fallback to interpreted code, and must show a
  * whole-stage-codegen stage; the other runs with whole-stage codegen
  * off and the `NO_CODEGEN` expression factory. */
class NativeKernelsSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(20261018L)

  private def frame(schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r) }, 3),
      StructType(StructField("id", LongType, nullable = false) +: schema.fields))

  private def arr(t: DataType, containsNull: Boolean = true): ArrayType =
    ArrayType(t, containsNull)

  /** Doubles compared by their bits (NaN equals NaN, 0.0 differs from -0.0). */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case r: Row => r.toSeq.map(canon).toList
    case other => other
  }

  private def run(df: DataFrame, calls: Seq[Column]): Seq[Any] =
    df.select(col("id") +: calls: _*).collect().sortBy(_.getLong(0)).map(canon).toSeq

  private def vec(len: Int, float: Boolean, nullAt: Int = -1): Seq[Any] =
    Seq.tabulate(len) { i =>
      if (i == nullAt) null
      else {
        val x = rnd.nextInt(12) match {
          case 0 => Double.NaN
          case 1 => -0.0
          case 2 => Double.PositiveInfinity
          case 3 => 1e300
          case _ => rnd.nextGaussian() * 10
        }
        if (float) x.toFloat else x
      }
    }

  private def randVec(float: Boolean, lens: Seq[Int]): Seq[Any] =
    rnd.nextInt(10) match {
      case 0 => null
      case 1 => vec(lens(rnd.nextInt(lens.length)), float,
        nullAt = rnd.nextInt(4))
      case _ => vec(lens(rnd.nextInt(lens.length)), float)
    }

  private def longs(len: Int): Seq[Long] = Seq.fill(len)(rnd.nextInt(8) match {
    case 0 => Long.MinValue
    case 1 => Long.MaxValue
    case 2 => 0L
    case _ => rnd.nextLong()
  })

  /** A sorted, distinct subset of a small universe, so two sets overlap. */
  private def sortedSet(): Seq[Long] = rnd.nextInt(8) match {
    case 0 => Seq.empty
    case 1 => Seq(Long.MinValue, -1L, 0L, Long.MaxValue)
    case _ => (-20L to 20L).filter(_ => rnd.nextInt(3) == 0)
  }

  private val dims = Seq(0, 1, 3, 4, 4, 4, 7)

  private def dotFrame: DataFrame = frame(
    StructType(Seq(StructField("ad", arr(DoubleType)), StructField("af", arr(FloatType)),
      StructField("bd", arr(DoubleType)), StructField("bf", arr(FloatType)))),
    Seq(Seq(Seq(1.0, 2.0), Seq(1.0f, 2.0f), Seq(3.0, 4.0), Seq(3.0f, 4.0f)),
      Seq(Seq(1.0, null), Seq(1.0f, 2.0f), Seq(Double.NaN, 4.0), Seq(3.0f)),
      Seq(Seq.empty[Double], Seq.empty[Float], Seq.empty[Double], Seq.empty[Float]),
      Seq(null, null, Seq(1.0), Seq(1.0f))) ++
      Seq.fill(200)(Seq(randVec(false, dims), randVec(true, dims),
        randVec(false, dims), randVec(true, dims))))

  private def basis(k: Int, d: Int): Column =
    typedLit(Seq.fill(k)(Seq.fill(d)(rnd.nextGaussian())))
  private def doubles(k: Int): Column = typedLit(Seq.fill(k)(rnd.nextGaussian()))

  private def longArrays(lens: Seq[Int]): DataFrame = frame(
    StructType(Seq(StructField("sh", arr(LongType, containsNull = false)))),
    Seq(Seq(null), Seq(Seq.empty[Long]), Seq(Seq(0L)), Seq(Seq(Long.MinValue, Long.MaxValue))) ++
      lens.map(n => Seq(longs(n))))

  /** (function, input frame, calls) — one row per native expression. */
  private lazy val cases: Seq[(String, () => DataFrame, () => Seq[Column])] = Seq(
    ("graft_dot", () => dotFrame, () => for {
      a <- Seq("ad", "af"); b <- Seq("bd", "bf")
    } yield call_function("graft_dot", col(a), col(b))),
    ("graft_mat_project", () => dotFrame, () => Seq(
      call_function("graft_mat_project", col("ad"), basis(3, 4), doubles(3), doubles(3)),
      call_function("graft_mat_project", col("af"), basis(3, 4), doubles(3), doubles(3)),
      call_function("graft_mat_project", col("bd"), basis(1, 1), doubles(1), doubles(1)),
      call_function("graft_mat_project", col("bf"), basis(5, 7), doubles(5), doubles(5)))),
    ("graft_minhash_sig", () => longArrays(Seq(1, 2, 5, 17, 40, 200)),
      () => Seq(1, 7, 64, 512).map(p =>
        call_function("graft_minhash_sig", col("sh"), lit(p)))),
    ("graft_minhash_bands", () => frame(StructType(Seq(StructField("sig", arr(LongType)))),
      Seq(Seq(null), Seq(Seq.empty[Long]), Seq(Seq[Any](5L, null, 7L, 8L))) ++
        Seq(1, 3, 8, 64, 512).map(n => Seq(longs(n)))),
      () => Seq(1, 2, 4).map(r => call_function("graft_minhash_bands", col("sig"), lit(r)))),
    ("graft_simhash63", () => longArrays(Seq(1, 2, 3, 9, 63, 64, 300)),
      () => Seq(call_function("graft_simhash63", col("sh")))),
    ("graft_sorted_intersect_count", () => frame(
      StructType(Seq(StructField("a", arr(LongType, containsNull = false)),
        StructField("b", arr(LongType, containsNull = false)))),
      Seq(Seq(null, Seq(1L)), Seq(Seq(1L), null), Seq(Seq.empty[Long], Seq(1L, 2L))) ++
        Seq.fill(100)(Seq(sortedSet(), sortedSet()))),
      () => Seq(call_function("graft_sorted_intersect_count", col("a"), col("b")),
        call_function("graft_sorted_intersect_count", col("b"), col("a")))),
    ("graft_sorted_upper_bound", () => frame(
      StructType(Seq(StructField("arr", arr(LongType, containsNull = false)),
        StructField("t", LongType))),
      Seq(Seq(null, 1L), Seq(Seq(1L, 2L), null), Seq(Seq.empty[Long], 0L),
        Seq(Seq(1L, 1L, 1L), 1L), Seq(Seq(Long.MinValue, Long.MaxValue), Long.MaxValue),
        Seq(Seq(Long.MinValue, Long.MaxValue), Long.MinValue)) ++
        Seq.fill(100) {
          val a = longs(rnd.nextInt(30)).sorted
          val t = if (a.nonEmpty && rnd.nextBoolean()) a(rnd.nextInt(a.length)) else rnd.nextLong()
          Seq(a, t)
        }),
      () => Seq(call_function("graft_sorted_upper_bound", col("arr"), col("t")))))

  cases.foreach { case (name, mkFrame, mkCalls) =>
    test(s"$name: whole-stage codegen and interpreted eval agree bit for bit") {
      val df = mkFrame()
      val calls = mkCalls()
      val gen = withSessionConf("spark.sql.codegen.factoryMode", "CODEGEN_ONLY") {
        withSessionConf("spark.sql.codegen.fallback", "false") {
          val q = df.select(calls: _*)
          assert(codegenStages(q).exists(
            _.child.find(_.isInstanceOf[ProjectExec]).isDefined),
            "the projection runs outside whole-stage codegen:\n" +
              q.queryExecution.executedPlan)
          run(df, calls)
        }
      }
      val interp = withSessionConf("spark.sql.codegen.wholeStage", "false") {
        withSessionConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(run(df, calls))
      }
      assert(gen.length === df.count())
      gen.zip(interp).foreach { case (g, i) => assert(g === i) }
    }
  }

  test("graft_dot: NULL on a length mismatch or a null element, NaN kept as a value") {
    val got = dotFrame.filter(col("id") < 4)
      .select(col("id"), call_function("graft_dot", col("ad"), col("bd")),
        call_function("graft_dot", col("af"), col("bd")),
        call_function("graft_dot", col("ad"), col("bf")))
      .collect().sortBy(_.getLong(0))
    assert(got.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq ===
      Seq(Some(11.0), None, Some(0.0), None))
    assert(got(0).getDouble(2) === 11.0 && got(1).getDouble(2).isNaN && got(3).isNullAt(2))
    assert(got(1).isNullAt(3)) // lengths 2 and 1
  }
}
