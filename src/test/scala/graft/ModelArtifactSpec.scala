package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.{Features, Similarity}
import graft.operators.Features.{GbmModel, GbmStump, LinearModel,
  LogisticModel, SgdModel, SoftmaxModel}
import graft.operators.Similarity.PcaModel

/** Pins the on-disk format of the six persisted model frames. Each
  * fixture is written by hand in the layout the models have always been
  * persisted in (column names, types, nullability), so a frame written
  * by any earlier build reads back to the same model, and `toFrame`
  * writes that layout: same schema, same rows. One-row models refuse a
  * frame of any other row count; GBM and PCA frames hold one row per
  * stump or component, in any order, and refuse an empty frame. */
class ModelArtifactSpec extends SparkSpecBase {

  private val doubles = ArrayType(DoubleType, containsNull = false)
  private def schema(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })

  private def frame(s: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)

  /** Arrays compared by content, recursively (case classes holding
    * arrays do not compare equal by `==`). */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(norm)
    case s: Seq[_] => s.map(norm)
    case p: Product => p.productPrefix +: p.productIterator.map(norm).toSeq
    case x => x
  }

  /** The hand-built frame, through parquet, reads back to `model`;
    * `toFrame(model)` has exactly the fixture's schema and rows. */
  private def pin[M](s: StructType, rows: Seq[Row], model: M,
                     toFrame: M => DataFrame, fromFrame: DataFrame => M): Unit = {
    val dir = Files.createTempDirectory("graft_model_pin").toString + "/m"
    frame(s, rows).write.parquet(dir)
    assert(norm(fromFrame(spark.read.parquet(dir))) === norm(model))
    val written = toFrame(model)
    assert(written.schema === s)
    assert(written.collect().toSet === rows.toSet)
  }

  private def loud(expected: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(expected), e.getMessage)
  }

  test("one-row model frames (linear, logistic, SGD, softmax): the fixed " +
    "layout reads back equal, toFrame writes it, and a frame of zero or " +
    "two rows fails loud") {
    val linear = schema(("coef", doubles, true), ("n_fit", LongType, false))
    val linearRow = Row(Seq(1.5, -2.0, 0.25), 42L)
    pin(linear, Seq(linearRow), LinearModel(Array(1.5, -2.0, 0.25), 42L),
      Features.Linear.toFrame(spark, _), Features.Linear.fromFrame)

    val logistic = schema(("coef", doubles, true), ("n_fit", LongType, false),
      ("grad_norm", DoubleType, false), ("iters", IntegerType, false))
    pin(logistic, Seq(Row(Seq(0.1, -0.2), 17L, 3.5e-9, 7)),
      LogisticModel(Array(0.1, -0.2), 17L, 3.5e-9, 7),
      Features.Logistic.toFrame(spark, _), Features.Logistic.fromFrame)

    val sgd = schema(("coef", doubles, true), ("n_fit", LongType, false),
      ("loss_ledger", doubles, true), ("epochs_run", IntegerType, false),
      ("accepted_steps", IntegerType, false))
    pin(sgd, Seq(Row(Seq(0.5, 1.25), 100L, Seq(4.0, 2.0, 2.0), 2, 1)),
      SgdModel(Array(0.5, 1.25), 100L, Seq(4.0, 2.0, 2.0), 2, 1),
      Features.Sgd.toFrame(spark, _), Features.Sgd.fromFrame)

    val softmax = schema(("classes", ArrayType(StringType, containsNull = true), true),
      ("coef", doubles, true), ("n_fit", LongType, false),
      ("loss_ledger", doubles, true), ("epochs_run", IntegerType, false),
      ("accepted_steps", IntegerType, false))
    pin(softmax, Seq(Row(Seq("a.b", "lo"), Seq(0.1, 0.2, 0.3, 0.4), 90L,
        Seq(0.69, 0.5), 1, 1)),
      SoftmaxModel(Seq("a.b", "lo"), Array(0.1, 0.2, 0.3, 0.4), 90L,
        Seq(0.69, 0.5), 1, 1),
      Features.Softmax.toFrame(spark, _), Features.Softmax.fromFrame)

    loud("expected one model row, got 2")(
      Features.Linear.fromFrame(frame(linear, Seq(linearRow, linearRow))))
    loud("expected one model row, got 0")(
      Features.Logistic.fromFrame(frame(logistic, Nil)))
    loud("expected one model row, got 0")(
      Features.Sgd.fromFrame(frame(sgd, Nil)))
    loud("expected one model row, got 0")(
      Features.Softmax.fromFrame(frame(softmax, Nil)))
  }

  test("GBM frame: one row per stump read back in round order, the " +
    "zero-stump model as one round = -1 sentinel row, an empty frame " +
    "fails loud") {
    val gbm = schema(("round", IntegerType, false),
      ("feature_idx", IntegerType, false), ("bin", IntegerType, false),
      ("left_val", DoubleType, false), ("right_val", DoubleType, false),
      ("f0", DoubleType, false), ("lr", DoubleType, false),
      ("n_bins", IntegerType, false), ("mins", doubles, true),
      ("spans", doubles, true), ("n_fit", LongType, false),
      ("sses", doubles, true))
    def row(round: Int, f: Int, bin: Int, l: Double, r: Double) =
      Row(round, f, bin, l, r, 2.5, 0.3, 16, Seq(0.0, -1.0), Seq(10.0, 4.0),
        120L, Seq(9.0, 5.0, 3.0, 2.5))
    // stumps land out of round order
    pin(gbm, Seq(row(2, 0, 3, 0.5, -0.5), row(0, 1, 7, -1.0, 1.0),
        row(1, 0, 12, 0.25, -2.0)),
      GbmModel(2.5, 0.3, 16, Array(0.0, -1.0), Array(10.0, 4.0),
        Seq(GbmStump(1, 7, -1.0, 1.0), GbmStump(0, 12, 0.25, -2.0),
          GbmStump(0, 3, 0.5, -0.5)), 120L, Seq(9.0, 5.0, 3.0, 2.5)),
      Features.Gbm.toFrame(spark, _), Features.Gbm.fromFrame)
    pin(gbm, Seq(Row(-1, -1, -1, 0.0, 0.0, 7.5, 0.5, 8, Seq(1.0), Seq(49.0),
        50L, Seq(0.0))),
      GbmModel(7.5, 0.5, 8, Array(1.0), Array(49.0), Nil, 50L, Seq(0.0)),
      Features.Gbm.toFrame(spark, _), Features.Gbm.fromFrame)
    loud("empty GBM model frame")(Features.Gbm.fromFrame(frame(gbm, Nil)))
  }

  test("PCA frame: one row per component read back in component order, " +
    "an empty frame fails loud") {
    val pca = schema(("component_id", IntegerType, false),
      ("eigenvalue", DoubleType, false), ("component", doubles, true),
      ("mean", doubles, true))
    val mean = Seq(0.5, -0.25, 1.0)
    // components land shuffled
    pin(pca, Seq(Row(1, 0.75, Seq(0.0, 1.0, 0.0), mean),
        Row(2, 0.125, Seq(0.0, 0.0, 1.0), mean),
        Row(0, 2.0, Seq(1.0, 0.0, 0.0), mean)),
      PcaModel(mean.toArray, Array(2.0, 0.75, 0.125),
        Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0))),
      Similarity.Pca.toFrame(spark, _), Similarity.Pca.fromFrame)
    loud("empty PCA model frame")(Similarity.Pca.fromFrame(frame(pca, Nil)))
  }
}
