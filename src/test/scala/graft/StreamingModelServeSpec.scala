package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Features

/** Pins the streaming model serve path (round-9 ask #6): a feature
  * stream scored per micro-batch by a parquet-persisted model answers
  * EXACTLY what the batch predict answers for the same rows (batch
  * parity — scoring is per-row, so batch boundaries cannot change any
  * prediction), and replaying a batch overwrites its own output
  * (idempotent `batch=<id>` sink, the recipe shared with the ANN
  * serve). Covers the linear and GBM families end-to-end through the
  * persisted-artifact round-trip; the logistic wrapper shares the
  * identical runner, pinned by a one-batch smoke. */
class StreamingModelServeSpec extends SparkSpecBase {

  private def featureFrame = {
    import spark.implicits._
    (0 until 120).map { i =>
      val x1 = (i % 11).toDouble
      val x2 = ((i * 7) % 13).toDouble
      (i.toLong, x1, x2, 3.0 + 2.0 * x1 - 0.5 * x2 + math.sin(i.toDouble))
    }.toDF("row_id", "x1", "x2", "y")
  }

  private def writeJsonBatches(df: org.apache.spark.sql.DataFrame,
                               landing: String): Unit = {
    new java.io.File(landing).mkdirs()
    val rows = df.collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def jsonOf(rs: Seq[org.apache.spark.sql.Row]): String =
      rs.map { r =>
        s"""{"row_id":${r.getLong(0)},"x1":${r.getDouble(1)},"x2":${
          r.getDouble(2)},"y":${r.getDouble(3)}}"""
      }.mkString("\n")
    Files.writeString(java.nio.file.Path.of(landing, "b1.json"), jsonOf(b1.toSeq))
    Files.writeString(java.nio.file.Path.of(landing, "b2.json"), jsonOf(b2.toSeq))
  }

  private def stream(landing: String) =
    spark.readStream
      .schema("row_id LONG, x1 DOUBLE, x2 DOUBLE, y DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .json(landing)

  test("linear serve stream: per-batch scores equal the batch predict; replay is idempotent") {
    val base = Files.createTempDirectory("graft_linserve").toString
    val df = featureFrame
    writeJsonBatches(df, s"$base/feed")

    val model = Features.linearFit(df, Seq(col("x1"), col("x2")), col("y")).get
    Features.Linear.toFrame(spark, model).write.parquet(s"$base/model")

    val q = graft.streaming.StreamingModelServe.runModelServe(
      spark, stream(s"$base/feed"), s"$base/model", Seq("x1", "x2"),
      outDir = s"$base/out", checkpointDir = s"$base/ckpt", runId = "r1",
      entry = Features.Linear)
    q.awaitTermination(120000)

    def scores(d: org.apache.spark.sql.DataFrame) =
      d.select("row_id", "prediction").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamed = scores(spark.read.parquet(s"$base/out"))
    val reloaded = Features.Linear.fromFrame(
      spark.read.parquet(s"$base/model"))
    val batch = scores(
      Features.linearPredict(df, reloaded, Seq(col("x1"), col("x2"))))
    assert(streamed.size === df.count())
    // bit-exact parity: same literals, same per-row fold
    assert(streamed === batch)

    // two micro-batches landed in their own idempotent dirs
    val dirs = new java.io.File(s"$base/out").listFiles
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(dirs.length === 2, s"expected 2 batch dirs, got ${dirs.toSeq}")
    val before = spark.read.parquet(s"$base/out").count()
    // at-least-once replay of batch 0: re-score its rows into the same dir
    val b1 = spark.read.json(s"$base/feed/b1.json")
      .select(col("row_id").cast("long"), col("x1"), col("x2"), col("y"))
    Features.linearPredict(b1, reloaded, Seq(col("x1"), col("x2")))
      .write.mode("overwrite").parquet(s"$base/out/${dirs.head}")
    assert(spark.read.parquet(s"$base/out").count() === before)
  }

  test("SGD + softmax serve streams: per-batch scores equal the batch " +
    "predict through the persisted artifacts (the round-12 gradient " +
    "family's serve face)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sgdserve").toString
    val df = featureFrame
    writeJsonBatches(df, s"$base/feed")

    // linear SGD
    val lin = Features.sgdLinearFit(df, Seq(col("x1"), col("x2")),
      col("y")).get
    Features.Sgd.toFrame(spark, lin).write.parquet(s"$base/lin")
    val q1 = graft.streaming.StreamingModelServe.runModelServe(
      spark, stream(s"$base/feed"), s"$base/lin", Seq("x1", "x2"),
      outDir = s"$base/linout", checkpointDir = s"$base/linckpt", runId = "r1",
      entry = Features.Sgd)
    q1.awaitTermination(120000)
    def scores(d: org.apache.spark.sql.DataFrame) =
      d.select("row_id", "prediction").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rtLin = Features.Sgd.fromFrame(spark.read.parquet(s"$base/lin"))
    assert(scores(spark.read.parquet(s"$base/linout")) ===
      scores(Features.sgdPredict(df, rtLin, Seq(col("x1"), col("x2")))))

    // softmax: 3-class band label on x1
    val cls = (0 until 120).map { i =>
      val x1 = (i % 11).toDouble
      (i.toLong, x1, ((i * 7) % 13).toDouble,
        if (x1 < 4) "lo" else if (x1 < 8) "mid" else "hi")
    }.toDF("row_id", "x1", "x2", "y")
    new java.io.File(s"$base/cfeed").mkdirs()
    val rows = cls.collect()
    val (c1, c2) = rows.splitAt(rows.length / 2)
    def jsonOf(rs: Seq[org.apache.spark.sql.Row]): String =
      rs.map { r =>
        s"""{"row_id":${r.getLong(0)},"x1":${r.getDouble(1)},"x2":${
          r.getDouble(2)},"y":"${r.getString(3)}"}"""
      }.mkString("\n")
    Files.writeString(java.nio.file.Path.of(s"$base/cfeed", "b1.json"),
      jsonOf(c1.toSeq))
    Files.writeString(java.nio.file.Path.of(s"$base/cfeed", "b2.json"),
      jsonOf(c2.toSeq))
    val sm = Features.sgdSoftmaxFit(cls, Seq(col("x1"), col("x2")),
      col("y"), epochs = 8).get
    Features.Softmax.toFrame(spark, sm).write.parquet(s"$base/sm")
    val cstream = spark.readStream
      .schema("row_id LONG, x1 DOUBLE, x2 DOUBLE, y STRING")
      .option("maxFilesPerTrigger", 1).json(s"$base/cfeed")
    val q2 = graft.streaming.StreamingModelServe.runModelServe(
      spark, cstream, s"$base/sm", Seq("x1", "x2"),
      outDir = s"$base/smout", checkpointDir = s"$base/smckpt", runId = "r1",
      entry = Features.Softmax)
    q2.awaitTermination(120000)
    def preds(d: org.apache.spark.sql.DataFrame) =
      d.select("row_id", "predicted_class", "p_lo", "p_mid", "p_hi")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
    val rtSm = Features.Softmax.fromFrame(spark.read.parquet(s"$base/sm"))
    val batchPreds = preds(
      Features.sgdSoftmaxPredict(cls, rtSm, Seq(col("x1"), col("x2"))))
    val streamPreds = preds(spark.read.parquet(s"$base/smout"))
    assert(streamPreds.size === 120)
    assert(streamPreds === batchPreds) // bit-exact: same literals, same fold
  }

  test("GBM serve stream: per-batch scores equal the batch predict through the persisted stump table") {
    val base = Files.createTempDirectory("graft_gbmserve").toString
    val df = featureFrame
    writeJsonBatches(df, s"$base/feed")

    val model = Features.gbmFit(df, Seq(col("x1"), col("x2")), col("y"),
      rounds = 10, learningRate = 0.3, nBins = 16).get
    Features.Gbm.toFrame(spark, model).write.parquet(s"$base/model")

    val q = graft.streaming.StreamingModelServe.runModelServe(
      spark, stream(s"$base/feed"), s"$base/model", Seq("x1", "x2"),
      outDir = s"$base/out", checkpointDir = s"$base/ckpt", runId = "r1",
      entry = Features.Gbm)
    q.awaitTermination(120000)

    def scores(d: org.apache.spark.sql.DataFrame) =
      d.select("row_id", "prediction").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val reloaded = Features.Gbm.fromFrame(spark.read.parquet(s"$base/model"))
    val batch = scores(
      Features.gbmPredict(df, reloaded, Seq(col("x1"), col("x2"))))
    val streamed = scores(spark.read.parquet(s"$base/out"))
    assert(streamed.size === df.count())
    assert(streamed === batch)
    // the served fold actually fits the target (sanity that a real model,
    // not a constant, flowed through the artifact)
    val sse = streamed.map { case (id, p) =>
      val y = 3.0 + 2.0 * (id % 11) - 0.5 * ((id * 7) % 13) + math.sin(id.toDouble)
      (p - y) * (p - y)
    }.sum
    val sse0 = df.select(sum(pow(col("y") - model.f0, 2))).head.getDouble(0)
    assert(sse < sse0 * 0.5, s"served GBM barely beats the mean: $sse vs $sse0")
  }

  test("routed serve stream: per-group family dispatch through persisted pipeline artifacts, batch parity, both families engage") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_routedserve").toString
    val ev = Tables.events(spark, sf0001)
    // threshold 14: both families genuinely train (PipelineSpec fixture)
    val cfg = Pipeline.Config(predictor = "routed", modelThreshold = 14)
    val result = Pipeline.run(spark, ev, cfg, Some(s"$base/artifacts"))

    // feature requests over REAL routed groups of both families + one
    // unknown group (must fall back to the naive pred_f untouched)
    val routes = result.modelTypes
      .select("user_id", "event_type", "model_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val rnnGroups = routes.filter(_._3 == "rnn").take(3)
    val xgbGroups = routes.filter(_._3 == "xgb").take(3)
    assert(rnnGroups.nonEmpty && xgbGroups.nonEmpty,
      "fixture must route both families")
    val requests = (rnnGroups ++ xgbGroups).zipWithIndex.toSeq.map {
      case ((u, et, _), i) => (i.toLong, u, et, 40.0 + i, 35.0 + i)
    } :+ ((99L, -1L, "no_such_type", 50.0, 45.0))
    val reqDf = requests
      .toDF("req_id", "user_id", "event_type", "pred_f", "x2")

    val landing = s"$base/feed"; new java.io.File(landing).mkdirs()
    val rows = reqDf.collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def jsonOf(rs: Seq[org.apache.spark.sql.Row]): String =
      rs.map { r =>
        s"""{"req_id":${r.getLong(0)},"user_id":${r.getLong(1)},""" +
          s""""event_type":"${r.getString(2)}","pred_f":${r.getDouble(3)},""" +
          s""""x2":${r.getDouble(4)}}"""
      }.mkString("\n")
    Files.writeString(java.nio.file.Path.of(landing, "b1.json"), jsonOf(b1.toSeq))
    Files.writeString(java.nio.file.Path.of(landing, "b2.json"), jsonOf(b2.toSeq))

    val stream = spark.readStream
      .schema("req_id LONG, user_id LONG, event_type STRING, pred_f DOUBLE, x2 DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .json(landing)
    val q = graft.streaming.StreamingModelServe.runPipelineServe(
      spark, stream, s"$base/artifacts", "routed",
      outDir = s"$base/out", checkpointDir = s"$base/ckpt", runId = "r1")
    q.awaitTermination(120000)

    def preds(d: org.apache.spark.sql.DataFrame) =
      d.select("req_id", "pred_f").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamed = preds(spark.read.parquet(s"$base/out"))
    val batch = preds(Pipeline.score("routed", reqDf,
      a => operators.Sinks.readSnapshot(spark, s"$base/artifacts/$a")))
    assert(streamed.size === requests.length)
    assert(streamed === batch)

    // the unknown group kept its naive pred_f; each family changed at
    // least one of its requests (the dispatch genuinely fired per route)
    assert(streamed(99L) === 50.0)
    val naive = requests.map(r => r._1 -> r._4).toMap
    val rnnIds = requests.take(rnnGroups.length).map(_._1)
    val xgbIds = requests.slice(rnnGroups.length,
      rnnGroups.length + xgbGroups.length).map(_._1)
    assert(rnnIds.exists(id => streamed(id) != naive(id)),
      "no rnn-routed request was rescored")
    assert(xgbIds.exists(id => streamed(id) != naive(id)),
      "no xgb-routed request was rescored")
  }

  test("seq serve stream: multi-feature fit served from the persisted artifact, exogenous features move predictions, batch parity") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_seqserve").toString
    // the PipelineSpec exogenous fixture: view values are a pure
    // function of the day's purchase count (x3) and weekday (x4)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long, String, Double)]()
    var id = 0L
    for (i <- 0 until 21) {
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val p = (i % 3) + 1
      for (j <- 0 until p) {
        rows += ((id, s"$day 08:0$j:00", 1L, "purchase", 1.0)); id += 1
      }
      val wd = day.getDayOfWeek.getValue
      rows += ((id, s"$day 12:00:00", 1L, "view", 4.0 * p + 0.1 * wd))
      id += 1
    }
    val ev = rows.toSeq
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    Pipeline.run(spark, ev, Pipeline.Config(predictor = "seq"),
      Some(s"$base/artifacts"))

    // requests: same group, same lags, DIFFERENT exogenous features —
    // the served scores must differ by exactly b3·Δx3 + b4·Δx4 — plus
    // an unknown group that must keep its naive pred_f
    val requests = Seq(
      (0L, 1L, "view", 8.0, 6.0, 1.0, 3.0),
      (1L, 1L, "view", 8.0, 6.0, 3.0, 3.0), // +2 purchases that day
      (2L, 1L, "view", 8.0, 6.0, 1.0, 6.0), // +3 weekdays
      (99L, -5L, "nope", 7.5, 6.0, 1.0, 3.0))
    val reqDf = requests.toDF("req_id", "user_id", "event_type",
      "pred_f", "x2", "x3", "x4")
    val landing = s"$base/feed"; new java.io.File(landing).mkdirs()
    Files.writeString(java.nio.file.Path.of(landing, "b1.json"),
      requests.map { r =>
        s"""{"req_id":${r._1},"user_id":${r._2},"event_type":"${r._3}",""" +
          s""""pred_f":${r._4},"x2":${r._5},"x3":${r._6},"x4":${r._7}}"""
      }.mkString("\n"))
    val stream = spark.readStream
      .schema("req_id LONG, user_id LONG, event_type STRING, " +
        "pred_f DOUBLE, x2 DOUBLE, x3 DOUBLE, x4 DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .json(landing)
    val q = graft.streaming.StreamingModelServe.runPipelineServe(
      spark, stream, s"$base/artifacts", "seq",
      outDir = s"$base/out", checkpointDir = s"$base/ckpt", runId = "r1")
    q.awaitTermination(120000)

    def preds(d: org.apache.spark.sql.DataFrame) =
      d.select("req_id", "pred_f").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamed = preds(spark.read.parquet(s"$base/out"))
    val batch = preds(Pipeline.score("seq", reqDf,
      a => operators.Sinks.readSnapshot(spark, s"$base/artifacts/$a")))
    assert(streamed.size === requests.length)
    assert(streamed === batch)
    // unknown group: naive passthrough
    assert(streamed(99L) === 7.5)
    // exogenous engagement through the SERVED artifact: b3 ≈ 4.0 and
    // b4 ≈ 0.1 recovered by the fit, so Δx3 = 2 moves the score ≈ 8 and
    // Δx4 = 3 moves it ≈ 0.3 (scale-2 snap tolerance)
    assert(math.abs((streamed(1L) - streamed(0L)) - 8.0) < 0.05,
      s"high-impact count did not move the served score: ${streamed(1L)} vs ${streamed(0L)}")
    assert(math.abs((streamed(2L) - streamed(0L)) - 0.3) < 0.05,
      s"weekday did not move the served score: ${streamed(2L)} vs ${streamed(0L)}")
  }

  test("logistic serve stream: served probabilities equal the batch sigmoid fold") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_logserve").toString
    val df = (0 until 120).map { i =>
      val x1 = (i % 11).toDouble
      val x2 = ((i * 7) % 13).toDouble
      (i.toLong, x1, x2, if (2.0 * x1 - x2 > 4.0) 1.0 else 0.0)
    }.toDF("row_id", "x1", "x2", "y")
    writeJsonBatches(df, s"$base/feed")
    val model = Features.logisticFit(df, Seq(col("x1"), col("x2")), col("y"),
      maxIters = 15).get
    Features.Logistic.toFrame(spark, model).write.parquet(s"$base/model")

    val q = graft.streaming.StreamingModelServe.runModelServe(
      spark, stream(s"$base/feed"), s"$base/model", Seq("x1", "x2"),
      outDir = s"$base/out", checkpointDir = s"$base/ckpt", runId = "r1",
      entry = Features.Logistic)
    q.awaitTermination(120000)

    def probs(d: org.apache.spark.sql.DataFrame) =
      d.select("row_id", "probability").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val reloaded = Features.Logistic.fromFrame(
      spark.read.parquet(s"$base/model"))
    val batch = probs(
      Features.logisticPredict(df, reloaded, Seq(col("x1"), col("x2"))))
    val streamed = probs(spark.read.parquet(s"$base/out"))
    assert(streamed === batch)
    // probabilities separate the classes (real model through the artifact)
    val labels = df.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val pos = streamed.collect { case (id, p) if labels(id) == 1.0 => p }
    val neg = streamed.collect { case (id, p) if labels(id) == 0.0 => p }
    assert(pos.sum / pos.size > 0.8 && neg.sum / neg.size < 0.2)
  }

  test("MAD anomaly serve: streamed flags equal the batch flagger; unseen groups flag NULL") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_madserve").toString
    // fit corpus: group g tight around 10, group h around 100
    val fit = ((1 to 40).map(i => ("g", 10.0 + (i % 5) * 0.1)) ++
      (1 to 40).map(i => ("h", 100.0 + (i % 7)))).toDF("k", "v")
    Features.madStats(fit, Seq("k"), col("v"))
      .write.parquet(s"$base/stats")
    // serve feed: normals, one blatant anomaly per group, one UNSEEN group
    val feed = Seq(
      (1L, "g", 10.2), (2L, "g", 55.0), (3L, "h", 103.0),
      (4L, "h", 9.0), (5L, "zz", 1.0)
    ).toDF("row_id", "k", "v")
    val landing = s"$base/feed"
    new java.io.File(landing).mkdirs()
    val json = feed.collect().map(r =>
      s"""{"row_id":${r.getLong(0)},"k":"${r.getString(1)}","v":${r.getDouble(2)}}""")
    Files.writeString(java.nio.file.Path.of(landing, "b1.json"),
      json.take(3).mkString("\n"))
    Files.writeString(java.nio.file.Path.of(landing, "b2.json"),
      json.drop(3).mkString("\n"))
    val feedStream = spark.readStream
      .schema("row_id LONG, k STRING, v DOUBLE")
      .option("maxFilesPerTrigger", 1).json(landing)

    val q = graft.streaming.StreamingModelServe.runMadAnomalyServe(
      spark, feedStream, s"$base/stats", Seq("k"), "v", k = 3.0,
      outDir = s"$base/out", checkpointDir = s"$base/ckpt", runId = "r1")
    q.awaitTermination(120000)

    def flags(d: org.apache.spark.sql.DataFrame) =
      d.select("row_id", "is_outlier").collect()
        .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Boolean](1))).toMap
    val streamed = flags(spark.read.parquet(s"$base/out"))
    val batch = flags(Features.madFlag(feed,
      spark.read.parquet(s"$base/stats"), Seq("k"), col("v"), 3.0))
    assert(streamed === batch) // structural parity, bit for bit
    assert(streamed(1L) === Some(false))
    assert(streamed(2L) === Some(true))  // 55 vs median~10, MAD~0.1
    assert(streamed(3L) === Some(false))
    assert(streamed(4L) === Some(true))  // 9 vs median~103
    assert(streamed(5L) === None)        // unseen group -> NULL flag
  }
}
