package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.operators.Sinks

/** Pins the E2/E3 orchestration shapes and the sink-mode semantics
  * (SNK1-SNK5) that the per-query oracle can't observe (stateful writes). */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  test("E2E pipeline on sf0.001: all tables produced, live forecast is one row per surviving group") {
    val dir = Files.createTempDirectory("graft_pipe").toString
    val r = Pipeline.run(spark, Tables.events(spark, sf0001), outDir = Some(dir))
    assert(r.trainMetrics.count() > 0)
    assert(r.validateMetrics.count() > 0)
    assert(r.testForecasts.count() > 0)
    val nGroups = r.liveForecasts.count()
    assert(nGroups === r.liveForecasts.select("user_id", "event_type").distinct().count())
    // splits cover every kept row exactly once with the 70/15/15 shape
    val sc = r.splits.groupBy("split").count().collect()
      .map(x => x.getAs[String]("split") -> x.getAs[Long]("count")).toMap
    assert(sc.keySet === Set("train", "val", "test"))
    assert(sc("train") > sc("val") && sc("train") > sc("test"))
    // persisted side tables exist and round-trip
    assert(Sinks.rowCount(spark, s"$dir/train_metrics") === r.trainMetrics.count())
    assert(Sinks.tableExists(spark, s"$dir/norm_params"))
    // SNK6: artifacts are VERSIONED — a second run advances norm_params
    // to v=2 with v=1 retained, and the latest read-back matches
    assert(Sinks.readSnapshot(spark, s"$dir/norm_params").count()
      === r.normParams.count())
    Pipeline.run(spark, Tables.events(spark, sf0001), outDir = Some(dir))
    assert(Sinks.tableExists(spark, s"$dir/norm_params/v=1"))
    assert(Sinks.tableExists(spark, s"$dir/norm_params/v=2"))
  }

  test("automate: validate before train fails SOFT on the artifact gate; full chain green") {
    val dir = Files.createTempDirectory("graft_automate").toString + "/run"
    val ev = Tables.events(spark, sf0001)
    // the reference's 'model not found — run /train first' behavior
    // (main.py:320-323): gated, soft, chain continues
    val pre = Pipeline.automate(spark, ev, dir, stages = Seq("validate", "test"))
    assert(pre.map(_.stage) === Seq("validate", "test"))
    assert(pre.forall(!_.ok))
    assert(pre.forall(_.detail.contains("run train first")))
    // full chain: train publishes artifacts, validate/test pass the gate
    // and compute their metrics FROM the persisted artifacts
    val all = Pipeline.automate(spark, ev, dir)
    assert(all.map(s => s.stage -> s.ok) ===
      Seq("train" -> true, "validate" -> true, "test" -> true))
    // the artifact-driven validate metrics equal the in-memory run's
    val fromArtifacts = Pipeline.stageMetrics(spark, ev, dir, "val")
    val inMemory = Pipeline.run(spark, ev).validateMetrics
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("user_id", "event_type", "R2", "MSE", "Samples", "model_type")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(fromArtifacts) === canon(inMemory))
    // unknown stage: 404-shaped soft failure, not a crash
    val unk = Pipeline.automate(spark, ev, dir, stages = Seq("deploy"))
    assert(unk === Seq(Pipeline.StageStatus("deploy", ok = false,
      "unknown stage 'deploy'")))
  }

  test("automate honors cfg.predictor: ar1 stages grade the TRAINED model from its persisted params") {
    val base = Files.createTempDirectory("graft_automate_ar1").toString
    val ev = Tables.events(spark, sf0001)
    val cfg = Pipeline.Config(predictor = "ar1")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("user_id", "event_type", "R2", "MSE", "Samples", "model_type")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // gate: a NAIVE train run publishes no predictor_params, so an ar1
    // validate must fail soft on the artifact gate — not silently grade
    // the naive model (the round-6 cfg-ignored defect)
    Pipeline.run(spark, ev, outDir = Some(s"$base/naive"))
    val gated = Pipeline.automate(spark, ev, s"$base/naive", cfg,
      stages = Seq("validate"))
    assert(!gated.head.ok && gated.head.detail.contains("predictor_params"))
    // full ar1 chain: train publishes the fit, validate/test apply IT
    val all = Pipeline.automate(spark, ev, s"$base/ar1", cfg)
    assert(all.map(s => s.stage -> s.ok) ===
      Seq("train" -> true, "validate" -> true, "test" -> true))
    assert(Sinks.tableExists(spark, s"$base/ar1/predictor_params"))
    val fromArtifacts = Pipeline.stageMetrics(spark, ev, s"$base/ar1", "val", cfg)
    val inMemory = Pipeline.run(spark, ev, cfg).validateMetrics
    assert(canon(fromArtifacts) === canon(inMemory))
    // and the trained grading is NOT the naive grading
    val naiveMetrics = Pipeline.stageMetrics(spark, ev, s"$base/ar1", "val")
    assert(canon(fromArtifacts) !== canon(naiveMetrics))
  }

  test("ar1 predictor: trained line engages and cannot lose to naive on its own training split") {
    val ev = Tables.events(spark, sf0001)
    val naive = Pipeline.run(spark, ev)
    val ar1 = Pipeline.run(spark, ev, Pipeline.Config(predictor = "ar1"))
    def sse(df: org.apache.spark.sql.DataFrame): Map[(String, String), (Double, Long)] =
      df.collect().map(r => (r.getAs[Long]("user_id").toString,
        r.getAs[String]("event_type")) ->
        ((r.getAs[Double]("MSE") * r.getAs[Long]("Samples"),
          r.getAs[Long]("Samples")))).toMap
    val n = sse(naive.trainMetrics)
    val a = sse(ar1.trainMetrics)
    assert(a.keySet === n.keySet) // same groups survive
    // OLS minimizes train SSE over all (slope, intercept) — the naive
    // predictor IS the member (1, 0), so the fitted line can only match
    // or beat it per group, up to the scale-2 prediction snap (each
    // residual moves <= 0.005 -> SSE slack <= n * (0.01*|resid| + 2.5e-5),
    // bounded loosely here via the observed naive SSE)
    for ((k, (sseA, cnt)) <- a) {
      val (sseN, _) = n(k)
      val slack = 0.011 * math.sqrt(sseN * cnt) + 2.5e-5 * cnt
      assert(sseA <= sseN + slack, s"group $k: ar1 SSE $sseA > naive $sseN + $slack")
    }
    // and the model genuinely engaged: somewhere it strictly improved
    assert(a.exists { case (k, (sseA, _)) => sseA < n(k)._1 - 1e-6 })
    // unknown predictor fails loud at construction
    intercept[IllegalArgumentException] {
      Pipeline.Config(predictor = "lstm")
    }
  }

  test("routed predictor: each group scored by ITS routed family, families demonstrably disagree, artifacts persisted per family") {
    val base = Files.createTempDirectory("graft_routed").toString
    val ev = Tables.events(spark, sf0001)
    // threshold 14 = the fixture's median group size, so both families
    // genuinely train (every sf0.001 group is under the default 50)
    val cfg = Pipeline.Config(predictor = "routed", modelThreshold = 14)
    val routed = Pipeline.run(spark, ev, cfg, Some(base))
    val ar2 = Pipeline.run(spark, ev, Pipeline.Config(predictor = "ar2"))
    val naive = Pipeline.run(spark, ev)
    def canon(df: org.apache.spark.sql.DataFrame): Map[(Long, String), String] =
      df.collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[String]("event_type")) ->
        Seq(r.getAs[Double]("R2"), r.getAs[Double]("MSE"),
          r.getAs[Long]("Samples")).map(String.valueOf).mkString("|")).toMap
    val r = canon(routed.trainMetrics)
    val a2 = canon(ar2.trainMetrics)
    val nv = canon(naive.trainMetrics)
    assert(r.keySet === nv.keySet) // same groups survive the hygiene chain
    val route = routed.modelTypes
      .select("user_id", "event_type", "model_type").collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[String]("event_type")) ->
        x.getAs[String]("model_type")).toMap
    val rnnKeys = r.keySet.filter(k => route.get(k).contains("rnn"))
    val xgbKeys = r.keySet.filter(k => route.get(k).contains("xgb"))
    assert(rnnKeys.nonEmpty && xgbKeys.nonEmpty,
      "fixture must route both families or the dispatch is unobservable")
    // a per-group AR(2) fit sees exactly the same rows whether trained
    // alongside every group or only the rnn-routed ones — so rnn-routed
    // groups must match the ar2 pipeline BIT-FOR-BIT
    rnnKeys.foreach(k =>
      assert(r(k) === a2(k), s"rnn-routed group $k diverged from AR(2)"))
    // the families DISAGREE: some xgb-routed group is scored differently
    // by its stump than the AR(2) family would have scored it, and the
    // stump genuinely moved predictions off the naive fallback somewhere
    assert(xgbKeys.exists(k => r(k) != a2(k)),
      "families never disagreed — routing is a no-op on this fixture")
    assert(xgbKeys.exists(k => r(k) != nv(k)),
      "xgb family never moved a prediction off naive")
    // artifacts per family, and grading from them matches the run
    assert(Sinks.tableExists(spark, s"$base/predictor_params_rnn"))
    assert(Sinks.tableExists(spark, s"$base/predictor_params_xgb"))
    val fromArtifacts = Pipeline.stageMetrics(spark, ev, base, "val", cfg)
    assert(canon(fromArtifacts) === canon(routed.validateMetrics))
    // gate: a naive train published neither family artifact, so a routed
    // validate must fail soft instead of grading the wrong model
    Pipeline.run(spark, ev, outDir = Some(s"$base/naive"))
    val gated = Pipeline.automate(spark, ev, s"$base/naive", cfg,
      stages = Seq("validate"))
    assert(!gated.head.ok &&
      gated.head.detail.contains("predictor_params_rnn") &&
      gated.head.detail.contains("predictor_params_xgb"))
  }

  test("approx-split pipeline (the 100-TB plan) produces the same table shapes and near-identical split sizes") {
    val exact = Pipeline.run(spark, Tables.events(spark, sf0001))
    val approx = Pipeline.run(spark, Tables.events(spark, sf0001),
      Pipeline.Config(approxSplit = true))
    assert(approx.trainMetrics.count() > 0)
    assert(approx.liveForecasts.count() === exact.liveForecasts.count())
    def sizes(r: Pipeline.Result) = r.splits.groupBy("split").count().collect()
      .map(x => x.getAs[String]("split") -> x.getAs[Long]("count")).toMap
    val (se, sa) = (sizes(exact), sizes(approx))
    val n = se.values.sum.toDouble
    assert(sa.keySet === Set("train", "val", "test"))
    // membership may differ near each boundary, but only by ~relErr*n +
    // tie-group rows — 1% of the corpus is a generous cap
    Seq("train", "val", "test").foreach { s =>
      assert(math.abs(sa(s) - se(s)) <= n * 0.01,
        s"$s: approx ${sa(s)} vs exact ${se(s)}")
    }
  }

  test("config merge: overrides win, defaults fill (main.py:241-264)") {
    val c = Pipeline.Config.merged(Map("seqLength" -> "3", "trainRatio" -> "0.5"))
    assert(c.seqLength === 3)
    assert(c.trainRatio === 0.5)
    assert(c.modelThreshold === 50) // default preserved
    assert(c.valRatio === 0.15)
  }

  test("config merge precedence: defaults < file < manual (main.py:241-264)") {
    val c = Pipeline.Config.merged(
      fileOverrides = Map("seqLength" -> "3", "modelThreshold" -> "10"),
      manualOverrides = Map("seqLength" -> "9", "trainRatio" -> "0.6"))
    assert(c.seqLength === 9) // manual beats file
    assert(c.modelThreshold === 10) // file beats default
    assert(c.trainRatio === 0.6) // manual beats default
    assert(c.valRatio === 0.15) // default survives both layers
  }

  test("config file layer: Model Parameters.json shape loads, manual still wins (main.py:45-58, 241-264)") {
    val f = Files.createTempFile("graft_params", ".json")
    Files.writeString(f,
      """{
        |  "SEQ_LENGTH": 3,
        |  "HIDDEN_SIZE": 64,
        |  "DROPOUT": 0.2,
        |  "TRAIN_RATIO": 0.6,
        |  "description": "Model parameters for economic news ML pipeline",
        |  "version": "1.0"
        |}""".stripMargin)
    val fileLayer = Pipeline.Config.fromJsonFile(f.toString)
    // reference UPPER_SNAKE names land on engine keys; model-only and doc
    // keys pass through and are ignored by the known-key merge
    assert(fileLayer("seqLength") === "3")
    assert(fileLayer("trainRatio") === "0.6")
    val c = Pipeline.Config.merged(fileLayer,
      manualOverrides = Map("seqLength" -> "9"))
    assert(c.seqLength === 9) // manual beats file
    assert(c.trainRatio === 0.6) // file beats default
    assert(c.modelThreshold === 50) // default survives
    assert(c.valRatio === 0.15)
  }

  test("config file layer: missing or malformed file is an empty layer, not a failure (main.py:45-58)") {
    assert(Pipeline.Config.fromJsonFile("/nonexistent/params.json") === Map.empty)
    val bad = Files.createTempFile("graft_params_bad", ".json")
    Files.writeString(bad, "{not json")
    assert(Pipeline.Config.fromJsonFile(bad.toString) === Map.empty)
    val c = Pipeline.Config.merged(Pipeline.Config.fromJsonFile(bad.toString))
    assert(c === Pipeline.Config()) // defaults all the way down
  }

  test("config value tolerance: JSON null and unparseable values degrade to defaults, not crashes") {
    val f = Files.createTempFile("graft_params_vals", ".json")
    Files.writeString(f,
      """{"TRAIN_RATIO": null, "SEQ_LENGTH": "abc", "MODEL_THRESHOLD": 10}""")
    val layer = Pipeline.Config.fromJsonFile(f.toString)
    assert(!layer.contains("trainRatio")) // JSON null = absent, not "null"
    val c = Pipeline.Config.merged(layer)
    assert(c.trainRatio === 0.7) // default survives the null
    assert(c.seqLength === 5) // junk value falls back, no NumberFormatException
    assert(c.modelThreshold === 10) // good value still lands
    // a typo'd MANUAL value degrades one layer to the FILE value, not
    // straight to the default — precedence must survive value errors
    val c2 = Pipeline.Config.merged(
      fileOverrides = Map("seqLength" -> "7"),
      manualOverrides = Map("seqLength" -> "7x"))
    assert(c2.seqLength === 7)
  }

  test("validate-stage norm asymmetry: actual reuses train params, lag feature is local-only (validate.py:268-287)") {
    val r = Pipeline.run(spark, Tables.events(spark, sf0001))
    val vf = r.validateFeatures.cache()
    assert(vf.count() > 0)
    // every reused row's actual params come verbatim from the persisted
    // train side table
    val np = r.normParams.collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[String]("event_type")) ->
        (x.getAs[Double]("mn"), x.getAs[Double]("rng"))).toMap
    val reused = r.validateFeatures
      .join(Tables.events(spark, sf0001).select(col("event_id"),
        col("user_id"), col("event_type")), "event_id")
      .filter(col("reused_train_params"))
      .select("user_id", "event_type", "a_mn", "a_rng").distinct().collect()
    assert(reused.nonEmpty)
    reused.foreach { x =>
      val k = (x.getAs[Long]("user_id"), x.getAs[String]("event_type"))
      assert(np(k) === (x.getAs[Double]("a_mn"), x.getAs[Double]("a_rng")))
    }
    // the lag feature's params are NEVER the train params' column — they
    // derive from the val split only; pin one observable consequence:
    // p_rng is constant per group and rows exist where (a_mn, a_rng)
    // differs from (p_mn, p_rng) even for reused keys
    assert(vf.filter(col("reused_train_params") &&
      (col("a_mn") =!= col("p_mn") || col("a_rng") =!= col("p_rng"))).count() > 0)
    vf.unpersist()
  }

  test("validate plan shares the feature chain: one window-sort, upstream chain behind the checkpoint (r4 advice)") {
    val r = Pipeline.run(spark, Tables.events(spark, sf0001))
    // The featured frame (scan -> semi-join -> W5 split global window ->
    // lag/ffill windows) is lazily checkpointed, so every consumer's plan
    // must read it as an ExistingRDD scan instead of recomputing the
    // chain. validateFeatures consumes it on BOTH sides of its broadcast
    // join; without the checkpoint its plan carried TWO copies of the
    // whole chain including the serial global-window sort.
    val plan = r.validateFeatures.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      s"validateFeatures must read the checkpointed feature chain:\n$plan")
    // ONE window-sort of the fact: the a-side and p-side local min/max
    // windows share the same partitioning+ordering, so they stack on a
    // single Sort. A second Sort would mean a consumer recomputed the
    // chain (or the windows stopped sharing their exchange).
    val nSorts = plan.linesIterator.count(_.contains("Sort ["))
    assert(nSorts === 1,
      s"expected exactly 1 window-sort of the fact table, got $nSorts:\n$plan")
    // and no single-partition global sort survives anywhere downstream
    assert(!plan.contains("SinglePartition"),
      s"the serial W5 stage must stay behind the checkpoint:\n$plan")
  }

  test("SNK3 append-or-replace: append on first (empty) run, overwrite afterwards (db_connector.py:189-198)") {
    val dir = Files.createTempDirectory("graft_snk3").toString + "/live"
    val df1 = Seq((1L, 10.0)).toDF("id", "v")
    val df2 = Seq((2L, 20.0), (3L, 30.0)).toDF("id", "v")
    assert(Sinks.appendOrReplace(spark, df1, dir) === SaveMode.Append)
    assert(Sinks.rowCount(spark, dir) === 1L)
    assert(Sinks.appendOrReplace(spark, df2, dir) === SaveMode.Overwrite)
    assert(Sinks.rowCount(spark, dir) === 2L) // replaced, not appended
    assert(spark.read.parquet(dir).agg(min(col("id"))).collect().head.getLong(0) === 2L)
    // the gate is emptiness, not existence: a table that exists but holds
    // no rows is appended to
    val empty = Files.createTempDirectory("graft_snk3_empty").toString + "/live"
    Seq.empty[(Long, Double)].toDF("id", "v").write.parquet(empty)
    assert(Sinks.appendOrReplace(spark, df1, empty) === SaveMode.Append)
    assert(Sinks.rowCount(spark, empty) === 1L)
  }

  test("SNK1 snapshot upsert: versioned merge-on-write, batch wins on key") {
    val dir = Files.createTempDirectory("graft_snk1").toString + "/events"
    val b1 = Seq(("k1", 1, "a"), ("k2", 1, "b")).toDF("key", "ord", "payload")
    val b2 = Seq(("k2", 2, "B"), ("k3", 2, "c")).toDF("key", "ord", "payload")
    assert(Sinks.upsertSnapshot(spark, dir, b1, Seq("key"), "ord") === 1)
    assert(Sinks.upsertSnapshot(spark, dir, b2, Seq("key"), "ord") === 2)
    val now = Sinks.readSnapshot(spark, dir)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("payload")).toMap
    assert(now === Map("k1" -> "a", "k2" -> "B", "k3" -> "c"))
    // v=1 still readable: time travel by construction
    assert(spark.read.parquet(s"$dir/v=1").count() === 2L)
  }

  test("SNK2 truncate-and-load replaces contents; SNK5 partitioned snapshot replace") {
    val dir = Files.createTempDirectory("graft_snk2").toString
    Sinks.truncateAndLoad(Seq((1, "x")).toDF("id", "p"), s"$dir/t")
    Sinks.truncateAndLoad(Seq((2, "y"), (3, "z")).toDF("id", "p"), s"$dir/t")
    assert(Sinks.rowCount(spark, s"$dir/t") === 2L)
    Sinks.snapshotReplace(Seq((1, "a"), (2, "b")).toDF("id", "part"), s"$dir/snap", "part")
    assert(Sinks.tableExists(spark, s"$dir/snap/part=a"))
    assert(spark.read.parquet(s"$dir/snap").count() === 2L)
  }

  test("ar2 predictor: two-lag model engages with the same cannot-lose-" +
    "to-naive train guarantee") {
    val ev = Tables.events(spark, sf0001)
    val naive = Pipeline.run(spark, ev)
    val ar2 = Pipeline.run(spark, ev, Pipeline.Config(predictor = "ar2"))
    def sse(df: org.apache.spark.sql.DataFrame): Map[(String, String), (Double, Long)] =
      df.collect().map(r => (r.getAs[Long]("user_id").toString,
        r.getAs[String]("event_type")) ->
        ((r.getAs[Double]("MSE") * r.getAs[Long]("Samples"),
          r.getAs[Long]("Samples")))).toMap
    val n = sse(naive.trainMetrics)
    val a = sse(ar2.trainMetrics)
    assert(a.keySet === n.keySet)
    // (b1,b2,c) = (1,0,0) reproduces naive on every fitted row, and
    // unfitted rows/keys keep the naive pred — so per group the trained
    // SSE can only match or beat naive, up to the scale-2 snap slack
    for ((k, (sseA, cnt)) <- a) {
      val (sseN, _) = n(k)
      val slack = 0.011 * math.sqrt(sseN * cnt) + 2.5e-5 * cnt
      assert(sseA <= sseN + slack, s"group $k: ar2 SSE $sseA > naive $sseN + $slack")
    }
    assert(a.exists { case (k, (sseA, _)) => sseA < n(k)._1 - 1e-6 })
  }

  test("seq predictor: exogenous features demonstrably change the forecast — " +
    "coefficients on high-impact count and weekday are recovered, lag-only ar2 cannot compete") {
    // day i (2024-01-01 + i): (i % 3) + 1 purchase events by user 1,
    // then one 'view' event whose value = 4·(that day's purchase count)
    // + 0.1·isodow — a target that is a PURE function of the two
    // exogenous features (x3 = J1 high-impact count, x4 = weekday),
    // invisible to any lag-only model
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long, String, Double)]()
    var id = 0L
    for (i <- 0 until 21) {
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val p = (i % 3) + 1
      for (j <- 0 until p) {
        rows += ((id, s"$day 08:0$j:00", 1L, "purchase", 1.0)); id += 1
      }
      val wd = day.getDayOfWeek.getValue // ISO 1..7, = weekday(ts)+1
      rows += ((id, s"$day 12:00:00", 1L, "view", 4.0 * p + 0.1 * wd))
      id += 1
    }
    val ev = rows.toSeq
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = Files.createTempDirectory("graft_seq").toString
    val seq = Pipeline.run(spark, ev,
      Pipeline.Config(predictor = "seq"), Some(out))
    val ar2 = Pipeline.run(spark, ev, Pipeline.Config(predictor = "ar2"))
    def viewSse(df: org.apache.spark.sql.DataFrame): Double =
      df.filter(col("event_type") === "view").collect()
        .map(r => r.getAs[Double]("MSE") * r.getAs[Long]("Samples")).sum
    // the fit recovers the generating coefficients from the artifact —
    // the exogenous features ENGAGED (b3 -> 4.0 on the purchase count,
    // b4 -> 0.1 on the weekday), not just perturbed a lag model
    val fitted = spark.read.parquet(s"$out/predictor_params")
      .filter(col("event_type") === "view").head
    assert(math.abs(fitted.getAs[Double]("b3") - 4.0) < 0.01,
      s"b3=${fitted.getAs[Double]("b3")} did not recover the high-impact coefficient")
    assert(math.abs(fitted.getAs[Double]("b4") - 0.1) < 0.01,
      s"b4=${fitted.getAs[Double]("b4")} did not recover the weekday coefficient")
    // and the forecast changed where it matters: on every FITTED row the
    // seq model is exact, so the group's whole train SSE collapses to
    // the one early-row naive fallback residual both families share
    // (view row 2 has no second lag: |y₂−y₁| = 8.2−4.1), while the
    // lag-only family still carries real residuals on fitted rows
    val fallbackSse = math.pow(8.2 - 4.1, 2)
    val seqSse = viewSse(seq.trainMetrics)
    val ar2Sse = viewSse(ar2.trainMetrics)
    assert(seqSse <= fallbackSse + 1e-2,
      s"seq SSE $seqSse above the fallback-only bound $fallbackSse")
    assert(ar2Sse > seqSse + 1.0,
      s"ar2 $ar2Sse not materially worse than seq $seqSse")
    // grading from the persisted artifact reproduces the run (the routed
    // serve/train-cannot-disagree contract, for the seq family)
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => Seq(r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("R2"),
        r.getAs[Double]("MSE"), r.getAs[Long]("Samples"))
        .map(String.valueOf).mkString("|")).toSet
    val fromArtifacts = Pipeline.stageMetrics(spark, ev, out, "val",
      Pipeline.Config(predictor = "seq"))
    assert(canon(fromArtifacts) === canon(seq.validateMetrics))

    // the ar1/ar2 train guarantee carries over on the driver fixture:
    // (1,0,0,0,0) reproduces naive on every fitted row, so per group the
    // trained SSE can only match or beat naive up to the scale-2 snap
    val evd = Tables.events(spark, sf0001)
    val naive = Pipeline.run(spark, evd)
    val seqd = Pipeline.run(spark, evd, Pipeline.Config(predictor = "seq"))
    val ar2d = Pipeline.run(spark, evd, Pipeline.Config(predictor = "ar2"))
    def sse(df: org.apache.spark.sql.DataFrame): Map[(String, String), (Double, Long)] =
      df.collect().map(r => (r.getAs[Long]("user_id").toString,
        r.getAs[String]("event_type")) ->
        ((r.getAs[Double]("MSE") * r.getAs[Long]("Samples"),
          r.getAs[Long]("Samples")))).toMap
    val n = sse(naive.trainMetrics)
    val a = sse(seqd.trainMetrics)
    assert(a.keySet === n.keySet)
    for ((k, (sseA, cnt)) <- a) {
      val (sseN, _) = n(k)
      val slack = 0.011 * math.sqrt(sseN * cnt) + 2.5e-5 * cnt
      assert(sseA <= sseN + slack, s"group $k: seq SSE $sseA > naive $sseN + $slack")
    }
    // the wider feature row genuinely moved forecasts off the two-lag
    // family somewhere on real data too
    val a2 = sse(ar2d.trainMetrics)
    assert(a.exists { case (k, (s4, _)) => math.abs(s4 - a2(k)._1) > 1e-9 })
  }

  test("seqScore: a null exogenous feature keeps the naive pred_f instead " +
      "of nulling the fitted score (r10 advice)") {
    import spark.implicits._
    val params = Seq((1L, "view", 0.5, 0.25, 2.0, 0.1, 1.0, 10L, true))
      .toDF("user_id", "event_type", "b1", "b2", "b3", "b4", "intercept",
        "n_fit", "well_conditioned")
    val feat = Seq(
      (0L, 1L, "view", Some(8.0), Some(6.0), Some(1.0), Some(3.0)),
      (1L, 1L, "view", Some(8.0), Some(6.0), None, Some(3.0)),      // null x3
      (2L, 1L, "view", Some(8.0), Some(6.0), Some(1.0), None),      // null x4
      (3L, 1L, "view", Some(8.0), None, Some(1.0), Some(3.0)))      // null x2
      .toDF("req_id", "user_id", "event_type", "pred_f", "x2", "x3", "x4")
    val out = graft.Pipeline.seqScore(feat, params)
      .select("req_id", "pred_f").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // fitted row: round(.5*8 + .25*6 + 2*1 + .1*3 + 1, 2) = 8.8
    assert(out(0L) === 8.8)
    // any missing feature -> naive passthrough, never NULL
    assert(out(1L) === 8.0 && out(2L) === 8.0 && out(3L) === 8.0)
  }

  /** A frame's column names and its rows as strings, sorted — equal for
    * two frames holding the same table whatever their plans or row order. */
  private def content(df: org.apache.spark.sql.DataFrame) =
    (df.columns.toSeq,
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)

  test("run() publishes exactly the Result it returns, for every predictor; " +
    "validate/test graded from the artifacts equal the Result") {
    val ev = Tables.events(spark, sf0001)
    for (p <- Seq("naive", "ar1", "ar2", "routed", "seq", "sgd")) {
      val dir = Files.createTempDirectory(s"graft_publish_$p").toString
      val cfg = Pipeline.Config(predictor = p, modelThreshold = 14)
      val r = Pipeline.run(spark, ev, cfg, Some(dir))
      def snap(t: String) = Sinks.readSnapshot(spark, s"$dir/$t")
      def table(t: String) = spark.read.parquet(s"$dir/$t")
      Seq(
        "splits" -> (snap("splits"), r.splits),
        "model_types" -> (snap("model_types"), r.modelTypes),
        "norm_params" -> (snap("norm_params"), r.normParams),
        "train_metrics" -> (table("train_metrics"), r.trainMetrics),
        "validate_metrics" -> (table("validate_metrics"), r.validateMetrics),
        "validate_features" ->
          (table("validate_features"), r.validateFeatures),
        "test_forecasts" -> (table("test_forecasts"), r.testForecasts),
        "live_forecasts" -> (table("live_forecasts"), r.liveForecasts)
      ).foreach { case (t, (published, returned)) =>
        assert(content(published) === content(returned), s"$p: $t")
      }
      // windowRowsPerTask = 1 makes every key hot, so validate/test run
      // lag/ffill (and routed/seq's lag-2) through the chunked forms
      val serveCfgs =
        if (Set("routed", "seq")(p)) Seq(cfg, cfg.copy(windowRowsPerTask = 1L))
        else Seq(cfg)
      for ((split, want) <- Seq("val" -> r.validateMetrics,
          "test" -> r.testForecasts); c <- serveCfgs)
        assert(content(Pipeline.stageMetrics(spark, ev, dir, split, c)) ===
          content(want),
          s"$p: $split from artifacts, rows/task ${c.windowRowsPerTask}")
    }
  }

  /** Jobs started and ended under one value of a local property — the
    * spec's own tag, so jobs of anything else in the JVM do not count.
    * Pool threads a run creates inherit the tag, as do Spark's broadcast
    * and subquery threads (they copy the caller's local properties). */
  private final class TaggedJobs(tag: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    def started: Int = mine.size
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (Option(e.properties)
          .exists(_.getProperty(TagKey) == tag)) mine.add(e.jobId)
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      if (mine.contains(e.jobId)) ended.incrementAndGet()
  }
  private val TagKey = "graft.spec.tag"

  /** Run `body` with its jobs tagged and counted; the count is read after
    * the listener bus has delivered every event the body produced. */
  private def countingJobs[A](tag: String)(body: => A): (TaggedJobs, A) = {
    val sc = spark.sparkContext
    val jobs = new TaggedJobs(tag)
    sc.addSparkListener(jobs)
    sc.setLocalProperty(TagKey, tag)
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(sc)
      (jobs, a)
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(jobs)
    }
  }

  test("routed run() job budget; a failing tail write throws only after " +
    "every other write settled, and /train answers a soft error") {
    val ev = Tables.events(spark, sf0001)
    val cfg = Pipeline.Config(predictor = "routed", modelThreshold = 14)
    // warm-up on its own directory, so the counted run's plans and the
    // fixture scan are not first-time
    Pipeline.run(spark, ev, cfg,
      Some(Files.createTempDirectory("graft_jobs_warm").toString))
    val dir = Files.createTempDirectory("graft_jobs").toString
    val (jobs, _) = countingJobs("routed-run") {
      Pipeline.run(spark, ev, cfg, Some(dir)) }
    // the per-key side tables are pinned once and the tail writes in one
    // pass; re-running or re-broadcasting an aggregate per consumer
    // shows up here as extra jobs
    assert(jobs.started <= MaxRoutedRunJobs,
      s"routed run() ran ${jobs.started} jobs, budget $MaxRoutedRunJobs")
    assert(jobs.ended.get === jobs.started)

    // a plain FILE where the model_types table goes: its write fails, the
    // nine other writes of the tail still commit before run() throws
    val broken = Files.createTempDirectory("graft_jobs_broken").toString
    Files.writeString(java.nio.file.Path.of(s"$broken/model_types"), "x")
    val (failed, thrown) = countingJobs("routed-fail") {
      scala.util.Try(Pipeline.run(spark, ev, cfg, Some(broken))) }
    assert(thrown.isFailure, "a failed tail write must fail run()")
    assert(failed.ended.get === failed.started,
      "run() returned while a sibling write still had jobs in flight")
    Seq("splits", "norm_params", "predictor_params_rnn",
      "predictor_params_xgb").foreach(t =>
      assert(Sinks.hasCommittedVersion(spark, s"$broken/$t"), t))
    Seq("train_metrics", "validate_metrics", "validate_features",
      "test_forecasts", "live_forecasts").foreach(t =>
      assert(Files.exists(java.nio.file.Path.of(s"$broken/$t/_SUCCESS")), t))

    // the serving surface reports the same failure as data, not a 5xx
    val server = Serve.start(spark, () => ev, broken, port = 0)
    try {
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}/train"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """{"predictor": "routed", "MODEL_THRESHOLD": 14}""")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode === 200)
      assert(resp.body.contains("\"error\"") &&
        resp.body.contains("Training failed"), resp.body)
    } finally server.stop(0)
  }

  /** Jobs one routed run() with `outDir` may launch on the sf0.001
    * fixture: measured 40 with the side tables pinned; re-running them
    * per consumer took 71. */
  private val MaxRoutedRunJobs = 40
}
