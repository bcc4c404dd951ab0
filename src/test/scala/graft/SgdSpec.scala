package graft

import org.apache.spark.sql.functions._

import graft.operators.Features

/** Pins the minibatch-SGD linear trainer (Features.sgdLinearFit — the
  * round-12 gradient-training family, train.py:499-553's loop as
  * distributed aggregates):
  *  - DIFFERENTIAL vs an independent driver-side implementation fed the
  *    identical hash-gated minibatches: same ledger, same coefficients
  *    (tolerance-compared — double combine order differs by design);
  *  - the ledger contract: starts at the mean model's MSE, monotone
  *    non-increasing, and on signal-bearing data strictly improves;
  *  - artifact roundtrip; serve consistency;
  *  - the pipeline wiring (Config(predictor = "sgd")): artifact grading
  *    reproduces the run, missing features fall back naive.
  */
class SgdSpec extends SparkSpecBase {
  import spark.implicits._

  // deterministic signal: y = 3 + 2a − b + small structured noise
  private def synth(n: Int) = (0 until n).map { i =>
    val a = i / 100.0
    val b = (i % 7).toDouble
    (i.toLong, a, b, 3.0 + 2.0 * a - b + ((i * 37) % 11 - 5) * 0.01)
  }.toDF("id", "a", "b", "y")

  test("differential: the distributed fit equals an independent driver " +
    "implementation fed the identical hash-gated minibatches") {
    val df = synth(200).repartition(7) // partitioning must not matter
    val fs = Seq(col("a"), col("b"))
    val epochs = 6
    val milli = 300
    val seed = 42L
    val model = Features.sgdLinearFit(df, fs, col("y"), epochs = epochs,
      lr0 = 0.5, batchMilli = milli, nHalvings = 8, seed = seed).get

    // driver twin: same rows, same minibatch membership (re-derived via
    // the PUBLIC sgdGate predicate), same backtracking rule
    val rows = df.select(col("id"), col("a"), col("b"), col("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    val member: Map[Int, Set[Long]] = (0 until epochs).map { e =>
      e -> df.filter(Features.sgdGate(fs, col("y"), seed, e, milli))
        .select(col("id")).collect().map(_.getLong(0)).toSet
    }.toMap
    val n = rows.length
    def z(r: (Long, Double, Double, Double)) = Array(1.0, r._2, r._3)
    var beta = Array(rows.map(_._4).sum / n, 0.0, 0.0)
    def loss(b: Array[Double]): Double =
      rows.map { r =>
        val d = z(r).zip(b).map { case (x, w) => x * w }.sum - r._4
        d * d
      }.sum / n
    var lastLoss = loss(beta)
    val ledger = scala.collection.mutable.ArrayBuffer(lastLoss)
    var accepted = 0
    for (e <- 0 until epochs) {
      val mb = rows.filter(r => member(e)(r._1))
      if (mb.nonEmpty) {
        val grad = Array.tabulate(3) { i =>
          2.0 * mb.map { r =>
            (z(r).zip(beta).map { case (x, w) => x * w }.sum - r._4) * z(r)(i)
          }.sum / mb.length
        }
        val hit = (0 until 8).map { k =>
          val lr = 0.5 / (1L << k)
          Array.tabulate(3)(i => beta(i) - lr * grad(i))
        }.find(b => loss(b) <= lastLoss)
        hit.foreach { b => beta = b; lastLoss = loss(b); accepted += 1 }
      }
      ledger += lastLoss
    }
    assert(model.nFit === n.toLong)
    assert(model.acceptedSteps === accepted)
    assert(model.lossLedger.length === ledger.length)
    model.lossLedger.zip(ledger).foreach { case (s, d) =>
      assert(math.abs(s - d) <= 1e-8 * (math.abs(d) + 1.0),
        s"ledger diverged: spark=$s driver=$d")
    }
    model.coef.zip(beta).foreach { case (s, d) =>
      assert(math.abs(s - d) <= 1e-8 * (math.abs(d) + 1.0),
        s"coef diverged: spark=$s driver=$d")
    }
  }

  test("ledger contract: starts at the mean model's MSE, monotone " +
    "non-increasing, strictly improves on signal; serve reproduces the " +
    "ledger tail; artifact roundtrip exact") {
    val df = synth(300)
    val fs = Seq(col("a"), col("b"))
    val model = Features.sgdLinearFit(df, fs, col("y")).get
    // entry 0 = mean-model MSE
    val stats = df.agg(avg(col("y")).as("m"), count(lit(1)).as("n")).head()
    val ybar = stats.getDouble(0)
    val mse0 = df.select(pow(col("y") - lit(ybar), 2).as("d"))
      .agg(sum(col("d"))).head().getDouble(0) / stats.getLong(1)
    assert(math.abs(model.lossLedger.head - mse0) <= 1e-9 * (mse0 + 1.0))
    // monotone by construction, strict improvement on real signal
    model.lossLedger.sliding(2).foreach { p =>
      assert(p(1) <= p(0) + 1e-12) }
    assert(model.acceptedSteps >= 1)
    assert(model.lossLedger.last < 0.5 * model.lossLedger.head,
      s"SGD failed to learn an obvious linear signal: ${model.lossLedger}")
    // serve consistency: recomputing full-train MSE through sgdPredict
    // equals the ledger tail
    val served = Features.sgdPredict(df, model, fs)
      .select(pow(col("prediction") - col("y"), 2).as("d"))
      .agg(sum(col("d"))).head().getDouble(0) / model.nFit
    assert(math.abs(served - model.lossLedger.last) <=
      1e-9 * (served + 1.0))
    // roundtrip
    val rt = Features.Sgd.fromFrame(
      Features.Sgd.toFrame(spark, model))
    assert(rt.coef.sameElements(model.coef) && rt.nFit === model.nFit &&
      rt.lossLedger === model.lossLedger &&
      rt.epochsRun === model.epochsRun &&
      rt.acceptedSteps === model.acceptedSteps)
  }

  test("guards: empty input None, bad hyperparameters loud, zero-signal " +
    "data never degrades below the mean model") {
    val df = synth(50)
    assert(Features.sgdLinearFit(df.filter(col("y").isNull),
      Seq(col("a")), col("y")).isEmpty)
    intercept[IllegalArgumentException] {
      Features.sgdLinearFit(df, Seq.empty, col("y"))
    }
    intercept[IllegalArgumentException] {
      Features.sgdLinearFit(df, Seq(col("a")), col("y"), batchMilli = 0)
    }
    // pure-noise target (feature-independent): the line search rejects
    // harmful steps, so the ledger can never rise above the null MSE
    val noise = (0 until 200).map(i =>
      (i.toLong, i / 100.0, ((i * 61) % 17 - 8).toDouble))
      .toDF("id", "a", "y")
    val m = Features.sgdLinearFit(noise, Seq(col("a")), col("y")).get
    assert(m.lossLedger.last <= m.lossLedger.head + 1e-12)
  }

  test("softmax SGD: ledger starts at the class-prior cross-entropy, " +
    "monotone, learns an obvious 3-class signal; serve probabilities " +
    "valid; roundtrip exact; class-cardinality guard loud") {
    // class = band of feature a, cleanly separable up to small noise
    val df = (0 until 300).map { i =>
      val a = (i % 30) / 10.0 + ((i * 37) % 11 - 5) * 0.005
      val cls = if (a < 1.0) "lo" else if (a < 2.0) "mid" else "hi"
      (i.toLong, a, cls)
    }.toDF("id", "a", "y")
    val model = Features.sgdSoftmaxFit(df, Seq(col("a")), col("y"),
      epochs = 12).get
    assert(model.classes === Seq("hi", "lo", "mid")) // lexicographic
    // ledger(0) = the prior model's cross-entropy = the exact class
    // entropy −Σ π_c ln π_c (noise shifts band boundaries, so classes
    // are only near-balanced — compute the entropy from the data)
    val priors = df.groupBy("y").count().collect()
      .map(_.getLong(1).toDouble / 300.0)
    val entropy = -priors.map(p => p * math.log(p)).sum
    assert(math.abs(model.lossLedger.head - entropy) < 1e-9)
    model.lossLedger.sliding(2).foreach(p => assert(p(1) <= p(0) + 1e-12))
    assert(model.acceptedSteps >= 1)
    assert(model.lossLedger.last < 0.8 * model.lossLedger.head,
      s"softmax failed to learn a separable signal: ${model.lossLedger}")
    // serve: probs in (0,1), rows sum to 1, accuracy beats the prior
    val served = Features.sgdSoftmaxPredict(df, model, Seq(col("a")))
    val chk = served.agg(
      min(least(col("p_lo"), col("p_mid"), col("p_hi"))).as("mn"),
      max(greatest(col("p_lo"), col("p_mid"), col("p_hi"))).as("mx"),
      max(abs(col("p_lo") + col("p_mid") + col("p_hi") - 1.0)).as("dev"),
      avg(when(col("predicted_class") === col("y"), 1.0).otherwise(0.0))
        .as("acc")).head()
    assert(chk.getDouble(0) > 0.0 && chk.getDouble(1) < 1.0)
    assert(chk.getDouble(2) < 1e-9)
    assert(chk.getDouble(3) > 0.5, s"accuracy ${chk.getDouble(3)}")
    // roundtrip
    val rt = Features.Softmax.fromFrame(
      Features.Softmax.toFrame(spark, model))
    assert(rt.classes === model.classes &&
      rt.coef.sameElements(model.coef) &&
      rt.lossLedger === model.lossLedger)
    // a corpus-cardinality label is a key, not a class
    val e = intercept[IllegalArgumentException] {
      Features.sgdSoftmaxFit(df, Seq(col("a")),
        col("id").cast("string"), maxClasses = 10)
    }
    assert(e.getMessage.contains("maxClasses"))
  }

  test("pipeline predictor=sgd: gradient model engages on the driver " +
    "fixture, artifact grading reproduces the run, missing features " +
    "fall back naive") {
    val ev = Tables.events(spark, sf0001)
    val out = java.nio.file.Files.createTempDirectory("graft_sgd").toString
    val sgd = Pipeline.run(spark, ev,
      Pipeline.Config(predictor = "sgd"), Some(out))
    val naive = Pipeline.run(spark, ev)
    // the persisted artifact: monotone ledger, moments present
    val art = spark.read.parquet(s"$out/predictor_params").head()
    val ledger = art.getSeq[Double](art.fieldIndex("loss_ledger"))
    ledger.sliding(2).foreach(p => assert(p(1) <= p(0) + 1e-12))
    assert(art.getSeq[Double](art.fieldIndex("mus")).length === 4)
    // forecasts moved off naive somewhere (the model engaged)
    def mse(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[String]("event_type")) -> r.getAs[Double]("MSE")).toMap
    val ms = mse(sgd.trainMetrics)
    val mn = mse(naive.trainMetrics)
    assert(ms.keySet === mn.keySet)
    assert(ms.exists { case (k, v) => math.abs(v - mn(k)) > 1e-9 })
    // grading from the persisted artifact reproduces the run
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => Seq(r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("R2"),
        r.getAs[Double]("MSE"), r.getAs[Long]("Samples"))
        .map(String.valueOf).mkString("|")).toSet
    val fromArtifacts = Pipeline.stageMetrics(spark, ev, out, "val",
      Pipeline.Config(predictor = "sgd"))
    assert(canon(fromArtifacts) === canon(sgd.validateMetrics))
    // score: any missing feature keeps the naive pred_f
    val params = spark.read.parquet(s"$out/predictor_params")
    val feat = Seq(
      (0L, Some(8.0), Some(6.0), Some(1.0), Some(3.0)),
      (1L, Some(8.0), Some(6.0), None, Some(3.0)),
      (2L, Some(8.0), None, Some(1.0), Some(3.0)))
      .toDF("req_id", "pred_f", "x2", "x3", "x4")
    val scored = Pipeline.score("sgd", feat, Map("predictor_params" -> params))
      .select("req_id", "pred_f").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(1L) === 8.0 && scored(2L) === 8.0)
    assert(scored(0L) !== 8.0) // the fitted row actually scored
  }

  test("sgdGate targetCast='string' reproduces softmax membership " +
    "semantics: non-numeric labels hash distinctly (the default double " +
    "cast cannot express them — it fails loud under ANSI)") {
    // 40 feature-identical rows, 4 distinct string labels
    val df = (0 until 40).map(i => (i.toLong, 1.0, s"c${i % 4}"))
      .toDF("id", "a", "label")
    val fs = Seq(col("a"))
    def fates(cast: String): Map[String, Boolean] =
      (0 until 6).flatMap { e =>
        df.withColumn("g",
            Features.sgdGate(fs, col("label"), 42L, e, 500, cast))
          .select(col("label"), col("g")).distinct()
          .collect().map(r => s"$e:${r.getString(0)}" -> r.getBoolean(1))
      }.toMap
    // string cast: label participates in the hash — across 6 epochs the
    // 4 labels cannot all share fate every epoch (P ≈ (1/8)^6 per split)
    val byString = fates("string")
    assert(byString.values.toSet.size === 2,
      "string-cast gate never split NOR never kept — degenerate hash")
    // feature-identical rows with the SAME label share fate by design
    assert(byString.size === 24, "a (epoch, label) pair had mixed fates")
    // the default double cast on a non-numeric label is a LOUD error
    // under ANSI (Spark 4 default), not a silent NULL-shared fate —
    // callers re-deriving sgdSoftmaxFit membership must pass "string"
    val err = intercept[Exception] {
      df.withColumn("g",
          Features.sgdGate(fs, col("label"), 42L, 0, 500, "double"))
        .collect()
    }
    assert(err.getMessage.contains("CAST_INVALID_INPUT"))
  }
}
