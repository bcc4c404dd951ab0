package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Features, Sinks}

/** E2/E3 — the reference's train→validate→test orchestration
  * (train.py:272-597, validate.py:171-331, test.py:138-242,
  * automate_pipeline.py:77-173) as one driver-side pipeline over a single
  * logical plan per stage, with the inter-stage state (split assignment,
  * model routing, norm params) as persisted parquet side tables instead
  * of joblib pickles.
  *
  * Model training itself is out of relational scope (no torch/xgboost in
  * a Spark-jars-only build — SURVEY.md §7 step 5): the default predictor
  * is the lag-1 naive forecast, which keeps every downstream operator (A6
  * metrics, W6 live forecasts, SNK2/SNK3 sinks) fully exercised; the
  * trained families are relational stand-ins for the reference's models.
  *
  * Each predictor family is one entry of the private [[Families]] table:
  * the artifacts it publishes with one fit each, the feature columns it
  * adds, and its apply. [[run]] fits and applies it, [[stageMetrics]]
  * applies the published artifacts, [[score]] serves them (the
  * streaming serve scores each micro-batch with it), and
  * [[requiredArtifacts]] gates on them — none of them names a family.
  *
  * Config merge semantics follow main.py:241-264: defaults < overrides.
  *
  * Scale notes: every stage co-partitions on the entity key
  * (user_id, event_type) — one shuffle feeds W1/W2/W3/W4/A5/A6; the side
  * tables are entity-cardinality (thousands of rows) and broadcast into
  * the fact; the only global operation is the W5 split (percentile
  * variant at 100 TB, Features.chronoSplitApprox).
  * [[run]] PINS those side tables: the A4 key statistics (which also
  * give the A2 routing and the window skew probe), each predictor
  * family's fitted params, the A5 norm params and the one A6 metrics
  * aggregate over (key, split) are each computed once, collected, and
  * held on the driver as local relations. They are bounded by the key
  * count, and the driver already held each one as a broadcast; a lazy
  * aggregate plan, by contrast, is re-run and re-broadcast by every
  * consumer. Fact-size frames (splits, the featured and predicted
  * frames, validateFeatures) are never collected. The norm params and the
  * predictor's fits pin in one concurrent wave, and the sink tail then
  * publishes its 8–10 tables in one concurrent pass (both on
  * [[Sinks.concurrently]]): the writes target different tables, each is
  * bound by driver latency rather than executor work, and each keeps its
  * own commit protocol. The last write is the stage stamp, which lets
  * [[automate]]'s validate/test answer from the published results.
  */
object Pipeline {

  /** Hyperparameters (Model Parameters.json:1-16) with defaults-then-
    * override merge (main.py:241-264).
    *
    * `approxSplit` selects the W5 implementation: false → the reference's
    * exact row-positional split (one global-window pass, train.py:131-153);
    * true → the 100-TB plan (Features.chronoSplitApprox: percentile
    * boundaries, no single-partition stage). Membership may differ by
    * ~relErr·n rows near each boundary — the documented trade.
    *
    * `predictor` names the forecast family, one entry of [[Families]]
    * (default "naive" — the lag-1 passthrough every existing oracle
    * pins); the table says what each family fits, publishes and applies.
    *
    * `windowRowsPerTask` (round 15, VERDICT r14 item 3): the auto-dispatch
    * bound between the plain per-key sort windows (lag/ffill — one task
    * per key) and the chunked skew scale paths
    * ([[Features.lag1Chunked]]/[[Features.ffillChunked]], parallelism per
    * (key, month)). One cheap per-key row-count probe (folded into the A4
    * aggregate the pipeline already runs; validate/test read it back as
    * the largest published `total_samples`) compares the HOTTEST kept
    * key against this bound; only when it exceeds the bound do the chunked
    * forms engage — results are oracle-identical either way, so the
    * switch trades plan shape, never semantics. Default 4M rows ≈ what a
    * single window task absorbs comfortably; the sf fixtures never reach
    * it, so the plain plans (and their pins) are unchanged unless a hot
    * key genuinely appears. */
  final case class Config(
      seqLength: Int = 5,
      modelThreshold: Int = 50,
      trainRatio: Double = 0.7,
      valRatio: Double = 0.15,
      approxSplit: Boolean = false,
      predictor: String = "naive",
      windowRowsPerTask: Long = 4000000L) {
    family(predictor)
    require(windowRowsPerTask > 0,
      s"windowRowsPerTask must be positive: $windowRowsPerTask")
  }

  object Config {
    /** Reference key names (Model Parameters.json:1-16, UPPER_SNAKE) onto
      * engine config keys; unknown keys pass through unchanged and are
      * ignored by [[merged]]'s known-key lookup — the reference file also
      * carries model-only hyperparameters (HIDDEN_SIZE, LR, …) and doc
      * fields (description, version) that the relational engine drops. */
    private val refAliases = Map(
      "SEQ_LENGTH" -> "seqLength", "MODEL_THRESHOLD" -> "modelThreshold",
      "TRAIN_RATIO" -> "trainRatio", "VAL_RATIO" -> "valRatio")

    /** File layer of [[merged]]: read a flat `Model Parameters.json`-shaped
      * object from disk (fastapi model/ML Pipeline/main.py:45-58).
      * Reference semantics preserved deliberately: a missing or
      * unparseable file yields an EMPTY layer (load_params_from_file logs
      * and returns {}), so the pipeline runs on defaults instead of
      * failing; scalar values are stringified for the merge; nested
      * values (none exist in the reference shape) are skipped. */
    def fromJsonFile(path: String): Map[String, String] =
      fromJson(_.readTree(new java.io.File(path)))

    /** Same layer from an in-memory JSON object string — the /train
      * endpoint's manual-override body ([[graft.Serve]]); same
      * error-tolerance contract as the file form (junk → empty layer). */
    def fromJsonString(json: String): Map[String, String] =
      fromJson(_.readTree(json))

    private def fromJson(read: ObjectMapper => com.fasterxml.jackson.databind
        .JsonNode): Map[String, String] =
      try {
        val root = read(new ObjectMapper())
        val b = Map.newBuilder[String, String]
        if (root != null && root.isObject) root.fields().forEachRemaining { e =>
          // JSON null means "absent", not the string "null" — skipping
          // it keeps the layer from shadowing the default with junk
          if (e.getValue.isValueNode && !e.getValue.isNull)
            b += (refAliases.getOrElse(e.getKey, e.getKey) -> e.getValue.asText)
        }
        b.result()
      } catch { case scala.util.control.NonFatal(_) => Map.empty }

    /** Three-layer merge, lowest to highest precedence: hard defaults <
      * config-file overrides < manual (CLI) overrides — main.py:241-264,
      * where the JSON params file updates the defaults dict and explicit
      * argparse values update that. Unparseable VALUES degrade ONE layer
      * (not straight to the default): a typo'd manual seqLength falls
      * back to the file's value if that parses, then to the default —
      * collapsing past a valid file value would silently violate the
      * precedence contract. Completes the error-tolerant behavior
      * [[fromJsonFile]] documents for the file as a whole: junk never
      * crashes the pipeline with a NumberFormatException. */
    def merged(fileOverrides: Map[String, String],
               manualOverrides: Map[String, String] = Map.empty): Config = {
      val d = Config()
      def get[A](key: String, parse: String => A, dflt: A): A =
        manualOverrides.get(key).flatMap(v => scala.util.Try(parse(v)).toOption)
          .orElse(fileOverrides.get(key).flatMap(v => scala.util.Try(parse(v)).toOption))
          .getOrElse(dflt)
      Config(
        seqLength = get("seqLength", _.toInt, d.seqLength),
        modelThreshold = get("modelThreshold", _.toInt, d.modelThreshold),
        trainRatio = get("trainRatio", _.toDouble, d.trainRatio),
        valRatio = get("valRatio", _.toDouble, d.valRatio),
        approxSplit = get("approxSplit", _.toBoolean, d.approxSplit),
        predictor = get("predictor", s => { family(s); s }, d.predictor),
        windowRowsPerTask = get("windowRowsPerTask",
          s => { val v = s.toLong; require(v > 0); v },
          d.windowRowsPerTask))
    }
  }

  /** Outputs of one end-to-end run — the four metrics tables of
    * init.sql:38-73 plus the side tables. `validateFeatures` is the
    * normalized val-split feature frame exhibiting the reference's
    * per-feature norm-param reuse asymmetry (see [[run]]). */
  final case class Result(
      splits: DataFrame, modelTypes: DataFrame, normParams: DataFrame,
      trainMetrics: DataFrame, validateMetrics: DataFrame,
      validateFeatures: DataFrame,
      testForecasts: DataFrame, liveForecasts: DataFrame)

  private val key = Seq("user_id", "event_type")
  private val keyCols = key.map(col)
  private val timeOrder = Seq("ts", "event_id")

  /** Plain-vs-chunked window dispatch (round 15, VERDICT r14 item 3).
    * The pipeline's order-dependent windows — lag-1, lag-2, forward-fill
    * — put EVERY row of a key into one task in their plain form; under a
    * hot key (one currency holding half the corpus) that task is the
    * whole pipeline's straggler, unboundedly at 100 TB. The chunked
    * forms bound it to rows-per-(key, month) and are oracle-identical
    * (Features.scala round-14/15 contract), so the dispatch is purely a
    * plan choice made from a measured statistic, never a semantics
    * choice. Chunk = calendar month of `ts` (epoch-micros / 30 days) —
    * monotone in the first time column, the `Features.chunkScan` guard
    * contract; lag-2 composes as lag∘lag (exact, nulls verbatim,
    * each application carrying its own chunk boundary). */
  private final case class WinOps(useChunked: Boolean) {
    private val w = Features.keyWindow(key, timeOrder)
    private def chunk = expr(
      "floor(unix_micros(CAST(ts AS TIMESTAMP)) / 2592000000000)")
    def lag1(df: DataFrame, c: String, out: String): DataFrame =
      if (useChunked) Features.lag1Chunked(df, c, key, timeOrder, chunk, out)
      else df.withColumn(out, Features.lag1(col(c), w))
    def lag2(df: DataFrame, c: String, out: String): DataFrame =
      if (useChunked) lag1(lag1(df, c, "__wo_lag1"), "__wo_lag1", out)
        .drop("__wo_lag1")
      else df.withColumn(out, lag(col(c), 2).over(w))
    def ffill(df: DataFrame, c: String, out: String): DataFrame =
      if (useChunked) Features.ffillChunked(df, c, key, timeOrder, chunk, out)
      else df.withColumn(out, Features.ffill(col(c), w))
  }

  /** F6 stand-in ordinal on the driver schema (CoreQueries convention):
    * 'purchase' is the high-impact class. */
  private val impactMap = Map("view" -> 1, "click" -> 2, "purchase" -> 3)

  /** The second filled lag, built the way pred_f is (lag → ffill). */
  private def withX2(featured: DataFrame, ops: WinOps): DataFrame =
    ops.ffill(ops.lag2(featured, "actual", "lag2"), "lag2", "x2").drop("lag2")

  /** The seq features: the second filled lag plus the two exogenous row
    * features — x3 = the J1 high-impact day count (purchases per (user,
    * day) — varies inside a group), x4 = ISO weekday. */
  private def withSeqX(featured: DataFrame, ops: WinOps): DataFrame =
    withX2(featured, ops)
      .withColumn("x3", Features.highImpactCount(
        graft.functions.cleaning.ordinalEncode(
          col("event_type"), impactMap) === 3,
        "user_id", to_date(col("ts"))).cast("double"))
      .withColumn("x4", (weekday(col("ts")) + lit(1)).cast("double"))

  /** Each row's group route from the model-routing side table as
    * `__route` (keys missing from it default "xgb", the [[run]] metrics
    * convention). */
  private def withRoute(df: DataFrame, modelTypes: DataFrame): DataFrame =
    df.join(broadcast(modelTypes.select(
        (keyCols :+ col("model_type").as("__route")): _*)), key, "left")
      .withColumn("__route", coalesce(col("__route"), lit("xgb")))

  /** The AR(2) score, with the scale-2 snap that keeps the downstream
    * decimal metric chain rounding-free cross-engine. */
  private val ar2Score = round(col("b1") * col("pred_f") +
    col("b2") * col("x2") + col("intercept"), 2)

  /** The sgd predictor's artifact: the [[Features.sgdLinearFit]] model
    * row EXTENDED with the train-split standardization moments (per-
    * feature μ/σ and the target's) — one frame, so the serve side can
    * never standardize with different statistics than the fit saw. An
    * EMPTY frame when no guarded train rows exist (the untrained-run
    * contract: [[applySgd]] then leaves every pred_f naive). σ floors
    * at 1.0 for constant columns (the A5 zero-range guard). */
  private def sgdArtifact(train: DataFrame): DataFrame = {
    val spark = train.sparkSession
    val fs = Seq("pred_f", "x2", "x3", "x4")
    val guard = (fs :+ "actual")
      .map(c => col(c).isNotNull && abs(col(c)) < lit(1e11)).reduce(_ && _)
    val g = train.filter(guard)
    val aggs = fs.flatMap(c => Seq(avg(col(c)).as(s"mu_$c"),
      stddev_pop(col(c)).as(s"sd_$c"))) ++
      Seq(avg(col("actual")).as("mu_y"),
        stddev_pop(col("actual")).as("sd_y"), count(lit(1)).as("n"))
    val m = g.agg(aggs.head, aggs.tail: _*).head()
    val empty = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "coef ARRAY<DOUBLE>, n_fit BIGINT, loss_ledger ARRAY<DOUBLE>, " +
          "epochs_run INT, accepted_steps INT, mus ARRAY<DOUBLE>, " +
          "sigmas ARRAY<DOUBLE>, mu_y DOUBLE, sigma_y DOUBLE"))
    if (m.getAs[Long]("n") == 0L) empty
    else {
      def sd(raw: Any): Double = raw match {
        case d: Double if !d.isNaN && d > 0.0 => d
        case _ => 1.0
      }
      val mus = fs.map(c => m.getAs[Double](s"mu_$c"))
      val sigmas = fs.map(c => sd(m.getAs[Any](s"sd_$c")))
      val muY = m.getAs[Double]("mu_y")
      val sigmaY = sd(m.getAs[Any]("sd_y"))
      val stdF = fs.zipWithIndex.map { case (c, i) =>
        (col(c) - lit(mus(i))) / lit(sigmas(i)) }
      val stdY = (col("actual") - lit(muY)) / lit(sigmaY)
      Features.sgdLinearFit(g, stdF, stdY, epochs = 8, lr0 = 0.5,
          batchMilli = 250) match {
        case None => empty
        case Some(model) =>
          import spark.implicits._
          Seq((model.coef.toSeq, model.nFit, model.lossLedger,
            model.epochsRun, model.acceptedSteps, mus, sigmas, muY, sigmaY))
            .toDF("coef", "n_fit", "loss_ledger", "epochs_run",
              "accepted_steps", "mus", "sigmas", "mu_y", "sigma_y")
      }
    }
  }

  /** Apply an [[sgdArtifact]] to a seq feature frame: rows with all
    * four features present score round(μ_y + σ_y·(β·z_std), 2) — the
    * model predicts in standardized space, the pipeline speaks raw
    * units — everything else (and every row of an untrained run) keeps
    * the naive `pred_f`. The artifact is ONE row (collected — the
    * one-row `Features.ModelEntry` convention); coefficients and moments
    * ride the plan as literals, map-only at any corpus size. */
  private def applySgd(feat2: DataFrame, artifact: DataFrame): DataFrame = {
    val rows = artifact.collect()
    if (rows.isEmpty) feat2
    else {
      val r = rows.head
      val coef = r.getSeq[Double](r.fieldIndex("coef"))
      val mus = r.getSeq[Double](r.fieldIndex("mus"))
      val sigmas = r.getSeq[Double](r.fieldIndex("sigmas"))
      val muY = r.getDouble(r.fieldIndex("mu_y"))
      val sigmaY = r.getDouble(r.fieldIndex("sigma_y"))
      val fs = Seq("pred_f", "x2", "x3", "x4")
      val eta = fs.zipWithIndex.map { case (c, i) =>
        lit(coef(i + 1)) * ((col(c) - lit(mus(i))) / lit(sigmas(i)))
      }.foldLeft(lit(coef(0)))(_ + _)
      feat2.withColumn("pred_f",
        when(fs.map(col(_).isNotNull).reduce(_ && _),
          round(lit(muY) + lit(sigmaY) * eta, 2))
          .otherwise(col("pred_f")))
    }
  }

  /** One predictor family: all that [[run]], [[stageMetrics]] and
    * [[score]] know of it.
    *  - `fits`: each artifact it publishes, by name, with its fit over
    *    the train rows of the family's features;
    *  - `window`: the history columns it adds on top of `featured` (a
    *    serve caller brings them itself);
    *  - `routed`: rows also carry their key's `__route` ([[withRoute]]);
    *  - `apply`: (features, artifacts in `fits` order) → `pred_f`; keys
    *    with no fit keep the naive `pred_f` (the reference's
    *    untrained-group else-branch). It drops the artifact columns and
    *    `__route`, and leaves the window columns to its caller. */
  private final case class Family(
      fits: Seq[(String, DataFrame => DataFrame)] = Nil,
      window: Option[(DataFrame, WinOps) => DataFrame] = None,
      routed: Boolean = false,
      apply: (DataFrame, Seq[DataFrame]) => DataFrame = (df, _) => df) {
    def artifacts: Seq[String] = fits.map(_._1)
    def addsFeatures: Boolean = window.isDefined || routed
  }

  /** The predictor families by [[Config]] name — the one place a family
    * is defined. Each trained family fits on the TRAIN split only and is
    * applied everywhere: the reference's train→apply contract
    * (train.py:377-499); its artifacts publish by versioned REPLACE, so
    * validate/test grade the model that was trained (validate.py:171-331)
    * and a retrain never blends stale per-key rows into it. */
  private val Families = scala.collection.immutable.ListMap[String, Family](
    // the lag-1 passthrough every existing oracle pins
    "naive" -> Family(),
    // per-group OLS line on the filled lag (Features.fitAr1), the
    // reference's LSTM swapped for the relational model
    "ar1" -> Family(
      fits = Seq("predictor_params" -> (t => Features.fitAr1(t, key,
        col("pred_f"), col("actual")))),
      apply = { case (feat, Seq(params)) =>
        feat.join(broadcast(params), key, "left")
          .withColumn("pred_f",
            when(col("slope").isNotNull,
              round(col("slope") * col("pred_f") + col("intercept"), 2))
              .otherwise(col("pred_f")))
          .drop("slope", "intercept", "n_fit") }),
    // Features.fitAr2 on the two filled lags — one step closer to the
    // reference's look-back window; rows missing the second lag fall back
    "ar2" -> Family(
      fits = Seq("predictor_params" -> (t => Features.fitAr2(t, key,
        col("pred_f"), col("x2"), col("actual")))),
      window = Some(withX2),
      apply = { case (feat, Seq(params)) =>
        feat.join(broadcast(params), key, "left")
          .withColumn("pred_f",
            when(col("b1").isNotNull && col("x2").isNotNull, ar2Score)
              .otherwise(col("pred_f")))
          .drop("b1", "b2", "intercept", "n_fit") }),
    // The reference's core ML dispatch (train.py:377-394 routes each
    // (Currency, Event) group by sample count; :453 scores it with its
    // own family's model): groups at/over modelThreshold train the
    // sequence family (AR(2) — the rnn branch's relational analogue), the
    // rest one exact GBM round per group (regressionStumpPerGroup — the
    // xgb branch, scored by the landing leaf's mean). Each fit reads only
    // its own routed train rows and publishes its own artifact: grading a
    // family with the other family's params would silently score the
    // wrong model. Rows whose family has no fit for the group, or that
    // miss the feature it needs, keep the naive pred_f.
    "routed" -> Family(
      fits = Seq(
        "predictor_params_rnn" -> (t => Features.fitAr2(
          t.filter(col("__route") === "rnn"), key, col("pred_f"), col("x2"),
          col("actual"))),
        "predictor_params_xgb" -> (t => Features.regressionStumpPerGroup(
          t.filter(col("__route") === "xgb"), key, col("pred_f"),
          col("actual")))),
      window = Some(withX2), routed = true,
      apply = { case (feat, Seq(rnn, xgb)) =>
        feat.join(broadcast(rnn.drop("n_fit")), key, "left")
          .join(broadcast(xgb.select((keyCols :+ col("threshold") :+
            col("left_mean") :+ col("right_mean")): _*)), key, "left")
          .withColumn("pred_f",
            when(col("__route") === "rnn" && col("b1").isNotNull &&
              col("x2").isNotNull, ar2Score)
            .when(col("__route") === "xgb" && col("threshold").isNotNull &&
              col("pred_f").isNotNull,
              when(col("pred_f") <= col("threshold"),
                round(col("left_mean"), 2))
                .otherwise(round(col("right_mean"), 2)))
            .otherwise(col("pred_f")))
          .drop("b1", "b2", "intercept", "threshold", "left_mean",
            "right_mean", "__route") }),
    // Multi-feature per-group sequence fit (round 10): the reference LSTM
    // consumes a six-feature normalized row per step (train.py:463-492);
    // this fits AR(2) lags PLUS the exogenous x3/x4. The F6 impact
    // ordinal is deliberately NOT a feature: it is constant inside a
    // (user_id, event_type) group, so every group's normal system would
    // be singular (see fitLinearPerGroup) — an LSTM ignores constant
    // inputs, closed-form OLS cannot. Ill-conditioned groups (the fit's
    // well_conditioned gate) are UNTRAINED: left out of the join, they
    // keep the naive pred_f; the artifact keeps them with their flag.
    // Rows missing ANY of x2/x3/x4 (possible on a [[score]] caller's
    // frame; run()'s own frames only realize null x2) keep it too: a
    // null feature would otherwise null the whole sum and silently
    // REPLACE a valid fallback prediction.
    "seq" -> Family(
      fits = Seq("predictor_params" -> (t => Features.fitLinearPerGroup(t,
        key, Seq(col("pred_f"), col("x2"), col("x3"), col("x4")),
        col("actual")))),
      window = Some(withSeqX),
      apply = { case (feat, Seq(params)) =>
        feat.join(broadcast(params.filter(col("well_conditioned"))
            .drop("n_fit", "well_conditioned")), key, "left")
          .withColumn("pred_f",
            when(col("b1").isNotNull && col("x2").isNotNull &&
                col("x3").isNotNull && col("x4").isNotNull,
              round(col("b1") * col("pred_f") + col("b2") * col("x2") +
                col("b3") * col("x3") + col("b4") * col("x4") +
                col("intercept"), 2))
              .otherwise(col("pred_f")))
          .drop("b1", "b2", "b3", "b4", "intercept") }),
    // GRADIENT training (round 12): the seq features, but ONE GLOBAL
    // linear model learned by minibatch gradient descent in z-scored
    // space (Features.sgdLinearFit — the train.py:499-553 training loop
    // itself, with an Armijo backtracking line search). The artifact
    // carries the train moments WITH the coefficients: serve must
    // standardize with them (the J4 norm-param-reuse lesson).
    "sgd" -> Family(
      fits = Seq("predictor_params" -> sgdArtifact),
      window = Some(withSeqX),
      apply = { case (feat, Seq(params)) => applySgd(feat, params) }))

  /** The family named `predictor`; an unknown name fails loud. */
  private def family(predictor: String): Family = {
    require(Families.contains(predictor), s"unknown predictor " +
      s"'$predictor' (${Families.keys.mkString(" | ")})")
    Families(predictor)
  }

  /** Every predictor name, in table order (for specs that must cover each
    * family). */
  private[graft] def predictorNames: Seq[String] = Families.keys.toSeq

  /** `f`'s feature frame over `featured` (itself when `f` adds none). */
  private def features(f: Family, featured: DataFrame, ops: WinOps,
                       modelTypes: DataFrame): DataFrame = {
    val w = f.window.fold(featured)(_(featured, ops))
    if (f.routed) withRoute(w, modelTypes) else w
  }

  /** `f` applied to its feature frame, the feature columns dropped again. */
  private def predict(f: Family, featured: DataFrame, feat: DataFrame,
                      artifacts: Seq[DataFrame]): DataFrame =
    f.apply(feat, artifacts).drop(feat.columns.diff(featured.columns): _*)

  /** The serve entry (the reference's predict endpoint, main.py:320-391:
    * look up the group's registered family, score with THAT family's
    * stored model): score a feature frame — `pred_f` (the last value,
    * possibly forward-filled) plus the family's window columns (`x2` the
    * second lag; `x3`, `x4` for seq and sgd) — with the artifacts a
    * [[run]] of `predictor` published, looked up by name in `artifact`
    * (a map, or a snapshot read per name; [[scoreArtifacts]] lists the
    * names). It is the apply [[run]] and [[stageMetrics]] use, so serve
    * and train cannot disagree: keys with no fit, and rows missing a
    * feature the family needs, keep the incoming naive `pred_f`.
    * Artifact joins broadcast (model-sized); the feature side streams at
    * scan speed. Returns the feature frame with `pred_f` rescored. */
  def score(predictor: String, features: DataFrame,
            artifact: String => DataFrame): DataFrame = {
    val f = family(predictor)
    f.apply(if (f.routed) withRoute(features, artifact("model_types"))
      else features, f.artifacts.map(artifact))
  }

  /** The artifact tables [[score]] reads for `predictor`. */
  private[graft] def scoreArtifacts(predictor: String): Seq[String] = {
    val f = family(predictor)
    (if (f.routed) Seq("model_types") else Nil) ++ f.artifacts
  }

  /** Hold a key-cardinality side table on the driver: collect it ONCE and
    * hand it back as a local relation. Every later consumer (broadcast
    * joins, filters, the sink tail) then reads the rows instead of
    * re-running the aggregate that produced them — a lazy aggregate plan
    * is re-executed, and re-broadcast, by each action that touches it.
    * Only for frames bounded by the key count (thousands of rows); fact-
    * size frames are never passed here. */
  private def pinned(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** A6 metrics with each key's routed family attached (keys missing from
    * the routing table default "xgb") — shared by [[run]] and
    * [[stageMetrics]]. */
  private def labelled(metrics: DataFrame, modelTypes: DataFrame): DataFrame =
    metrics
      .join(broadcast(modelTypes.select((keyCols :+ col("model_type")): _*)),
        key, "left")
      .withColumn("model_type", coalesce(col("model_type"), lit("xgb")))

  /** Run E2+E3 over the canonical events frame (driver test schema:
    * event_id, ts, user_id, event_type, value). When `outDir` is set the
    * stage outputs are persisted through the reference's sink modes. */
  def run(spark: SparkSession, events: DataFrame, cfg: Config = Config(),
          outDir: Option[String] = None): Result = {
    // --- E2 prep: entity hygiene (F6-F8 analogues on the stand-in schema)
    val base = events
      .filter(col("ts").isNotNull) // F8
      .withColumn("actual", col("value"))

    // A4+J2: drop groups whose measure is entirely null. The same pinned
    // per-key aggregate is the WINDOW SKEW PROBE (the hottest KEPT key's
    // row count, read on the driver — those are the rows the windows
    // see) and the A2 routing count: for a kept key (nn > 0) every row
    // survives the semi-join, so n_rows IS modelRouting(kept)'s
    // total_samples and routing needs no second aggregate over the fact
    // table.
    val keyStats = pinned(spark, base.groupBy(keyCols: _*)
      .agg(count(col("actual")).as("nn"), count(lit(1)).as("n_rows")))
    val kept = base.join(
      keyStats.filter(col("nn") > 0).select(keyCols: _*), key, "left_semi")
    val hotMax = keyStats.collect().filter(_.getAs[Long]("nn") > 0)
      .map(_.getAs[Long]("n_rows")).foldLeft(0L)(math.max)
    val ops = WinOps(hotMax > cfg.windowRowsPerTask)

    // A2+J3: model routing side table
    val modelTypes = keyStats.filter(col("nn") > 0)
      .select((keyCols :+ col("n_rows").as("total_samples") :+
        Features.modelRoute(col("n_rows"), cfg.modelThreshold)
          .as("model_type")): _*)

    // W5: split assignment annotated in place (a separate side-table
    // computation + join-back on event_id would cost two extra shuffles);
    // the persisted side table is a projection of the featured frame.
    // cfg.approxSplit flips to the percentile split — the plan to run at
    // cluster scale, where the exact form's single-partition window is
    // the one serial stage in the whole pipeline.
    val withSplit =
      if (cfg.approxSplit)
        Features.chronoSplitApprox(kept, "ts", cfg.trainRatio, cfg.valRatio)
      else Features.chronoSplit(kept,
        order = Seq("ts", "event_id"), cfg.trainRatio, cfg.valRatio)

    // create_features (train.py:415-433): date trunc, high-impact count,
    // lag, train-order fill.
    // localCheckpoint (LAZY, the Dedup convention): this frame feeds
    // normParams (via trainRows), the predictor fit, the metrics
    // aggregate, validateFeatures (both sides of its broadcast join),
    // latest and the splits table — and upstream of it sits the scan →
    // semi-join → W5 split window (single-partition in exact mode).
    // Without persistence each consumer re-runs that whole chain, so one
    // materialization of pipeline_validate paid the serial global-window
    // stage twice. The persisted rows are the featured fact (no wide
    // intermediates); first consumer to touch a partition fills the
    // cache, the rest reuse it. The reference runs this as one in-memory
    // pass too (train.py:415-433 feeds every downstream stage from the
    // same frame).
    val featured = ops.ffill(
        ops.lag1(withSplit.withColumn("event_date", to_date(col("ts"))),
          "actual", "pred"),
        "pred", "pred_f")
      .localCheckpoint(eager = false)
    val splits = featured.select(col("event_id"), col("split"))

    // The predictor family (cfg.predictor, [[Families]]). Its feature
    // columns get their OWN lazy checkpoint when it adds any: they feed
    // every fit aggregate and the apply join, and without it the added
    // window pass runs once per consumer. Its fits read the train rows of
    // those features and are pinned, so each fit aggregate runs once;
    // the pinned frames are kept so the sink tail can publish them —
    // without them, [[stageMetrics]] could only ever re-grade the naive
    // predictor regardless of what run() trained.
    val fam = family(cfg.predictor)
    val feat =
      if (fam.addsFeatures)
        features(fam, featured, ops, modelTypes).localCheckpoint(eager = false)
      else featured

    // A5 on the TRAIN split only: norm-param side table (train.py:467-477).
    // It and the predictor's fits read only the checkpointed feature
    // frames and none reads another, so they pin in ONE concurrent wave:
    // each is a short driver-latency-bound collect, and the checkpoint's
    // shared lineage (and its cached blocks) is computed once, whichever
    // collect touches a partition first.
    val trainRows = featured.filter(col("split") === "train")
    val featTrain = feat.filter(col("split") === "train")
    val pins = Sinks.concurrently(
      (() => pinned(spark, Features.normParams(trainRows, key,
        col("actual")))) +:
        fam.fits.map { case (_, fit) => () => pinned(spark, fit(featTrain)) })
    val normParams = pins.head
    val predictorParams = fam.artifacts.zip(pins.tail)
    val predicted = predict(fam, featured, feat, pins.tail)

    // A6 per split; validate/test reuse train norm params (J4) for the
    // denormalized error scale — the naive predictor works in raw units so
    // the reuse shows up as the denorm join, mirroring validate.py:258-287.
    // ONE aggregate over (key, split), pinned; each per-split table is a
    // filter of it (the per-group Samples ≥ 2 gate is per (key, split)
    // either way, so the rows are those of three separate aggregates).
    val metrics = pinned(spark, labelled(
      Features.regressionMetrics(predicted, key :+ "split",
        col("actual"), col("pred_f")), modelTypes))
    def metricsFor(split: String): DataFrame =
      metrics.filter(col("split") === split).drop("split")

    val trainMetrics = metricsFor("train")
    val validateMetrics = metricsFor("val")
    val testForecasts = metricsFor("test")

    // Per-feature norm-param reuse ASYMMETRY (validate.py:268-287): the
    // train stage persists normalization params ONLY for 'actual'
    // (train.py:474-477) — so at validate time 'actual' normalizes with
    // the reused train (mn, rng) (local val-split fallback when the key
    // has no train rows, the reference's `else` branch), while the lag
    // feature ALWAYS falls back to local val-split min/max. Both branches
    // carry the A5 guards (all-null → (0,1), zero range → rng 1).
    val localW = Window.partitionBy(keyCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val aLocalMn = min(col("actual")).over(localW)
    val aLocalMx = max(col("actual")).over(localW)
    val pLocalMn = min(col("pred_f")).over(localW)
    val pLocalMx = max(col("pred_f")).over(localW)
    val validateFeatures = predicted.filter(col("split") === "val")
      .join(broadcast(normParams.select(
        (keyCols :+ col("mn").as("t_mn") :+ col("rng").as("t_rng")): _*)),
        key, "left")
      .withColumn("reused_train_params", col("t_mn").isNotNull)
      .withColumn("a_mn", when(col("t_mn").isNotNull, col("t_mn"))
        .otherwise(coalesce(aLocalMn, lit(0.0))))
      .withColumn("a_rng", when(col("t_mn").isNotNull, col("t_rng"))
        .otherwise(when(aLocalMx.isNull || aLocalMx === aLocalMn, lit(1.0))
          .otherwise(aLocalMx - aLocalMn)))
      .withColumn("actual_norm", (col("actual") - col("a_mn")) / col("a_rng"))
      .withColumn("p_mn", coalesce(pLocalMn, lit(0.0)))
      .withColumn("p_rng",
        when(pLocalMx.isNull || pLocalMx === pLocalMn, lit(1.0))
          .otherwise(pLocalMx - pLocalMn))
      .withColumn("pred_norm", (col("pred_f") - col("p_mn")) / col("p_rng"))
      .select(col("event_id"), col("actual"), col("pred_f"),
        col("reused_train_params"), col("a_mn"), col("a_rng"),
        col("p_mn"), col("p_rng"), col("actual_norm"), col("pred_norm"))

    // W6 + F11: live forecast = latest prediction per group; the F11
    // denorm (x*rng + mn) round-trips through the train params — the naive
    // predictor works in raw units, so normalize-then-denormalize is
    // exercised explicitly (test.py:95-120, 126-127).
    val latest = Features.latestPerGroup(
      predicted.filter(col("pred_f").isNotNull),
      key, time = "ts", tiebreak = "event_id", payload = Seq("pred_f"))
    val liveForecasts = latest
      .join(broadcast(normParams), key, "left")
      .withColumn("pred_norm",
        (col("pred_f") - coalesce(col("mn"), lit(0.0))) /
          coalesce(col("rng"), lit(1.0)))
      .withColumn("forecast_value",
        Features.denormalize(col("pred_norm"),
          coalesce(col("mn"), lit(0.0)), coalesce(col("rng"), lit(1.0))))
      .select((keyCols :+ col("forecast_value")): _*)

    // --- sinks (E3 tail): SNK6 versioned artifacts for the run's state,
    // SNK2 replace for metrics, SNK3 for live.
    // The three ARTIFACT tables (split assignment, model routing, norm
    // params — the reference's per-run joblib/MLflow logs,
    // train.py:400-411, 555-567) publish as versioned snapshots: each run
    // writes v=N+1 and history is retained, so a re-run can never clobber
    // the artifacts a concurrent validate/test stage is reading (read via
    // Sinks.readSnapshot). Metrics tables keep the reference's
    // truncate-and-load semantics (db_connector.py:120-150).
    // Every write targets its own table and keeps its own commit
    // protocol, so the tail publishes in ONE concurrent pass: each write
    // is bound by driver latency (planning, job dispatch, commit), and
    // the side tables they read are pinned above, so running them one
    // after another only queued that latency up.
    // The STAGE STAMP ([[stageStamp]]) is deleted before the tail and
    // written after every write has committed, so a failed or partial
    // publish never leaves a stamp that vouches for it.
    outDir.foreach { dir =>
      val stampFile = new org.apache.hadoop.fs.Path(dir, StampFile)
      val fs = stampFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(stampFile, false)
      // artifact writes report the committed version the stamp records
      def artifact(name: String)(
          write: String => Int): () => Option[(String, Int)] =
        () => Some(name -> write(s"$dir/$name"))
      def table(write: => Any): () => Option[(String, Int)] =
        () => { write; None }
      val versions = Sinks.concurrently(Seq(
        artifact("splits")(Sinks.upsertSnapshot(spark, _, splits,
          key = Seq("event_id"), orderCol = "split")),
        artifact("model_types")(Sinks.upsertSnapshot(spark, _, modelTypes,
          key, orderCol = "total_samples")),
        artifact("norm_params")(Sinks.upsertSnapshot(spark, _, normParams,
          key, orderCol = "mn"))) ++
        // REPLACE, not merge: the reference persists its model wholesale
        // (train.py:555-567), so a retrain must not blend stale per-key
        // rows for keys absent from the new fit with the fresh ones —
        // versioned replace keeps concurrent readers of the prior version
        // safe while making v=N+1 exactly this run's fit
        predictorParams.map { case (name, p) =>
          artifact(name)(Sinks.replaceSnapshot(spark, _, p)) } ++
        Seq(
          table(Sinks.truncateAndLoad(trainMetrics, s"$dir/train_metrics")),
          table(Sinks.truncateAndLoad(validateMetrics,
            s"$dir/validate_metrics")),
          table(Sinks.truncateAndLoad(validateFeatures,
            s"$dir/validate_features")),
          table(Sinks.truncateAndLoad(testForecasts, s"$dir/test_forecasts")),
          table(Sinks.appendOrReplace(spark, liveForecasts,
            s"$dir/live_forecasts")))).flatten.toMap
      // the metric-group counts come from the pinned rows on the driver
      val groups = metrics.collect().groupBy(_.getAs[String]("split"))
        .map { case (split, rows) => split -> rows.length.toLong }
      stageStamp(events, cfg, versions).foreach { inputs =>
        val doc = Json.createObjectNode()
        doc.set[ObjectNode]("inputs", inputs)
        val counts = doc.putObject("metric_groups")
        Seq("train", "val", "test").foreach(sp =>
          counts.put(sp, groups.getOrElse(sp, 0L)))
        val out = fs.create(stampFile, true)
        try out.write(Json.writeValueAsBytes(doc)) finally out.close()
      }
    }

    Result(splits, modelTypes, normParams,
      trainMetrics, validateMetrics, validateFeatures,
      testForecasts, liveForecasts)
  }

  /** One orchestration-stage outcome (the reference's per-stage HTTP
    * status + detail, as data). */
  final case class StageStatus(stage: String, ok: Boolean, detail: String)

  /** The artifact side tables a train run publishes — the existence gate
    * for every downstream stage. */
  private val artifactTables = Seq("splits", "model_types", "norm_params")

  /** The FULL existence gate for a config's validate/test stages: the
    * base artifacts plus the trained predictor's params table(s). ONE
    * definition shared by [[automate]] and [[Serve]]'s /automate skip
    * check (round 15: Serve had re-derived a diverging copy that omitted
    * the base artifacts for non-naive predictors, so skip_training could
    * skip into stages that then failed the gate). */
  private[graft] def requiredArtifacts(cfg: Config): Seq[String] =
    artifactTables ++ family(cfg.predictor).artifacts

  /** File name of the stage stamp under a run's `outDir`. */
  private val StampFile = "_stage_stamp"
  private val Json = new ObjectMapper()

  /** The inputs half of the STAGE STAMP: what a run's published results
    * were computed from — the events frame (a digest of its canonicalized
    * plan plus its file leaves as sorted (path, length, modification
    * time)), the resolved config and the committed version of each
    * artifact table. Built on the driver from the listing the frame's
    * file index already holds: no Spark job, no second listing. None when
    * any leaf of the frame is not a file relation (a local relation, an
    * RDD, a stream, a cached relation): nothing cheap then says whether
    * two such frames hold the same rows. */
  private def stageStamp(events: DataFrame, cfg: Config,
                         versions: Map[String, Int]): Option[ObjectNode] =
    if (events.isStreaming) None
    else {
      val plan = events.queryExecution.withCachedData
      val leaves = plan.collectLeaves().map {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation => h.location match {
            case idx: PartitioningAwareFileIndex => Some(h -> idx.allFiles())
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
      if (leaves.exists(_.isEmpty)) None
      else {
        val relations = leaves.flatten
        val planText = plan.canonicalized.treeString(verbose = true,
          maxFields = Int.MaxValue) + relations.map { case (h, _) =>
            h.schema.json + h.options.toSeq.sorted.mkString(",") }
          .mkString("\n")
        val n = Json.createObjectNode()
        val ev = n.putObject("events")
        ev.put("plan", java.security.MessageDigest.getInstance("SHA-256")
          .digest(planText.getBytes("UTF-8")).map("%02x".format(_)).mkString)
        val files = ev.putArray("files")
        relations.flatMap(_._2).sortBy(_.getPath.toString).foreach(f =>
          files.addArray().add(f.getPath.toString).add(f.getLen)
            .add(f.getModificationTime))
        val c = n.putObject("config")
        cfg.productElementNames.zip(cfg.productIterator).foreach {
          case (k, v) => c.put(k, String.valueOf(v)) }
        val a = n.putObject("artifacts")
        versions.toSeq.sorted.foreach { case (t, v) => a.put(t, v) }
        Some(n)
      }
    }

  /** `split`'s metric-group count as the stage stamp under `outDir`
    * records it — only when the stamp's inputs equal these: same event
    * files and plan, same config, same artifact versions. A missing,
    * unreadable or mismatching stamp is None. */
  private def stampedGroups(spark: SparkSession, events: DataFrame,
                            outDir: String, cfg: Config,
                            versions: Map[String, Int],
                            split: String): Option[Long] = {
    val file = new org.apache.hadoop.fs.Path(outDir, StampFile)
    scala.util.Try {
      val in = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .open(file)
      try Json.readTree(in) finally in.close()
    }.toOption.flatMap { doc =>
      stageStamp(events, cfg, versions)
        .filter(now => Json.writeValueAsString(doc.get("inputs")) ==
          Json.writeValueAsString(now))
        .flatMap(_ => Option(doc.path("metric_groups").get(split)))
        .filter(_.canConvertToLong).map(_.asLong)
    }
  }

  /** E3 orchestration with the reference's gate semantics
    * (automate_pipeline.py:77-173, main.py:177-391):
    *
    *  - validate/test REQUIRE the train artifacts: the reference's
    *    endpoints probe the stored model/params and answer "model not
    *    found — run /train first" instead of crashing (main.py:320-323);
    *    here a committed-version probe ([[Sinks.hasCommittedVersion]])
    *    gates the stage the same way — committed, not bare-directory
    *    (round 16): a crash during the first artifact write leaves a dir
    *    whose readSnapshot would throw, and that must read as "model not
    *    found", not as present-then-crash.
    *  - validate/test answer FROM THE STAGE STAMP when it vouches for
    *    their inputs: [[run]] with an `outDir` writes `_stage_stamp` last,
    *    after every table has committed (and deletes the old one before
    *    its tail starts). It records the events frame's file leaves
    *    (path, length, modification time) and a digest of its
    *    canonicalized plan, the resolved config, each artifact's committed
    *    version, and the per-split metric-group counts of the tables it
    *    published. A stage whose artifacts pass the gate and whose stamp
    *    matches all of these answers the count from the stamp — no Spark
    *    job, no artifact read; `validate_metrics`/`test_forecasts` then
    *    already hold exactly what a recompute would produce. Every other
    *    case recomputes through [[stageMetrics]] as before: a missing,
    *    unreadable or mismatching stamp, an events frame with any leaf that
    *    is not a file relation (a local relation, an RDD, a stream, a
    *    cached relation), another config, or a newer artifact version. The
    *    file-system assumption: rewriting the input changes a file's path,
    *    length or modification time (Spark writers name every file anew,
    *    and HDFS, local and object stores stamp each write's modification
    *    time). The recompute path publishes nothing — see COVERAGE.md
    *    (Orchestration).
    *  - stage failures are SOFT: the client logs each stage's outcome
    *    and proceeds to the next (automate_pipeline.py:97-108 — a failed
    *    validate does not abort test), so one bad stage never takes down
    *    the chain; the caller reads the statuses.
    *
    * Returns per-stage statuses in execution order. Unknown stage names
    * fail soft too (the reference answers 404, not a crash). */
  def automate(spark: SparkSession, events: DataFrame, outDir: String,
               cfg: Config = Config(),
               stages: Seq[String] = Seq("train", "validate", "test")): Seq[StageStatus] = {
    def attempt(stage: String)(body: => String): StageStatus =
      try StageStatus(stage, ok = true, body)
      catch {
        case scala.util.control.NonFatal(e) =>
          StageStatus(stage, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    stages.map {
      case "train" => attempt("train") {
        run(spark, events, cfg, Some(outDir))
        s"artifacts published to $outDir"
      }
      case st @ ("validate" | "test") =>
        // A trained (non-naive) predictor adds its params artifact to the
        // existence gate: grading ar1/ar2 stages without the fit would
        // silently score a different model than run() published.
        val versions = requiredArtifacts(cfg).map(a =>
          a -> Sinks.latestCommittedVersion(spark, s"$outDir/$a"))
        val missing = versions.collect { case (a, None) => a }
        if (missing.nonEmpty)
          StageStatus(st, ok = false,
            s"missing artifacts ${missing.mkString(", ")} — run train first")
        else attempt(st) {
          val split = if (st == "validate") "val" else "test"
          val n = stampedGroups(spark, events, outDir, cfg,
              versions.collect { case (a, Some(v)) => a -> v }.toMap, split)
            .getOrElse(stageMetrics(spark, events, outDir, split, cfg).count())
          s"$n metric groups"
        }
      case other =>
        StageStatus(other, ok = false, s"unknown stage '$other'")
    }
  }

  /** A6 metrics for one split, recomputed FROM THE PERSISTED ARTIFACTS
    * (the reference's validate/test read the stored split + params rather
    * than re-deriving them — validate.py:171-331): split assignment joins
    * back by event_id (its inner join also reproduces the A4 valid-key
    * filter, since only kept rows were assigned a split), the lag/ffill
    * features are rebuilt over ALL assigned rows before the split filter
    * (exactly [[run]]'s order — filtering first would corrupt the lag
    * history), and model routing comes from the persisted side table. */
  def stageMetrics(spark: SparkSession, events: DataFrame, outDir: String,
                   split: String, cfg: Config = Config()): DataFrame = {
    val splits = Sinks.readSnapshot(spark, s"$outDir/splits")
    val modelTypes = Sinks.readSnapshot(spark, s"$outDir/model_types")
    val base = events
      .filter(col("ts").isNotNull)
      .withColumn("actual", col("value"))
    // same skew statistic as run()'s probe: for kept keys n_rows IS the
    // published total_samples, so the hottest key comes from the routing
    // table this stage reads anyway. Routing is a plan choice with
    // oracle-identical results either way, so a statistic that goes
    // stale between train and serve costs at most a suboptimal plan.
    val hot = modelTypes.agg(max(col("total_samples")).cast("long")).head()
    val hotMax = if (hot.isNullAt(0)) 0L else hot.getLong(0)
    val ops = WinOps(hotMax > cfg.windowRowsPerTask)
    val featured = ops.ffill(
      ops.lag1(base.join(splits, Seq("event_id")), "actual", "pred"),
      "pred", "pred_f")
    // a trained family applies its PERSISTED fit (the artifacts [[run]]
    // published), never a re-fit: these stages grade the model that was
    // trained, exactly as the reference's validate/test load the stored
    // params (validate.py:171-331). Same features and apply as run()'s.
    val fam = family(cfg.predictor)
    val predicted = predict(fam, featured,
      features(fam, featured, ops, modelTypes),
      fam.artifacts.map(a => Sinks.readSnapshot(spark, s"$outDir/$a")))
    labelled(Features.regressionMetrics(
      predicted.filter(col("split") === split), key,
      col("actual"), col("pred_f")), modelTypes)
  }
}
