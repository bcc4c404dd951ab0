package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * a Spark-jars-only build — SURVEY.md §7 step 5): the predictor is the
  * lag-1 naive forecast, which keeps every downstream operator (A6
  * metrics, W6 live forecasts, SNK2/SNK3 sinks) fully exercised.
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
  * frames, validateFeatures) are never collected. The sink tail then
  * publishes its 8–10 tables in one concurrent pass
  * ([[Sinks.writeConcurrently]]): the writes target different tables,
  * each is bound by driver latency rather than executor work, and each
  * keeps its own commit protocol.
  */
object Pipeline {

  /** Hyperparameters (Model Parameters.json:1-16) with defaults-then-
    * override merge (main.py:241-264). */
  /** `approxSplit` selects the W5 implementation: false → the reference's
    * exact row-positional split (one global-window pass, train.py:131-153);
    * true → the 100-TB plan (Features.chronoSplitApprox: percentile
    * boundaries, no single-partition stage). Membership may differ by
    * ~relErr·n rows near each boundary — the documented trade.
    *
    * `predictor` selects the forecast model: "naive" (default — the
    * lag-1 passthrough every existing oracle pins), "ar1" (the TRAINED
    * per-group OLS line [[Features.fitAr1]] fit on the train split only
    * and applied everywhere — the reference's train→apply contract,
    * train.py:377-499, with its LSTM swapped for the relational model;
    * keys with no train fit fall back to the naive predictor, the
    * reference's untrained-group else-branch), or "ar2"
    * ([[Features.fitAr2]] on the two filled lags — one step closer to
    * the reference's look-back window; rows missing the second lag and
    * keys with no fit fall back exactly like ar1), or "routed" (the
    * reference's core ML dispatch, train.py:377-394 + :453: each
    * (user_id, event_type) group is scored by ITS routed family —
    * total samples ≥ modelThreshold → the sequence model ("rnn" branch,
    * AR(2) here), else the boosted-tree branch ("xgb",
    * [[Features.regressionStumpPerGroup]]: one exact GBM round per
    * group); artifacts persist per family and untrained groups keep the
    * naive fallback), or "seq" (round 10 — the multi-feature sequence
    * fit: [[Features.fitLinearPerGroup]] on the two filled lags PLUS
    * the exogenous row features, the relational narrowing of the
    * reference LSTM's per-step multi-feature window, train.py:463-492;
    * see [[run]]'s seq branch for the feature choice and the F6
    * singularity note), or "sgd" (round 12 — the same four seq
    * features, but trained by MINIBATCH GRADIENT DESCENT
    * ([[Features.sgdLinearFit]]): one GLOBAL linear model fit in
    * z-scored feature space by iterative distributed gradient
    * aggregates — the reference's actual training LOOP
    * (train.py:499-553 steps its LSTM by minibatch gradients), not
    * just its model shape; the closed-form families above never
    * exercised gradient descent itself). */
  /** `windowRowsPerTask` (round 15, VERDICT r14 item 3): the auto-dispatch
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
    require(Set("naive", "ar1", "ar2", "routed", "seq", "sgd")(predictor),
      s"unknown predictor '$predictor' " +
        "(naive | ar1 | ar2 | routed | seq | sgd)")
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
      try fromJsonNode(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path)))
      catch { case scala.util.control.NonFatal(_) => Map.empty }

    /** Same layer from an in-memory JSON object string — the /train
      * endpoint's manual-override body ([[graft.Serve]]); same
      * error-tolerance contract as the file form (junk → empty layer). */
    def fromJsonString(json: String): Map[String, String] =
      try fromJsonNode(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(json))
      catch { case scala.util.control.NonFatal(_) => Map.empty }

    private def fromJsonNode(
        root: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      if (root == null || !root.isObject) Map.empty
      else {
        val b = Map.newBuilder[String, String]
        root.fields().forEachRemaining { e =>
          // JSON null means "absent", not the string "null" — skipping
          // it keeps the layer from shadowing the default with junk
          if (e.getValue.isValueNode && !e.getValue.isNull)
            b += (refAliases.getOrElse(e.getKey, e.getKey) -> e.getValue.asText)
        }
        b.result()
      }

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
        predictor = get("predictor",
          s => { require(
            Set("naive", "ar1", "ar2", "routed", "seq", "sgd")(s)); s },
          d.predictor),
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

  /** Routed-predictor feature frame, shared by [[run]] and
    * [[stageMetrics]]: the second filled lag (built the way pred_f is,
    * lag → ffill) plus each group's route from the model-routing side
    * table (keys missing from it default "xgb", the [[run]] metrics
    * convention). */
  private def routedFeatures(featured: DataFrame,
                             ops: WinOps,
                             modelTypes: DataFrame): DataFrame =
    ops.ffill(ops.lag2(featured, "actual", "lag2"), "lag2", "x2")
      .drop("lag2")
      .join(broadcast(modelTypes.select(
        (keyCols :+ col("model_type").as("__route")): _*)), key, "left")
      .withColumn("__route", coalesce(col("__route"), lit("xgb")))

  /** Score each row by its group's routed family: rnn → the AR(2) apply,
    * xgb → the stump's landing-leaf mean (both with the scale-2 snap
    * that keeps the downstream decimal metric chain rounding-free
    * cross-engine); rows whose family has no fit for the group — or
    * missing the feature the family needs — keep the naive pred_f, the
    * reference's untrained-group else-branch. */
  private def applyRouted(feat2: DataFrame, rnnParams: DataFrame,
                          xgbParams: DataFrame): DataFrame =
    feat2
      .join(broadcast(rnnParams.drop("n_fit")), key, "left")
      .join(broadcast(xgbParams.select((keyCols :+ col("threshold") :+
        col("left_mean") :+ col("right_mean")): _*)), key, "left")
      .withColumn("pred_f",
        when(col("__route") === "rnn" && col("b1").isNotNull &&
          col("x2").isNotNull,
          round(col("b1") * col("pred_f") + col("b2") * col("x2") +
            col("intercept"), 2))
        .when(col("__route") === "xgb" && col("threshold").isNotNull &&
          col("pred_f").isNotNull,
          when(col("pred_f") <= col("threshold"), round(col("left_mean"), 2))
            .otherwise(round(col("right_mean"), 2)))
        .otherwise(col("pred_f")))
      .drop("b1", "b2", "intercept", "x2", "threshold", "left_mean",
        "right_mean", "__route")

  /** Public routed-serve entry (the reference's predict endpoint shape,
    * main.py:320-391: look up the group's registered family, score with
    * THAT family's stored model): score a feature frame carrying the two
    * lag features — `pred_f` (last value, possibly forward-filled) and
    * `x2` (second lag) — against the three persisted artifacts
    * [[run]] publishes with `predictor = "routed"`. Keys absent from the
    * routing table default "xgb"; groups whose routed family has no fit
    * (or rows missing the feature the family needs) keep their incoming
    * naive `pred_f` — exactly [[run]]'s train-time dispatch, so serve
    * and train can never disagree. All three artifact joins broadcast
    * (model-sized); the feature side streams at scan speed. */
  def routedScore(feat: DataFrame, modelTypes: DataFrame,
                  rnnParams: DataFrame, xgbParams: DataFrame): DataFrame =
    applyRouted(
      feat.join(broadcast(modelTypes.select(
        (keyCols :+ col("model_type").as("__route")): _*)), key, "left")
        .withColumn("__route", coalesce(col("__route"), lit("xgb"))),
      rnnParams, xgbParams)

  /** Seq-predictor feature frame, shared by [[run]] and [[stageMetrics]]:
    * the second filled lag plus the two exogenous row features — x3 =
    * the J1 high-impact day count (purchases per (user, day) — varies
    * inside a group), x4 = ISO weekday. */
  private def seqFeatures(featured: DataFrame,
                          ops: WinOps): DataFrame =
    ops.ffill(ops.lag2(featured, "actual", "lag2"), "lag2", "x2")
      .drop("lag2")
      .withColumn("x3", Features.highImpactCount(
        graft.functions.cleaning.ordinalEncode(
          col("event_type"), impactMap) === 3,
        "user_id", to_date(col("ts"))).cast("double"))
      .withColumn("x4", (weekday(col("ts")) + lit(1)).cast("double"))

  /** Apply a [[Features.fitLinearPerGroup]] artifact to a seq feature
    * frame: ill-conditioned groups are dropped from the join (naive
    * fallback — an unreliable solve is an untrained group), fitted rows
    * score round(Σbᵢxᵢ + intercept, 2). Rows missing ANY of the three
    * extra features (x2/x3/x4 — possible on caller-supplied frames via
    * [[seqScore]] / the streaming serve path; [[run]]'s own frames only
    * realize null x2) also keep the naive `pred_f`: a null feature would
    * otherwise null the whole Σbᵢxᵢ and silently REPLACE a valid
    * fallback prediction. Keeps the x-feature columns for the caller to
    * drop. */
  private def applySeq(feat2: DataFrame, params: DataFrame): DataFrame =
    feat2.join(broadcast(
      params.filter(col("well_conditioned"))
        .drop("n_fit", "well_conditioned")), key, "left")
      .withColumn("pred_f",
        when(col("b1").isNotNull && col("x2").isNotNull &&
            col("x3").isNotNull && col("x4").isNotNull,
          round(col("b1") * col("pred_f") + col("b2") * col("x2") +
            col("b3") * col("x3") + col("b4") * col("x4") +
            col("intercept"), 2))
          .otherwise(col("pred_f")))
      .drop("b1", "b2", "b3", "b4", "intercept")

  /** Public seq-serve entry (the multi-feature sibling of
    * [[routedScore]]): score a feature frame carrying the four seq
    * features — `pred_f` (filled lag-1), `x2` (filled lag-2), `x3`
    * (high-impact day count), `x4` (ISO weekday) — against the
    * persisted [[Features.fitLinearPerGroup]] artifact a
    * `predictor = "seq"` [[run]] publishes. Unknown groups AND
    * ill-conditioned fits keep the incoming naive `pred_f` — exactly
    * run()'s train-time dispatch, so serve and train cannot disagree.
    * The params join broadcasts (model-sized); the feature side streams
    * at scan speed. */
  def seqScore(feat: DataFrame, params: DataFrame): DataFrame =
    applySeq(feat, params)

  /** The sgd predictor's artifact: the [[Features.sgdLinearFit]] model
    * row EXTENDED with the train-split standardization moments (per-
    * feature μ/σ and the target's) — one frame, so the serve side can
    * never standardize with different statistics than the fit saw. An
    * EMPTY frame when no guarded train rows exist (the untrained-run
    * contract: [[applySgd]] then leaves every pred_f naive). σ floors
    * at 1.0 for constant columns (the A5 zero-range guard). */
  private def sgdArtifact(spark: SparkSession, train: DataFrame): DataFrame = {
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
    * linearModelFromFrame convention); coefficients and moments ride
    * the plan as literals, map-only at any corpus size. */
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

  /** Public sgd-serve entry: score a four-feature frame against the
    * persisted [[sgdArtifact]] a `predictor = "sgd"` [[run]] publishes —
    * same fallback dispatch as train time. */
  def sgdScore(feat: DataFrame, params: DataFrame): DataFrame =
    applySgd(feat, params)

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

    // Predictor selection (cfg.predictor): "ar1" fits the per-group OLS
    // line on the TRAIN split of this same frame (x = the ffilled lag,
    // y = actual), broadcast-joins the per-key params back, and replaces
    // pred_f with round(slope·x + intercept, 2) — the scale-2 snap that
    // keeps every downstream decimal chain rounding-free cross-engine.
    // Keys with no train fit keep the naive pred_f (the reference's
    // untrained-group fallback). The fit reads the lazily-checkpointed
    // featured frame, so the feature chain still runs once; the fitted
    // params are pinned, so the fit aggregate runs once too.
    // The fitted params frame is kept alongside the applied frame so the
    // sink tail can publish it as the `predictor_params` artifact —
    // without it, [[stageMetrics]] could only ever re-grade the naive
    // predictor regardless of what run() trained (the reference persists
    // the trained model and validate/test load THAT, validate.py:171-331).
    val (predicted, predictorParams): (DataFrame, Seq[(String, DataFrame)]) =
      cfg.predictor match {
      case "ar1" =>
        val params = pinned(spark, Features.fitAr1(
          featured.filter(col("split") === "train"), key,
          col("pred_f"), col("actual")))
        (featured.join(broadcast(params), key, "left")
          .withColumn("pred_f",
            when(col("slope").isNotNull,
              round(col("slope") * col("pred_f") + col("intercept"), 2))
              .otherwise(col("pred_f")))
          .drop("slope", "intercept", "n_fit"),
          Seq("predictor_params" -> params))
      case "ar2" =>
        // second filled lag built the way pred_f is (lag → ffill); its
        // OWN lazy checkpoint — feat2 feeds both the fit aggregate and
        // the apply join, and without it the added window pass runs twice
        val feat2 = ops.ffill(ops.lag2(featured, "actual", "lag2"),
            "lag2", "x2")
          .drop("lag2")
          .localCheckpoint(eager = false)
        val params = pinned(spark, Features.fitAr2(
          feat2.filter(col("split") === "train"), key,
          col("pred_f"), col("x2"), col("actual")))
        (feat2.join(broadcast(params), key, "left")
          .withColumn("pred_f",
            when(col("b1").isNotNull && col("x2").isNotNull,
              round(col("b1") * col("pred_f") + col("b2") * col("x2") +
                col("intercept"), 2))
              .otherwise(col("pred_f")))
          .drop("b1", "b2", "intercept", "n_fit", "x2"),
          Seq("predictor_params" -> params))
      case "routed" =>
        // The reference's core ML dispatch (train.py:377-394 routes each
        // (Currency, Event) group by sample count; :453 scores it with
        // its own family's model): groups at/over cfg.modelThreshold
        // train the sequence family (AR(2) — the rnn branch's relational
        // analogue), the rest train one exact GBM round per group
        // (regressionStumpPerGroup — the xgb branch). BOTH fits read only
        // their own routed train rows; each family persists its own
        // artifact; untrained groups keep the naive pred_f. Same lazy
        // checkpoint as ar2: feat2 feeds two fit aggregates + the apply.
        val feat2 = routedFeatures(featured, ops, modelTypes)
          .localCheckpoint(eager = false)
        val rnnParams = pinned(spark, Features.fitAr2(
          feat2.filter(col("split") === "train" && col("__route") === "rnn"),
          key, col("pred_f"), col("x2"), col("actual")))
        val xgbParams = pinned(spark, Features.regressionStumpPerGroup(
          feat2.filter(col("split") === "train" && col("__route") === "xgb"),
          key, col("pred_f"), col("actual")))
        (applyRouted(feat2, rnnParams, xgbParams),
          Seq("predictor_params_rnn" -> rnnParams,
            "predictor_params_xgb" -> xgbParams))
      case "seq" =>
        // Multi-feature per-group sequence fit (round 10): the reference
        // LSTM consumes a SIX-feature normalized row per step
        // (train.py:463-492) where the engine's ar2/rnn branch consumed
        // two lags — this branch narrows that gap with
        // fitLinearPerGroup over AR(2) lags PLUS the exogenous row
        // features: x3 = the J1 high-impact day count (varies daily
        // inside a group) and x4 = ISO weekday (the calendar feature a
        // day-granular forecaster sees). The F6 impact ordinal is
        // deliberately NOT a feature: it is a function of event_type —
        // CONSTANT inside a (user_id, event_type) group — so its
        // centered moments are exactly zero and every group's normal
        // system would be singular (see fitLinearPerGroup scaladoc);
        // within this key its information content IS the key. The
        // reference can feed it anyway because an LSTM ignores constant
        // inputs gracefully; closed-form OLS cannot.
        val feat2 = seqFeatures(featured, ops).localCheckpoint(eager = false)
        val params = pinned(spark, Features.fitLinearPerGroup(
          feat2.filter(col("split") === "train"), key,
          Seq(col("pred_f"), col("x2"), col("x3"), col("x4")),
          col("actual")))
        // ill-conditioned groups (collinear feature rows — the fit's
        // well_conditioned gate) are treated as UNTRAINED: filtered out
        // of the apply join so they keep the naive pred_f, the same
        // else-branch as a missing fit. The published artifact keeps
        // every group WITH its flag so stageMetrics re-applies the
        // identical dispatch.
        (applySeq(feat2, params).drop("x2", "x3", "x4"),
          Seq("predictor_params" -> params))
      case "sgd" =>
        // GRADIENT training (round 12): same four-feature frame as seq,
        // but ONE GLOBAL linear model learned by minibatch gradient
        // descent in z-scored space (Features.sgdLinearFit — the
        // train.py:499-553 training loop itself, iterative distributed
        // gradient aggregates with an Armijo backtracking line search).
        // z-scoring is the reference's own preprocessing (train.py:430-
        // 470 normalizes before every fit) and what makes a single
        // learning rate serve features with scales 1..10³. The artifact
        // carries the moments WITH the coefficients: serve must
        // standardize with the TRAIN moments or the model is garbage
        // (the J4 norm-param-reuse lesson applied to features).
        // sgdArtifact is already a driver-local one-row relation.
        val feat2 = seqFeatures(featured, ops).localCheckpoint(eager = false)
        val params = sgdArtifact(spark,
          feat2.filter(col("split") === "train"))
        (applySgd(feat2, params).drop("x2", "x3", "x4"),
          Seq("predictor_params" -> params))
      case _ => (featured, Nil)
    }

    // A5 on the TRAIN split only: norm-param side table (train.py:467-477)
    val trainRows = featured.filter(col("split") === "train")
    val normParams = pinned(spark,
      Features.normParams(trainRows, key, col("actual")))

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
    outDir.foreach { dir =>
      Sinks.writeConcurrently(Seq[() => Any](
        () => Sinks.upsertSnapshot(spark, s"$dir/splits", splits,
          key = Seq("event_id"), orderCol = "split"),
        () => Sinks.upsertSnapshot(spark, s"$dir/model_types", modelTypes,
          key, orderCol = "total_samples"),
        () => Sinks.upsertSnapshot(spark, s"$dir/norm_params", normParams,
          key, orderCol = "mn")) ++
        // REPLACE, not merge: the reference persists its model wholesale
        // (train.py:555-567), so a retrain must not blend stale per-key
        // (slope, intercept) rows for keys absent from the new fit with
        // the fresh ones — versioned replace keeps concurrent readers of
        // the prior version safe while making v=N+1 exactly this run's
        // fit. routed publishes one artifact PER FAMILY
        // (predictor_params_rnn / predictor_params_xgb) — the reference
        // persists each group's model under its family's registry, and
        // grading a family with the other family's params would silently
        // score the wrong model
        predictorParams.map { case (name, p) =>
          () => Sinks.replaceSnapshot(spark, s"$dir/$name", p) } ++
        Seq(
          () => Sinks.truncateAndLoad(trainMetrics, s"$dir/train_metrics"),
          () => Sinks.truncateAndLoad(validateMetrics,
            s"$dir/validate_metrics"),
          () => Sinks.truncateAndLoad(validateFeatures,
            s"$dir/validate_features"),
          () => Sinks.truncateAndLoad(testForecasts, s"$dir/test_forecasts"),
          () => Sinks.appendOrReplace(spark, liveForecasts,
            s"$dir/live_forecasts")))
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
    artifactTables ++ (cfg.predictor match {
      case "naive" => Nil
      case "routed" => Seq("predictor_params_rnn", "predictor_params_xgb")
      case _ => Seq("predictor_params")
    })

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
        val required = requiredArtifacts(cfg)
        val missing = required.filterNot(a =>
          Sinks.hasCommittedVersion(spark, s"$outDir/$a"))
        if (missing.nonEmpty)
          StageStatus(st, ok = false,
            s"missing artifacts ${missing.mkString(", ")} — run train first")
        else attempt(st) {
          val split = if (st == "validate") "val" else "test"
          val n = stageMetrics(spark, events, outDir, split, cfg).count()
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
    // cfg.predictor != naive → apply the PERSISTED fit (the artifact
    // [[run]] published), never a re-fit: these stages grade the model
    // that was trained, exactly as the reference's validate/test load the
    // stored params (validate.py:171-331). Same apply expressions as
    // run()'s, same untrained-key naive fallback.
    val predicted = cfg.predictor match {
      case "ar1" =>
        val params = Sinks.readSnapshot(spark, s"$outDir/predictor_params")
        featured.join(broadcast(params), key, "left")
          .withColumn("pred_f",
            when(col("slope").isNotNull,
              round(col("slope") * col("pred_f") + col("intercept"), 2))
              .otherwise(col("pred_f")))
          .drop("slope", "intercept", "n_fit")
      case "ar2" =>
        val params = Sinks.readSnapshot(spark, s"$outDir/predictor_params")
        ops.ffill(ops.lag2(featured, "actual", "lag2"), "lag2", "x2")
          .drop("lag2")
          .join(broadcast(params), key, "left")
          .withColumn("pred_f",
            when(col("b1").isNotNull && col("x2").isNotNull,
              round(col("b1") * col("pred_f") + col("b2") * col("x2") +
                col("intercept"), 2))
              .otherwise(col("pred_f")))
          .drop("b1", "b2", "intercept", "n_fit", "x2")
      case "routed" =>
        // both persisted family artifacts + the persisted routing table —
        // the same dispatch run() trained, never a re-fit
        val rnnP = Sinks.readSnapshot(spark, s"$outDir/predictor_params_rnn")
        val xgbP = Sinks.readSnapshot(spark, s"$outDir/predictor_params_xgb")
        applyRouted(routedFeatures(featured, ops, modelTypes), rnnP, xgbP)
      case "seq" =>
        // the persisted multi-feature fit, with the same ill-conditioned
        // → naive dispatch run() trained under
        val params = Sinks.readSnapshot(spark, s"$outDir/predictor_params")
        applySeq(seqFeatures(featured, ops), params).drop("x2", "x3", "x4")
      case "sgd" =>
        // the persisted gradient-trained model + its train moments —
        // the same standardize-serve-fallback dispatch run() trained
        val params = Sinks.readSnapshot(spark, s"$outDir/predictor_params")
        applySgd(seqFeatures(featured, ops), params).drop("x2", "x3", "x4")
      case _ => featured
    }
    labelled(Features.regressionMetrics(
      predicted.filter(col("split") === split), key,
      col("actual"), col("pred_f")), modelTypes)
  }
}
