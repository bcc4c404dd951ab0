package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Features

/** Oracle-paired registrations for the feature-pipeline middle (SURVEY.md
  * §2d/§2e): fills, normalization, imputation, splits, group filtering,
  * norm-param reuse, sequences, summaries.
  *
  * Null fixtures are synthesized deterministically (`event_id % k` masks,
  * all-null and constant groups via `event_type` cases) so the reference's
  * guard branches — all-NaN group, zero range, <L history, missing norm
  * param — are actually exercised in both engines.
  *
  * Determinism rules as elsewhere: fills/normalization only SELECT existing
  * doubles or do single IEEE ops (exact in both engines); anything summed
  * (means) goes through DECIMAL first.
  */
object FeatureQueries {

  private val key = Seq("user_id", "event_type")
  private val keyCols = key.map(col)
  // Scattered nulls + an all-null group ('error') + a constant group
  // ('view') — exercises every fill/normalize guard.
  private val vSynthSql =
    """CASE WHEN event_type = 'error' THEN CAST(NULL AS DOUBLE)
      |     WHEN event_type = 'view' THEN 7.5
      |     WHEN event_id % 5 IN (0, 1) THEN CAST(NULL AS DOUBLE)
      |     ELSE value END""".stripMargin
  private val duckVSynth =
    """CASE WHEN event_type = 'error' THEN CAST(NULL AS DOUBLE)
      |     WHEN event_type = 'view' THEN 7.5
      |     WHEN event_id % 5 IN (0, 1) THEN CAST(NULL AS DOUBLE)
      |     ELSE value END""".stripMargin

  private def base(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir).withColumn("v", expr(vSynthSql))

  private val duckBase =
    s"""SELECT event_id, ts, user_id, event_type, $duckVSynth AS v
       |FROM events""".stripMargin

  private val duckWin =
    "PARTITION BY user_id, event_type ORDER BY ts, event_id"

  // contiguous ~30-day chunk id, monotone in ts, null-preserving (the
  // chunked-window contract, Features.chunkScan)
  private val monthChunk =
    expr("floor(unix_micros(CAST(ts AS TIMESTAMP)) / 2592000000000)")

  /** The A21 stump-training CTE chain over `events`, ending in `best`
    * (ONE row: the trained split t with its leaf counts) — shared by the
    * training row and the persist-and-serve row so the two oracles can
    * never train different models. Mirrors Features.decisionStump (see
    * its scaladoc for the exact-integer / correctly-rounded-quotient
    * determinism argument). */
  private val duckStumpCtes =
    """e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS t,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |per AS (SELECT t, count(*) AS cnt, sum(y) AS pos FROM e GROUP BY t),
      |cum AS (
      |  SELECT t,
      |    CAST(sum(cnt) OVER (ORDER BY t) AS BIGINT) AS nl,
      |    CAST(sum(pos) OVER (ORDER BY t) AS BIGINT) AS l1
      |  FROM per),
      |tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
      |  FROM per),
      |sc AS (
      |  SELECT t, nl, l1, nl - l1 AS l0, n - nl AS nr,
      |    p - l1 AS r1, (n - nl) - (p - l1) AS r0
      |  FROM cum, tot WHERE nl < n),
      |best AS (
      |  SELECT * FROM sc
      |  ORDER BY CAST((nl*nl - l1*l1 - l0*l0) * nr
      |      + (nr*nr - r1*r1 - r0*r0) * nl AS DOUBLE)
      |    / CAST(nl * nr AS DOUBLE), t
      |  LIMIT 1)""".stripMargin

  val defs: Map[String, QueryDef] = {
    val base = baseDefs
    // CHUNKED skew scale paths for the two remaining single-task O(n)
    // window rows (round 15, VERDICT r14 item 7) — same DuckDB oracles
    // as their plain twins, parallelism per (key, month) instead of per
    // key. w8_session_window stays plain deliberately: gap semantics
    // need the full sequence and its 1.85x at 50% skew is
    // bounded-linear (BENCH_SF1.md).
    base ++ Map(
      "w15_state_episodes_chunked" -> QueryDef(
        (s, dir) => graft.operators.Intervals.stateEpisodesChunked(
            Tables.events(s, dir), Seq("user_id"),
            Seq(col("ts"), col("event_id")), col("event_type"), monthChunk)
          .select(col("user_id"), col("episode_id"), col("state"),
            col("n_events"), col("first_ord.ts").as("first_ts"),
            col("last_ord.ts").as("last_ts")),
        base("w15_state_episodes").oracle.get),
      "w16_interpolate_chunked" -> QueryDef(
        (s, dir) => graft.operators.Resample.interpolateDailyChunked(
          Tables.events(s, dir), Seq("event_type"), "ts", "event_id",
          "value"),
        base("w16_interpolate").oracle.get))
  }

  private def baseDefs: Map[String, QueryDef] = Map(

    // W2 — train-order fill: ffill THEN bfill (train.py:428-429). Leading
    // nulls survive the ffill and are backfilled from the first non-null.
    "w2_fill_train" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        base(s, dir)
          .withColumn("vf", Features.ffill(col("v"), w))
          .withColumn("v_filled", coalesce(col("vf"),
            Features.bfill(col("vf"), key, Seq("ts", "event_id"))))
          .select(col("event_id"), col("v"), col("v_filled"))
      },
      s"""WITH b AS ($duckBase),
         |f AS (
         |  SELECT *, last_value(v IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
         |  FROM b)
         |SELECT event_id, v,
         |  coalesce(vf, first_value(vf IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v_filled
         |FROM f""".stripMargin),

    // W2 — validate/test-order fill: bfill THEN ffill (validate.py:235-236)
    // — deliberately different from the train order; diverges on
    // all-leading/all-trailing-null runs.
    "w2_fill_validate" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        base(s, dir)
          .withColumn("vb", Features.bfill(col("v"), key, Seq("ts", "event_id")))
          .withColumn("v_filled", coalesce(col("vb"), Features.ffill(col("vb"), w)))
          .select(col("event_id"), col("v"), col("v_filled"))
      },
      s"""WITH b AS ($duckBase),
         |f AS (
         |  SELECT *, first_value(v IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vb
         |  FROM b)
         |SELECT event_id, v,
         |  coalesce(vb, last_value(vb IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v_filled
         |FROM f""".stripMargin),

    // W1/W2 CHUNKED — the skew SCALE PATH (round 14): per-key windows
    // put a key's every row into one task, and the BENCH_SF1 skew
    // fixture (one key = 50% of 1M rows) measures the plain forms at
    // 1.8-2.4x — unboundedly worse at 100 TB, and salting is unsound
    // for sequence semantics. The chunked forms split each key by the
    // event MONTH (contiguous, monotone in ts), window inside each
    // (key, chunk), and stitch boundaries through a C-rows-per-key
    // summary join (Features.chunkScan scaladoc). Results are
    // IDENTICAL to the plain rows — same DuckDB oracles verbatim.
    "w1_lag_chunked" -> QueryDef(
      (s, dir) => Features.lag1Chunked(Tables.events(s, dir), "value",
          key, Seq("ts", "event_id"), monthChunk, "value_lag1")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("value_lag1")),
      """SELECT event_id, user_id, event_type, value,
        |  lag(value) OVER (PARTITION BY user_id, event_type
        |                   ORDER BY ts, event_id) AS value_lag1
        |FROM events""".stripMargin),

    "w2_fill_train_chunked" -> QueryDef(
      (s, dir) => {
        val ff = Features.ffillChunked(base(s, dir), "v", key,
          Seq("ts", "event_id"), monthChunk, "vf")
        Features.bfillChunked(ff, "vf", key, Seq("ts", "event_id"),
            monthChunk, "vb")
          .withColumn("v_filled", coalesce(col("vf"), col("vb")))
          .select(col("event_id"), col("v"), col("v_filled"))
      },
      s"""WITH b AS ($duckBase),
         |f AS (
         |  SELECT *, last_value(v IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
         |  FROM b)
         |SELECT event_id, v,
         |  coalesce(vf, first_value(vf IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v_filled
         |FROM f""".stripMargin),

    "w2_fill_validate_chunked" -> QueryDef(
      (s, dir) => {
        val bf = Features.bfillChunked(base(s, dir), "v", key,
          Seq("ts", "event_id"), monthChunk, "vb")
        Features.ffillChunked(bf, "vb", key, Seq("ts", "event_id"),
            monthChunk, "vf")
          .withColumn("v_filled", coalesce(col("vb"), col("vf")))
          .select(col("event_id"), col("v"), col("v_filled"))
      },
      s"""WITH b AS ($duckBase),
         |f AS (
         |  SELECT *, first_value(v IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vb
         |  FROM b)
         |SELECT event_id, v,
         |  coalesce(vb, last_value(vb IGNORE NULLS) OVER ($duckWin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v_filled
         |FROM f""".stripMargin),

    // W3+A5 — per-group min-max normalize with the reference guards
    // (train.py:122-129): all-NaN group → zeros with (mn,rng)=(0,1);
    // zero-range group → rng=1. Min/max are selections (not sums) so plain
    // doubles are exact in both engines.
    "w3_minmax_normalize" -> QueryDef(
      (s, dir) => {
        val (norm, mn, rng) = Features.minMaxNormalize(col("v"), key)
        base(s, dir)
          .withColumn("v_norm", norm).withColumn("mn", mn).withColumn("rng", rng)
          .select(col("event_id"), col("v"), col("v_norm"), col("mn"), col("rng"))
      },
      s"""WITH b AS ($duckBase),
         |m AS (
         |  SELECT *, min(v) OVER (PARTITION BY user_id, event_type) AS mn_raw,
         |            max(v) OVER (PARTITION BY user_id, event_type) AS mx_raw
         |  FROM b)
         |SELECT event_id, v,
         |  CASE WHEN mn_raw IS NULL THEN 0.0
         |       ELSE (v - coalesce(mn_raw, 0.0)) /
         |            (CASE WHEN mx_raw IS NULL OR mx_raw = mn_raw THEN 1.0
         |                  ELSE mx_raw - mn_raw END) END AS v_norm,
         |  coalesce(mn_raw, 0.0) AS mn,
         |  CASE WHEN mx_raw IS NULL OR mx_raw = mn_raw THEN 1.0
         |       ELSE mx_raw - mn_raw END AS rng
         |FROM m""".stripMargin),

    // F11 — denormalization round-trip (train.py:244-248, test.py:126-127):
    // normalize with the A5-guarded per-group (mn, rng), then denormalize
    // x·rng + mn. Both engines evaluate the identical IEEE double
    // composition, so v_rt is bit-equal cross-engine (and equals v up to
    // the usual (v−mn)/rng·rng+mn rounding, which is itself identical).
    "f11_denorm_roundtrip" -> QueryDef(
      (s, dir) => {
        val (norm, mn, rng) = Features.minMaxNormalize(col("v"), key)
        base(s, dir)
          .withColumn("v_norm", norm).withColumn("mn", mn).withColumn("rng", rng)
          .withColumn("v_rt",
            Features.denormalize(col("v_norm"), col("mn"), col("rng")))
          .select(col("event_id"), col("v"), col("v_norm"), col("v_rt"))
      },
      s"""WITH b AS ($duckBase),
         |m AS (
         |  SELECT *, min(v) OVER (PARTITION BY user_id, event_type) AS mn_raw,
         |            max(v) OVER (PARTITION BY user_id, event_type) AS mx_raw
         |  FROM b),
         |n AS (
         |  SELECT event_id, v,
         |    CASE WHEN mn_raw IS NULL THEN 0.0
         |         ELSE (v - coalesce(mn_raw, 0.0)) /
         |              (CASE WHEN mx_raw IS NULL OR mx_raw = mn_raw THEN 1.0
         |                    ELSE mx_raw - mn_raw END) END AS v_norm,
         |    coalesce(mn_raw, 0.0) AS mn,
         |    CASE WHEN mx_raw IS NULL OR mx_raw = mn_raw THEN 1.0
         |         ELSE mx_raw - mn_raw END AS rng
         |  FROM m)
         |SELECT event_id, v, v_norm, v_norm * rng + mn AS v_rt
         |FROM n""".stripMargin),

    // J5+A3 — group-mean imputation (train.py:347-357 fill_missing):
    // NULL → group mean (decimal-exact sum ÷ count), all-null group → 0.0.
    "j5_impute_group_mean" -> QueryDef(
      (s, dir) => {
        val part = Window.partitionBy(keyCols: _*)
        val nNonNull = count(col("v")).over(part)
        val meanExact = sum(col("v").cast("decimal(15,6)")).over(part)
          .cast("double") / nNonNull
        base(s, dir)
          .withColumn("v_imp",
            coalesce(col("v"), when(nNonNull > 0, meanExact), lit(0.0)))
          .select(col("event_id"), col("v"), col("v_imp"))
      },
      s"""WITH b AS ($duckBase)
         |SELECT event_id, v,
         |  coalesce(v,
         |    CASE WHEN count(v) OVER (PARTITION BY user_id, event_type) > 0
         |         THEN CAST(sum(CAST(v AS DECIMAL(15,6)))
         |                OVER (PARTITION BY user_id, event_type) AS DOUBLE) /
         |              count(v) OVER (PARTITION BY user_id, event_type) END,
         |    0.0) AS v_imp
         |FROM b""".stripMargin),

    // A4+J2 — drop groups whose measure is entirely null (train.py:360-369):
    // aggregate non-null counts per key, semi-join survivors back.
    "a4_allnull_group_drop" -> QueryDef(
      (s, dir) => {
        val b = base(s, dir)
        val valid = b.groupBy(keyCols: _*)
          .agg(count(col("v")).as("nn")).filter(col("nn") > 0)
          .select(keyCols: _*)
        b.join(valid, key, "left_semi")
          .select(col("event_id"), col("user_id"), col("event_type"), col("v"))
      },
      s"""WITH b AS ($duckBase)
         |SELECT b.event_id, b.user_id, b.event_type, b.v
         |FROM b
         |JOIN (SELECT user_id, event_type FROM b
         |      GROUP BY user_id, event_type HAVING count(v) > 0) g
         |USING (user_id, event_type)""".stripMargin),

    // W5 — exact chronological 70/15/15 row-positional split
    // (train.py:131-153): one global window at test scale;
    // chronoSplitApprox is the 100-TB path (see Features.scala). The
    // oracle's n is DOUBLE: the boundaries are the reference's float
    // arithmetic (floor(2800 · 0.7) = 1959), not DuckDB's decimal product.
    "w5_chrono_split" -> QueryDef(
      (s, dir) => Features.chronoSplit(
        Tables.events(s, dir).select(col("event_id"), col("ts")),
        order = Seq("ts", "event_id"))
        .select(col("event_id"), col("split")),
      """WITH r AS (
        |  SELECT event_id,
        |    row_number() OVER (ORDER BY ts, event_id) AS rn,
        |    CAST(count(*) OVER () AS DOUBLE) AS n
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN rn <= floor(n * 0.7) THEN 'train'
        |       WHEN rn <= floor(n * 0.7) + floor(n * 0.15) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin),

    // W5 at scale, EXACT: the distributed prefix-rank split
    // (Features.chronoSplitDistributed — range repartition + zipWithIndex
    // offsets, no single-partition window anywhere) graded against the
    // SAME oracle as the windowed w5 row: two different plans, one of
    // them with no serial stage, one bit-identical answer.
    "w5_chrono_split_dist" -> QueryDef(
      (s, dir) => Features.chronoSplitDistributed(
        Tables.events(s, dir).select(col("event_id"), col("ts")),
        order = Seq("ts", "event_id"))
        .select(col("event_id"), col("split")),
      """WITH r AS (
        |  SELECT event_id,
        |    row_number() OVER (ORDER BY ts, event_id) AS rn,
        |    CAST(count(*) OVER () AS DOUBLE) AS n
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN rn <= floor(n * 0.7) THEN 'train'
        |       WHEN rn <= floor(n * 0.7) + floor(n * 0.15) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin),

    // W5 at scale — the percentile-based split (no global window, no
    // single-partition stage; Features.chronoSplitApprox). Row membership
    // depends on approxQuantile boundaries, which no other engine
    // reproduces — so the DATA-VISIBLE check is an invariant aggregate:
    // split fractions within ±1% of 70/15/15 (approxQuantile relErr 1e-4
    // bounds the rank error at ~n/10⁴ rows, and ties share a split, so 1%
    // is generous yet still catches a wrong-quantile or wrong-comparison
    // bug), splits strictly ordered in time, and every row assigned
    // exactly once. The oracle asserts the invariants hold (TRUE
    // constants + the exact row count); a violation flips a boolean and
    // hash-mismatches. Exact/approx boundary agreement is additionally
    // pinned by FeaturesSpec.
    "w5_chrono_split_approx" -> QueryDef(
      (s, dir) => {
        val split = Features.chronoSplitApprox(
          Tables.events(s, dir).select(col("event_id"), col("ts")), "ts")
        split.agg(
            count(lit(1)).as("n"),
            count(when(col("split") === "train", 1)).as("n_train"),
            count(when(col("split") === "val", 1)).as("n_val"),
            count(when(col("split") === "test", 1)).as("n_test"),
            max(when(col("split") === "train", col("ts"))).as("train_max"),
            min(when(col("split") === "val", col("ts"))).as("val_min"),
            max(when(col("split") === "val", col("ts"))).as("val_max"),
            min(when(col("split") === "test", col("ts"))).as("test_min"))
          .select(
            col("n").cast("long").as("n_total"),
            (abs(col("n_train") / col("n") - 0.7) <= 0.01).as("frac_train_ok"),
            (abs((col("n_train") + col("n_val")) / col("n") - 0.85) <= 0.01)
              .as("frac_trainval_ok"),
            (col("train_max") < col("val_min") && col("val_max") < col("test_min"))
              .as("ordered_ok"),
            (col("n_train") + col("n_val") + col("n_test") === col("n"))
              .as("complete_ok"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  TRUE AS frac_train_ok, TRUE AS frac_trainval_ok,
        |  TRUE AS ordered_ok, TRUE AS complete_ok
        |FROM events""".stripMargin),

    // J4 — norm-param reuse (validate.py:258-287): val rows normalize with
    // TRAIN-split (mn,rng) where the key has train params, local val-split
    // min/max otherwise (the reference's fallback branch).
    "j4_norm_param_reuse" -> QueryDef(
      (s, dir) => {
        val b = base(s, dir)
        val boundary = lit("2024-01-22 00:00:00").cast("timestamp_ntz")
        val train = b.filter(col("ts") < boundary)
        val valRows = b.filter(col("ts") >= boundary)
        val params = train.groupBy(keyCols: _*)
          .agg(min(col("v")).as("p_mn_raw"), max(col("v")).as("p_mx_raw"))
        val localPart = Window.partitionBy(keyCols: _*)
        val lMn = min(col("v")).over(localPart)
        val lMx = max(col("v")).over(localPart)
        valRows
          .join(broadcast(params), key, "left")
          .withColumn("mn",
            when(col("p_mn_raw").isNotNull, col("p_mn_raw"))
              .otherwise(coalesce(lMn, lit(0.0))))
          .withColumn("mx",
            when(col("p_mn_raw").isNotNull, col("p_mx_raw"))
              .otherwise(lMx))
          .withColumn("rng",
            when(col("mx").isNull || col("mx") === col("mn"), lit(1.0))
              .otherwise(col("mx") - col("mn")))
          .withColumn("v_norm",
            when(col("v").isNull, lit(null).cast("double"))
              .otherwise((col("v") - col("mn")) / col("rng")))
          .select(col("event_id"), col("v"), col("mn"), col("rng"), col("v_norm"))
      },
      s"""WITH b AS ($duckBase),
         |tr AS (SELECT * FROM b WHERE ts < TIMESTAMP '2024-01-22 00:00:00'),
         |va AS (SELECT * FROM b WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'),
         |params AS (
         |  SELECT user_id, event_type, min(v) AS p_mn_raw, max(v) AS p_mx_raw
         |  FROM tr GROUP BY user_id, event_type),
         |loc AS (
         |  SELECT va.*, p.p_mn_raw, p.p_mx_raw,
         |    min(va.v) OVER (PARTITION BY va.user_id, va.event_type) AS l_mn,
         |    max(va.v) OVER (PARTITION BY va.user_id, va.event_type) AS l_mx
         |  FROM va LEFT JOIN params p
         |    ON p.user_id = va.user_id AND p.event_type = va.event_type),
         |g AS (
         |  SELECT *,
         |    CASE WHEN p_mn_raw IS NOT NULL THEN p_mn_raw
         |         ELSE coalesce(l_mn, 0.0) END AS mn,
         |    CASE WHEN p_mn_raw IS NOT NULL THEN p_mx_raw ELSE l_mx END AS mx
         |  FROM loc)
         |SELECT event_id, v, mn,
         |  CASE WHEN mx IS NULL OR mx = mn THEN 1.0 ELSE mx - mn END AS rng,
         |  CASE WHEN v IS NULL THEN NULL
         |       ELSE (v - mn) /
         |            (CASE WHEN mx IS NULL OR mx = mn THEN 1.0 ELSE mx - mn END)
         |  END AS v_norm
         |FROM g""".stripMargin),

    // W4 — sliding sequences, L=5 (train.py:484-492): previous-5 history
    // array per row, rows with shorter history dropped. Values scaled to
    // BIGINT and the array stringified so the differential compare is
    // byte-stable across engines.
    "w4_sequences" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        Tables.events(s, dir)
          .withColumn("iv", expr("CAST(round(value * 100) AS BIGINT)"))
          .withColumn("ivs", col("iv").cast("string"))
          .withColumn("seq", Features.slidingSequence(col("ivs"), w, length = 5))
          .filter(size(col("seq")) === 5)
          .select(col("event_id"),
            concat_ws(",", col("seq")).as("seq_str"),
            col("iv").as("target"))
      },
      """WITH b AS (
        |  SELECT event_id, ts, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS iv
        |  FROM events),
        |s AS (
        |  SELECT event_id, iv,
        |    list(iv) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS seq
        |  FROM b)
        |SELECT event_id, array_to_string(seq, ',') AS seq_str, iv AS target
        |FROM s WHERE len(seq) = 5""".stripMargin),

    // A8 — global summary over the A6 metrics table (validate.py:317-319):
    // means of R2/MSE, total samples. The per-group metrics are snapped to
    // BIGINT micro-units via round() — identical half-away-from-zero on
    // doubles in both engines — then summed exactly as integers; casting
    // computed doubles to DECIMAL is NOT portable (DuckDB converts via the
    // shortest decimal repr, Java via the exact binary expansion, and they
    // disagree near scale-6 ties). The Samples sum is CAST back to BIGINT
    // on the oracle side because DuckDB's sum(BIGINT) widens to HUGEINT
    // (int128), which arrives as float64 in the comparator's frame and
    // fails the dtype-sensitive hash even when values are identical.
    "a8_metrics_summary" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val withPred = Tables.events(s, dir)
          .withColumn("pred", Features.lag1(col("value"), w))
        Features.regressionMetrics(withPred, key, col("value"), col("pred"))
          .agg(
            (sum(expr("CAST(round(R2 * 1e6) AS BIGINT)")).cast("double")
              / lit(1e6) / count(lit(1))).as("avg_r2"),
            (sum(expr("CAST(round(MSE * 1e6) AS BIGINT)")).cast("double")
              / lit(1e6) / count(lit(1))).as("avg_mse"),
            sum(col("Samples")).as("total_samples"),
            count(lit(1)).as("n_groups"))
      },
      s"""WITH ${OracleSql.a6MetricsCtes}
         |SELECT
         |  CAST(sum(CAST(round(R2 * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS avg_r2,
         |  CAST(sum(CAST(round(MSE * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS avg_mse,
         |  CAST(sum(Samples) AS BIGINT) AS total_samples,
         |  count(*) AS n_groups
         |FROM m""".stripMargin),

    // A1 (skew path) — the high-impact count as a two-stage salted
    // aggregation: same result as the direct groupBy, with the shuffle
    // shape that survives a hot key (see Features.twoStageSaltedCount).
    "a1_salted_count" -> QueryDef(
      (s, dir) => Features.twoStageSaltedCount(
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .withColumn("event_date", to_date(col("ts"))),
        keys = Seq("user_id", "event_date"),
        saltSrc = col("event_id"), saltBuckets = 8),
      """SELECT user_id, CAST(ts AS DATE) AS event_date, count(*) AS cnt
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id, CAST(ts AS DATE)""".stripMargin),

    // A14 — per-group TRAINED model (Features.fitAr1): closed-form OLS
    // y ~ slope·lag1(y) + intercept, fit on the chronological TRAIN split
    // only — the reference's per-(Currency,Event) train step
    // (train.py:377-499) with its LSTM swapped for the smallest honest
    // relational model (decimal-exact normal-equation sums, the A6
    // determinism class). The oracle re-derives the whole chain: global
    // split, keyed lag, domain-guarded decimal sums, identical final
    // double arithmetic.
    "a14_ar1_model" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val feat = Features
          .chronoSplit(Tables.events(s, dir), Seq("ts", "event_id"))
          .withColumn("x", Features.lag1(col("value"), w))
        Features.fitAr1(feat.filter(col("split") === "train"), key,
          col("x"), col("value"))
      },
      s"""WITH ${OracleSql.ar1ParamCtes}
         |SELECT user_id, event_type, slope,
         |  (sy - slope * sx) / n_fit AS intercept, n_fit
         |FROM m""".stripMargin),

    // A14+J4+A6 — the TRAIN→APPLY contract end-to-end: the fitted params
    // join back onto the VAL split (the reference's reuse-train-artifacts
    // asymmetry, validate.py:258-287), predictions are slope·x +
    // intercept, and the A6 metrics grade them — every stage re-derived
    // independently by the oracle. Keys never seen in training are
    // excluded (inner join), mirroring the reference's trained-models
    // lookup.
    "a15_ar1_val_metrics" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        // feeds the fit AND the apply join — lazy checkpoint (Dedup
        // convention) so the split window + lag run once
        val feat = Features
          .chronoSplit(Tables.events(s, dir), Seq("ts", "event_id"))
          .withColumn("x", Features.lag1(col("value"), w))
          .localCheckpoint(eager = false)
        val params = Features.fitAr1(feat.filter(col("split") === "train"),
          key, col("x"), col("value"))
        // Predictions snap to scale 2 (the data's own scale): a full-
        // precision double pred would put real digits at scale 7-12 of
        // the squared-error terms, where Spark's decimal scale-down
        // rounds HALF_UP but DuckDB's TRUNCATES — with 2-decimal pred
        // and 2-decimal values every decimal in the metrics chain is
        // exact and the engines cannot disagree. (round(_, 2) itself is
        // the established cross-engine-stable op — asof rows round(_,6).)
        val applied = feat.filter(col("split") === "val")
          .join(broadcast(params), key)
          .withColumn("pred",
            round(col("slope") * col("x") + col("intercept"), 2))
        Features.regressionMetrics(applied, key, col("value"), col("pred"))
          .select(col("user_id"), col("event_type"),
            col("R2"), col("MSE"), col("Samples"))
      },
      s"""WITH ${OracleSql.ar1ParamCtes},
         |params AS (
         |  SELECT user_id, event_type, slope,
         |    (sy - slope * sx) / n_fit AS intercept
         |  FROM m),
         |va AS (
         |  SELECT f.user_id, f.event_type, f.value,
         |    round(p.slope * f.x + p.intercept, 2) AS pred
         |  FROM feat f JOIN params p USING (user_id, event_type)
         |  WHERE f.rn > floor(f.n_total * 0.7)
         |    AND f.rn <= floor(f.n_total * 0.7) + floor(f.n_total * 0.15)),
         |vg AS (
         |  -- factor casts to DECIMAL(19,6): same exact values, but DuckDB
         |  -- stores width <= 18 in int64 and its int64 multiply overflows
         |  -- once |value - pred| exceeds ~3037 (scale-6 square past 2^63);
         |  -- width 19 -> int128 multiply, exact to the (38,12) product
         |  SELECT user_id, event_type, count(*) AS n,
         |    CAST(sum(CAST(
         |      CAST(CAST(value AS DECIMAL(17,6)) - CAST(pred AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(value AS DECIMAL(17,6)) - CAST(pred AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
         |    CAST(sum(CAST(
         |      CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sum_a2,
         |    CAST(sum(CAST(value AS DECIMAL(17,6))) AS DOUBLE) AS sum_a
         |  FROM va
         |  WHERE value IS NOT NULL AND pred IS NOT NULL
         |    AND abs(value) < 1e11 AND abs(pred) < 1e11
         |  GROUP BY user_id, event_type)
         |SELECT user_id, event_type,
         |  CASE WHEN sum_a2 - n * (sum_a / n) * (sum_a / n) = 0 THEN -1.0
         |       ELSE 1.0 - ss_res / (sum_a2 - n * (sum_a / n) * (sum_a / n))
         |  END AS R2,
         |  ss_res / n AS MSE, n AS Samples
         |FROM vg WHERE n >= 2""".stripMargin),

    // A16 — the TWO-feature trained model (Features.fitAr2): closed-form
    // AR(2) via Cramer's rule on the centered normal equations, fit on
    // the chronological train split — the multi-feature step toward the
    // reference's look-back-window LSTM input (train.py:163-199), still
    // fully relational and decimal-exact. The oracle re-derives split,
    // both lags, all eight sums, and the identical Cramer arithmetic.
    "a16_ar2_model" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val feat = Features
          .chronoSplit(Tables.events(s, dir), Seq("ts", "event_id"))
          .withColumn("x1", Features.lag1(col("value"), w))
          .withColumn("x2", lag(col("value"), 2).over(w))
        Features.fitAr2(feat.filter(col("split") === "train"), key,
          col("x1"), col("x2"), col("value"))
      },
      s"""WITH ${OracleSql.ar2ParamCtes}
         |SELECT user_id, event_type, b1, b2, intercept, n_fit
         |FROM p""".stripMargin),

    // A16+J4+A6 — the AR(2) train→apply→grade chain on the val split,
    // the a15 contract with the two-lag model: inner-join params (keys
    // unseen in training are excluded), pred = round(b1·x1 + b2·x2 +
    // intercept, 2) (scale-2 snap — the a15 cross-engine rounding
    // rationale), A6 metrics over the predictions.
    "a17_ar2_val_metrics" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val feat = Features
          .chronoSplit(Tables.events(s, dir), Seq("ts", "event_id"))
          .withColumn("x1", Features.lag1(col("value"), w))
          .withColumn("x2", lag(col("value"), 2).over(w))
          .localCheckpoint(eager = false)
        val params = Features.fitAr2(feat.filter(col("split") === "train"),
          key, col("x1"), col("x2"), col("value"))
        val applied = feat.filter(col("split") === "val")
          .join(broadcast(params), key)
          .withColumn("pred",
            round(col("b1") * col("x1") + col("b2") * col("x2") +
              col("intercept"), 2))
        Features.regressionMetrics(applied, key, col("value"), col("pred"))
          .select(col("user_id"), col("event_type"),
            col("R2"), col("MSE"), col("Samples"))
      },
      s"""WITH ${OracleSql.ar2ParamCtes},
         |va AS (
         |  SELECT f.user_id, f.event_type, f.value,
         |    round(p.b1 * f.x1 + p.b2 * f.x2 + p.intercept, 2) AS pred
         |  FROM feat f JOIN p USING (user_id, event_type)
         |  WHERE f.rn > floor(f.n_total * 0.7)
         |    AND f.rn <= floor(f.n_total * 0.7) + floor(f.n_total * 0.15)),
         |vg AS (
         |  -- factor casts to DECIMAL(19,6): int128 multiply, the a15 note
         |  SELECT user_id, event_type, count(*) AS n,
         |    CAST(sum(CAST(
         |      CAST(CAST(value AS DECIMAL(17,6)) - CAST(pred AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(value AS DECIMAL(17,6)) - CAST(pred AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
         |    CAST(sum(CAST(
         |      CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sum_a2,
         |    CAST(sum(CAST(value AS DECIMAL(17,6))) AS DOUBLE) AS sum_a
         |  FROM va
         |  WHERE value IS NOT NULL AND pred IS NOT NULL
         |    AND abs(value) < 1e11 AND abs(pred) < 1e11
         |  GROUP BY user_id, event_type)
         |SELECT user_id, event_type,
         |  CASE WHEN sum_a2 - n * (sum_a / n) * (sum_a / n) = 0 THEN -1.0
         |       ELSE 1.0 - ss_res / (sum_a2 - n * (sum_a / n) * (sum_a / n))
         |  END AS R2,
         |  ss_res / n AS MSE, n AS Samples
         |FROM vg WHERE n >= 2""".stripMargin),

    // A16+SNK6 — the PERSISTED-model serve path (the ann_ivf_persisted
    // pattern applied to trained params): fitAr2's artifact goes to
    // parquet, a fresh read serves the val split, and the metrics must
    // still hash-match the SAME oracle as the in-memory a17 row — a
    // lossy or re-ordered round-trip would shift every prediction.
    "a17b_ar2_persisted" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val feat = Features
          .chronoSplit(Tables.events(s, dir), Seq("ts", "event_id"))
          .withColumn("x1", Features.lag1(col("value"), w))
          .withColumn("x2", lag(col("value"), 2).over(w))
          .localCheckpoint(eager = false)
        val path = Scratch.dir("a17b_params")
        Features.fitAr2(feat.filter(col("split") === "train"),
          key, col("x1"), col("x2"), col("value"))
          .write.mode("overwrite").parquet(path)
        val params = s.read.parquet(path)
        val applied = feat.filter(col("split") === "val")
          .join(broadcast(params), key)
          .withColumn("pred",
            round(col("b1") * col("x1") + col("b2") * col("x2") +
              col("intercept"), 2))
        Features.regressionMetrics(applied, key, col("value"), col("pred"))
          .select(col("user_id"), col("event_type"),
            col("R2"), col("MSE"), col("Samples"))
      },
      s"""WITH ${OracleSql.ar2ParamCtes},
         |va AS (
         |  SELECT f.user_id, f.event_type, f.value,
         |    round(p.b1 * f.x1 + p.b2 * f.x2 + p.intercept, 2) AS pred
         |  FROM feat f JOIN p USING (user_id, event_type)
         |  WHERE f.rn > floor(f.n_total * 0.7)
         |    AND f.rn <= floor(f.n_total * 0.7) + floor(f.n_total * 0.15)),
         |vg AS (
         |  SELECT user_id, event_type, count(*) AS n,
         |    CAST(sum(CAST(
         |      CAST(CAST(value AS DECIMAL(17,6)) - CAST(pred AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(value AS DECIMAL(17,6)) - CAST(pred AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
         |    CAST(sum(CAST(
         |      CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sum_a2,
         |    CAST(sum(CAST(value AS DECIMAL(17,6))) AS DOUBLE) AS sum_a
         |  FROM va
         |  WHERE value IS NOT NULL AND pred IS NOT NULL
         |    AND abs(value) < 1e11 AND abs(pred) < 1e11
         |  GROUP BY user_id, event_type)
         |SELECT user_id, event_type,
         |  CASE WHEN sum_a2 - n * (sum_a / n) * (sum_a / n) = 0 THEN -1.0
         |       ELSE 1.0 - ss_res / (sum_a2 - n * (sum_a / n) * (sum_a / n))
         |  END AS R2,
         |  ss_res / n AS MSE, n AS Samples
         |FROM vg WHERE n >= 2""".stripMargin),

    // A19 (engine extension) — per-group Pearson correlation between the
    // lag feature and the value (the autocorrelation diagnostic behind
    // every "is a lag model even sensible here" decision), via
    // Features.pearson: the built-in corr() is order-nondeterministic in
    // double, so the row runs the decimal-exact-sums + fixed-IEEE-shape
    // form and hash-matches DuckDB re-deriving the identical chain.
    "a19_lag_correlation" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        Features.pearson(
          Tables.events(s, dir)
            .withColumn("x", Features.lag1(col("value"), w)),
          key, col("x"), col("value"))
      },
      """WITH feat AS (
        |  SELECT user_id, event_type, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x
        |  FROM events),
        |g AS (
        |  -- factor casts to DECIMAL(19,6): int128 multiply, the a15 note
        |  SELECT user_id, event_type, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(17,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(17,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(
        |      CAST(CAST(x AS DECIMAL(17,6)) AS DECIMAL(19,6))
        |      * CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(
        |      CAST(CAST(x AS DECIMAL(17,6)) AS DECIMAL(19,6))
        |      * CAST(CAST(x AS DECIMAL(17,6)) AS DECIMAL(19,6))
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(
        |      CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
        |      * CAST(CAST(value AS DECIMAL(17,6)) AS DECIMAL(19,6))
        |      AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM feat
        |  WHERE x IS NOT NULL AND value IS NOT NULL
        |    AND abs(x) < 1e11 AND abs(value) < 1e11
        |  GROUP BY user_id, event_type),
        |v AS (
        |  SELECT user_id, event_type, n, sx, sy, sxy,
        |    n * sxx - sx * sx AS vx,
        |    n * syy - sy * sy AS vy
        |  FROM g WHERE n >= 2)
        |SELECT user_id, event_type, n,
        |  CASE WHEN vx > 0 AND vy > 0
        |       THEN (n * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
        |  END AS corr_xy
        |FROM v""".stripMargin),

    // A21 (engine extension) — exactly-trained decision stump: predict
    // "is this a purchase event" from the value alone; training scans
    // every distinct cent threshold and minimizes weighted Gini with pure
    // integer counts (Features.decisionStump scaladoc has the determinism
    // argument: exact BIGINTs, correctly-rounded double quotient of
    // < 2^53 integers, smallest-threshold tie-break). The oracle retrains
    // the identical model end-to-end in DuckDB — a full cross-engine
    // reproduction of model FITTING, not just scoring.
    "a21_decision_stump" -> QueryDef(
      (s, dir) => Features.decisionStump(Tables.events(s, dir),
        feature = expr("CAST(round(value * 100) AS BIGINT)"),
        label = col("event_type") === "purchase"),
      s"""WITH $duckStumpCtes
         |SELECT t AS threshold, nl AS n_left, l1 AS pos_left,
         |  nr AS n_right, r1 AS pos_right,
         |  greatest(l1, l0) + greatest(r1, r0) AS n_correct
         |FROM best""".stripMargin),

    // A21b — the stump's train → persist → serve lifecycle (the a17b /
    // ann_ivf_persisted convention): train once, parquet round-trip the
    // 1-row model, then SERVE predictions over the full event stream by
    // broadcasting the model — each event lands in a leaf and takes the
    // leaf's majority class. The oracle retrains end-to-end in SQL and
    // scores every event the same way.
    "a21b_stump_served" -> QueryDef(
      (s, dir) => {
        val path = Scratch.dir("stump")
        Features.decisionStump(Tables.events(s, dir),
          feature = expr("CAST(round(value * 100) AS BIGINT)"),
          label = col("event_type") === "purchase")
          .write.parquet(path)
        val model = s.read.parquet(path)
        Tables.events(s, dir)
          .crossJoin(broadcast(model))
          .select(col("event_id"),
            when(expr("CAST(round(value * 100) AS BIGINT)") <= col("threshold"),
              col("pos_left") * 2 > col("n_left"))
              .otherwise(col("pos_right") * 2 > col("n_right"))
              .as("predicted"),
            (col("event_type") === "purchase").as("actual"))
      },
      s"""WITH $duckStumpCtes
         |SELECT event_id,
         |  CASE WHEN CAST(round(value * 100) AS BIGINT) <= b.t
         |       THEN b.l1 * 2 > b.nl
         |       ELSE b.r1 * 2 > b.nr END AS predicted,
         |  event_type = 'purchase' AS actual
         |FROM events, best b""".stripMargin),

    // A21c — one stump PER event_type (the many-small-models shape the
    // AR(1) family established): does the event's value predict a high
    // props.k payload, trained independently per group in one pass —
    // group-keyed cumulative windows, min_by argmin, no global sort. The
    // oracle partitions the identical chain by event_type and picks each
    // group's winner with QUALIFY.
    "a21c_stump_per_group" -> QueryDef(
      (s, dir) => Features.decisionStumpPerGroup(
        Tables.events(s, dir),
        groups = Seq("event_type"),
        feature = expr("CAST(round(value * 100) AS BIGINT)"),
        label = expr("TRY_CAST(from_json(props, 'k STRING').k AS BIGINT)") >= 50),
      """WITH e AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS t,
        |    CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |         THEN 1 ELSE 0 END AS y
        |  FROM events),
        |per AS (SELECT g, t, count(*) AS cnt, sum(y) AS pos FROM e GROUP BY g, t),
        |cum AS (
        |  SELECT g, t,
        |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY t) AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER (PARTITION BY g ORDER BY t) AS BIGINT) AS l1,
        |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n,
        |    CAST(sum(pos) OVER (PARTITION BY g) AS BIGINT) AS p
        |  FROM per),
        |sc AS (
        |  SELECT g, t, nl, l1, nl - l1 AS l0, n - nl AS nr,
        |    p - l1 AS r1, (n - nl) - (p - l1) AS r0
        |  FROM cum WHERE nl < n)
        |SELECT g AS event_type, t AS threshold, nl AS n_left, l1 AS pos_left,
        |  nr AS n_right, r1 AS pos_right,
        |  greatest(l1, l0) + greatest(r1, r0) AS n_correct
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY g
        |  ORDER BY CAST((nl*nl - l1*l1 - l0*l0) * nr
        |      + (nr*nr - r1*r1 - r0*r0) * nl AS DOUBLE)
        |    / CAST(nl * nr AS DOUBLE), t) = 1""".stripMargin),

    // A9 — diagnostics: value histogram over the impact ordinal + distinct
    // entity counts (train.py:341-343).
    "a9_value_histogram" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .withColumn("impact", expr(
          "CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END"))
        .groupBy(col("impact"))
        .agg(count(lit(1)).as("cnt"),
          count_distinct(col("user_id")).as("n_users"),
          count_distinct(col("event_type")).as("n_event_types")),
      """SELECT
        |  CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |       WHEN 'purchase' THEN 3 ELSE 0 END AS impact,
        |  count(*) AS cnt,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_event_types
        |FROM events GROUP BY 1""".stripMargin),

    // A14c — GENERAL p-feature trained model (Features.linearFit, p = 3
    // lag features): the distributed normal-equation pass (p²-bounded
    // moment shuffle, decimal-exact sums) + deterministic driver solve —
    // the step past AR(2)'s Cramer 2×2 toward the reference's
    // multi-feature regressors. Coefficients are data-derived doubles no
    // portable SQL can re-solve for general p, so the row follows the
    // emb_pca_fit convention: ORDER-INDEPENDENT invariants checked
    // in-plan over the SAME guarded train rows — (a) the served
    // residuals are orthogonal to every design column (the defining OLS
    // property, graded at a tolerance covering the documented
    // DECIMAL(38,6) product snap of ±5e-7/row), (b) SSE ≤ SST (an
    // intercept-bearing OLS can never lose to the mean model), (c) the
    // λ=10 ridge refit shrinks the slope-vector norm (the penalized-
    // minimizer inequality). The oracle re-derives n_fit — the split,
    // all three lags, and the domain guard — independently.
    "a22_linear_model" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val feat = Features
          .chronoSplit(Tables.events(s, dir), Seq("ts", "event_id"))
          .withColumn("x1", Features.lag1(col("value"), w))
          .withColumn("x2", lag(col("value"), 2).over(w))
          .withColumn("x3", lag(col("value"), 3).over(w))
        val fs = Seq(col("x1"), col("x2"), col("x3"))
        val guard = (fs :+ col("value"))
          .map(c => c.isNotNull && abs(c) < lit(1e11)).reduce(_ && _)
        // one guarded train frame feeds the two fits AND the invariant
        // re-aggregation — lazy checkpoint (the Dedup convention)
        val train = feat.filter(col("split") === "train" && guard)
          .localCheckpoint(eager = false)
        val fit = Features.linearFit(train, fs, col("value")).get
        val rdg = Features.linearFit(train, fs, col("value"), ridge = 10.0).get
        def norm2(m: Features.LinearModel) =
          math.sqrt(m.coef.drop(1).map(x => x * x).sum)
        val shrinks = norm2(rdg) <= norm2(fit) + 1e-9
        // the artifact contract: persist, reload, serve through the
        // RELOADED model — a lossy round-trip would break normal_ok
        val rtDir = Scratch.dir("a22-model")
        Features.Linear.toFrame(s, fit).write.parquet(rtDir)
        val ols = Features.Linear.fromFrame(s.read.parquet(rtDir))
        val rtOk = ols.coef.sameElements(fit.coef) && ols.nFit == fit.nFit
        def zd(c: org.apache.spark.sql.Column) =
          c.cast("decimal(17,6)").cast("double")
        val served = Features.linearPredict(train, ols, fs)
          .withColumn("r", zd(col("value")) - col("prediction"))
        served.agg(
            count(lit(1)).as("n_fit"),
            sum(col("r")).as("d0"),
            sum(zd(col("x1")) * col("r")).as("d1"),
            sum(zd(col("x2")) * col("r")).as("d2"),
            sum(zd(col("x3")) * col("r")).as("d3"),
            sum(col("r") * col("r")).as("sse"),
            sum(zd(col("value"))).as("sv"),
            sum(zd(col("value")) * zd(col("value"))).as("svv"))
          .select(
            col("n_fit"),
            (greatest(abs(col("d0")), abs(col("d1")), abs(col("d2")),
              abs(col("d3"))) <= lit(1e-3) * col("n_fit")).as("normal_ok"),
            (col("sse") <= (col("svv") - col("sv") * col("sv") / col("n_fit"))
              * lit(1.0 + 1e-9) + lit(1e-6)).as("sse_le_sst"),
            lit(shrinks).as("ridge_shrinks"),
            lit(rtOk).as("roundtrip_ok"))
      },
      """WITH ordered AS (
        |  SELECT event_id, ts, user_id, event_type, value,
        |    row_number() OVER (ORDER BY ts, event_id) AS rn,
        |    CAST(count(*) OVER () AS DOUBLE) AS n_total
        |  FROM events),
        |feat AS (
        |  SELECT user_id, event_type, value, rn, n_total,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x1,
        |    lag(value, 2) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x2,
        |    lag(value, 3) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x3
        |  FROM ordered)
        |SELECT CAST(count(*) AS BIGINT) AS n_fit, TRUE AS normal_ok,
        |  TRUE AS sse_le_sst, TRUE AS ridge_shrinks, TRUE AS roundtrip_ok
        |FROM feat
        |WHERE rn <= floor(n_total * 0.7)
        |  AND x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL
        |  AND value IS NOT NULL AND abs(x1) < 1e11 AND abs(x2) < 1e11
        |  AND abs(x3) < 1e11 AND abs(value) < 1e11""".stripMargin),

    // A14d — a trained CLASSIFIER (Features.logisticFit): logistic
    // regression via distributed IRLS, predicting purchase events from
    // z-scored value and hour-of-day. Coefficients depend on float
    // combine order (sigmoid forecloses the decimal trick), so the row
    // checks MLE-defining invariants in-plan with the persisted β: (a)
    // the score equations hold at convergence (Σ z_j(y − p̂) ≈ 0 per
    // design column — THE first-order condition of logistic MLE), (b)
    // every served probability lies strictly inside (0, 1), (c) the fit
    // deviance never exceeds the intercept-only null model's (MLE can
    // only improve likelihood). n_fit re-derived by DuckDB.
    "a23_logistic_model" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir).filter(col("event_type").isNotNull)
        val st = e.agg(
          avg(col("value")).as("mv"), stddev_pop(col("value")).as("sv"),
          avg(hour(col("ts")).cast("double")).as("mh"),
          stddev_pop(hour(col("ts")).cast("double")).as("sh")).head()
        val f1 = (col("value") - lit(st.getDouble(0))) / lit(st.getDouble(1))
        val f2 = (hour(col("ts")).cast("double") - lit(st.getDouble(2))) /
          lit(st.getDouble(3))
        val labelC = (col("event_type") === "purchase")
        val fit = Features.logisticFit(e, Seq(f1, f2), labelC,
          maxIters = 15).get
        // artifact contract: serve through the persisted + reloaded model
        val rtDir = Scratch.dir("a23-model")
        Features.Logistic.toFrame(s, fit).write.parquet(rtDir)
        val model = Features.Logistic.fromFrame(s.read.parquet(rtDir))
        val rtOk = model.coef.sameElements(fit.coef) &&
          model.nFit == fit.nFit && model.gradNorm == fit.gradNorm
        val guarded = e.filter(f1.isNotNull && abs(f1) < lit(1e11) &&
          f2.isNotNull && abs(f2) < lit(1e11))
        val yy = labelC.cast("int").cast("double")
        val ybar = guarded.agg(avg(yy)).head().getDouble(0)
        val served = Features.logisticPredict(guarded, model, Seq(f1, f2))
          .withColumn("yy", yy)
        def dev(prob: org.apache.spark.sql.Column) =
          lit(-2.0) * sum(col("yy") * log(prob) +
            (lit(1.0) - col("yy")) * log(lit(1.0) - prob))
        served.agg(
            count(lit(1)).as("n_fit"),
            sum(col("yy") - col("probability")).as("g0"),
            sum(f1 * (col("yy") - col("probability"))).as("g1"),
            sum(f2 * (col("yy") - col("probability"))).as("g2"),
            every(col("probability") > 0.0 && col("probability") < 1.0)
              .as("probs_ok"),
            dev(col("probability")).as("dev_fit"),
            dev(lit(ybar)).as("dev_null"))
          .select(
            col("n_fit"),
            (greatest(abs(col("g0")), abs(col("g1")), abs(col("g2"))) <=
              lit(1e-6) * col("n_fit")).as("score_ok"),
            col("probs_ok"),
            (col("dev_fit") <= col("dev_null") + lit(1e-6)).as("beats_null"),
            lit(rtOk).as("roundtrip_ok"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_fit, TRUE AS score_ok,
        |  TRUE AS probs_ok, TRUE AS beats_null, TRUE AS roundtrip_ok
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  AND ts IS NOT NULL""".stripMargin),

    // A14e — GRADIENT-BOOSTED STUMPS (Features.gbmFit), the engine's
    // honest XGBoost-lite: 8 boosting rounds over histogram bins of two
    // lag features predicting value — features binned once, each round
    // ONE corpus aggregation to ≤ p·nBins cells + a driver split search
    // (the tree_method=hist shape; rounds × one-scan is the irreducible
    // GBM training cost). Stump values are float-combine-order-dependent,
    // so the row pins the BOOSTING-defining invariants: (a) the training
    // SSE ledger never rises across rounds (each stump fits residual
    // means — the greedy guarantee), (b) the final model beats the mean
    // model, (c) serving through the PERSISTED + reloaded model
    // reproduces the ledger's final SSE (train/serve bin arithmetic
    // identical). n_fit re-derived by DuckDB.
    "a24_gbm_model" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val feat = Tables.events(s, dir)
          .withColumn("x1", Features.lag1(col("value"), w))
          .withColumn("x2", lag(col("value"), 2).over(w))
        val fs = Seq(col("x1"), col("x2"))
        val model = Features.gbmFit(feat, fs, col("value"),
          rounds = 8, learningRate = 0.5, nBins = 64).get
        val monotone = model.sses.sliding(2).forall(p =>
          p.length < 2 || p(1) <= p(0) + 1e-9)
        val rtDir = Scratch.dir("a24-model")
        Features.Gbm.toFrame(s, model).write.parquet(rtDir)
        val rt = Features.Gbm.fromFrame(s.read.parquet(rtDir))
        val guard = (fs :+ col("value"))
          .map(c => c.isNotNull && abs(c) < lit(1e11)).reduce(_ && _)
        Features.gbmPredict(feat.filter(guard), rt, fs)
          .agg(
            count(lit(1)).as("n_fit"),
            sum(pow(col("value") - col("prediction"), 2)).as("sse"))
          .select(
            col("n_fit"),
            lit(monotone).as("sse_monotone"),
            (col("sse") <= lit(model.sses.head) + lit(1e-6)).as("beats_null"),
            (abs(col("sse") - lit(model.sses.last)) <=
              lit(1e-6) * (col("sse") + lit(1.0))).as("serve_consistent"))
      },
      """WITH feat AS (
        |  SELECT value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x1,
        |    lag(value, 2) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x2
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_fit, TRUE AS sse_monotone,
        |  TRUE AS beats_null, TRUE AS serve_consistent
        |FROM feat
        |WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND value IS NOT NULL
        |  AND abs(x1) < 1e11 AND abs(x2) < 1e11 AND abs(value) < 1e11""".stripMargin),

    // A14f (round 12) — MINIBATCH STOCHASTIC GRADIENT DESCENT
    // (Features.sgdLinearFit): the reference's actual training loop
    // (train.py:499-553 steps its LSTM by minibatch gradients) as
    // iterative distributed aggregates — each epoch one hash-gated
    // minibatch gradient pass + ONE multi-candidate backtracking
    // line-search pass, both map-side combined. Coefficients are
    // float-combine-order dependent, so the row pins the GRADIENT-
    // DESCENT-defining invariants: (a) the full-train loss ledger
    // starts at the mean model's MSE and never rises (the line search
    // accepts only non-worsening steps — SGD must EARN every
    // improvement), (b) the final model strictly beats the mean model
    // with at least one accepted step (the z-scored lag features carry
    // real signal), (c) serving through the PERSISTED + reloaded model
    // reproduces the ledger tail. n_fit re-derived by DuckDB.
    "a40_sgd_model" -> QueryDef(
      (s, dir) => {
        val w = Features.keyWindow(key, Seq("ts", "event_id"))
        val feat = Tables.events(s, dir)
          .withColumn("x1", Features.lag1(col("value"), w))
          .withColumn("x2", lag(col("value"), 2).over(w))
        val raw = Seq(col("x1"), col("x2"))
        val guard = (raw :+ col("value"))
          .map(c => c.isNotNull && abs(c) < lit(1e11)).reduce(_ && _)
        val g = feat.filter(guard).localCheckpoint(eager = false)
        val st = g.agg(
          avg(col("x1")).as("m1"), stddev_pop(col("x1")).as("s1"),
          avg(col("x2")).as("m2"), stddev_pop(col("x2")).as("s2"),
          avg(col("value")).as("my"),
          stddev_pop(col("value")).as("sy")).head()
        def sd(v: Double) = if (v.isNaN || v <= 0.0) 1.0 else v
        val fs = Seq(
          (col("x1") - lit(st.getDouble(0))) / lit(sd(st.getDouble(1))),
          (col("x2") - lit(st.getDouble(2))) / lit(sd(st.getDouble(3))))
        val y = (col("value") - lit(st.getDouble(4))) /
          lit(sd(st.getDouble(5)))
        val fit = Features.sgdLinearFit(g, fs, y, epochs = 8).get
        val monotone = fit.lossLedger.sliding(2).forall(p =>
          p.length < 2 || p(1) <= p(0) + 1e-12)
        val rtDir = Scratch.dir("a40-model")
        Features.Sgd.toFrame(s, fit).write.parquet(rtDir)
        val rt = Features.Sgd.fromFrame(s.read.parquet(rtDir))
        val rtOk = rt.coef.sameElements(fit.coef) && rt.nFit == fit.nFit &&
          rt.lossLedger == fit.lossLedger &&
          rt.acceptedSteps == fit.acceptedSteps
        Features.sgdPredict(g, rt, fs)
          .agg(
            count(lit(1)).as("n_fit"),
            sum(pow(col("prediction") - y, 2)).as("sse"))
          .select(
            col("n_fit"),
            lit(monotone).as("ledger_monotone"),
            lit(fit.acceptedSteps >= 1 &&
              fit.lossLedger.last < fit.lossLedger.head).as("beats_mean"),
            (abs(col("sse") / col("n_fit") - lit(fit.lossLedger.last)) <=
              lit(1e-9) * (lit(fit.lossLedger.last) + lit(1.0)))
              .as("serve_consistent"),
            lit(rtOk).as("roundtrip_ok"))
      },
      """WITH feat AS (
        |  SELECT value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x1,
        |    lag(value, 2) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS x2
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_fit,
        |  TRUE AS ledger_monotone, TRUE AS beats_mean,
        |  TRUE AS serve_consistent, TRUE AS roundtrip_ok
        |FROM feat
        |WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND value IS NOT NULL
        |  AND abs(x1) < 1e11 AND abs(x2) < 1e11 AND abs(value) < 1e11""".stripMargin),

    // A14g (round 12) — SOFTMAX CLASSIFICATION BY MINIBATCH SGD
    // (Features.sgdSoftmaxFit): the multi-output face of a40 —
    // cross-entropy objective, K·(p+1) gradient sums per epoch in one
    // hash-gated pass, one multi-candidate log-sum-exp line-search
    // pass. Predicts event_type (5 classes) from the a23 z-scored
    // features. Invariants in-plan: ledger starts at the class-prior
    // cross-entropy and never rises, the fit strictly beats the prior
    // with ≥1 accepted step, every served probability row is a valid
    // distribution, serving through the persisted + reloaded model
    // reproduces the ledger tail. n_fit and n_classes by DuckDB.
    "a41_softmax_model" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir).filter(col("event_type").isNotNull)
        val st = e.agg(
          avg(col("value")).as("mv"), stddev_pop(col("value")).as("sv"),
          avg(hour(col("ts")).cast("double")).as("mh"),
          stddev_pop(hour(col("ts")).cast("double")).as("sh")).head()
        val f1 = (col("value") - lit(st.getDouble(0))) / lit(st.getDouble(1))
        val f2 = (hour(col("ts")).cast("double") - lit(st.getDouble(2))) /
          lit(st.getDouble(3))
        val fit = Features.sgdSoftmaxFit(e, Seq(f1, f2), col("event_type"),
          epochs = 8).get
        val monotone = fit.lossLedger.sliding(2).forall(p =>
          p.length < 2 || p(1) <= p(0) + 1e-12)
        val rtDir = Scratch.dir("a41-model")
        Features.Softmax.toFrame(s, fit).write.parquet(rtDir)
        val rt = Features.Softmax.fromFrame(s.read.parquet(rtDir))
        val rtOk = rt.classes == fit.classes &&
          rt.coef.sameElements(fit.coef) &&
          rt.lossLedger == fit.lossLedger
        val guarded = e.filter(f1.isNotNull && abs(f1) < lit(1e11) &&
          f2.isNotNull && abs(f2) < lit(1e11))
        val served = Features.sgdSoftmaxPredict(guarded, rt, Seq(f1, f2))
        val pCols = fit.classes.map(c => col(s"p_$c"))
        // −ln p_y re-derived from the served probabilities
        val lnPy = fit.classes.foldRight(lit(0.0)) { (c, acc) =>
          when(col("event_type") === c, log(col(s"p_$c"))).otherwise(acc)
        }
        served.agg(
            count(lit(1)).as("n_fit"),
            sum(-lnPy).as("ce"),
            every(pCols.map(c => c > 0.0 && c < 1.0).reduce(_ && _))
              .as("probs_ok"),
            max(abs(pCols.reduce(_ + _) - lit(1.0))).as("dev"))
          .select(
            col("n_fit"),
            lit(fit.classes.length.toLong).as("n_classes"),
            lit(monotone).as("ledger_monotone"),
            lit(fit.acceptedSteps >= 1 &&
              fit.lossLedger.last < fit.lossLedger.head).as("beats_prior"),
            (col("probs_ok") && col("dev") < lit(1e-9)).as("probs_ok"),
            (abs(col("ce") / col("n_fit") - lit(fit.lossLedger.last)) <=
              lit(1e-6) * (lit(fit.lossLedger.last) + lit(1.0)))
              .as("serve_consistent"),
            lit(rtOk).as("roundtrip_ok"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_fit,
        |  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events
        |   WHERE event_type IS NOT NULL) AS n_classes,
        |  TRUE AS ledger_monotone, TRUE AS beats_prior,
        |  TRUE AS probs_ok, TRUE AS serve_consistent, TRUE AS roundtrip_ok
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  AND ts IS NOT NULL""".stripMargin),

    // A25 (round 9) — rolling-origin backtest
    // (Features.rollingOriginBacktest): each group's history cut into 5
    // chronological folds (the W5 floor arithmetic), every fold f >= 1
    // scored by the expanding-window mean model trained on folds < f —
    // the time-series evaluation protocol the reference's single
    // validate split approximates. The whole backtest is decimal-exact
    // sums + one fixed double expression per row (the A6 contract), so
    // DuckDB re-derives every per-fold (n_train, pred, mse) bit-for-bit.
    "a25_backtest" -> QueryDef(
      (s, dir) => {
        Features.rollingOriginBacktest(Tables.events(s, dir), key,
          Seq("ts", "event_id"), col("value"), nFolds = 5)
          .select(col("user_id"), col("event_type"), col("fold"),
            col("n_test"), col("n_train"), col("pred"), col("mse"))
      },
      """WITH base AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(value AS DECIMAL(17,6)) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND abs(value) < 1e11),
        |folded AS (
        |  SELECT user_id, event_type, v,
        |    least(CAST(4 AS BIGINT), CAST(floor(
        |      (row_number() OVER (PARTITION BY user_id, event_type
        |                          ORDER BY ts, event_id) - 1) * 5 /
        |      count(*) OVER (PARTITION BY user_id, event_type))
        |      AS BIGINT)) AS fold
        |  FROM base),
        |per_fold AS (
        |  SELECT user_id, event_type, fold,
        |    count(*) AS n_test, sum(v) AS s1,
        |    sum(CAST(v * v AS DECIMAL(38,6))) AS s2
        |  FROM folded GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT *,
        |    sum(n_test) OVER w AS cum_n, sum(s1) OVER w AS cum_s1
        |  FROM per_fold
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY fold
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_type, fold, n_test,
        |  CAST(cum_n AS BIGINT) AS n_train,
        |  CAST(cum_s1 AS DOUBLE) / CAST(cum_n AS BIGINT) AS pred,
        |  CAST(s2 AS DOUBLE) / n_test -
        |    2.0 * (CAST(cum_s1 AS DOUBLE) / CAST(cum_n AS BIGINT)) *
        |      (CAST(s1 AS DOUBLE) / n_test) +
        |    (CAST(cum_s1 AS DOUBLE) / CAST(cum_n AS BIGINT)) *
        |      (CAST(cum_s1 AS DOUBLE) / CAST(cum_n AS BIGINT)) AS mse
        |FROM cum WHERE cum_n IS NOT NULL AND cum_n >= 1""".stripMargin),

    // W12 (ext) — per-group daily resample + gap-fill (round 9): the
    // pandas `.resample('D').sum(min_count=1).ffill()` the reference's
    // AR-style lag features silently assume (train.py:423-429 ffills but
    // never regularizes the grid, so a 3-day gap reads as a 1-step lag).
    // Spine rows = groups × span-days (19,930 at sf0.01, ~60% gap days) —
    // bounded by calendar span, not input rows. Decimal-exact day sums;
    // the ffill is the standard single-shuffle group window. Scale shape
    // in Resample scaladoc: per-group sequence()+explode, no driver loop.
    "w12_resample_gapfill" -> QueryDef(
      (s, dir) => {
        graft.operators.Resample.resampleDailyFfill(
          Tables.events(s, dir), key, "ts", "value")
      },
      """WITH daily AS (
        |  SELECT user_id, event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(17,6))) AS DOUBLE) AS day_sum,
        |    count(*) AS n_rows
        |  FROM events GROUP BY 1, 2, 3),
        |bounds AS (
        |  SELECT user_id, event_type, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, event_type, CAST(g.g AS DATE) AS day
        |  FROM bounds, LATERAL unnest(generate_series(
        |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY))
        |    AS g(g))
        |SELECT s.user_id, s.event_type, s.day, d.day_sum,
        |  CAST(coalesce(d.n_rows, 0) AS BIGINT) AS n_rows,
        |  d.day_sum IS NULL AS is_gap,
        |  last_value(d.day_sum IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id, s.event_type ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM spine s LEFT JOIN daily d USING (user_id, event_type, day)"""
        .stripMargin),

    // FT1 (ext, round 9) — out-of-fold smoothed target encoding, the
    // leakage-safe categorical encoder (fold = event_id % 5, a pure row
    // function both engines derive identically; smoothing m=10 toward
    // the global prior). Sufficient statistics in DECIMAL(17,6) (the A6
    // convention) so the fold-exclusion subtraction is exact; the one
    // data shuffle is the (cat, fold) aggregate, the join back is
    // AQE-broadcast (|cats|·k rows). Scale notes in Features.targetEncode.
    "ft_target_encode" -> QueryDef(
      (s, dir) => {
        Features.targetEncode(Tables.events(s, dir), col("event_type"),
          col("value"), pmod(col("event_id"), lit(5)), smoothing = 10.0)
          .select(col("event_id"), col("event_type"), col("value"), col("te"))
      },
      """WITH stats AS (
        |  SELECT event_type, event_id % 5 AS fold,
        |    sum(CAST(value AS DECIMAL(17,6))) AS s, count(value) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, fold, s, n,
        |    sum(s) OVER (PARTITION BY event_type) AS cat_s,
        |    sum(n) OVER (PARTITION BY event_type) AS cat_n
        |  FROM stats),
        |prior AS (
        |  SELECT CAST(sum(CAST(value AS DECIMAL(17,6))) AS DOUBLE)
        |    / count(value) AS p
        |  FROM events)
        |SELECT e.event_id, e.event_type, e.value,
        |  (CAST(t.cat_s - t.s AS DOUBLE) + 10.0 * prior.p) /
        |  (CAST(t.cat_n - t.n AS DOUBLE) + 10.0) AS te
        |FROM events e
        |JOIN tot t ON e.event_type = t.event_type AND e.event_id % 5 = t.fold,
        |  prior""".stripMargin),

    // FT2 (ext, round 9) — equi-depth binning from TYPE-1 (order
    // statistic) quartile cuts: cut_p = value at rank ceil(p·n) per
    // group, bin = #cuts strictly below the value. Order statistics,
    // not interpolation — the a18 bitwise-determinism argument (see
    // Features.quantileBins scaladoc for why interpolated quantiles
    // can't be hash-paired across engines).
    "ft_quantile_bins" -> QueryDef(
      (s, dir) => {
        Features.quantileBins(Tables.events(s, dir), Seq("event_type"),
          col("value"), Seq(0.25, 0.5, 0.75))
          .select(col("event_id"), col("event_type"), col("value"),
            col("cut_0").as("q1"), col("cut_1").as("q2"),
            col("cut_2").as("q3"), col("bin").cast("long").as("bin"))
      },
      """WITH v AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |cuts AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
        |        THEN value END) AS q1,
        |    max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
        |        THEN value END) AS q2,
        |    max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
        |        THEN value END) AS q3
        |  FROM v GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, c.q1, c.q2, c.q3,
        |  CAST(CASE WHEN e.value > c.q1 THEN 1 ELSE 0 END
        |     + CASE WHEN e.value > c.q2 THEN 1 ELSE 0 END
        |     + CASE WHEN e.value > c.q3 THEN 1 ELSE 0 END AS BIGINT) AS bin
        |FROM events e LEFT JOIN cuts c
        |  ON e.event_type IS NOT DISTINCT FROM c.event_type""".stripMargin),

    // FT3 (ext, round 9) — winsorization: clip to the per-group
    // [p05, p95] type-1 quantile band before moment-based modeling.
    // least/greatest on exact order-statistic cuts — bitwise-pairable
    // like ft_quantile_bins.
    "ft_winsorize" -> QueryDef(
      (s, dir) => {
        Features.winsorize(Tables.events(s, dir), Seq("event_type"),
          col("value"), pLo = 0.05, pHi = 0.95)
          .select(col("event_id"), col("event_type"), col("value"),
            col("cut_0").as("p05"), col("cut_1").as("p95"),
            col("v_winsor"))
      },
      """WITH v AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |cuts AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
        |        THEN value END) AS p05,
        |    max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |        THEN value END) AS p95
        |  FROM v GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, c.p05, c.p95,
        |  least(greatest(e.value, c.p05), c.p95) AS v_winsor
        |FROM events e LEFT JOIN cuts c
        |  ON e.event_type IS NOT DISTINCT FROM c.event_type""".stripMargin),

    // FT4 (ext, round 9) — quantile (rank) transform: per-group rank
    // scaled to [0,1] under the total order (value, event_id) — the
    // distribution-free normalization for heavy tails. Ratios of exact
    // integers; null values excluded (they have no rank).
    "ft_rank_normalize" -> QueryDef(
      (s, dir) => {
        Features.rankNormalize(
          Tables.events(s, dir).filter(col("value").isNotNull),
          Seq("event_type"), Seq(col("value"), col("event_id")))
          .select(col("event_id"), col("event_type"), col("value"),
            col("rank_norm"))
      },
      """SELECT event_id, event_type, value,
        |  CASE WHEN count(*) OVER (PARTITION BY event_type) = 1 THEN 0.5
        |    ELSE CAST(row_number() OVER (PARTITION BY event_type
        |        ORDER BY value, event_id) - 1 AS DOUBLE)
        |      / CAST(count(*) OVER (PARTITION BY event_type) - 1 AS DOUBLE)
        |  END AS rank_norm
        |FROM events WHERE value IS NOT NULL""".stripMargin),

    // W13 (ext, round 9) — truncated EWMA (α=0.3, L=8): the fixed-frame
    // distributable form of the recursive exponential smoother. The
    // weight table is ONE driver-computed constant embedded verbatim in
    // both engines (Features.ewmaWeights — a VALUES literal in the
    // oracle), terms quantize to BIGINT 1e-12 units, and the result is
    // a ratio of two exact integer sums — so the Spark window-frame
    // fold and the oracle's rank self-join, two entirely different
    // algorithms, agree bitwise.
    "w13_ewma" -> QueryDef(
      (s, dir) => {
        Features.ewma(Tables.events(s, dir).filter(col("value").isNotNull),
          key, Seq(col("ts"), col("event_id")), col("value"),
          alpha = 0.3, maxLag = 8)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("ewma"))
      }, {
        val wvals = Features.ewmaWeights(0.3, 8).zipWithIndex
          .map { case (wt, j) => s"($j, CAST(${"%.17g".format(wt)} AS DOUBLE))" }
          .mkString(", ")
        s"""WITH r AS (
           |  SELECT event_id, user_id, event_type, value,
           |    row_number() OVER (PARTITION BY user_id, event_type
           |      ORDER BY ts, event_id) AS rn
           |  FROM events WHERE value IS NOT NULL),
           |j AS (
           |  SELECT cur.event_id, cur.user_id, cur.event_type, cur.value,
           |    CAST(round(hist.value * w.wt * 1e12) AS BIGINT) AS tq,
           |    CAST(round(w.wt * 1e12) AS BIGINT) AS wq
           |  FROM r cur
           |  JOIN r hist ON cur.user_id = hist.user_id
           |    AND cur.event_type = hist.event_type
           |    AND hist.rn BETWEEN cur.rn - 7 AND cur.rn
           |  JOIN (VALUES $wvals) AS w(j, wt) ON w.j = cur.rn - hist.rn)
           |SELECT event_id, user_id, event_type, value,
           |  CAST(sum(tq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE) AS ewma
           |FROM j GROUP BY 1, 2, 3, 4""".stripMargin
      }),

    // W13 SCALE PATH (round 14) — Features.ewmaBucketed: no per-key
    // window at all (global range-shuffle sequence numbers + an
    // rn-bucket band join, O(L²) per bucket regardless of key skew —
    // the plain form measured 4.3x on the 50%-hot-key fixture,
    // BENCH_SF1.md). Identical quantized arithmetic — the SAME oracle
    // SQL as w13_ewma, verbatim; bit-equality also pinned in
    // FeaturesSpec.
    "w13_ewma_bucketed" -> QueryDef(
      (s, dir) => {
        Features.ewmaBucketed(
            Tables.events(s, dir).filter(col("value").isNotNull),
            key, Seq("ts", "event_id"), "value", alpha = 0.3, maxLag = 8)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("ewma"))
      }, {
        val wvals = Features.ewmaWeights(0.3, 8).zipWithIndex
          .map { case (wt, j) => s"($j, CAST(${"%.17g".format(wt)} AS DOUBLE))" }
          .mkString(", ")
        s"""WITH r AS (
           |  SELECT event_id, user_id, event_type, value,
           |    row_number() OVER (PARTITION BY user_id, event_type
           |      ORDER BY ts, event_id) AS rn
           |  FROM events WHERE value IS NOT NULL),
           |j AS (
           |  SELECT cur.event_id, cur.user_id, cur.event_type, cur.value,
           |    CAST(round(hist.value * w.wt * 1e12) AS BIGINT) AS tq,
           |    CAST(round(w.wt * 1e12) AS BIGINT) AS wq
           |  FROM r cur
           |  JOIN r hist ON cur.user_id = hist.user_id
           |    AND cur.event_type = hist.event_type
           |    AND hist.rn BETWEEN cur.rn - 7 AND cur.rn
           |  JOIN (VALUES $wvals) AS w(j, wt) ON w.j = cur.rn - hist.rn)
           |SELECT event_id, user_id, event_type, value,
           |  CAST(sum(tq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE) AS ewma
           |FROM j GROUP BY 1, 2, 3, 4""".stripMargin
      }),

    // W13b (round 11) — the EWMA overflow-guard BOUNDARY as oracle
    // data (the snk3 mode-as-data pattern): deterministically push every
    // 17th event past the |v| < 1e6 domain (v = 1e6 + |value|, pure IEEE
    // ops identical in both engines), carry the guard outcome as an
    // `in_domain` column, run EWMA over ONLY the in-domain rows (the
    // documented production pattern — exclude or rescale upstream), and
    // left-join the smoothed values back so out-of-domain rows surface
    // with in_domain=false and NULL ewma. Both engines re-derive the
    // flag AND the exclusion's effect on frame composition — so a guard
    // drift (boundary off by an ulp, or the filter not actually
    // excluding) breaks the hash. The raise_error face of the same
    // boundary is spec-pinned (FeaturesSpec).
    "w13_ewma_guard" -> QueryDef(
      (s, dir) => {
        val flagged = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .withColumn("v_scaled",
            when(col("event_id") % 17 === 0, lit(1e6) + abs(col("value")))
              .otherwise(col("value")))
          .withColumn("in_domain", abs(col("v_scaled")) < lit(1e6))
        val smoothed = Features.ewma(flagged.filter(col("in_domain")),
          key, Seq(col("ts"), col("event_id")), col("v_scaled"),
          alpha = 0.3, maxLag = 8)
          .select(col("event_id"), col("ewma"))
        flagged.join(smoothed, Seq("event_id"), "left")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("v_scaled"), col("in_domain"), col("ewma"))
      }, {
        val wvals = Features.ewmaWeights(0.3, 8).zipWithIndex
          .map { case (wt, j) => s"($j, CAST(${"%.17g".format(wt)} AS DOUBLE))" }
          .mkString(", ")
        s"""WITH flagged AS (
           |  SELECT event_id, user_id, event_type, ts,
           |    CASE WHEN event_id % 17 = 0 THEN 1e6 + abs(value)
           |         ELSE value END AS v_scaled
           |  FROM events WHERE value IS NOT NULL),
           |f2 AS (
           |  SELECT *, abs(v_scaled) < 1e6 AS in_domain FROM flagged),
           |r AS (
           |  SELECT event_id, user_id, event_type, v_scaled,
           |    row_number() OVER (PARTITION BY user_id, event_type
           |      ORDER BY ts, event_id) AS rn
           |  FROM f2 WHERE in_domain),
           |j AS (
           |  SELECT cur.event_id,
           |    CAST(round(hist.v_scaled * w.wt * 1e12) AS BIGINT) AS tq,
           |    CAST(round(w.wt * 1e12) AS BIGINT) AS wq
           |  FROM r cur
           |  JOIN r hist ON cur.user_id = hist.user_id
           |    AND cur.event_type = hist.event_type
           |    AND hist.rn BETWEEN cur.rn - 7 AND cur.rn
           |  JOIN (VALUES $wvals) AS w(j, wt) ON w.j = cur.rn - hist.rn),
           |ew AS (
           |  SELECT event_id,
           |    CAST(sum(tq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE) AS ewma
           |  FROM j GROUP BY 1)
           |SELECT f2.event_id, f2.user_id, f2.event_type, f2.v_scaled,
           |  f2.in_domain, ew.ewma
           |FROM f2 LEFT JOIN ew USING (event_id)""".stripMargin
      }),

    // A32 (ext, round 9) — additive weekly decomposition per
    // event_type: value = group_mean + dow_effect + residual. The
    // first-order calendar structure of an economic-events series
    // (day-of-week release schedules), decimal-exact window means, one
    // shuffle for both windows. isodow follows the f14 convention
    // (Spark weekday+1 == DuckDB isodow).
    "a32_seasonal_decompose" -> QueryDef(
      (s, dir) => {
        Features.seasonalDecompose(Tables.events(s, dir),
          Seq("event_type"), col("ts"), col("value"))
          .select(col("event_id"), col("event_type"), col("isodow"),
            col("value"), col("group_mean"), col("dow_effect"),
            col("residual"))
      },
      """WITH d AS (
        |  SELECT event_id, event_type,
        |    CAST(isodow(ts) AS BIGINT) AS isodow, value
        |  FROM events),
        |m AS (
        |  SELECT event_id, event_type, isodow, value,
        |    CAST(sum(CAST(value AS DECIMAL(17,6)))
        |        OVER (PARTITION BY event_type) AS DOUBLE)
        |      / CAST(count(value) OVER (PARTITION BY event_type) AS DOUBLE)
        |      AS group_mean,
        |    CAST(sum(CAST(value AS DECIMAL(17,6)))
        |        OVER (PARTITION BY event_type, isodow) AS DOUBLE)
        |      / CAST(count(value)
        |          OVER (PARTITION BY event_type, isodow) AS DOUBLE)
        |      AS dow_mean
        |  FROM d)
        |SELECT event_id, event_type, isodow, value, group_mean,
        |  dow_mean - group_mean AS dow_effect,
        |  value - dow_mean AS residual
        |FROM m""".stripMargin),

    // W14 (round 9) — gaps-and-islands, the islands half: each event
    // opens a 4-hour activity interval; overlapping-or-touching
    // intervals merge into maximal islands per user (median inter-event
    // gap is ~7.3h at sf0.01, so real merging AND real splits occur).
    // Pure window arithmetic on exact timestamps.
    "w14_interval_merge" -> QueryDef(
      (s, dir) => {
        import graft.operators.Intervals
        Intervals.mergeIntervals(
          Tables.events(s, dir)
            .withColumn("iv_end", col("ts") + expr("INTERVAL 4 HOURS")),
          Seq("user_id"), col("ts"), col("iv_end"))
      },
      """WITH iv AS (
        |  SELECT user_id, ts AS s, ts + INTERVAL 4 HOUR AS e FROM events
        |  WHERE ts IS NOT NULL),
        |f AS (
        |  SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
        |  FROM f),
        |h AS (
        |  SELECT user_id, s, e,
        |    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        |  FROM g)
        |SELECT user_id, island_id, min(s) AS start, max(e) AS "end",
        |  count(*) AS n_intervals
        |FROM h GROUP BY 1, 2""".stripMargin),

    // W15 (round 9) — gaps-and-islands, the runs half: consecutive
    // equal event types per user collapse into episodes (run-length
    // encoding of the state sequence) via the lag-change-flag +
    // cumulative-sum chain. Exact integers and timestamps throughout.
    "w15_state_episodes" -> QueryDef(
      (s, dir) => {
        import graft.operators.Intervals
        Intervals.stateEpisodes(Tables.events(s, dir), Seq("user_id"),
          Seq(col("ts"), col("event_id")), col("event_type"))
          .select(col("user_id"), col("episode_id"), col("state"),
            col("n_events"), col("first_ord.ts").as("first_ts"),
            col("last_ord.ts").as("last_ts"))
      },
      """WITH b AS (
        |  SELECT user_id, event_type, ts, event_id FROM events
        |  WHERE event_type IS NOT NULL),
        |f AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) IS NULL
        |         OR lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM b),
        |g AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS episode_id
        |  FROM f)
        |SELECT user_id, episode_id, event_type AS state,
        |  count(*) AS n_events, min(ts) AS first_ts, max(ts) AS last_ts
        |FROM g GROUP BY 1, 2, 3""".stripMargin),

    // W16 (round 9) — time-weighted linear interpolation onto the
    // daily grid (pandas .resample('D').interpolate('time')): the
    // between-observations regularization the ffill resample (w12)
    // can't express. Integer-microsecond time deltas, one fixed IEEE
    // blend chain; boundary days without a surrounding pair drop.
    "w16_interpolate" -> QueryDef(
      (s, dir) => {
        import graft.operators.Resample
        Resample.interpolateDaily(Tables.events(s, dir),
          Seq("event_type"), "ts", "event_id", "value")
      },
      """WITH pts AS (
        |  SELECT event_type, ts AS t, event_id AS id, value AS v,
        |    0 AS kind
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |sp AS (
        |  SELECT event_type,
        |    unnest(generate_series(
        |      CAST(min(CAST(t AS DATE)) AS TIMESTAMP),
        |      CAST(max(CAST(t AS DATE)) AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS t
        |  FROM pts GROUP BY 1),
        |u AS (
        |  SELECT event_type, t, id, v, kind FROM pts
        |  UNION ALL
        |  SELECT event_type, t, NULL, NULL, 1 FROM sp),
        |wnd AS (
        |  SELECT event_type, t, kind,
        |    last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS)
        |      OVER win0 AS t0,
        |    last_value(CASE WHEN kind = 0 THEN v END IGNORE NULLS)
        |      OVER win0 AS y0,
        |    first_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS)
        |      OVER win1 AS t1,
        |    first_value(CASE WHEN kind = 0 THEN v END IGNORE NULLS)
        |      OVER win1 AS y1
        |  FROM u
        |  WINDOW
        |    win0 AS (PARTITION BY event_type ORDER BY t, kind, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    win1 AS (PARTITION BY event_type ORDER BY t, kind, id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, t AS day,
        |  y0 + (y1 - y0) * (CAST(epoch_us(t) - epoch_us(t0) AS DOUBLE)
        |    / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) AS y_interp
        |FROM wnd
        |WHERE kind = 1 AND t0 IS NOT NULL AND t1 IS NOT NULL""".stripMargin),

    // A39 (ext, round 9) — Theil–Sen robust trend per series: the
    // median of all pairwise slopes (position-index regressor); slopes
    // are one exact division each, the estimate is the LOWER MEDIAN
    // under a total order (never an average) — identical double
    // multisets, identical answer. The O(n²)-per-group enumeration is
    // guarded loud; the long-series sibling is a22's linearFit.
    "a39_theil_sen" -> QueryDef(
      (s, dir) => {
        Features.theilSenSlope(Tables.events(s, dir),
          Seq("user_id", "event_type"), col("value"),
          Seq(col("ts"), col("event_id")))
      },
      """WITH b AS (
        |  SELECT user_id, event_type,
        |    CAST(round(value * 1e6) AS BIGINT) AS v,
        |    CAST(row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS i,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT l.user_id, l.event_type, l.n, l.i, r.i AS j,
        |    CAST(r.v - l.v AS DOUBLE) / 1e6 / CAST(r.i - l.i AS DOUBLE)
        |      AS s
        |  FROM b l JOIN b r ON l.user_id = r.user_id
        |    AND l.event_type = r.event_type AND r.i > l.i
        |  WHERE l.n >= 2),
        |r AS (
        |  SELECT user_id, event_type, n, s,
        |    CAST(row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY s, i, j) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY user_id, event_type)
        |      AS BIGINT) AS m
        |  FROM p)
        |SELECT user_id, event_type, n, m AS n_pairs, s AS ts_slope
        |FROM r WHERE rk = (m + 1) // 2""".stripMargin),

    // A38 (ext, round 9) — Kaplan-Meier time-to-conversion: days from
    // first signup to first subsequent purchase, users without a
    // purchase CENSORED at their last activity (the thing naive
    // averages get wrong). Exact risk-set integers + one division per
    // step; the global step window runs on distinct DURATIONS (days),
    // never subjects. Survival curve = consumer's running product of
    // factors (no order-free exact form — deliberate boundary).
    "a38_survival_km" -> QueryDef(
      (s, dir) => {
        import graft.operators.Survival
        val e = Tables.events(s, dir)
        val t0 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
        val purch = e.filter(col("event_type") === "purchase")
          .join(t0, "user_id").filter(col("ts") > col("t0"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
        val lastTs = e.groupBy(col("user_id")).agg(max(col("ts")).as("lt"))
        val subj = t0.join(purch, Seq("user_id"), "left")
          .join(lastTs, "user_id")
          .select(
            datediff(coalesce(col("pt"), col("lt")).cast("date"),
              col("t0").cast("date")).cast("long").as("dur"),
            col("pt").isNotNull.as("obs"))
        Survival.kaplanMeierTable(subj, Seq.empty, col("dur"), col("obs"))
      },
      """WITH t0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS pt
        |  FROM events e JOIN t0 ON e.user_id = t0.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t0.t0 GROUP BY 1),
        |lt AS (SELECT user_id, max(ts) AS lt FROM events GROUP BY 1),
        |subj AS (
        |  SELECT t0.user_id,
        |    CAST(date_diff('day', CAST(t0.t0 AS DATE),
        |      CAST(coalesce(p.pt, lt.lt) AS DATE)) AS BIGINT) AS d,
        |    p.pt IS NOT NULL AS obs
        |  FROM t0
        |  LEFT JOIN p ON p.user_id = t0.user_id
        |  JOIN lt ON lt.user_id = t0.user_id),
        |c AS (
        |  SELECT d, CAST(count(*) AS BIGINT) AS n_at_d,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d_events
        |  FROM subj GROUP BY 1),
        |r AS (
        |  SELECT d, n_at_d, d_events,
        |    CAST(sum(n_at_d) OVER () AS BIGINT) AS total,
        |    CAST(coalesce(sum(n_at_d) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS bef
        |  FROM c)
        |SELECT d AS duration, total - bef AS n_at_risk, d_events,
        |  CAST(total - bef - d_events AS DOUBLE)
        |    / CAST(total - bef AS DOUBLE) AS factor
        |FROM r WHERE d_events > 0""".stripMargin),

    // A35 (ext, round 9) — offline CUSUM changepoint per series: the
    // level-shift detector for monitoring pipelines (Page 1954, offline
    // mean-shift form). The statistic is kept in the n-scaled form
    // T_i = n·prefix_i − i·total over micro-unit values, computed in
    // DECIMAL(38,0) (DuckDB: HUGEINT) so large-n × large-|v| groups
    // can't wrap Int64; the argmax compares exact integers in both
    // engines; ties report the EARLIEST index; the only double is ONE
    // |T*|/(n·1e6) render.
    "a35_cusum_changepoint" -> QueryDef(
      (s, dir) => {
        Features.cusumChangepoint(Tables.events(s, dir),
          Seq("user_id", "event_type"), col("value"),
          Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_type"), col("n"),
            col("cp_index").cast("long").as("cp_index"), col("cusum_stat"))
      },
      """WITH b AS (
        |  SELECT user_id, event_type,
        |    CAST(round(value * 1e6) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS i
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT user_id, event_type, i,
        |    sum(v) OVER (PARTITION BY user_id, event_type
        |      ORDER BY i ROWS UNBOUNDED PRECEDING) AS pre,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n,
        |    sum(v) OVER (PARTITION BY user_id, event_type) AS tot
        |  FROM b),
        |t AS (
        |  SELECT user_id, event_type, n, i,
        |    abs(CAST(n AS HUGEINT) * pre - CAST(i AS HUGEINT) * tot) AS at
        |  FROM p WHERE i < n),
        |s AS (
        |  SELECT user_id, event_type, n, i, at,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY at DESC, i ASC) AS r
        |  FROM t)
        |SELECT user_id, event_type, n, i AS cp_index,
        |  CAST(at AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS cusum_stat
        |FROM s WHERE r = 1""".stripMargin)
  )
}
