package graft.queries

import graft.{Pipeline, Tables}

/** E2/E3 registration: the full train-stage pipeline as ONE logical plan —
  * hygiene → all-null-group drop → chronological split → lag + fill
  * features → decimal-exact A6 metrics → model-routing join — verified
  * end-to-end against an independent DuckDB implementation of the whole
  * chain. This is the engine's flagship query (SparkEntry.entry).
  *
  * `pipeline_validate` extends the oracle past the train metrics into the
  * validate stage, pinning the reference's per-feature norm-param reuse
  * asymmetry (validate.py:268-287): 'actual' reuses the persisted TRAIN
  * (mn, rng) — train.py:474-477 persists params for no other feature —
  * while the lag feature always normalizes against local val-split
  * min/max.
  */
object PipelineQueries {

  /** Shared DuckDB CTE chain `base → valid → kept → spl → mt → f1 → f2`:
    * hygiene, all-null-group drop, 70/15/15 row-positional split, model
    * routing, lag-1 predictor, train-order forward fill. One source of
    * truth for every pipeline oracle. The split's row count is DOUBLE, so
    * floor(n · ratio) is taken in doubles as Features.chronoSplit (and the
    * reference's Python floats) take it; DuckDB's decimal product differs
    * at n = 2800 (1960 against 1959). */
  private val duckF2Ctes =
    """base AS (
      |  SELECT event_id, ts, user_id, event_type, value AS actual
      |  FROM events WHERE ts IS NOT NULL),
      |valid AS (
      |  SELECT user_id, event_type FROM base
      |  GROUP BY user_id, event_type HAVING count(actual) > 0),
      |kept AS (
      |  SELECT b.* FROM base b JOIN valid USING (user_id, event_type)),
      |spl AS (
      |  SELECT event_id,
      |    CASE WHEN rn <= floor(n * 0.7) THEN 'train'
      |         WHEN rn <= floor(n * 0.7) + floor(n * 0.15) THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT event_id,
      |          row_number() OVER (ORDER BY ts, event_id) AS rn,
      |          CAST(count(*) OVER () AS DOUBLE) AS n
      |        FROM kept)),
      |mt AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN count(*) >= 50 THEN 'rnn' ELSE 'xgb' END AS model_type
      |  FROM kept GROUP BY user_id, event_type),
      |f1 AS (
      |  SELECT k.*, s.split,
      |    lag(actual) OVER (PARTITION BY user_id, event_type
      |                      ORDER BY ts, event_id) AS pred
      |  FROM kept k JOIN spl s USING (event_id)),
      |f2 AS (
      |  SELECT *,
      |    last_value(pred IGNORE NULLS) OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pred_f
      |  FROM f1)""".stripMargin

  /** Generated fit CTEs for pipeline_e2e_seq: per-group moment sums →
    * centered moments → 4×4 Cramer solve, with every determinant
    * expanded by [[graft.operators.Features.leibnizDet]] — the SAME
    * fixed term order the Spark fit uses, instantiated here for SQL
    * strings (the pageRankOracle no-drift pattern, applied to the
    * solve itself). */
  private def seqFitCtes: String = {
    val feats = Seq("pred_f", "x2", "x3", "x4")
    val p = feats.length
    def d17(c: String) = s"CAST($c AS DECIMAL(17,6))"
    def prodSum(a: String, b: String) =
      s"CAST(sum(CAST(CAST(${d17(a)} AS DECIMAL(19,6)) * " +
        s"CAST(${d17(b)} AS DECIMAL(19,6)) AS DECIMAL(38,6))) AS DOUBLE)"
    val singleSums = feats.zipWithIndex.map { case (f, i) =>
      s"CAST(sum(${d17(f)}) AS DOUBLE) AS s$i" } :+
      s"CAST(sum(${d17("actual")}) AS DOUBLE) AS sy"
    val crossSums =
      (for (i <- 0 until p; j <- i until p) yield
        s"${prodSum(feats(i), feats(j))} AS s${i}_$j") ++
      (0 until p).map(i => s"${prodSum(feats(i), "actual")} AS s${i}y")
    val eligible = (feats :+ "actual")
      .map(f => s"$f IS NOT NULL AND abs($f) < 1e11").mkString(" AND ")
    val centered =
      (for (i <- 0 until p; j <- i until p) yield
        s"n_fit * s${i}_$j - s$i * s$j AS c${i}_$j") ++
      (0 until p).map(i => s"n_fit * s${i}y - s$i * sy AS cy$i")
    def cCell(i: Int, j: Int) = s"c${math.min(i, j)}_${math.max(i, j)}"
    def detSql(cell: (Int, Int) => String): String =
      graft.operators.Features.leibnizDet[String](p, cell,
        (a, b) => s"($a * $b)", (a, b) => s"($a + $b)", x => s"(- $x)")
    val det = detSql(cCell)
    // the conditioning gate, SAME chain as fitLinearPerGroup:
    // |det| > 1e-9 · |Π c_ii| (left-assoc diagonal product)
    val diagProd = (0 until p).map(i => cCell(i, i))
      .reduceLeft((a, b) => s"($a * $b)")
    val bs = (0 until p).map { bj =>
      val num = detSql((i, k) => if (k == bj) s"cy$i" else cCell(i, k))
      s"CASE WHEN wc THEN $num / det ELSE 0.0 END AS b${bj + 1}"
    }
    val interceptNum = (0 until p).foldLeft("sy") { (acc, i) =>
      s"$acc - b${i + 1} * s$i"
    }
    s"""sg AS (
       |  SELECT user_id, event_type, count(*) AS n_fit,
       |    ${(singleSums ++ crossSums).mkString(",\n    ")}
       |  FROM fx
       |  WHERE split = 'train' AND $eligible
       |  GROUP BY user_id, event_type),
       |sc AS (
       |  SELECT user_id, event_type, n_fit, ${(0 until p).map(i => s"s$i").mkString(", ")}, sy,
       |    ${centered.mkString(",\n    ")}
       |  FROM sg WHERE n_fit >= ${p + 1}),
       |sd AS (SELECT *, $det AS det FROM sc),
       |sd2 AS (SELECT *, abs(det) > 1e-9 * abs($diagProd) AS wc FROM sd),
       |sb AS (
       |  SELECT user_id, event_type, n_fit, ${(0 until p).map(i => s"s$i").mkString(", ")}, sy, wc,
       |    ${bs.mkString(",\n    ")}
       |  FROM sd2),
       |sp AS (
       |  SELECT user_id, event_type, ${(1 to p).map(i => s"b$i").mkString(", ")},
       |    ($interceptNum) / n_fit AS intercept
       |  FROM sb WHERE wc)""".stripMargin
  }

  val defs: Map[String, QueryDef] = {
    val base = baseDefs
    // pipeline_e2e_routed_auto (round 15, VERDICT r14 item 3): the SAME
    // routed pipeline with the window auto-dispatch FORCED to the
    // chunked scale paths (windowRowsPerTask = 1 makes every key "hot"),
    // registered against the IDENTICAL DuckDB oracle — the dispatch
    // changes plan shape only, never results, and this row is the
    // standing proof. On real skew the probe flips the same switch
    // automatically (tools/SkewWindowCheck exercises that end).
    base + ("pipeline_e2e_routed_auto" -> QueryDef(
      (s, dir) => Pipeline.run(s, Tables.events(s, dir),
        Pipeline.Config(predictor = "routed", modelThreshold = 14,
          windowRowsPerTask = 1L)).trainMetrics,
      base("pipeline_e2e_routed").oracle.get))
  }

  private def baseDefs: Map[String, QueryDef] = Map(

    "pipeline_e2e" -> QueryDef(
      (s, dir) => Pipeline.run(s, Tables.events(s, dir)).trainMetrics,
      s"""WITH $duckF2Ctes,
         |p AS (
         |  SELECT user_id, event_type, actual, pred_f,
         |    CAST(actual AS DECIMAL(17,6)) AS a,
         |    CAST(pred_f AS DECIMAL(17,6)) AS pf
         |  FROM f2 WHERE split = 'train'),
         |g AS (
         |  SELECT user_id, event_type, count(*) AS n,
         |    CAST(sum(CAST((a - pf) * (a - pf) AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
         |    CAST(sum(CAST(a * a AS DECIMAL(38,6))) AS DOUBLE) AS sum_a2,
         |    CAST(sum(a) AS DOUBLE) AS sum_a
         |  FROM p WHERE actual IS NOT NULL AND pred_f IS NOT NULL
         |    AND abs(actual) < 1e11 AND abs(pred_f) < 1e11
         |  GROUP BY user_id, event_type),
         |m AS (
         |  SELECT user_id, event_type,
         |    CASE WHEN sum_a2 - n * (sum_a / n) * (sum_a / n) = 0 THEN -1.0
         |         ELSE 1.0 - ss_res / (sum_a2 - n * (sum_a / n) * (sum_a / n))
         |    END AS R2,
         |    ss_res / n AS MSE,
         |    n AS Samples
         |  FROM g WHERE n >= 2)
         |SELECT m.user_id, m.event_type, m.Samples, m.R2, m.MSE,
         |  coalesce(mt.model_type, 'xgb') AS model_type
         |FROM m LEFT JOIN mt USING (user_id, event_type)""".stripMargin),

    // The TRAINED-predictor pipeline end-to-end: same chain as
    // pipeline_e2e but with Config(predictor = "ar1") — the per-group OLS
    // line is fit on the TRAIN split (x = the ffilled lag, decimal-exact
    // normal equations), applied to every split as round(slope·x +
    // intercept, 2), untrained keys falling back to the naive pred_f —
    // then the A6 metrics grade the result. The oracle re-derives the
    // WHOLE chain (hygiene → split → lag/ffill → fit → apply+fallback →
    // metrics → routing join) independently. Factor casts widen to
    // DECIMAL(19,6) before multiplying: identical values, but DuckDB
    // stores width ≤ 18 in int64 and its scale-6 square overflows past
    // |x| ≈ 3037 (the a15 lesson).
    "pipeline_e2e_ar1" -> QueryDef(
      (s, dir) => Pipeline.run(s, Tables.events(s, dir),
        Pipeline.Config(predictor = "ar1")).trainMetrics,
      s"""WITH $duckF2Ctes,
         |ag AS (
         |  SELECT user_id, event_type, count(*) AS n_fit,
         |    CAST(sum(CAST(pred_f AS DECIMAL(17,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(actual AS DECIMAL(17,6))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(
         |      CAST(CAST(pred_f AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(actual AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(
         |      CAST(CAST(pred_f AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(pred_f AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sxx
         |  FROM f2
         |  WHERE split = 'train' AND pred_f IS NOT NULL AND actual IS NOT NULL
         |    AND abs(pred_f) < 1e11 AND abs(actual) < 1e11
         |  GROUP BY user_id, event_type),
         |am AS (
         |  SELECT user_id, event_type,
         |    CASE WHEN n_fit * sxx - sx * sx = 0 THEN 0.0
         |         ELSE (n_fit * sxy - sx * sy) / (n_fit * sxx - sx * sx)
         |    END AS slope, n_fit, sx, sy
         |  FROM ag),
         |am2 AS (
         |  SELECT user_id, event_type, slope,
         |    (sy - slope * sx) / n_fit AS intercept
         |  FROM am),
         |pr AS (
         |  SELECT f.user_id, f.event_type, f.actual, f.split,
         |    CASE WHEN am2.slope IS NOT NULL
         |         THEN round(am2.slope * f.pred_f + am2.intercept, 2)
         |         ELSE f.pred_f END AS pred_f
         |  FROM f2 f LEFT JOIN am2 USING (user_id, event_type)),
         |p AS (
         |  SELECT user_id, event_type, actual, pred_f,
         |    CAST(actual AS DECIMAL(17,6)) AS a,
         |    CAST(pred_f AS DECIMAL(17,6)) AS pf
         |  FROM pr WHERE split = 'train'),
         |g AS (
         |  SELECT user_id, event_type, count(*) AS n,
         |    CAST(sum(CAST(
         |      CAST(a - pf AS DECIMAL(19,6)) * CAST(a - pf AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
         |    CAST(sum(CAST(
         |      CAST(a AS DECIMAL(19,6)) * CAST(a AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sum_a2,
         |    CAST(sum(a) AS DOUBLE) AS sum_a
         |  FROM p WHERE actual IS NOT NULL AND pred_f IS NOT NULL
         |    AND abs(actual) < 1e11 AND abs(pred_f) < 1e11
         |  GROUP BY user_id, event_type),
         |m AS (
         |  SELECT user_id, event_type,
         |    CASE WHEN sum_a2 - n * (sum_a / n) * (sum_a / n) = 0 THEN -1.0
         |         ELSE 1.0 - ss_res / (sum_a2 - n * (sum_a / n) * (sum_a / n))
         |    END AS R2,
         |    ss_res / n AS MSE,
         |    n AS Samples
         |  FROM g WHERE n >= 2)
         |SELECT m.user_id, m.event_type, m.Samples, m.R2, m.MSE,
         |  coalesce(mt.model_type, 'xgb') AS model_type
         |FROM m LEFT JOIN mt USING (user_id, event_type)""".stripMargin),

    // The ROUTED pipeline end-to-end — the reference's core ML dispatch
    // (train.py:377-394 + :453): each (user_id, event_type) group is
    // scored by ITS routed family — total samples >= 50 → "rnn" (AR(2)
    // here), else "xgb" (one exact GBM round per group,
    // Features.regressionStumpPerGroup) — and the A6 metrics grade the
    // result. The oracle re-derives the ENTIRE chain independently:
    // hygiene → split → lag/ffill ×2 → routing → BOTH family fits (the
    // a16 Cramer AR(2) chain on rnn train rows; the cumulative-decimal
    // stump search with smallest-threshold tie-break on xgb train rows)
    // → per-family apply with the naive untrained fallback → decimal
    // metrics → routing join. Both fits follow the fitAr1 determinism
    // contract (decimal-exact sums, fixed-IEEE-shape finals), so this is
    // a full cross-engine reproduction of routed model FITTING.
    // modelThreshold = 14 (the fixture's median group size) so BOTH
    // families genuinely train and serve at every SF — the default 50
    // routes every group "xgb" on this data and the rnn path would go
    // un-exercised; mtr is the threshold-14 routing table.
    "pipeline_e2e_routed" -> QueryDef(
      (s, dir) => Pipeline.run(s, Tables.events(s, dir),
        Pipeline.Config(predictor = "routed", modelThreshold = 14))
        .trainMetrics,
      s"""WITH $duckF2Ctes,
         |mtr AS (
         |  SELECT user_id, event_type,
         |    CASE WHEN count(*) >= 14 THEN 'rnn' ELSE 'xgb' END AS model_type
         |  FROM kept GROUP BY user_id, event_type),
         |f3 AS (
         |  SELECT *,
         |    last_value(lag2 IGNORE NULLS) OVER (
         |      PARTITION BY user_id, event_type ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x2
         |  FROM (SELECT *, lag(actual, 2) OVER (
         |          PARTITION BY user_id, event_type
         |          ORDER BY ts, event_id) AS lag2 FROM f2)),
         |rt AS (
         |  SELECT f3.*, coalesce(mtr.model_type, 'xgb') AS route
         |  FROM f3 LEFT JOIN mtr USING (user_id, event_type)),
         |rg AS (
         |  -- AR(2) moments on rnn-routed train rows (the a16 chain with
         |  -- x1 = pred_f; factor casts to DECIMAL(19,6): int128 multiply)
         |  SELECT user_id, event_type, count(*) AS n_fit,
         |    CAST(sum(CAST(pred_f AS DECIMAL(17,6))) AS DOUBLE) AS sx1,
         |    CAST(sum(CAST(x2 AS DECIMAL(17,6))) AS DOUBLE) AS sx2,
         |    CAST(sum(CAST(actual AS DECIMAL(17,6))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(
         |      CAST(CAST(pred_f AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(pred_f AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS s11,
         |    CAST(sum(CAST(
         |      CAST(CAST(x2 AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(x2 AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS s22,
         |    CAST(sum(CAST(
         |      CAST(CAST(pred_f AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(x2 AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS s12,
         |    CAST(sum(CAST(
         |      CAST(CAST(pred_f AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(actual AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
         |    CAST(sum(CAST(
         |      CAST(CAST(x2 AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      * CAST(CAST(actual AS DECIMAL(17,6)) AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS s2y
         |  FROM rt
         |  WHERE route = 'rnn' AND split = 'train'
         |    AND pred_f IS NOT NULL AND x2 IS NOT NULL AND actual IS NOT NULL
         |    AND abs(pred_f) < 1e11 AND abs(x2) < 1e11 AND abs(actual) < 1e11
         |  GROUP BY user_id, event_type),
         |rmom AS (
         |  SELECT user_id, event_type, n_fit, sx1, sx2, sy,
         |    n_fit * s11 - sx1 * sx1 AS c11,
         |    n_fit * s22 - sx2 * sx2 AS c22,
         |    n_fit * s12 - sx1 * sx2 AS c12,
         |    n_fit * s1y - sx1 * sy AS cy1,
         |    n_fit * s2y - sx2 * sy AS cy2
         |  FROM rg WHERE n_fit >= 3),
         |rdet AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM rmom),
         |rb AS (
         |  SELECT user_id, event_type, n_fit, sx1, sx2, sy,
         |    CASE WHEN det = 0 THEN 0.0
         |         ELSE (cy1 * c22 - cy2 * c12) / det END AS b1,
         |    CASE WHEN det = 0 THEN 0.0
         |         ELSE (cy2 * c11 - cy1 * c12) / det END AS b2
         |  FROM rdet),
         |rp AS (
         |  SELECT user_id, event_type, b1, b2,
         |    (sy - b1 * sx1 - b2 * sx2) / n_fit AS intercept
         |  FROM rb),
         |sper AS (
         |  -- per-(group, threshold) exact sums on xgb-routed train rows
         |  SELECT user_id, event_type, pred_f AS t, count(*) AS cnt,
         |    CAST(sum(CAST(actual AS DECIMAL(17,6))) AS DECIMAL(38,6)) AS sy
         |  FROM rt
         |  WHERE route = 'xgb' AND split = 'train'
         |    AND pred_f IS NOT NULL AND actual IS NOT NULL
         |    AND abs(pred_f) < 1e11 AND abs(actual) < 1e11
         |  GROUP BY user_id, event_type, pred_f),
         |scum AS (
         |  SELECT user_id, event_type, t,
         |    CAST(sum(cnt) OVER cw AS BIGINT) AS nl,
         |    CAST(sum(sy) OVER cw AS DECIMAL(38,6)) AS sl,
         |    CAST(sum(cnt) OVER pw AS BIGINT) AS n,
         |    CAST(sum(sy) OVER pw AS DECIMAL(38,6)) AS s
         |  FROM sper
         |  WINDOW cw AS (PARTITION BY user_id, event_type ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    pw AS (PARTITION BY user_id, event_type)),
         |scand AS (
         |  SELECT user_id, event_type, t, nl, n - nl AS nr,
         |    CAST(sl AS DOUBLE) AS sld, CAST(s - sl AS DOUBLE) AS srd
         |  FROM scum WHERE nl < n),
         |sbest AS (
         |  SELECT user_id, event_type, t AS threshold,
         |    sld / nl AS left_mean, srd / nr AS right_mean
         |  FROM scand
         |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
         |    ORDER BY -(sld * sld / nl + srd * srd / nr), t) = 1),
         |pr AS (
         |  SELECT r.user_id, r.event_type, r.actual, r.split,
         |    CASE WHEN r.route = 'rnn' AND rp.b1 IS NOT NULL
         |              AND r.x2 IS NOT NULL
         |         THEN round(rp.b1 * r.pred_f + rp.b2 * r.x2
         |                    + rp.intercept, 2)
         |         WHEN r.route = 'xgb' AND sb.threshold IS NOT NULL
         |              AND r.pred_f IS NOT NULL
         |         THEN CASE WHEN r.pred_f <= sb.threshold
         |                   THEN round(sb.left_mean, 2)
         |                   ELSE round(sb.right_mean, 2) END
         |         ELSE r.pred_f END AS pred_f
         |  FROM rt r
         |  LEFT JOIN rp USING (user_id, event_type)
         |  LEFT JOIN sbest sb USING (user_id, event_type)),
         |p AS (
         |  SELECT user_id, event_type, actual, pred_f,
         |    CAST(actual AS DECIMAL(17,6)) AS a,
         |    CAST(pred_f AS DECIMAL(17,6)) AS pf
         |  FROM pr WHERE split = 'train'),
         |g AS (
         |  SELECT user_id, event_type, count(*) AS n,
         |    CAST(sum(CAST(
         |      CAST(a - pf AS DECIMAL(19,6)) * CAST(a - pf AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
         |    CAST(sum(CAST(
         |      CAST(a AS DECIMAL(19,6)) * CAST(a AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sum_a2,
         |    CAST(sum(a) AS DOUBLE) AS sum_a
         |  FROM p WHERE actual IS NOT NULL AND pred_f IS NOT NULL
         |    AND abs(actual) < 1e11 AND abs(pred_f) < 1e11
         |  GROUP BY user_id, event_type),
         |m AS (
         |  SELECT user_id, event_type,
         |    CASE WHEN sum_a2 - n * (sum_a / n) * (sum_a / n) = 0 THEN -1.0
         |         ELSE 1.0 - ss_res / (sum_a2 - n * (sum_a / n) * (sum_a / n))
         |    END AS R2,
         |    ss_res / n AS MSE,
         |    n AS Samples
         |  FROM g WHERE n >= 2)
         |SELECT m.user_id, m.event_type, m.Samples, m.R2, m.MSE,
         |  coalesce(mtr.model_type, 'xgb') AS model_type
         |FROM m LEFT JOIN mtr USING (user_id, event_type)""".stripMargin),

    // The MULTI-FEATURE sequence pipeline end-to-end (round 10): the
    // reference's LSTM consumes a six-feature normalized row per step
    // (train.py:463-492); predictor="seq" narrows that gap with a REAL
    // per-group multi-feature fit — fitLinearPerGroup over the two
    // filled lags plus two exogenous row features (x3 = the J1
    // high-impact day count, x4 = ISO weekday). The F6 impact ordinal
    // is excluded BY CONSTRUCTION: constant inside a (user_id,
    // event_type) group, its centered moments are exactly zero and
    // every normal system would be singular (the LSTM tolerates
    // constant inputs; closed-form OLS cannot — Pipeline.run's seq
    // branch documents the deviation). The oracle re-derives the WHOLE
    // chain — hygiene → split → lag/ffill ×2 → exogenous features →
    // the 4×4 Cramer fit with determinants generated from the SAME
    // Leibniz term order as the Spark side (Features.leibnizDet
    // instantiated once for Columns, once for this SQL — the two
    // engines' IEEE chains cannot drift) → apply+fallback → decimal
    // metrics → routing join.
    "pipeline_e2e_seq" -> QueryDef(
      (s, dir) => Pipeline.run(s, Tables.events(s, dir),
        Pipeline.Config(predictor = "seq")).trainMetrics,
      s"""WITH $duckF2Ctes,
         |f3 AS (
         |  SELECT *,
         |    last_value(lag2 IGNORE NULLS) OVER (
         |      PARTITION BY user_id, event_type ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x2
         |  FROM (SELECT *, lag(actual, 2) OVER (
         |          PARTITION BY user_id, event_type
         |          ORDER BY ts, event_id) AS lag2 FROM f2)),
         |fx AS (
         |  SELECT *,
         |    CAST(count(*) FILTER (WHERE event_type = 'purchase')
         |      OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS DOUBLE)
         |      AS x3,
         |    CAST(isodow(ts) AS DOUBLE) AS x4
         |  FROM f3),
         |$seqFitCtes,
         |pr AS (
         |  SELECT f.user_id, f.event_type, f.actual, f.split,
         |    CASE WHEN sp.b1 IS NOT NULL AND f.x2 IS NOT NULL
         |         THEN round(sp.b1 * f.pred_f + sp.b2 * f.x2
         |                    + sp.b3 * f.x3 + sp.b4 * f.x4
         |                    + sp.intercept, 2)
         |         ELSE f.pred_f END AS pred_f
         |  FROM fx f LEFT JOIN sp USING (user_id, event_type)),
         |p AS (
         |  SELECT user_id, event_type, actual, pred_f,
         |    CAST(actual AS DECIMAL(17,6)) AS a,
         |    CAST(pred_f AS DECIMAL(17,6)) AS pf
         |  FROM pr WHERE split = 'train'),
         |g AS (
         |  SELECT user_id, event_type, count(*) AS n,
         |    CAST(sum(CAST(
         |      CAST(a - pf AS DECIMAL(19,6)) * CAST(a - pf AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
         |    CAST(sum(CAST(
         |      CAST(a AS DECIMAL(19,6)) * CAST(a AS DECIMAL(19,6))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS sum_a2,
         |    CAST(sum(a) AS DOUBLE) AS sum_a
         |  FROM p WHERE actual IS NOT NULL AND pred_f IS NOT NULL
         |    AND abs(actual) < 1e11 AND abs(pred_f) < 1e11
         |  GROUP BY user_id, event_type),
         |m AS (
         |  SELECT user_id, event_type,
         |    CASE WHEN sum_a2 - n * (sum_a / n) * (sum_a / n) = 0 THEN -1.0
         |         ELSE 1.0 - ss_res / (sum_a2 - n * (sum_a / n) * (sum_a / n))
         |    END AS R2,
         |    ss_res / n AS MSE,
         |    n AS Samples
         |  FROM g WHERE n >= 2)
         |SELECT m.user_id, m.event_type, m.Samples, m.R2, m.MSE,
         |  coalesce(mt.model_type, 'xgb') AS model_type
         |FROM m LEFT JOIN mt USING (user_id, event_type)""".stripMargin),

    // The validate-stage normalized feature frame: per row, 'actual'
    // normalized with the REUSED train params (has_train branch; local
    // val-split fallback otherwise), the lag feature with LOCAL val-split
    // params only — the asymmetry is data-visible via the branch columns
    // and the reused_train_params flag. All arithmetic is selections and
    // single IEEE double compositions — bit-equal cross-engine, no sums.
    "pipeline_validate" -> QueryDef(
      (s, dir) => Pipeline.run(s, Tables.events(s, dir)).validateFeatures,
      s"""WITH $duckF2Ctes,
         |va AS (SELECT * FROM f2 WHERE split = 'val'),
         |tp AS (
         |  SELECT user_id, event_type,
         |    coalesce(min(actual), 0.0) AS t_mn,
         |    CASE WHEN max(actual) IS NULL OR max(actual) = min(actual)
         |         THEN 1.0 ELSE max(actual) - min(actual) END AS t_rng,
         |    true AS has_train
         |  FROM f2 WHERE split = 'train' GROUP BY user_id, event_type),
         |j AS (
         |  SELECT va.*, tp.t_mn, tp.t_rng,
         |    coalesce(tp.has_train, false) AS reused_train_params,
         |    min(va.actual) OVER (PARTITION BY va.user_id, va.event_type) AS l_amn,
         |    max(va.actual) OVER (PARTITION BY va.user_id, va.event_type) AS l_amx,
         |    min(va.pred_f) OVER (PARTITION BY va.user_id, va.event_type) AS l_pmn,
         |    max(va.pred_f) OVER (PARTITION BY va.user_id, va.event_type) AS l_pmx
         |  FROM va LEFT JOIN tp USING (user_id, event_type)),
         |g AS (
         |  SELECT *,
         |    CASE WHEN reused_train_params THEN t_mn
         |         ELSE coalesce(l_amn, 0.0) END AS a_mn,
         |    CASE WHEN reused_train_params THEN t_rng
         |         ELSE CASE WHEN l_amx IS NULL OR l_amx = l_amn THEN 1.0
         |                   ELSE l_amx - l_amn END END AS a_rng,
         |    coalesce(l_pmn, 0.0) AS p_mn,
         |    CASE WHEN l_pmx IS NULL OR l_pmx = l_pmn THEN 1.0
         |         ELSE l_pmx - l_pmn END AS p_rng
         |  FROM j)
         |SELECT event_id, actual, pred_f, reused_train_params,
         |  a_mn, a_rng, p_mn, p_rng,
         |  (actual - a_mn) / a_rng AS actual_norm,
         |  (pred_f - p_mn) / p_rng AS pred_norm
         |FROM g""".stripMargin)
  )
}
