package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: per-group calendar resampling with
  * gap-fill — the pandas `groupby(...).resample(...).agg(...).ffill()`
  * shape the reference's calendar pipeline implies (a per-(Currency,
  * Event) series with missing days between economic releases; fastapi
  * model/ML Pipeline/train.py:423-429 sorts + ffills but never
  * regularizes the grid — AR-style lag features silently treat a
  * 3-day gap like a 1-step lag. This operator materializes the even
  * grid those models actually assume).
  *
  * Scale shape (north star = 100 TB):
  *  - the spine is generated PER GROUP with `sequence()` + `explode` —
  *    distributed, never a driver-side calendar loop; output size is
  *    bounded by groups × (span / interval), independent of input row
  *    count within a bucket.
  *  - the daily aggregate and the spine join share the (group, bucket)
  *    key, so AQE coalesces them into one co-partitioned exchange.
  *  - the forward-fill is the standard per-group ordered window — the
  *    same single shuffle every other W-op in this file family uses.
  *
  * Determinism: the per-bucket value sum runs in DECIMAL(17,6) (the A6
  * convention — see Features.regressionMetrics scaladoc) so engines
  * agree bitwise regardless of intra-bucket reduction order.
  */
object Resample {

  /** Per-`keys` daily resample of `valueCol`: one row per (group, day)
    * from the group's first to last day, `day_sum` = decimal-exact sum
    * of that day's values (0 on empty days is NOT assumed — see
    * `filled`), `n_rows` = that day's row count, `is_gap` = no source
    * rows, `filled` = day_sum forward-filled across gaps (a gap day
    * carries the last observed day's total, the pandas
    * `.resample('D').sum(min_count=1).ffill()` semantics).
    */
  def resampleDailyFfill(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String): DataFrame = {
    val kc = keys.map(col)
    val day = to_date(col(tsCol))
    // per-(group, day) pre-aggregate: decimal-exact, map-side combined
    val daily = df
      .groupBy(kc :+ day.as("day"): _*)
      .agg(
        sum(col(valueCol).cast("decimal(17,6)")).cast("double").as("day_sum"),
        count(lit(1)).as("n_rows"))
    // per-group spine: sequence() is evaluated row-wise on the executor
    // holding that group's min/max — no driver calendar materialization
    val spine = df
      .groupBy(kc: _*)
      .agg(min(day).as("d0"), max(day).as("d1"))
      .select(kc :+ explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"): _*)
    val w = Window.partitionBy(kc: _*).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(daily, keys :+ "day", "left")
      .select(kc ++ Seq(
        col("day"),
        col("day_sum"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("day_sum").isNull.as("is_gap"),
        last(col("day_sum"), ignoreNulls = true).over(w).as("filled")): _*)
  }

  /** Linear interpolation onto the daily grid (round 9) — the OTHER
    * regularization [[resampleDailyFfill]]'s step-function fill can't
    * express: at each midnight t between a series' first and last
    * observation,
    *   y(t) = y₀ + (y₁ − y₀) · (t − t₀)/(t₁ − t₀)
    * from the latest observation at-or-before t and the earliest
    * strictly after (the pandas `.resample('D').interpolate('time')`
    * semantics; a grid point landing exactly ON an observation
    * reproduces it, t = t₀). Determinism: timestamps difference in
    * exact integer microseconds, the fraction and blend are ONE fixed
    * IEEE chain on identically-derived doubles — hash-stable.
    *
    * Shape: observations and spine rows UNION into one per-group
    * ordered window pass — prev fields ride a last-ignoreNulls over
    * [start, current]; next fields ride the SAME running-frame shape
    * over the REVERSED ordering ([start, current−1] descending ≡
    * "first strictly after" ascending) — NOT a [current+1, end] frame:
    * Spark evaluates unbounded-FOLLOWING frames by rescanning to the
    * partition end per row, O(n²) per group (measured: 75 s at sf0.1
    * vs 0.4 s for the reversed running frame; running frames are
    * incremental). Observations sort BEFORE the grid point at equal
    * timestamps (the kind column), which is what makes the
    * exactly-on-a-point case exact. One shuffle on the group key; grid
    * rows bounded by groups × span-days. Boundary days with no
    * surrounding pair (before first / after last observation) are
    * dropped, never extrapolated. */
  def interpolateDaily(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val kc = keys.map(col)
    val prevW = Window.partitionBy(kc: _*)
      .orderBy(col("__ts"), col("__kind"), col("__id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // "first observation strictly after" as a RUNNING frame over the
    // reversed ordering — incremental, never the O(n²) rescan an
    // unbounded-FOLLOWING frame costs
    val nextW = Window.partitionBy(kc: _*)
      .orderBy(col("__ts").desc, col("__kind").desc, col("__id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    interpolated(observationsAndDays(df, keys, tsCol, idCol, valueCol)
      .withColumn("__p", last(col("__obs"), ignoreNulls = true).over(prevW))
      .withColumn("__n", last(col("__obs"), ignoreNulls = true).over(nextW)),
      keys)
  }

  /** [[interpolateDaily]] at scale — the chunked skew path. The plain
    * form's running fills over the per-key union frame put a hot key's
    * rows into ONE task (measured 1.35× at 50% skew, BENCH_SF1.md). Here
    * (t0, y0) comes from [[Features.ffillChunked]] (last observation
    * at-or-before) and (t1, y1) from [[Features.bfillChunked]] (first
    * observation at-or-after) over the observation struct, which is NULL
    * on spine rows: at-or-after then equals the plain form's
    * STRICTLY-after frame on every surviving (spine) row — the current
    * row contributes only a null, and an observation at the exact spine
    * instant sorts after the spine row under (ts, kind, id) reversal on
    * both paths. Parallelism is per (key, `bucketMicros` chunk of the
    * timestamp) — monotone by construction, so the chunk guard never
    * fires on well-formed input; results are IDENTICAL to the plain
    * form and the registered row runs against the SAME DuckDB oracle. */
  def interpolateDailyChunked(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      idCol: String,
      valueCol: String,
      bucketMicros: Long = 2592000000000L): DataFrame = {
    require(bucketMicros > 0, s"bad bucketMicros: $bucketMicros")
    val chunk = expr(
      s"floor(unix_micros(CAST(__ts AS TIMESTAMP)) DIV ${bucketMicros}L)")
    val time = Seq("__ts", "__kind", "__id")
    interpolated(
      Features.bfillChunked(
        Features.ffillChunked(
          observationsAndDays(df, keys, tsCol, idCol, valueCol),
          "__obs", keys, time, chunk, "__p"),
        "__obs", keys, time, chunk, "__n"),
      keys)
  }

  /** The per-group union both interpolation forms fill over: observation
    * rows (`__kind` 0, non-null time and value) and one midnight row per
    * day of the group's observed span (`__kind` 1). `__obs` = (t, v) as
    * ONE struct, null exactly on spine rows, so one running fill per
    * direction carries both fields (`last ignoreNulls` skips it whole). */
  private def observationsAndDays(df: DataFrame, keys: Seq[String],
                                  tsCol: String, idCol: String,
                                  valueCol: String): DataFrame = {
    val kc = keys.map(col)
    val pts = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(kc ++ Seq(col(tsCol).as("__ts"), col(idCol).as("__id"),
        col(valueCol).as("__v"), lit(0).as("__kind")): _*)
    val spine = pts.groupBy(kc: _*)
      .agg(min(to_date(col("__ts"))).as("d0"),
        max(to_date(col("__ts"))).as("d1"))
      .select(kc :+ explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"): _*)
      .select(kc ++ Seq(col("day").cast("timestamp_ntz").as("__ts"),
        lit(null).cast("long").as("__id"),
        lit(null).cast("double").as("__v"), lit(1).as("__kind")): _*)
    pts.unionByName(spine)
      .withColumn("__obs", when(col("__kind") === 0,
        struct(col("__ts").as("t"), col("__v").as("v"))))
  }

  /** The spine rows with both neighbours (`__p` before, `__n` after),
    * blended: y0 + (y1 − y0)·(t − t0)/(t1 − t0). */
  private def interpolated(filled: DataFrame, keys: Seq[String]): DataFrame =
    filled
      .filter(col("__kind") === 1 &&
        col("__p").isNotNull && col("__n").isNotNull)
      .select(keys.map(col) ++ Seq(
        col("__ts").as("day"),
        (col("__p.v") + (col("__n.v") - col("__p.v")) *
          ((unix_micros(col("__ts").cast("timestamp")) -
            unix_micros(col("__p.t").cast("timestamp"))).cast("double") /
            (unix_micros(col("__n.t").cast("timestamp")) -
              unix_micros(col("__p.t").cast("timestamp"))).cast("double")))
          .as("y_interp")): _*)
}
