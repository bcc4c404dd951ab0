package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Gaps-and-islands relational patterns — the two classic "SQL is
  * awkward at this" shapes every warehouse eventually needs, as
  * first-class distributed operators. Both are pure window arithmetic on
  * exact values (timestamps/strings/integers), so the cross-engine
  * differential is exact by construction, and both shuffle ONCE on the
  * group key (windows are per-group; no global sort, no driver state).
  */
object Intervals {

  /** Merge overlapping-or-touching intervals per group (the "islands"
    * half of gaps-and-islands): input rows carry [start, end] (end
    * inclusive-or-exclusive is the caller's convention — touching means
    * `start ≤ running_max_end`); output one row per maximal merged
    * island: `(group…, island_id, start, end, n_intervals)` with
    * island_id numbering islands 1..k per group in time order.
    *
    * Algorithm: order by (start, end), running max of `end` over strictly
    * PRECEDING rows; a row whose start exceeds that running max opens a
    * new island; island_id = cumulative sum of open flags — the textbook
    * single-pass window chain (two window functions, one shuffle).
    * Rows with NULL start/end are excluded. Malformed intervals
    * (end < start) fail loud rather than silently merging wrong. */
  def mergeIntervals(df: DataFrame, group: Seq[String], start: Column,
                     end: Column): DataFrame = {
    val gc = group.map(col)
    val base = df.filter(start.isNotNull && end.isNotNull)
      .select((gc :+ start.as("__s") :+ end.as("__e")): _*)
    val w = Window.partitionBy(gc: _*).orderBy(col("__s"), col("__e"))
    val flagged = base
      .withColumn("__bad", col("__e") < col("__s"))
      .withColumn("__prev_max",
        max(col("__e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__prev_max").isNull || col("__s") > col("__prev_max"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("island_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    // fail loud on any malformed interval — assert via a runtime check
    // column that poisons the plan deterministically
    val checked = flagged.withColumn("island_id",
      when(col("__bad"),
        raise_error(concat(lit("mergeIntervals: end < start for start="),
          col("__s").cast("string")))).otherwise(col("island_id")))
    checked
      .groupBy((gc :+ col("island_id")): _*)
      .agg(min(col("__s")).as("start"), max(col("__e")).as("end"),
        count(lit(1)).as("n_intervals"))
  }

  /** Collapse consecutive equal states per group into episodes (the
    * run-length-encoding half): input rows `(group…, order, state)`;
    * output one row per maximal run:
    * `(group…, episode_id, state, n_events, first_ord, last_ord)` with
    * episode_id numbering runs 1..k per group in order. The classic
    * lag-change-flag + cumulative-sum chain — one group-keyed shuffle.
    * NULL states are excluded (a NULL is "no state", not a state). */
  def stateEpisodes(df: DataFrame, group: Seq[String], order: Seq[Column],
                    state: Column): DataFrame = {
    val w = Window.partitionBy(group.map(col): _*).orderBy(order: _*)
    runs(states(df, order, state)
      .withColumn("__chg", changeFlag(w))
      .withColumn("episode_id",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, 0))),
      group)
  }

  /** The non-null states as `__st`, with the order packed as `__ord`. */
  private def states(df: DataFrame, order: Seq[Column],
                     state: Column): DataFrame =
    df.filter(state.isNotNull)
      .withColumn("__st", state)
      .withColumn("__ord", struct(order: _*))

  /** 1 where `__st` differs from the previous row's under `w` (or opens
    * the window), else 0 — the running sum of it numbers the episodes. */
  private def changeFlag(w: WindowSpec): Column =
    when(lag(col("__st"), 1).over(w).isNull ||
      lag(col("__st"), 1).over(w) =!= col("__st"), lit(1L))
      .otherwise(lit(0L))

  /** One row per (group, episode_id, state) run. */
  private def runs(df: DataFrame, group: Seq[String]): DataFrame =
    df.groupBy((group.map(col) :+ col("episode_id") :+
        col("__st").as("state")): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col("__ord")).as("first_ord"), max(col("__ord")).as("last_ord"))

  /** [[stateEpisodes]] at scale — the chunked skew path, an instance of
    * [[Features.chunkScan]]. The plain form's per-group sort window puts
    * a hot key's every row into ONE task (measured 2.02× at 50% skew,
    * BENCH_SF1.md). Here the lag-change chain runs inside each (group,
    * chunk), and episode ids stitch through the per-chunk summary:
    *
    *   continues(c) = chunk c's FIRST state equals chunk c−1's LAST state
    *                  (that run merges across the boundary);
    *   offset(c)    = Σ_{c'<c} (local episodes in c' − continues(c'))
    *                  − continues(c)
    *   global_id    = local_id + offset(c)
    *
    * A run spanning chunks lands the SAME (group, global_id, state) on
    * both sides, so the final aggregate merges it exactly — results are
    * IDENTICAL to the plain form (registered against the SAME oracle).
    * `chunk` must be monotone in `order.head`. */
  def stateEpisodesChunked(df: DataFrame, group: Seq[String],
                           order: Seq[Column], state: Column,
                           chunk: Column): DataFrame = {
    runs(Features.chunkScan(states(df, order, state), "stateEpisodesChunked",
        "__sec", group, Seq(col("__ord")), "order.head", chunk)(
      w => Seq("__chg" -> changeFlag(w),
        "__eid_loc" -> sum(col("__chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))),
      Seq(min_by(col("__st"), col("__ord")).as("__first_st"),
        max_by(col("__st"), col("__ord")).as("__last_st"),
        max(col("__eid_loc")).as("__n_loc")),
      w => Seq(
        "__cont" -> when(lag(col("__last_st"), 1).over(w) <=>
          col("__first_st"), lit(1L)).otherwise(lit(0L)),
        "__off" -> (coalesce(sum(col("__n_loc") - col("__cont"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) -
          col("__cont"))))
      .withColumn("episode_id", col("__eid_loc") + col("__off")), group)
  }
}
