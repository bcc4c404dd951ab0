package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The reference's per-(Currency,Event) time-series feature operators
  * re-expressed as Spark window/aggregate transforms (SURVEY.md §2e).
  *
  * Generic in the entity-key / time columns so the same operators run over
  * the reference `events` schema and the driver test `events` table
  * (FIXTURES.md §B mapping: user_id→Currency, event_type→Event, ts→EventTime,
  * value→Actual_numeric).
  *
  * Scale notes (north star = 100 TB):
  *  - every operator here partitions by the entity key, so one upstream
  *    `repartition(key)` co-locates all of W1-W4/A5/A6 into a single
  *    exchange; Catalyst reuses the hash partitioning across the stages.
  *  - [[chronoSplit]] in exact form needs one global window (the reference's
  *    row-positional 70/15/15, train.py:131-153); [[chronoSplitApprox]] is
  *    the scale path (distributed percent_rank, no single-partition stage).
  */
object Features {

  /** w := Window.partitionBy(key).orderBy(time) — the pipeline's universal
    * window (train.py:423: sort_values([Currency,Event,DateTime])). */
  def keyWindow(key: Seq[String], time: Seq[String]): WindowSpec =
    Window.partitionBy(key.map(col): _*).orderBy(time.map(col): _*)

  /** W1 — lag-1 of `c` per group (train.py:424-425 groupby().shift(1)). */
  def lag1(c: Column, w: WindowSpec): Column = lag(c, 1).over(w)

  /** W2 — forward-fill: last non-null at or before the current row
    * (train.py:428-429 groupby().ffill()). */
  def ffill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, 0))

  /** W2 — backward-fill: first non-null at or after the current row.
    *
    * Implemented as a REVERSED RUNNING frame — `last ignoreNulls` over
    * `[unboundedPreceding, current]` with every sort key flipped
    * (asc nulls-first → desc nulls-last: an EXACT order reversal when
    * `time` ends in a unique tiebreak, which every caller's
    * (ts, event_id) does) — NOT the literal
    * `first over [current, unboundedFollowing]`: Spark evaluates a
    * shrinking following-frame by re-aggregating the remaining rows for
    * EVERY row, O(n²) per window partition. Fine at a few hundred rows
    * per key; unbounded on a skewed hot key (the round-14 skew fixture
    * — one key holding 50% of 1M rows — HUNG the literal form, while
    * the running frame accumulates incrementally in O(n)). Takes
    * (key, time) rather than a WindowSpec because a spec cannot be
    * order-reversed after construction. */
  def bfill(c: Column, key: Seq[String], time: Seq[String]): Column =
    last(c, ignoreNulls = true).over(
      Window.partitionBy(key.map(col): _*)
        .orderBy(time.map(t => col(t).desc_nulls_last): _*)
        .rowsBetween(Window.unboundedPreceding, 0))

  // ------------------------------------------------------------------
  // CHUNKED order-dependent windows — the skew scale path. A per-key
  // window puts EVERY row of a key into ONE task; salting is unsound for
  // sequence semantics (lag/ffill need row adjacency), so a hot key (one
  // currency holding half the corpus — the measured 1.8-2.4x straggler
  // in BENCH_SF1.md's skew table, unboundedly worse at 100 TB) is the
  // one shape the plain forms cannot absorb. Every chunked form is one
  // instance of [[chunkScan]]; results are IDENTICAL to the plain forms
  // on any input — pinned by spec equality and by registering the
  // chunked rows against the SAME DuckDB oracles as their plain twins.

  /** The chunk-stitch combinator: a scan whose carry is associative
    * (Blelloch, "Prefix Sums and Their Applications", 1990), split by a
    * CONTIGUOUS chunk of the order so parallelism is per (key, chunk)
    * instead of per key:
    *
    *  1. `local` adds its window columns inside each (key, chunk), over
    *     the given (unframed) order window;
    *  2. `summary` aggregates each (key, chunk) to one row — C rows per
    *     key, so everything after it is trivially small;
    *  3. `carry` adds its columns over that summary, in chunk order (the
    *     scan direction; its last column is the carry) — each chunk's
    *     carry combines STRICTLY EARLIER chunks only;
    *  4. the carry joins back onto the rows null-safely.
    *
    * Returns the frame with the local columns and the carry appended.
    * `reverse` scans both the rows and the chunks backwards (asc
    * nulls-first flips to desc nulls-last: an exact reversal when the
    * order ends in a unique tiebreak).
    *
    * Guard: `chunk` must be MONOTONE in `order.head` (contiguous ranges;
    * a hash would interleave rows and silently corrupt the carries). In
    * ascending chunk order, an earlier chunk's max `order.head` that
    * reaches a later chunk's min raises a descriptive error. Null
    * intervals (all-null time) never fire. The check is `>=`, not `>`:
    * a shared boundary instant means one `order.head` value sits in two
    * chunks, which only a chunk that is not a function of it can produce
    * — and then the plain order's tiebreak may interleave the tied rows
    * across chunks. A chunk computed from `order.head` (every registered
    * caller: month, day, floor(t/w)) can never trip it.
    *
    * Join-back: the plain forms treat a NULL key or chunk value as a
    * real partition, and an equi-join never matches null = null, so
    * every join key is `<=>` (the [[ewmaBucketed]] posture). The join
    * strategy stays with Catalyst/AQE: the summary is broadcast-small
    * for a skewed few-key corpus, and the shuffled join is fine either
    * way (`<=>` still hashes as an equi-join key).
    *
    * Not instances: [[ewmaBucketed]] (a band join over a global row
    * index) and [[rangeMovingAggBucketed]] (prefix sums over densified
    * buckets) carry no running value across chunks. */
  private[operators] def chunkScan(df: DataFrame, op: String, tag: String,
                                   key: Seq[String], order: Seq[Column],
                                   timeName: String, chunk: Column,
                                   reverse: Boolean = false)(
      local: WindowSpec => Seq[(String, Column)],
      summary: Seq[Column],
      carry: WindowSpec => Seq[(String, Column)]): DataFrame = {
    val CHU = s"${tag}_chunk"
    val kc = key.map(col)
    def add(d: DataFrame, cs: Seq[(String, Column)]): DataFrame =
      cs.foldLeft(d) { case (acc, (n, c)) => acc.withColumn(n, c) }
    val scanOrder = if (reverse) order.map(_.desc_nulls_last) else order
    val loc = add(df.withColumn(CHU, chunk),
      local(Window.partitionBy((kc :+ col(CHU)): _*).orderBy(scanOrder: _*)))
    val wOrd = Window.partitionBy(kc: _*).orderBy(col(CHU))
    val steps = carry(Window.partitionBy(kc: _*)
      .orderBy(if (reverse) col(CHU).desc_nulls_last else col(CHU)))
    val CAR = steps.last._1
    val prevMax = max(col("__tmax"))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val carries = add(loc.groupBy((kc :+ col(CHU)): _*).agg(
        min(order.head).as("__tmin"), summary :+ max(order.head).as("__tmax"): _*),
      steps)
      .withColumn(CAR, when(prevMax >= col("__tmin"),
        raise_error(concat(
          lit(s"$op: chunk is not monotone in `$timeName` — chunk "),
          col(CHU).cast("string"),
          lit(s"'s $timeName range overlaps an earlier chunk's; a " +
            "non-monotone chunk expression (e.g. a hash) would silently " +
            "corrupt the boundary carries"))))
        .otherwise(col(CAR)))
      .select((kc :+ col(CHU) :+ col(CAR)): _*)
    val l = loc.alias("__cl"); val r = carries.alias("__cr")
    l.join(r, (key :+ CHU).map(k => col(s"__cl.$k") <=> col(s"__cr.$k"))
        .reduce(_ && _), "left")
      .select(loc.columns.filter(_ != CHU).map(c => col(s"__cl.$c")) :+
        col(s"__cr.$CAR").as(CAR): _*)
  }

  /** The running-last instance of [[chunkScan]]: `last(in, ignoreNulls)`
    * over `[unboundedPreceding, upTo]` inside each chunk; the carry is
    * the nearest earlier chunk's non-null tail; out = coalesce(local,
    * carry). */
  private def runningLast(df: DataFrame, op: String, tag: String,
                          in: Column, key: Seq[String], time: Seq[String],
                          chunk: Column, outName: String,
                          reverse: Boolean = false,
                          upTo: Long = 0L): DataFrame = {
    val (loc, car) = (s"${tag}_local", s"${tag}_carry")
    val tailOrd = when(in.isNotNull, struct(time.map(col): _*))
    chunkScan(df, op, tag, key, time.map(col), time.head, chunk, reverse)(
      w => Seq(loc -> last(in, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, upTo))),
      Seq((if (reverse) min_by(in, tailOrd) else max_by(in, tailOrd))
        .as("__tail")),
      w => Seq(car -> last(col("__tail"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))))
      .withColumn(outName, coalesce(col(loc), col(car))).drop(loc, car)
  }

  /** Chunked W2 forward-fill: last non-null at or before each row, with
    * per-key parallelism bounded by chunks ([[chunkScan]]). Returns the
    * frame with `outName` appended. */
  def ffillChunked(df: DataFrame, c: String, key: Seq[String],
                   time: Seq[String], chunk: Column,
                   outName: String): DataFrame =
    runningLast(df, "ffillChunked", "__ffc", col(c), key, time, chunk,
      outName)

  /** Chunked W2 backward-fill: [[ffillChunked]] with the row order and
    * the chunk order reversed ([[bfill]]'s running frame). */
  def bfillChunked(df: DataFrame, c: String, key: Seq[String],
                   time: Seq[String], chunk: Column,
                   outName: String): DataFrame =
    runningLast(df, "bfillChunked", "__bfc", col(c), key, time, chunk,
      outName, reverse = true)

  /** W10 at scale — EXACT trailing time-RANGE rolling (count, sum) with
    * skew bounded by rows-per-(key, bucket) instead of rows-per-key.
    *
    * The naive form (`sum/count over rangeBetween(−W, current)`) is the
    * one frame shape Spark evaluates by RE-AGGREGATING the rows in
    * range for every row — O(n·w) inside a single task per key, which
    * the round-14 skew fixture measured as an outright hang on a
    * 500k-row hot key (BENCH_SF1.md). This form decomposes the closed
    * frame [ts−W, ts] exactly:
    *
    *   C(t) = count{ts' ≤ t}  per key (and S(t) likewise for sums)
    *   out(e) = C(ts_e) − C(ts_e − W − 1µs)
    *
    * with C(t) = P(bucket(t) − 1) + rcWithin(t), where
    *  - rcWithin: a GROWING range frame inside each (key, bucket)
    *    partition (incremental in Spark, peers-by-value like the plain
    *    RANGE frame — equal timestamps share the value);
    *  - P: per-key prefix sums over a DENSIFIED bucket-partial table
    *    (≤ span/bucket rows per key — window cost is trivial and gap
    *    buckets contribute their zeros);
    *  - the lower boundary C(q), q = ts−W−1, resolves through ONE
    *    backward as-of join keyed (key, bucket(q)) that fetches the
    *    running pair at the latest event ≤ q in q's bucket — the as-of
    *    union-window partitions by (key, bucket) too.
    *
    * Null-timestamp rows reproduce the plain frame's null-peer-group
    * semantics for free: their bucket is null, the in-bucket range
    * frame makes all null-ts rows peers (out = the peer-group totals),
    * and every cross-bucket lookup misses to 0.
    *
    * Cost: ~4 shuffles and three small joins vs the naive form's one
    * shuffle — the price of turning an unbounded per-key straggler into
    * max-rows-per-(key, bucket) parallelism. Exactness vs the plain
    * form is pinned by spec and by registering the daily row against
    * the SAME DuckDB oracle. `tsMicros` must be epoch micros ≥ −2⁶²
    * (floor-division guarded for negatives); `valueMicros` non-null.
    *
    * Span guard (round 15): the dense prefix EXPLODES one row per
    * bucket in each key's [min, max] bucket range — a single corrupt
    * timestamp (year 9999 at day buckets) would inflate a key to
    * millions of prefix rows or trip Spark's sequence length limit.
    * Any key whose span exceeds `maxSpanBuckets` (default 200k ≈ 550
    * years of day buckets) fails LOUD; widen deliberately or repair
    * the timestamps upstream. */
  def rangeMovingAggBucketed(df: DataFrame, key: Seq[String],
                             tsMicros: String, valueMicros: String,
                             windowMicros: Long,
                             bucketMicros: Long = 86400000000L,
                             outCnt: String = "n_w",
                             outSum: String = "sum_w",
                             maxSpanBuckets: Long = 200000L): DataFrame = {
    require(windowMicros >= 0 && bucketMicros > 0,
      s"bad window/bucket: $windowMicros/$bucketMicros")
    require(maxSpanBuckets > 0, s"bad maxSpanBuckets: $maxSpanBuckets")
    val B = bucketMicros
    val DAY = "__rma_day"; val RC = "__rma_rc"; val RS = "__rma_rs"
    // NULL-key rows take the PLAIN frame and union back (round 15): the
    // decomposition's prefix/anchor equi-joins (and the as-of boundary
    // lookup) never match null keys, so a null-key partition silently
    // lost all cross-bucket history — diverging from the plain window,
    // whose partitionBy treats null as a real group, and breaking the
    // 'oracle-identical either way' contract rangeMovingAggAuto rests
    // on. Null keys form at most one partition per null pattern, which
    // is exactly what the plain form computes for them anyway.
    val nullKey = key.map(col(_).isNull).reduce(_ || _)
    val nullKeyOut = rangeMovingAgg(df.filter(nullKey), key, tsMicros,
      valueMicros, windowMicros, outCnt, outSum)
    def fdiv(e: String): String =
      s"IF(($e) >= 0, ($e) DIV $B, -(((-($e)) + $B - 1) DIV $B))"
    val ev = df.filter(!nullKey).withColumn(DAY, expr(fdiv(tsMicros)))
    val wIn = Window.partitionBy((key :+ DAY).map(col): _*)
      .orderBy(col(tsMicros))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val withRc = ev
      .withColumn(RC, count(lit(1)).over(wIn))
      .withColumn(RS, sum(col(valueMicros)).over(wIn))
      .localCheckpoint(eager = false) // feeds the agg, the as-of build,
                                      // and the output frame
    val dayAgg = withRc.groupBy((key :+ DAY).map(col): _*)
      .agg(count(lit(1)).as("__rma_cnt"), sum(col(valueMicros)).as("__rma_sum"))
    val bounds = dayAgg.filter(col(DAY).isNotNull)
      .groupBy(key.map(col): _*)
      .agg(min(col(DAY)).as("__rma_d0"), max(col(DAY)).as("__rma_d1"))
      // loud span guard BEFORE the explode (see scaladoc): |keys| rows,
      // evaluated per key, zero cost
      .withColumn("__rma_d1",
        when(col("__rma_d1") - col("__rma_d0") > lit(maxSpanBuckets),
          raise_error(concat(
            lit("rangeMovingAggBucketed: a key's bucket span "),
            (col("__rma_d1") - col("__rma_d0")).cast("string"),
            lit(s" exceeds maxSpanBuckets=$maxSpanBuckets — a corrupt/" +
              "outlier timestamp would explode the dense prefix; repair " +
              "upstream or widen maxSpanBuckets deliberately"))))
          .otherwise(col("__rma_d1")))
    val prefix = bounds
      .select(key.map(col) :+
        explode(sequence(col("__rma_d0"), col("__rma_d1"))).as(DAY): _*)
      .join(dayAgg, key :+ DAY, "left")
      .na.fill(0L, Seq("__rma_cnt", "__rma_sum"))
      .withColumn("__rma_pc", sum(col("__rma_cnt")).over(
        Window.partitionBy(key.map(col): _*).orderBy(col(DAY))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__rma_ps", sum(col("__rma_sum")).over(
        Window.partitionBy(key.map(col): _*).orderBy(col(DAY))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(key.map(col) :+ col(DAY) :+ col("__rma_pc") :+ col("__rma_ps"): _*)

    // upper anchor: P(bucket(ts) − 1) — a left equi-join against the
    // dense prefix (miss = before the key's first bucket = 0)
    val upper = withRc
      .withColumn("__rma_pd", col(DAY) - 1)
      .join(prefix.select(key.map(col) :+ col(DAY).as("__rma_pd") :+
          col("__rma_pc").as("__rma_pcU") :+ col("__rma_ps").as("__rma_psU"): _*),
        key :+ "__rma_pd", "left")
      .drop("__rma_pd")

    // lower anchor at q = ts − W − 1: P(bucket(q) − 1) equi-join + the
    // within-bucket as-of for the running pair at the latest event ≤ q
    val q = s"($tsMicros - ${windowMicros}L - 1L)"
    val lowered = upper
      .withColumn("__rma_q", expr(q))
      .withColumn("__rma_dq", expr(fdiv(q)))
      .withColumn("__rma_pdq", col("__rma_dq") - 1)
      .join(prefix.select(key.map(col) :+ col(DAY).as("__rma_pdq") :+
          col("__rma_pc").as("__rma_pcL") :+ col("__rma_ps").as("__rma_psL"): _*),
        key :+ "__rma_pdq", "left")
      .drop("__rma_pdq")
    val build = withRc.select(
      key.map(col) :+ col(DAY).as("__rma_dq") :+
        col(tsMicros).as("__rma_bts") :+ col(RC).as("__rma_rcq") :+
        col(RS).as("__rma_rsq"): _*)
    val probed = AsOfJoin.backward(lowered, build, key :+ "__rma_dq",
      tsColLeft = "__rma_q", tsColRight = "__rma_bts",
      rightPayload = Seq("__rma_rcq", "__rma_rsq"))

    probed
      .withColumn(outCnt,
        coalesce(col("__rma_pcU"), lit(0L)) + col(RC) -
          coalesce(col("__rma_pcL"), lit(0L)) - coalesce(col("__rma_rcq"), lit(0L)))
      .withColumn(outSum,
        coalesce(col("__rma_psU"), lit(0L)) + col(RS) -
          coalesce(col("__rma_psL"), lit(0L)) - coalesce(col("__rma_rsq"), lit(0L)))
      .drop(DAY, RC, RS, "__rma_pcU", "__rma_psU", "__rma_q", "__rma_dq",
        "__rma_pcL", "__rma_psL", "__rma_bts", "__rma_rcq", "__rma_rsq")
      .unionByName(nullKeyOut)
  }

  /** Chunked W1 lag-1: the running-last of the never-null `struct(c)`
    * over `[unboundedPreceding, −1]`, then its field — a null value is
    * carried verbatim, exactly as `lag` does ([[chunkScan]]). */
  def lag1Chunked(df: DataFrame, c: String, key: Seq[String],
                  time: Seq[String], chunk: Column,
                  outName: String): DataFrame =
    runningLast(df, "lag1Chunked", "__lgc", struct(col(c).as("x")), key,
      time, chunk, outName, upTo = -1L)
      .withColumn(outName, col(outName)("x"))

  // ------------------------------------------------------------------
  // AUTO-DISPATCH (round 15, completing VERDICT r14 item 3 beyond the
  // pipeline): every order-dependent operator with a registered scale
  // twin gets a probe-routed entry — ONE cheap per-key row-count
  // aggregate decides plain (one shuffle, one task per key) vs the
  // chunked/bucketed decomposition (more shuffles, parallelism bounded
  // by rows-per-(key, chunk)). Results are oracle-identical either way
  // (the twins share DuckDB oracles verbatim), so the switch is purely
  // a plan choice from a measured statistic. The probe is a driver-side
  // stats action (the approx-split boundary-scan class); callers with
  // an existing per-key aggregate should fold it in instead (the
  // Pipeline does — its A4 frame carries n_rows for free).

  /** The probe: rows held by the hottest key. Empty input → 0. */
  def maxKeyRows(df: DataFrame, key: Seq[String]): Long = {
    val r = df.groupBy(key.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Default rows-per-task bound shared by every auto entry: what one
    * window task absorbs comfortably (the Pipeline's Config default). */
  val DefaultRowsPerTask: Long = 4000000L

  def lag1Auto(df: DataFrame, c: String, key: Seq[String],
               time: Seq[String], chunk: Column, outName: String,
               rowsPerTask: Long = DefaultRowsPerTask): DataFrame =
    if (maxKeyRows(df, key) > rowsPerTask)
      lag1Chunked(df, c, key, time, chunk, outName)
    else df.withColumn(outName, lag1(col(c), keyWindow(key, time)))

  def ffillAuto(df: DataFrame, c: String, key: Seq[String],
                time: Seq[String], chunk: Column, outName: String,
                rowsPerTask: Long = DefaultRowsPerTask): DataFrame =
    if (maxKeyRows(df, key) > rowsPerTask)
      ffillChunked(df, c, key, time, chunk, outName)
    else df.withColumn(outName, ffill(col(c), keyWindow(key, time)))

  def bfillAuto(df: DataFrame, c: String, key: Seq[String],
                time: Seq[String], chunk: Column, outName: String,
                rowsPerTask: Long = DefaultRowsPerTask): DataFrame =
    if (maxKeyRows(df, key) > rowsPerTask)
      bfillChunked(df, c, key, time, chunk, outName)
    else df.withColumn(outName, bfill(col(c), key, time))

  /** The plain sliding-RANGE trailing (count, sum) — the w10 frame shape
    * as a function, so [[rangeMovingAggAuto]] can route to it. O(n·w)
    * re-aggregation in ONE task per key (Spark's sliding-frame
    * evaluation) — fine at bounded keys, the documented hang under a
    * hot one. */
  def rangeMovingAgg(df: DataFrame, key: Seq[String], tsMicros: String,
                     valueMicros: String, windowMicros: Long,
                     outCnt: String = "n_w",
                     outSum: String = "sum_w"): DataFrame = {
    // same validation as the bucketed twin, so rangeMovingAggAuto fails
    // the SAME way on a bad window whichever route the skew probe picks
    require(windowMicros >= 0, s"bad window: $windowMicros")
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(tsMicros))
      .rangeBetween(-windowMicros, Window.currentRow)
    df.withColumn(outCnt, count(lit(1)).over(w))
      .withColumn(outSum, sum(col(valueMicros)).over(w))
  }

  def rangeMovingAggAuto(df: DataFrame, key: Seq[String], tsMicros: String,
                         valueMicros: String, windowMicros: Long,
                         bucketMicros: Long = 86400000000L,
                         outCnt: String = "n_w", outSum: String = "sum_w",
                         rowsPerTask: Long = DefaultRowsPerTask): DataFrame =
    if (maxKeyRows(df, key) > rowsPerTask)
      rangeMovingAggBucketed(df, key, tsMicros, valueMicros, windowMicros,
        bucketMicros, outCnt, outSum)
    else rangeMovingAgg(df, key, tsMicros, valueMicros, windowMicros,
      outCnt, outSum)

  def ewmaAuto(df: DataFrame, group: Seq[String], order: Seq[String],
               valueCol: String, alpha: Double, maxLag: Int,
               rowsPerTask: Long = DefaultRowsPerTask): DataFrame =
    if (maxKeyRows(df, group) > rowsPerTask)
      ewmaBucketed(df, group, order, valueCol, alpha, maxLag)
    else ewma(df, group, order.map(col), col(valueCol), alpha, maxLag)

  /** W3/A5 — per-group min-max normalization with the reference's guards
    * (train.py:122-129 normalize_feature): all-NaN group → zeros with
    * (mn,rng)=(0,1); zero range → rng=1. Returns (normalized, mn, rng).
    * Uses frame-unbounded window aggregates — no join, single shuffle on
    * the group key shared with the other window ops. */
  def minMaxNormalize(c: Column, key: Seq[String]): (Column, Column, Column) = {
    val frame = Window.partitionBy(key.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val mnRaw = min(c).over(frame)
    val mxRaw = max(c).over(frame)
    val mn = coalesce(mnRaw, lit(0.0))
    val rng = when(mxRaw.isNull || mxRaw === mnRaw, lit(1.0)).otherwise(mxRaw - mnRaw)
    val normalized = when(mnRaw.isNull, lit(0.0)).otherwise((c - mn) / rng)
    (normalized, mn, rng)
  }

  /** F11 — inverse of [[minMaxNormalize]]: x*rng + mn (train.py:244-248). */
  def denormalize(x: Column, mn: Column, rng: Column): Column = x * rng + mn

  /** A5 as a SIDE TABLE: per-key (mn, rng) with the reference's guards
    * (all-null → (0,1); zero range → rng 1) — the aggregation-shaped twin
    * of [[minMaxNormalize]]'s window form, for when the params are
    * persisted/joined rather than applied in place (train.py:467-477).
    * Single source of truth: Pipeline.run's norm-param artifact and the
    * snk6 versioned-artifact query both call this, so the guard semantics
    * can never drift between them. */
  def normParams(df: DataFrame, key: Seq[String], value: Column): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(min(value).as("mn_raw"), max(value).as("mx_raw"))
      .withColumn("mn", coalesce(col("mn_raw"), lit(0.0)))
      .withColumn("rng",
        when(col("mx_raw").isNull || col("mx_raw") === col("mn_raw"), lit(1.0))
          .otherwise(col("mx_raw") - col("mn_raw")))
      .select((key.map(col) :+ col("mn") :+ col("rng")): _*)

  /** A1+J1 — count of high-impact rows per (dim, date), attached to every
    * row. The reference computes a groupBy().size() and left-joins it back
    * (train.py:419-422); a conditional window count gives the identical
    * result with no join and no second shuffle of the fact table. */
  def highImpactCount(isHigh: Column, dim: String, dateCol: Column): Column =
    count(when(isHigh, lit(1)))
      .over(Window.partitionBy(col(dim), dateCol)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))

  /** A1 under key skew — two-stage salted aggregation: partial counts per
    * (key, salt) bucket, then a final sum per key. For algebraic aggregates
    * Spark's map-side combine already handles skew; the salted shape is
    * the template for the cases it can't — non-algebraic aggs
    * (collect_list, exact distinct) and skewed shuffle keys — where a hot
    * key would otherwise land on one reducer. Salt is a deterministic
    * hash bucket of `saltSrc`, so results are reproducible. */
  def twoStageSaltedCount(df: DataFrame, keys: Seq[String], saltSrc: Column,
                          saltBuckets: Int): DataFrame = {
    val keyCols = keys.map(col)
    df.withColumn("__salt", pmod(xxhash64(saltSrc), lit(saltBuckets)))
      .groupBy((keyCols :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__partial")).as("cnt"))
  }

  /** Hot keys of `df`: keys whose (optionally sampled) row count exceeds
    * `rowBudget` — the detection half of the hot-key pre-split the keyed
    * window operators need (a key's whole row set serializes into ONE
    * task's sort under `Window.partitionBy(key)`; see
    * [[graft.operators.AsOfJoin.backwardPreSplit]] for the split half).
    *
    * The detection pass is itself skew-immune: count is algebraic, so the
    * hot key contributes one partial row per map partition regardless of
    * its size. The result is small by definition (at most total/rowBudget
    * keys can exceed the budget) — broadcast it. `sampleFraction < 1`
    * trades a full (narrow, map-side-combined) pass for a sampled one;
    * the budget scales with the fraction, so keep `rowBudget ×
    * sampleFraction` comfortably above sampling noise (≳ 100). Sampling
    * is seeded — detection is deterministic run-to-run. */
  def hotKeys(df: DataFrame, keys: Seq[String], rowBudget: Long,
              sampleFraction: Double = 1.0): DataFrame = {
    require(rowBudget >= 1, s"rowBudget must be >= 1, got $rowBudget")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val base = if (sampleFraction >= 1.0) df
               else df.sample(withReplacement = false, sampleFraction, seed = 42L)
    base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > lit(rowBudget) * lit(sampleFraction))
      .select(keys.map(col): _*)
  }

  /** J5+A3 — group-mean imputation: NULL → mean over the group, groups with
    * no non-null values → 0.0 (train.py:347-357 fill_missing). Window form —
    * the reference's dict-lookup join is unnecessary in Spark. */
  def imputeGroupMean(c: Column, key: Seq[String]): Column = {
    val frame = Window.partitionBy(key.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    coalesce(c, avg(c).over(frame), lit(0.0))
  }

  /** A2 — model routing: total samples per key, >=threshold → "rnn" else
    * "xgb" (train.py:377-389). */
  def modelRouting(df: DataFrame, key: Seq[String], threshold: Int = 50): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("total_samples"))
      .withColumn("model_type", modelRoute(col("total_samples"), threshold))

  /** The A2 routing rule on a per-key sample count — shared by
    * [[modelRouting]] and callers that already hold the count (the
    * Pipeline derives routing from its A4 key statistics). */
  def modelRoute(totalSamples: Column, threshold: Int): Column =
    when(totalSamples >= threshold, lit("rnn")).otherwise(lit("xgb"))

  /** W5 — exact chronological 70/15/15 row-positional split
    * (train.py:131-153): sort by time, first floor(n*0.7) rows → train,
    * next floor(n*0.15) → val, remainder → test.
    * The boundaries are computed in DOUBLE, as the reference's Python
    * floats compute them: at n = 2800, 2800·0.7 = 1959.9999999999998, so
    * train holds 1959 rows, not the 1960 that decimal arithmetic gives.
    * The registered oracles type the product DOUBLE to match.
    * NOTE: exact row positions require one global window — fine at test
    * scale; use [[chronoSplitApprox]] at cluster scale. */
  def chronoSplit(df: DataFrame, order: Seq[String],
                  trainRatio: Double = 0.7, valRatio: Double = 0.15): DataFrame = {
    val w = Window.orderBy(order.map(col): _*)
    // Both window functions share one (partition, order) spec, so Catalyst
    // plans a SINGLE WindowExec — one sort, one single-partition exchange.
    // (An orderless count(*) OVER () spec would add a second full global
    // window pass; that was round 3's pipeline_e2e regression.)
    df.withColumn("rn", row_number().over(w))
      .withColumn("n_total", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("split",
        when(col("rn") <= floor(col("n_total") * trainRatio), lit("train"))
          .when(col("rn") <= floor(col("n_total") * trainRatio) +
            floor(col("n_total") * valRatio), lit("val"))
          .otherwise(lit("test")))
      .drop("rn", "n_total")
  }

  /** W5 at scale — percentile-based chronological split: two passes
    * (approxQuantile on the time column, then a stateless filter), no
    * global sort, no single-partition window. Split boundaries are time
    * values rather than exact row positions; at 100 TB the difference is
    * noise and the plan stays embarrassingly parallel. */
  def chronoSplitApprox(df: DataFrame, timeCol: String,
                        trainRatio: Double = 0.7, valRatio: Double = 0.15,
                        relErr: Double = 1e-4): DataFrame = {
    val qs = df
      .select(unix_micros(col(timeCol).cast("timestamp")).cast("double").as("t"))
      .stat.approxQuantile("t", Array(trainRatio, trainRatio + valRatio), relErr)
    qs match {
      case Array(tTrain, tVal) =>
        val t = unix_micros(col(timeCol).cast("timestamp")).cast("double")
        df.withColumn("split",
          when(t <= tTrain, lit("train")).when(t <= tVal, lit("val")).otherwise(lit("test")))
      case _ =>
        // Empty/all-null time column: approxQuantile returns no quantiles.
        // Everything is "train" (vacuously satisfies the 70% bound), no crash.
        df.withColumn("split", lit("train"))
    }
  }

  /** Distributed EXACT global row numbering — the two-pass prefix-rank
    * that removes the single-partition global window while keeping
    * row-positional semantics identical: (1) range-repartition +
    * in-partition sort on `order` (one shuffle; each partition holds a
    * contiguous, sorted key range), lazily checkpointed so both passes
    * share one sort; (2) a tiny job collects per-partition row counts —
    * the O(partitions) driver-side prefix sum, whose total is the global
    * count for free — then a map-only pass offsets each partition's local
    * index (the [[graft.operators.Packing.chunkPackGlobal]] machinery
    * with row counts in place of token sums). The RDD hop is the honest
    * plan: no window/exchange shape expresses "offset each partition by
    * the sizes of those before it". `order` MUST be a total order
    * (include a unique tiebreak); boundary ties under a partial order
    * would make ranks depend on where the range partitioner cut. */
  def withGlobalRowNumber(df: DataFrame, order: Seq[String],
                          rnCol: String = "rn",
                          numPartitions: Int = 0): DataFrame =
    indexedByRange(df, order, rnCol, numPartitions)._1

  /** [[withGlobalRowNumber]] plus the total row count the size job
    * already paid for — callers needing both (the W5 split) must not
    * rescan for count(). */
  private[graft] def indexedByRange(
      df: DataFrame, order: Seq[String], rnCol: String,
      numPartitions: Int): (DataFrame, Long) = {
    require(order.nonEmpty, "order columns required")
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(p, order.map(col): _*)
      .sortWithinPartitions(order.map(col): _*)
      .localCheckpoint(eager = false)
    val sizes = sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1L }
        Iterator.single((i, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = sorted.schema
      .add(rnCol, org.apache.spark.sql.types.LongType, nullable = false)
    val indexed = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var rn = bc.value(i)
      it.map { row =>
        rn += 1L
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ rn)
      }
    }
    (spark.createDataFrame(indexed, schema), offsets.last)
  }

  /** W5 with EXACT row-positional semantics and NO single-partition
    * stage: [[indexedByRange]] — the scale form that keeps
    * [[chronoSplit]]'s labels bit-identical (same floor arithmetic off
    * the same total order; w5_chrono_split_dist pins it against the SAME
    * oracle as the windowed row), where [[chronoSplitApprox]] trades
    * exactness for boundary-value membership. Cost: the range shuffle
    * plus one cheap size job (which also supplies n — no separate
    * count() scan); the windowed form's cost is every row through ONE
    * partition. */
  def chronoSplitDistributed(df: DataFrame, order: Seq[String],
                             trainRatio: Double = 0.7,
                             valRatio: Double = 0.15): DataFrame = {
    val (indexed, n) = indexedByRange(df, order, "__w5_rn", 0)
    indexed
      .withColumn("split",
        when(col("__w5_rn") <= floor(lit(n) * trainRatio), lit("train"))
          .when(col("__w5_rn") <= floor(lit(n) * trainRatio) +
            floor(lit(n) * valRatio), lit("val"))
          .otherwise(lit("test")))
      .drop("__w5_rn")
  }

  /** W4 — sliding sequence window (train.py:484-492): per group, ordered,
    * the previous `length` values of `c` as an array (the RNN sample
    * generator; the row's own value is the target). Rows whose history is
    * shorter than `length` must be filtered by the caller
    * (`size(seq) === length`), mirroring `range(L, len(grp))`.
    *
    * Scale: one window pass sharing the (Currency,Event) shuffle with
    * W1-W3; the emitted arrays multiply row width by L, so at 100 TB the
    * sequence stage should be the LAST projection before the training sink
    * (project only the needed feature columns into the array first). */
  def slidingSequence(c: Column, w: WindowSpec, length: Int): Column =
    // collect_list silently SKIPS null elements, which would shorten a
    // window containing a null history value and make the caller's
    // size === length filter drop the row — diverging from the
    // reference's positional range(L, len(grp)) semantics. Wrapping each
    // value in a (non-null) struct preserves positions; unwrap after.
    transform(
      collect_list(struct(c.as("v"))).over(w.rowsBetween(-length, -1)),
      s => s.getField("v"))

  /** W6 — latest row per group: single-shuffle max_by on the ordered struct
    * (test.py:95-120 "last prediction per group"). `tiebreak` makes the
    * result deterministic when timestamps collide. */
  def latestPerGroup(df: DataFrame, key: Seq[String], time: String,
                     tiebreak: String, payload: Seq[String]): DataFrame = {
    val ord = struct(col(time), col(tiebreak))
    val aggs = payload.map(p => max_by(col(p), ord).as(p)) :+
      max(col(time)).as(time)
    df.groupBy(key.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A14 — per-group TRAINED autoregressive model: ordinary least squares
    * y ~ slope·x + intercept fit per key, in closed form from the normal
    * equations (slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)). This is the
    * engine's real train→apply model path standing in for the reference's
    * per-(Currency,Event) model training (train.py:377-499): the
    * reference fits an LSTM/XGBoost per group — out of relational scope
    * in a Spark-jars-only build (SURVEY §7 step 5) — but the TRAINING
    * CONTRACT (fit parameters on the train split only, persist them as a
    * per-key artifact, apply them to later splits) is fully relational,
    * and an AR(1) on the lag feature is its smallest honest instance.
    *
    * One algebraic aggregation pass — map-side combined, no window, no
    * driver loop; fitting a million keys costs one shuffle of five sums.
    * Determinism follows [[regressionMetrics]] exactly: inputs snap to
    * DECIMAL(17,6) under the |x| < 1e11 domain guard (excluded rows leave
    * every sum, not just some), cross terms re-scale to DECIMAL(38,6)
    * before summing (group-sum headroom ~2.5e9 worst-case rows), and only
    * the final per-group arithmetic runs in double with a fixed
    * expression shape — bit-equal in any engine evaluating the same IEEE
    * ops. Degenerate groups (zero x-variance, e.g. n=1 or constant
    * history) fit slope 0 with intercept = ȳ — the mean model. */
  /** Degeneracy caveat (round 15, stated honestly): the mean-model
    * fallback fires on EXACT det == 0.0 — the same double expression the
    * DuckDB oracle evaluates, so the two engines always agree — but a
    * constant-x group whose det is pure cancellation noise (|det| ~
    * 1e-18, n=1 or all-equal x) passes the gate and fits a noise slope
    * in BOTH engines identically. fitLinearPerGroup gates this class
    * with the Hadamard-relative test (|det| > 1e-9·|Π c_ii|); unifying
    * fitAr1/fitAr2/pearson on that gate requires changing the oracle SQL
    * in lockstep (Registry/Pipeline/Feature rows) and is the recorded
    * round-16 item. Callers with near-constant regressors should prefer
    * fitLinearPerGroup. */
  def fitAr1(df: DataFrame, key: Seq[String],
             x: Column, y: Column): DataFrame = {
    val domain = lit(1e11)
    val xd = x.cast("decimal(17,6)")
    val yd = y.cast("decimal(17,6)")
    df.filter(x.isNotNull && y.isNotNull &&
        abs(x) < domain && abs(y) < domain)
      .groupBy(key.map(col): _*)
      .agg(
        count(lit(1)).as("n_fit"),
        sum(xd).cast("double").as("sx"),
        sum(yd).cast("double").as("sy"),
        sum((xd * yd).cast("decimal(38,6)")).cast("double").as("sxy"),
        sum((xd * xd).cast("decimal(38,6)")).cast("double").as("sxx"))
      .withColumn("slope",
        when(col("n_fit") * col("sxx") - col("sx") * col("sx") === 0.0, lit(0.0))
          .otherwise((col("n_fit") * col("sxy") - col("sx") * col("sy")) /
            (col("n_fit") * col("sxx") - col("sx") * col("sx"))))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("n_fit"))
      .select((key.map(col) :+ col("slope") :+ col("intercept") :+
        col("n_fit")): _*)
  }

  /** A14b — the two-feature step up from [[fitAr1]]: per-group closed-form
    * OLS `y ~ b1·x1 + b2·x2 + intercept` by Cramer's rule on the 2×2
    * normal equations (an AR(2) when x1/x2 are lag-1/lag-2 — the look-back
    * window the reference's LSTM consumes, train.py:163-199, as a
    * relational model).
    *
    * Same single-pass shape and determinism contract as [[fitAr1]]: one
    * map-side-combined aggregation of eight decimal-exact sums per group
    * (DECIMAL(17,6) inputs under the |·| < 1e11 domain guard, cross terms
    * re-scaled to DECIMAL(38,6) before summing), then fixed-shape double
    * arithmetic — centered moments Cab = n·Σab − Σa·Σb, determinant
    * C11·C22 − C12², coefficients by Cramer — bit-equal in any engine
    * evaluating the same IEEE ops. Groups need n ≥ 3 (params ≤ data);
    * a singular system (collinear or constant lags) fits b1 = b2 = 0 with
    * intercept = ȳ — the mean model, [[fitAr1]]'s degenerate convention. */
  def fitAr2(df: DataFrame, key: Seq[String],
             x1: Column, x2: Column, y: Column): DataFrame = {
    val domain = lit(1e11)
    val x1d = x1.cast("decimal(17,6)")
    val x2d = x2.cast("decimal(17,6)")
    val yd = y.cast("decimal(17,6)")
    df.filter(x1.isNotNull && x2.isNotNull && y.isNotNull &&
        abs(x1) < domain && abs(x2) < domain && abs(y) < domain)
      .groupBy(key.map(col): _*)
      .agg(
        count(lit(1)).as("n_fit"),
        sum(x1d).cast("double").as("sx1"),
        sum(x2d).cast("double").as("sx2"),
        sum(yd).cast("double").as("sy"),
        sum((x1d * x1d).cast("decimal(38,6)")).cast("double").as("s11"),
        sum((x2d * x2d).cast("decimal(38,6)")).cast("double").as("s22"),
        sum((x1d * x2d).cast("decimal(38,6)")).cast("double").as("s12"),
        sum((x1d * yd).cast("decimal(38,6)")).cast("double").as("s1y"),
        sum((x2d * yd).cast("decimal(38,6)")).cast("double").as("s2y"))
      .filter(col("n_fit") >= 3)
      .withColumn("c11", col("n_fit") * col("s11") - col("sx1") * col("sx1"))
      .withColumn("c22", col("n_fit") * col("s22") - col("sx2") * col("sx2"))
      .withColumn("c12", col("n_fit") * col("s12") - col("sx1") * col("sx2"))
      .withColumn("cy1", col("n_fit") * col("s1y") - col("sx1") * col("sy"))
      .withColumn("cy2", col("n_fit") * col("s2y") - col("sx2") * col("sy"))
      .withColumn("det", col("c11") * col("c22") - col("c12") * col("c12"))
      .withColumn("b1",
        when(col("det") === 0.0, lit(0.0))
          .otherwise((col("cy1") * col("c22") - col("cy2") * col("c12")) /
            col("det")))
      .withColumn("b2",
        when(col("det") === 0.0, lit(0.0))
          .otherwise((col("cy2") * col("c11") - col("cy1") * col("c12")) /
            col("det")))
      .withColumn("intercept",
        (col("sy") - col("b1") * col("sx1") - col("b2") * col("sx2")) /
          col("n_fit"))
      .select((key.map(col) :+ col("b1") :+ col("b2") :+ col("intercept") :+
        col("n_fit")): _*)
  }

  /** Fixed-order Leibniz determinant expansion over a p×p matrix of
    * T-typed cells: permutations in lexicographic order, left-assoc
    * products and sums, odd permutations negated. Generic so the SAME
    * term order instantiates both the Column arithmetic of
    * [[fitLinearPerGroup]] and the DuckDB oracle SQL
    * (PipelineQueries.seq oracle) — the two engines' IEEE chains are
    * generated from one expansion and cannot drift. p! terms: callers
    * cap p at 4 (24 terms). */
  private[graft] def leibnizDet[T](p: Int, cell: (Int, Int) => T,
      mul: (T, T) => T, add: (T, T) => T, negate: T => T): T = {
    val perms = (0 until p).toList.permutations.toList // lexicographic
    def odd(perm: List[Int]): Boolean = {
      var inv = 0
      for (i <- perm.indices; j <- i + 1 until perm.length)
        if (perm(i) > perm(j)) inv += 1
      inv % 2 == 1
    }
    perms.map { perm =>
      val prod = (0 until p).map(i => cell(i, perm(i))).reduceLeft(mul)
      if (odd(perm)) negate(prod) else prod
    }.reduceLeft(add)
  }

  /** A14d (round 10) — PER-GROUP p-feature closed-form OLS
    * `y ~ Σ bᵢ·xᵢ + intercept`, the multi-feature step past [[fitAr2]]'s
    * hand-written 2×2 Cramer: one p²-bounded moment aggregation per
    * group, then Cramer's rule on the CENTERED normal equations with
    * determinants expanded by the fixed-order [[leibnizDet]] (p ≤ 4 —
    * 24-term expansion; beyond that use the driver-solved global
    * [[linearFit]]). This is the relational analogue of the reference's
    * per-(Currency,Event) multi-feature sequence models (train.py:
    * 463-492 feeds SIX features per step into the LSTM): the per-key
    * fit consumes the full feature row, not just the lags.
    *
    * Same single-pass shape and determinism contract as [[fitAr1]]/
    * [[fitAr2]]: (p+1)(p+2)/2 decimal-exact sums per group
    * (DECIMAL(17,6) inputs under the |·| < 1e11 guard — a row with ANY
    * null/out-of-domain field leaves every sum), map-side combined so
    * the shuffle is p²-bounded and corpus-size-independent, then
    * fixed-shape double arithmetic only. Groups need n ≥ p+1.
    *
    * Conditioning: Cramer in doubles is fixed-shape but not error-free
    * — on an (exactly or nearly) COLLINEAR group the true determinant
    * is ~0 and the computed det is pure cancellation noise, so the
    * solved coefficients can be arbitrarily wrong (measured: a
    * truly-singular sf0.001 group solved at |det|/Πc_ii ≈ 1e-17 and
    * DOUBLED its train SSE vs naive). Each group therefore carries
    * `well_conditioned` = |det| > 1e-9·|Πᵢc_ii| (the Hadamard-bound
    * ratio — for PSD C, |det| ≤ Πc_ii, so the ratio is a scale-free
    * conditioning measure; legitimate sf0.001 groups all measure
    * ≥ 5.9e-5, eight orders above the gate). Ill-conditioned groups —
    * including exact singulars: a within-group CONSTANT feature zeroes
    * its centered row/column exactly (det = 0, a zero-column Leibniz
    * sum) — fit the mean model (slopes 0, intercept = ȳ) and flag
    * false; callers wanting the naive-fallback contract filter on the
    * flag (Pipeline's seq branch does). A deliberately STRICTER gate
    * than [[fitAr2]]'s exact det = 0 test.
    * Output: key…, b1..bp, intercept, n_fit, well_conditioned. */
  def fitLinearPerGroup(df: DataFrame, key: Seq[String],
                        xs: Seq[Column], y: Column): DataFrame = {
    val p = xs.length
    require(p >= 1 && p <= 4, s"fitLinearPerGroup supports 1..4 features, got $p")
    val domain = lit(1e11)
    val xd = xs.map(_.cast("decimal(17,6)"))
    val yd = y.cast("decimal(17,6)")
    val eligible = (xs :+ y)
      .map(c => c.isNotNull && abs(c) < domain).reduce(_ && _)
    val sumCols =
      (0 until p).map(i => sum(xd(i)).cast("double").as(s"s$i")) ++
      Seq(sum(yd).cast("double").as("sy")) ++
      (for (i <- 0 until p; j <- i until p) yield
        sum((xd(i) * xd(j)).cast("decimal(38,6)")).cast("double")
          .as(s"s${i}_$j")) ++
      (0 until p).map(i =>
        sum((xd(i) * yd).cast("decimal(38,6)")).cast("double").as(s"s${i}y"))
    val grouped = df.filter(eligible)
      .groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("n_fit"), sumCols: _*)
      .filter(col("n_fit") >= p + 1)
    // centered second moments: c_ij = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ (symmetric —
    // stored upper-triangle), cy_i = n·Σxᵢy − Σxᵢ·Σy
    val centered = (for (i <- 0 until p; j <- i until p) yield
        (s"c${i}_$j",
          col("n_fit") * col(s"s${i}_$j") - col(s"s$i") * col(s"s$j"))) ++
      (0 until p).map(i =>
        (s"cy$i", col("n_fit") * col(s"s${i}y") - col(s"s$i") * col("sy")))
    val withC = centered.foldLeft(grouped) { case (d, (n, c)) => d.withColumn(n, c) }
    def cCell(i: Int, j: Int): Column =
      col(s"c${math.min(i, j)}_${math.max(i, j)}")
    val det = leibnizDet[Column](p, cCell,
      (a, b) => a * b, (a, b) => a + b, a => -a)
    val diagProd = (0 until p).map(i => cCell(i, i)).reduceLeft(_ * _)
    val withDet = withC.withColumn("det", det)
      .withColumn("well_conditioned",
        abs(col("det")) > lit(1e-9) * abs(diagProd))
    val withB = (0 until p).foldLeft(withDet) { (d, bj) =>
      val num = leibnizDet[Column](p,
        (i, k) => if (k == bj) col(s"cy$i") else cCell(i, k),
        (a, b) => a * b, (a, b) => a + b, a => -a)
      d.withColumn(s"b${bj + 1}",
        when(col("well_conditioned"), num / col("det")).otherwise(lit(0.0)))
    }
    val interceptNum = (0 until p).foldLeft(col("sy")) { (acc, i) =>
      acc - col(s"b${i + 1}") * col(s"s$i")
    }
    withB.withColumn("intercept", interceptNum / col("n_fit"))
      .select((key.map(col) ++ (1 to p).map(i => col(s"b$i")) :+
        col("intercept") :+ col("n_fit") :+ col("well_conditioned")): _*)
  }

  /** A trained general linear model: intercept-first coefficient vector
    * over p features, with the fit size for provenance. */
  final case class LinearModel(coef: Array[Double], nFit: Long)

  /** A14c — GENERAL p-feature OLS/ridge, the step past [[fitAr2]]'s
    * Cramer 2×2 and the engine's closest relational analogue of the
    * reference's multi-feature regressors (train.py:377-499; XGBoost/LSTM
    * themselves stay out of scope in a Spark-jars-only build — SURVEY §7
    * step 5 — but the train→persist→apply contract and a real
    * multi-feature fit are fully relational):
    *
    *  1. DISTRIBUTED moment pass (the pcaFit shape): ONE aggregation
    *     computes the (p+1)×(p+1) upper triangle of ZᵀZ and the vector
    *     Zᵀy (Z = [1 | x₁..x_p]) — (p+1)(p+2)/2 + (p+1) + 2 grouped sums,
    *     map-side combined, so the shuffle is p²-bounded and
    *     corpus-size-independent. Sums follow the [[fitAr1]] determinism
    *     contract exactly: DECIMAL(17,6)-snapped inputs under the
    *     |·| < 1e11 domain guard, cross terms re-scaled to DECIMAL(38,6)
    *     before summing — bit-stable under any combine order.
    *  2. DRIVER solve of (ZᵀZ + λ·n·I₋)β = Zᵀy (λ ridge on non-intercept
    *     diagonal; λ=0 is plain OLS) by Gaussian elimination with partial
    *     pivoting — O(p³), fixed operation order, microseconds at real
    *     p. A singular system (collinear features) falls back to the
    *     mean model (intercept = ȳ, slopes 0) — [[fitAr1]]'s degenerate
    *     convention, never an exception at serve time.
    *
    * Returns None on an empty (post-guard) input. */
  def linearFit(df: DataFrame, features: Seq[Column], target: Column,
                ridge: Double = 0.0): Option[LinearModel] = {
    require(features.nonEmpty, "linearFit needs at least one feature")
    require(ridge >= 0.0, s"ridge must be >= 0, got $ridge")
    val p = features.length
    val domain = lit(1e11)
    val guard = (features :+ target)
      .map(c => c.isNotNull && abs(c) < domain)
      .reduce(_ && _)
    val z: IndexedSeq[Column] =
      (lit(1).cast("decimal(17,6)") +: features.map(_.cast("decimal(17,6)")))
        .toIndexedSeq
    val yd = target.cast("decimal(17,6)")
    val aggs =
      (for (i <- 0 to p; j <- i to p)
        yield sum((z(i) * z(j)).cast("decimal(38,6)")).cast("double")
          .as(s"s_${i}_$j")) ++
      (0 to p).map(i =>
        sum((z(i) * yd).cast("decimal(38,6)")).cast("double").as(s"sy_$i")) :+
      count(lit(1)).as("n")
    val row = df.filter(guard).agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("n")
    if (n == 0L) return None
    val a = Array.ofDim[Double](p + 1, p + 1)
    for (i <- 0 to p; j <- i to p) {
      val v = row.getAs[Double](s"s_${i}_$j")
      a(i)(j) = v; a(j)(i) = v
    }
    for (i <- 1 to p) a(i)(i) += ridge * n
    val b = Array.tabulate(p + 1)(i => row.getAs[Double](s"sy_$i"))
    solveInPlace(a, b) match {
      case Some(beta) => Some(LinearModel(beta, n))
      case None => // singular: the mean model, the fitAr1 convention
        val mean = row.getAs[Double]("sy_0") / n
        Some(LinearModel(mean +: Array.fill(p)(0.0), n))
    }
  }

  /** Gaussian elimination with partial pivoting, in place; None when the
    * system is singular at working precision. Fixed operation order —
    * deterministic for a given (a, b). */
  private[operators] def solveInPlace(
      a: Array[Array[Double]], b: Array[Double]): Option[Array[Double]] = {
    val m = a.length
    val scale = (0 until m).map(i => a(i).map(math.abs).max).max
      .max(java.lang.Double.MIN_NORMAL)
    for (c <- 0 until m) {
      var piv = c
      for (r <- c + 1 until m) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      if (math.abs(a(piv)(c)) <= 1e-12 * scale) return None
      if (piv != c) {
        val t = a(piv); a(piv) = a(c); a(c) = t
        val tb = b(piv); b(piv) = b(c); b(c) = tb
      }
      for (r <- c + 1 until m) {
        val f = a(r)(c) / a(c)(c)
        var k = c
        while (k < m) { a(r)(k) -= f * a(c)(k); k += 1 }
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](m)
    for (c <- m - 1 to 0 by -1) {
      var s = b(c)
      var k = c + 1
      while (k < m) { s -= a(c)(k) * x(k); k += 1 }
      x(c) = s / a(c)(c)
    }
    Some(x)
  }

  /** A trained logistic model: intercept-first coefficients, fit size,
    * and the converged gradient norm for provenance. */
  final case class LogisticModel(coef: Array[Double], nFit: Long,
                                 gradNorm: Double, iters: Int)

  /** A14d — LOGISTIC REGRESSION via distributed IRLS (iteratively
    * reweighted least squares — the textbook GLM fit, Hastie et al. ESL
    * §4.4): each iteration computes the weighted normal-equation moments
    * (ZᵀWZ, ZᵀWu with W = diag(p(1−p)), working response
    * u = η + (y−p)/w) in ONE p²-bounded aggregation pass — map-side
    * combined, corpus-size-independent shuffle, the [[linearFit]] shape
    * with a weight column — and solves the (p+1)×(p+1) system on the
    * driver ([[solveInPlace]]). A real trained CLASSIFIER in-plan, the
    * step past [[linearFit]]'s regressor toward the reference's model
    * zoo.
    *
    * Numerics: weights are floored at 1e-6 (a saturated row's w → 0
    * would blow up the working response); features should be roughly
    * unit-scale (standardize upstream — the reference normalizes before
    * its fits too, train.py:430-470). Sums run in plain double: sigmoid
    * makes decimal exactness meaningless, so (unlike linearFit) the
    * coefficients are deterministic only up to float combine order —
    * consumers pin tolerance-based invariants (score equations ≈ 0,
    * deviance below the null model), never hashes. Stops when the
    * max-coordinate score (gradient) drops under `tol` or after
    * `maxIters`. Returns None on an empty (post-guard) input or a
    * singular first iteration. */
  def logisticFit(df: DataFrame, features: Seq[Column], label: Column,
                  maxIters: Int = 10, tol: Double = 1e-8,
                  ridge: Double = 0.0): Option[LogisticModel] = {
    require(features.nonEmpty, "logisticFit needs at least one feature")
    require(maxIters >= 1 && tol > 0.0 && ridge >= 0.0,
      s"bad hyperparameters: maxIters=$maxIters tol=$tol ridge=$ridge")
    val p = features.length
    val domain = lit(1e11)
    val guard = features.map(c => c.isNotNull && abs(c) < domain)
      .reduce(_ && _) && label.isNotNull
    val src = df.filter(guard)
      .select((features.map(_.cast("double")) :+
        label.cast("boolean").cast("int").cast("double").as("__y"))
        .zipWithIndex.map { case (c, i) =>
          if (i < p) c.as(s"__z$i") else c
        }: _*)
      .localCheckpoint(eager = false) // one computed copy feeds every iter
    val z: IndexedSeq[Column] = lit(1.0) +: (0 until p).map(i => col(s"__z$i"))
    var beta = new Array[Double](p + 1)
    var n = -1L
    var grad = Double.MaxValue
    var it = 0
    var singular = false // IRLS went singular past iter 0: keep last β
    while (it < maxIters && grad > tol && !singular) {
      val eta = z.zipWithIndex.map { case (c, i) => c * lit(beta(i)) }
        .reduce(_ + _)
      val prob = lit(1.0) / (lit(1.0) + exp(-eta))
      val w = greatest(prob * (lit(1.0) - prob), lit(1e-6))
      val u = eta + (col("__y") - prob) / w
      val aggs =
        (for (i <- 0 to p; j <- i to p)
          yield sum(w * z(i) * z(j)).as(s"s_${i}_$j")) ++
        (0 to p).map(i => sum(w * z(i) * u).as(s"su_$i")) ++
        (0 to p).map(i => sum(z(i) * (col("__y") - prob)).as(s"g_$i")) :+
        count(lit(1)).as("n")
      val row = src.agg(aggs.head, aggs.tail: _*).head()
      n = row.getAs[Long]("n")
      if (n == 0L) return None
      grad = (0 to p).map(i => math.abs(row.getAs[Double](s"g_$i"))).max / n
      if (grad > tol) {
        val a = Array.ofDim[Double](p + 1, p + 1)
        for (i <- 0 to p; j <- i to p) {
          val v = row.getAs[Double](s"s_${i}_$j")
          a(i)(j) = v; a(j)(i) = v
        }
        for (i <- 1 to p) a(i)(i) += ridge * n
        val b = Array.tabulate(p + 1)(i => row.getAs[Double](s"su_$i"))
        solveInPlace(a, b) match {
          case Some(next) => beta = next
          case None =>
            if (it == 0) return None
            else singular = true // keep the last stable β
        }
      }
      // a singular iteration produced no new β — don't count it, so the
      // persisted provenance `iters` can never exceed maxIters
      if (!singular) it += 1
    }
    Some(LogisticModel(beta, n, grad, it))
  }

  /** One boosted stump: split on `featureIdx`'s histogram bin ≤ `bin`,
    * contributing `leftValue`/`rightValue` (pre-learning-rate). */
  final case class GbmStump(featureIdx: Int, bin: Int,
                            leftValue: Double, rightValue: Double)

  /** A trained gradient-boosted-stumps model. Bin geometry (mins, spans,
    * nBins) is part of the model: serving recomputes the EXACT training
    * bin arithmetic, so train/serve can never disagree on a boundary
    * row. `sses(t)` = training SSE after t rounds (sses(0) = SST under
    * the mean model) — the monotonicity certificate. */
  final case class GbmModel(f0: Double, learningRate: Double, nBins: Int,
                            mins: Array[Double], spans: Array[Double],
                            stumps: Seq[GbmStump], nFit: Long,
                            sses: Seq[Double])

  /** A14e — GRADIENT-BOOSTED STUMPS over histogram bins, the engine's
    * honest XGBoost-lite (Friedman 2001 gradient boosting with
    * least-squares stumps; the histogram split search is XGBoost's
    * `tree_method=hist`): features are binned ONCE into `nBins`
    * equi-width bins (driver min/max pass + a map-only bin projection,
    * lazily checkpointed), then every boosting round is ONE corpus
    * aggregation collapsing residuals to ≤ p·nBins (feature, bin) cells
    * — map-side combined, corpus-size-independent shuffle — collected to
    * the driver, where prefix sums over ≤ nBins bins per feature find
    * the best split (max variance reduction, ties to smallest (feature,
    * bin)) in microseconds. Left/right contributions are the residual
    * means of the two sides; the round's SSE is tracked from the same
    * cells. Early-stops when no split improves.
    *
    * Scale honesty: rounds × one-corpus-scan is the irreducible GBM
    * training cost (XGBoost pays the same per iteration); everything
    * else in the loop is ≤ p·nBins rows. Coefficients depend on float
    * combine order (residual sums are doubles) — consumers pin
    * tolerance invariants, never hashes, the [[logisticFit]] contract. */
  def gbmFit(df: DataFrame, features: Seq[Column], target: Column,
             rounds: Int, learningRate: Double = 0.5,
             nBins: Int = 64): Option[GbmModel] = {
    require(features.nonEmpty, "gbmFit needs at least one feature")
    require(rounds >= 1 && learningRate > 0.0 && learningRate <= 1.0 &&
      nBins >= 2, s"bad hyperparameters: rounds=$rounds lr=$learningRate " +
      s"nBins=$nBins")
    val p = features.length
    val domain = lit(1e11)
    val guard = (features :+ target)
      .map(c => c.isNotNull && abs(c) < domain).reduce(_ && _)
    val base = df.filter(guard)
    val mmAggs = features.zipWithIndex.flatMap { case (c, f) =>
      Seq(min(c.cast("double")).as(s"mn$f"), max(c.cast("double")).as(s"mx$f"))
    } ++ Seq(count(lit(1)).as("n"), sum(target.cast("double")).as("sy"))
    val mm = base.agg(mmAggs.head, mmAggs.tail: _*).head()
    val n = mm.getAs[Long]("n")
    if (n == 0L) return None
    val f0 = mm.getAs[Double]("sy") / n
    val mins = Array.tabulate(p)(f => mm.getAs[Double](s"mn$f"))
    val spans = Array.tabulate(p) { f =>
      val s = mm.getAs[Double](s"mx$f") - mins(f)
      if (s > 0.0) s else 1.0 // constant feature: one bin, never splits
    }
    val binCols = features.zipWithIndex.map { case (c, f) =>
      least(lit(nBins - 1), greatest(lit(0),
        floor((c.cast("double") - lit(mins(f))) / lit(spans(f)) * nBins)))
        .cast("int").as(s"__b$f")
    }
    val src = base
      .select(binCols :+ target.cast("double").as("__y"): _*)
      .localCheckpoint(eager = false) // bin once, scan per round
    val stumps = scala.collection.mutable.ArrayBuffer.empty[GbmStump]
    val sses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var stop = false
    while (stumps.length < rounds && !stop) {
      val pred = stumps.foldLeft(lit(f0): Column) { (acc, st) =>
        acc + lit(learningRate) * when(
          col(s"__b${st.featureIdx}") <= st.bin,
          lit(st.leftValue)).otherwise(lit(st.rightValue))
      }
      val r = col("__y") - pred
      val cells = src
        .select(r.as("__r"), explode(array((0 until p).map(f =>
          struct(lit(f).as("f"), col(s"__b$f").as("bin"))): _*)).as("fb"))
        .groupBy(col("fb.f").as("f"), col("fb.bin").as("bin"))
        .agg(count(lit(1)).as("cnt"), sum(col("__r")).as("sr"),
          sum(col("__r") * col("__r")).as("srr"))
        .collect()
      // SSE from feature 0's cells — every row appears exactly once per
      // feature, so one feature's partition of the corpus carries Σr²
      // entry t = SSE BEFORE this round's stump, so the ledger reads
      // [SST-under-f0, after round 1, ..., after round T] once the
      // closing pass below appends the final state
      sses += cells.filter(_.getAs[Int]("f") == 0)
        .map(_.getAs[Double]("srr")).sum
      // driver split search: prefix sums over each feature's ≤ nBins bins
      var best: Option[(Double, Int, Int, Double, Double)] = None
      (0 until p).foreach { f =>
        val bins = cells.filter(_.getAs[Int]("f") == f)
          .map(row => (row.getAs[Int]("bin"), row.getAs[Long]("cnt"),
            row.getAs[Double]("sr"))).sortBy(_._1)
        val nTot = bins.map(_._2).sum
        val sTot = bins.map(_._3).sum
        var nl = 0L
        var sl = 0.0
        bins.dropRight(1).foreach { case (b, c, s) =>
          nl += c; sl += s
          val nr = nTot - nl
          val gain = sl * sl / nl + (sTot - sl) * (sTot - sl) / nr
          val better = best match {
            case None => true
            case Some((g, bf, bb, _, _)) =>
              gain > g || (gain == g && (f < bf || (f == bf && b < bb)))
          }
          if (better)
            best = Some((gain, f, b, sl / nl, (sTot - sl) / nr))
        }
      }
      best match {
        case Some((gain, f, b, l, rgt)) if gain > 1e-12 =>
          stumps += GbmStump(f, b, l, rgt)
        case _ => stop = true // nothing splittable / no improvement
      }
    }
    // final SSE after the last stump (the loop records SSE BEFORE fitting
    // each round's stump, so close the ledger with one more cell pass).
    // Skip it when the loop ended via early stop: that round's recorded
    // SSE already IS the post-final-stump state (no stump was added
    // after it), so closing again would duplicate the last entry and
    // break the sses.length == stumps.length + 1 contract.
    if (stumps.nonEmpty && !stop) {
      val pred = stumps.foldLeft(lit(f0): Column) { (acc, st) =>
        acc + lit(learningRate) * when(
          col(s"__b${st.featureIdx}") <= st.bin,
          lit(st.leftValue)).otherwise(lit(st.rightValue))
      }
      sses += src.agg(sum((col("__y") - pred) * (col("__y") - pred)))
        .head().getDouble(0)
    }
    Some(GbmModel(f0, learningRate, nBins, mins, spans,
      stumps.toSeq, n, sses.toSeq))
  }

  /** Serve a [[GbmModel]]: ŷ = f₀ + lr·Σ stump contributions, with bins
    * recomputed by the model's own geometry — map-only, the exact
    * training arithmetic. */
  def gbmPredict(df: DataFrame, model: GbmModel, features: Seq[Column],
                 outCol: String = "prediction"): DataFrame = {
    require(features.length == model.mins.length,
      s"model has ${model.mins.length} features, got ${features.length}")
    val binOf = features.zipWithIndex.map { case (c, f) =>
      least(lit(model.nBins - 1), greatest(lit(0),
        floor((c.cast("double") - lit(model.mins(f))) /
          lit(model.spans(f)) * model.nBins))).cast("int")
    }
    val pred = model.stumps.foldLeft(lit(model.f0): Column) { (acc, st) =>
      acc + lit(model.learningRate) * when(
        binOf(st.featureIdx) <= st.bin,
        lit(st.leftValue)).otherwise(lit(st.rightValue))
    }
    // a NULL feature propagates to a NULL prediction (round 15): greatest()
    // SKIPS nulls, so a missing feature silently binned to 0 and the row
    // got a confidently wrong ŷ — the other model serves
    // (linear/logistic/sgd) all propagate null honestly for this input
    val anyNull = features.map(_.isNull).reduce(_ || _)
    df.withColumn(outCol,
      when(anyNull, lit(null).cast("double")).otherwise(pred))
  }

  /** [[GbmModel]] → frame for parquet persistence: one row per stump
    * (param columns repeated — one relation, no side files). A model
    * with ZERO stumps (constant target / nothing splittable in round 1)
    * persists as one `round = -1` sentinel row carrying the model-level
    * fields — per-stump rows previously meant an empty-stumps model
    * wrote an EMPTY frame that lost f0/lr/bins/nFit entirely and could
    * never be served again (round 15). */
  def gbmModelToFrame(spark: org.apache.spark.sql.SparkSession,
                      model: GbmModel): DataFrame = {
    import spark.implicits._
    val rows =
      if (model.stumps.isEmpty)
        Seq((-1, -1, -1, 0.0, 0.0, model.f0, model.learningRate,
          model.nBins, model.mins.toSeq, model.spans.toSeq, model.nFit,
          model.sses.toSeq))
      else model.stumps.zipWithIndex.map { case (st, i) =>
        (i, st.featureIdx, st.bin, st.leftValue, st.rightValue, model.f0,
          model.learningRate, model.nBins, model.mins.toSeq,
          model.spans.toSeq, model.nFit, model.sses.toSeq)
      }
    rows.toDF("round", "feature_idx", "bin", "left_val", "right_val", "f0",
      "lr", "n_bins", "mins", "spans", "n_fit", "sses")
  }

  /** Inverse of [[gbmModelToFrame]] — stumps re-ordered by round; the
    * round = -1 sentinel rebuilds a zero-stump model. */
  def gbmModelFromFrame(df: DataFrame): GbmModel = {
    val rows = df.collect().sortBy(_.getAs[Int]("round"))
    require(rows.nonEmpty, "empty GBM model frame")
    val h = rows.head
    val stumps =
      if (rows.length == 1 && h.getAs[Int]("round") == -1) Nil
      else rows.toSeq.map(r => GbmStump(r.getAs[Int]("feature_idx"),
        r.getAs[Int]("bin"), r.getAs[Double]("left_val"),
        r.getAs[Double]("right_val")))
    GbmModel(h.getAs[Double]("f0"), h.getAs[Double]("lr"),
      h.getAs[Int]("n_bins"),
      h.getAs[scala.collection.Seq[Double]]("mins").toArray,
      h.getAs[scala.collection.Seq[Double]]("spans").toArray,
      stumps,
      h.getAs[Long]("n_fit"),
      h.getAs[scala.collection.Seq[Double]]("sses").toSeq)
  }

  /** [[LinearModel]] → one-row frame for parquet persistence (the
    * pcaModelToFrame / IvfIndex convention: train once, serve the
    * artifact from storage — the reference's joblib-dump contract). */
  def linearModelToFrame(spark: org.apache.spark.sql.SparkSession,
                         model: LinearModel): DataFrame = {
    import spark.implicits._
    Seq((model.coef.toSeq, model.nFit)).toDF("coef", "n_fit")
  }

  /** Inverse of [[linearModelToFrame]]. */
  def linearModelFromFrame(df: DataFrame): LinearModel = {
    val r = df.select(col("coef"), col("n_fit")).collect()
    require(r.length == 1, s"expected one model row, got ${r.length}")
    LinearModel(r.head.getSeq[Double](0).toArray, r.head.getLong(1))
  }

  /** [[LogisticModel]] → one-row frame for parquet persistence. */
  def logisticModelToFrame(spark: org.apache.spark.sql.SparkSession,
                           model: LogisticModel): DataFrame = {
    import spark.implicits._
    Seq((model.coef.toSeq, model.nFit, model.gradNorm, model.iters))
      .toDF("coef", "n_fit", "grad_norm", "iters")
  }

  /** Inverse of [[logisticModelToFrame]]. */
  def logisticModelFromFrame(df: DataFrame): LogisticModel = {
    val r = df.select(col("coef"), col("n_fit"), col("grad_norm"),
      col("iters")).collect()
    require(r.length == 1, s"expected one model row, got ${r.length}")
    LogisticModel(r.head.getSeq[Double](0).toArray, r.head.getLong(1),
      r.head.getDouble(2), r.head.getInt(3))
  }

  /** Serve a [[LogisticModel]]: P(y=1 | x) = σ(β₀ + Σ βᵢ·xᵢ), map-only
    * with the coefficients as plan literals. */
  def logisticPredict(df: DataFrame, model: LogisticModel,
                      features: Seq[Column],
                      outCol: String = "probability"): DataFrame = {
    require(features.length + 1 == model.coef.length,
      s"model has ${model.coef.length - 1} features, got ${features.length}")
    val eta = features.zipWithIndex
      .map { case (c, i) => lit(model.coef(i + 1)) * c.cast("double") }
      .foldLeft(lit(model.coef(0)))(_ + _)
    df.withColumn(outCol, lit(1.0) / (lit(1.0) + exp(-eta)))
  }

  /** Serve a [[LinearModel]]: prediction = β₀ + Σ βᵢ·xᵢ with the
    * coefficients riding the plan as literals — map-only, scan speed at
    * any corpus size. Features are DECIMAL(17,6)-snapped first, matching
    * the fit's determinism contract (the residual-orthogonality
    * invariant holds only against the snapped design matrix). */
  def linearPredict(df: DataFrame, model: LinearModel,
                    features: Seq[Column],
                    outCol: String = "prediction"): DataFrame = {
    require(features.length + 1 == model.coef.length,
      s"model has ${model.coef.length - 1} features, got ${features.length}")
    val terms = features.zipWithIndex.map { case (c, i) =>
      lit(model.coef(i + 1)) * c.cast("decimal(17,6)").cast("double")
    }
    df.withColumn(outCol, terms.foldLeft(lit(model.coef(0)))(_ + _))
  }

  /** A trained minibatch-SGD linear model: intercept-first
    * coefficients, fit size, the FULL-TRAIN MSE ledger (entry 0 = the
    * mean model's MSE — the null baseline; one entry per epoch after
    * it), epochs run, and how many epochs accepted a step. */
  final case class SgdModel(coef: Array[Double], nFit: Long,
                            lossLedger: Seq[Double], epochsRun: Int,
                            acceptedSteps: Int)

  /** The deterministic minibatch-membership predicate of
    * [[sgdLinearFit]], exposed so differential tests re-derive the
    * exact row sets: a row is in epoch `epoch`'s minibatch iff
    * pmod(xxhash64(xxhash64(features…, target), seed + epoch), 1000)
    * < batchMilli. Hash-gate membership (the Sampling convention) —
    * no RNG state, identical under any partitioning, and a fresh
    * pseudo-random subset per epoch. Rows identical in every feature
    * AND the target share minibatch fate (documented; a caller who
    * needs per-row identity hashes an id into a feature).
    *
    * `targetCast` picks which fit's membership this reproduces:
    * "double" (default) matches [[sgdLinearFit]] (numeric target);
    * "string" matches [[sgdSoftmaxFit]], which hashes the LABEL as a
    * string — with the default cast a non-numeric label would cast to
    * NULL and the predicate could not re-derive the softmax row sets. */
  def sgdGate(features: Seq[Column], target: Column, seed: Long,
              epoch: Int, batchMilli: Int,
              targetCast: String = "double"): Column =
    pmod(xxhash64(
      xxhash64((features.map(_.cast("double")) :+
        target.cast(targetCast)): _*),
      lit(seed + epoch)), lit(1000L)) < lit(batchMilli.toLong)

  /** A14f (round 12) — LINEAR REGRESSION BY MINIBATCH STOCHASTIC
    * GRADIENT DESCENT: the one reference training semantic the
    * closed-form families (OLS/IRLS/GBM stumps) didn't exercise is
    * gradient-descent itself (train.py:499-553 trains its torch LSTM by
    * minibatch gradient steps). Each epoch is TWO corpus-bounded
    * aggregation passes over a lazily-checkpointed design frame — the
    * logisticFit shape:
    *   1. the minibatch gradient: gᵢ = (2/|b|)·Σ_b (x·β − y)·zᵢ, summed
    *      over the epoch's hash-gated minibatch ([[sgdGate]] — a
    *      deterministic ~batchMilli/1000 subset, no RNG state), p+1
    *      sums + a count, map-side combined;
    *   2. ONE multi-candidate line-search pass: the FULL-train MSE of
    *      every backtracking candidate β − (lr₀/2ᵏ)·g, k < nHalvings,
    *      evaluated as nHalvings sums in a single aggregation (Armijo
    *      backtracking priced at one scan, not one scan per halving).
    * The largest step whose full-train loss does not exceed the ledger
    * tail is accepted; if none qualifies the epoch is a documented
    * no-op. The ledger is therefore MONOTONE NON-INCREASING BY
    * CONSTRUCTION and starts at the mean model's MSE (β initialized to
    * [ȳ, 0…] — SGD must EARN every improvement over the null model,
    * the a24 beats_null contract).
    *
    * Scale shape: epochs × two map-side-combined scans is the
    * irreducible distributed-SGD cost (parameter-server systems pay the
    * same passes); driver state is p+1 doubles and the ≤(epochs+1)-entry
    * ledger. Coefficients depend on float combine order (double sums) —
    * consumers pin tolerance invariants, never hashes, the
    * [[logisticFit]] contract. Returns None on an empty post-guard
    * input. */
  def sgdLinearFit(df: DataFrame, features: Seq[Column], target: Column,
                   epochs: Int = 10, lr0: Double = 0.5,
                   batchMilli: Int = 250, nHalvings: Int = 8,
                   seed: Long = 42L): Option[SgdModel] = {
    require(features.nonEmpty, "sgdLinearFit needs at least one feature")
    require(epochs >= 1 && lr0 > 0.0 && nHalvings >= 1 &&
      batchMilli >= 1 && batchMilli <= 1000,
      s"bad hyperparameters: epochs=$epochs lr0=$lr0 " +
        s"batchMilli=$batchMilli nHalvings=$nHalvings")
    val p = features.length
    val domain = lit(1e11)
    val guard = features.map(c => c.isNotNull && abs(c) < domain)
      .reduce(_ && _) && target.isNotNull && abs(target) < domain
    val src = df.filter(guard)
      .select((features.map(_.cast("double")) :+
        target.cast("double").as("__y"))
        .zipWithIndex.map { case (c, i) =>
          if (i < p) c.as(s"__z$i") else c
        }: _*)
      .withColumn("__h",
        xxhash64(((0 until p).map(i => col(s"__z$i")) :+ col("__y")): _*))
      .localCheckpoint(eager = false) // one computed copy feeds every pass
    val z: IndexedSeq[Column] = lit(1.0) +: (0 until p).map(i => col(s"__z$i"))
    def lossOf(beta: Array[Double]): Column = {
      val pred = z.zipWithIndex.map { case (c, i) => c * lit(beta(i)) }
        .reduce(_ + _)
      sum((pred - col("__y")) * (pred - col("__y")))
    }
    // init: β = [ȳ, 0…]; ledger(0) = the mean model's MSE, computed by
    // the SAME loss expression every later entry uses
    val init = src.agg(count(lit(1)).as("n"), sum(col("__y")).as("sy")).head()
    val n = init.getAs[Long]("n")
    if (n == 0L) return None
    var beta = new Array[Double](p + 1)
    beta(0) = init.getAs[Double]("sy") / n
    var lastLoss = src.agg(lossOf(beta).as("l")).head().getDouble(0) / n
    val ledger = scala.collection.mutable.ArrayBuffer(lastLoss)
    var accepted = 0
    var epoch = 0
    while (epoch < epochs) {
      val gate = pmod(xxhash64(col("__h"), lit(seed + epoch)), lit(1000L)) <
        lit(batchMilli.toLong)
      val pred = z.zipWithIndex.map { case (c, i) => c * lit(beta(i)) }
        .reduce(_ + _)
      val gAggs = (0 to p).map(i =>
        sum((pred - col("__y")) * z(i)).as(s"g_$i")) :+
        count(lit(1)).as("nb")
      val gRow = src.filter(gate).agg(gAggs.head, gAggs.tail: _*).head()
      val nb = gRow.getAs[Long]("nb")
      if (nb > 0L) {
        val grad = Array.tabulate(p + 1)(i =>
          2.0 * gRow.getAs[Double](s"g_$i") / nb)
        val candidates = Array.tabulate(nHalvings) { k =>
          val lr = lr0 / (1L << k)
          Array.tabulate(p + 1)(i => beta(i) - lr * grad(i))
        }
        val lAggs = candidates.zipWithIndex.map { case (b, k) =>
          lossOf(b).as(s"l_$k")
        }
        val lRow = src.agg(lAggs.head, lAggs.tail.toIndexedSeq: _*).head()
        val hit = (0 until nHalvings).find { k =>
          val l = lRow.getAs[Double](s"l_$k") / n
          !l.isNaN && l <= lastLoss
        }
        hit.foreach { k =>
          beta = candidates(k)
          lastLoss = lRow.getAs[Double](s"l_$k") / n
          accepted += 1
        }
      }
      ledger += lastLoss // a rejected/empty epoch repeats the tail
      epoch += 1
    }
    Some(SgdModel(beta, n, ledger.toSeq, epochs, accepted))
  }

  /** Serve an [[SgdModel]]: prediction = β₀ + Σ βᵢ·xᵢ with the
    * coefficients as plan literals — map-only, scan speed. Plain double
    * casts (NOT the decimal snap of [[linearPredict]]): the fit's
    * ledger is defined over raw doubles, and serve must reproduce the
    * fit arithmetic for the serve-consistency invariant to hold. */
  def sgdPredict(df: DataFrame, model: SgdModel, features: Seq[Column],
                 outCol: String = "prediction"): DataFrame = {
    require(features.length + 1 == model.coef.length,
      s"model has ${model.coef.length - 1} features, got ${features.length}")
    val terms = features.zipWithIndex.map { case (c, i) =>
      lit(model.coef(i + 1)) * c.cast("double")
    }
    df.withColumn(outCol, terms.foldLeft(lit(model.coef(0)))(_ + _))
  }

  /** [[SgdModel]] → one-row frame for parquet persistence. */
  def sgdModelToFrame(spark: org.apache.spark.sql.SparkSession,
                      model: SgdModel): DataFrame = {
    import spark.implicits._
    Seq((model.coef.toSeq, model.nFit, model.lossLedger, model.epochsRun,
      model.acceptedSteps))
      .toDF("coef", "n_fit", "loss_ledger", "epochs_run", "accepted_steps")
  }

  /** Inverse of [[sgdModelToFrame]]. */
  def sgdModelFromFrame(df: DataFrame): SgdModel = {
    val r = df.select(col("coef"), col("n_fit"), col("loss_ledger"),
      col("epochs_run"), col("accepted_steps")).collect()
    require(r.length == 1, s"expected one model row, got ${r.length}")
    SgdModel(r.head.getSeq[Double](0).toArray, r.head.getLong(1),
      r.head.getSeq[Double](2).toSeq, r.head.getInt(3), r.head.getInt(4))
  }

  /** A trained softmax (multinomial logistic) SGD model: classes in
    * lexicographic order, row-major K×(p+1) coefficients (class k's
    * intercept-first row at k·(p+1)), fit size, the full-train mean
    * cross-entropy ledger (entry 0 = the class-prior model — intercepts
    * at ln π_k, slopes 0), epochs run, accepted steps. */
  final case class SoftmaxModel(classes: Seq[String], coef: Array[Double],
                                nFit: Long, lossLedger: Seq[Double],
                                epochsRun: Int, acceptedSteps: Int)

  /** A14g (round 12) — SOFTMAX CLASSIFICATION BY MINIBATCH SGD: the
    * multi-output face of [[sgdLinearFit]] (train.py:499-553's gradient
    * loop, now with the cross-entropy objective the reference's
    * classifier heads train under). Same two-pass epoch shape, with
    * every sum fanned out across K classes:
    *   1. minibatch gradient: ∂L/∂β_kj = (1/|b|)·Σ_b (p_k − 1[y=k])·z_j
    *      — K·(p+1) sums + a count in ONE hash-gated aggregation
    *      (max-subtracted softmax, so exp never overflows);
    *   2. ONE line-search pass pricing every backtracking candidate's
    *      full-train mean cross-entropy (nHalvings × one log-sum-exp
    *      expression per candidate, single scan).
    * β starts at the CLASS-PRIOR model (intercepts ln π_k, slopes 0) —
    * ledger entry 0 is the prior's cross-entropy and SGD must earn
    * every improvement; the ledger is monotone non-increasing by
    * construction (a worsening epoch is a documented no-op).
    *
    * Scale shape: epochs × two map-side-combined scans with
    * K·(p+1)-bounded shuffle payloads; driver state is the coefficient
    * matrix. Class domain is collected once and must be small
    * (`maxClasses` guard — a label column with corpus-scale cardinality
    * is a key, not a class). Coefficients are float-combine-order
    * dependent — consumers pin tolerance invariants, never hashes. */
  def sgdSoftmaxFit(df: DataFrame, features: Seq[Column], label: Column,
                    epochs: Int = 10, lr0: Double = 0.5,
                    batchMilli: Int = 250, nHalvings: Int = 8,
                    seed: Long = 42L,
                    maxClasses: Int = 100): Option[SoftmaxModel] = {
    require(features.nonEmpty, "sgdSoftmaxFit needs at least one feature")
    require(epochs >= 1 && lr0 > 0.0 && nHalvings >= 1 &&
      batchMilli >= 1 && batchMilli <= 1000 && maxClasses >= 2,
      s"bad hyperparameters: epochs=$epochs lr0=$lr0 " +
        s"batchMilli=$batchMilli nHalvings=$nHalvings maxClasses=$maxClasses")
    val p = features.length
    val domain = lit(1e11)
    val guard = features.map(c => c.isNotNull && abs(c) < domain)
      .reduce(_ && _) && label.isNotNull
    val src = df.filter(guard)
      .select((features.map(_.cast("double")) :+
        label.cast("string").as("__y"))
        .zipWithIndex.map { case (c, i) =>
          if (i < p) c.as(s"__z$i") else c
        }: _*)
      .withColumn("__h",
        xxhash64(((0 until p).map(i => col(s"__z$i")) :+ col("__y")): _*))
      .localCheckpoint(eager = false)
    // bounded class domain + priors in one pass
    val classRows = src.groupBy(col("__y")).agg(count(lit(1)).as("n"))
      .orderBy(col("__y")).collect()
    if (classRows.isEmpty) return None
    require(classRows.length <= maxClasses,
      s"label has ${classRows.length} distinct values > maxClasses=" +
        s"$maxClasses — a corpus-cardinality label is a key, not a class")
    val classes = classRows.map(_.getString(0)).toSeq
    val counts = classRows.map(_.getLong(1))
    val k = classes.length
    // a 1-class label has nothing to discriminate — and greatest(ls: _*)
    // with one logit would die deep in analysis with 'GREATEST requires
    // at least two arguments' instead of saying why (round 15)
    require(k >= 2,
      s"softmax needs at least 2 distinct label classes, got $k " +
        s"('${classes.headOption.getOrElse("")}')")
    val n = counts.sum
    val z: IndexedSeq[Column] = lit(1.0) +: (0 until p).map(i => col(s"__z$i"))
    def logits(beta: Array[Double]): IndexedSeq[Column] =
      (0 until k).map { c =>
        z.zipWithIndex.map { case (x, j) => x * lit(beta(c * (p + 1) + j)) }
          .reduce(_ + _)
      }
    // numerically-stable mean cross-entropy: Σ_rows [m + ln Σ exp(z_c−m)
    // − z_y] with m = max_c z_c
    def lossOf(beta: Array[Double]): Column = {
      val ls = logits(beta)
      val m = greatest(ls: _*)
      val lse = log(ls.map(c => exp(c - m)).reduce(_ + _)) + m
      // exactly one class matches (__y drawn from the collected domain)
      val zy = classes.zip(ls).foldRight(lit(0.0): Column) {
        case ((cls, c), acc) => when(col("__y") === cls, c).otherwise(acc)
      }
      sum(lse - zy)
    }
    var beta = new Array[Double](k * (p + 1))
    for (c <- 0 until k) beta(c * (p + 1)) = math.log(counts(c).toDouble / n)
    var lastLoss = src.agg(lossOf(beta).as("l")).head().getDouble(0) / n
    val ledger = scala.collection.mutable.ArrayBuffer(lastLoss)
    var accepted = 0
    var epoch = 0
    while (epoch < epochs) {
      val gate = pmod(xxhash64(col("__h"), lit(seed + epoch)), lit(1000L)) <
        lit(batchMilli.toLong)
      val ls = logits(beta)
      val m = greatest(ls: _*)
      val exps = ls.map(c => exp(c - m))
      val denom = exps.reduce(_ + _)
      val gAggs = (for (c <- 0 until k; j <- 0 to p) yield {
        val resid = exps(c) / denom -
          when(col("__y") === classes(c), lit(1.0)).otherwise(lit(0.0))
        sum(resid * z(j)).as(s"g_${c}_$j")
      }) :+ count(lit(1)).as("nb")
      val gRow = src.filter(gate).agg(gAggs.head, gAggs.tail: _*).head()
      val nb = gRow.getAs[Long]("nb")
      if (nb > 0L) {
        val grad = Array.tabulate(k * (p + 1)) { i =>
          gRow.getAs[Double](s"g_${i / (p + 1)}_${i % (p + 1)}") / nb
        }
        val candidates = Array.tabulate(nHalvings) { h =>
          val lr = lr0 / (1L << h)
          Array.tabulate(k * (p + 1))(i => beta(i) - lr * grad(i))
        }
        val lAggs = candidates.zipWithIndex.map { case (b, h) =>
          lossOf(b).as(s"l_$h")
        }
        val lRow = src.agg(lAggs.head, lAggs.tail.toIndexedSeq: _*).head()
        val hit = (0 until nHalvings).find { h =>
          val l = lRow.getAs[Double](s"l_$h") / n
          !l.isNaN && l <= lastLoss
        }
        hit.foreach { h =>
          beta = candidates(h)
          lastLoss = lRow.getAs[Double](s"l_$h") / n
          accepted += 1
        }
      }
      ledger += lastLoss
      epoch += 1
    }
    Some(SoftmaxModel(classes, beta, n, ledger.toSeq, epochs, accepted))
  }

  /** Serve a [[SoftmaxModel]]: per-class probability columns
    * `p_<class>` (max-subtracted softmax — the fit's arithmetic) plus
    * the argmax class (`predicted_class`, ties to the lexicographically
    * first class — deterministic). Map-only, coefficients as plan
    * literals. */
  def sgdSoftmaxPredict(df: DataFrame, model: SoftmaxModel,
                        features: Seq[Column]): DataFrame = {
    val p = features.length
    require((p + 1) * model.classes.length == model.coef.length,
      s"model expects ${model.coef.length / model.classes.length - 1} " +
        s"features, got $p")
    val z: IndexedSeq[Column] =
      lit(1.0) +: features.map(_.cast("double")).toIndexedSeq
    val ls = model.classes.indices.map { c =>
      z.zipWithIndex.map { case (x, j) =>
        x * lit(model.coef(c * (p + 1) + j)) }.reduce(_ + _)
    }
    val m = greatest(ls: _*)
    val exps = ls.map(c => exp(c - m))
    val denom = exps.reduce(_ + _)
    // probabilities referenced as EXPRESSIONS, never re-resolved through
    // col(s"p_$cls") (round 15): class labels are data — one label with
    // a dot or backtick parsed as a struct access and broke the argmax
    // at analysis time
    val probs = model.classes.zip(exps.map(_ / denom))
    val withP = probs.foldLeft(df) {
      case (acc, (cls, e)) => acc.withColumn(s"p_$cls", e)
    }
    val best = probs.foldLeft(lit(null).cast("string")) {
      case (acc, (cls, pc)) =>
        when(acc.isNull &&
          probs.map { case (_, po) => pc >= po }.reduce(_ && _),
          lit(cls)).otherwise(acc)
    }
    withP.withColumn("predicted_class", best)
  }

  /** [[SoftmaxModel]] → one-row frame for parquet persistence. */
  def softmaxModelToFrame(spark: org.apache.spark.sql.SparkSession,
                          model: SoftmaxModel): DataFrame = {
    import spark.implicits._
    Seq((model.classes, model.coef.toSeq, model.nFit, model.lossLedger,
      model.epochsRun, model.acceptedSteps))
      .toDF("classes", "coef", "n_fit", "loss_ledger", "epochs_run",
        "accepted_steps")
  }

  /** Inverse of [[softmaxModelToFrame]]. */
  def softmaxModelFromFrame(df: DataFrame): SoftmaxModel = {
    val r = df.select(col("classes"), col("coef"), col("n_fit"),
      col("loss_ledger"), col("epochs_run"), col("accepted_steps"))
      .collect()
    require(r.length == 1, s"expected one model row, got ${r.length}")
    SoftmaxModel(r.head.getSeq[String](0).toSeq,
      r.head.getSeq[Double](1).toArray, r.head.getLong(2),
      r.head.getSeq[Double](3).toSeq, r.head.getInt(4), r.head.getInt(5))
  }

  /** Per-group Pearson correlation, deterministically: the built-in
    * `corr()` sums doubles in partition order (last-ulp nondeterminism
    * under any distributed plan — the round-1 hash-failure class), so
    * this uses the [[fitAr1]] machinery instead: five decimal-exact sums
    * under the |·| < 1e11 domain guard, then ONE fixed double expression
    * `(n·Σxy − ΣxΣy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))` — sqrt is
    * IEEE-correctly-rounded, so any engine agrees bitwise. Zero-variance
    * groups (either side) emit NULL (undefined correlation — the
    * convention `corr()` itself uses); n ≥ 2 required. */
  def pearson(df: DataFrame, key: Seq[String],
              x: Column, y: Column): DataFrame = {
    val domain = lit(1e11)
    val xd = x.cast("decimal(17,6)")
    val yd = y.cast("decimal(17,6)")
    df.filter(x.isNotNull && y.isNotNull &&
        abs(x) < domain && abs(y) < domain)
      .groupBy(key.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(xd).cast("double").as("sx"),
        sum(yd).cast("double").as("sy"),
        sum((xd * yd).cast("decimal(38,6)")).cast("double").as("sxy"),
        sum((xd * xd).cast("decimal(38,6)")).cast("double").as("sxx"),
        sum((yd * yd).cast("decimal(38,6)")).cast("double").as("syy"))
      .filter(col("n") >= 2)
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("corr_xy",
        when(col("vx") > 0.0 && col("vy") > 0.0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("vx")) * sqrt(col("vy")))))
      .select((key.map(col) :+ col("n") :+ col("corr_xy")): _*)
  }

  /** A6 — per-group regression metrics (train.py:233-269): R², MSE, n.
    * Single-pass algebraic form: ss_tot = Σa² − n·mean(a)², ss_res =
    * Σ(a−p)². Groups with n<2 are skipped; ss_tot==0 → R²=−1. All built-in
    * partial aggregates — no UDAF, map-side combine for free.
    *
    * Determinism: double partial sums are summation-order dependent, so a
    * distributed sum differs in the last ulp run-to-run and engine-to-engine
    * (the round-1 hash failure). Inputs are therefore cast to DECIMAL(15,6)
    * — exact and order-independent under any partial-aggregation plan —
    * and only the final per-group arithmetic runs in double, with a fixed
    * expression shape so any engine evaluating the same IEEE ops gets
    * bit-identical results. A scale-6 decimal cast of a double can never
    * land on a rounding tie (x.5e-6 is not dyadic), so HALF_UP vs
    * round-nearest engines agree on the cast too. */
  def regressionMetrics(df: DataFrame, key: Seq[String],
                        actual: Column, pred: Column): DataFrame = {
    // DECIMAL(17,6) is the widest input whose DIFFERENCE'S square stays
    // inside precision 38 without precision-loss rounding ((a−p) gains a
    // digit → (18,6); its square is (37,12)), so the domain is |x| < 1e11.
    // Values outside it are EXCLUDED by the same predicate that feeds the
    // count — letting the cast overflow instead would silently drop rows
    // from the sums while Samples still counted them (or throw under
    // ANSI).
    //
    // GROUP-SUM headroom (advice r2): each squared term is re-scaled to
    // DECIMAL(38,6) before summing — one exact decimal HALF_UP rounding
    // at 1e-6, identical in any decimal engine. Summing the raw (37,12)
    // squares would cap a group at ~10³ worst-case-magnitude rows
    // (1e26 capacity / 4e22 max term) — a real 100-TB hazard; at scale 6
    // the capacity is 1e32, i.e. ~2.5e9 rows per group at the domain
    // bound and ~10²⁰ at typical |x| ≤ 1e6. sum_a's (27,6) result holds
    // ~1e10 worst-case rows — documented bound, not re-scaled (its terms
    // are 1e11× smaller than the squares').
    val domain = lit(1e11)
    val a = actual.cast("decimal(17,6)")
    val p = pred.cast("decimal(17,6)")
    df.filter(actual.isNotNull && pred.isNotNull &&
        abs(actual) < domain && abs(pred) < domain)
      .groupBy(key.map(col): _*)
      .agg(
        count(lit(1)).as("Samples"),
        sum(((a - p) * (a - p)).cast("decimal(38,6)")).cast("double").as("ss_res"),
        sum((a * a).cast("decimal(38,6)")).cast("double").as("sum_a2"),
        sum(a).cast("double").as("sum_a"))
      .filter(col("Samples") >= 2)
      .withColumn("mean_a", col("sum_a") / col("Samples"))
      .withColumn("ss_tot", col("sum_a2") - col("Samples") * col("mean_a") * col("mean_a"))
      .withColumn("R2",
        when(col("ss_tot") === 0.0, lit(-1.0))
          .otherwise(lit(1.0) - col("ss_res") / col("ss_tot")))
      .withColumn("MSE", col("ss_res") / col("Samples"))
      .drop("ss_res", "sum_a2", "sum_a", "mean_a", "ss_tot")
  }

  /** Exactly-trained decision stump (depth-1 CART): over candidate splits
    * `x ≤ t` for every distinct value t of the integer feature, pick the
    * one minimizing weighted Gini impurity, tie-broken to the smallest t.
    * The classic first step past the closed-form linear family
    * ([[fitAr1]]/[[fitAr2]]) — a trained nonlinear classifier whose
    * training is pure integer aggregation, so (unlike gradient-descent
    * models) an external engine re-derives the SAME model bit-for-bit.
    *
    * Determinism: all counts are exact BIGINTs; weighted Gini of a split
    * is the rational num/den with num = (nL²−l1²−l0²)·nR + (nR²−r1²−r0²)·nL
    * and den = nL·nR. The ordering key is the double quotient of the two
    * exact integers: both are ≤ n³ < 2⁵³ for n up to ~2M rows, hence
    * exactly representable, and IEEE division is correctly rounded — any
    * engine computes the identical double. Beyond ~2M rows switch the
    * products to decimal(38,0) and compare by cross-multiplication.
    *
    * Scale design (100 TB): the per-threshold aggregate shuffles on t with
    * map-side combine — the exchange carries at most one row per DISTINCT
    * feature value, so the cumulative window that follows is bounded by
    * the feature's cardinality (integerized features: thousands), not by
    * the data; its single-partition sort is over that tiny frame. The
    * final argmin is a TakeOrderedAndProject (no global sort
    * materialization).
    *
    * Output (1 row): threshold (the trained split), n_left/pos_left/
    * n_right/pos_right (the leaf class-count model — predict the majority
    * class of the landing leaf), n_correct (training accuracy numerator).
    * Degenerate splits (empty side) are excluded; an input with a single
    * distinct feature value yields zero rows (no valid split). */
  def decisionStump(df: DataFrame, feature: Column, label: Column): DataFrame = {
    val per = df.select(feature.as("t"),
        when(label, 1L).otherwise(0L).as("y"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val cumW = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
    per.select(col("t"),
        sum(col("cnt")).over(cumW).as("nl"),
        sum(col("pos")).over(cumW).as("l1"))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("n")) // right side non-empty; left always is
      .withColumn("l0", col("nl") - col("l1"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("r1", col("p") - col("l1"))
      .withColumn("r0", col("nr") - col("r1"))
      .withColumn("cost",
        ((col("nl") * col("nl") - col("l1") * col("l1") - col("l0") * col("l0")) * col("nr")
          + (col("nr") * col("nr") - col("r1") * col("r1") - col("r0") * col("r0")) * col("nl"))
          .cast("double") / (col("nl") * col("nr")).cast("double"))
      .orderBy(col("cost"), col("t"))
      .limit(1)
      .select(col("t").as("threshold"),
        col("nl").as("n_left"), col("l1").as("pos_left"),
        col("nr").as("n_right"), col("r1").as("pos_right"),
        (greatest(col("l1"), col("l0")) + greatest(col("r1"), col("r0")))
          .as("n_correct"))
  }

  /** One [[decisionStump]] PER GROUP — the "many small models" training
    * shape ([[fitAr1]]'s convention applied to the stump): every group
    * trains its own split over its own distinct feature values, all
    * groups in one pass. Groups where no valid split exists (a single
    * distinct feature value) emit no row, like the global form.
    *
    * Scale: the per-(group, threshold) aggregate and the cumulative
    * window both key on the GROUP — the window sorts within a group's
    * distinct thresholds only (feature-cardinality-bounded, thousands),
    * never globally; the per-group totals ride the same window (frame =
    * whole partition) instead of a join; the argmin is a declarative
    * `min_by` with map-side partial combine. A skewed group is one hot
    * window key — pre-split upstream via [[hotKeys]] if that matters. */
  def decisionStumpPerGroup(df: DataFrame, groups: Seq[String],
                            feature: Column, label: Column): DataFrame = {
    require(groups.nonEmpty, "groups required (use decisionStump for global)")
    // Internal projection names — a group column spelled like ANY of the
    // intermediates below would be silently withColumn-overwritten (the
    // closing groupBy would then group on the corrupted column) or die
    // in a deep ambiguous-reference failure instead of this loud guard
    // (the FuzzyJoin/curriculumOrder convention). Round 15: the list
    // covers every name this pipeline materializes, not just t/y.
    val reserved = groups.intersect(Seq("t", "y", "cnt", "pos", "nl", "l1",
      "l0", "n", "p", "nr", "r1", "r0", "cost"))
    require(reserved.isEmpty, s"reserved column names $reserved in groups")
    val gc = groups.map(col)
    val per = df.select((feature.as("t") +: when(label, 1L).otherwise(0L).as("y") +: gc): _*)
      .groupBy(col("t") +: gc: _*)
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val part = Window.partitionBy(gc: _*)
    val cumW = part.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("nl", sum(col("cnt")).over(cumW))
      .withColumn("l1", sum(col("pos")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(allW))
      .withColumn("p", sum(col("pos")).over(allW))
      .filter(col("nl") < col("n"))
      .withColumn("l0", col("nl") - col("l1"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("r1", col("p") - col("l1"))
      .withColumn("r0", col("nr") - col("r1"))
      .withColumn("cost",
        ((col("nl") * col("nl") - col("l1") * col("l1") - col("l0") * col("l0")) * col("nr")
          + (col("nr") * col("nr") - col("r1") * col("r1") - col("r0") * col("r0")) * col("nl"))
          .cast("double") / (col("nl") * col("nr")).cast("double"))
      .groupBy(gc: _*)
      .agg(min_by(
        struct(col("t"), col("nl"), col("l1"), col("nr"), col("r1"),
          (greatest(col("l1"), col("l0")) + greatest(col("r1"), col("r0")))
            .as("nc")),
        struct(col("cost"), col("t"))).as("b"))
      .select(gc ++ Seq(
        col("b.t").as("threshold"),
        col("b.nl").as("n_left"), col("b.l1").as("pos_left"),
        col("b.nr").as("n_right"), col("b.r1").as("pos_right"),
        col("b.nc").as("n_correct")): _*)
  }

  /** A21d — one REGRESSION stump per group: a depth-1 regression tree
    * (exactly one round of [[gbmFit]] at lr = 1) trained independently
    * per group. This is the per-group "xgb" branch of the routed
    * pipeline — the reference trains an XGBoost model per
    * (Currency, Event) group (fastapi model/ML Pipeline/train.py:377-394,
    * 453); its smallest exact relational instance is the single
    * SSE-minimizing split with mean-valued leaves, which IS what each
    * xgboost-hist round builds.
    *
    * Determinism (the [[fitAr1]] contract, so the FIT — not just the
    * serve — is re-derivable cross-engine): the target snaps to
    * DECIMAL(17,6) under the |·| < 1e11 domain guard; the
    * per-(group, threshold) sums AND both cumulative sums stay decimal
    * (exact under any combine order); only the final gain/leaf-mean
    * arithmetic runs in double with a fixed IEEE shape
    * (gain = sl²/nl + sr²/nr, the variance-reduction objective); ties
    * break to the smallest threshold.
    *
    * Scale follows [[decisionStumpPerGroup]]: the exchange carries one
    * row per DISTINCT (group, feature value) — map-side combined — the
    * cumulative window sorts within a group's own thresholds only, and
    * the argmax is a declarative min_by with partial combine; no global
    * sort, no driver loop, a million groups train in one pass. Groups
    * with a single distinct feature value emit no row (no valid split —
    * callers fall back to their untrained-group branch). */
  def regressionStumpPerGroup(df: DataFrame, groups: Seq[String],
                              feature: Column, target: Column): DataFrame = {
    require(groups.nonEmpty, "groups required")
    // every materialized intermediate below (round 15, see
    // decisionStumpPerGroup)
    val reserved = groups.intersect(Seq("t", "y", "cnt", "sy", "nl", "sl",
      "n", "s", "nr", "sld", "srd", "cost"))
    require(reserved.isEmpty, s"reserved column names $reserved in groups")
    val domain = lit(1e11)
    val gc = groups.map(col)
    val per = df
      .filter(feature.isNotNull && target.isNotNull &&
        abs(feature) < domain && abs(target) < domain)
      .select((feature.as("t") +:
        target.cast("decimal(17,6)").as("y") +: gc): _*)
      .groupBy(col("t") +: gc: _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col("y")).cast("decimal(38,6)").as("sy"))
    val part = Window.partitionBy(gc: _*)
    val cumW = part.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = part.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("nl", sum(col("cnt")).over(cumW))
      .withColumn("sl", sum(col("sy")).over(cumW).cast("decimal(38,6)"))
      .withColumn("n", sum(col("cnt")).over(allW))
      .withColumn("s", sum(col("sy")).over(allW).cast("decimal(38,6)"))
      .filter(col("nl") < col("n")) // right side non-empty; left always is
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("sld", col("sl").cast("double"))
      .withColumn("srd", (col("s") - col("sl")).cast("double"))
      // negated gain so the shared min_by(struct(cost, t)) idiom picks
      // max gain, smallest threshold on ties
      .withColumn("cost",
        -(col("sld") * col("sld") / col("nl") +
          col("srd") * col("srd") / col("nr")))
      .groupBy(gc: _*)
      .agg(min_by(
        struct(col("t"), (col("sld") / col("nl")).as("lm"),
          (col("srd") / col("nr")).as("rm"),
          col("nl"), col("nr"), col("n")),
        struct(col("cost"), col("t"))).as("b"))
      .select(gc ++ Seq(
        col("b.t").as("threshold"),
        col("b.lm").as("left_mean"), col("b.rm").as("right_mean"),
        col("b.nl").as("n_left"), col("b.nr").as("n_right"),
        col("b.n").as("n_fit")): _*)
  }

  /** Rolling-origin (expanding-window) backtest — the standard
    * time-series model-evaluation protocol the reference's single
    * chronological validate split approximates (train.py:341-360 splits
    * once; Tashman 2000 re-forecasts from k successive origins): each
    * group's history is cut into `nFolds` chronological folds by the W5
    * floor arithmetic, and every fold f ≥ 1 is scored against a model
    * trained ONLY on folds < f — here the expanding-window mean model,
    * the backtest baseline whose training is pure aggregation, so an
    * external engine re-derives the SAME backtest bit-for-bit (the A6
    * determinism contract: decimal-exact sums, one fixed double
    * expression at the end).
    *
    * Output: one row per (group, fold ≥ 1) — n_test, n_train (rows in
    * earlier folds), pred (the expanding-mean forecast), mse (per-fold
    * test error, via MSE = Σv²/n − 2·pred·Σv/n + pred², exact sums).
    * Fold 0 has no training window and is not scored; groups shorter
    * than nFolds leave later folds empty (absent rows, never NULL
    * metrics).
    *
    * Scale shape: one shuffle on the group key (the fold index is a
    * PER-GROUP window over its own ordered rows — partitioned, never
    * global), then an aggregation to ≤ nFolds rows per group and a
    * window over that nFolds-bounded frame. Cost is indifferent to
    * group count and linear in rows — the 100 TB shape. */
  def rollingOriginBacktest(df: DataFrame, key: Seq[String],
                            order: Seq[String], value: Column,
                            nFolds: Int): DataFrame = {
    require(nFolds >= 2, s"nFolds must be >= 2, got $nFolds")
    val domain = lit(1e11)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(order.map(col): _*)
    val wcnt = Window.partitionBy(key.map(col): _*)
    val vd = value.cast("decimal(17,6)")
    val folded = df
      .filter(value.isNotNull && abs(value) < domain)
      .select((key.map(col) ++ order.map(col) :+ vd.as("__v")): _*)
      .withColumn("__rn", row_number().over(w).cast("long") - 1)
      .withColumn("__cnt", count(lit(1)).over(wcnt))
      // W5 boundary arithmetic: rn*k and cnt are exact integers < 2^53,
      // the double quotient is correctly rounded, floor of it exact —
      // any engine lands every row in the same fold
      .withColumn("fold",
        least(lit(nFolds - 1).cast("long"),
          floor(col("__rn") * nFolds / col("__cnt"))))
    val perFold = folded
      .groupBy((key.map(col) :+ col("fold")): _*)
      .agg(
        count(lit(1)).as("n_test"),
        sum(col("__v")).as("__s1"),
        sum((col("__v") * col("__v")).cast("decimal(38,6)")).as("__s2"))
    val wf = Window.partitionBy(key.map(col): _*)
      .orderBy(col("fold"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perFold
      .withColumn("__cum_n", sum(col("n_test")).over(wf))
      .withColumn("__cum_s1", sum(col("__s1")).over(wf))
      .filter(col("__cum_n").isNotNull && col("__cum_n") >= 1)
      .withColumn("n_train", col("__cum_n").cast("long"))
      .withColumn("pred",
        col("__cum_s1").cast("double") / col("n_train"))
      .withColumn("mse",
        col("__s2").cast("double") / col("n_test") -
          lit(2.0) * col("pred") *
            (col("__s1").cast("double") / col("n_test")) +
          col("pred") * col("pred"))
      .drop("__s1", "__s2", "__cum_n", "__cum_s1")
  }

  /** Out-of-fold smoothed target encoding (round 9) — the leakage-safe
    * categorical encoder every tabular training pipeline needs: the
    * encoding a row sees EXCLUDES its own fold's target values,
    *   te = (S_cat − S_{cat,fold} + m·prior) / (n_cat − n_{cat,fold} + m)
    * with `prior` the global target mean and `m` the smoothing
    * pseudo-count (the standard mean-encoding regularizer; a category
    * seen only in the row's own fold falls back to the prior exactly).
    *
    * Scale shape: ONE shuffle on (cat, fold) for the sufficient
    * statistics (map-side combined), category totals via a window over
    * the tiny per-(cat,fold) frame — never a second scan — and the
    * join back to rows is on (cat, fold) where AQE broadcasts the
    * statistics side (cardinality = |cats|·k, data-independent).
    * Determinism: all sums DECIMAL(17,6) (A6 convention), the final
    * arithmetic is single IEEE ops on identically-derived doubles.
    *
    * `fold` must be a deterministic pure function of the row (e.g.
    * `pmod(col("id"), lit(k))`) so train/serve agree. */
  def targetEncode(
      df: DataFrame,
      cat: Column,
      target: Column,
      fold: Column,
      smoothing: Double): DataFrame = {
    val stats = df
      .groupBy(cat.as("__cat"), fold.as("__fold"))
      .agg(sum(target.cast("decimal(17,6)")).as("__s"),
        count(target).as("__n"))
    val wc = Window.partitionBy(col("__cat"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val oof = stats
      .withColumn("__cat_s", sum(col("__s")).over(wc))
      .withColumn("__cat_n", sum(col("__n")).over(wc))
    val prior = df.agg(
      (sum(target.cast("decimal(17,6)")).cast("double") /
        count(target)).as("__prior"))
    df.withColumn("__cat", cat).withColumn("__fold", fold)
      .join(oof, Seq("__cat", "__fold"), "left")
      .crossJoin(broadcast(prior))
      .withColumn("te",
        ((col("__cat_s") - col("__s")).cast("double") +
          lit(smoothing) * col("__prior")) /
          ((col("__cat_n") - col("__n")).cast("double") + lit(smoothing)))
      .drop("__cat", "__fold", "__s", "__n", "__cat_s", "__cat_n", "__prior")
  }

  /** Equi-depth discretization (round 9): per-group TYPE-1 (lower order
    * statistic) quantile cut points — cut_p = value at rank ceil(p·n) —
    * and bin(x) = #cuts strictly below x. Order statistics instead of
    * interpolation for the a18 reason: a value AT a rank is
    * bitwise-identical across engines, an interpolated value is not
    * (Spark computes v_l·(1−f)+v_h·f, DuckDB v_l+(v_h−v_l)·f — equal
    * algebra, different last-ulp). Nulls are excluded from ranking and
    * bin to 0 (the CASE's ELSE), matching the SQL oracle shape.
    *
    * Scale: one per-group sort window for the ranks (the a18-accepted
    * exact path; swap in approx_percentile at the call site when a
    * single group outgrows a partition), then the cut frame is
    * |groups|×|probs| — broadcast back, never a second data shuffle. */
  def quantileBins(
      df: DataFrame,
      group: Seq[String],
      value: Column,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p < 1.0),
      s"probs must lie strictly inside (0,1): $probs")
    val gc = group.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(value)
    val frame = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = df.filter(value.isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(frame))
    val cutCols = probs.zipWithIndex.map { case (p, i) =>
      max(when(col("__rn") ===
        ceil(lit(p) * col("__n")).cast("long"), value)).as(s"cut_$i")
    }
    val cuts = ranked.groupBy(gc: _*).agg(cutCols.head, cutCols.tail: _*)
    val bin = probs.indices
      .map(i => when(value > col(s"cut_$i"), 1).otherwise(0))
      .reduce(_ + _)
    // null-safe LEFT join (round 15): the inner using-join dropped every
    // row of a null-group-key partition (equi-join never matches null
    // keys) and every row of an all-null-value group (no cuts row) —
    // silent data loss in a transform documented to preserve rows. An
    // unmatched row's cuts are NULL, so its bin is 0 — the same 'nulls
    // bin to 0' rule null values already follow.
    val l = df.alias("__qb_l"); val r = broadcast(cuts).alias("__qb_r")
    val cond =
      if (group.isEmpty) lit(true)
      else group.map(k => col(s"__qb_l.$k") <=> col(s"__qb_r.$k"))
        .reduce(_ && _)
    l.join(r, cond, "left")
      .select(df.columns.map(c => col(s"__qb_l.$c")) ++
        probs.indices.map(i => col(s"__qb_r.cut_$i")): _*)
      .withColumn("bin", bin)
  }

  /** Additive weekly seasonal decomposition (round 9):
    *   value = group_mean + dow_effect + residual,
    * with dow_effect = mean(value | group, ISO weekday) − group_mean —
    * the first-order calendar decomposition an economic-events series
    * begs for (NFP lands Fridays, CPI mid-week: a "day effect" is
    * structure, not noise, and a model that never sees it eats it as
    * variance). Means are decimal-exact window aggregates (A6
    * convention); the two windows share the group hash partitioning,
    * so the whole decomposition is one shuffle. Null values keep their
    * row with NULL effect/residual. */
  def seasonalDecompose(df: DataFrame, group: Seq[String], ts: Column,
                        value: Column): DataFrame = {
    val gc = group.map(col)
    val isodow = (weekday(ts) + lit(1)).cast("long")
    val wg = Window.partitionBy(gc: _*)
    val wd = Window.partitionBy(gc :+ col("isodow"): _*)
    def mean(w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(value.cast("decimal(17,6)")).over(w).cast("double") /
        count(value).over(w).cast("double")
    df.withColumn("isodow", isodow)
      .withColumn("group_mean", mean(wg))
      .withColumn("dow_mean", mean(wd))
      .withColumn("dow_effect", col("dow_mean") - col("group_mean"))
      .withColumn("residual", value - col("dow_mean"))
      .drop("dow_mean")
  }

  /** Truncated exponential moving average (round 9): per-group
    *   ewma_t = Σ_{j<min(t,L)} α(1−α)^j · x_{t−j}  /  Σ_{j} α(1−α)^j
    * — the L-lag truncation of the recursive EWMA (pandas
    * `ewm(alpha).mean()` up to the (1−α)^L tail, which at the default
    * α=0.3, L=8 is < 6% and renormalized away by the denominator).
    * Truncating makes the operator a fixed-width WINDOW FRAME instead
    * of an unbounded sequential recursion — one per-group sort window,
    * no sequential scan, the form that distributes.
    *
    * Determinism: the weights are driver-computed constants shared
    * with any oracle as literals; each term x·w quantizes to BIGINT
    * 1e-12 units (the pageRank recipe) so the frame reduction is an
    * exact integer fold, and the result is a ratio of two exact
    * integer sums. Nulls must be excluded upstream (a null inside the
    * frame would silently misalign weights — collect_list drops it).
    *
    * Domain: |value| < 1e6 fails LOUD (raise_error) — past that, a
    * term x·w·1e12 can exceed 2⁶³ and silently wrap (the cusum/
    * chi-square overflow class, guarded here the theilSenSlope way);
    * rescale the series upstream for larger magnitudes. */
  def ewma(df: DataFrame, group: Seq[String], order: Seq[Column],
           value: Column, alpha: Double, maxLag: Int): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(maxLag >= 1 && maxLag <= 64, s"maxLag must be in [1,64]: $maxLag")
    val weights = ewmaWeights(alpha, maxLag)
    val warr = array(weights.map(lit): _*)
    val w = Window.partitionBy(group.map(col): _*).orderBy(order: _*)
      .rowsBetween(-(maxLag - 1), 0)
    // loud domain guard BEFORE the frame: a value past 1e6 would wrap
    // the 1e-12-grain BIGINT terms silently (see scaladoc)
    val guarded = when(abs(value) >= lit(1e6),
      raise_error(lit("ewma: |value| >= 1e6 overflows the BIGINT 1e-12 " +
        "quantization — rescale the series upstream")))
      .otherwise(value)
    // frame newest-first so position i pairs with weight α(1−α)^i
    val hist = reverse(collect_list(guarded).over(w))
    val used = slice(warr, lit(1), size(hist))
    val num = aggregate(
      zip_with(hist, used, (x, wt) =>
        round(x * wt * lit(1e12)).cast("long")),
      lit(0L), (acc, t) => acc + t)
    val den = aggregate(
      transform(used, wt => round(wt * lit(1e12)).cast("long")),
      lit(0L), (acc, t) => acc + t)
    df.withColumn("ewma", num.cast("double") / den.cast("double"))
  }

  /** The truncated-EWMA weight table — exposed so an oracle embeds the
    * IDENTICAL constants. */
  def ewmaWeights(alpha: Double, maxLag: Int): Seq[Double] =
    (0 until maxLag).map(j => alpha * math.pow(1 - alpha, j))

  /** [[ewma]] at scale — the skew-bounded form (round 14). The plain
    * form's per-key sort window puts a hot key's every row into ONE
    * task (measured 4.3× on the 50%-hot-key fixture, BENCH_SF1.md, and
    * unbounded at 100 TB). This form has NO per-key window at all:
    *
    *  1. a GLOBAL sequence number over (group ++ order) via
    *     [[indexedByRange]] (range shuffle — the hot key spreads across
    *     partitions because the ordering includes time), re-based per
    *     key with one tiny min-rank aggregate;
    *  2. the L-tap frame becomes an rn-BUCKET BAND JOIN: bucket =
    *     rn div L, each row probes its own and the previous bucket
    *     (≤ 2L candidates, filtered to the exact rn range), weight
    *     index j = rn_cur − rn_hist — literally the shape the w13
    *     DuckDB oracle computes;
    *  3. the same BIGINT 1e-12 quantized fold, so results are
    *     bit-identical to [[ewma]] (spec-pinned; the registered
    *     `w13_ewma_bucketed` row runs against the SAME oracle SQL).
    *
    * Per-(key, bucket) work is O(L²) regardless of key skew. Cost: the
    * range shuffle + size job + one equi-join vs the plain form's one
    * sort shuffle — the documented trade, same as every *_chunked /
    * *_bucketed scale path this round.
    *
    * PRECONDITION (same as [[ewma]], scoped honestly): nulls must be
    * excluded upstream. The two forms degrade DIFFERENTLY on a
    * contract-violating null value — plain `ewma`'s collect_list drops
    * it (misaligning weights), while this form's join keeps the null
    * row's weight in the denominator (its numerator term null-skips) —
    * so the bit-identity claim holds only on null-free inputs, which
    * is the only input either form is defined on. */
  def ewmaBucketed(df: DataFrame, group: Seq[String], order: Seq[String],
                   valueCol: String, alpha: Double, maxLag: Int): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(maxLag >= 1 && maxLag <= 64, s"maxLag must be in [1,64]: $maxLag")
    val weights = ewmaWeights(alpha, maxLag)
    val warr = array(weights.map(lit): _*)
    val RN = "__ewb_rn"; val RN0 = "__ewb_rn0"; val BK = "__ewb_bk"
    val guarded = when(abs(col(valueCol)) >= lit(1e6),
      raise_error(lit("ewma: |value| >= 1e6 overflows the BIGINT 1e-12 " +
        "quantization — rescale the series upstream")))
      .otherwise(col(valueCol))
    val (indexed0, _) = indexedByRange(df, group ++ order, RN, 0)
    val indexed = indexed0.localCheckpoint(eager = false) // feeds 3 consumers
    // null-safe group equality throughout: the plain form's partitionBy
    // treats a null key value as a real group, while a plain equi-join
    // would silently drop its history
    val rebase = indexed.groupBy(group.map(col): _*)
      .agg(min(col(RN)).as(RN0))
    val seqd = {
      val i = indexed.alias("i"); val rb = rebase.alias("rb")
      i.join(rb, group.map(k => col(s"i.$k") <=> col(s"rb.$k")).reduce(_ && _))
        .select(indexed.columns.filter(_ != RN).map(c => col(s"i.$c")) :+
          (col(s"i.$RN") - col(s"rb.$RN0")).as(RN): _*)
        .localCheckpoint(eager = false)
    }
    val bkOf = expr(s"$RN DIV $maxLag")
    val hist = seqd.select(group.map(col) ++ Seq(bkOf.as(BK),
      col(RN).as("__ewb_hrn"), guarded.as("__ewb_hv")): _*)
    val cur = seqd.select(group.map(col) ++ Seq(col(RN),
      explode(array(bkOf, bkOf - 1)).as(BK)): _*)
    val terms = {
      val c = cur.alias("c"); val h = hist.alias("h")
      c.join(h, group.map(k => col(s"c.$k") <=> col(s"h.$k"))
          .reduce(_ && _) && col(s"c.$BK") === col(s"h.$BK"))
        .filter(col("__ewb_hrn").between(col(RN) - (maxLag - 1), col(RN)))
        .withColumn("__ewb_j", (col(RN) - col("__ewb_hrn")).cast("int"))
        .withColumn("__ewb_wt", element_at(warr, col("__ewb_j") + 1))
        .groupBy(group.map(k => col(s"c.$k").as(k)) :+ col(RN): _*)
        .agg(
          sum(round(col("__ewb_hv") * col("__ewb_wt") * lit(1e12)).cast("long"))
            .as("__ewb_num"),
          sum(round(col("__ewb_wt") * lit(1e12)).cast("long")).as("__ewb_den"))
    }
    val s = seqd.alias("s"); val t = terms.alias("t")
    s.join(t, group.map(k => col(s"s.$k") <=> col(s"t.$k"))
        .reduce(_ && _) && col(s"s.$RN") === col(s"t.$RN"))
      .select(seqd.columns.filter(_ != RN).map(c => col(s"s.$c")) :+
        (col("t.__ewb_num").cast("double") /
          col("t.__ewb_den").cast("double")).as("ewma"): _*)
  }

  /** Quantile (rank) transform (round 9): map each row to its group
    * rank scaled to [0, 1] — `(rn−1)/(n−1)` under a caller-supplied
    * TOTAL order (pass a tiebreak column; rank under ties is otherwise
    * partition-dependent). Singleton groups map to 0.5. The
    * distribution-free normalization for heavy-tailed features —
    * where [[minMaxNormalize]] lets one outlier own the scale and
    * z-scores assume moments exist. One per-group sort window. */
  def rankNormalize(df: DataFrame, group: Seq[String],
                    order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "rankNormalize needs an explicit total order")
    val w = Window.partitionBy(group.map(col): _*).orderBy(order: _*)
    val frame = Window.partitionBy(group.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("rank_norm",
        when(col("__n") === 1, lit(0.5))
          .otherwise((col("__rn") - 1).cast("double") /
            (col("__n") - 1).cast("double")))
      .drop("__rn", "__n")
  }

  /** Tail clipping (round 9): winsorize `value` to the per-group
    * [pLo, pHi] type-1 quantile band from [[quantileBins]] — the
    * standard heavy-tail taming before moment-based models (means,
    * OLS) whose sums one outlier can own. Adds `v_winsor` alongside
    * [[quantileBins]]' cut/bin columns; null values stay null. */
  def winsorize(df: DataFrame, group: Seq[String], value: Column,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo < pHi, s"pLo $pLo must be < pHi $pHi")
    quantileBins(df, group, value, Seq(pLo, pHi))
      .withColumn("v_winsor",
        least(greatest(value, col("cut_0")), col("cut_1")))
  }

  /** Robust per-group outlier flagging (round 9): median/MAD z-score —
    * the skew-immune alternative to the mean/std z-score (a20). A point
    * is an outlier when |x − median| > k · 1.4826 · MAD (1.4826 scales
    * MAD to σ under normality; MAD = median of absolute deviations).
    *
    * Exactness: values are quantized to BIGINT micro-units (the a18
    * convention) and both medians come from the k-th-smallest
    * formulation, kept in DOUBLED micro-units (m_lo+m_hi) so the
    * even-count halving never leaves the integers — every quantity in
    * the comparison is an exact integer rendered to double, and the
    * single k·1.4826 multiply is the only rounding step, identical in
    * both engines. Zero-MAD groups degrade naturally: the threshold
    * collapses to 0 and any deviation from the median flags, while the
    * constant group itself stays clean (strict `>`).
    *
    * Scale: two per-group sort windows (median, then deviation median)
    * — the exact path; the group-statistics joins are broadcast-sized
    * (|groups| rows). */
  def madOutliers(
      df: DataFrame,
      group: Seq[String],
      value: Column,
      k: Double): DataFrame =
    madFlag(df, madStats(df, group, value), group, value, k)

  /** The FIT half of [[madOutliers]]: per-group robust statistics
    * `(group…, med2, mad4)` in the exact doubled-micro-unit encoding
    * (med2 = 2·median, mad4 = 4·MAD, both BIGINT micro-units) — a
    * persistable artifact the streaming serve joins against
    * (StreamingModelServe.runMadAnomalyServe). */
  def madStats(df: DataFrame, group: Seq[String], value: Column): DataFrame = {
    val gc = group.map(col)
    def medianDoubled(in: DataFrame, c: Column, out: String): DataFrame = {
      val w = Window.partitionBy(gc: _*).orderBy(c)
      val frame = Window.partitionBy(gc: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      in.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(frame))
        .groupBy(gc: _*)
        .agg((max(when(col("__rn") === expr("(__n + 1) DIV 2"), c)) +
          max(when(col("__rn") === expr("(__n + 2) DIV 2"), c))).as(out))
    }
    val base = df.filter(value.isNotNull)
      .withColumn("__v", round(value * lit(1e6)).cast("long"))
    // med2 = 2·median in micro-units (exact integer)
    val med = medianDoubled(base, col("__v"), "med2")
    val withMed = base.join(broadcast(med), group)
      // |x − median| in doubled micro-units — still exact integers
      .withColumn("__dev2", abs(col("__v") * 2 - col("med2")))
    // mad4 = 2·MAD in doubled micro-units = 4·MAD in micro-units
    medianDoubled(withMed, col("__dev2"), "mad4")
      .join(med, group)
      .select((gc :+ col("med2") :+ col("mad4")): _*)
  }

  /** Probability calibration, isotonic (PAV) over fixed score bins
    * (round 9) — the classifier post-processing step every production
    * scorer needs (a gate that says "0.9" should be right ~90% of the
    * time): scores bin into `nBins` equal-width cells, per-bin label
    * means come from ONE decimal-exact aggregate, and
    * pool-adjacent-violators runs on the DRIVER over the ≤ nBins bin
    * rows (bounded like every other model solve in this file — never
    * row data). Returns the step-function mapping
    * `(bin, n, mean_label, calibrated)`; apply is a broadcast join on
    * the bin id ([[calibrate]]).
    *
    * PAV here is weighted: pooling adjacent violator blocks replaces
    * them with their n-weighted mean, which preserves total label mass
    * and yields the unique monotone least-squares fit. Empty bins get
    * no row (they calibrate via the step function's neighbor at apply
    * time — see [[calibrate]]'s last-known-bin rule). */
  def isotonicBins(df: DataFrame, score: Column, label: Column,
                   nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins must be in [2,1e4]: $nBins")
    val bin = least(floor(score * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1))
    val bins = df
      .filter(score.isNotNull && label.isNotNull &&
        score >= 0.0 && score <= 1.0)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(label.cast("decimal(17,6)")).as("__s"))
      .withColumn("mean_label", col("__s").cast("double") / col("n"))
      .drop("__s")
    val rows = bins.orderBy(col("bin")).collect() // ≤ nBins rows — bounded
    // weighted PAV: stack of (binStart, weight, mean); merge while the
    // top two blocks violate monotonicity
    case class Block(weight: Double, mean: Double, bins: List[Long])
    val blocks = rows.foldLeft(List.empty[Block]) { (acc, r) =>
      var cur = Block(r.getAs[Long]("n").toDouble,
        r.getAs[Double]("mean_label"), List(r.getAs[Long]("bin")))
      var rest = acc
      while (rest.nonEmpty && rest.head.mean >= cur.mean) {
        val top = rest.head
        cur = Block(top.weight + cur.weight,
          (top.weight * top.mean + cur.weight * cur.mean) /
            (top.weight + cur.weight),
          top.bins ++ cur.bins)
        rest = rest.tail
      }
      cur :: rest
    }.reverse
    val cal = blocks.flatMap(b => b.bins.map(_ -> b.mean)).toMap
    import df.sparkSession.implicits._
    val calFrame = cal.toSeq.sortBy(_._1).toDF("bin", "calibrated")
    bins.join(broadcast(calFrame), "bin")
  }

  /** Apply an [[isotonicBins]] mapping to a score column: broadcast
    * join on the bin id; scores falling in a bin unseen at fit time
    * take the nearest FITTED bin at or below (step functions are
    * right-continuous here), or the lowest fitted bin for underflow. */
  def calibrate(df: DataFrame, mapping: DataFrame, score: Column,
                nBins: Int, outCol: String = "calibrated_p"): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins must be in [2,1e4]: $nBins")
    require(!df.columns.contains("__cal_bin"),
      "reserved column name __cal_bin in input")
    // clamp BOTH ends (round 15): least() skips nulls, so a NULL score
    // previously binned to the TOP bin and served the maximum
    // probability; a negative score produced a negative bin the inner
    // join silently dropped. Now: null score → null output row value,
    // out-of-range scores clamp to the boundary bins, and no input row
    // ever vanishes.
    val bin = when(score.isNotNull,
      greatest(lit(0L), least(floor(score * lit(nBins.toDouble))
        .cast("long"), lit(nBins.toLong - 1))))
    // dense serve table: every bin 0..nBins-1 resolved to its step value
    val m = mapping.select(col("bin"), col("calibrated"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    require(m.nonEmpty, "empty calibration mapping")
    val dense = (0L until nBins.toLong).map { b =>
      val atOrBelow = m.takeWhile(_._1 <= b)
      b -> (if (atOrBelow.nonEmpty) atOrBelow.last._2 else m.head._2)
    }
    import df.sparkSession.implicits._
    val serveFrame = dense.toDF("__cal_bin", outCol)
    df.withColumn("__cal_bin", bin)
      .join(broadcast(serveFrame), Seq("__cal_bin"), "left")
      .drop("__cal_bin")
  }

  /** The APPLY half of [[madOutliers]]: flag `df`'s rows against
    * previously-fitted [[madStats]] — a broadcast join (|groups| rows)
    * plus per-row exact-integer arithmetic; map-speed, stateless, so it
    * serves unbounded streams unchanged. Rows whose group is absent
    * from the stats (a key never seen at fit time) flag NULL — the
    * caller decides whether unseen means suspect. */
  def madFlag(df: DataFrame, stats: DataFrame, group: Seq[String],
              value: Column, k: Double): DataFrame = {
    val statCols = group ++ Seq("med2", "mad4")
    require(stats.columns.sorted.toSeq == statCols.sorted,
      s"stats must be a madStats frame ${statCols.mkString("(", ",", ")")}, " +
        s"got ${stats.columns.mkString("(", ",", ")")}")
    df.filter(value.isNotNull)
      .withColumn("__v", round(value * lit(1e6)).cast("long"))
      .join(broadcast(stats), group, "left")
      .withColumn("__dev2", abs(col("__v") * 2 - col("med2")))
      .withColumn("median", col("med2").cast("double") / lit(2e6))
      .withColumn("mad", col("mad4").cast("double") / lit(4e6))
      .withColumn("is_outlier",
        col("__dev2").cast("double") / lit(2e6) >
          lit(k * 1.4826) * col("mad"))
      .drop("__v", "__dev2")
  }

  /** Theil–Sen robust trend per group (round 9; Theil 1950, Sen 1968)
    * — the median of all pairwise slopes: up to ~29% of the points can
    * be arbitrarily corrupted without moving the estimate, which is why
    * it is the standard trend detector for sensor/metric series where
    * OLS (a22's linearFit) chases outliers. The regressor is the
    * series' POSITION index under the caller's total order (1..n —
    * trend per step; rescale externally for per-unit-time slopes).
    *
    * Exactness: values quantize to BIGINT micro-units; each pairwise
    * slope is ONE exactly-rounded division of exact integers
    * ((v_j − v_i)/1e6) / (j − i); the reported slope is the LOWER
    * MEDIAN (rank ⌈m/2⌉ of m slopes under (slope, i, j) — a total
    * order), never an average of two middle values, so identical double
    * multisets give identical answers in any engine — the
    * ft_quantile_bins type-1 lesson applied to a robust estimator.
    *
    * Scale: the pair enumeration is O(n²) PER GROUP by definition —
    * right for the many-short-series shape (the reference's
    * (Currency, Event) panels); `maxGroupRows` fails LOUD when a group
    * exceeds it (the jaccardPairs guard convention — a million-row
    * series would silently generate 5·10¹¹ pairs). The production
    * sibling for long series is linearFit (one p²-bounded pass). */
  def theilSenSlope(df: DataFrame, group: Seq[String], value: Column,
                    orderCols: Seq[Column],
                    maxGroupRows: Long = 10000L): DataFrame = {
    require(maxGroupRows >= 2, s"maxGroupRows must be >= 2: $maxGroupRows")
    val gc = group.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(orderCols: _*)
    val frame = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = df.filter(value.isNotNull)
      .withColumn("__v", round(value * lit(1e6)).cast("long"))
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__i",
        when(col("__n") > maxGroupRows,
          raise_error(concat(lit("theilSenSlope: group exceeds "),
            lit(maxGroupRows).cast("string"),
            lit(" rows — use linearFit for long series"))))
          .otherwise(col("__i")))
      .filter(col("__n") >= 2)
      .select((gc :+ col("__i") :+ col("__v") :+ col("__n")): _*)
    val left = base.select((gc :+ col("__i").as("i") :+
      col("__v").as("vi") :+ col("__n")): _*)
    val right = base.select((gc :+ col("__i").as("j") :+
      col("__v").as("vj")): _*)
    val slopes = left.join(right, group)
      .filter(col("j") > col("i"))
      .withColumn("__s",
        (col("vj") - col("vi")).cast("double") / lit(1e6) /
          (col("j") - col("i")).cast("double"))
    val rankW = Window.partitionBy(gc: _*)
      .orderBy(col("__s"), col("i"), col("j"))
    val cntW = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    slopes
      .withColumn("__r", row_number().over(rankW).cast("long"))
      .withColumn("__m", count(lit(1)).over(cntW))
      .filter(col("__r") === expr("(__m + 1) div 2")) // lower median, exact
      .select((gc :+ col("__n").as("n") :+ col("__m").as("n_pairs") :+
        col("__s").as("ts_slope")): _*)
  }

  /** Offline changepoint detection per group (round 9): the classic
    * CUSUM single-changepoint statistic. For a series x₁..xₙ in
    * (orderCols) order, the cumulative deviation from the series mean is
    *   S_i = Σ_{j≤i} x_j − (i/n)·Σ x_j ,
    * and the most likely single level-shift point is argmax_i |S_i|
    * (Page 1954's CUSUM, in the offline mean-shift form; S_i is, up to a
    * scale factor, the two-sample mean gap between x₁..x_i and the
    * rest). The magnitude |S*|/n is the shift evidence in value units.
    *
    * Exactness (the cross-engine contract): values quantize to BIGINT
    * micro-units (the a18/MAD convention) and the statistic is kept in
    * the n-SCALED form
    *   T_i = n·prefix_i − i·total   (no mean division),
    * computed in DECIMAL(38,0) (DuckDB: HUGEINT): |T| is bounded by
    * 2·n²·max|v·1e6|, which silently wraps Int64 for large groups ×
    * large magnitudes (n~1e5 with |v|~1e6 already crosses 2⁶³) — 38
    * digits carry n²·|v| up to ~1e38 exactly, the same headroom
    * treatment as driftTvd. The argmax compares exact integers either
    * way; ties break to the EARLIEST
    * index (the conventional first-hit report), a total order. The only
    * doubles in the output are one exactly-rounded division each for
    * `cusum_stat` = |T*|/(n·1e6) (the |S*| magnitude) and nothing else —
    * both hash-stable.
    *
    * Output: one row per group `(group…, n, cp_index, cusum_stat)` —
    * cp_index is the 1-based position of the last element of the left
    * segment; join back on a row_number window to recover its timestamp.
    * Groups with n < 2 are dropped (no interior split exists).
    *
    * Scale: one window pass for prefix sums + one aggregate — a single
    * shuffle on the group key; series order is per-group (the W1/EWMA
    * window shape), never a global sort. */
  def cusumChangepoint(
      df: DataFrame,
      group: Seq[String],
      value: Column,
      orderCols: Seq[Column]): DataFrame = {
    val gc = group.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(orderCols: _*)
    val frame = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = df.filter(value.isNotNull)
      .withColumn("__v", round(value * lit(1e6)).cast("long"))
      .withColumn("__i", row_number().over(w))
      .withColumn("__pre", sum(col("__v")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__tot", sum(col("__v")).over(frame))
      // n-scaled CUSUM at i — exact integers end to end, in DECIMAL(38,0)
      // so n·prefix can't wrap Int64 (scale 0 products stay exact)
      .withColumn("__t",
        col("__n").cast("decimal(38,0)") * col("__pre").cast("decimal(38,0)") -
          col("__i").cast("decimal(38,0)") * col("__tot").cast("decimal(38,0)"))
    // argmax |T_i| over interior indices (i = n is always 0 — excluded so
    // the earliest-tie rule can't report the vacuous endpoint), ties to
    // the earliest index: max on the (|T|, -i) pair struct is a total order
    base.filter(col("__i") < col("__n"))
      .groupBy(gc: _*)
      .agg(
        max(col("__n")).as("n"),
        max(struct(abs(col("__t")).as("t"), (-col("__i")).as("ni")))
          .as("__best"))
      .select((gc :+ col("n") :+ (-col("__best.ni")).as("cp_index") :+
        (col("__best.t").cast("double") / (col("n").cast("double") * lit(1e6)))
          .as("cusum_stat")): _*)
  }
}
