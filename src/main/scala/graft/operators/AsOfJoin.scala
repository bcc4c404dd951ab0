package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of join — for every left ("probe") row, the single nearest right
  * ("build") row at-or-before (backward) or at-or-after (forward) its
  * timestamp within the same key group. The canonical time-series /
  * attribution operator the reference's engine (and Spark) lack as a
  * primitive; DuckDB spells it `ASOF JOIN`, kdb+ `aj`, pandas
  * `merge_asof`.
  *
  * == Why not a range join ==
  * The naive form — `l JOIN r ON l.k = r.k AND r.ts <= l.ts` + a
  * max-per-left dedup — materializes every (probe, earlier-build) pair
  * before collapsing them: O(|probes| × mean builds per key) rows of
  * shuffle for an output of |probes| rows. At 100 TB that intermediate is
  * the job. This implementation is the merge-as-of instead, as one window:
  *
  *   1. tag both sides and union them (probe rows carry the packed left
  *      row, build rows carry a packed payload struct),
  *   2. ONE hash shuffle on the key + ONE sort by (ts, side, tiebreak),
  *   3. a running `last(payload, ignoreNulls)` (backward; `first` over the
  *      following frame for forward) hands every probe row the nearest
  *      build payload in O(1) state per task,
  *   4. keep the probe rows and unpack.
  *
  * Each side is shuffled exactly once, output size is exactly |left|, and
  * per-task memory is the sort buffer (spillable) — no group has to fit in
  * memory. AsOfJoinSpec pins the single-exchange-per-side plan shape.
  *
  * == Semantics ==
  *   - Inclusive: a build row AT the probe timestamp matches.
  *   - Left outer: probes with no build in range keep NULL payload.
  *   - `tolerance`: matches farther than this interval from the probe are
  *     nulled out (pandas merge_asof's `tolerance`).
  *   - Ties: among build rows sharing the winning timestamp, the greatest
  *     `tiebreak` value wins (deterministic last-write-wins); without a
  *     tiebreak column, equal-timestamp build rows are ambiguous — dedupe
  *     the build side first (e.g. `max_by` per (key, ts)).
  *   - NULL timestamps never match, on either side: a null-ts build row
  *     is dropped, a null-ts probe row keeps a NULL payload.
  *   - NULL keys never match either — SQL equi-join semantics, shared by
  *     both implementations (a window partitionBy would otherwise group
  *     null keys together and match them, silently diverging from the
  *     broadcast path's join).
  *
  * Skew: one hot key serializes into one task's sort, exactly like any
  * keyed window — pre-split hot keys upstream if a key exceeds a task.
  */
object AsOfJoin {

  private val TS = "__asof_ts"
  private val SIDE = "__asof_side"
  private val TIE = "__asof_tie"
  private val PAY = "__asof_pay"
  private val ROW = "__asof_row"
  private val TSA = "__asof_tsa"

  /** Backward as-of left join (the common direction): latest right row with
    * `right.tsCol <= left.tsCol`, per key.
    *
    * @param rightPayload right columns to attach (must not collide with
    *                     left column names); the matched right timestamp is
    *                     attached as `tsColRight` itself.
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsColLeft: String, tsColRight: String,
               rightPayload: Seq[String],
               tolerance: Option[Column] = None,
               tiebreak: Option[String] = None): DataFrame =
    asof(left, right, keys, tsColLeft, tsColRight, rightPayload,
      forward = false, tolerance, tiebreak)

  /** Broadcast backward as-of join — the scale path when the build side is
    * dimension-like (exchange rates, calendars, reference series): the
    * build side collapses to ONE row per key holding its ascending
    * timestamp array + payload array, gets broadcast, and every probe row
    * binary-searches its match via the native
    * [[graft.functions.SortedUpperBound]] expression — O(log n) per probe,
    * all inside whole-stage codegen.
    *
    * The probe side — the side that is 100 TB — is NEVER shuffled and
    * never sorted: against [[backward]]'s one-exchange-one-sort this is
    * the difference between a wide stage over the fact table and a
    * map-only pass (AsOfJoinSpec pins the zero-exchange plan). The trade:
    * the aggregated build side must fit in a broadcast (same budget as
    * any broadcast hash join build).
    *
    * Same semantics as [[backward]] (inclusive, left-outer, tolerance,
    * greatest-tiebreak ties, null timestamps and null keys never match).
    * Timestamps are compared at microsecond resolution (the engine's
    * native timestamp precision).
    */
  def broadcastBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                        tsColLeft: String, tsColRight: String,
                        rightPayload: Seq[String],
                        tolerance: Option[Column] = None,
                        tiebreak: Option[String] = None): DataFrame =
    broadcastAsOf(left, right, keys, tsColLeft, tsColRight, rightPayload,
      fwd = false, tolerance, tiebreak)

  /** Broadcast FORWARD as-of join — [[forward]]'s semantics on
    * [[broadcastBackward]]'s plan (earliest build at-or-after the probe,
    * same broadcast/map-only trade). The forward probe needs TWO binary
    * searches to honor the greatest-tiebreak tie rule: the first finds
    * where the at-or-after run begins, the second jumps to the END of
    * that run's equal-timestamp block (ascending tiebreak sorts the
    * greatest last). */
  def broadcastForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                       tsColLeft: String, tsColRight: String,
                       rightPayload: Seq[String],
                       tolerance: Option[Column] = None,
                       tiebreak: Option[String] = None): DataFrame =
    broadcastAsOf(left, right, keys, tsColLeft, tsColRight, rightPayload,
      fwd = true, tolerance, tiebreak)

  /** Size-gated path selection — [[broadcastBackward]] when the packed
    * build side should fit in a broadcast, the always-safe [[backward]]
    * window merge otherwise. The estimate is Catalyst's own
    * `optimizedPlan.stats.sizeInBytes` of the build side PROJECTED to the
    * columns the pack would keep (keys + ts + tiebreak + payload) — the
    * statistic the autoBroadcastJoinThreshold gate itself trusts,
    * available at plan time with no job (for a parquet scan it derives
    * from file sizes after column pruning; the pack's struct/array
    * framing adds O(1) per key on top). Fail direction is conservative:
    * an unknown estimate is Long.MaxValue-ish and falls back to the
    * window merge path, which handles any build size — never the other
    * way around. */
  def autoBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                   tsColLeft: String, tsColRight: String,
                   rightPayload: Seq[String],
                   tolerance: Option[Column] = None,
                   tiebreak: Option[String] = None,
                   maxBuildBytes: Long = 64L << 20): DataFrame =
    if (packSizeEstimate(right, keys, tsColRight, rightPayload, tiebreak)
        <= BigInt(maxBuildBytes))
      broadcastAsOf(left, right, keys, tsColLeft, tsColRight, rightPayload,
        fwd = false, tolerance, tiebreak)
    else
      asof(left, right, keys, tsColLeft, tsColRight, rightPayload,
        forward = false, tolerance, tiebreak)

  /** Catalyst's size estimate of the columns [[pack]] would carry —
    * exposed for tests pinning the [[autoBackward]] gate. */
  private[graft] def packSizeEstimate(right: DataFrame, keys: Seq[String],
                                      tsColRight: String,
                                      rightPayload: Seq[String],
                                      tiebreak: Option[String]): BigInt =
    right.select(
      (keys ++ (tsColRight +: rightPayload) ++ tiebreak.toSeq)
        .distinct.map(col): _*)
      .queryExecution.optimizedPlan.stats.sizeInBytes

  private val SALT = "__asof_salt"

  /** [[backward]] with hot-key pre-splitting — the utility the skew note
    * in the object scaladoc punts to. A hot PROBE key serializes the
    * merge sort into one task; this variant detects keys whose probe-row
    * count exceeds `rowBudget` ([[Features.hotKeys]] — sampled when
    * `sampleFraction < 1`) and splits exactly those keys into
    * `saltBuckets` sub-keys: probe rows hash into a bucket by their
    * timestamp, build rows REPLICATE into every bucket of a hot key.
    * This is the [[Features.twoStageSaltedCount]] template adapted to an
    * order-dependent window — a running `last()` cannot be re-merged
    * across buckets that split the sort order, so the merge step runs
    * map-side as build replication instead of as a second aggregation.
    * Every probe row still meets every build row of its key, so the
    * output is row-for-row the unsalted plan's (AsOfJoinSpec pins the
    * equality and the bucket spread); cold keys ride bucket 0 with no
    * replication.
    *
    * Cost bounds: extra build rows in the exchange = |hot keys| ×
    * (saltBuckets − 1) × builds-per-key — the build side of a real as-of
    * is dimension-like (rates, calendars), so the multiplier is cheap;
    * the probe side (the 100-TB side) is never replicated and never
    * read twice (detection is one narrow count pass, sampled if even
    * that matters). A hot BUILD key is the transposed problem — use
    * [[broadcastBackward]]/[[pack]] there (the build side that fits a
    * broadcast never sorts in a task at all). */
  def backwardPreSplit(left: DataFrame, right: DataFrame, keys: Seq[String],
                       tsColLeft: String, tsColRight: String,
                       rightPayload: Seq[String],
                       tolerance: Option[Column] = None,
                       tiebreak: Option[String] = None,
                       rowBudget: Long = 4L * 1000 * 1000,
                       saltBuckets: Int = 16,
                       sampleFraction: Double = 1.0): DataFrame = {
    val (l, r) = preSplit(left, right, keys, tsColLeft, rowBudget,
      saltBuckets, sampleFraction)
    asof(l, r, keys :+ SALT, tsColLeft, tsColRight, rightPayload,
      forward = false, tolerance, tiebreak)
      .drop(SALT)
  }

  /** The salted (probe, build) pair [[backwardPreSplit]] feeds the window
    * merge — exposed for tests pinning the spread. */
  private[graft] def preSplit(left: DataFrame, right: DataFrame,
                              keys: Seq[String], tsColLeft: String,
                              rowBudget: Long, saltBuckets: Int,
                              sampleFraction: Double): (DataFrame, DataFrame) = {
    require(saltBuckets >= 2, s"saltBuckets must be >= 2, got $saltBuckets")
    val hits = (SALT +: "__asof_hot" +: keys.map(k => s"__asof_hot_$k"))
      .filter(c => left.columns.contains(c) || right.columns.contains(c))
    require(hits.isEmpty, s"reserved column names $hits in inputs")
    // Small by definition (≤ total/rowBudget keys) → broadcast onto both
    // sides; the probe side stays map-only up to the one merge shuffle.
    // The probe is NULL-SAFE (<=>): groupBy counts NULL keys as a group,
    // and the window merge partitions NULLs together too, so a hot NULL
    // probe key would otherwise keep salt 0 and still serialize into one
    // task. Salting it is output-safe — the merge's null-key gate hands
    // null-key probes a NULL payload in every bucket.
    val hotKeyCols = keys.map(k => s"__asof_hot_$k")
    val hot = keys.zip(hotKeyCols).foldLeft(
      Features.hotKeys(left, keys, rowBudget, sampleFraction)) {
        case (d, (k, hk)) => d.withColumnRenamed(k, hk)
      }.withColumn("__asof_hot", lit(true))
    val hotCond = keys.zip(hotKeyCols)
      .map { case (k, hk) => col(k) <=> col(hk) }.reduce(_ && _)
    val l = left.join(broadcast(hot), hotCond, "left")
      .withColumn(SALT, when(col("__asof_hot").isNotNull,
        pmod(xxhash64(col(tsColLeft)), lit(saltBuckets.toLong))).otherwise(lit(0L)))
      .drop("__asof_hot" +: hotKeyCols: _*)
    val r = right.join(broadcast(hot), hotCond, "left")
      .withColumn(SALT, explode(when(col("__asof_hot").isNotNull,
        sequence(lit(0L), lit(saltBuckets.toLong - 1))).otherwise(array(lit(0L)))))
      .drop("__asof_hot" +: hotKeyCols: _*)
    (l, r)
  }

  /** The build side collapsed to its broadcast form: one row per key,
    * holding the ascending (timestamp, tiebreak, payload) struct array
    * plus the pre-extracted timestamp array the binary search probes.
    * Direction-independent — one pack serves [[backwardAgainst]] AND
    * [[forwardAgainst]]. Build it once and reuse when the same reference
    * series enriches several corpora or an unbounded STREAM: a
    * stream-static join re-evaluates its static side every micro-batch,
    * so cache() the packed frame for long-running streams (the
    * [[graft.operators.Decontamination.benchmarkGrams]] convention;
    * AsOfJoinSpec drives the streaming enrichment live). */
  def pack(right: DataFrame, keys: Seq[String], tsColRight: String,
           rightPayload: Seq[String],
           tiebreak: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(right.sparkSession)
    val payFields = tsColRight +: rightPayload
    // TS/TIE become packed-struct FIELDS — a payload column with either
    // name would make the struct ambiguous deep in resolution, so fail
    // loudly here.
    val reservedHits = Seq(PAY, ROW, TSA, TS, TIE)
      .filter(r => payFields.contains(r) || keys.contains(r))
    require(reservedHits.isEmpty,
      s"reserved column names $reservedHits in inputs")

    // Build rows are kept only when the MICROSECOND value exists — a
    // filter on the raw column would let a castable-but-invalid value
    // (e.g. a malformed date string) through as a NULL cast, which the
    // coalesce below would then turn into a phantom infinitely-old row.
    // After that filter the coalesce is a pure NULLABILITY eraser: without
    // it the struct field — and therefore the ts array — would type as
    // nullable and fail SortedUpperBound's containsNull=false contract.
    val tsMicrosRaw = expr(s"unix_micros(cast($tsColRight as timestamp))")
    val tsMicros = coalesce(tsMicrosRaw, lit(Long.MinValue)).as(TS)
    // Sort key order inside the struct: ts, then tiebreak — lexicographic
    // sort_array puts the greatest tiebreak LAST among equal timestamps,
    // and upper-bound indexing picks the last element <= target.
    val packedFields = tsMicros +: (tiebreak.map(t => col(t).as(TIE)).toSeq ++
      payFields.map(col))
    // The ts array is extracted ONCE PER KEY here, before the broadcast —
    // ArrayTransform is interpreted (CodegenFallback), so leaving it on
    // the probe side would re-walk the whole per-key array for every
    // probe row, reintroducing the O(n) scan the binary search replaces.
    // The null-KEY filter mirrors the window path's: those rows can never
    // match (equi-join), but without the filter they'd collapse into one
    // giant dead group whose collect_list array ships in every broadcast
    // copy.
    right
      .where(tsMicrosRaw.isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(packedFields: _*))).as(PAY))
      .withColumn(TSA, transform(col(PAY), x => x(TS)))
  }

  /** [[broadcastBackward]] against a pre-built [[pack]] frame — for
    * reusing one packed reference series across several probes or a
    * stream. The join keys, matched-timestamp column, and payload are
    * all READ FROM THE PACK's schema (keys = its non-internal columns,
    * payload = its struct fields) — there is nothing to re-specify, so
    * a probe can never silently disagree with its pack (a key-subset
    * mismatch would otherwise fan each probe row out across the
    * unmatched key's values). */
  def backwardAgainst(left: DataFrame, packed: DataFrame,
                      tsColLeft: String,
                      tolerance: Option[Column] = None): DataFrame =
    probeAgainst(left, packed, tsColLeft, fwd = false, tolerance)

  /** [[broadcastForward]] against a pre-built [[pack]] frame. */
  def forwardAgainst(left: DataFrame, packed: DataFrame,
                     tsColLeft: String,
                     tolerance: Option[Column] = None): DataFrame =
    probeAgainst(left, packed, tsColLeft, fwd = true, tolerance)

  private def broadcastAsOf(left: DataFrame, right: DataFrame,
                            keys: Seq[String],
                            tsColLeft: String, tsColRight: String,
                            rightPayload: Seq[String],
                            fwd: Boolean,
                            tolerance: Option[Column],
                            tiebreak: Option[String]): DataFrame =
    probeAgainst(left, pack(right, keys, tsColRight, rightPayload, tiebreak),
      tsColLeft, fwd, tolerance)

  private def probeAgainst(left: DataFrame, packed: DataFrame,
                           tsColLeft: String,
                           fwd: Boolean,
                           tolerance: Option[Column]): DataFrame = {
    graft.functions.GraftFunctions.register(left.sparkSession)
    require(packed.columns.contains(PAY) && packed.columns.contains(TSA),
      s"packed frame must come from AsOfJoin.pack (missing $PAY/$TSA)")
    // Everything else about the pack is recovered from its own schema —
    // the single source of truth, immune to caller drift.
    val keys = packed.columns.filterNot(Set(PAY, TSA)).toSeq
    require(keys.nonEmpty, "packed frame carries no key columns")
    val elemType = packed.schema(PAY).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[StructType]
    val payFields = elemType.fieldNames.filterNot(Set(TS, TIE)).toSeq
    val tsColRight = payFields.head
    val missingKeys = keys.filterNot(left.columns.contains)
    require(missingKeys.isEmpty,
      s"probe side lacks the pack's key columns: $missingKeys")
    val collisions = payFields.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"right payload columns collide with left columns: $collisions")
    val reservedHits = Seq(PAY, ROW, TSA, TS, TIE)
      .filter(left.columns.contains)
    require(reservedHits.isEmpty,
      s"reserved column names $reservedHits in the probe frame")

    val joined = left.join(broadcast(packed), keys, "left")
    val target = expr(s"unix_micros(cast($tsColLeft as timestamp))")
    def ub(t: Column) = call_function("graft_sorted_upper_bound", col(TSA), t)
    // Backward: the last element <= target IS the match (ties resolved by
    // the sort putting the greatest tiebreak last). Forward: elements
    // >= target start after ub(target−1); if that run exists, jump to the
    // end of its first equal-timestamp block with a second search so the
    // greatest tiebreak wins here too. (target−1 is safe for any real
    // timestamp — only the unrepresentable year ±290000 boundary wraps.)
    val idx =
      if (!fwd) ub(target)
      else {
        val lb = ub(target - lit(1L))
        when(lb < size(col(TSA)), ub(element_at(col(TSA), lb + lit(1))))
      }
    val hit = when(idx > 0, element_at(col(PAY), idx))
    val gated = tolerance match {
      case Some(tol) =>
        val dist = if (fwd) hit(tsColRight) - col(tsColLeft)
                   else col(tsColLeft) - hit(tsColRight)
        when(dist <= tol, hit)
      case None => hit
    }
    joined
      .withColumn(ROW, gated) // ROW reused as the resolved-match slot
      .select(left.columns.map(col) ++
        payFields.map(f => col(s"$ROW.$f").as(f)): _*)
  }

  /** Forward as-of left join: earliest right row with
    * `right.tsCol >= left.tsCol`, per key. */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              tsColLeft: String, tsColRight: String,
              rightPayload: Seq[String],
              tolerance: Option[Column] = None,
              tiebreak: Option[String] = None): DataFrame =
    asof(left, right, keys, tsColLeft, tsColRight, rightPayload,
      forward = true, tolerance, tiebreak)

  private def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
                   tsColLeft: String, tsColRight: String,
                   rightPayload: Seq[String],
                   forward: Boolean,
                   tolerance: Option[Column],
                   tiebreak: Option[String]): DataFrame = {
    val payFields = tsColRight +: rightPayload
    val collisions = payFields.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"right payload columns collide with left columns: $collisions")
    // All five internal names, on both sides — mirroring pack()/
    // probeAgainst(): a probe column named __asof_row (etc.) would
    // otherwise surface as a confusing duplicate-column failure (or a
    // subtle select misbinding) deep in resolution instead of this
    // loud require.
    val reservedHits = Seq(TS, SIDE, TIE, PAY, ROW)
      .filter(r => payFields.contains(r) || keys.contains(r) ||
        left.columns.contains(r))
    require(reservedHits.isEmpty,
      s"reserved column names $reservedHits in inputs")

    val leftRowType = StructType(left.schema.fields)
    val payType = StructType(
      payFields.map(f => right.schema(f)))
    val tieType = tiebreak.map(right.schema(_).dataType)

    // Build rows must sort adjacent to the probe rows they can match at
    // EQUAL timestamps, BEFORE the probe in each direction's scan order
    // so the running `last` has already seen them: backward scans TS
    // ascending with build SIDE 0 < probe 1; forward scans TS DESCENDING
    // (see the window below) with build SIDE 1 > probe 0 — descending
    // SIDE puts the build first there too.
    val (buildOrd, probeOrd) = if (forward) (1, 0) else (0, 1)

    val probe = left.select(
      keys.map(col) ++ Seq(
        col(tsColLeft).as(TS),
        lit(probeOrd).as(SIDE),
        tieType.map(t => lit(null).cast(t)).getOrElse(lit(null)).as(TIE),
        lit(null).cast(payType).as(PAY),
        struct(left.columns.map(col).toIndexedSeq: _*).as(ROW)): _*)

    val build = right
      // null timestamps and null keys never match (the key filter also
      // keeps dead rows out of the shuffle)
      .where(col(tsColRight).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++ Seq(
          col(tsColRight).as(TS),
          lit(buildOrd).as(SIDE),
          tiebreak.map(col).getOrElse(lit(null)).as(TIE),
          struct(payFields.map(col).toIndexedSeq: _*).as(PAY),
          lit(null).cast(leftRowType).as(ROW)): _*)

    // BOTH directions run as RUNNING frames (`last ignoreNulls` over
    // [unboundedPreceding, current]) — round 14: Spark evaluates a
    // shrinking [current, unboundedFollowing) frame by re-aggregating
    // the remaining rows for EVERY row, O(n²) per key partition
    // (unbounded on a skewed hot key; the bfill lesson, Features.scala),
    // while the running frame accumulates incrementally in O(n).
    // Forward is the backward machinery over the EXACTLY REVERSED order
    // (every sort key flipped together with its null placement): the
    // running `last` in TS-descending order yields the smallest-TS
    // build at-or-after the probe. Greatest tiebreak wins in both:
    // backward sorts ties ascending so the running `last` keeps the
    // largest; forward's reversed order ALSO sorts ties ascending
    // within its descending TS (the reversal of the old
    // first-over-following + ties-descending layout), so the running
    // `last` again lands on the largest tiebreak.
    val w =
      if (forward)
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(TS).desc_nulls_last, col(SIDE).desc,
            col(TIE).asc_nulls_first)
      else
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(TS).asc, col(SIDE).asc, col(TIE).asc_nulls_first)

    val matched = last(col(PAY), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

    // Null-ts PROBE rows keep a NULL match too: backward gets this free
    // from NULLS FIRST ordering, but forward's reversed running frame
    // (null TS sorting last, after every build) would hand a null-ts
    // probe the earliest build — gate it out explicitly.
    // Null-KEY probes are gated for the same reason: partitionBy groups
    // null keys into one partition (unlike an equi-join), and without the
    // gate a null-key probe would match null-key builds — diverging from
    // the broadcast path's join semantics. (Null-key builds are already
    // filtered, so the gate here is what keeps the contract explicit.)
    val keysNotNull = keys.map(col(_).isNotNull).reduce(_ && _)
    val withMatch = probe.unionByName(build)
      .withColumn(PAY, when(col(TS).isNotNull && keysNotNull, matched))
      .where(col(SIDE) === probeOrd)

    val gated = tolerance match {
      case Some(tol) =>
        val dist = if (forward) col(s"$PAY.$tsColRight") - col(TS)
                   else col(TS) - col(s"$PAY.$tsColRight")
        withMatch.withColumn(PAY, when(dist <= tol, col(PAY)))
      case None => withMatch
    }

    gated.select(
      col(s"$ROW.*") +: payFields.map(f => col(s"$PAY.$f").as(f)): _*)
  }
}
