package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.{Sinks, Sketches}

/** Streaming analytics over the cleaned event stream (SURVEY.md §2i
  * mapping): the reference's batch aggregations re-expressed with
  * event-time watermarks bounding state, plus a stateful latest-per-group
  * operator — the streaming analogue of W6's live forecasts.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (expired windows are dropped, not accumulated); the keyed state of
  * [[runningLatest]] is one small record per (Currency, Event) — entity
  * cardinality, thousands — and shuffles once on the entity key, exactly
  * like the batch W6.
  */
object StreamingAnalytics {

  /** One cleaned event (the typed boundary for stateful ops). */
  final case class EventRow(
      currency: String, event: String, eventTime: java.sql.Timestamp,
      actual: Option[Double])

  /** Running per-entity state: latest observation wins by event time. */
  final case class EntityState(
      latestTime: java.sql.Timestamp, latestValue: Option[Double], n: Long)

  /** Emitted on every state change — the live-forecast row
    * (test.py:95-120's "last prediction per group", continuously). */
  final case class EntityLatest(
      currency: String, event: String, latestTime: java.sql.Timestamp,
      latestValue: Option[Double], n: Long)

  /** A1-shaped streaming aggregation: tumbling-window event counts per
    * currency. The event-time watermark comes from the upstream cleaning
    * stage (StreamingIngest.cleanedStream) — redefining it mid-stream is
    * disallowed with multiple stateful operators; it bounds this
    * aggregation's window state too. Use outputMode("update") for
    * incremental emission or append to emit only closed windows. */
  def windowedCounts(cleaned: DataFrame, windowLen: String): DataFrame =
    cleaned
      .groupBy(window(col("EventTime"), windowLen), col("Currency"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("Impact") === "high", lit(1))).as("n_high_impact"))
      .select(col("window.start").as("window_start"), col("Currency"),
        col("n_events"), col("n_high_impact"))

  /** W8, streaming: the SAME session_window expression the batch
    * w8_session_window query groups by, on an unbounded stream — sessions
    * merge while consecutive gaps stay under `gap`, and a session's row
    * is emitted (append mode) once the watermark passes its end, so state
    * is bounded by (open sessions per key) and late events inside the
    * watermark still extend their session. The batch/streaming parity is
    * by construction: one grouping expression, two execution modes. */
  def sessionCounts(withWatermark: DataFrame, tsCol: String, keyCol: String,
                    gap: String): DataFrame =
    withWatermark
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Stream-stream INTERVAL join — the remaining stateful-operator family
    * (aggregation, dedup, flatMapGroupsWithState, session windows are
    * covered elsewhere): enrich each event with the label rows for the
    * same key whose label time falls within [event_time − within,
    * event_time]. Both sides MUST carry watermarks (callers set them);
    * the range condition is what lets Spark bound BOTH join states — a
    * stream-stream equi-join without a time bound would buffer forever.
    * Append mode emits a match once both sides have arrived. State
    * retention is asymmetric, per the range shape (rightTs ≤ leftTs):
    * LEFT rows are evictable once leftTs falls below the right-side
    * watermark (no extra slack — a label can only be as late as its own
    * watermark), while RIGHT rows are retained `within` longer (an event
    * up to `within` ahead may still arrive and match them).
    * Column contract: `left` carries (`key`, `leftTs`, …); `right`
    * carries the key renamed to `<key>_r` plus `rightTs` (streaming
    * self-qualified column references are ambiguous after plan cloning,
    * so the rename is the robust convention). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, within: String): DataFrame =
    left.join(right,
      expr(s"""$key = ${key}_r
              |AND $rightTs BETWEEN $leftTs - INTERVAL $within AND $leftTs"""
        .stripMargin))

  /** W6, streaming: mapGroupsWithState keeping the latest row per
    * (Currency, Event), emitting the updated entity row each batch it
    * changes. Ties on event time resolve to the later-arriving record
    * (the reference's ON DUPLICATE KEY UPDATE overwrite). */
  def runningLatest(spark: SparkSession,
                    events: Dataset[EventRow]): Dataset[EntityLatest] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.currency, e.event))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (String, String), batch: Iterator[EventRow],
         state: GroupState[EntityState]) =>
          val prev = state.getOption
          val next = batch.foldLeft(prev) { (acc, e) =>
            acc match {
              case Some(s) if s.latestTime.compareTo(e.eventTime) > 0 =>
                Some(s.copy(n = s.n + 1))
              case Some(s) =>
                Some(EntityState(e.eventTime, e.actual, s.n + 1))
              case None =>
                Some(EntityState(e.eventTime, e.actual, 1L))
            }
          }
          next.foreach(state.update)
          val s = next.get
          EntityLatest(key._1, key._2, s.latestTime, s.latestValue, s.n)
      }
  }

  /** One raw funnel input event. */
  final case class FunnelEvent(
      userId: Long, eventType: String, eventTime: java.sql.Timestamp,
      eventId: Long)

  /** Per-user funnel state: stages completed so far and the strict
    * (ts, id) position of the last completion. */
  final case class FunnelState(stage: Int, reachMs: Long, reachId: Long)

  /** Emitted per user per batch: the user's current funnel stage. */
  final case class FunnelReach(userId: Long, stage: Int)

  /** EV1, streaming: the ordered funnel ([[graft.operators.EventAnalytics
    * .funnel]]) as per-user mapGroupsWithState — state is ONE (stage,
    * position) record per user, advanced when the next stage's event
    * occurs strictly after the previous stage's first completion (same
    * (ts, event_id) strict order as the batch operator; intra-batch
    * disorder is absorbed by sorting each user's micro-batch slice,
    * which is bounded by the batch size).
    *
    * Cross-batch limitation, stated honestly: an event arriving in a
    * LATER micro-batch but with an EARLIER event time than an already-
    * consumed completion cannot retroactively advance the funnel —
    * the inherent trade of single-record state. Feed the stream in
    * event-time order (or partition-ordered, per user) for exact batch
    * parity; the StreamingAnalyticsSpec differential does exactly that.
    */
  def funnelProgress(spark: SparkSession, events: Dataset[FunnelEvent],
                     stages: Seq[String]): Dataset[FunnelReach] = {
    import spark.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    events
      .groupByKey(_.userId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[FunnelEvent],
         state: GroupState[FunnelState]) =>
          val sorted = batch.toArray.sortBy(e => (e.eventTime.getTime, e.eventId))
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue, Long.MinValue))
          sorted.foreach { e =>
            val pos = (e.eventTime.getTime, e.eventId)
            if (st.stage < stages.length && e.eventType == stages(st.stage) &&
              (st.stage == 0 ||
                Ordering[(Long, Long)].gt(pos, (st.reachMs, st.reachId)))) {
              st = FunnelState(st.stage + 1, e.eventTime.getTime, e.eventId)
            }
          }
          state.update(st)
          FunnelReach(user, st.stage)
      }
  }

  /** Incremental distinct counting over an unbounded stream via a
    * persisted HLL sketch artifact (round 9 — the streaming face of the
    * sketch_hll_union row): each micro-batch is sketched
    * (`hll_sketch_agg`, kilobytes regardless of batch size), unioned
    * with the artifact's current sketch (`hll_union`), and republished
    * through [[graft.operators.Sinks.foldSnapshot]] — so any reader
    * gets the running distinct estimate for pennies and the raw stream
    * is never re-scanned.
    *
    * Replay safety comes from the ALGEBRA, not the sink: HLL union is
    * idempotent (per-register max), so an at-least-once redelivery of a
    * batch unions in values the sketch already absorbed and the
    * artifact is unchanged — no dedup bookkeeping, no state store. The
    * versioned snapshot keeps concurrent readers on a complete
    * artifact. State is ONE sketch row at lgK=12 (~2.5 KB) no matter
    * how many billions of events pass — contrast exact streaming
    * count-distinct, whose state grows with cardinality. */
  def runHllDistinct(spark: SparkSession, stream: DataFrame, keyCol: String,
                     artifactDir: String, checkpointDir: String,
                     lgK: Int = 12, keepVersions: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BoundedStream.drain(stream, checkpointDir)(BoundedStream.skipEmpty {
      (batch, _) =>
        def published(sk: DataFrame) =
          sk.select(col("sk"), hll_sketch_estimate(col("sk")).as("estimate"))
        val batchSk = batch.agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("sk"))
        Sinks.foldSnapshot(spark, artifactDir, published(batchSk),
          keepVersions) { current =>
          published(current.select(col("sk")).unionByName(batchSk)
            .agg(hll_union_agg(col("sk")).as("sk")))
        }
    })

  /** Incremental MEMBERSHIP sketch over an unbounded stream (round 9) —
    * the streaming face of sketch_bloom, completing the streaming sketch
    * quartet: each micro-batch's keys fold into a persisted bloom bit
    * set ([[graft.operators.Sketches.bloom]], ≤ `bits` rows whatever the
    * batch size) by set union. Like HLL — and unlike count-min — the
    * merge is IDEMPOTENT BY ALGEBRA (OR-ing bits already present is a
    * no-op), so at-least-once redelivery needs no batch ledger; the
    * artifact is just the current bit set, versioned per batch through
    * [[graft.operators.Sinks.foldSnapshot]]. Serve = [[graft.operators
    * .Sketches.bloomMightContain]] against the snapshot: "was this key
    * ever seen on the stream?" with no false negatives ever — the
    * streaming seen-before gate (URL dedup, incremental-crawl prefilters)
    * at kilobytes of state regardless of stream length. */
  def runBloomMembership(spark: SparkSession, stream: DataFrame,
                         keyCol: String, bits: Int, hashes: Int, seed: String,
                         artifactDir: String, checkpointDir: String,
                         keepVersions: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BoundedStream.drain(stream, checkpointDir)(BoundedStream.skipEmpty {
      (batch, _) =>
        val batchBits = Sketches.bloom(batch, col(keyCol), bits, hashes, seed)
        Sinks.foldSnapshot(spark, artifactDir, batchBits, keepVersions) {
          current =>
            Sketches.mergeBlooms(Seq(current.select(col("bit")), batchBits))
        }
    })

  /** Incremental FREQUENCY sketch over an unbounded stream (round 9 —
    * the streaming face of sketch_count_min, and the exactly-once
    * pattern [[runHllDistinct]] does not need): each micro-batch's
    * count-min cells ([[graft.operators.Sketches.countMin]], ≤ d·w rows
    * whatever the batch size) are ADDED cell-wise into a persisted
    * sketch artifact. Counter addition is NOT idempotent — an
    * at-least-once redelivery would double-count — so the artifact
    * carries a BATCH LEDGER: the apply step skips any batch id already
    * recorded, making the merge transactional per batch (the standard
    * foreachBatch exactly-once recipe: idempotence by bookkeeping where
    * the algebra doesn't provide it; Spark's batch ids are stable across
    * checkpoint-recovered retries, which is exactly what the ledger
    * keys on). Batch ids are MONOTONIC, so the ledger is ONE row
    * holding the highest applied id — `batchId <= maxApplied` means
    * already-applied. State is ≤ d·w cells + 1 ledger row — kilobytes
    * forever, never keyed by stream cardinality OR stream length. */
  def runCountMin(spark: SparkSession, stream: DataFrame, keyCol: String,
                  width: Int, depth: Int, seed: String, artifactDir: String,
                  checkpointDir: String, keepVersions: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BoundedStream.drain(stream, checkpointDir) {
      (batch: DataFrame, id: Long) =>
        applyCountMinBatch(spark, batch, id, keyCol, width, depth, seed,
          artifactDir, keepVersions)
    }

  /** The transactional merge step of [[runCountMin]], factored out so a
    * redelivery is directly testable: no-op when `batchId` is at or
    * below the ledger's high-water mark (batch ids are monotonic — the
    * [[runCountMin]] contract), otherwise cell-wise add + ledger
    * advance, both published through the same versioned snapshot
    * (readers see a complete sketch+ledger pair or the previous
    * version). */
  private[graft] def applyCountMinBatch(spark: SparkSession, batch: DataFrame,
                                        batchId: Long, keyCol: String,
                                        width: Int, depth: Int, seed: String,
                                        artifactDir: String,
                                        keepVersions: Int = 8): Unit =
    if (!batch.isEmpty)
      addCells(spark, Sketches.countMin(batch, col(keyCol), width, depth,
        seed), Seq("sk_row", "sk_col"), "c", batchId, artifactDir,
        keepVersions)

  /** Incremental QUANTILE sketch over an unbounded stream (round 9) —
    * the streaming face of sketch_bin_quantiles, completing the
    * streaming sketch triad: HLL (idempotent by algebra), count-min
    * (additive + ledger), binned histogram (additive + ledger on a
    * FIXED grid). The grid — per-group (lo, width) from
    * [[graft.operators.Sketches.histBounds]], fitted in batch — lives
    * at `gridDir` and NEVER moves while the stream runs (the
    * shared-grid mergeability contract; refitting the grid mid-stream
    * would silently rebucket history). Each micro-batch bins against
    * that grid (≤ |groups|·nBins cells whatever the batch size), adds
    * cell-wise under the one-row high-water ledger, and publishes
    * through the versioned snapshot — replay-idempotent, state bounded
    * by the grid, not the stream. Serve = [[graft.operators.Sketches
    * .histQuantiles]] over the snapshot's sketch rows. */
  def runBinHistogram(spark: SparkSession, stream: DataFrame,
                      group: Seq[String], valueCol: String, nBins: Int,
                      gridDir: String, artifactDir: String,
                      checkpointDir: String, keepVersions: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BoundedStream.drain(stream, checkpointDir) {
      (batch: DataFrame, id: Long) =>
        applyHistBatch(spark, batch, id, group, valueCol, nBins, gridDir,
          artifactDir, keepVersions)
    }

  /** The transactional merge step of [[runBinHistogram]] (same recipe
    * as [[applyCountMinBatch]]: skip at-or-below the ledger high-water
    * mark, else cell-add + ledger advance in one snapshot publish). */
  private[graft] def applyHistBatch(spark: SparkSession, batch: DataFrame,
                                    batchId: Long, group: Seq[String],
                                    valueCol: String, nBins: Int,
                                    gridDir: String,
                                    artifactDir: String,
                                    keepVersions: Int = 8): Unit =
    if (!batch.isEmpty)
      addCells(spark, Sketches.binHistogramWith(batch,
        spark.read.parquet(gridDir), group, col(valueCol), nBins),
        group ++ Seq("bin", "lo", "width", "n_bins"), "cnt", batchId,
        artifactDir, keepVersions)

  /** The additive ledgered fold of the count-min and histogram artifacts:
    * `cells` (keyed by `cellKey`, counted in `countCol`) are added
    * cell-wise into the artifact under its batch ledger. */
  private def addCells(spark: SparkSession, cells: DataFrame,
                       cellKey: Seq[String], countCol: String, batchId: Long,
                       artifactDir: String, keepVersions: Int): Unit = {
    val state = cells.withColumn("batch_id", lit(-1L))
    Sinks.foldSnapshot(spark, artifactDir, state, keepVersions,
      Some((batchId, countCol))) { current =>
      current.unionByName(state)
        .groupBy(cellKey.map(col): _*)
        .agg(sum(col(countCol)).as(countCol))
        .withColumn("batch_id", lit(-1L))
        .select(state.columns.map(col): _*)
    }
  }

  /** One input row for the streaming EWMA: key, event order, value. */
  final case class EwmaEvent(key: String, ts: Long, id: Long, v: Double)

  /** Emitted per input row: its truncated-EWMA at arrival. */
  final case class EwmaPoint(key: String, id: Long, v: Double, ewma: Double)

  /** W13, streaming (round 9): the truncated EWMA over an unbounded
    * per-key stream via flatMapGroupsWithState — state is the last
    * maxLag−1 values (newest first), a FIXED-size ring per key
    * regardless of stream length (the reason the truncated form
    * streams and the unbounded recursion doesn't checkpoint cleanly).
    * Arithmetic is the [[graft.operators.Features.ewma]] quantized
    * chain verbatim (same weights, same BIGINT 1e-12 terms, same
    * integer-ratio finish), so a row's streamed EWMA equals the batch
    * operator's bit for bit — StreamingModelServeSpec-style parity is
    * structural, pinned in StreamingAnalyticsSpec.
    *
    * Ordering contract: rows are folded in (ts, id) order WITHIN a
    * batch, and batches are assumed key-ordered across triggers (the
    * same in-order-feed contract as [[runningLatest]]); an out-of-order
    * late row would smooth against the wrong history — feed through a
    * watermarked sort upstream when the source can reorder. */
  def streamingEwma(spark: SparkSession, in: Dataset[EwmaEvent],
                    alpha: Double, maxLag: Int): Dataset[EwmaPoint] = {
    import spark.implicits._
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(maxLag >= 1 && maxLag <= 64, s"maxLag must be in [1,64]: $maxLag")
    val weights = graft.operators.Features.ewmaWeights(alpha, maxLag)
    in.groupByKey(_.key)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[EwmaEvent],
         state: GroupState[List[Double]]) =>
          var hist = state.getOption.getOrElse(Nil) // newest first
          // Spark SQL round(double) is BigDecimal HALF_UP — replicate it
          // exactly (math.round is floor(x+0.5), which differs on
          // negative .5 ties) so streamed == batch bit for bit
          def q(d: Double): Long =
            BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val out = rows.toSeq.sortBy(r => (r.ts, r.id)).map { r =>
            // the SAME |value| domain guard both batch EWMA forms raise
            // loudly on (Features.ewma/ewmaBucketed): past 1e6 the
            // 1e-12-quantized product overflows the BIGINT and the
            // stream would emit silently wrong numbers for exactly the
            // inputs batch rejects (round 15)
            if (math.abs(r.v) >= 1e6)
              throw new IllegalArgumentException(
                "ewma: |value| >= 1e6 overflows the BIGINT 1e-12 " +
                  s"quantization (key=$key, id=${r.id})")
            val window = (r.v :: hist).take(maxLag)
            val num = window.zip(weights)
              .map { case (x, wt) => q(x * wt * 1e12) }.sum
            val den = weights.take(window.size).map(wt => q(wt * 1e12)).sum
            hist = window.take(maxLag - 1)
            EwmaPoint(key, r.id, r.v, num.toDouble / den.toDouble)
          }
          state.update(hist)
          out.iterator
      }
  }

  /** One observation for the online CUSUM detector. */
  final case class CusumEvent(key: String, ts: Long, id: Long, v: Double)

  /** Per-event CUSUM state emission: the two one-sided statistics (in
    * value units) and whether this event fired the alarm. */
  final case class CusumPoint(key: String, id: Long, v: Double,
                              sPlus: Double, sMinus: Double, alarm: Boolean)

  /** ONLINE CUSUM change detection (round 9) — the streaming face of
    * Features.cusumChangepoint (which finds the single best split
    * offline; this RAISES ALARMS as data arrives — Page 1954's original
    * sequential form): per key,
    *   S⁺ ← max(0, S⁺ + (x − target − slack)),
    *   S⁻ ← max(0, S⁻ + (target − slack − x)),
    * alarm when either side exceeds `threshold`, then both sides reset
    * (the standard restart convention — each alarm starts a fresh
    * detection run). State per key is TWO exact BIGINT micro-unit
    * counters (the streamingEwma quantization: values round via
    * BigDecimal HALF_UP, so every comparison is exact integers and the
    * detector is bit-deterministic across replays and engines);
    * `slack` is the usual half-shift allowance k that keeps in-control
    * noise from drifting the statistic. Rows inside a batch process in
    * (ts, id) order; batches are assumed key-ordered across triggers
    * (the runningLatest in-order-feed contract). */
  def streamingCusum(spark: SparkSession, in: Dataset[CusumEvent],
                     target: Double, slack: Double,
                     threshold: Double): Dataset[CusumPoint] = {
    import spark.implicits._
    require(slack >= 0.0, s"slack must be >= 0: $slack")
    require(threshold > 0.0, s"threshold must be > 0: $threshold")
    def q(d: Double): Long =
      BigDecimal(d * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val tMicro = q(target); val kMicro = q(slack); val hMicro = q(threshold)
    in.groupByKey(_.key)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[CusumEvent],
         state: GroupState[(Long, Long)]) =>
          var (sp, sm) = state.getOption.getOrElse((0L, 0L))
          val out = rows.toSeq.sortBy(r => (r.ts, r.id)).map { r =>
            val vm = q(r.v)
            sp = math.max(0L, sp + (vm - tMicro - kMicro))
            sm = math.max(0L, sm + (tMicro - kMicro - vm))
            val alarm = sp > hMicro || sm > hMicro
            val point = CusumPoint(key, r.id, r.v,
              sp.toDouble / 1e6, sm.toDouble / 1e6, alarm)
            if (alarm) { sp = 0L; sm = 0L } // restart after each alarm
            point
          }
          state.update((sp, sm))
          out.iterator
      }
  }

  /** Streaming distribution-drift monitor (round 9) — the unbounded
    * face of Profiling.driftTvd, and the alerting piece of the
    * monitoring stack (MAD serve flags anomalous ROWS; this flags
    * anomalous BATCH DISTRIBUTIONS): a reference histogram fitted in
    * batch (Sketches.binHistogram — its self-describing (lo, width)
    * grid is the contract) lives at `refDir`; every micro-batch bins
    * against that FIXED grid and is graded by total variation distance,
    *   TVD = Σ|n_ref,i·N_batch − n_batch,i·N_ref| / (2·N_ref·N_batch),
    * in the same exact integer cross-multiplied arithmetic as the batch
    * operator — the `drifted` verdict never touches a double. Verdict
    * rows land in `outDir/batch=<runId>-<id>` (overwrite ⇒
    * at-least-once replays are idempotent; the caller-owned runId
    * namespaces lineages so a checkpoint-reset restart cannot clobber
    * a prior run's verdict trail — round 15). Only groups PRESENT in the batch are
    * graded; a group the reference never saw cannot be graded and is
    * dropped by the grid join (callers alert on absence separately).
    * State: none (the reference is read-only) — the monitor scales with
    * the batch, not the stream. */
  def runDriftMonitor(spark: SparkSession, stream: DataFrame,
                      group: Seq[String], valueCol: String, nBins: Int,
                      refDir: String, outDir: String, checkpointDir: String,
                      thresholdMilli: Long, runId: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BoundedStream.drain(stream, checkpointDir)(driftSink(spark, group,
      valueCol, nBins, refDir, outDir, thresholdMilli, runId))

  /** The grading step of [[runDriftMonitor]], factored out so a batch
    * is directly testable against the batch-side arithmetic. */
  private[graft] def applyDriftBatch(spark: SparkSession, batch: DataFrame,
                                     batchId: Long, group: Seq[String],
                                     valueCol: String, nBins: Int,
                                     refDir: String, outDir: String,
                                     thresholdMilli: Long,
                                     runId: String): Unit =
    driftSink(spark, group, valueCol, nBins, refDir, outDir, thresholdMilli,
      runId)(batch, batchId)

  /** The verdict sink of [[runDriftMonitor]]: each batch's verdicts over
    * `outDir/batch=<runId>-<id>`. */
  private def driftSink(spark: SparkSession, group: Seq[String],
                        valueCol: String, nBins: Int, refDir: String,
                        outDir: String, thresholdMilli: Long,
                        runId: String): (DataFrame, Long) => Unit = {
    // the batch twin's domain check (Profiling.driftTvd): out-of-range
    // thresholds must fail loudly here too, not produce a monitor that
    // silently never (or always) fires (round 15)
    require(thresholdMilli >= 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be in [0,1000]: $thresholdMilli")
    BoundedStream.skipEmpty(BoundedStream.parquetSink(outDir, Some(runId),
      (batch, batchId) => {
      val gc = group.map(col)
      val ref = spark.read.parquet(refDir)
      val bounds =
        ref.select((gc :+ col("lo") :+ col("width")): _*).distinct()
      val batchCells = Sketches
        .binHistogramWith(batch, bounds, group, col(valueCol), nBins)
        .select((gc :+ col("bin") :+ col("cnt").as("n2")): _*)
      val refCells =
        ref.select((gc :+ col("bin") :+ col("cnt").as("n1")): _*)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(gc: _*)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      refCells
        .join(batchCells, group :+ "bin", "full_outer")
        .na.fill(0L, Seq("n1", "n2"))
        .withColumn("t1", sum(col("n1")).over(w))
        .withColumn("t2", sum(col("n2")).over(w))
        .withColumn("__d",
          abs(col("n1") * col("t2") - col("n2") * col("t1")))
        .groupBy(gc: _*)
        .agg(max(col("t1")).as("n_ref"), max(col("t2")).as("n_batch"),
          sum(col("__d")).as("__s"))
        .filter(col("n_batch") > 0) // only groups the batch carries
        .select((gc :+ col("n_ref") :+ col("n_batch") :+
          (col("__s").cast("double") /
            (lit(2.0) * col("n_ref").cast("double") *
              col("n_batch").cast("double"))).as("tvd") :+
          (col("__s") * lit(1000L) >=
            lit(2L * thresholdMilli) * col("n_ref") * col("n_batch"))
            .as("drifted") :+ lit(batchId).as("batch_id")): _*)
    }))
  }
}
