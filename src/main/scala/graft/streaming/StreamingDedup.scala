package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.{BandJoin, Dedup}

/** Streaming composition of the dedup surface (north star × §2i): the
  * batch operators' semantics carried onto an unbounded document stream.
  *
  * Three stages, each independently usable:
  *  1. [[exactDedupStream]] — exact dedup with watermark-bounded state:
  *     the stream-native analogue of the batch hash-key groupBy. State
  *     per distinct doc is ONE 16-byte key (never the text), expiring
  *     with the watermark.
  *  2. [[sketchStream]] — stateless per-row SimHash sketching through
  *     the same native expressions the batch path uses (shingle → hash →
  *     sketch is a pure projection, so it runs unchanged in a stream).
  *  3. [[candidatePairStream]] — stateful near-dup candidate generation:
  *     each 16-bit band bucket keeps the sketches seen so far and emits
  *     a candidate pair the moment a new doc lands within the Hamming
  *     radius of a prior one. This is the streaming half of the batch
  *     band join; exact verification (and cross-band dedup of emitted
  *     pairs) stays a downstream batch step, as in production streaming
  *     dedup architectures.
  *
  * Scale notes: exact-dedup and bucket state shuffle 16-byte keys and
  * 16-byte sketches, never document bodies. Bucket state is bounded in
  * BOTH dimensions: [[MaxBucket]] sketches per bucket (oldest evicted
  * first — a hot bucket would otherwise grow without bound) and a
  * processing-time idle timeout per bucket (the bucket COUNT would
  * otherwise grow toward 4×65536 over a long stream). Both caps trade
  * recall for bounded state, exactly like the batch path's banding
  * trades recall for candidate volume.
  */
object StreamingDedup {

  /** Exact dedup over a document stream: first arrival of each distinct
    * text survives; re-arrivals within the watermark window are dropped.
    * Keyed on (xxhash64(text), length) — the batch dedup_exact key —
    * via dropDuplicatesWithinWatermark, so state expires with event time
    * instead of accumulating forever. */
  def exactDedupStream(docs: DataFrame, tsCol: String, delay: String): DataFrame =
    docs
      .withWatermark(tsCol, delay)
      .withColumn("text_key", xxhash64(col("text")))
      .withColumn("text_len", length(col("text")))
      .dropDuplicatesWithinWatermark("text_key", "text_len")
      .drop("text_key", "text_len")

  /** Stateless per-row SimHash sketch of a document stream — the same
    * tokens → hashed shingles → SimHash63 column chain as the batch
    * [[Dedup.simhashSketch]] (minus its small-batch repartition, which is
    * meaningless on a stream), so sketches are bit-identical between the
    * two paths (pinned by StreamingDedupSpec). */
  def sketchStream(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("ws", Dedup.tokens(col("text")))
      .withColumn("sh", Dedup.hashedShingles("ws", n))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), Dedup.simhash("sh").as("simhash"))
  }

  /** One banded sketch row: the stream-side unit of near-dup state.
    * `probe = true` marks a Hamming-ball probe row (see [[banded]]): it
    * looks up its bucket's history but is never inserted into state. */
  final case class BandedSketch(bandId: Int, bandVal: Int, docId: Long,
                                simhash: Long, probe: Boolean)

  /** An emitted candidate: a new doc within `maxDist` of a prior doc in
    * the same band bucket. Pairs are (smaller, larger) by doc id; the
    * same pair may surface from multiple bands — dedupe downstream. */
  final case class CandidatePair(docA: Long, docB: Long, hamming: Int)

  // Primitive-array state: parallel (docId, sketch) arrays encode to two
  // flat binary columns. Public (not private) — the state encoder's
  // generated code constructs it reflectively and cannot reach a
  // private nested class.
  final case class BucketState(docIds: Array[Long], sketches: Array[Long])

  /** Oldest-evicted cap on per-bucket state (see scaladoc). */
  val MaxBucket = 1024

  /** Explode a sketch stream into its band rows — the band layout itself
    * comes from [[Dedup.withSimhashBands]], the same single source of
    * truth the batch sketch and pair generator use.
    *
    * `probeBits` (0..16) is the streaming form of the batch Hamming-ball
    * multi-probe ([[Dedup.simhashPairsFromSketch]]): besides its exact
    * band rows, each doc emits LOOKUP-ONLY rows (probe = true) at every
    * 1-bit flip within the first `probeBits` positions of each band.
    * Probe rows search their bucket's history but never enter state, so
    * state size is unchanged — the fan-out is per-arrival work only.
    * With probeBits=16 candidate generation is GUARANTEED for pairs at
    * Hamming ≤ 7 (some band differs in ≤ 1 bit; the later arrival's
    * probe row lands in the earlier doc's stored bucket), vs ≤ 3 for
    * exact bands — the identical guarantee widening as the batch probe. */
  def banded(spark: SparkSession, sketches: DataFrame,
             probeBits: Int = 0): Dataset[BandedSketch] = {
    import spark.implicits._
    require(probeBits >= 0 && probeBits <= 16,
      s"probeBits must be in [0, 16] (16-bit bands), got $probeBits")
    val exact = Dedup.withSimhashBands(sketches)
      .select(col("doc_id"), col("simhash"), posexplode(array(
        col("band0").cast("int"), col("band1").cast("int"),
        col("band2").cast("int"), col("band3").cast("int")))
        .as(Seq("band_id", "band_val")))
    val withProbes =
      if (probeBits == 0) exact.withColumn("probe", lit(false))
      else exact.select(col("doc_id"), col("simhash"), col("band_id"),
        explode(array(struct(col("band_val"), lit(false).as("probe")) +:
          (0 until probeBits).map(j => struct(
            col("band_val").bitwiseXOR(lit(1 << j)).as("band_val"),
            lit(true).as("probe"))): _*)).as("bv"))
        .select(col("doc_id"), col("simhash"), col("band_id"),
          col("bv.band_val").as("band_val"), col("bv.probe").as("probe"))
    withProbes
      .select(col("band_id").as("bandId"), col("band_val").as("bandVal"),
        col("doc_id").as("docId"), col("simhash"), col("probe"))
      .as[BandedSketch]
  }

  /** Stateful near-dup candidate stream: per (bandId, bandVal) bucket,
    * compare each arriving sketch against the bucket's history and emit
    * pairs within `maxDist`.
    *
    * State expiry: MaxBucket caps entries PER bucket, but the number of
    * buckets is unbounded (4×65536 possible), so each bucket also
    * carries a processing-time idle timeout — a bucket that sees no new
    * sketch for `stateIdleTimeout` is dropped entirely. Total state is
    * therefore bounded by (active buckets in the window) × MaxBucket,
    * not by the lifetime of the stream; the recall cost is that a
    * re-arrival after a long silence can't pair with pre-silence docs —
    * the same trade the exact-dedup watermark makes.
    *
    * Trigger note: processing-time timeouts make the engine run no-data
    * micro-batches to evaluate them — run this query with a real trigger
    * interval (production) or with
    * `spark.sql.streaming.noDataMicroBatches.enabled=false` (tests,
    * where a zero-interval trigger would otherwise busy-loop). */
  def candidatePairStream(spark: SparkSession, bandedSketches: Dataset[BandedSketch],
                          maxDist: Int,
                          stateIdleTimeout: String = "30 minutes"): Dataset[CandidatePair] = {
    import spark.implicits._
    bandedSketches
      .groupByKey(b => (b.bandId, b.bandVal))
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout) {
        (_: (Int, Int), batch: Iterator[BandedSketch],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val prev = state.getOption.getOrElse(
            BucketState(Array.empty[Long], Array.empty[Long]))
          var ids = prev.docIds
          var sks = prev.sketches
          val out = List.newBuilder[CandidatePair]
          // Exact rows FIRST (group-iterator order is unspecified): a
          // probe row compares against state and never inserts, so if it
          // ran before a same-batch exact row it probes PRE-batch state
          // and a pair whose two docs share one micro-batch would be
          // silently missed — the exact d ≤ 7 guarantee the probe layout
          // promises. Ordering exacts first restores it: by the time any
          // probe row looks, every exact row of the batch is in state.
          // Note on re-delivery: a re-delivered doc's exact rows are
          // suppressed by the ids guard, but its probe rows land in
          // buckets that never stored it and re-emit known pairs —
          // downstream dedupe is REQUIRED anyway (the same pair already
          // surfaces once per shared band), so duplicates are part of
          // this operator's contract, not an anomaly.
          val (probes, exacts) = batch.toList.partition(_.probe)
          (exacts.iterator ++ probes.iterator).foreach { b =>
            if (!ids.contains(b.docId)) {
              var i = 0
              while (i < ids.length) {
                val d = java.lang.Long.bitCount(sks(i) ^ b.simhash)
                if (d <= maxDist)
                  out += CandidatePair(math.min(ids(i), b.docId),
                    math.max(ids(i), b.docId), d)
                i += 1
              }
              if (!b.probe) {
                // newest first; oldest evicted past the cap
                ids = (b.docId +: ids).take(MaxBucket)
                sks = (b.simhash +: sks).take(MaxBucket)
              }
            }
          }
          // update ONLY when this batch inserted an exact row or prior
          // state exists (round 15): a probe-only batch against an empty
          // bucket must not materialize a state entry — with probeBits
          // fan-out each doc emits tens of lookup-only rows into buckets
          // that hold nothing, and unconditionally updating would inflate
          // the state store (entries + timers + checkpoint bytes) by the
          // probe multiplicity, violating the documented "probe rows
          // never enter state" invariant. An existing bucket's timeout
          // IS re-armed by a probe — it is demonstrably still hot.
          if (ids.nonEmpty || state.exists) {
            state.update(BucketState(ids, sks))
            state.setTimeoutDuration(stateIdleTimeout)
          }
          out.result().iterator
          }
      }
  }

  /** STATELESS incremental-dedup gate: probe a document STREAM against a
    * persisted corpus [[Dedup.minhashIndex]] and emit the verified
    * near-dup pairs `(doc_new, doc_old)` — the streaming face of
    * [[Dedup.minhashPairsAgainst]] (same contract metadata, same band
    * layout, same exact-Jaccard verify; batch parity pinned by
    * StreamingDedupSpec).
    *
    * Unlike [[candidatePairStream]] (which finds pairs WITHIN the stream
    * and needs per-bucket state), probing a static index needs NO
    * streaming state at all: sketching is a per-row projection, candidate
    * generation is a stream-static equi-join on the band key, and
    * verification is a second stream-static join on the matched doc id —
    * every micro-batch is a pure map+join pass, so there is no watermark,
    * no timeout, and nothing to bound. The caller owns the index
    * lifecycle (read it once, cache it — the AsOfJoin pack convention).
    *
    * The same (doc_new, doc_old) pair can surface from several bands;
    * with no state there is nowhere to drop duplicates without turning
    * the gate into an aggregation, so — exactly like
    * [[candidatePairStream]] — downstream dedupe is part of the
    * contract. */
  def indexProbeStream(docs: DataFrame, index: DataFrame,
                       rowsPerBand: Int, num: Int, den: Int): DataFrame = {
    val (n, numPerm) = Dedup.indexContract(index)
    Dedup.bandCount(numPerm, rowsPerBand)
    // band rows carry the probe doc's shingles inline (joining back to
    // the stream side would be a stream-stream join) — per-batch fan-out
    // of numBands × the shingle array, bounded by the micro-batch, never
    // by the corpus; the band join of a stream keeps its repeats
    val cand = BandJoin.pairs(
      Dedup.bandsOf(Dedup.minhashIndex(docs, n, numPerm), rowsPerBand,
        col("sh").as("sh_a"), size(col("sh")).as("sz_a")),
      Dedup.bandsOf(index, rowsPerBand)
        .withColumnRenamed("doc_id", "doc_old"), Dedup.BandKey, None,
      col("doc_id").as("doc_new"), col("doc_old"), col("sh_a"), col("sz_a"))
    BandJoin.verify(cand, Seq("doc_old" -> Dedup.indexSide(index)),
      Dedup.jaccardCheck(num, den))
  }
}
