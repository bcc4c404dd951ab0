package graft

import org.apache.spark.sql.functions._

import graft.operators.Features

/** Pins the feature-pipeline semantics quirks called out in SURVEY.md §5:
  * A6 sentinels, W2 fill-order divergence, A5 guards, W5 determinism and
  * exact row positions, W4 sequence shapes, chronoSplitApprox guards. */
class FeaturesSpec extends SparkSpecBase {
  import spark.implicits._

  private val key = Seq("k")
  private def w = Features.keyWindow(key, Seq("t"))

  test("A6 sentinels: constant actuals give R2 = -1; n<2 groups are skipped (train.py:240-257)") {
    val df = Seq(
      ("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, 5.0), // constant => ss_tot=0
      ("b", 1, 1.0), // single row => skipped
      ("c", 1, 1.0), ("c", 2, 3.0), ("c", 3, 2.0)
    ).toDF("k", "t", "v")
      .withColumn("pred", Features.lag1(col("v"), w))
    val m = Features.regressionMetrics(df, key, col("v"), col("pred"))
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Double]("R2"), r.getAs[Double]("MSE"), r.getAs[Long]("Samples"))).toMap
    assert(m("a")._1 === -1.0) // ss_tot == 0 sentinel
    assert(m("a")._2 === 0.0)
    assert(!m.contains("b")) // skipped: only 1 (actual, pred) pair after lag
    // c: pairs (3,1),(2,3): ss_res = 4+1 = 5, mean = 2.5, ss_tot = 0.5, mse = 2.5
    assert(m("c")._1 === 1.0 - 5.0 / 0.5)
    assert(m("c")._2 === 2.5)
    assert(m("c")._3 === 2L)
  }

  test("W2 fill order diverges on leading/trailing null runs (train.py:428 vs validate.py:235)") {
    val df = Seq(
      ("g", 1, None), ("g", 2, None), ("g", 3, Some(10.0)), ("g", 4, None),
      ("h", 1, Some(1.0)), ("h", 2, None), ("h", 3, None)
    ).toDF("k", "t", "v")
    // train order: ffill then bfill
    val trainF = df.withColumn("f", Features.ffill(col("v"), w))
      .withColumn("filled", coalesce(col("f"), Features.bfill(col("f"), Seq("k"), Seq("t"))))
    // validate order: bfill then ffill
    val valF = df.withColumn("b", Features.bfill(col("v"), Seq("k"), Seq("t")))
      .withColumn("filled", coalesce(col("b"), Features.ffill(col("b"), w)))
    def filled(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k", "t").collect().map(_.getAs[Double]("filled")).toSeq
    assert(filled(trainF) === Seq(10.0, 10.0, 10.0, 10.0, 1.0, 1.0, 1.0))
    assert(filled(valF) === Seq(10.0, 10.0, 10.0, 10.0, 1.0, 1.0, 1.0))
    // Both total orders agree here; the DIVERGENCE is observable on data
    // where a group is entirely null after one pass — pinned at query level
    // (w2_fill_train vs w2_fill_validate differ on 1772 sf0.01 rows); the
    // unit pin: intermediate passes differ.
    val ffillOnly = df.withColumn("f", Features.ffill(col("v"), w))
      .orderBy("k", "t").collect().map(_.getAs[Any]("f")).toSeq
    val bfillOnly = df.withColumn("b", Features.bfill(col("v"), Seq("k"), Seq("t")))
      .orderBy("k", "t").collect().map(_.getAs[Any]("b")).toSeq
    assert(ffillOnly === Seq(null, null, 10.0, 10.0, 1.0, 1.0, 1.0))
    assert(bfillOnly === Seq(10.0, 10.0, 10.0, null, 1.0, null, null))
  }

  test("chunked W1/W2 forms are IDENTICAL to the plain per-key windows: " +
    "boundary carries, all-null chunks, null-time rows, and the real " +
    "events table") {
    // adversarial micro-fixture: chunk = floor(t/3) — values crossing
    // chunk boundaries, a chunk that is entirely null (t=3..5 for g),
    // a null-time row, and a key living in one chunk only
    // … plus (round 15, the null-safety advisory): a NULL key group
    // spanning chunks — partitionBy treats null as a real group, so its
    // cross-chunk carries must survive the stitch join — and a
    // (null t, null v) row whose carry must come from the summary
    val df = Seq(
      ("g", Some(0), Some(1.0)), ("g", Some(1), None), ("g", Some(2), None),
      ("g", Some(3), None), ("g", Some(4), None), ("g", Some(5), None),
      ("g", Some(6), Some(7.0)), ("g", Some(7), None),
      ("h", Some(2), None), ("h", Some(4), Some(4.0)),
      ("i", None, Some(9.0)), ("i", Some(1), None),
      (null, Some(0), Some(2.0)), (null, Some(3), None),
      (null, Some(6), None), (null, None, None)
    ).toDF("k", "t", "v")
    val chunk = expr("CAST(floor(t / 3) AS BIGINT)")
    val kSeq = Seq("k"); val tSeq = Seq("t")
    def snap(d: org.apache.spark.sql.DataFrame, c: String) =
      d.orderBy("k", "t").collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Any]("t"), r.getAs[Any](c)))
        .toSeq
    val wk = Features.keyWindow(kSeq, tSeq)
    // ffill
    val plainF = df.withColumn("o", Features.ffill(col("v"), wk))
    val chunkF = Features.ffillChunked(df, "v", kSeq, tSeq, chunk, "o")
    assert(snap(chunkF, "o") === snap(plainF, "o"))
    // bfill
    val plainB = df.withColumn("o", Features.bfill(col("v"), kSeq, tSeq))
    val chunkB = Features.bfillChunked(df, "v", kSeq, tSeq, chunk, "o")
    assert(snap(chunkB, "o") === snap(plainB, "o"))
    // lag1 (nulls carried verbatim across boundaries)
    val plainL = df.withColumn("o", Features.lag1(col("v"), wk))
    val chunkL = Features.lag1Chunked(df, "v", kSeq, tSeq, chunk, "o")
    assert(snap(chunkL, "o") === snap(plainL, "o"))
    // and on the REAL events table at sf0.001, (user_id, event_type)
    // keys, month chunks — the registered rows' exact shape
    val ev = Tables.events(spark, sf0001)
    val rkey = Seq("user_id", "event_type"); val rt = Seq("ts", "event_id")
    val mchunk = expr(
      "floor(unix_micros(CAST(ts AS TIMESTAMP)) / 2592000000000)")
    val rw = Features.keyWindow(rkey, rt)
    def rsnap(d: org.apache.spark.sql.DataFrame, c: String) =
      d.select(col("event_id"), col(c)).collect()
        .map(r => (r.getLong(0), r.getAs[Any](1))).toMap
    assert(rsnap(Features.ffillChunked(ev, "value", rkey, rt, mchunk, "o"), "o")
      === rsnap(ev.withColumn("o", Features.ffill(col("value"), rw)), "o"))
    assert(rsnap(Features.bfillChunked(ev, "value", rkey, rt, mchunk, "o"), "o")
      === rsnap(ev.withColumn("o", Features.bfill(col("value"), rkey, rt)), "o"))
    assert(rsnap(Features.lag1Chunked(ev, "value", rkey, rt, mchunk, "o"), "o")
      === rsnap(ev.withColumn("o", Features.lag1(col("value"), rw)), "o"))
  }

  test("auto-dispatch entries route on the hottest-key probe and are " +
    "identical through BOTH routes (lag/ffill/bfill, range agg, ewma)") {
    val ev = Tables.events(spark, sf0001).filter(col("value").isNotNull)
    val rkey = Seq("user_id", "event_type"); val rt = Seq("ts", "event_id")
    val mchunk = expr(
      "floor(unix_micros(CAST(ts AS TIMESTAMP)) / 2592000000000)")
    def planOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.toString
    // a huge bound routes plain (no chunk machinery in the plan); a
    // bound of 0 forces the scale path — and both snapshots are equal
    val plainF = Features.ffillAuto(ev, "value", rkey, rt, mchunk, "o",
      rowsPerTask = Long.MaxValue)
    val fastF = Features.ffillAuto(ev, "value", rkey, rt, mchunk, "o",
      rowsPerTask = 0L)
    assert(!planOf(plainF).contains("__ffc_chunk"))
    assert(planOf(fastF).contains("__ffc_chunk"))
    def snap(d: org.apache.spark.sql.DataFrame, c: String) =
      d.select(col("event_id"), col(c)).collect()
        .map(r => (r.getLong(0), r.getAs[Any](1))).toMap
    assert(snap(fastF, "o") === snap(plainF, "o"))
    val plainL = Features.lag1Auto(ev, "value", rkey, rt, mchunk, "o",
      rowsPerTask = Long.MaxValue)
    val fastL = Features.lag1Auto(ev, "value", rkey, rt, mchunk, "o",
      rowsPerTask = 0L)
    assert(planOf(fastL).contains("__lgc_chunk") &&
      !planOf(plainL).contains("__lgc_chunk"))
    assert(snap(fastL, "o") === snap(plainL, "o"))
    val plainB = Features.bfillAuto(ev, "value", rkey, rt, mchunk, "o",
      rowsPerTask = Long.MaxValue)
    val fastB = Features.bfillAuto(ev, "value", rkey, rt, mchunk, "o",
      rowsPerTask = 0L)
    assert(planOf(fastB).contains("__bfc_chunk") &&
      !planOf(plainB).contains("__bfc_chunk"))
    assert(snap(fastB, "o") === snap(plainB, "o"))
    // range agg: plain frame vs bucketed decomposition
    val evm = ev
      .withColumn("ts_us", expr("unix_micros(cast(ts AS timestamp))"))
      .withColumn("vm", expr("CAST(round(value * 1e6) AS BIGINT)"))
    val w7 = 7L * 86400L * 1000000L
    val plainR = Features.rangeMovingAggAuto(evm, Seq("user_id"), "ts_us",
      "vm", w7, rowsPerTask = Long.MaxValue)
    val fastR = Features.rangeMovingAggAuto(evm, Seq("user_id"), "ts_us",
      "vm", w7, rowsPerTask = 0L)
    assert(planOf(fastR).contains("__rma_day") &&
      !planOf(plainR).contains("__rma_day"))
    def rsnap(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "n_w", "sum_w").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rsnap(fastR) === rsnap(plainR))
    // ewma: windowed fold vs bucketed band join — bit-identical
    val plainE = Features.ewmaAuto(ev, rkey, rt, "value", 0.3, 8,
      rowsPerTask = Long.MaxValue)
    val fastE = Features.ewmaAuto(ev, rkey, rt, "value", 0.3, 8,
      rowsPerTask = 0L)
    assert(planOf(fastE).contains("__ewb_rn") &&
      !planOf(plainE).contains("__ewb_rn"))
    def esnap(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "ewma").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(esnap(fastE) === esnap(plainE))
    // the probe itself: hottest key on the real table, empty-input zero
    assert(Features.maxKeyRows(ev, rkey) > 0L)
    assert(Features.maxKeyRows(ev.filter(lit(false)), rkey) === 0L)
  }

  test("chunked W1/W2 forms FAIL LOUD on a non-monotone chunk expression " +
    "(a hash would silently corrupt the boundary carries)") {
    // 8 rows, chunk = t % 3: chunk 0 holds t=0,3,6 while chunk 1 holds
    // t=1,4,7 — intervals overlap, the monotonicity contract is violated
    val df = (0 to 7).map(t => ("g", t, Option(t.toDouble)))
      .toDF("k", "t", "v")
    val badChunk = expr("CAST(t % 3 AS BIGINT)")
    val kSeq = Seq("k"); val tSeq = Seq("t")
    def mustThrow(d: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception] { d.collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("not monotone")), s"got: $e")
    }
    mustThrow(Features.ffillChunked(df, "v", kSeq, tSeq, badChunk, "o"))
    mustThrow(Features.bfillChunked(df, "v", kSeq, tSeq, badChunk, "o"))
    mustThrow(Features.lag1Chunked(df, "v", kSeq, tSeq, badChunk, "o"))
    // a chunk that splits EQUAL-timestamp rows across chunks shares a
    // boundary instant (prev tmax == next tmin) — unorderable against
    // the plain form's tiebreak, so the >= guard must fire, not let the
    // carry silently disagree with the plain window (round 15)
    val tied = Seq(("g", 5, Option(1.0)), ("g", 5, None))
      .toDF("k", "t", "v")
    val splitTie = expr("CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT)")
    mustThrow(Features.ffillChunked(tied, "v", kSeq, tSeq, splitTie, "o"))
    mustThrow(Features.bfillChunked(tied, "v", kSeq, tSeq, splitTie, "o"))
    mustThrow(Features.lag1Chunked(tied, "v", kSeq, tSeq, splitTie, "o"))
    // a monotone-but-gappy chunk (missing chunk ids) remains legal
    val gappy = expr("CAST(CASE WHEN t < 3 THEN 10 ELSE 40 END AS BIGINT)")
    val plain = df.withColumn("o",
      Features.ffill(col("v"), Features.keyWindow(kSeq, tSeq)))
    val out = Features.ffillChunked(df, "v", kSeq, tSeq, gappy, "o")
    assert(out.orderBy("t").collect().map(_.getAs[Any]("o")).toSeq ===
      plain.orderBy("t").collect().map(_.getAs[Any]("o")).toSeq)
  }

  test("rangeMovingAggBucketed is IDENTICAL to the plain sliding RANGE " +
    "frame: bucket boundaries, exact window edges, timestamp peers, " +
    "null timestamps, and the real events table") {
    import org.apache.spark.sql.expressions.{Window => W}
    // micro-fixture, bucket = 10 µs, window = 25 µs (2.5 buckets):
    // rows straddling bucket edges, a window edge EXACTLY on an event
    // (closed frame must include it), duplicate timestamps (peers share
    // the frame by value), an empty bucket gap, and null-ts rows
    val rows = Seq(
      ("a", Some(3L), 1L), ("a", Some(9L), 2L), ("a", Some(10L), 4L),
      ("a", Some(12L), 8L), ("a", Some(12L), 16L), // peers at 12
      ("a", Some(28L), 32L), // = 3 + 25: edge exactly on the first event
      ("a", Some(55L), 64L), // after a whole-bucket gap
      ("b", Some(100L), 1L), ("b", None, 7L), ("b", None, 9L)
    ).toDF("k", "ts_us", "v")
    val plainW = W.partitionBy(col("k")).orderBy(col("ts_us"))
      .rangeBetween(-25L, W.currentRow)
    val plain = rows
      .withColumn("n", count(lit(1)).over(plainW))
      .withColumn("s", sum(col("v")).over(plainW))
    val fast = Features.rangeMovingAggBucketed(rows, Seq("k"), "ts_us", "v",
      windowMicros = 25L, bucketMicros = 10L, outCnt = "n", outSum = "s")
    def snap(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "ts_us", "v", "n", "s").collect()
        .map(r => (r.getString(0), r.getAs[Any](1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(snap(fast) === snap(plain))
    // window edge: the row at ts=28 spans [3, 28] CLOSED — it must
    // include the ts=3 row (and everything between): {3,9,10,12,12,28}
    val edge = fast.filter(col("ts_us") === 28).head()
    assert(edge.getAs[Long]("n") === 6L)
    assert(edge.getAs[Long]("s") === (1L + 2 + 4 + 8 + 16 + 32))
    // null-ts rows are their own peer group: both b-nulls see n=2, s=16
    val nulls = fast.filter(col("k") === "b" && col("ts_us").isNull)
      .select("n", "s").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nulls.toSeq === Seq((2L, 16L), (2L, 16L)))
    // and on real events at sf0.001 (null timestamps included), the
    // registered w10 shape: 7-day window, day buckets
    val ev = Tables.events(spark, sf0001)
      .withColumn("ts_us", expr("unix_micros(cast(ts AS timestamp))"))
      .withColumn("vm", expr("CAST(round(coalesce(value, 0) * 1e6) AS BIGINT)"))
    val w7 = 7L * 86400L * 1000000L
    val pW = W.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-w7, W.currentRow)
    val pRef = ev.withColumn("n", count(lit(1)).over(pW))
      .withColumn("s", sum(col("vm")).over(pW))
      .select("event_id", "n", "s").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pFast = Features.rangeMovingAggBucketed(ev, Seq("user_id"), "ts_us",
        "vm", windowMicros = w7, outCnt = "n", outSum = "s")
      .select("event_id", "n", "s").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pFast === pRef)
  }

  test("rangeMovingAggBucketed FAILS LOUD when a key's bucket span exceeds " +
    "maxSpanBuckets (a corrupt timestamp would explode the dense prefix)") {
    // one sane row + one year-9999-style outlier: span in day buckets
    // is ~2.9M >> the 200k default cap
    val rows = Seq(
      ("a", Some(1700000000000000L), 1L),
      ("a", Some(253370764800000000L), 2L)
    ).toDF("k", "ts_us", "v")
    val e = intercept[Exception] {
      Features.rangeMovingAggBucketed(rows, Seq("k"), "ts_us", "v",
        windowMicros = 25L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxSpanBuckets")), s"got: $e")
    // a deliberately-widened cap runs clean on the same input
    val ok = Features.rangeMovingAggBucketed(rows, Seq("k"), "ts_us", "v",
      windowMicros = 25L, maxSpanBuckets = 4000000L)
    assert(ok.count() === 2L)
  }

  test("ewmaBucketed is bit-identical to the windowed ewma: bucket " +
    "boundaries, short histories, null group keys, and the real events " +
    "table") {
    // micro-fixture: 19 rows per key (crosses two bucket boundaries at
    // L=8), a short key (3 rows < L), and a NULL group key (a real
    // group under partitionBy — a plain equi-join would drop it)
    val rows = (
      (1 to 19).map(i => (Option("g"), i.toLong, i * 1.5 - 7)) ++
      (1 to 3).map(i => (Option("h"), i.toLong, i * 2.0)) ++
      (1 to 9).map(i => (Option.empty[String], i.toLong, i * 0.5))
    ).toDF("k", "t", "v")
    val plain = Features.ewma(rows, Seq("k"), Seq(col("t")), col("v"),
      alpha = 0.3, maxLag = 8)
    val fast = Features.ewmaBucketed(rows, Seq("k"), Seq("t"), "v",
      alpha = 0.3, maxLag = 8)
    def snap(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "t", "ewma").collect()
        .map(r => ((r.getAs[String](0), r.getLong(1)), r.getDouble(2))).toMap
    val (p, f) = (snap(plain), snap(fast))
    assert(f.keySet === p.keySet)
    f.foreach { case (k, v) => assert(v === p(k), s"row $k") } // bit-equal
    // real events, the registered w13 shape
    val ev = Tables.events(spark, sf0001).filter(col("value").isNotNull)
    val rp = Features.ewma(ev, Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")), col("value"), 0.3, 8)
      .select("event_id", "ewma").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rf = Features.ewmaBucketed(ev, Seq("user_id", "event_type"),
        Seq("ts", "event_id"), "value", 0.3, 8)
      .select("event_id", "ewma").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rf.keySet === rp.keySet)
    rf.foreach { case (k, v) => assert(v === rp(k), s"event $k") }
  }

  test("A5 guards: all-null group normalizes to zeros with (0,1); zero range uses rng=1 (train.py:122-129)") {
    val df = Seq(
      ("n", 1, None), ("n", 2, None), // all-null group
      ("z", 1, Some(4.0)), ("z", 2, Some(4.0)), // zero-range group
      ("r", 1, Some(0.0)), ("r", 2, Some(10.0))
    ).toDF("k", "t", "v")
    val (norm, mn, rng) = Features.minMaxNormalize(col("v"), key)
    val out = df.withColumn("norm", norm).withColumn("mn", mn).withColumn("rng", rng)
      .orderBy("k", "t").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Any]("norm"), r.getAs[Double]("mn"), r.getAs[Double]("rng")))
    assert(out.filter(_._1 == "n").forall { case (_, nv, m, g) => nv == 0.0 && m == 0.0 && g == 1.0 })
    assert(out.filter(_._1 == "z").forall { case (_, nv, m, g) => nv == 0.0 && m == 4.0 && g == 1.0 })
    assert(out.filter(_._1 == "r").map(_._2) === Seq(0.0, 1.0))
  }

  test("W5 exact split: 20 rows give 14/3/3 with deterministic tiebreak (train.py:131-153)") {
    val df = (1 to 20).map(i => (i, i % 7)).toDF("id", "tie")
    val split = Features.chronoSplit(df, order = Seq("tie", "id"))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    assert(counts === Map("train" -> 14L, "val" -> 3L, "test" -> 3L))
    // determinism: same assignment on re-run
    val a1 = split.orderBy("id").collect().map(_.getAs[String]("split")).toSeq
    val a2 = Features.chronoSplit(df, order = Seq("tie", "id"))
      .orderBy("id").collect().map(_.getAs[String]("split")).toSeq
    assert(a1 === a2)
  }

  test("W5 split arithmetic is the reference's Python floats: n = 2800 " +
    "gives 1959/420/421, not decimal's 1960 (train.py:131-153)") {
    // 2800 * 0.7 = 1959.9999999999998 in doubles (int() → 1959) while an
    // exact decimal product is 1960; 2800 * 0.15 = 420.0 either way
    assert(math.floor(2800 * 0.7) === 1959.0)
    val df = (1 to 2800).toDF("id")
    for (split <- Seq(Features.chronoSplit(df, order = Seq("id")),
        Features.chronoSplitDistributed(df, order = Seq("id")))) {
      val counts = split.groupBy("split").count().collect()
        .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
      assert(counts === Map("train" -> 1959L, "val" -> 420L, "test" -> 421L))
      val at = split.filter(col("id").isin(1959, 1960, 2379, 2380)).collect()
        .map(r => r.getAs[Int]("id") -> r.getAs[String]("split")).toMap
      assert(at === Map(1959 -> "train", 1960 -> "val", 2379 -> "val",
        2380 -> "test"))
    }
  }

  test("chronoSplitApprox: empty and all-null inputs do not crash (ADVICE r01)") {
    val empty = Seq.empty[(Int, java.sql.Timestamp)].toDF("id", "ts")
    assert(Features.chronoSplitApprox(empty, "ts").collect().isEmpty)
    val allNull = Seq((1, None: Option[java.sql.Timestamp])).toDF("id", "ts")
    val out = Features.chronoSplitApprox(allNull, "ts").collect()
    assert(out.length === 1 && out.head.getAs[String]("split") === "train")
  }

  test("W4 sliding sequences emit exactly the previous L values in order (train.py:484-492)") {
    val df = (1 to 7).map(i => ("g", i, i * 10.0)).toDF("k", "t", "v")
    val seqs = df.withColumn("seq", Features.slidingSequence(col("v"), w, 3))
      .filter(size(col("seq")) === 3)
      .orderBy("t")
      .collect().map(r => (r.getAs[Int]("t"), r.getAs[Seq[Double]]("seq")))
    assert(seqs.length === 4) // rows t=4..7
    assert(seqs.head === ((4, Seq(10.0, 20.0, 30.0))))
    assert(seqs.last === ((7, Seq(40.0, 50.0, 60.0))))
  }

  test("W4 sequences preserve null history positions (reference emits the NaN, not a shorter window)") {
    val df = Seq(("g", 1, Some(10.0)), ("g", 2, None), ("g", 3, Some(30.0)),
      ("g", 4, Some(40.0))).toDF("k", "t", "v")
    val seqs = df.withColumn("seq", Features.slidingSequence(col("v"), w, 3))
      .filter(size(col("seq")) === 3)
      .collect().map(r => (r.getAs[Int]("t"), r.getSeq[Any](3).toList))
    // only t=4 has a full 3-row history; the null at t=2 stays IN the window
    assert(seqs.toList === List((4, List(10.0, null, 30.0))))
  }

  test("A14 fitAr1: hand-checked OLS line; constant-x group degrades to the mean model") {
    val df = Seq(
      // y = 2x + 1 exactly -> slope 2, intercept 1
      ("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0),
      // constant x -> zero variance -> slope 0, intercept = mean(y) = 4
      ("b", 5.0, 3.0), ("b", 5.0, 5.0),
      // nulls and out-of-domain rows leave the fit entirely
      ("c", 1.0, 2.0), ("c", 2.0, 4.0), ("c", Double.NaN, 9.0))
      .toDF("k", "x", "y")
      .withColumn("x", when(isnan(col("x")), lit(null)).otherwise(col("x")))
    val got = Features.fitAr1(df, Seq("k"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got("a") === ((2.0, 1.0, 3L)))
    assert(got("b") === ((0.0, 4.0, 2L)))
    assert(got("c") === ((2.0, 0.0, 2L))) // null-x row excluded, exact line
  }

  test("W6 latest per group breaks timestamp ties by the tiebreak column") {
    val df = Seq(("g", 5, 1, 100.0), ("g", 5, 2, 200.0), ("g", 4, 9, 300.0))
      .toDF("k", "t", "id", "v")
    val out = Features.latestPerGroup(df, Seq("k"), time = "t",
      tiebreak = "id", payload = Seq("v")).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("v") === 200.0) // t=5 wins; id=2 beats id=1
  }

  test("fitAr2: recovers exact coefficients from noiseless two-lag data") {
    import spark.implicits._
    // y_t = 2*x1 - 0.5*x2 + 3 exactly, on distinct non-collinear lags
    val rows = Seq(
      ("g", 1.0, 2.0), ("g", 2.0, 1.0), ("g", 4.0, 3.0),
      ("g", 1.0, 5.0), ("g", 7.0, 2.0))
      .map { case (k, x1, x2) => (k, x1, x2, 2.0 * x1 - 0.5 * x2 + 3.0) }
      .toDF("k", "x1", "x2", "y")
    val fit = graft.operators.Features.fitAr2(
      rows, Seq("k"), col("x1"), col("x2"), col("y")).collect().head
    assert(math.abs(fit.getAs[Double]("b1") - 2.0) < 1e-9)
    assert(math.abs(fit.getAs[Double]("b2") + 0.5) < 1e-9)
    assert(math.abs(fit.getAs[Double]("intercept") - 3.0) < 1e-9)
    assert(fit.getAs[Long]("n_fit") === 5L)
  }

  test("fitAr2: collinear lags fall back to the mean model; n<3 dropped") {
    import spark.implicits._
    val collinear = Seq(
      ("c", 1.0, 2.0, 10.0), ("c", 2.0, 4.0, 20.0), ("c", 3.0, 6.0, 24.0))
      .toDF("k", "x1", "x2", "y")
    val fit = graft.operators.Features.fitAr2(
      collinear, Seq("k"), col("x1"), col("x2"), col("y")).collect().head
    assert(fit.getAs[Double]("b1") === 0.0 && fit.getAs[Double]("b2") === 0.0)
    assert(math.abs(fit.getAs[Double]("intercept") - 18.0) < 1e-9)
    val tiny = Seq(("t", 1.0, 2.0, 3.0), ("t", 2.0, 3.0, 4.0))
      .toDF("k", "x1", "x2", "y")
    assert(graft.operators.Features.fitAr2(
      tiny, Seq("k"), col("x1"), col("x2"), col("y")).count() === 0L)
  }

  test("fitLinearPerGroup: p=2 is bit-identical to fitAr2; p=4 recovers exact coefficients; constant feature -> mean model; p>4 rejected") {
    import spark.implicits._
    // p=2 equivalence: same centered-Cramer chain, Leibniz-generated —
    // every group's (b1, b2, intercept) must match fitAr2 EXACTLY
    val two = Seq(
      ("g", 1.0, 2.0), ("g", 2.0, 1.0), ("g", 4.0, 3.0),
      ("g", 1.0, 5.0), ("g", 7.0, 2.0),
      ("h", 1.0, 1.0), ("h", 2.0, 3.0), ("h", 3.0, 2.0), ("h", 5.0, 7.0))
      .map { case (k, x1, x2) => (k, x1, x2, 2.0 * x1 - 0.5 * x2 + 3.0) }
      .toDF("k", "x1", "x2", "y")
    val viaAr2 = graft.operators.Features.fitAr2(
      two, Seq("k"), col("x1"), col("x2"), col("y"))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Double]("b1"), r.getAs[Double]("b2"),
          r.getAs[Double]("intercept")))).toMap
    val viaGen = graft.operators.Features.fitLinearPerGroup(
      two, Seq("k"), Seq(col("x1"), col("x2")), col("y"))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Double]("b1"), r.getAs[Double]("b2"),
          r.getAs[Double]("intercept")))).toMap
    assert(viaGen === viaAr2)
    // p=4 exact recovery: y = 2x1 - x2 + 0.5x3 + 4x4 + 7 noiselessly
    val rng = new scala.util.Random(7)
    val four = (1 to 12).map { _ =>
      val (a, b, c, d) = (rng.nextInt(9).toDouble, rng.nextInt(9).toDouble,
        rng.nextInt(9).toDouble, rng.nextInt(9).toDouble)
      ("g", a, b, c, d, 2.0 * a - b + 0.5 * c + 4.0 * d + 7.0)
    }.toDF("k", "x1", "x2", "x3", "x4", "y")
    val f4 = graft.operators.Features.fitLinearPerGroup(four, Seq("k"),
      Seq(col("x1"), col("x2"), col("x3"), col("x4")), col("y"))
      .collect().head
    assert(math.abs(f4.getAs[Double]("b1") - 2.0) < 1e-6)
    assert(math.abs(f4.getAs[Double]("b2") + 1.0) < 1e-6)
    assert(math.abs(f4.getAs[Double]("b3") - 0.5) < 1e-6)
    assert(math.abs(f4.getAs[Double]("b4") - 4.0) < 1e-6)
    assert(math.abs(f4.getAs[Double]("intercept") - 7.0) < 1e-6)
    // a CONSTANT feature zeroes its centered row/column exactly -> the
    // det is exactly 0 -> mean model (the F6-in-pipeline singularity)
    val const = (1 to 6).map(i =>
      ("c", i.toDouble, 5.0, i.toDouble * 2, (i % 3).toDouble, i * 10.0))
      .toDF("k", "x1", "x2", "x3", "x4", "y")
    val fc = graft.operators.Features.fitLinearPerGroup(const, Seq("k"),
      Seq(col("x1"), col("x2"), col("x3"), col("x4")), col("y"))
      .collect().head
    assert(!fc.getAs[Boolean]("well_conditioned"))
    assert((1 to 4).forall(i => fc.getAs[Double](s"b$i") === 0.0))
    assert(math.abs(fc.getAs[Double]("intercept") - 35.0) < 1e-9)
    // the p=4 and p=2 fixtures above solved under an OPEN gate
    assert(f4.getAs[Boolean]("well_conditioned"))
    // n < p+1 dropped; p outside 1..4 rejected loud
    val tiny = (1 to 4).map(i =>
      ("t", i.toDouble, i * 2.0, i * 3.0, (i % 2).toDouble, i * 1.0))
      .toDF("k", "x1", "x2", "x3", "x4", "y")
    assert(graft.operators.Features.fitLinearPerGroup(tiny, Seq("k"),
      Seq(col("x1"), col("x2"), col("x3"), col("x4")), col("y"))
      .count() === 0L)
    intercept[IllegalArgumentException] {
      graft.operators.Features.fitLinearPerGroup(tiny, Seq("k"),
        Seq.fill(5)(col("x1")), col("y"))
    }
  }

  test("pearson: exact +1/-1 on linear data, NULL on zero variance") {
    import spark.implicits._
    val df = Seq(
      ("up", 1.0, 2.0), ("up", 2.0, 4.0), ("up", 3.0, 6.0),
      ("dn", 1.0, 9.0), ("dn", 2.0, 7.0), ("dn", 3.0, 5.0),
      ("flat", 1.0, 4.0), ("flat", 2.0, 4.0), ("flat", 3.0, 4.0))
      .toDF("k", "x", "y")
    val out = graft.operators.Features.pearson(
      df, Seq("k"), col("x"), col("y")).collect()
      .map(r => r.getString(0) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap
    assert(math.abs(out("up").get - 1.0) < 1e-12)
    assert(math.abs(out("dn").get + 1.0) < 1e-12)
    assert(out("flat").isEmpty)
  }

  test("withGlobalRowNumber: equals the global window's row_number on a " +
    "total order, under any input partitioning") {
    import spark.implicits._
    val df = (1 to 500).map(i => ((i * 7919) % 1000, i.toLong))
      .toDF("k", "id")
    val expected = df.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id")))
        .cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (parts <- Seq(1, 7)) {
      val got = graft.operators.Features.withGlobalRowNumber(
        df.repartition(parts), Seq("k", "id"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === expected, s"parts=$parts")
    }
  }

  test("decisionStump: finds the perfect split, ties break small, degenerate input -> no rows") {
    import spark.implicits._
    // feature 1,2,3 negative; 10,11 positive — perfect split at t=3
    val df = Seq((1L, false), (2L, false), (3L, false),
      (10L, true), (11L, true)).toDF("f", "lab")
    val row = graft.operators.Features.decisionStump(
      df, col("f"), col("lab")).collect()
    assert(row.length === 1)
    val r = row.head
    assert(r.getAs[Long]("threshold") === 3L)
    assert(r.getAs[Long]("n_left") === 3L && r.getAs[Long]("pos_left") === 0L)
    assert(r.getAs[Long]("n_right") === 2L && r.getAs[Long]("pos_right") === 2L)
    assert(r.getAs[Long]("n_correct") === 5L)
    // all splits equally useless (alternating labels at every value with
    // equal counts) -> cost ties -> smallest threshold wins
    val tied = Seq((1L, true), (1L, false), (2L, true), (2L, false),
      (3L, true), (3L, false)).toDF("f", "lab")
    assert(graft.operators.Features.decisionStump(tied, col("f"), col("lab"))
      .head().getAs[Long]("threshold") === 1L)
    // single distinct feature value: no valid split, zero rows
    val deg = Seq((7L, true), (7L, false)).toDF("f", "lab")
    assert(graft.operators.Features.decisionStump(deg, col("f"), col("lab"))
      .count() === 0L)
  }

  test("decisionStumpPerGroup: each group trains the stump the global form would train alone") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, false), ("a", 2L, false), ("a", 10L, true), ("a", 11L, true),
      ("b", 5L, true), ("b", 6L, false), ("b", 7L, true), ("b", 8L, false),
      ("c", 9L, true), ("c", 9L, false) // degenerate: no split, no row
    ).toDF("g", "f", "lab")
    val per = graft.operators.Features.decisionStumpPerGroup(
      df, Seq("g"), col("f"), col("lab")).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("threshold"), r.getAs[Long]("n_left"),
          r.getAs[Long]("pos_left"), r.getAs[Long]("n_correct"))).toMap
    for (g <- Seq("a", "b")) {
      val solo = graft.operators.Features.decisionStump(
        df.filter(col("g") === g), col("f"), col("lab")).head()
      assert(per(g) === ((solo.getAs[Long]("threshold"),
        solo.getAs[Long]("n_left"), solo.getAs[Long]("pos_left"),
        solo.getAs[Long]("n_correct"))), s"group $g")
    }
    assert(!per.contains("c"))
  }

  test("decisionStumpPerGroup: a group column named 't' or 'y' fails loud, not as a duplicate-column frame") {
    import spark.implicits._
    val df = Seq((1.0, true, "g1")).toDF("f", "lab", "t")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Features.decisionStumpPerGroup(
        df, Seq("t"), col("f"), col("lab"))
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("linearFit: exact coefficient recovery on noiseless data; ridge shrinks; singular falls back to mean model") {
    import spark.implicits._
    // y = 5 + 2·x1 − 3·x2, exactly representable at 6 decimals
    val df = (1 to 40).map { i =>
      val x1 = i * 0.25; val x2 = (i % 7) * 1.5
      (x1, x2, 5.0 + 2.0 * x1 - 3.0 * x2)
    }.toDF("x1", "x2", "y")
    val m = Features.linearFit(df, Seq(col("x1"), col("x2")), col("y")).get
    assert(m.nFit === 40L)
    assert(math.abs(m.coef(0) - 5.0) < 1e-8)
    assert(math.abs(m.coef(1) - 2.0) < 1e-8)
    assert(math.abs(m.coef(2) + 3.0) < 1e-8)
    // serve: predictions reproduce y on the training points
    val maxErr = Features.linearPredict(df, m, Seq(col("x1"), col("x2")))
      .select(max(abs(col("y") - col("prediction")))).head.getDouble(0)
    assert(maxErr < 1e-8)
    // ridge: slope norm never grows (the penalized-minimizer inequality)
    val r = Features.linearFit(df, Seq(col("x1"), col("x2")), col("y"),
      ridge = 5.0).get
    def n2(c: Array[Double]) = math.sqrt(c.drop(1).map(x => x * x).sum)
    assert(n2(r.coef) <= n2(m.coef) + 1e-12)
    // collinear design (x2 = 2·x1): singular system -> mean model
    val coll = (1 to 10).map(i => (i * 1.0, i * 2.0, i * 3.0))
      .toDF("x1", "x2", "y")
    val mm = Features.linearFit(coll, Seq(col("x1"), col("x2")), col("y")).get
    assert(mm.coef(1) === 0.0 && mm.coef(2) === 0.0)
    assert(math.abs(mm.coef(0) - (1 to 10).map(_ * 3.0).sum / 10) < 1e-9)
    // empty (post-guard) input -> None
    assert(Features.linearFit(coll.filter(lit(false)),
      Seq(col("x1")), col("y")).isEmpty)
  }

  test("logisticFit: coefficients match a driver-side IRLS reference; invariants hold; served probs calibrated") {
    import spark.implicits._
    // deterministic pseudo-random labels from a known model
    // η = −0.5 + 1.2·x1 − 0.8·x2, y = 1 iff σ(η) > u(i) with u a hash
    def u(i: Int): Double = ((i * 2654435761L) % 1000).abs / 1000.0
    def sig(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
    val rows = (1 to 400).map { i =>
      val x1 = (i % 20) / 10.0 - 1.0
      val x2 = (i % 7) / 3.5 - 1.0
      val y = sig(-0.5 + 1.2 * x1 - 0.8 * x2) > u(i)
      (x1, x2, y)
    }
    val df = rows.toDF("x1", "x2", "y")
    val m = Features.logisticFit(df, Seq(col("x1"), col("x2")), col("y"),
      maxIters = 25, tol = 1e-10).get
    assert(m.nFit === 400L)
    assert(m.gradNorm <= 1e-10)

    // independent driver-side IRLS over the same data (own tiny solver —
    // no shared code with the operator under test)
    def solve3(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
      val a = a0.map(_.clone()); val b = b0.clone()
      for (c <- 0 to 2) {
        val piv = (c to 2).maxBy(r => math.abs(a(r)(c)))
        val t = a(piv); a(piv) = a(c); a(c) = t
        val tb = b(piv); b(piv) = b(c); b(c) = tb
        for (r <- c + 1 to 2) {
          val f = a(r)(c) / a(c)(c)
          for (k2 <- c to 2) a(r)(k2) -= f * a(c)(k2)
          b(r) -= f * b(c)
        }
      }
      val x = new Array[Double](3)
      for (c <- 2 to 0 by -1)
        x(c) = (b(c) - (c + 1 to 2).map(k2 => a(c)(k2) * x(k2)).sum) / a(c)(c)
      x
    }
    var beta = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to 25) {
      val a = Array.ofDim[Double](3, 3)
      val b = new Array[Double](3)
      rows.foreach { case (x1, x2, y) =>
        val z = Array(1.0, x1, x2)
        val eta = z.zip(beta).map { case (zi, bi) => zi * bi }.sum
        val pr = sig(eta)
        val w = math.max(pr * (1 - pr), 1e-6)
        val uu = eta + ((if (y) 1.0 else 0.0) - pr) / w
        for (i <- 0 to 2; j <- 0 to 2) a(i)(j) += w * z(i) * z(j)
        for (i <- 0 to 2) b(i) += w * z(i) * uu
      }
      beta = solve3(a, b)
    }
    m.coef.zip(beta).foreach { case (got, ref) =>
      assert(math.abs(got - ref) < 1e-6, s"coef $got vs reference $ref")
    }
    // recovered signs/magnitudes in the generating model's neighborhood
    assert(m.coef(1) > 0.5 && m.coef(2) < -0.3)
    // serve: probabilities strictly inside (0,1), better-than-chance
    // separation on the training labels
    val served = Features.logisticPredict(df, m, Seq(col("x1"), col("x2")))
    val agg = served.agg(
      min(col("probability")), max(col("probability")),
      avg(when(col("y") === (col("probability") > 0.5), 1.0).otherwise(0.0)))
      .head()
    assert(agg.getDouble(0) > 0.0 && agg.getDouble(1) < 1.0)
    assert(agg.getDouble(2) > 0.6, s"train accuracy ${agg.getDouble(2)}")
    // empty input -> None
    assert(Features.logisticFit(df.filter(lit(false)),
      Seq(col("x1")), col("y")).isEmpty)
  }

  test("gbmFit: matches an independent driver GBM exactly; SSE monotone; serve through persisted model; early stop") {
    import spark.implicits._
    // y = step functions of two features + deterministic perturbation —
    // stumps are the right model class, so boosting must bite
    val rows = (1 to 300).map { i =>
      val x1 = (i % 30) / 3.0
      val x2 = (i % 11) / 2.0
      val y = (if (x1 > 5.0) 4.0 else 1.0) + (if (x2 > 2.5) -2.0 else 0.5) +
        ((i * 2654435761L) % 100).abs / 1000.0
      (x1, x2, y)
    }
    val df = rows.toDF("x1", "x2", "y")
    val m = Features.gbmFit(df, Seq(col("x1"), col("x2")), col("y"),
      rounds = 6, learningRate = 0.5, nBins = 16).get
    assert(m.nFit === 300L)
    assert(m.stumps.nonEmpty)
    // SSE trajectory: starts at SST under the mean model, never rises
    assert(m.sses.length === m.stumps.length + 1)
    m.sses.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"SSE rose: $a -> $b")
    }

    // independent driver reference: same binning, same greedy stumps
    val mins = Array(rows.map(_._1).min, rows.map(_._2).min)
    val spans = Array(rows.map(_._1).max - mins(0), rows.map(_._2).max - mins(1))
    def bin(f: Int, x: Double): Int =
      math.min(15, math.max(0, math.floor((x - mins(f)) / spans(f) * 16).toInt))
    val f0 = rows.map(_._3).sum / rows.length
    var pred = rows.map(_ => f0)
    var stumps = List.empty[(Int, Int, Double, Double)]
    for (_ <- 1 to 6) {
      val res = rows.zip(pred).map { case ((_, _, y), pr) => y - pr }
      var best: Option[(Double, Int, Int, Double, Double)] = None
      for (f <- 0 to 1) {
        val byBin = rows.zip(res).groupBy { case ((x1, x2, _), _) =>
          bin(f, if (f == 0) x1 else x2) }
        val binsSorted = byBin.toSeq.sortBy(_._1)
          .map { case (b, g) => (b, g.size.toLong, g.map(_._2).sum) }
        val nTot = binsSorted.map(_._2).sum
        val sTot = binsSorted.map(_._3).sum
        var nl = 0L; var sl = 0.0
        binsSorted.dropRight(1).foreach { case (b, c, s) =>
          nl += c; sl += s
          val gain = sl * sl / nl + (sTot - sl) * (sTot - sl) / (nTot - nl)
          val better = best.forall { case (g, bf, bb, _, _) =>
            gain > g || (gain == g && (f < bf || (f == bf && b < bb))) }
          if (better) best = Some((gain, f, b, sl / nl, (sTot - sl) / (nTot - nl)))
        }
      }
      val Some((_, f, b, l, r)) = best
      stumps = stumps :+ ((f, b, l, r))
      pred = rows.zip(pred).map { case ((x1, x2, _), pr) =>
        pr + 0.5 * (if (bin(f, if (f == 0) x1 else x2) <= b) l else r) }
    }
    assert(m.stumps.map(s => (s.featureIdx, s.bin)) ===
      stumps.map(s => (s._1, s._2)))
    m.stumps.zip(stumps).foreach { case (got, (_, _, l, r)) =>
      assert(math.abs(got.leftValue - l) < 1e-9 &&
        math.abs(got.rightValue - r) < 1e-9)
    }

    // serve through the persisted + reloaded model: SSE equals the
    // ledger's final entry
    val dir = java.nio.file.Files.createTempDirectory("graft_gbm").toString
    Features.gbmModelToFrame(spark, m).write.parquet(s"$dir/model")
    val rt = Features.gbmModelFromFrame(spark.read.parquet(s"$dir/model"))
    val sse = Features.gbmPredict(df, rt, Seq(col("x1"), col("x2")))
      .agg(sum(pow(col("y") - col("prediction"), 2))).head.getDouble(0)
    assert(math.abs(sse - m.sses.last) < 1e-6 * (1.0 + m.sses.last))

    // constant target: nothing splittable -> early stop, f0 carries all
    val const = (1 to 50).map(i => (i.toDouble, 7.5)).toDF("x1", "y")
    val cm = Features.gbmFit(const, Seq(col("x1")), col("y"),
      rounds = 5, nBins = 8).get
    assert(cm.stumps.isEmpty && cm.f0 === 7.5)

    // early stop AFTER >=1 stump: lr=1.0 on an exactly-separable step
    // zeroes the residuals after round 1, round 2 finds no gain — the
    // sses ledger must NOT duplicate its final entry (the
    // sses.length == stumps.length + 1 contract on the early-stop path)
    val sep = (1 to 60).map(i =>
      (if (i % 2 == 0) 0.0 else 10.0, if (i % 2 == 0) 0.0 else 4.0))
      .toDF("x1", "y")
    val em = Features.gbmFit(sep, Seq(col("x1")), col("y"),
      rounds = 5, learningRate = 1.0, nBins = 4).get
    assert(em.stumps.length === 1)
    assert(em.sses.length === em.stumps.length + 1,
      s"early-stop sses ledger duplicated: ${em.sses}")
    assert(em.sses.last === 0.0)
  }

  test("regressionStumpPerGroup: matches an exhaustive driver split search; ties to smallest threshold; degenerate groups emit nothing") {
    import spark.implicits._
    val data = Map(
      "a" -> Seq((1.0, 10.0), (1.0, 12.0), (2.0, 20.0), (3.0, 30.0), (3.0, 28.0)),
      "b" -> Seq((5.0, 1.0), (6.0, 2.0), (7.0, 100.0), (8.0, 101.0)),
      // symmetric group: both candidate splits tie on gain → smallest t
      "t" -> Seq((1.0, 0.0), (2.0, 5.0), (3.0, 0.0)),
      "c" -> Seq((9.0, 4.2), (9.0, 4.4))) // single distinct x → no split
    val df = data.toSeq.flatMap { case (g, rs) =>
      rs.map { case (x, y) => (g, x, y) } }.toDF("g", "x", "y")
    val got = Features.regressionStumpPerGroup(df, Seq("g"),
      col("x"), col("y")).collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(!got.contains("c"))
    // exhaustive driver reference: every distinct x but the last is a
    // candidate; maximize sl²/nl + sr²/nr, ties to smallest threshold
    def ref(rs: Seq[(Double, Double)]): (Double, Double, Double, Long, Long) = {
      val cands = rs.map(_._1).distinct.sorted.dropRight(1)
      cands.map { t =>
        val (l, r) = rs.partition(_._1 <= t)
        val (sl, sr) = (l.map(_._2).sum, r.map(_._2).sum)
        val gain = sl * sl / l.size + sr * sr / r.size
        (gain, t, sl / l.size, sr / r.size, l.size.toLong, r.size.toLong)
      }.maxBy(c => (c._1, -c._2)) match {
        case (_, t, lm, rm, nl, nr) => (t, lm, rm, nl, nr)
      }
    }
    for (g <- Seq("a", "b", "t")) {
      val (t, lm, rm, nl, nr) = ref(data(g))
      val row = got(g)
      assert(row.getAs[Double]("threshold") === t, s"group $g threshold")
      assert(math.abs(row.getAs[Double]("left_mean") - lm) < 1e-12)
      assert(math.abs(row.getAs[Double]("right_mean") - rm) < 1e-12)
      assert(row.getAs[Long]("n_left") === nl &&
        row.getAs[Long]("n_right") === nr)
      assert(row.getAs[Long]("n_fit") === nl + nr)
    }
    // the tie group really did tie and really did take the smaller t
    assert(got("t").getAs[Double]("threshold") === 1.0)
  }

  test("linearFit at p=1 agrees with fitAr1's closed form (same decimal contract)") {
    import spark.implicits._
    val df = (1 to 30).map(i =>
      ("g", i * 1.0, 3.0 + 0.5 * i + (if (i % 2 == 0) 0.25 else -0.25)))
      .toDF("k", "x", "y")
    val ar1 = Features.fitAr1(df, Seq("k"), col("x"), col("y")).head
    val gen = Features.linearFit(df, Seq(col("x")), col("y")).get
    assert(math.abs(gen.coef(1) - ar1.getAs[Double]("slope")) < 1e-9)
    assert(math.abs(gen.coef(0) - ar1.getAs[Double]("intercept")) < 1e-9)
  }

  test("rollingOriginBacktest: hand-checked folds, short groups, nulls excluded, partitioning-invariant") {
    import spark.implicits._
    // group a: values 1..10 over 5 folds of 2; group b: 3 rows (sparse
    // folds 0/1/3); one null row must vanish before fold assignment
    val rows = (1 to 10).map(i => ("a", i.toLong, Some(i.toDouble))) ++
      Seq(("b", 1L, Some(10.0)), ("b", 2L, None), ("b", 3L, Some(20.0)),
        ("b", 4L, Some(60.0)))
    val df = rows.toDF("k", "t", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Features.rollingOriginBacktest(d, Seq("k"), Seq("t"), col("v"), nFolds = 5)
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("fold")) ->
          ((r.getAs[Long]("n_test"), r.getAs[Long]("n_train"),
            r.getAs[Double]("pred"), r.getAs[Double]("mse")))).toMap
    val out = run(df)
    // group a: expanding means 1.5/2.5/3.5/4.5, per-fold MSEs by hand
    assert(out(("a", 1L)) === ((2L, 2L, 1.5, 4.25)))
    assert(out(("a", 2L)) === ((2L, 4L, 2.5, 9.25)))
    assert(out(("a", 3L)) === ((2L, 6L, 3.5, 16.25)))
    assert(out(("a", 4L)) === ((2L, 8L, 4.5, 25.25)))
    // group b: the null row is excluded BEFORE fold assignment, so 3
    // surviving rows land in folds {0,1,3} (floor(rn*5/3)); fold 1
    // trains on {10}, fold 3 on {10,20}; folds 2/4 are absent, not NULL
    assert(out(("b", 1L)) === ((1L, 1L, 10.0, 100.0)))
    assert(out(("b", 3L)) === ((1L, 2L, 15.0, 2025.0)))
    assert(out.keySet === Set(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 1L), ("b", 3L)))
    // fold boundaries are a pure function of (group order, count) —
    // physical partitioning must not move any row across folds
    assert(run(df.repartition(7)) === out)
    intercept[IllegalArgumentException] {
      Features.rollingOriginBacktest(df, Seq("k"), Seq("t"), col("v"), 1)
    }
  }

  test("W12 resampleDailyFfill: even grid, gap flags, decimal day sums, ffill across gaps") {
    val df = Seq(
      // group a: days 1, 2, 2, 5 — gap days 3 and 4
      ("a", "2024-01-01 10:00:00", 1.0),
      ("a", "2024-01-02 01:00:00", 2.5),
      ("a", "2024-01-02 23:00:00", 0.5),
      ("a", "2024-01-05 12:00:00", 7.0),
      // group b: single day — spine is one row, no gaps
      ("b", "2024-02-10 00:00:00", 4.0)
    ).toDF("k", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = graft.operators.Resample
      .resampleDailyFfill(df, Seq("k"), "ts", "v")
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[java.sql.Date]("day").toString) ->
        ((Option(r.getAs[java.lang.Double]("day_sum")).map(_.toDouble),
          r.getAs[Long]("n_rows"), r.getAs[Boolean]("is_gap"),
          r.getAs[Double]("filled"))))
      .toMap
    assert(out.size === 6) // a: Jan 1..5 (5 rows), b: 1 row
    assert(out(("a", "2024-01-01")) === ((Some(1.0), 1L, false, 1.0)))
    assert(out(("a", "2024-01-02")) === ((Some(3.0), 2L, false, 3.0)))
    // gap days carry NULL sum, zero rows, and the last observed total
    assert(out(("a", "2024-01-03")) === ((None, 0L, true, 3.0)))
    assert(out(("a", "2024-01-04")) === ((None, 0L, true, 3.0)))
    assert(out(("a", "2024-01-05")) === ((Some(7.0), 1L, false, 7.0)))
    assert(out(("b", "2024-02-10")) === ((Some(4.0), 1L, false, 4.0)))
  }

  test("FT1 targetEncode: fold exclusion, smoothing toward prior, own-fold-only category hits prior exactly") {
    val df = Seq(
      // category x: rows in folds 0 and 1
      (0L, "x", 10.0), (1L, "x", 20.0), (2L, "x", 30.0),
      // category y: all rows in ONE fold — those rows must see the
      // pure prior (no other-fold evidence)
      (3L, "y", 100.0)
    ).toDF("id", "cat", "v")
    val fold = pmod(col("id"), lit(2))
    val m = 2.0
    val out = Features.targetEncode(df, col("cat"), col("v"), fold, m)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("te")).toMap
    val prior = (10.0 + 20.0 + 30.0 + 100.0) / 4.0 // 40.0
    // id=0 (x, fold 0): other-fold x = {20}; (20 + 2*40)/(1 + 2)
    assert(out(0L) === (20.0 + m * prior) / (1.0 + m))
    // id=1 (x, fold 1): other-fold x = {10, 30}; (40 + 80)/(2 + 2)
    assert(out(1L) === (40.0 + m * prior) / (2.0 + m))
    assert(out(2L) === out(0L))
    // id=3 (y, fold 1): y has NO other folds -> (0 + 2*40)/(0 + 2) = prior
    assert(out(3L) === prior)
  }

  test("FT2 quantileBins: type-1 cuts at rank ceil(p*n); boundary value stays in the lower bin") {
    val df = (1 to 8).map(i => ("g", i.toDouble)).toDF("k", "v")
    val out = Features.quantileBins(df, Seq("k"), col("v"),
      Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getAs[Double]("v") ->
        ((r.getAs[Double]("cut_0"), r.getAs[Double]("cut_1"),
          r.getAs[Double]("cut_2"), r.getAs[Int]("bin")))).toMap
    // n=8: cuts at ranks ceil(2)=2, ceil(4)=4, ceil(6)=6 -> values 2,4,6
    assert(out(1.0) === ((2.0, 4.0, 6.0, 0)))
    assert(out(2.0)._4 === 0) // equal to cut -> strictly-below rule
    assert(out(3.0)._4 === 1)
    assert(out(4.0)._4 === 1)
    assert(out(5.0)._4 === 2)
    assert(out(7.0)._4 === 3)
    intercept[IllegalArgumentException] {
      Features.quantileBins(df, Seq("k"), col("v"), Seq(0.0, 0.5))
    }
  }

  test("A28 isotonicBins: PAV pools violators to the weighted mean, preserves mass, stays monotone") {
    // scores land in 4 of 10 bins; bins 2 and 3 VIOLATE monotonicity
    // (means 0.8 then 0.2) -> PAV must pool them to (2*0.8+2*0.2)/4 = 0.5
    val df = Seq(
      (0.05, 0.0), (0.15, 0.0),            // bins 0,1: means 0, 0
      (0.25, 1.0), (0.26, 0.6),            // bin 2: mean 0.8
      (0.35, 0.2), (0.36, 0.2),            // bin 3: mean 0.2  <- violator
      (0.95, 1.0)                          // bin 9: mean 1
    ).toDF("score", "label")
    val out = Features.isotonicBins(df, col("score"), col("label"), nBins = 10)
      .collect().map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_label"),
          r.getAs[Double]("calibrated")))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L, 9L))
    assert(out(2L)._2 === 0.8 && out(3L)._2 === 0.2)
    assert(out(2L)._3 === 0.5 && out(3L)._3 === 0.5) // pooled
    assert(out(0L)._3 === 0.0 && out(9L)._3 === 1.0) // untouched
    // monotone + mass preserved
    val cal = out.toSeq.sortBy(_._1).map(_._2._3)
    assert(cal === cal.sorted)
    val mass = out.values.map(v => v._1 * v._3).sum
    val labelMass = out.values.map(v => v._1 * v._2).sum
    assert(math.abs(mass - labelMass) < 1e-9)
    // score exactly 1.0 joins the top bin, out-of-[0,1] scores drop
    val edge = Features.isotonicBins(
      Seq((1.0, 1.0), (1.5, 1.0), (-0.1, 0.0)).toDF("score", "label"),
      col("score"), col("label"), nBins = 10)
      .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n")).toMap
    assert(edge === Map(9L -> 1L))
  }

  test("A28 calibrate: served step function fills unfitted bins from the nearest fitted bin below") {
    val fitDf = Seq(
      (0.05, 0.0), (0.15, 0.0),
      (0.25, 1.0), (0.26, 0.6), (0.35, 0.2), (0.36, 0.2), (0.95, 1.0)
    ).toDF("score", "label")
    val mapping = Features.isotonicBins(fitDf, col("score"), col("label"), 10)
    val serve = Seq((1L, 0.31), (2L, 0.55), (3L, 0.99), (4L, 0.01))
      .toDF("id", "score")
    val out = Features.calibrate(serve, mapping, col("score"), 10)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("calibrated_p")).toMap
    assert(out(1L) === 0.5)  // bin 3: fitted (pooled)
    assert(out(2L) === 0.5)  // bin 5: unfitted -> nearest below = bin 3
    assert(out(3L) === 1.0)  // bin 9: fitted
    assert(out(4L) === 0.0)  // bin 0: fitted
  }

  test("A32 seasonalDecompose: hand-computed day effects, exact reconstruction, effects sum to zero") {
    // 2024-01-01 is a Monday; two Mondays and one Tuesday in group g
    val df = Seq(
      ("g", "2024-01-01 10:00:00", 10.0), // Mon
      ("g", "2024-01-08 10:00:00", 20.0), // Mon
      ("g", "2024-01-02 10:00:00", 30.0)  // Tue
    ).toDF("k", "ts_s", "v").withColumn("ts", to_timestamp(col("ts_s")))
    val out = Features.seasonalDecompose(df, Seq("k"), col("ts"), col("v"))
      .collect().map(r => r.getAs[Double]("v") ->
        ((r.getAs[Long]("isodow"), r.getAs[Double]("group_mean"),
          r.getAs[Double]("dow_effect"), r.getAs[Double]("residual"))))
      .toMap
    assert(out(10.0) === ((1L, 20.0, -5.0, -5.0))) // Mon mean 15
    assert(out(20.0) === ((1L, 20.0, -5.0, 5.0)))
    assert(out(30.0) === ((2L, 20.0, 10.0, 0.0)))  // Tue mean 30
    // identity: value = group_mean + dow_effect + residual, per row
    out.foreach { case (v, (_, gm, eff, res)) =>
      assert(math.abs(v - (gm + eff + res)) < 1e-12)
    }
    // row-weighted day effects cancel within the group
    assert(math.abs(out.values.map(_._3).sum) < 1e-9)
  }

  test("W13 ewma: truncated weights, warm-up renormalization, constant series fixed point") {
    val df = Seq(
      ("g", 1L, 10.0), ("g", 2L, 20.0), ("g", 3L, 30.0),
      ("c", 1L, 7.0), ("c", 2L, 7.0), ("c", 3L, 7.0)
    ).toDF("k", "t", "v")
    val out = Features.ewma(df, Seq("k"), Seq(col("t")), col("v"),
      alpha = 0.5, maxLag = 4)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("t")) ->
        r.getAs[Double]("ewma")).toMap
    // weights (newest first): 0.5, 0.25, 0.125, 0.0625
    // t=1: only itself -> 10
    assert(math.abs(out(("g", 1L)) - 10.0) < 1e-9)
    // t=2: (0.5*20 + 0.25*10) / 0.75 = 12.5/0.75
    assert(math.abs(out(("g", 2L)) - 12.5 / 0.75) < 1e-9)
    // t=3: (0.5*30 + 0.25*20 + 0.125*10) / 0.875
    assert(math.abs(out(("g", 3L)) - 21.25 / 0.875) < 1e-9)
    // constant series is a fixed point regardless of warm-up
    Seq(1L, 2L, 3L).foreach(t =>
      assert(math.abs(out(("c", t)) - 7.0) < 1e-9))
    // physical layout cannot move rows between frames
    val again = Features.ewma(df.repartition(5), Seq("k"), Seq(col("t")),
      col("v"), 0.5, 4)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("t")) ->
        r.getAs[Double]("ewma")).toMap
    assert(again === out)
    intercept[IllegalArgumentException] {
      Features.ewma(df, Seq("k"), Seq(col("t")), col("v"), 1.0, 4)
    }
    intercept[IllegalArgumentException] {
      Features.ewma(df, Seq("k"), Seq(col("t")), col("v"), 0.5, 0)
    }
    // |value| >= 1e6 wraps the 1e-12-grain BIGINT terms — fails LOUD,
    // never a silently-wrong average (the cusum/chi-square hazard class)
    val big = Seq(("k", 1L, 2e6)).toDF("k", "t", "v")
    val e = intercept[Exception] {
      Features.ewma(big, Seq("k"), Seq(col("t")), col("v"), 0.5, 4).collect()
    }
    assert(e.getMessage.contains("rescale") ||
      e.getCause != null && e.getCause.getMessage.contains("rescale"))
  }

  test("FT4 rankNormalize: [0,1] endpoints, tiebreak determinism, singleton group = 0.5") {
    val df = Seq(
      ("g", 1L, 10.0), ("g", 2L, 30.0), ("g", 3L, 20.0),
      ("g", 4L, 20.0), ("g", 5L, 40.0), // tie at 20.0 broken by id
      ("solo", 9L, 7.0)
    ).toDF("k", "id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Features.rankNormalize(d, Seq("k"), Seq(col("v"), col("id")))
        .collect().map(r => r.getAs[Long]("id") ->
          r.getAs[Double]("rank_norm")).toMap
    val out = run(df)
    // sorted: 10(id1), 20(id3), 20(id4), 30(id2), 40(id5)
    assert(out(1L) === 0.0)
    assert(out(3L) === 0.25) // first of the 20.0 tie (smaller id)
    assert(out(4L) === 0.5)  // second of the tie
    assert(out(2L) === 0.75)
    assert(out(5L) === 1.0)
    assert(out(9L) === 0.5)  // singleton
    assert(run(df.repartition(7)) === out) // total order => layout-proof
    intercept[IllegalArgumentException] {
      Features.rankNormalize(df, Seq("k"), Seq.empty)
    }
  }

  test("FT3 winsorize: values clip to the [p05, p95] order-statistic band, interior untouched") {
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("k", "v")
    val out = Features.winsorize(df, Seq("k"), col("v"), 0.05, 0.95)
      .collect().map(r => r.getAs[Double]("v") ->
        r.getAs[Double]("v_winsor")).toMap
    // n=100: p05 cut = value at rank 5 = 5.0; p95 at rank 95 = 95.0
    assert(out(1.0) === 5.0)
    assert(out(4.0) === 5.0)
    assert(out(5.0) === 5.0)
    assert(out(50.0) === 50.0)
    assert(out(95.0) === 95.0)
    assert(out(99.0) === 95.0)
    intercept[IllegalArgumentException] {
      Features.winsorize(df, Seq("k"), col("v"), 0.9, 0.1)
    }
  }

  test("A26 madOutliers: exact integer medians, outlier flag, zero-MAD group degrades cleanly") {
    val df = Seq(
      // group g: {1,2,3,4,100} — median 3, deviations {2,1,0,1,97},
      // MAD 1; 100 is the only point with |x-med| > 3*1.4826*1
      ("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 100.0),
      // group c: constant — MAD 0, nothing flags (strict >)
      ("c", 5.0), ("c", 5.0), ("c", 5.0),
      // group z: {0,0,0,1} — median 0, MAD 0, the 1 deviates -> flags
      ("z", 0.0), ("z", 0.0), ("z", 0.0), ("z", 1.0)
    ).toDF("k", "v")
    val out = Features.madOutliers(df, Seq("k"), col("v"), k = 3.0)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Double]("v")) ->
        ((r.getAs[Double]("median"), r.getAs[Double]("mad"),
          r.getAs[Boolean]("is_outlier"))))
      .toMap
    assert(out(("g", 3.0)) === ((3.0, 1.0, false)))
    assert(out(("g", 100.0)) === ((3.0, 1.0, true)))
    assert(out(("g", 4.0))._3 === false)
    assert(out(("c", 5.0)) === ((5.0, 0.0, false)))
    assert(out(("z", 0.0)) === ((0.0, 0.0, false)))
    assert(out(("z", 1.0)) === ((0.0, 0.0, true)))
  }

  test("A39 theilSenSlope: outlier-immune hand case, lower-median rule, guard, nulls") {
    val df = Seq(
      // g: 1,2,3,4,100 — a clean unit trend plus one wild outlier; the
      // slope median stays 1.0 (6 of 10 pairwise slopes are exactly 1)
      ("g", 1, Some(1.0)), ("g", 2, Some(2.0)), ("g", 3, Some(3.0)),
      ("g", 4, Some(4.0)), ("g", 5, Some(100.0)),
      // h: 0,1,3 — slopes {1, 1.5, 2}, lower median at rank 2 → 1.5
      ("h", 1, Some(0.0)), ("h", 2, Some(1.0)), ("h", 3, Some(3.0)),
      // n: null row excluded → single point → no output
      ("n", 1, Some(7.0)), ("n", 2, None)
    ).toDF("k", "i", "v")
    val out = Features.theilSenSlope(df, Seq("k"), col("v"), Seq(col("i")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("g") === ((5L, 10L, 1.0)))
    assert(out("h") === ((3L, 3L, 1.5)))
    assert(!out.contains("n"))
    val ex = intercept[Exception] {
      Features.theilSenSlope(df.filter(col("k") === "g"), Seq("k"),
        col("v"), Seq(col("i")), maxGroupRows = 3L).collect()
    }
    assert(ex.getMessage.contains("theilSenSlope")
      || Option(ex.getCause).exists(_.getMessage.contains("theilSenSlope")))
  }

  test("W16 interpolateDaily: exact on-point days, midpoint blend, boundaries drop") {
    def ts(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2024-05-$day%02d $hour%02d:00:00")
    val df = Seq(
      // g: observations at day1 00:00 (10) and day3 00:00 (30):
      //    day1 reproduces the observation, day2 blends to 20,
      //    day3 (== last obs) has no NEXT → dropped, never extrapolated
      ("g", ts(1, 0), 1L, 10.0), ("g", ts(3, 0), 2L, 30.0),
      // h: noon-to-noon pair: day2 00:00 sits exactly halfway → 12.0;
      //    day1 00:00 precedes the first observation → dropped
      ("h", ts(1, 12), 3L, 0.0), ("h", ts(2, 12), 4L, 24.0)
    ).toDF("k", "ts", "id", "v")
    val out = graft.operators.Resample.interpolateDaily(
      df, Seq("k"), "ts", "id", "v")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toString.substring(8, 10)) -> r.getDouble(2))
      .toMap
    assert(out === Map(
      ("g", "01") -> 10.0, ("g", "02") -> 20.0, ("h", "02") -> 12.0))
  }

  test("A35 cusumChangepoint: hand-checked level shift, earliest tie, degenerate groups") {
    // g: 0,0,0,10,10 — T_i = n·prefix_i − i·total (micro-units):
    // |T| = 2e7, 4e7, 6e7, 3e7 → argmax at i=3 (the true shift point),
    // stat = 6e7 / (5·1e6) = 12.0 exactly
    // r: 0,5,10 (a pure ramp) — |T_1| = |T_2| = 15e6 → tie reports the
    // EARLIEST index; stat = 15e6/(3e6) = 5.0
    // c: constant — every T = 0, stat 0, index 1
    // s: singleton — dropped (no interior split)
    val df = Seq(
      ("g", 1, 0.0), ("g", 2, 0.0), ("g", 3, 0.0), ("g", 4, 10.0), ("g", 5, 10.0),
      ("r", 1, 0.0), ("r", 2, 5.0), ("r", 3, 10.0),
      ("c", 1, 7.0), ("c", 2, 7.0), ("c", 3, 7.0),
      ("s", 1, 42.0)
    ).toDF("k", "i", "v")
    val out = Features.cusumChangepoint(df, Seq("k"), col("v"), Seq(col("i")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(out("g") === ((5L, 3, 12.0)))
    assert(out("r") === ((3L, 1, 5.0)))
    assert(out("c") === ((3L, 1, 0.0)))
    assert(!out.contains("s"))
  }

  test("A35 cusumChangepoint: null rows excluded, layout-invariant integers") {
    val df = Seq(
      ("a", 1, Some(1.25)), ("a", 2, None), ("a", 3, Some(1.25)),
      ("a", 4, Some(9.75)), ("a", 5, Some(9.75))
    ).toDF("k", "i", "v")
    // nulls drop BEFORE indexing: effective series 1.25,1.25,9.75,9.75
    // → split exactly in the middle (i=2), stat = |4·2.5e6 − 2·22e6|/4e6 = 8.5
    val out = Features.cusumChangepoint(df, Seq("k"), col("v"), Seq(col("i")))
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.toSeq === Seq((4L, 2, 8.5)))
    val repart = Features.cusumChangepoint(
      df.repartition(5), Seq("k"), col("v"), Seq(col("i")))
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(repart.toSeq === out.toSeq) // bitwise: exact integers + one division
  }

  test("round-15 model-surface hardening: zero-stump GBM round-trips, " +
    "GBM serve propagates null features, softmax rejects 1-class labels " +
    "loudly and serves dotted labels, calibrate clamps/keeps every row, " +
    "quantileBins preserves null-key and all-null groups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // zero-stump GBM: persist + reload + serve (previously: empty frame,
    // model unrecoverable)
    val const = (1 to 30).map(i => (i.toDouble, 7.5)).toDF("x1", "y")
    val cm = Features.gbmFit(const, Seq(col("x1")), col("y"),
      rounds = 3, nBins = 8).get
    assert(cm.stumps.isEmpty)
    val rtDir = java.nio.file.Files
      .createTempDirectory("graft_gbm0").toString + "/m"
    Features.gbmModelToFrame(spark, cm).write.parquet(rtDir)
    val back = Features.gbmModelFromFrame(spark.read.parquet(rtDir))
    assert(back.stumps.isEmpty && back.f0 === cm.f0 &&
      back.nFit === cm.nFit && back.sses === cm.sses)
    // null feature -> null prediction (not silently binned to 0)
    val fm = Features.gbmFit(
      (1 to 60).map(i => (i.toDouble, if (i > 30) 4.0 else 0.0))
        .toDF("x1", "y"), Seq(col("x1")), col("y"), rounds = 2).get
    val served = Features.gbmPredict(
      Seq(Some(40.0), None).toDF("x1"), fm, Seq(col("x1")))
      .select("prediction").collect()
    assert(served(0).getAs[Any](0) != null)
    assert(served(1).isNullAt(0), "null feature must serve null")

    // softmax: 1-class label is a loud argument error, not a GREATEST
    // analysis crash
    val oneClass = (1 to 40).map(i => (i.toDouble, "only"))
      .toDF("x1", "lbl")
    val e = intercept[IllegalArgumentException] {
      Features.sgdSoftmaxFit(oneClass, Seq(col("x1")), col("lbl"))
    }
    assert(e.getMessage.contains("at least 2 distinct label classes"))
    // dotted labels serve (previously: col("p_US.CPI") parsed as a
    // struct access and broke the argmax)
    val dotted = (1 to 60).map(i =>
      (i.toDouble, if (i % 2 == 0) "US.CPI" else "EU`GDP"))
      .toDF("x1", "lbl")
    val sm = Features.sgdSoftmaxFit(dotted, Seq(col("x1")), col("lbl"),
      epochs = 2).get
    val out = Features.sgdSoftmaxPredict(
      Seq(2.0).toDF("x1"), sm, Seq(col("x1"))).collect().head
    assert(Set("US.CPI", "EU`GDP").contains(
      out.getAs[String]("predicted_class")))

    // calibrate: null score -> null output, out-of-range clamps, and no
    // row ever vanishes
    val fitDf = Seq((0.05, 0.0), (0.95, 1.0)).toDF("score", "label")
    val mapping = Features.isotonicBins(fitDf, col("score"), col("label"), 10)
    val calOut = Features.calibrate(
      Seq((1L, Some(0.5)), (2L, None), (3L, Some(-0.3)), (4L, Some(7.0)))
        .toDF("id", "score"), mapping, col("score"), 10)
      .orderBy("id").collect()
    assert(calOut.length === 4, "calibrate must keep every input row")
    assert(calOut(1).isNullAt(calOut(1).fieldIndex("calibrated_p")))
    assert(calOut(2).getAs[Double]("calibrated_p") === 0.0) // clamped low
    assert(calOut(3).getAs[Double]("calibrated_p") === 1.0) // clamped high

    // quantileBins: null-group-key rows and all-null-value groups are
    // KEPT (bin 0), never dropped
    val qdf = Seq(("g", Some(1.0)), ("g", Some(2.0)), ("g", Some(3.0)),
      (null, Some(5.0)), ("h", None)).toDF("k", "v")
    val q = Features.quantileBins(qdf, Seq("k"), col("v"), Seq(0.5))
    assert(q.count() === 5L, "quantileBins must preserve rows")
    val nullKeyRow = q.filter(col("k").isNull).collect()
    assert(nullKeyRow.length === 1)
    assert(nullKeyRow.head.getAs[Int]("bin") >= 0) // binned, not dropped
    assert(q.filter(col("k") === "h").count() === 1L)
  }

  test("round-15: rangeMovingAggBucketed keeps null-key rows identical " +
    "to the plain frame (they route through it)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq(
      (Some("g"), 0L, 1L), (Some("g"), 500L, 2L), (Some("g"), 1500L, 3L),
      (None, 0L, 10L), (None, 500L, 20L), (None, 1500L, 30L),
      (None, 2600L, 40L))
      .toDF("k", "ts", "v")
    def snap(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "ts", "n_w", "sum_w").collect()
        .map(r => (r.getAs[String]("k"), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val plain = Features.rangeMovingAgg(rows, Seq("k"), "ts", "v",
      windowMicros = 1000L)
    val bucketed = Features.rangeMovingAggBucketed(rows, Seq("k"), "ts",
      "v", windowMicros = 1000L, bucketMicros = 700L)
    assert(snap(bucketed) === snap(plain))
    // and the null group actually exercises a cross-bucket carry
    assert(snap(plain).exists { case (k, ts, n, _) =>
      k == null && ts == 1500L && n > 1 })
  }
}
