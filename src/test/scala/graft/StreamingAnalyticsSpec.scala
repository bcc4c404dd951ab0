package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics.{EntityLatest, EventRow, FunnelEvent}

/** Pins the streaming analytics semantics: watermarked windowed counts and
  * the stateful latest-per-group operator, including state evolution
  * ACROSS micro-batches (the part a batch test can't see). */
class StreamingAnalyticsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("runningLatest: state carries across micro-batches, later event time wins, ties overwrite") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = StreamingAnalytics.runningLatest(spark, in.toDS())
      .writeStream.format("memory").queryName("latest_t").outputMode("update").start()
    try {
      in.addData(
        EventRow("USD", "NFP", ts("2025-01-05 17:00:00"), Some(1.0)),
        EventRow("USD", "NFP", ts("2025-01-03 09:00:00"), Some(9.9)), // older: counted, not latest
        EventRow("EUR", "CPI", ts("2025-01-04 10:00:00"), Some(2.0)))
      q.processAllAvailable()
      val b1 = spark.table("latest_t").collect()
        .map(r => (r.getString(0), r.getTimestamp(2), r.getDouble(3), r.getLong(4))).toSet
      assert(b1 === Set(
        ("USD", ts("2025-01-05 17:00:00"), 1.0, 2L),
        ("EUR", ts("2025-01-04 10:00:00"), 2.0, 1L)))
      // batch 2: EUR advances; USD gets an equal-time re-delivery that overwrites
      in.addData(
        EventRow("EUR", "CPI", ts("2025-01-06 10:00:00"), Some(3.0)),
        EventRow("USD", "NFP", ts("2025-01-05 17:00:00"), Some(7.7)))
      q.processAllAvailable()
      val b2 = spark.table("latest_t").collect()
        .map(r => (r.getString(0), r.getTimestamp(2), r.getDouble(3), r.getLong(4)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._4) } // latest emission per key
      assert(b2("EUR") === (("EUR", ts("2025-01-06 10:00:00"), 3.0, 2L)))
      assert(b2("USD") === (("USD", ts("2025-01-05 17:00:00"), 7.7, 3L))) // tie overwrites
    } finally q.stop()
  }

  test("sessionCounts: sessions merge across micro-batches, close with the watermark, match the batch form") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val stream = in.toDF().toDF("user_id", "ts").withWatermark("ts", "10 minutes")
    val q = StreamingAnalytics.sessionCounts(stream, "ts", "user_id", "30 minutes")
      .writeStream.format("memory").queryName("sess_t").outputMode("append").start()
    try {
      // batch 1: two events 20 min apart (same session), one other user
      in.addData((1L, ts("2025-01-05 10:00:00")), (2L, ts("2025-01-05 10:05:00")))
      q.processAllAvailable()
      // batch 2: extends user 1's session (gap 20 min < 30)
      in.addData((1L, ts("2025-01-05 10:20:00")))
      q.processAllAvailable()
      // batch 3: a much later event per user advances the watermark past
      // the open sessions' ends, forcing their append-mode emission
      in.addData((1L, ts("2025-01-05 14:00:00")), (2L, ts("2025-01-05 14:00:00")))
      q.processAllAvailable()
      in.addData((1L, ts("2025-01-05 18:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_t").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      // the cross-batch merged session: 10:00 + 10:20 in ONE session
      // ending 10:50 (last event + gap)
      assert(got.contains((1L, ts("2025-01-05 10:00:00"), ts("2025-01-05 10:50:00"), 2L)))
      assert(got.contains((2L, ts("2025-01-05 10:05:00"), ts("2025-01-05 10:35:00"), 1L)))
      // batch parity by construction: the same grouping expression over
      // the same rows as ONE batch frame yields the same closed sessions
      val batch = Seq(
        (1L, ts("2025-01-05 10:00:00")), (2L, ts("2025-01-05 10:05:00")),
        (1L, ts("2025-01-05 10:20:00")),
        (1L, ts("2025-01-05 14:00:00")), (2L, ts("2025-01-05 14:00:00")),
        (1L, ts("2025-01-05 18:00:00"))).toDF("user_id", "ts")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start"), col("sw.end"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      // every streamed (closed) session appears identically in the batch result
      assert(got.subsetOf(batch))
    } finally q.stop()
  }

  test("intervalJoin: stream-stream matches within the window, across micro-batches, outside-window rows never join") {
    implicit val sq = spark.sqlContext
    val evIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    val lbIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = evIn.toDF().toDF("user_id", "ev_ts", "action")
      .withWatermark("ev_ts", "1 hour")
    val labels = lbIn.toDF().toDF("user_id_r", "lb_ts", "label")
      .withWatermark("lb_ts", "1 hour")
    val q = StreamingAnalytics.intervalJoin(events, labels,
      key = "user_id", leftTs = "ev_ts", rightTs = "lb_ts", within = "30 minutes")
      .writeStream.format("memory").queryName("ij_t").outputMode("append").start()
    try {
      // batch 1: events only — nothing can join yet
      evIn.addData((1L, ts("2025-01-05 10:00:00"), "click"),
        (2L, ts("2025-01-05 10:00:00"), "view"))
      q.processAllAvailable()
      assert(spark.table("ij_t").count() === 0)
      // batch 2: labels arrive LATER (cross-batch buffered-state join):
      // user 1's label 20 min before the event -> inside the window;
      // user 2's label 45 min before -> outside; user 3 has no event
      lbIn.addData((1L, ts("2025-01-05 09:40:00"), "bot"),
        (2L, ts("2025-01-05 09:15:00"), "human"),
        (3L, ts("2025-01-05 10:00:00"), "bot"))
      q.processAllAvailable()
      val got = spark.table("ij_t")
        .select("user_id", "action", "label").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got === Set((1L, "click", "bot")))
    } finally q.stop()
  }

  test("windowedCounts: watermarked tumbling windows count per currency") {
    val landing = java.nio.file.Files.createTempDirectory("graft_wc").toFile
    java.nio.file.Files.writeString(new java.io.File(landing, "a.csv").toPath,
      """2025-01-05,10:05,USD,A,high,1,2,3,0,w
        |2025-01-05,10:20,USD,B,low,1,2,3,0,w
        |2025-01-05,11:05,USD,C,high,1,2,3,0,w
        |2025-01-05,10:40,EUR,D,low,1,2,3,0,w
        |""".stripMargin)
    val stream = graft.streaming.StreamingIngest.cleanedStream(spark,
      landing.getAbsolutePath)
    val q = StreamingAnalytics.windowedCounts(stream, "1 hour")
      .writeStream.format("memory").queryName("wc_t").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("wc_t").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set(
        (ts("2025-01-05 10:00:00"), "USD", 2L, 1L),
        (ts("2025-01-05 11:00:00"), "USD", 1L, 1L),
        (ts("2025-01-05 10:00:00"), "EUR", 1L, 0L)))
    } finally q.stop()
  }

  test("funnelProgress: strict in-order advance across micro-batches; no retro-advance") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[FunnelEvent]
    val q = StreamingAnalytics.funnelProgress(spark, in.toDS(),
      Seq("signup", "view", "purchase"))
      .writeStream.format("memory").queryName("fun_t").outputMode("update").start()
    try {
      // user 1: signup then (same batch, ts disorder) view BEFORE it — only stage 1
      // user 2: view only — stage 0
      in.addData(
        FunnelEvent(1L, "view", ts("2025-01-01 09:00:00"), 1L),
        FunnelEvent(1L, "signup", ts("2025-01-01 10:00:00"), 2L),
        FunnelEvent(2L, "view", ts("2025-01-01 10:00:00"), 3L))
      q.processAllAvailable()
      // user 1: view then purchase in a later batch → advances to 3
      in.addData(
        FunnelEvent(1L, "view", ts("2025-01-01 11:00:00"), 4L),
        FunnelEvent(1L, "purchase", ts("2025-01-01 12:00:00"), 5L))
      q.processAllAvailable()
      val stages = spark.table("fun_t").groupBy(col("userId"))
        .agg(max(col("stage")).as("stage")) // stage is monotone per user
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(stages === Map(1L -> 3, 2L -> 0))
    } finally q.stop()
  }

  test("funnelProgress differential: event-time-ordered stream matches the batch funnel") {
    implicit val sq = spark.sqlContext
    val stages = Seq("signup", "view", "click", "purchase")
    val batchEvents = Tables.events(spark, sf0001)
    val expected = EventAnalytics.funnel(batchEvents, stages)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap

    val rows = batchEvents
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => FunnelEvent(r.getLong(0), r.getString(1),
        java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime](2)),
        r.getLong(3)))
    val in = MemoryStream[FunnelEvent]
    val q = StreamingAnalytics.funnelProgress(spark, in.toDS(), stages)
      .writeStream.format("memory").queryName("fun_d").outputMode("update").start()
    try {
      // three event-time-ordered chunks → state must carry across batches
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val finalStages = spark.table("fun_d").groupBy(col("userId"))
        .agg(max(col("stage")).as("stage"))
        .collect().map(r => r.getLong(0) -> r.getInt(1))
      val streamed = (1 to stages.length).map(k =>
        k -> finalStages.count(_._2 >= k).toLong).toMap
      assert(streamed === expected,
        s"streamed funnel $streamed != batch funnel $expected")
    } finally q.stop()
  }

  test("runHllDistinct: persisted sketch tracks the exact distinct count across batches; re-union of a delivered batch is a no-op") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_hll").toString
    val landing = s"$base/feed"; new java.io.File(landing).mkdirs()
    // two micro-batches with overlapping user sets (1-40, 21-60)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b1.json"),
      (1 to 40).map(u => s"""{"user_id":$u}""").mkString("\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b2.json"),
      (21 to 60).map(u => s"""{"user_id":$u}""").mkString("\n"))
    val stream = spark.readStream.schema("user_id LONG")
      .option("maxFilesPerTrigger", 1).json(landing)
    val q = StreamingAnalytics.runHllDistinct(spark, stream, "user_id",
      artifactDir = s"$base/artifact", checkpointDir = s"$base/ckpt")
    q.awaitTermination(120000)

    // lgK=12 keeps cardinality 60 in the sketch's exact regime
    val art = graft.operators.Sinks.readSnapshot(spark, s"$base/artifact")
    assert(art.select("estimate").head.getLong(0) === 60L)
    // two versions exist: v=1 after b1 (estimate 40), v=2 after both
    assert(spark.read.parquet(s"$base/artifact/v=1")
      .select("estimate").head.getLong(0) === 40L)

    // at-least-once replay: unioning batch 1's sketch AGAIN leaves the
    // estimate unchanged — HLL union is idempotent by algebra
    val replayed = art.select(col("sk"))
      .unionByName(spark.read.json(s"$landing/b1.json")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk")))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"))).as("estimate"))
    assert(replayed.head.getLong(0) === 60L)
  }

  test("runHllDistinct converges over a crashed first publish: uncommitted v=N debris reads as fresh, never a wedged stream") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_hllcr").toString
    val landing = s"$base/feed"; new java.io.File(landing).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b1.json"),
      (1 to 30).map(u => s"""{"user_id":$u}""").mkString("\n"))
    // the crash shape a killed first publish leaves: the artifact's log
    // exists with no entry, v=1 holds only in-flight _temporary debris.
    // A bare-directory gate would route this into readSnapshot on EVERY
    // restart — a permanently wedged stream; the committed-version gate
    // takes the create path instead.
    new java.io.File(s"$base/artifact/_graft_log").mkdirs()
    new java.io.File(s"$base/artifact/v=1/_temporary").mkdirs()
    val stream = spark.readStream.schema("user_id LONG").json(landing)
    val q = StreamingAnalytics.runHllDistinct(spark, stream, "user_id",
      artifactDir = s"$base/artifact", checkpointDir = s"$base/ckpt")
    q.awaitTermination(120000)
    val art = graft.operators.Sinks.readSnapshot(spark, s"$base/artifact")
    assert(art.select("estimate").head.getLong(0) === 30L)
    // the recovery commits version 1 over the debris
    assert(graft.operators.Sinks.latestCommittedVersion(spark,
      s"$base/artifact") === Some(1))
    assert(!new java.io.File(s"$base/artifact/v=1/_temporary").exists())
  }

  test("runCountMin: cell-wise sketch accretion across batches; redelivered batch id is an exact no-op (ledger)") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Sinks, Sketches}
    val base = java.nio.file.Files.createTempDirectory("graft_scms").toString
    val landing = s"$base/feed"; new java.io.File(landing).mkdirs()
    // batch 1: users 1..10 once each; batch 2: users 1..5 again
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b1.json"),
      (1 to 10).map(u => s"""{"user_id":$u}""").mkString("\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b2.json"),
      (1 to 5).map(u => s"""{"user_id":$u}""").mkString("\n"))
    val stream = spark.readStream.schema("user_id LONG")
      .option("maxFilesPerTrigger", 1).json(landing)
    val q = StreamingAnalytics.runCountMin(spark, stream, "user_id",
      width = 32, depth = 4, seed = "scms", artifactDir = s"$base/artifact",
      checkpointDir = s"$base/ckpt")
    q.awaitTermination(120000)

    def estimates(): Map[Long, Long] = {
      val sk = Sinks.readSnapshot(spark, s"$base/artifact")
        .filter(col("batch_id") < 0).drop("batch_id")
      val probes = (1 to 10).map(_.toLong).toDF("user_id")
      Sketches.cmsEstimate(sk, probes, col("user_id"),
        width = 32, depth = 4, seed = "scms")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val est = estimates()
    // one-sided error: every estimate >= the true streamed count
    (1 to 5).foreach(u => assert(est(u.toLong) >= 2L))
    (6 to 10).foreach(u => assert(est(u.toLong) >= 1L))
    // total mass is exact: cell sums per row equal total occurrences
    val mass = Sinks.readSnapshot(spark, s"$base/artifact")
      .filter(col("batch_id") < 0)
      .groupBy(col("sk_row")).agg(sum(col("c")).as("m"))
      .collect().map(_.getLong(1)).toSet
    assert(mass === Set(15L))

    // redelivery of an APPLIED batch id: exact no-op, artifact unchanged
    val before = Sinks.readSnapshot(spark, s"$base/artifact")
      .collect().map(_.toString).sorted.toSeq
    StreamingAnalytics.applyCountMinBatch(spark,
      spark.read.json(s"$landing/b1.json"), batchId = 0L, "user_id",
      width = 32, depth = 4, seed = "scms", artifactDir = s"$base/artifact")
    val after = Sinks.readSnapshot(spark, s"$base/artifact")
      .collect().map(_.toString).sorted.toSeq
    assert(after === before, "replayed batch mutated the sketch")
    // a NEW batch id with the same rows DOES accrete (counts, not sets)
    StreamingAnalytics.applyCountMinBatch(spark,
      spark.read.json(s"$landing/b1.json"), batchId = 7L, "user_id",
      width = 32, depth = 4, seed = "scms", artifactDir = s"$base/artifact")
    val est2 = estimates()
    (1 to 5).foreach(u => assert(est2(u.toLong) >= 3L))
  }

  test("runBinHistogram: fixed-grid cells accrete across batches to the batch sketch; redelivery is a no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_shist").toString
    val all = ((1 to 50).map(i => ("g", i.toDouble)) ++
      (1 to 30).map(i => ("h", (i * 10).toDouble))).toDF("k", "v")
    // grid fitted ONCE in batch, persisted — the stream never refits
    graft.operators.Sketches.histBounds(all, Seq("k"), col("v"), nBins = 10)
      .write.parquet(s"$base/grid")
    // batch 1 through the streaming entry point (AvailableNow drains
    // what exists, then terminates)...
    val in = MemoryStream[(String, Double)]
    in.addData((1 to 50).map(i => ("g", i.toDouble)): _*)
    val q = StreamingAnalytics.runBinHistogram(spark,
      in.toDS().toDF("k", "v"), Seq("k"), "v", nBins = 10,
      gridDir = s"$base/grid", artifactDir = s"$base/artifact",
      checkpointDir = s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    // ...batch 2 through the factored transactional step (the
    // applyCountMinBatch testing convention — same code the stream runs)
    StreamingAnalytics.applyHistBatch(spark,
      (1 to 30).map(i => ("h", (i * 10).toDouble)).toDF("k", "v"),
      batchId = 1L, Seq("k"), "v", 10, s"$base/grid", s"$base/artifact")
    def servedQuantiles() = graft.operators.Sketches.histQuantiles(
      graft.operators.Sinks.readSnapshot(spark, s"$base/artifact")
        .filter(col("batch_id") < 0).drop("batch_id"),
      Seq("k"), Seq(0.5, 0.9))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("q_0"),
          r.getAs[Double]("q_1")))).toMap
    val streamed = servedQuantiles()
    val batch = graft.operators.Sketches.histQuantiles(
      graft.operators.Sketches.binHistogram(all, Seq("k"), col("v"), 10),
      Seq("k"), Seq(0.5, 0.9))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("q_0"),
          r.getAs[Double]("q_1")))).toMap
    assert(streamed === batch) // cell-exact accretion on the shared grid
    assert(streamed("g")._1 === 50L && streamed("h")._1 === 30L)
    // REDELIVERY of an applied batch id: bit-exact no-op
    val before = servedQuantiles()
    StreamingAnalytics.applyHistBatch(spark,
      (1 to 50).map(i => ("g", i.toDouble)).toDF("k", "v"), batchId = 0L,
      Seq("k"), "v", 10, s"$base/grid", s"$base/artifact")
    assert(servedQuantiles() === before)
    // a NEW batch id accretes (counts double for g)
    StreamingAnalytics.applyHistBatch(spark,
      (1 to 50).map(i => ("g", i.toDouble)).toDF("k", "v"), batchId = 9L,
      Seq("k"), "v", 10, s"$base/grid", s"$base/artifact")
    assert(servedQuantiles()("g")._1 === 100L)
  }

  test("streamingEwma: state carries the ring across batches; streamed equals the batch operator bit for bit") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[StreamingAnalytics.EwmaEvent]
    val q = StreamingAnalytics.streamingEwma(spark, in.toDS(),
      alpha = 0.5, maxLag = 4)
      .writeStream.format("memory").queryName("ewma_t")
      .outputMode("append").start()
    try {
      // batch 1: first three points of g, one of h
      in.addData(
        StreamingAnalytics.EwmaEvent("g", 1L, 1L, 10.0),
        StreamingAnalytics.EwmaEvent("g", 2L, 2L, 20.0),
        StreamingAnalytics.EwmaEvent("g", 3L, 3L, 30.0),
        StreamingAnalytics.EwmaEvent("h", 1L, 9L, 7.0))
      q.processAllAvailable()
      // batch 2: g continues PAST the ring boundary (row 5 must forget 10.0)
      in.addData(
        StreamingAnalytics.EwmaEvent("g", 4L, 4L, 40.0),
        StreamingAnalytics.EwmaEvent("g", 5L, 5L, 50.0),
        StreamingAnalytics.EwmaEvent("h", 2L, 10L, 7.0))
      q.processAllAvailable()
      val streamed = spark.table("ewma_t").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Double]("ewma")).toMap
      // batch differential: identical rows through Features.ewma
      val batchDf = Seq(
        ("g", 1L, 1L, 10.0), ("g", 2L, 2L, 20.0), ("g", 3L, 3L, 30.0),
        ("g", 4L, 4L, 40.0), ("g", 5L, 5L, 50.0),
        ("h", 1L, 9L, 7.0), ("h", 2L, 10L, 7.0)
      ).toDF("key", "ts", "id", "v")
      val batch = graft.operators.Features.ewma(batchDf, Seq("key"),
        Seq(org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.col("id")),
        org.apache.spark.sql.functions.col("v"), alpha = 0.5, maxLag = 4)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("ewma"))
        .toMap
      assert(streamed === batch) // bitwise, across the batch boundary
      // the ring actually truncates: row 5's window is {50,40,30,20}
      val w5 = Seq(50.0, 40.0, 30.0, 20.0)
      val ws = graft.operators.Features.ewmaWeights(0.5, 4)
      val num = w5.zip(ws).map { case (x, w) =>
        BigDecimal(x * w * 1e12)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }.sum
      val den = ws.map(w => BigDecimal(w * 1e12)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      assert(streamed(5L) === num.toDouble / den.toDouble)
      assert(streamed(10L) === 7.0) // constant series fixed point
    } finally q.stop()
  }

  test("runBloomMembership: bit set tracks the union across batches; redelivery is a bit-exact no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Sinks, Sketches}
    val base = java.nio.file.Files.createTempDirectory("graft_sbloom").toString
    val landing = s"$base/feed"; new java.io.File(landing).mkdirs()
    // two micro-batches with overlapping key sets (1-40, 21-60)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b1.json"),
      (1 to 40).map(u => s"""{"user_id":$u}""").mkString("\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b2.json"),
      (21 to 60).map(u => s"""{"user_id":$u}""").mkString("\n"))
    val stream = spark.readStream.schema("user_id LONG")
      .option("maxFilesPerTrigger", 1).json(landing)
    val q = StreamingAnalytics.runBloomMembership(spark, stream, "user_id",
      bits = 1024, hashes = 3, seed = "sbl",
      artifactDir = s"$base/artifact", checkpointDir = s"$base/ckpt")
    q.awaitTermination(120000)

    def bits(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("bit").collect().map(_.getLong(0)).toSet
    // final artifact == the batch-built sketch of the full union — the
    // streamed fold and the one-shot build agree BIT FOR BIT
    val art = Sinks.readSnapshot(spark, s"$base/artifact")
    val direct = Sketches.bloom((1L to 60L).toDF("user_id"),
      col("user_id"), 1024, 3, "sbl")
    assert(bits(art) === bits(direct))
    // v=1 is exactly batch 1's sketch
    assert(bits(spark.read.parquet(s"$base/artifact/v=1")) ===
      bits(Sketches.bloom((1L to 40L).toDF("user_id"),
        col("user_id"), 1024, 3, "sbl")))
    // membership serve: every streamed key answers true (no false
    // negatives — the defining guarantee), and redelivering batch 1
    // leaves the bit set unchanged (idempotence by algebra, no ledger)
    val served = Sketches.bloomMightContain(art.select("bit"),
      (1L to 60L).toDF("user_id"), col("user_id"), 1024, 3, "sbl")
      .collect().map(_.getBoolean(1))
    assert(served.length === 60 && served.forall(identity))
    val replayed = Sketches.mergeBlooms(Seq(art.select(col("bit")),
      Sketches.bloom((1L to 40L).toDF("user_id"), col("user_id"),
        1024, 3, "sbl")))
    assert(bits(replayed) === bits(direct))
  }

  test("streamingCusum: hand-computed alarm point, cross-batch carry, post-alarm restart, in-control silence") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[StreamingAnalytics.CusumEvent]
    // target 10, slack 1, threshold 5: values of 13 add +2 per event to
    // S⁺ — the third 13 crosses 5 (6 > 5) and fires, then resets
    val q = StreamingAnalytics.streamingCusum(spark, in.toDS(),
      target = 10.0, slack = 1.0, threshold = 5.0)
      .writeStream.format("memory").queryName("cusum_t")
      .outputMode("append").start()
    try {
      in.addData(
        StreamingAnalytics.CusumEvent("g", 1L, 1L, 13.0),
        StreamingAnalytics.CusumEvent("g", 2L, 2L, 13.0),
        StreamingAnalytics.CusumEvent("h", 1L, 9L, 10.0))
      q.processAllAvailable()
      // batch 2 continues g's accumulated state (2+2 = 4 carried over)
      in.addData(
        StreamingAnalytics.CusumEvent("g", 3L, 3L, 13.0),
        StreamingAnalytics.CusumEvent("g", 4L, 4L, 10.0),
        StreamingAnalytics.CusumEvent("h", 2L, 10L, 10.0),
        StreamingAnalytics.CusumEvent("h", 3L, 11L, 3.0))
      q.processAllAvailable()
      val out = spark.table("cusum_t").collect()
        .map(r => r.getAs[Long]("id") ->
          ((r.getAs[Double]("sPlus"), r.getAs[Double]("sMinus"),
            r.getAs[Boolean]("alarm")))).toMap
      assert(out(1L) === ((2.0, 0.0, false)))
      assert(out(2L) === ((4.0, 0.0, false)))
      assert(out(3L) === ((6.0, 0.0, true))) // crossed across the batch boundary
      // after the alarm the statistic restarted: 10.0 adds max(0, 0-1)=0
      assert(out(4L) === ((0.0, 0.0, false)))
      // in-control values never alarm; a low value grows S⁻
      assert(out(9L) === ((0.0, 0.0, false)))
      assert(out(10L) === ((0.0, 0.0, false)))
      assert(out(11L) === ((0.0, 6.0, true))) // 10-1-3 = 6 > 5, low side
    } finally q.stop()
  }

  test("runDriftMonitor: matching batch grades clean, shifted batch flags, redelivery idempotent") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches
    val base = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val landing = s"$base/feed"; new java.io.File(landing).mkdirs()
    // reference: group g uniform over 0..9, one per bin on the 10-bin grid
    val ref = Sketches.binHistogram(
      (0 to 9).map(v => ("g", v.toDouble)).toDF("k", "v"),
      Seq("k"), col("v"), nBins = 10)
    ref.write.mode("overwrite").parquet(s"$base/ref")
    // batch 0 matches the reference exactly; batch 1 is all 9s (shifted)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b0.json"),
      (0 to 9).map(v => s"""{"k":"g","v":$v.0}""").mkString("\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "b1.json"),
      Seq.fill(5)("""{"k":"g","v":9.0}""").mkString("\n"))
    // the file source orders ties by timestamp — pin b0 strictly earlier
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Path.of(landing, "b0.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    val stream = spark.readStream.schema("k STRING, v DOUBLE")
      .option("maxFilesPerTrigger", 1).json(landing)
    val q = StreamingAnalytics.runDriftMonitor(spark, stream, Seq("k"), "v",
      nBins = 10, refDir = s"$base/ref", outDir = s"$base/out",
      checkpointDir = s"$base/ckpt", thresholdMilli = 100L, runId = "r1")
    q.awaitTermination(120000)

    def verdict(id: Int) = spark.read.parquet(s"$base/out/batch=r1-$id")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_batch"), r.getAs[Double]("tvd"),
        r.getAs[Boolean]("drifted"))).toSeq
    assert(verdict(0) === Seq(("g", 10L, 10L, 0.0, false)))
    // shifted batch: S = 9·|1·5| + |1·5 − 5·10| = 90 → TVD = 90/(2·10·5)
    assert(verdict(1) === Seq(("g", 10L, 5L, 0.9, true)))
    // at-least-once redelivery: regrading batch 1 overwrites bit-exactly
    StreamingAnalytics.applyDriftBatch(spark,
      Seq(("g", 9.0), ("g", 9.0), ("g", 9.0), ("g", 9.0), ("g", 9.0))
        .toDF("k", "v"), 1L, Seq("k"), "v", 10, s"$base/ref", s"$base/out",
      100L, "r1")
    assert(verdict(1) === Seq(("g", 10L, 5L, 0.9, true)))
  }

  test("crash-injection, drift monitor: a batch that fails MID-WRITE " +
    "leaves a state the replay fully repairs — verdict frames are never " +
    "duplicated or half-written after recovery") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches
    val base = java.nio.file.Files
      .createTempDirectory("graft_drift_crash").toString
    val ref = Sketches.binHistogram(
      (0 to 9).map(v => ("g", v.toDouble)).toDF("k", "v"),
      Seq("k"), col("v"), nBins = 10)
    ref.write.mode("overwrite").parquet(s"$base/ref")
    val clean = (0 to 9).map(v => ("g", v.toDouble)).toDF("k", "v")
    // healthy first delivery of batch 3
    StreamingAnalytics.applyDriftBatch(spark, clean, 3L, Seq("k"), "v",
      10, s"$base/ref", s"$base/out", 100L, "r1")
    def verdict() = spark.read.parquet(s"$base/out/batch=r1-3")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_batch"), r.getAs[Double]("tvd"),
        r.getAs[Boolean]("drifted"))).toSeq
    val healthy = verdict()
    assert(healthy === Seq(("g", 10L, 10L, 0.0, false)))
    // CRASH DURING the redelivered batch's grading write: a poisoned
    // row makes a task throw while the overwrite job is in flight (the
    // StreamingIngestSpec eo_crash pattern) — the foreachBatch attempt
    // dies exactly as a killed executor/driver would mid-batch
    val poisoned = clean.map { r =>
      val v = r.getDouble(1)
      if (v == 7.0) throw new IllegalStateException("injected task failure")
      (r.getString(0), v)
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaDouble)).toDF("k", "v")
    intercept[Exception] {
      StreamingAnalytics.applyDriftBatch(spark, poisoned, 3L, Seq("k"),
        "v", 10, s"$base/ref", s"$base/out", 100L, "r1")
    }
    // recovery: the checkpoint redelivers batch 3; the replay must
    // converge to EXACTLY the healthy verdicts — the overwrite sink
    // repairs whatever the crashed attempt left (partial files, a
    // cleared dir), never unions with it
    StreamingAnalytics.applyDriftBatch(spark, clean, 3L, Seq("k"), "v",
      10, s"$base/ref", s"$base/out", 100L, "r1")
    assert(verdict() === healthy)
    // and exactly ONE verdict frame per batch dir — no duplicates
    assert(spark.read.parquet(s"$base/out/batch=r1-3").count() === 1L)
  }

  test("crash-injection, streaming CUSUM: a sink crash mid-run + restart " +
    "from the checkpoint resumes per-key counters and lands every " +
    "verdict frame exactly once (no duplicated emissions)") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cusum_crash").toString
    val landing = s"$base/in"; new java.io.File(landing).mkdirs()
    // two chunks; the detector's running state (S+, S-) spans them, so
    // a restart that lost state would shift every chunk-1 statistic
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "c0.json"),
      (1 to 4).map(i => s"""{"key":"g","ts":$i,"id":$i,"v":13.0}""")
        .mkString("\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "c1.json"),
      (5 to 8).map(i => s"""{"key":"g","ts":$i,"id":$i,"v":13.0}""")
        .mkString("\n"))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Path.of(landing, "c0.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    def in = spark.readStream
      .schema("key STRING, ts LONG, id LONG, v DOUBLE")
      .option("maxFilesPerTrigger", 1).json(landing)
      .as[StreamingAnalytics.CusumEvent]
    def sink(out: String, poison: Boolean) = {
      StreamingAnalytics
        .streamingCusum(spark, in, target = 10.0, slack = 1.0,
          threshold = 5.0)
        .toDF()
        .writeStream.option("checkpointLocation", s"$base/ckpt_$out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (poison && id == 1L && !new java.io.File(s"$base/boom").exists()) {
            new java.io.File(s"$base/boom").createNewFile()
            throw new IllegalStateException("injected sink crash")
          }
          b.write.mode("overwrite").parquet(s"$base/$out/batch=$id")
        }
        .start()
    }
    // clean reference run
    sink("out_clean", poison = false).awaitTermination(120000)
    // crashing run: batch 1's first attempt dies in the sink, then the
    // query restarts from its checkpoint and redelivers it
    intercept[Exception] {
      sink("out_crash", poison = true).awaitTermination(120000)
    }
    sink("out_crash", poison = true).awaitTermination(120000)
    def snap(out: String) = spark.read
      .parquet(s"$base/$out/batch=0", s"$base/$out/batch=1")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("sPlus"), r.getAs[Double]("sMinus"),
          r.getAs[Boolean]("alarm")))).toSeq.sortBy(_._1)
    val clean = snap("out_clean"); val crashed = snap("out_crash")
    // exactly once: same frames, same count, same per-id statistics —
    // a lost counter would shift ids 5..8, a duplicated emission would
    // double a row
    assert(crashed === clean)
    assert(crashed.map(_._1) === (1L to 8L))
    // cross-batch carry really happened (id 5 continues, not restarts):
    // v=13, target=10, slack=1 → S+ += 2 per row, alarm at S+ > 5 on
    // id 3 (S+ = 6), reset, then id 6 alarms again (4 rows later... id
    // 3 alarms, ids 4-6 rebuild 2,4,6 → alarm at id 6)
    val alarms = clean.filter(_._2._3).map(_._1)
    assert(alarms === Seq(3L, 6L))
  }
}
