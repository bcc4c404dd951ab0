package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Ingest

/** Pins the ingest flow E1 (SURVEY.md §3): forced-schema CSV read, the
  * cleaning chain (drop extras, parse, normalize, dropna), watermark
  * late-row dropping, and the keyed-upsert semantics (batch wins on key
  * collision; in-batch duplicates last-write-wins). */
class IngestSpec extends SparkSpecBase {
  import spark.implicits._

  /** The parquet data files under a table directory, by the name of the
    * bucket directory holding them: (path, modification time) each. */
  private def filesByBucket(tableDir: String): Map[String, Set[(String, Long)]] = {
    val walk = Files.walk(java.nio.file.Path.of(tableDir))
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy(_.getParent.getFileName.toString)
      .map { case (b, ps) => b -> ps.map(p =>
        p.toString -> Files.getLastModifiedTime(p).toMillis).toSet }
    finally walk.close()
  }

  test("SNK1 upsert: batch replaces existing on key; in-batch dups last-write-wins (main.py:175-188)") {
    val existing = Seq(("k1", 1, "old1"), ("k2", 2, "old2"), ("k3", 3, "old3"))
      .toDF("key", "ord", "payload")
    val incoming = Seq(
      ("k2", 10, "new2a"), ("k2", 11, "new2b"), // in-batch dup: ord=11 wins
      ("k4", 12, "new4"))
      .toDF("key", "ord", "payload")
    val out = Ingest.upsert(existing, incoming, key = Seq("key"), orderCol = "ord")
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("payload")).toMap
    assert(out === Map("k1" -> "old1", "k2" -> "new2b", "k3" -> "old3", "k4" -> "new4"))
  }

  test("F13 watermark: rows at or before the watermark are silently dropped (main.py:161-166)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val existing = Seq(("a", ts("2024-01-10 00:00:00"))).toDF("key", "ts")
    val incoming = Seq(
      ("late", ts("2024-01-09 00:00:00")),
      ("equal", ts("2024-01-10 00:00:00")),
      ("fresh", ts("2024-01-11 00:00:00"))).toDF("key", "ts")
    val out = Ingest.watermarkFilter(incoming, existing, "ts",
      slack = expr("INTERVAL 0 SECONDS"))
      .collect().map(_.getAs[String]("key")).toSeq
    assert(out === Seq("fresh")) // strictly-newer only
  }

  test("F13 first run: empty existing snapshot keeps ALL incoming rows (main.py:164 `if last_ts:`)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val incoming = Seq(("a", ts("2024-01-09 00:00:00")), ("b", ts("2024-01-10 00:00:00")))
      .toDF("key", "ts")
    val emptyExisting = incoming.filter(lit(false))
    val out = Ingest.watermarkFilter(incoming, emptyExisting, "ts",
      slack = expr("INTERVAL 0 SECONDS"))
    assert(out.count() === 2) // NULL watermark means no filter, not drop-all
  }

  test("E1 end-to-end: CSV with dirty fields cleans, drops bad rows, upserts (main.py:194-228)") {
    val dir = Files.createTempDirectory("graft_ingest_spec").toFile
    val csv = new java.io.File(dir, "batch.csv")
    // 10 raw columns: Date,Time,Currency,Event,Impact,Actual,Forecast,Previous,IsHoliday,WeekRange
    Files.writeString(csv.toPath,
      """2025-01-05,17:00,USD,NFP,high,5.2%,1.2K,nan,0,w1
        |5 January 2025,5:30 PM, EUR ,CPI,High,-0.3,,2T,0,w1
        |garbage-date,17:00,GBP,GDP,low,1,2,3,0,w1
        |2025-01-06,bad-time,JPY,PMI,low,1,2,3,0,w1
        |""".stripMargin)
    val cleaned = Ingest.clean(Ingest.readCsv(spark, csv.getAbsolutePath))
    val rows = cleaned.orderBy("Currency").collect()
    // garbage date + bad time rows dropped (F8)
    assert(rows.length === 2)
    val byCur = rows.map(r => r.getAs[String]("Currency") -> r).toMap
    assert(byCur.keySet === Set("USD", "EUR"))
    assert(byCur("USD").getAs[String]("Actual") === "5.2%")
    assert(byCur("USD").getAs[String]("Time") === "17:00:00")
    assert(byCur("EUR").getAs[String]("Time") === "17:30:00") // 5:30 PM
    assert(byCur("EUR").getAs[String]("Forecast") === "N/A") // empty → N/A
    assert(byCur("EUR").getAs[String]("Currency") === "EUR") // trimmed
    assert(byCur("USD").getAs[java.sql.Date]("Date") === java.sql.Date.valueOf("2025-01-05"))
    assert(!cleaned.columns.contains("IsHoliday")) // P1 drop
    // Upsert into an empty existing snapshot
    val empty = cleaned.filter(lit(false))
    val loaded = Ingest.upsert(empty, cleaned,
      key = Seq("Date", "Time", "Currency", "Event"), orderCol = "EventTime")
    assert(loaded.count() === 2)
    // Idempotence: re-ingesting the same batch over the result is a no-op
    val again = Ingest.upsert(loaded, cleaned,
      key = Seq("Date", "Time", "Currency", "Event"), orderCol = "EventTime")
    assert(again.count() === 2)
  }

  test("SNK1 bucketed upsert: a 1-row batch rewrites ONE bucket, the rest untouched") {
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_snk1b_spec")
      .toFile.getAbsolutePath + "/tbl"
    val key = Seq("user_id", "event_type")
    val seed = (0 until 64).map(i => (s"u$i", if (i % 2 == 0) "view" else "click",
      i.toLong, i.toDouble)).toDF("user_id", "event_type", "event_id", "value")
    Sinks.upsertSnapshotBucketed(spark, tableDir, seed, key, "event_id",
      nBuckets = 8)
    val before = filesByBucket(tableDir)
    assert(before.size > 1, "seed must spread over several buckets")
    // the 1-row batch: replaces (u3, click)'s row
    val batch = Seq(("u3", "click", 100L, 99.5))
      .toDF("user_id", "event_type", "event_id", "value")
    Sinks.upsertSnapshotBucketed(spark, tableDir, batch, key, "event_id",
      nBuckets = 8)
    // untouched buckets' files keep their paths and modification times;
    // the replaced file of the touched bucket is gone
    val after = filesByBucket(tableDir)
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit("u3"), lit("click")), lit(8L)).cast("int"))
      .head.getInt(0)
    val touchedDir = s"__bucket=$touched"
    assert(after(touchedDir) !== before(touchedDir),
      "the batch's bucket must be rewritten")
    (before.keySet - touchedDir).foreach { b =>
      assert(after(b) === before(b), s"untouched bucket $b was rewritten")
    }
    // data contract: upsert semantics held across the partition-scoped merge
    val out = Sinks.readBucketedSnapshot(spark, tableDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size === 64)
    assert(out(("u3", "click")) === ((100L, 99.5)))
    assert(out(("u4", "view")) === ((4L, 4.0)))
    // layout contract: a mismatched bucket count fails loud, not silently
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertSnapshotBucketed(spark, tableDir, batch, key, "event_id",
        nBuckets = 16)
    }
    assert(e.getMessage.contains("bucket-count mismatch"))
  }

  test("SNK1 bucketed upsert: a CREATE batch with duplicate keys persists last-write-wins, not duplicates") {
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_snk1b_dup")
      .toFile.getAbsolutePath + "/tbl"
    val key = Seq("user_id", "event_type")
    // (u1, view) appears twice — the create branch must resolve it the
    // way every later merge batch would (last-write-wins on event_id)
    val batch = Seq(("u1", "view", 1L, 1.0), ("u1", "view", 2L, 2.0),
      ("u2", "click", 1L, 5.0))
      .toDF("user_id", "event_type", "event_id", "value")
    Sinks.upsertSnapshotBucketed(spark, tableDir, batch, key, "event_id",
      nBuckets = 4)
    val out = Sinks.readBucketedSnapshot(spark, tableDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size === 2, "duplicate key must not persist two rows")
    assert(out(("u1", "view")) === ((2L, 2.0)))
    assert(out(("u2", "click")) === ((1L, 5.0)))
  }

  test("readBucketedSnapshot reads the footer schema with no Spark job: " +
    "the same schema and rows as parquet inference; no data file fails loud") {
    import graft.operators.Sinks
    val root = Files.createTempDirectory("graft_snk_footer").toFile.getAbsolutePath
    val tableDir = root + "/tbl"
    val batch = (0 until 40).map(i => (s"u$i", if (i % 2 == 0) "view" else "click",
      i.toLong, i * 0.5, java.sql.Timestamp.valueOf(s"2024-01-0${1 + i % 9} 00:00:00")))
      .toDF("user_id", "event_type", "event_id", "value", "ts")
    Sinks.upsertSnapshotBucketed(spark, tableDir, batch,
      Seq("user_id", "event_type"), "event_id", nBuckets = 4)
    Sinks.replaceSnapshot(spark, root + "/versioned", batch.repartition(3))
    // both layouts read the log's file list and schema: no Spark job, and
    // the same schema and rows as parquet inference over those files
    Seq(
      "bucketed" -> (() => Sinks.readBucketedSnapshot(spark, tableDir)),
      "versioned" -> (() => Sinks.readSnapshot(spark, root + "/versioned"))
    ).foreach { case (layout, read) =>
      val (jobs, df) = countingJobs(s"log-schema-$layout")(read())
      assert(jobs.started === 0,
        s"$layout: reading the table ran ${jobs.started} jobs")
      val inferred = spark.read.parquet(df.inputFiles.toSeq: _*)
      assert(df.schema === inferred.schema, layout)
      assert(df.collect().map(_.toString).sorted ===
        inferred.collect().map(_.toString).sorted, layout)
      assert(df.count() === 40, layout)
    }
    // a table directory with no log fails loud
    val emptyDir = new java.io.File(root + "/empty/__bucket=0")
    emptyDir.mkdirs()
    val e = intercept[IllegalArgumentException] {
      Sinks.readBucketedSnapshot(spark, root + "/empty")
    }
    assert(e.getMessage.contains("holds no commit log"))
  }

  test("SNK10 applyChanges: I-then-D nets delete, D-then-I nets insert, unknown op fails loud") {
    import graft.operators.Sinks
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a2", "U", 1L),            // plain update
      (2L, "x", "I", 1L), (2L, "x", "D", 2L), // I then D -> delete
      (4L, "d0", "D", 1L), (4L, "d1", "I", 2L), // D then I -> insert
      (5L, "e", "U", 1L))             // update of an absent key -> appears
      .toDF("k", "v", "op", "ord")
    val out = Sinks.applyChanges(existing, changes, Seq("k"), "ord", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "a2", 3L -> "c", 4L -> "d1", 5L -> "e"))
    // replaying the same merged feed is a no-op (idempotent consumption)
    val replayed = Sinks.applyChanges(
      Seq((1L, "a2"), (3L, "c"), (4L, "d1"), (5L, "e")).toDF("k", "v"),
      changes, Seq("k"), "ord", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replayed === out)
    // unknown ops are loud, never silent deletes
    val bad = Seq((9L, "z", "X", 1L)).toDF("k", "v", "op", "ord")
    val e = intercept[Exception] {
      Sinks.applyChanges(existing, bad, Seq("k"), "ord", "op").collect()
    }
    assert(e.getMessage.contains("unknown CDC op"))
  }

  test("SNK10 bucketed CDC: a 1-key D batch rewrites exactly its bucket; an emptied bucket's directory is removed") {
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_snk10b")
      .toFile.getAbsolutePath + "/tbl"
    val key = Seq("user_id")
    val seed = (0 until 64).map(i => (s"u$i", i.toLong, i.toDouble, "I", 0L))
      .toDF("user_id", "event_id", "value", "op", "ord")
    Sinks.applyChangesBucketed(spark, tableDir, seed, key, "ord", "op",
      nBuckets = 8)
    val before = filesByBucket(tableDir)
    assert(before.size > 1, "seed must spread over several buckets")
    // the bucketed layout is relation-invisible: NEITHER feed
    // bookkeeping column (op, ord) leaks into the snapshot schema
    val snapCols = Sinks.readBucketedSnapshot(spark, tableDir).columns.toSet
    assert(snapCols === Set("user_id", "event_id", "value"),
      s"feed bookkeeping leaked into snapshot schema: $snapCols")
    // the 1-key DELETE batch: only u3's bucket may be rewritten
    val dBatch = Seq(("u3", 3L, 3.0, "D", 1L))
      .toDF("user_id", "event_id", "value", "op", "ord")
    Sinks.applyChangesBucketed(spark, tableDir, dBatch, key, "ord", "op",
      nBuckets = 8)
    val after = filesByBucket(tableDir)
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit("u3")), lit(8L)).cast("int")).head.getInt(0)
    val touchedDir = s"__bucket=$touched"
    assert(after(touchedDir) !== before(touchedDir),
      "the delete's bucket must be rewritten")
    (before.keySet - touchedDir).foreach { b =>
      assert(after(b) === before(b), s"untouched bucket $b was rewritten")
    }
    val out = Sinks.readBucketedSnapshot(spark, tableDir)
      .select("user_id").as[String].collect().toSet
    assert(out.size === 63 && !out.contains("u3"))

    // dynamic-partition-overwrite blind spot: delete EVERY key of one
    // bucket — no output rows for that partition, so the stale directory
    // must be removed explicitly (a leak here = resurrection on read)
    val bucketOf = spark.range(64)
      .select(concat(lit("u"), col("id")).as("u"),
        pmod(xxhash64(concat(lit("u"), col("id"))), lit(8L)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val victim = (before.keySet - touchedDir).head.stripPrefix("__bucket=").toInt
    val keysInVictim = bucketOf.filter(_._2 == victim).keys.toSeq
    assert(keysInVictim.nonEmpty)
    val wipe = keysInVictim.map(u => (u, 0L, 0.0, "D", 2L))
      .toDF("user_id", "event_id", "value", "op", "ord")
    Sinks.applyChangesBucketed(spark, tableDir, wipe, key, "ord", "op",
      nBuckets = 8)
    val walk = Files.walk(java.nio.file.Path.of(tableDir))
    try assert(!walk.anyMatch(_.getFileName.toString == s"__bucket=$victim"),
      "fully-deleted bucket directory must be removed, not left stale")
    finally walk.close()
    val out2 = Sinks.readBucketedSnapshot(spark, tableDir)
      .select("user_id").as[String].collect().toSet
    assert(out2 === (0 until 64).map(i => s"u$i").toSet - "u3" -- keysInVictim)
  }

  test("bucketed CDC: op/order columns match the feed's by the session " +
    "resolver, not by case-sensitive name") {
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_snk10_case")
      .toFile.getAbsolutePath + "/tbl"
    // the feed spells its bookkeeping columns OP / ORD; the caller
    // passes "op" / "ord" — one column each under the default
    // case-insensitive resolver
    val seed = (0 until 8).map(i => (s"u$i", i.toDouble, "I", 0L))
      .toDF("user_id", "value", "OP", "ORD")
    Sinks.applyChangesBucketed(spark, tableDir, seed, Seq("user_id"), "ord",
      "op", nBuckets = 4)
    val batch = Seq(("u1", 10.0, "U", 1L), ("u2", 0.0, "D", 1L),
      ("u9", 9.0, "I", 1L)).toDF("user_id", "value", "OP", "ORD")
    Sinks.applyChangesBucketed(spark, tableDir, batch, Seq("user_id"), "ord",
      "op", nBuckets = 4)
    val snap = Sinks.readBucketedSnapshot(spark, tableDir)
    assert(snap.columns.toSet === Set("user_id", "value"),
      s"feed bookkeeping leaked into snapshot schema: ${snap.columns.toSeq}")
    val got = snap.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === (0 until 8).filter(_ != 2).map(i => s"u$i" -> i.toDouble)
      .toMap ++ Map("u1" -> 10.0, "u9" -> 9.0))
  }

  test("bucketed merge leaves no debris; crashed-attempt files unread, then reclaimed") {
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_stage_gc")
      .toFile.getAbsolutePath + "/tbl"
    val key = Seq("user_id")
    val seed = (0 until 16).map(i => (s"u$i", i.toLong))
      .toDF("user_id", "event_id")
    Sinks.upsertSnapshotBucketed(spark, tableDir, seed, key, "event_id",
      nBuckets = 4)
    // every data file on disk is one the table reads: nothing left over
    def onDisk: Set[String] = filesByBucket(tableDir).values.flatten.map(_._1).toSet
    def read: Set[String] = Sinks.readBucketedSnapshot(spark, tableDir)
      .inputFiles.map(new org.apache.hadoop.fs.Path(_).toUri.getPath).toSet
    Sinks.upsertSnapshotBucketed(spark, tableDir,
      Seq(("u3", 100L)).toDF("user_id", "event_id"), key, "event_id",
      nBuckets = 4)
    assert(onDisk === read, "a replaced bucket file was left behind")
    // a crashed attempt of the next commit: a bogus file under the next
    // version's directory, which no log entry lists — never read
    val next = Sinks.latestCommittedVersion(spark, tableDir).get + 1
    val stale = new java.io.File(tableDir, s"v=$next/__bucket=0")
    stale.mkdirs()
    Files.writeString(stale.toPath.resolve("part-junk.parquet"), "not parquet")
    assert(Sinks.readBucketedSnapshot(spark, tableDir).count() === 16,
      "a crashed attempt's file leaked into the read path")
    Sinks.upsertSnapshotBucketed(spark, tableDir,
      Seq(("u5", 200L)).toDF("user_id", "event_id"), key, "event_id",
      nBuckets = 4)
    assert(onDisk === read, "the crashed attempt's file was not reclaimed")
    val out = Sinks.readBucketedSnapshot(spark, tableDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size === 16 && out("u3") === 100L && out("u5") === 200L)
  }

  test("SNK10 streaming CDC: I→U→D across micro-batches nets to the collapsed snapshot") {
    import graft.operators.Sinks
    val base = Files.createTempDirectory("graft_snk10s").toFile.getAbsolutePath
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val tableDir = s"$base/tbl"
    // one JSON file per micro-batch. The CDC contract is ORDERED feed
    // delivery (a Debezium topic partition); the file source orders
    // batches by modification time, so the fixtures get strictly
    // increasing mtimes — name order alone is NOT honored.
    def writeBatch(name: String, mtime: Long, body: String): Unit = {
      val p = java.nio.file.Path.of(landing, name)
      Files.writeString(p, body)
      assert(p.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    writeBatch("b1.json", t0,
      """{"k":"a","v":1,"op":"I","ord":1}
        |{"k":"b","v":1,"op":"I","ord":1}
        |{"k":"c","v":1,"op":"I","ord":1}""".stripMargin)
    writeBatch("b2.json", t0 + 10000,
      """{"k":"a","v":2,"op":"U","ord":2}
        |{"k":"c","v":9,"op":"U","ord":2}""".stripMargin)
    writeBatch("b3.json", t0 + 20000,
      """{"k":"a","v":0,"op":"D","ord":3}
        |{"k":"d","v":7,"op":"I","ord":3}""".stripMargin)
    val schema = "k STRING, v LONG, op STRING, ord LONG"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(landing)
    val q = graft.streaming.StreamingIngest.runChangesToBucketedSnapshot(
      stream, tableDir, s"$base/ckpt", Seq("k"), "ord", "op", nBuckets = 4)
    q.awaitTermination(120000)
    val out = Sinks.readBucketedSnapshot(spark, tableDir)
      .select("k", "v").as[(String, Long)].collect().toMap
    // a: I then U then D → gone; b: single I; c: I then U; d: late I
    assert(out === Map("b" -> 1L, "c" -> 9L, "d" -> 7L))
  }

  test("replaceSnapshot: retrain publishes exactly the new fit — stale keys do not blend in") {
    import graft.operators.Sinks
    val dir = Files.createTempDirectory("graft_replsnap").toString + "/tbl"
    val fit1 = Seq(("USD", "CPI", 0.5), ("EUR", "NFP", 0.7))
      .toDF("Currency", "Event", "slope")
    assert(Sinks.replaceSnapshot(spark, dir, fit1) === 1)
    // the second fit covers FEWER keys — upsertSnapshot would keep
    // (EUR, NFP) from v=1 and serve a blend no run ever produced
    val fit2 = Seq(("USD", "CPI", 0.9)).toDF("Currency", "Event", "slope")
    assert(Sinks.replaceSnapshot(spark, dir, fit2) === 2)
    val served = Sinks.readSnapshot(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(served === Map(("USD", "CPI") -> 0.9))
    // prior version retained for concurrent readers
    assert(spark.read.parquet(s"$dir/v=1").count() === 2)
  }

  test("SNK11 vacuumSnapshot: keeps the newest versions, latest always survives") {
    import graft.operators.Sinks
    val dir = Files.createTempDirectory("graft_vacuum").toString + "/tbl"
    val b = Seq((1L, "x")).toDF("k", "v")
    (1 to 4).foreach(_ => Sinks.upsertSnapshot(spark, dir, b, Seq("k"), "v"))
    // keepLast larger than history: nothing removed
    assert(Sinks.vacuumSnapshot(spark, dir, keepLast = 9) ===
      ((Seq.empty[Int], Seq(1, 2, 3, 4))))
    val (removed, kept) = Sinks.vacuumSnapshot(spark, dir, keepLast = 2)
    assert(removed === Seq(1, 2) && kept === Seq(3, 4))
    assert(!Sinks.tableExists(spark, s"$dir/v=1"))
    assert(Sinks.tableExists(spark, s"$dir/v=3"))
    assert(Sinks.readSnapshot(spark, dir).count() === 1L)
    val e = intercept[IllegalArgumentException] {
      Sinks.vacuumSnapshot(spark, dir, keepLast = 0)
    }
    assert(e.getMessage.contains("keepLast"))
  }

  test("SRC1 listing runs through the Hadoop FS API: a file: URI serves unchanged") {
    val dir = Files.createTempDirectory("graft_src1_uri").toFile
    Files.writeString(new java.io.File(dir, "b.csv").toPath,
      "2025-01-06,17:00,EUR,CPI,High,1,2,3,0,w1\n")
    Files.writeString(new java.io.File(dir, "a.csv").toPath,
      "2025-01-05,17:00,USD,NFP,High,1,2,3,0,w1\n")
    // explicit scheme — the same code path an s3a://'/gs:// prefix takes
    val out = Ingest.readFirstCsv(spark, s"file://${dir.getAbsolutePath}")
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("Currency") === "USD") // a.csv picked
  }

  test("SRC2 forced schema: 10 string columns, never inferred (main.py:205-207)") {
    assert(Ingest.rawSchema.fields.length === 10)
    assert(Ingest.rawSchema.fields.forall(_.dataType.typeName == "string"))
    assert(Ingest.rawColumns.take(4) === Seq("Date", "Time", "Currency", "Event"))
  }

  test("SNK9 compaction: sized file count, identical content, old version retained") {
    import spark.implicits._
    val dir = s"/tmp/graft_test_compact_${System.nanoTime()}"
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    graft.operators.Sinks.replaceSnapshot(spark, dir, df.repartition(20))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def files(v: Int) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/v=$v")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    val total = files(1).map(_.getLen).sum
    // target a quarter of the bytes -> exactly ceil(total / target) = 4 files
    val target = (total + 3) / 4
    val (before, after, version) =
      graft.operators.Sinks.compactSnapshot(spark, dir, target)
    assert(before === 20)
    assert(version === 2)
    assert(after === ((total + target - 1) / target).toInt)
    assert(after < before)
    assert(files(1).size === 20) // old version untouched
    val round = spark.read.parquet(s"$dir/v=2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(round === (1 to 1000).map(i => (i.toLong, s"row$i")).toSet)
  }

  test("snapshotDiff: minimal I/U/D feed, null-safe change detection, multi-col key, round-trip law, guards") {
    import spark.implicits._
    import graft.operators.Sinks
    val before = Seq(
      (1L, "a", Option(10.0)), // unchanged
      (2L, "a", Option(20.0)), // value changes -> U
      (3L, "b", Option(30.0)), // deleted -> D
      (4L, "b", None),         // null -> value -> U
      (5L, "c", Option(50.0)), // value -> null -> U
      (6L, "c", None)          // null -> null: unchanged
    ).toDF("k1", "k2", "v")
    val after = Seq(
      (1L, "a", Option(10.0)),
      (2L, "a", Option(21.0)),
      (4L, "b", Option(40.0)),
      (5L, "c", Option.empty[Double]),
      (6L, "c", None),
      (7L, "d", Option(70.0)) // new -> I
    ).toDF("k1", "k2", "v")

    val diff = Sinks.snapshotDiff(before, after, Seq("k1", "k2"))
    val got = diff.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), r.getString(3)))
      .toSet
    assert(got === Set(
      (2L, "a", Some(21.0), "U"),
      (3L, "b", Some(30.0), "D"),
      (4L, "b", Some(40.0), "U"),
      (5L, "c", None, "U"),
      (7L, "d", Some(70.0), "I")))

    // round-trip law: applying the diff to `before` reproduces `after`
    val applied = Sinks.applyChanges(before,
      diff.withColumn("ord", org.apache.spark.sql.functions.lit(1L)),
      Seq("k1", "k2"), "ord")
    assert(applied.exceptAll(after).count() === 0)
    assert(after.exceptAll(applied).count() === 0)

    // identical snapshots diff to the empty feed
    assert(Sinks.snapshotDiff(before, before, Seq("k1", "k2")).count() === 0)

    // guards: schema mismatch and pre-existing op column fail loud
    intercept[IllegalArgumentException] {
      Sinks.snapshotDiff(before, after.withColumnRenamed("v", "w"), Seq("k1"))
    }
    intercept[IllegalArgumentException] {
      Sinks.snapshotDiff(
        before.withColumn("op", org.apache.spark.sql.functions.lit("x")),
        after.withColumn("op", org.apache.spark.sql.functions.lit("x")),
        Seq("k1"))
    }
  }

  test("SNK14 upsertSnapshotEvolving: additive column, old version schema intact, type conflict loud") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_snk14_spec").toString
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val b2 = Seq((2L, 21.0, "fresh"), (3L, 30.0, "new")).toDF("k", "v", "tag")
    assert(Sinks.upsertSnapshotEvolving(spark, tableDir, b1, Seq("k"), "v") === 1)
    assert(Sinks.upsertSnapshotEvolving(spark, tableDir, b2, Seq("k"), "v") === 2)
    val cur = Sinks.readSnapshot(spark, tableDir)
    assert(cur.columns.toSeq === Seq("k", "v", "tag")) // union order: current ++ new
    val rows = cur.collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Double]("v"), Option(r.getAs[String]("tag"))))).toMap
    assert(rows === Map(
      1L -> ((10.0, None)),       // untouched key: evolved column NULL
      2L -> ((21.0, Some("fresh"))), // upserted by batch 2
      3L -> ((30.0, Some("new")))))
    // v=1 on disk keeps its ORIGINAL two-column schema — old readers
    // of the pinned version are never rewritten
    val v1 = spark.read.parquet(s"$tableDir/v=1")
    assert(v1.columns.toSeq === Seq("k", "v"))
    // shrinking batches are fine too (missing columns null-filled)...
    val b3 = Seq((4L, 40.0)).toDF("k", "v")
    assert(Sinks.upsertSnapshotEvolving(spark, tableDir, b3, Seq("k"), "v") === 3)
    val v3 = Sinks.readSnapshot(spark, tableDir)
    assert(v3.count() === 4)
    assert(v3.filter(col("k") === 4L).head.getAs[String]("tag") === null)
    // ...but a same-name TYPE change is a migration, not an upsert
    val bad = Seq((5L, "oops", "t")).toDF("k", "v", "tag")
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertSnapshotEvolving(spark, tableDir, bad, Seq("k"), "v")
    }
    assert(e.getMessage.contains("type conflicts"))
  }

  test("versioned crash recovery: uncommitted v=N is never read; the retry commits v=N") {
    import spark.implicits._
    import graft.operators.Sinks
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_vcrash").toString + "/t"
    Sinks.upsertSnapshot(spark,
      tableDir, Seq((1L, "a")).toDF("k", "v"), Seq("k"), "v")
    // simulate a writer that died after its data files, before its log
    // entry: v=2 holds a complete-looking file that no entry lists
    Seq((9L, "torn")).toDF("k", "v").write.parquet(s"$tableDir/v=2")
    assert(Sinks.readSnapshot(spark, tableDir)
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
    // the replayed batch commits version 2 over the debris, merged from v=1
    val v = Sinks.upsertSnapshot(spark,
      tableDir, Seq((2L, "b")).toDF("k", "v"), Seq("k"), "v")
    assert(v === 2)
    assert(Sinks.readSnapshot(spark, tableDir)
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // vacuum reaps the versions below the kept one, never the kept one
    val (dropped, kept) = Sinks.vacuumSnapshot(spark, tableDir, keepLast = 1)
    assert(kept === Seq(2) && dropped === Seq(1))
    assert(!new java.io.File(s"$tableDir/v=1").exists)
    assert(Sinks.readSnapshot(spark, tableDir).count() === 2)
  }

  test("bucketed create crash recovery: data-without-marker (a crash " +
    "between the data write and the marker create) replays to a clean " +
    "table; a marker-less dir holding FOREIGN files still fails loud") {
    import spark.implicits._
    import graft.operators.Sinks
    val base = java.nio.file.Files
      .createTempDirectory("graft_bcrash").toString
    val tableDir = s"$base/t"
    val batch = Seq(("u1", 1L), ("u2", 2L)).toDF("user_id", "event_id")
    Sinks.upsertSnapshotBucketed(spark, tableDir, batch, Seq("user_id"),
      "event_id", nBuckets = 4)
    // crash shape: the data files landed, the first log entry did not
    assert(new java.io.File(tableDir, "_graft_log/1.json").delete())
    // the checkpoint replays the same batch and re-creates the table
    Sinks.upsertSnapshotBucketed(spark, tableDir, batch, Seq("user_id"),
      "event_id", nBuckets = 4)
    assert(Sinks.readBucketedSnapshot(spark, tableDir)
      .select("user_id").as[String].collect().toSet === Set("u1", "u2"))
    assert(new java.io.File(tableDir, "_graft_log/1.json").exists)
    // but a dir with no log and other content is NOT ours to clobber
    val foreign = s"$base/f"
    new java.io.File(foreign).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(foreign, "data.csv"), "x")
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertSnapshotBucketed(spark, foreign, batch, Seq("user_id"),
        "event_id", nBuckets = 4)
    }
    assert(e.getMessage.contains("holds no commit log"))
  }

  test("bucketed layout guards hold on both bucketed sinks: bucket-count " +
    "mismatch, foreign directory, re-create after a marker-less crash") {
    import spark.implicits._
    import graft.operators.Sinks
    val batch = Seq(("u1", 1L, "a"), ("u2", 2L, "b"))
      .toDF("user_id", "event_id", "v")
    val sinks: Seq[(String, (String, Int) => Unit)] = Seq(
      "upsert" -> ((t, n) => Sinks.upsertSnapshotBucketed(spark, t, batch,
        Seq("user_id"), "event_id", nBuckets = n)),
      "cdc" -> ((t, n) => Sinks.applyChangesBucketed(spark, t,
        batch.withColumn("op", lit("I")), Seq("user_id"), "event_id", "op",
        nBuckets = n)))
    sinks.foreach { case (name, write) =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_bguard_$name").toString
      val tableDir = s"$base/t"
      write(tableDir, 4)
      // crash shape: the first log entry never landed; the replay
      // re-creates
      assert(new java.io.File(tableDir, "_graft_log/1.json").delete(), name)
      write(tableDir, 4)
      assert(new java.io.File(tableDir, "_graft_log/1.json").exists, name)
      assert(Sinks.readBucketedSnapshot(spark, tableDir).select("user_id", "v")
        .as[(String, String)].collect().toSet === Set(("u1", "a"), ("u2", "b")),
        name)
      val mismatch = intercept[IllegalArgumentException](write(tableDir, 8))
      assert(mismatch.getMessage.contains("bucket-count mismatch"), name)
      val foreign = s"$base/f"
      new java.io.File(foreign).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(foreign, "data.csv"), "x")
      val e = intercept[IllegalArgumentException](write(foreign, 4))
      assert(e.getMessage.contains("holds no commit log"), name)
    }
  }

  test("SNK10 bucketed CDC: a CREATE batch netting to zero rows leaves a " +
    "readable empty table that accepts later batches") {
    import spark.implicits._
    import graft.operators.Sinks
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_bzero").toString + "/t"
    Sinks.applyChangesBucketed(spark, tableDir,
      Seq(("u1", 1.0, "D", 1L)).toDF("user_id", "value", "op", "ord"),
      Seq("user_id"), "ord", "op", nBuckets = 4)
    val empty = Sinks.readBucketedSnapshot(spark, tableDir)
    assert(empty.columns.toSeq === Seq("user_id", "value"))
    assert(empty.count() === 0L)
    Sinks.applyChangesBucketed(spark, tableDir,
      Seq(("u2", 2.0, "I", 2L)).toDF("user_id", "value", "op", "ord"),
      Seq("user_id"), "ord", "op", nBuckets = 4)
    assert(Sinks.readBucketedSnapshot(spark, tableDir)
      .as[(String, Double)].collect().toSeq === Seq(("u2", 2.0)))
  }

  test("SNK10 bucketed CDC: a batch deleting EVERY remaining row leaves " +
    "a readable EMPTY table (schema kept), and the table accepts later " +
    "batches") {
    import spark.implicits._
    import graft.operators.Sinks
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_bwipe").toString + "/t"
    val key = Seq("user_id")
    val seed = Seq(("u1", 1.0, "I", 1L), ("u2", 2.0, "I", 1L))
      .toDF("user_id", "value", "op", "ord")
    Sinks.applyChangesBucketed(spark, tableDir, seed, key, "ord", "op",
      nBuckets = 4)
    val wipe = Seq(("u1", 0.0, "D", 2L), ("u2", 0.0, "D", 2L))
      .toDF("user_id", "value", "op", "ord")
    Sinks.applyChangesBucketed(spark, tableDir, wipe, key, "ord", "op",
      nBuckets = 4)
    // previously: zero parquet files -> "unable to infer schema" forever
    val empty = Sinks.readBucketedSnapshot(spark, tableDir)
    assert(empty.count() === 0L)
    assert(empty.columns.contains("user_id"))
    // and the emptied table keeps working
    val again = Seq(("u3", 3.0, "I", 3L))
      .toDF("user_id", "value", "op", "ord")
    Sinks.applyChangesBucketed(spark, tableDir, again, key, "ord", "op",
      nBuckets = 4)
    assert(Sinks.readBucketedSnapshot(spark, tableDir)
      .select("user_id").as[String].collect().toSet === Set("u3"))
  }

  test("SNK14 evolving upsert resolves column names like Spark does " +
    "(case-insensitive by default): a re-cased batch column is the SAME " +
    "column, not a duplicate") {
    import spark.implicits._
    import graft.operators.Sinks
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_case").toString + "/t"
    Sinks.upsertSnapshotEvolving(spark, tableDir,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), "v")
    // upstream re-cased 'v' to 'V': same logical column under Spark's
    // default case-insensitive resolution — previously appended as a NEW
    // field, poisoning every later col("v") with AMBIGUOUS_REFERENCE
    val v = Sinks.upsertSnapshotEvolving(spark, tableDir,
      Seq((2L, "b")).toDF("k", "V"), Seq("k"), "v")
    assert(v === 2)
    val out = Sinks.readSnapshot(spark, tableDir)
    assert(out.columns.toSeq === Seq("k", "v")) // snapshot casing kept
    assert(out.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }

  /** Runs `write` with each drifted batch — a column missing, an extra
    * column, a changed type — and checks that it throws, names the drift
    * and leaves the table's rows as they were. */
  private def assertDriftFailsLoud(tableDir: String,
      batches: Seq[(String, org.apache.spark.sql.DataFrame)])(
      write: org.apache.spark.sql.DataFrame => Unit): Unit = {
    import graft.operators.Sinks
    def rows = Sinks.readBucketedSnapshot(spark, tableDir)
      .collect().map(_.toSeq.mkString("|")).toSet
    val before = rows
    batches.foreach { case (kind, batch) =>
      val e = intercept[IllegalArgumentException](write(batch))
      assert(e.getMessage.contains(kind), e.getMessage)
      assert(rows === before, s"$kind: the table changed")
    }
  }

  test("bucketed upsert: a batch whose columns drift from the table's " +
    "(missing, extra, changed type) fails loud before touching a bucket") {
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_drift_up")
      .toString + "/t"
    val key = Seq("user_id")
    val seed = (0 until 8).map(i => (s"u$i", i.toDouble, i, 0L))
      .toDF("user_id", "value", "n", "ord")
    Sinks.upsertSnapshotBucketed(spark, tableDir, seed, key, "ord",
      nBuckets = 4)
    assertDriftFailsLoud(tableDir, Seq(
      "missing" -> Seq(("u1", 1, 1L)).toDF("user_id", "n", "ord"),
      "extra" -> Seq(("u1", 1.0, 1, 1L, "x"))
        .toDF("user_id", "value", "n", "ord", "note"),
      "changed type" -> Seq(("u1", 1.0, 1L, 1L))
        .toDF("user_id", "value", "n", "ord"))) { batch =>
      Sinks.upsertSnapshotBucketed(spark, tableDir, batch, key, "ord",
        nBuckets = 4)
    }
    // a re-cased column is the same column under the session resolver
    Sinks.upsertSnapshotBucketed(spark, tableDir,
      Seq(("u1", 9.0, 9, 1L)).toDF("user_id", "VALUE", "n", "ord"), key,
      "ord", nBuckets = 4)
    assert(Sinks.readBucketedSnapshot(spark, tableDir)
      .filter($"user_id" === "u1").select("value").as[Double]
      .collect().toSeq === Seq(9.0))
  }

  test("bucketed CDC: a changelog whose data columns drift from the " +
    "table's (missing, extra, changed type) fails loud before touching a " +
    "bucket") {
    import graft.operators.Sinks
    val tableDir = Files.createTempDirectory("graft_drift_cdc")
      .toString + "/t"
    val key = Seq("user_id")
    val seed = (0 until 8).map(i => (s"u$i", i.toDouble, i, "I", 0L))
      .toDF("user_id", "value", "n", "op", "ord")
    Sinks.applyChangesBucketed(spark, tableDir, seed, key, "ord", "op",
      nBuckets = 4)
    assertDriftFailsLoud(tableDir, Seq(
      "missing" -> Seq(("u1", 1, "U", 1L)).toDF("user_id", "n", "op", "ord"),
      "extra" -> Seq(("u1", 1.0, 1, "x", "U", 1L))
        .toDF("user_id", "value", "n", "note", "op", "ord"),
      "changed type" -> Seq(("u1", 1.0, 1L, "U", 1L))
        .toDF("user_id", "value", "n", "op", "ord"))) { batch =>
      Sinks.applyChangesBucketed(spark, tableDir, batch, key, "ord", "op",
        nBuckets = 4)
    }
  }
}
