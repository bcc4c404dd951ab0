package graft.queries

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Incremental, Ingest, Scd2, Sinks}

/** Oracle-paired registrations for the sink/source semantics that round 2
  * left spec-only (round-2 verdict item 5): each query performs the sink's
  * write path against a scratch directory at plan-construction time, then
  * RETURNS THE READ-BACK — so the DuckDB oracle checks the data-visible
  * contract (what a later reader sees), not just that a write succeeded.
  *
  * Scratch dirs are per-process (Verify and Bench may run concurrently)
  * and deleted up front, so re-running a query in the same JVM is
  * deterministic.
  */
object SinkQueries {

  private def fs(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Fresh scratch path from the shared [[Scratch]] factory (one root,
    * one nonce, one exit-time cleanup hook for all query modules). The
    * first-run branches (SNK3's append, SRC5's missing-table probe) see a
    * genuinely fresh path every time; the defensive delete stays for the
    * (impossible) collision case. */
  private def scratch(s: SparkSession, name: String): String = {
    val path = Scratch.dir(name)
    val p = new Path(path)
    if (fs(s, path).exists(p)) fs(s, path).delete(p, true)
    path
  }

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** Write `df` as a single HEADERLESS csv named exactly `$dir/$fileName`
    * (Spark controls part-file names, so stage + rename). */
  private def writeNamedCsv(s: SparkSession, df: DataFrame,
                            dir: String, fileName: String): Unit = {
    val stage = s"$dir/__stage_$fileName"
    df.coalesce(1).write.mode("overwrite").option("header", "false").csv(stage)
    val f = fs(s, stage)
    val part = f.listStatus(new Path(stage)).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(sys.error(s"no part file under $stage"))
    f.rename(part, new Path(s"$dir/$fileName"))
    f.delete(new Path(stage), true)
  }

  val defs: Map[String, QueryDef] = Map(

    // SNK9 (engine extension) — small-file compaction: events land as 64
    // deliberately tiny files (v=1), Sinks.compactSnapshot rewrites them
    // into size-targeted files (v=2). Data-visible contract: the read-back
    // AFTER compaction must be byte-for-byte the same relation (the oracle
    // is plain events), and the file-level outcome rides along as data —
    // files_before=64, fewer files after, version advanced to 2 (booleans
    // the oracle asserts TRUE; a compaction that dropped/duplicated rows
    // hash-mismatches the relation itself).
    "snk9_compaction" -> QueryDef(
      (s, dir) => {
        val tableDir = scratch(s, "snk9")
        Sinks.replaceSnapshot(s, tableDir, ev(s, dir).repartition(64))
        val (before, after, version) =
          Sinks.compactSnapshot(s, tableDir, targetBytes = 512L * 1024 * 1024)
        Sinks.readSnapshot(s, tableDir)
          .withColumn("files_before", lit(before).cast("long"))
          .withColumn("compacted_fewer", lit(after < before))
          .withColumn("version_advanced", lit(version == 2))
      },
      """SELECT event_id, user_id, event_type, value,
        |  CAST(64 AS BIGINT) AS files_before,
        |  TRUE AS compacted_fewer, TRUE AS version_advanced
        |FROM events""".stripMargin),

    // SNK10 — CDC changelog apply, run END-TO-END through the BUCKETED
    // scale path (Sinks.applyChangesBucketed — round 7 merged
    // frame-level only): the existing rows land as an I-batch creating
    // the bucketed table, the change feed merges as a second batch that
    // rewrites only its touched buckets (delete included), and the
    // read-back is compared. The feed exercises every collapse rule:
    // id%10=0 keys get a D at ord 1 THEN an I at ord 2 (nets to the
    // insert — delete-then-reinsert must not lose the key), other
    // id%5=0 keys get a single U, and id%3=0 keys absent from the feed
    // must survive untouched. The oracle replays the identical collapse
    // with QUALIFY + anti-join + union over the FRAME semantics — the
    // bucketed layout must be invisible in the relation.
    "snk10_cdc_apply" -> QueryDef(
      (s, dir) => {
        val e = ev(s, dir)
        val tableDir = scratch(s, "snk10")
        val existing = e.filter(col("event_id") % 3 === 0)
          .withColumn("op", lit("I")).withColumn("ord", lit(0L))
        val changes = e.filter(col("event_id") % 5 === 0)
          .withColumn("value", col("value") + 1)
          .withColumn("op",
            when(col("event_id") % 10 === 0, "D").otherwise("U"))
          .withColumn("ord", lit(1L))
          .unionByName(e.filter(col("event_id") % 10 === 0)
            .withColumn("value", col("value") * 2)
            .withColumn("op", lit("I"))
            .withColumn("ord", lit(2L)))
        Sinks.applyChangesBucketed(s, tableDir, existing,
          Seq("event_id"), "ord", "op", nBuckets = 16)
        Sinks.applyChangesBucketed(s, tableDir, changes,
          Seq("event_id"), "ord", "op", nBuckets = 16)
        Sinks.readBucketedSnapshot(s, tableDir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
      },
      """WITH existing AS (
        |  SELECT event_id, user_id, event_type, value FROM events
        |  WHERE event_id % 3 = 0),
        |changes AS (
        |  SELECT event_id, user_id, event_type, value + 1 AS value,
        |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    CAST(1 AS BIGINT) AS ord
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value * 2, 'I',
        |    CAST(2 AS BIGINT)
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT * FROM changes
        |  QUALIFY row_number()
        |    OVER (PARTITION BY event_id ORDER BY ord DESC, op DESC) = 1)
        |SELECT e.event_id, e.user_id, e.event_type, e.value FROM existing e
        |WHERE e.event_id NOT IN (SELECT event_id FROM latest)
        |UNION ALL
        |SELECT event_id, user_id, event_type, value
        |FROM latest WHERE op <> 'D'""".stripMargin),

    // SNK11 — retention vacuum (Sinks.vacuumSnapshot): three upsert
    // batches build v=1..3, vacuum(keepLast=1) must delete v=1/v=2 and
    // keep v=3 readable. The read-back (the cumulative upsert result) is
    // the data contract — a vacuum that deleted the live version would
    // lose rows; the file-level outcome rides along as asserted booleans.
    "snk11_vacuum" -> QueryDef(
      (s, dir) => {
        val tableDir = scratch(s, "snk11")
        val e = ev(s, dir)
        Sinks.upsertSnapshot(s, tableDir,
          e.filter(col("event_id") % 3 === 0), Seq("event_id"), "value")
        Sinks.upsertSnapshot(s, tableDir,
          e.filter(col("event_id") % 5 === 0)
            .withColumn("value", col("value") + 10),
          Seq("event_id"), "value")
        Sinks.upsertSnapshot(s, tableDir,
          e.filter(col("event_id") % 7 === 0)
            .withColumn("value", col("value") + 100),
          Seq("event_id"), "value")
        val (removed, kept) = Sinks.vacuumSnapshot(s, tableDir, keepLast = 1)
        Sinks.readSnapshot(s, tableDir)
          .withColumn("removed_versions", lit(removed.mkString(",")))
          .withColumn("kept_versions", lit(kept.mkString(",")))
          .withColumn("old_versions_gone",
            lit(!Sinks.tableExists(s, s"$tableDir/v=1") &&
              !Sinks.tableExists(s, s"$tableDir/v=2")))
      },
      """WITH b1 AS (
        |  SELECT event_id, user_id, event_type, value FROM events
        |  WHERE event_id % 3 = 0),
        |b2 AS (
        |  SELECT event_id, user_id, event_type, value + 10 AS value
        |  FROM events WHERE event_id % 5 = 0),
        |b3 AS (
        |  SELECT event_id, user_id, event_type, value + 100 AS value
        |  FROM events WHERE event_id % 7 = 0),
        |m1 AS (
        |  SELECT * FROM b1 WHERE event_id NOT IN (SELECT event_id FROM b2)
        |  UNION ALL SELECT * FROM b2),
        |m2 AS (
        |  SELECT * FROM m1 WHERE event_id NOT IN (SELECT event_id FROM b3)
        |  UNION ALL SELECT * FROM b3)
        |SELECT event_id, user_id, event_type, value,
        |  '1,2' AS removed_versions, '3' AS kept_versions,
        |  TRUE AS old_versions_gone
        |FROM m2""".stripMargin),

    // SNK12 (round 9) — the full snapshot LIFECYCLE as one data-visible
    // contract: versioned CDC apply (Sinks.applyChangesSnapshot) →
    // compaction → a second change batch ON TOP of the compacted version
    // → retention vacuum. v=1 existing I-batch, v=2 first changelog
    // (every collapse rule: D-then-I nets to insert, single U, untouched
    // survivors), v=3 compaction rewrite (content-identical by contract —
    // any drop/dup poisons everything downstream and hash-mismatches),
    // v=4 second changelog (D %9, U %7 at a later ord; a %63 key gets
    // both and the later U must win), vacuum keepLast=2 reaps v=1/v=2
    // and MUST leave v=3/v=4 readable. The oracle replays both collapses
    // with QUALIFY + anti-join + union and pins the version bookkeeping
    // as asserted columns. SnapshotSoakSpec covers the per-step state;
    // this row makes the lifecycle part of the cross-engine gate.
    "snk12_cdc_lifecycle" -> QueryDef(
      (s, dir) => {
        val e = ev(s, dir)
        val tableDir = scratch(s, "snk12")
        val existing = e.filter(col("event_id") % 3 === 0)
          .withColumn("op", lit("I")).withColumn("ord", lit(0L))
        val c1 = e.filter(col("event_id") % 5 === 0)
          .withColumn("value", col("value") + 1)
          .withColumn("op",
            when(col("event_id") % 10 === 0, "D").otherwise("U"))
          .withColumn("ord", lit(1L))
          .unionByName(e.filter(col("event_id") % 10 === 0)
            .withColumn("value", col("value") * 2)
            .withColumn("op", lit("I"))
            .withColumn("ord", lit(2L)))
        val c2 = e.filter(col("event_id") % 9 === 0)
          .withColumn("op", lit("D")).withColumn("ord", lit(3L))
          .unionByName(e.filter(col("event_id") % 7 === 0)
            .withColumn("value", col("value") + 1000)
            .withColumn("op", lit("U"))
            .withColumn("ord", lit(4L)))
        val v1 = Sinks.applyChangesSnapshot(s, tableDir, existing,
          Seq("event_id"), "ord")
        val v2 = Sinks.applyChangesSnapshot(s, tableDir, c1,
          Seq("event_id"), "ord")
        val (fb, fa, v3) = Sinks.compactSnapshot(s, tableDir,
          targetBytes = 512L * 1024 * 1024)
        val v4 = Sinks.applyChangesSnapshot(s, tableDir, c2,
          Seq("event_id"), "ord")
        val (removed, kept) = Sinks.vacuumSnapshot(s, tableDir, keepLast = 2)
        Sinks.readSnapshot(s, tableDir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .withColumn("versions_ok",
            lit(Seq(v1, v2, v3, v4) == Seq(1, 2, 3, 4) && fa <= fb))
          .withColumn("removed_versions", lit(removed.mkString(",")))
          .withColumn("kept_versions", lit(kept.mkString(",")))
          .withColumn("old_versions_gone",
            lit(!Sinks.tableExists(s, s"$tableDir/v=1") &&
              !Sinks.tableExists(s, s"$tableDir/v=2") &&
              Sinks.tableExists(s, s"$tableDir/v=3")))
      },
      """WITH existing AS (
        |  SELECT event_id, user_id, event_type, value FROM events
        |  WHERE event_id % 3 = 0),
        |c1 AS (
        |  SELECT event_id, user_id, event_type, value + 1 AS value,
        |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    CAST(1 AS BIGINT) AS ord
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value * 2, 'I',
        |    CAST(2 AS BIGINT)
        |  FROM events WHERE event_id % 10 = 0),
        |l1 AS (
        |  SELECT * FROM c1
        |  QUALIFY row_number()
        |    OVER (PARTITION BY event_id ORDER BY ord DESC, op DESC) = 1),
        |m1 AS (
        |  SELECT e.event_id, e.user_id, e.event_type, e.value FROM existing e
        |  WHERE e.event_id NOT IN (SELECT event_id FROM l1)
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value
        |  FROM l1 WHERE op <> 'D'),
        |c2 AS (
        |  SELECT event_id, user_id, event_type, value, 'D' AS op,
        |    CAST(3 AS BIGINT) AS ord
        |  FROM events WHERE event_id % 9 = 0
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value + 1000, 'U',
        |    CAST(4 AS BIGINT)
        |  FROM events WHERE event_id % 7 = 0),
        |l2 AS (
        |  SELECT * FROM c2
        |  QUALIFY row_number()
        |    OVER (PARTITION BY event_id ORDER BY ord DESC, op DESC) = 1),
        |m2 AS (
        |  SELECT m.event_id, m.user_id, m.event_type, m.value FROM m1 m
        |  WHERE m.event_id NOT IN (SELECT event_id FROM l2)
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value
        |  FROM l2 WHERE op <> 'D')
        |SELECT event_id, user_id, event_type, value,
        |  TRUE AS versions_ok, '1,2' AS removed_versions,
        |  '3,4' AS kept_versions, TRUE AS old_versions_gone
        |FROM m2""".stripMargin),

    // SNK13 (round 9) — snapshot DIFF as a CDC source
    // (Sinks.snapshotDiff, the inverse of applyChanges): derive the
    // minimal I/U/D feed between two snapshot states — before =
    // event_id%2, after = event_id%3 with %12 values bumped — so all
    // three verbs occur (odd multiples of 3 → I, evens not divisible by
    // 3 → D, %12 → U, %6-but-not-%12 → NOTHING, the minimality claim).
    // The oracle re-derives the feed with a FULL OUTER JOIN + IS NOT
    // DISTINCT FROM change predicate; the round-trip law
    // applyChanges(before, diff) ≡ after is computed in-plan and rides
    // as an asserted boolean (and is independently spec-pinned with
    // nulls and multi-column keys in IngestSpec).
    "snk13_snapshot_diff" -> QueryDef(
      (s, dir) => {
        val e = ev(s, dir)
        val before = e.filter(col("event_id") % 2 === 0)
        val after = e.filter(col("event_id") % 3 === 0)
          .withColumn("value",
            when(col("event_id") % 12 === 0, col("value") + 1)
              .otherwise(col("value")))
        val diff = Sinks.snapshotDiff(before, after, Seq("event_id"))
        val applied = Sinks.applyChanges(before,
          diff.withColumn("ord", lit(1L)), Seq("event_id"), "ord")
        val rt = applied.exceptAll(after).count() == 0 &&
          after.exceptAll(applied).count() == 0
        diff.withColumn("roundtrip_ok", lit(rt))
      },
      """WITH b AS (
        |  SELECT event_id, user_id, event_type, value FROM events
        |  WHERE event_id % 2 = 0),
        |a AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 12 = 0 THEN value + 1 ELSE value END AS value
        |  FROM events WHERE event_id % 3 = 0)
        |SELECT
        |  coalesce(a.event_id, b.event_id) AS event_id,
        |  CASE WHEN a.event_id IS NULL THEN b.user_id ELSE a.user_id END
        |    AS user_id,
        |  CASE WHEN a.event_id IS NULL THEN b.event_type ELSE a.event_type END
        |    AS event_type,
        |  CASE WHEN a.event_id IS NULL THEN b.value ELSE a.value END AS value,
        |  CASE WHEN b.event_id IS NULL THEN 'I'
        |       WHEN a.event_id IS NULL THEN 'D'
        |       ELSE 'U' END AS op,
        |  TRUE AS roundtrip_ok
        |FROM b FULL OUTER JOIN a ON b.event_id = a.event_id
        |WHERE b.event_id IS NULL OR a.event_id IS NULL
        |  OR NOT (b.user_id IS NOT DISTINCT FROM a.user_id
        |      AND b.event_type IS NOT DISTINCT FROM a.event_type
        |      AND b.value IS NOT DISTINCT FROM a.value)""".stripMargin),

    // SNK2 — truncate-and-load (db_connector.py:120-150): the second load
    // REPLACES the first, so the read-back must contain only the second
    // batch. A stale-write-survives bug (append instead of overwrite)
    // would surface as extra rows.
    "snk2_truncate_load" -> QueryDef(
      (s, dir) => {
        val path = scratch(s, "snk2")
        Sinks.truncateAndLoad(ev(s, dir).filter(col("event_id") % 7 === 0), path)
        Sinks.truncateAndLoad(ev(s, dir).filter(col("event_id") % 3 === 0), path)
        s.read.parquet(path)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      },
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 3 = 0""".stripMargin),

    // SNK3 — append-or-replace first-run switch (db_connector.py:189-198,
    // test.py:226-230): first write against a missing table appends; a
    // second write replaces. The chosen SaveMode is carried as a data
    // column, so the oracle pins BOTH the mode decision and the final
    // contents (the replaced middle batch, id%5=1, must be absent).
    "snk3_append_replace" -> QueryDef(
      (s, dir) => {
        val p1 = scratch(s, "snk3_first")
        val p2 = scratch(s, "snk3_second")
        val e = ev(s, dir)
        val m1 = Sinks.appendOrReplace(s, e.filter(col("event_id") % 5 === 0), p1)
        Sinks.appendOrReplace(s, e.filter(col("event_id") % 5 === 1), p2)
        val m2 = Sinks.appendOrReplace(s, e.filter(col("event_id") % 5 === 2), p2)
        s.read.parquet(p1).withColumn("mode", lit(m1.toString))
          .unionByName(s.read.parquet(p2).withColumn("mode", lit(m2.toString)))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("mode"))
      },
      """SELECT event_id, user_id, event_type, value, 'Append' AS mode
        |FROM events WHERE event_id % 5 = 0
        |UNION ALL
        |SELECT event_id, user_id, event_type, value, 'Overwrite' AS mode
        |FROM events WHERE event_id % 5 = 2""".stripMargin),

    // SNK5 — object-store snapshot replace (Upload DAG:24-58): a
    // partitioned overwrite rewrites the WHOLE prefix (STATIC overwrite
    // mode), so partitions present only in the first snapshot must be
    // gone after the second.
    "snk5_snapshot_replace" -> QueryDef(
      (s, dir) => {
        val path = scratch(s, "snk5")
        Sinks.snapshotReplace(ev(s, dir), path, "event_type")
        Sinks.snapshotReplace(ev(s, dir).filter(col("event_id") % 2 === 0),
          path, "event_type")
        s.read.parquet(path)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      },
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 2 = 0""".stripMargin),

    // SRC1 — blob listing + pick-first (main.py:116-124): three CSV blobs
    // land; only the lexicographically FIRST (a.csv) is processed. The
    // read goes through Ingest.readFirstCsv's list-then-read-one plan:
    // one driver-side glob listing (the reference's list_blobs shape),
    // then a scan of ONLY the chosen file — b.csv/c.csv are never read.
    "src1_pick_first" -> QueryDef(
      (s, dir) => {
        val landing = scratch(s, "src1")
        val raw = Tables.events(s, dir).select(
          date_format(col("ts"), "yyyy-MM-dd").as("Date"),
          date_format(col("ts"), "HH:mm").as("Time"),
          concat(lit("C"), col("user_id") % 3).as("Currency"),
          col("event_type").as("Event"),
          lit("High").as("Impact"),
          col("event_id").cast("string").as("Actual"),
          lit("1.0").as("Forecast"),
          lit("2.0").as("Previous"),
          lit("no").as("IsHoliday"),
          lit("w1").as("WeekRange"),
          col("event_id"))
        writeNamedCsv(s, raw.filter(col("event_id") % 3 === 0).drop("event_id"),
          landing, "a.csv")
        writeNamedCsv(s, raw.filter(col("event_id") % 3 === 1).drop("event_id"),
          landing, "b.csv")
        writeNamedCsv(s, raw.filter(col("event_id") % 3 === 2).drop("event_id"),
          landing, "c.csv")
        Ingest.readFirstCsv(s, landing)
      },
      """SELECT strftime(ts, '%Y-%m-%d') AS "Date",
        |  strftime(ts, '%H:%M') AS "Time",
        |  'C' || CAST(user_id % 3 AS VARCHAR) AS "Currency",
        |  event_type AS "Event",
        |  'High' AS "Impact",
        |  CAST(event_id AS VARCHAR) AS "Actual",
        |  '1.0' AS "Forecast",
        |  '2.0' AS "Previous",
        |  'no' AS "IsHoliday",
        |  'w1' AS "WeekRange"
        |FROM events WHERE event_id % 3 = 0""".stripMargin),

    // SNK6 — artifact sink with versioning (train.py:400-411, 555-567:
    // per-run joblib/MLflow artifact logs → here, versioned parquet side
    // tables via Sinks.upsertSnapshot). Two "runs" publish norm-param
    // artifacts: run 1 over half the data (all keys), run 2 re-fitting
    // only the 'click' groups. The read-back of the LATEST version must
    // show run-2 params for click keys, run-1 params retained for every
    // other key, and the version count as data — replace-instead-of-merge
    // or a clobbered history would each flip visible rows.
    "snk6_artifact_versions" -> QueryDef(
      (s, dir) => {
        val tableDir = scratch(s, "snk6")
        val key = Seq("user_id", "event_type")
        def params(rows: DataFrame): DataFrame =
          graft.operators.Features.normParams(rows, key, col("value"))
        val e = ev(s, dir)
        Sinks.upsertSnapshot(s, tableDir,
          params(e.filter(col("event_id") % 2 === 0)), key, orderCol = "mn")
        val v = Sinks.upsertSnapshot(s, tableDir,
          params(e.filter(col("event_type") === "click")), key, orderCol = "mn")
        Sinks.readSnapshot(s, tableDir)
          .withColumn("n_versions", lit(v.toLong))
      },
      """WITH b1 AS (
        |  SELECT user_id, event_type,
        |    coalesce(min(value), 0.0) AS mn,
        |    CASE WHEN max(value) IS NULL OR max(value) = min(value) THEN 1.0
        |         ELSE max(value) - min(value) END AS rng
        |  FROM events WHERE event_id % 2 = 0 GROUP BY user_id, event_type),
        |b2 AS (
        |  SELECT user_id, event_type,
        |    coalesce(min(value), 0.0) AS mn,
        |    CASE WHEN max(value) IS NULL OR max(value) = min(value) THEN 1.0
        |         ELSE max(value) - min(value) END AS rng
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, event_type)
        |SELECT user_id, event_type, mn, rng, CAST(2 AS BIGINT) AS n_versions
        |FROM (
        |  SELECT * FROM b2
        |  UNION ALL
        |  SELECT b1.* FROM b1
        |  WHERE NOT EXISTS (SELECT 1 FROM b2
        |    WHERE b2.user_id = b1.user_id
        |      AND b2.event_type = b1.event_type))""".stripMargin),

    // OPT — bucketed co-located join (the scale technique the engine
    // leans on for repeated fact-table joins): fact and dimension are
    // both persisted bucketed on user_id, so the join reads pre-hashed
    // files and plans NO exchange of either side (BucketingSpec pins the
    // plan shape; this row pins that bucketed read-back + join produce
    // exactly the plain-join answer). The dim is a per-user COUNT —
    // integer-exact, so the row is hash-comparable cross-engine.
    "opt_bucketed_join" -> QueryDef(
      (s, dir) => {
        val e = ev(s, dir)
        Sinks.writeBucketed(e, "graft_bucketed_fact",
          scratch(s, "bucket_fact"), Seq("user_id"), buckets = 8)
        Sinks.writeBucketed(
          e.groupBy(col("user_id")).agg(count(lit(1)).as("user_n")),
          "graft_bucketed_dim", scratch(s, "bucket_dim"),
          Seq("user_id"), buckets = 8)
        s.table("graft_bucketed_fact")
          .join(s.table("graft_bucketed_dim"), "user_id")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("user_n"))
      },
      """SELECT e.event_id, e.user_id, e.event_type, e.value, ua.user_n
        |FROM events e
        |JOIN (SELECT user_id, count(*) AS user_n
        |      FROM events GROUP BY user_id) ua USING (user_id)""".stripMargin),

    // OPT — Hive-style date partitioning + partition pruning: the 100-TB
    // layout decision. The write lays events out as event_date=YYYY-MM-DD
    // directories; the read-back filters three days, and Catalyst prunes
    // at PLANNING time — the scan lists only 3 of 30 partition dirs (a
    // PartitionPruningSpec pin asserts numFiles). The oracle re-derives
    // the same three days from the unpartitioned table, so the round trip
    // (date typing through directory names included) is data-checked.
    "opt_partition_pruning" -> QueryDef(
      (s, dir) => {
        val path = scratch(s, "part_events")
        Tables.events(s, dir)
          .withColumn("event_date", to_date(col("ts")))
          .select(col("event_id"), col("event_type"), col("value"),
            col("event_date"))
          // cluster rows into their partition before the write: without
          // this every input split emits a file into every date dir
          // (splits × dates small files — the classic layout mistake)
          .repartition(col("event_date"))
          .write.mode("overwrite").partitionBy("event_date").parquet(path)
        s.read.parquet(path)
          .filter(col("event_date")
            .between(lit("2024-01-05"), lit("2024-01-07")))
          .groupBy(col("event_date"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(expr("CAST(round(value * 1e6) AS BIGINT)")), lit(0L))
              .as("value_micro"))
      },
      """SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n,
        |  CAST(coalesce(sum(CAST(round(value * 1e6) AS BIGINT)), 0) AS BIGINT)
        |    AS value_micro
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
        |GROUP BY 1, 2""".stripMargin),

    // SNK7 (engine extension) — incremental aggregate maintenance: the
    // historical 2/3 of events is aggregated into per-type state, PERSISTED
    // (the artifact hop), then the remaining 1/3 "new batch" is merged
    // state-to-state — history is never rescanned ([[Incremental]]). The
    // oracle aggregates the full table directly, so the row proves
    // merge(state(old), state(batch)) ≡ state(old ∪ batch) through the
    // parquet round trip.
    "snk7_incremental_agg" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir)
        val statePath = scratch(s, "inc_state")
        Incremental.aggState(
          e.filter(col("event_id") % 3 =!= 0), Seq("event_type"))
          .write.mode("overwrite").parquet(statePath)
        val batchState = Incremental.aggState(
          e.filter(col("event_id") % 3 === 0), Seq("event_type"))
        Incremental.merge(s.read.parquet(statePath), batchState,
          Seq("event_type"))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
        |  CAST(min(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS min_micro,
        |  CAST(max(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS max_micro
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type""".stripMargin),

    // SNK8 (engine extension) — SCD type-2 dimension merge: a per-user
    // activity tier snapshotted mid-month seeds the history; the
    // month-end snapshot then closes changed rows at the effective date
    // and opens new versions ([[Scd2.merge]]) — one open-slice ⋈ snapshot
    // full-outer join, fact table untouched. The oracle derives the same
    // history declaratively from the two snapshots (unchanged / expired /
    // opened slices), so interval endpoints and the null-open convention
    // are all data-checked.
    "snk8_scd2_dimension" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir)
        def tiers(df: DataFrame): DataFrame =
          df.groupBy(col("user_id"))
            .agg(expr("count(1) div 10").as("tier"))
        val s1 = tiers(e.filter(to_date(col("ts")) <= lit("2024-01-15")))
        val s2 = tiers(e)
        Scd2.merge(
          Scd2.initial(s1, java.sql.Date.valueOf("2024-01-16")),
          s2, Seq("user_id"), Seq("tier"),
          java.sql.Date.valueOf("2024-01-31"))
      },
      """WITH s1 AS (
        |  SELECT user_id, count(*) // 10 AS tier FROM events
        |  WHERE CAST(ts AS DATE) <= DATE '2024-01-15' GROUP BY user_id),
        |s2 AS (
        |  SELECT user_id, count(*) // 10 AS tier FROM events GROUP BY user_id)
        |SELECT s1.user_id, s1.tier,
        |  DATE '2024-01-16' AS valid_from, CAST(NULL AS DATE) AS valid_to
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s2.user_id IS NULL OR s1.tier = s2.tier
        |UNION ALL
        |SELECT s1.user_id, s1.tier, DATE '2024-01-16', DATE '2024-01-31'
        |FROM s1 JOIN s2 ON s1.user_id = s2.user_id WHERE s1.tier <> s2.tier
        |UNION ALL
        |SELECT s2.user_id, s2.tier, DATE '2024-01-31', CAST(NULL AS DATE)
        |FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
        |WHERE s1.user_id IS NULL OR s1.tier <> s2.tier""".stripMargin),

    // SRC3/SNK2 over a REAL JDBC engine (embedded Derby — see
    // operators/Jdbc.scala): first load writes with the generic 1000-row
    // batchsize (db_connector.py:120), then a truncate-and-load REPLACES
    // it with the %3 subset at the metrics batchsize 500 (`:126-128,178`)
    // — so stale rows surviving the truncate would surface as extras. The
    // read-back is a 4-way partitioned JDBC range scan (the cluster-lift
    // shape), and `jdbc_n` is a COUNT(*) the DATABASE computes via the
    // pushed-down `query` option (db_connector.py:110-117's query→frame).
    "src3_jdbc_roundtrip" -> QueryDef(
      (s, dir) => {
        val db = scratch(s, "jdbc_db")
        val url = graft.operators.Jdbc.derbyUrl(db)
        val e = ev(s, dir).coalesce(4) // bounded embedded-connection count
        graft.operators.Jdbc.writeTable(
          e.filter(col("event_id") % 5 === 0), url, "events_jdbc",
          batchSize = 1000)
        graft.operators.Jdbc.writeTable(
          e.filter(col("event_id") % 3 === 0), url, "events_jdbc",
          batchSize = 500)
        val serverCount = graft.operators.Jdbc.readQuery(s, url,
          """SELECT COUNT(*) AS "jdbc_n" FROM events_jdbc""")
          .select(col("jdbc_n").cast("long").as("jdbc_n"))
        graft.operators.Jdbc.readTablePartitioned(s, url, "events_jdbc",
          partitionCol = "event_id", lower = 1L, upper = 100000L,
          numPartitions = 4)
          .crossJoin(broadcast(serverCount))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("jdbc_n"))
      },
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events
        |   WHERE event_id % 3 = 0) AS jdbc_n
        |FROM events e WHERE e.event_id % 3 = 0""".stripMargin),

    // SNK1 at scale — PARTITION-SCOPED keyed upsert
    // (Sinks.upsertSnapshotBucketed): the snapshot is hash-bucketed on
    // the upsert key and a batch rewrites only its touched buckets via
    // dynamic partition overwrite (IngestSpec pins the file-level
    // behavior: a 1-row batch rewrites 1 bucket). This row pins the
    // data-visible contract — the read-back after seed + merge equals
    // the e1 upsert semantics (batch wins on key collision, in-batch
    // last-write-wins by orderCol).
    "snk1_bucketed_upsert" -> QueryDef(
      (s, dir) => {
        val tableDir = scratch(s, "snk1b")
        val e = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        val key = Seq("user_id", "event_type", "ts")
        Sinks.upsertSnapshotBucketed(s, tableDir,
          e.filter(col("event_id") % 4 =!= 0), key, orderCol = "event_id",
          nBuckets = 16)
        Sinks.upsertSnapshotBucketed(s, tableDir,
          e.filter(col("event_id") % 2 === 0), key, orderCol = "event_id",
          nBuckets = 16)
        Sinks.readBucketedSnapshot(s, tableDir)
      },
      """WITH ev AS (
        |  SELECT event_id, ts, user_id, event_type, value FROM events),
        |fresh AS (
        |  SELECT * FROM ev WHERE event_id % 2 = 0
        |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type, ts
        |    ORDER BY event_id DESC) = 1),
        |existing AS (SELECT * FROM ev WHERE event_id % 4 <> 0)
        |SELECT * FROM fresh
        |UNION ALL
        |SELECT e.* FROM existing e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM fresh f
        |  WHERE f.user_id = e.user_id AND f.event_type = e.event_type
        |    AND f.ts = e.ts)""".stripMargin),

    // SRC5 — existence/metadata probe (main.py:96-114): missing table →
    // false, created table → true, as one data-visible row.
    "src5_exists_probe" -> QueryDef(
      (s, dir) => {
        val path = scratch(s, "src5_tbl")
        val before = Sinks.tableExists(s, path)
        Sinks.truncateAndLoad(ev(s, dir).filter(col("event_id") % 100 === 0), path)
        val after = Sinks.tableExists(s, path)
        s.range(1).select(lit(before).as("exists_before"),
          lit(after).as("exists_after"))
      },
      "SELECT false AS exists_before, true AS exists_after"),

    // SNK14 (ext, round 9) — keyed upsert with ADDITIVE schema
    // evolution (Delta mergeSchema): batch 2 carries a column batch 1
    // never had; the merged snapshot serves the union schema with NULL
    // for rows the evolved column never reached. End-to-end through the
    // real versioned layout (write v=1 → evolve-upsert v=2 → read
    // back); type-conflict fail-loud and old-version schema isolation
    // are IngestSpec pins.
    "snk14_schema_evolution" -> QueryDef(
      (s, dir) => {
        val tableDir = scratch(s, "snk14")
        val e = Tables.events(s, dir)
        val b1 = e.filter(col("event_id") % 2 === 0)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        val b2 = e.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"),
            max(to_date(col("ts"))).as("last_day"))
        Sinks.upsertSnapshotEvolving(s, tableDir, b1, Seq("user_id"),
          orderCol = "n_events")
        val v = Sinks.upsertSnapshotEvolving(s, tableDir, b2, Seq("user_id"),
          orderCol = "n_events")
        Sinks.readSnapshot(s, tableDir)
          .withColumn("n_versions", lit(v.toLong))
      },
      """WITH b1 AS (
        |  SELECT user_id, count(*) AS n_events FROM events
        |  WHERE event_id % 2 = 0 GROUP BY 1),
        |b2 AS (
        |  SELECT user_id, count(*) AS n_events, max(CAST(ts AS DATE)) AS last_day
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT user_id, n_events, last_day, CAST(2 AS BIGINT) AS n_versions
        |FROM b2
        |UNION ALL
        |SELECT b1.user_id, b1.n_events, CAST(NULL AS DATE), CAST(2 AS BIGINT)
        |FROM b1 WHERE NOT EXISTS (
        |  SELECT 1 FROM b2 WHERE b2.user_id = b1.user_id)""".stripMargin),

    // OPT-Z (ext, round 9) — Morton z-value layout arithmetic: the
    // bit-interleave that drives two-column file skipping
    // (Layout.writeZOrdered; per-file bounding-box locality is pinned in
    // ZorderSpec against a single-column-sort control). Pure integer
    // bit math — the oracle re-derives every z bitwise; zbucket is the
    // top-4-bit range cell a 16-way layout would put the row in.
    "opt_zorder_layout" -> QueryDef(
      (s, dir) => {
        import graft.operators.Layout
        val e = ev(s, dir)
        val x = col("user_id")
        val y = floor(col("value"))
        e.select(col("event_id"), col("user_id"), col("value"),
          Layout.zValue(x, y, bits = 16).as("z"))
          .withColumn("zbucket", shiftright(col("z"), 28))
      }, {
        val terms = (0 until 16).flatMap { i =>
          Seq(s"(((zx >> $i) & 1) * ${1L << (2 * i)})",
            s"(((zy >> $i) & 1) * ${1L << (2 * i + 1)})")
        }
        s"""WITH c AS (
           |  SELECT event_id, user_id, value,
           |    least(greatest(CAST(user_id AS BIGINT), 0), 65535) AS zx,
           |    least(greatest(CAST(floor(value) AS BIGINT), 0), 65535) AS zy
           |  FROM events),
           |z AS (
           |  SELECT event_id, user_id, value,
           |    ${terms.mkString("\n|      + ")} AS z
           |  FROM c)
           |SELECT event_id, user_id, value, z, z >> 28 AS zbucket
           |FROM z""".stripMargin
      })
  )
}
