package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink semantics of the reference's write paths (SURVEY.md §2a), mapped
  * to parquet snapshot directories (the engine's stand-in for MySQL
  * tables / GCS prefixes).
  *
  * | ref  | semantics                                   | here |
  * |------|---------------------------------------------|------|
  * | SNK1 | keyed upsert (ON DUPLICATE KEY UPDATE)      | [[upsertSnapshot]] (versioned merge-on-write) |
  * | SNK2 | truncate-and-load                           | [[truncateAndLoad]] (mode=overwrite) |
  * | SNK3 | append if empty else replace (first-run)    | [[appendOrReplace]] (emptiness-gated SaveMode) |
  * | SNK4 | row-count probe                             | [[rowCount]] |
  * | SNK5 | object-store snapshot replace               | [[snapshotReplace]] (partitioned overwrite) |
  *
  * Scale notes: SNK1 is merge-on-write over immutable snapshots — new
  * version = anti-join(old, batch) ∪ batch, written to `v=N+1` then the
  * pointer advances (what Delta/Iceberg MERGE does with a log instead of
  * a directory scan). The anti-join shuffles on the key; bucket the
  * snapshot by the key at scale so only the batch moves. SNK2/SNK5 are
  * plain overwrites — no read-modify-write, embarrassingly parallel.
  */
object Sinks {

  private def fs(spark: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** SNK4 — row count of a parquet table path; 0 when absent
    * (db_connector.py:153-162). */
  def rowCount(spark: SparkSession, path: String): Long =
    if (!fs(spark).exists(new Path(path))) 0L
    else spark.read.parquet(path).count()

  /** SRC5 — existence probe (main.py:96-114). */
  def tableExists(spark: SparkSession, path: String): Boolean =
    fs(spark).exists(new Path(path))

  /** SNK2 — truncate-and-load: replace the table contents atomically-ish
    * (db_connector.py:120-150). */
  def truncateAndLoad(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** SNK3 — the reference's first-run switch (db_connector.py:189-198,
    * test.py:226-230): append when the table is empty/missing, replace
    * otherwise. The gate is an emptiness probe (a missing path, or a
    * one-row `isEmpty` read), not a full [[rowCount]]. */
  def appendOrReplace(spark: SparkSession, df: DataFrame, path: String): SaveMode = {
    val empty = !tableExists(spark, path) || spark.read.parquet(path).isEmpty
    val mode = if (empty) SaveMode.Append else SaveMode.Overwrite
    df.write.mode(mode).parquet(path)
    mode
  }

  /** Publish independent table writes at once: one thread per write on a
    * pool owned by this call, shut down before it returns. Waits for
    * EVERY write to settle, then rethrows the first failure in `writes`
    * order (later ones ride along as suppressed), so a caller never sees
    * an exception while a sibling write is still in flight. The writes
    * must target different tables; each keeps its own commit protocol. */
  def writeConcurrently(writes: Seq[() => Any]): Unit =
    if (writes.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        writes.size, r => {
          val t = new Thread(r, "graft-sink-write"); t.setDaemon(true); t })
      try {
        val pending = writes.map(w => pool.submit(new java.util.concurrent
          .Callable[Any] { def call(): Any = w() }))
        val failures = pending.flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause) }
        }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed); throw first }
      } finally pool.shutdown()
    }

  /** SNK5 — bucket snapshot replace (Upload DAG:24-58): delete-and-rewrite
    * the landing prefix, preserving the relative layout via partitioning. */
  def snapshotReplace(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** SNK1 — keyed upsert over a versioned snapshot directory: read the
    * current version (empty frame if none), merge via [[Ingest.upsert]],
    * write `v=N+1`, return the new version. Readers always see a complete
    * version; the directory listing stands in for a transaction log.
    *
    * A version is COMMITTED only once its `_SUCCESS` marker lands (the
    * Hadoop committer writes it after the last task commit — round 15):
    * a crash mid-write leaves a `v=N` holding `_temporary` or a partial
    * file set, and counting it as real would either wedge every later
    * read ("unable to infer schema" on an empty dir) or silently merge
    * from a snapshot missing rows. Readers and merge bases use committed
    * versions only; the NEXT version number advances past every
    * directory, committed or not, so a retry never collides with a
    * crashed attempt's debris (ErrorIfExists would wedge otherwise). */
  private def listVersions(spark: SparkSession, tableDir: String): Seq[Int] = {
    val f = fs(spark)
    val raw = rawVersions(spark, tableDir)
    val marked = raw.filter(v =>
      f.exists(new Path(s"$tableDir/v=$v/_SUCCESS")))
    if (marked.nonEmpty || raw.isEmpty) marked
    else
      // LEGACY FALLBACK (round 16 advice): on a cluster whose committer
      // does not write markers (marksuccessfuljobs=false, some
      // object-store committers), a table written BEFORE the round-15
      // marker requirement would otherwise become wholly unreadable.
      // When NO version carries a marker, treat version dirs that hold
      // real data files and no in-flight _temporary debris as committed.
      // New writes on such a cluster fail loud in [[writeNextVersion]]
      // instead of reaching this path, so the fallback can only see
      // pre-marker tables — where "non-empty and not mid-write" was the
      // original commit signal. Once a marker-bearing version lands on a
      // legacy table (e.g. an upsert under a marker-writing committer),
      // strict mode resumes and the marker-less vintages stop being
      // listed: time travel to them is lost, but data is not — the
      // upsert's merge base was read through this fallback.
      raw.filter { v =>
        val entries = f.listStatus(new Path(s"$tableDir/v=$v")).toSeq
          .map(_.getPath.getName)
        entries.exists(n => !n.startsWith("_") && !n.startsWith(".")) &&
          !entries.contains("_temporary")
      }
  }

  /** True when the versioned table has at least one COMMITTED version —
    * the existence gate serving paths must use before [[readSnapshot]].
    * [[tableExists]] (bare directory probe) is the WRONG gate for
    * versioned tables: a crash during the very first write leaves a dir
    * with no committed version, and a reader gated on the dir would then
    * throw instead of answering "not found" (Pipeline.automate's and
    * Serve's artifact gates). */
  def hasCommittedVersion(spark: SparkSession, tableDir: String): Boolean =
    listVersions(spark, tableDir).nonEmpty

  /** Every v=N directory, committed or not — next-version computation
    * and vacuum need the full set. */
  private def rawVersions(spark: SparkSession, tableDir: String): Seq[Int] = {
    val f = fs(spark)
    val dir = new Path(tableDir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt)
      .sorted
  }

  /** The one versioned-write choreography (round 15 — was triplicated
    * across upsertSnapshot/upsertSnapshotEvolving/applyChangesSnapshot):
    * write `df` as the next version past ANY existing directory and
    * return it. */
  private def writeNextVersion(spark: SparkSession, tableDir: String,
                               df: DataFrame): Int = {
    val next = rawVersions(spark, tableDir).lastOption.getOrElse(0) + 1
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/v=$next")
    // Commit-marker config check (round 16 advice): the versioned layout
    // treats `_SUCCESS` as the commit record, so a committer configured
    // not to write it (marksuccessfuljobs=false, some object-store
    // committers) would make every snapshot just written invisible to
    // readers. Fail LOUD at write time — the one moment the mismatch is
    // diagnosable — instead of letting reads quietly see a stale version.
    if (!fs(spark).exists(new Path(s"$tableDir/v=$next/_SUCCESS")))
      throw new IllegalStateException(
        s"$tableDir/v=$next was written but carries no _SUCCESS marker — " +
          "the configured output committer does not write success markers " +
          "(mapreduce.fileoutputcommitter.marksuccessfuljobs=false?); the " +
          "versioned snapshot layout requires them as its commit record")
    next
  }

  /** Latest COMMITTED version read, or an empty frame with `schema`'s
    * shape when the table has none. */
  private def readLatestOr(spark: SparkSession, tableDir: String,
                           empty: => DataFrame): DataFrame =
    listVersions(spark, tableDir).lastOption
      .map(v => spark.read.parquet(s"$tableDir/v=$v"))
      .getOrElse(empty)

  def upsertSnapshot(spark: SparkSession, tableDir: String, incoming: DataFrame,
                     key: Seq[String], orderCol: String): Int = {
    val current = readLatestOr(spark, tableDir,
      incoming.filter(org.apache.spark.sql.functions.lit(false)))
    writeNextVersion(spark, tableDir,
      Ingest.upsert(current, incoming, key, orderCol))
  }

  /** [[upsertSnapshot]] with ADDITIVE schema evolution (round 9) — the
    * Delta `mergeSchema` semantics: the batch may carry columns the
    * current snapshot lacks (and vice versa); `v=N+1`'s schema is the
    * union in (current ++ new-in-batch) order, absent values NULL.
    * Same-name/different-type conflicts fail LOUD — silent casts are
    * how a `string` user_id sneaks into a `long` table; an intentional
    * type migration is a rewrite ([[replaceSnapshot]]), not an upsert.
    * Scale: alignment is a projection (zero extra shuffles over the
    * plain upsert); old versions keep their old schema — readers of
    * `v=N` are undisturbed, the versioned-layout contract. */
  def upsertSnapshotEvolving(spark: SparkSession, tableDir: String,
                             incoming: DataFrame, key: Seq[String],
                             orderCol: String): Int = {
    val current = readLatestOr(spark, tableDir,
      incoming.filter(org.apache.spark.sql.functions.lit(false)))
    // name matching follows the session's resolver (round 15): Spark
    // resolves case-INSENSITIVELY by default, so a batch column 'ID'
    // against a snapshot 'id' is the SAME logical column — treating it
    // as additive would write v=N+1 carrying both casings, which every
    // later col("id") reference resolves ambiguously. Matched names are
    // normalized to the snapshot's casing in the aligned output.
    val resolver = spark.sessionState.analyzer.resolver
    val conflicts = current.schema.flatMap { cf =>
      incoming.schema.find(inf => resolver(inf.name, cf.name))
        .filter(_.dataType != cf.dataType)
        .map(inf => s"${cf.name}: snapshot ${cf.dataType.simpleString} " +
          s"vs batch ${inf.dataType.simpleString}")
    }
    require(conflicts.isEmpty,
      s"schema evolution is additive only; type conflicts: " +
        conflicts.mkString("; "))
    val union = current.schema.fields ++
      incoming.schema.fields.filterNot(f =>
        current.schema.fields.exists(cf => resolver(cf.name, f.name)))
    def align(df: DataFrame) = df.select(union.map { f =>
      df.columns.find(c => resolver(c, f.name)) match {
        case Some(c) => org.apache.spark.sql.functions.col(c).as(f.name)
        case None =>
          org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
    writeNextVersion(spark, tableDir,
      Ingest.upsert(align(current), align(incoming), key, orderCol))
  }

  /** Versioned REPLACE: `v=N+1` is exactly `df` — no merge with prior
    * versions. The model-artifact publish semantics: the reference
    * overwrites its persisted model wholesale on retrain
    * (train.py:555-567 joblib dump), so per-key params absent from the
    * new fit must NOT survive from an older version the way
    * [[upsertSnapshot]]'s merge would keep them; the versioned layout is
    * retained so a concurrent reader of `v=N` is never disturbed (unlike
    * [[truncateAndLoad]]'s in-place overwrite). */
  def replaceSnapshot(spark: SparkSession, tableDir: String,
                      df: DataFrame): Int =
    writeNextVersion(spark, tableDir, df)

  /** SNK1 at scale — PARTITION-SCOPED keyed upsert: the snapshot lives
    * hash-bucketed on the upsert key (`__bucket=N/` partition
    * directories), and a batch rewrites ONLY the buckets its keys hash
    * into, via dynamic partition overwrite. [[upsertSnapshot]] is the
    * reference-faithful versioned form, but it re-writes the ENTIRE
    * snapshot per batch — at 100 TB a monthly ~GB batch would rewrite
    * 100 TB; here the rewrite cost is O(touched buckets) =
    * O(batch keys), the partition-pruned read matches (only touched
    * `__bucket=` directories are scanned, IngestSpec pins the file-level
    * behavior), and untouched buckets' files are never opened. This is
    * what Delta/Iceberg MERGE does with a transaction log in place of
    * the directory layout; without the log, per-partition replace is
    * atomic per bucket, not across buckets — the documented trade vs the
    * versioned form (readers of OTHER buckets are never disturbed).
    *
    * The bucket count is part of the table's layout contract: it is
    * written to a `_graft_nbuckets` marker on creation and validated on
    * every later batch — a mismatched `nBuckets` would hash the same key
    * into a different bucket and silently duplicate it across buckets
    * (the pack/probe drift hazard, failed loud instead).
    *
    * In-batch duplicates resolve last-write-wins in `orderCol` order and
    * existing rows whose key appears in the batch are replaced —
    * exactly [[Ingest.upsert]]'s contract (`INSERT … ON DUPLICATE KEY
    * UPDATE`, main.py:175-188). */
  def upsertSnapshotBucketed(spark: SparkSession, tableDir: String,
                             incoming: DataFrame, key: Seq[String],
                             orderCol: String, nBuckets: Int = 64): Unit = {
    import org.apache.spark.sql.functions._
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val f = fs(spark)
    val marker = new Path(tableDir, "_graft_nbuckets")
    // batch rows feed the touched-bucket probe AND the merge — lazy
    // localCheckpoint (the Dedup convention) instead of recomputing the
    // incoming pipeline per consumer
    val inc = incoming
      .withColumn("__bucket",
        pmod(xxhash64(key.map(col): _*), lit(nBuckets.toLong)).cast("int"))
      .localCheckpoint(eager = false)
    if (!f.exists(marker)) {
      // marker-dispatched create (round 15): a crash between the data
      // write and the marker create leaves data-without-marker, and the
      // old dir-dispatched branches threw on every replay; re-creating
      // with Overwrite repairs that partial state and converges. First
      // batch goes through the SAME last-write-wins resolution as every
      // later one (merge against an empty snapshot): a create batch
      // carrying duplicate keys must not persist duplicate rows, or the
      // contract below ("in-batch duplicates resolve last-write-wins")
      // would hold for every batch except the first.
      // empty first batch: no table yet, nothing to create — the guard
      // that used to live as a per-batch isEmpty pre-probe in the
      // streaming runners (round 16) only matters on THIS branch (an
      // existing table's merge no-ops via the touched-bucket collect).
      // count(), not isEmpty (round 17): isEmpty's limit-1 read consumes
      // the lazy checkpoint's partition PARTIALLY, so nothing caches and
      // the create write re-parsed the whole batch source a second time
      // (event-log profile: a ~600 ms/task re-read); count consumes the
      // partitions fully, so the write below reads cached blocks.
      if (inc.count() == 0L) return
      requireCreatableBucketDir(f, tableDir)
      // cluster by bucket: one file per bucket (guide §6 — see
      // replaceBuckets; every later merge re-reads these files)
      Ingest.upsert(inc.limit(0), inc, key, orderCol)
        .repartition(col("__bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("__bucket")
        .parquet(tableDir)
      val out = f.create(marker, true)
      out.write(nBuckets.toString.getBytes("UTF-8")); out.close()
    } else {
      val declared = readNBucketsMarker(spark, marker)
      require(declared == nBuckets,
        s"bucket-count mismatch: table $tableDir was created with " +
          s"$declared buckets, batch hashed with $nBuckets — the same key " +
          "would land in a different bucket and duplicate")
      // O(touched buckets) ≤ nBuckets driver-side values — corpus-size-
      // independent, the IVF-seeding budget class
      val touched = inc.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty) {
        // isin on the partition column → partition-pruned scan of only
        // the touched bucket directories. Explicit schema (round 17):
        // the table's schema IS the batch schema by the layout contract
        // (the create branch wrote exactly these columns, and the merge
        // below would fail on drift anyway), so per-batch parquet footer
        // inference is a driver round-trip for nothing on the streaming
        // hot path.
        val existingTouched = spark.read.schema(inc.schema)
          .parquet(tableDir)
          .filter(col("__bucket").isin(touched: _*))
        // STAGED single-job write (round 17, guide §2.4 — the streaming
        // hot path runs this once per micro-batch): merge computes
        // DIRECTLY into a hidden stage dir under the table (one job),
        // then the driver swaps each written bucket directory in. The
        // round-15/16 shape paid an eager localCheckpoint job (merge →
        // block store) plus a dynamic-partition-overwrite job (blocks →
        // files) per batch — the checkpoint existed only because a
        // direct overwrite both reads and replaces tableDir; writing to
        // the stage path removes the conflict, so the merge rows
        // materialize exactly once. Atomicity remains PER BUCKET
        // (documented above and on runToBucketedSnapshot), the same
        // delete-then-rename window dynamic partition overwrite's
        // committer has; replaying the batch converges (last-write-wins
        // absorbs re-merges). Upsert output always carries ≥1 row per
        // touched bucket (the batch's own rows land there), so every
        // touched bucket is re-written.
        replaceBuckets(spark, tableDir,
          Ingest.upsert(existingTouched, inc, key, orderCol), touched)
        ()
      }
    }
  }

  /** Swap `touched` bucket directories of a bucketed snapshot table for
    * the contents of `merged`, materializing the merge exactly once: one
    * write job into a hidden `.graft_stage_*` dir under the table
    * (hidden → invisible to concurrent readers and partition discovery),
    * then one driver-side delete+rename per written bucket. A touched
    * bucket ABSENT from the stage netted to zero rows (CDC all-deletes)
    * and is removed. Stale stage debris from a crashed prior attempt is
    * GC'd first — the checkpoint replay that re-runs this merge
    * converges on the same final state. Returns the written bucket ids. */
  private def replaceBuckets(spark: SparkSession, tableDir: String,
                             merged: DataFrame,
                             touched: Seq[Int]): Set[Int] = {
    val f = fs(spark)
    f.listStatus(new Path(tableDir)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(".graft_stage_"))
      .foreach(p => f.delete(p, true))
    val stage = new Path(tableDir,
      s".graft_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    // Cluster by bucket before writing (guide §6 file sizing): without
    // it every write task opens a parquet writer per bucket value it
    // sees — the event-log profile showed 17–34 tasks × up to 16 bucket
    // dirs ≈ hundreds of KB-sized files PER MICRO-BATCH, and the next
    // batch's merge re-reads all of them (the small-files double cost).
    // Hash-clustering on __bucket puts each touched bucket in exactly
    // one task → one file per bucket per merge, and the shuffle moves
    // only the batch-sized merge output.
    merged
      .repartition(math.max(1, touched.size),
        org.apache.spark.sql.functions.col("__bucket"))
      .write.mode(SaveMode.ErrorIfExists).partitionBy("__bucket")
      .parquet(stage.toString)
    val written = f.listStatus(stage).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("__bucket="))
    written.foreach { src =>
      val dst = new Path(tableDir, src.getName)
      f.delete(dst, true)
      if (!f.rename(src, dst))
        throw new java.io.IOException(
          s"failed to swap bucket directory $src -> $dst")
    }
    val writtenBuckets = written
      .map(_.getName.stripPrefix("__bucket=").toInt).toSet
    touched.filterNot(writtenBuckets.contains).foreach(b =>
      f.delete(new Path(s"$tableDir/__bucket=$b"), true))
    f.delete(stage, true)
    writtenBuckets
  }

  /** Current contents of an [[upsertSnapshotBucketed]] table (layout
    * column dropped). */
  def readBucketedSnapshot(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir).drop("__bucket")


  /** Create-branch safety for the bucketed tables (round 15): dispatch
    * is on the MARKER, not the directory — a crash between the data
    * write and the marker create used to wedge the table forever (dir
    * exists, marker missing, every replay throws). A marker-less dir is
    * re-creatable ONLY if it looks like our own partial create (nothing
    * but __bucket= partitions and _-prefixed job metadata); anything
    * else is a foreign directory and fails loud as before. */
  private def requireCreatableBucketDir(f: org.apache.hadoop.fs.FileSystem,
                                        tableDir: String): Unit = {
    val dir = new Path(tableDir)
    if (f.exists(dir)) {
      val foreign = f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("__bucket=") || n.startsWith("_") ||
          n.startsWith("."))
      require(foreign.isEmpty,
        s"$tableDir exists, carries no _graft_nbuckets marker, and holds " +
          s"non-bucket entries ${foreign.take(3).mkString(", ")} — not a " +
          "bucketed snapshot table (and not a crashed partial create)")
    }
  }

  private def readNBucketsMarker(spark: SparkSession, marker: Path): Int = {
    val in = fs(spark).open(marker)
    val buf = new java.io.ByteArrayOutputStream()
    org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, true)
    new String(buf.toByteArray, "UTF-8").trim.toInt
  }

  /** SNK10 at scale — [[applyChanges]] routed through the
    * [[upsertSnapshotBucketed]] layout: a changelog batch rewrites ONLY
    * the buckets its keys hash into, DELETE included. The frame-level
    * [[applyChanges]] is the semantics reference; this is the shape that
    * survives 100 TB — rewrite cost O(touched buckets) = O(batch keys),
    * untouched buckets' files never opened (IngestSpec pins that a 1-key
    * D batch rewrites exactly one bucket).
    *
    * Delete wrinkle dynamic-partition overwrite does not cover: a touched
    * bucket whose rows ALL net to deletes yields no output partition, so
    * the overwrite would silently leave the stale directory — such
    * buckets are removed explicitly after the write. Atomicity remains
    * per bucket (the documented bucketed-layout trade); replaying the
    * same batch converges because the collapse rule is idempotent. */
  def applyChangesBucketed(spark: SparkSession, tableDir: String,
                           changes: DataFrame, key: Seq[String],
                           orderCol: String, opCol: String = "op",
                           nBuckets: Int = 64): Unit = {
    import org.apache.spark.sql.functions._
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val f = fs(spark)
    val marker = new Path(tableDir, "_graft_nbuckets")
    val inc = changes
      .withColumn("__bucket",
        pmod(xxhash64(key.map(col): _*), lit(nBuckets.toLong)).cast("int"))
      .localCheckpoint(eager = false)
    if (!f.exists(marker)) {
      // marker-dispatched create (round 15, see upsertSnapshotBucketed):
      // the SAME collapse as every later batch, against an empty
      // snapshot — net-deletes drop, I-after-D nets to the insert. BOTH
      // feed bookkeeping columns (op AND order) are dropped from the
      // empty existing frame so the snapshot schema carries only data
      // columns + __bucket, same as the frame-level applyChanges whose
      // existing side never has feed columns — the bucketed layout stays
      // relation-invisible for readBucketedSnapshot
      // empty first batch: nothing to create (see upsertSnapshotBucketed;
      // count() — not isEmpty — so the checkpoint caches for the write)
      if (inc.count() == 0L) return
      requireCreatableBucketDir(f, tableDir)
      // cluster by bucket: one file per bucket (guide §6 — see
      // replaceBuckets; every later merge re-reads these files)
      applyChanges(inc.drop(opCol, orderCol).limit(0), inc, key, orderCol,
        opCol)
        .repartition(col("__bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("__bucket")
        .parquet(tableDir)
      val out = f.create(marker, true)
      out.write(nBuckets.toString.getBytes("UTF-8")); out.close()
    } else {
      val declared = readNBucketsMarker(spark, marker)
      require(declared == nBuckets,
        s"bucket-count mismatch: table $tableDir was created with " +
          s"$declared buckets, batch hashed with $nBuckets — the same key " +
          "would land in a different bucket and duplicate")
      val touched = inc.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty) {
        // explicit schema from the layout contract (round 17, see
        // upsertSnapshotBucketed): the snapshot carries the changes'
        // data columns + __bucket, never the feed bookkeeping columns
        val snapSchema = org.apache.spark.sql.types.StructType(
          inc.schema.fields.filterNot(fd =>
            fd.name == opCol || fd.name == orderCol))
        val existingTouched = spark.read.schema(snapSchema)
          .parquet(tableDir)
          .filter(col("__bucket").isin(touched: _*))
        val merged = applyChanges(existingTouched, inc, key, orderCol, opCol)
        // STAGED single-job write (round 17, see upsertSnapshotBucketed):
        // replaces the eager-checkpoint + remaining-bucket collect +
        // dynamic-overwrite trio (THREE jobs per micro-batch) with ONE
        // write job — the stage listing IS the remaining-bucket probe (a
        // bucket netting all-deletes writes no partition dir), and the
        // per-bucket swap deletes touched-but-absent buckets, the CDC
        // wrinkle dynamic overwrite could not cover.
        replaceBuckets(spark, tableDir, merged, touched)
        // a batch netting EVERY remaining row to D would leave zero
        // parquet files — the next read of the table (or batch) would
        // throw "unable to infer schema" forever (round 15). Keep one
        // empty, schema-carrying file in bucket 0 so an emptied table
        // stays a readable empty table. (merged.limit(0) plans to an
        // empty local relation — nothing re-reads the swapped files.)
        val anyBucketLeft = f.exists(new Path(tableDir)) &&
          f.listStatus(new Path(tableDir)).exists(
            _.getPath.getName.startsWith("__bucket="))
        if (!anyBucketLeft)
          merged.drop("__bucket").limit(0).coalesce(1)
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$tableDir/__bucket=0")
      }
    }
  }

  /** Bucketed persistence for co-located joins: the table is written
    * pre-hash-partitioned (and pre-sorted) on `keys` into `buckets`
    * files, recorded in the catalog, so EVERY later equi-join or
    * aggregation on those keys reads already-clustered data and plans NO
    * shuffle of this table. At 100 TB this is the difference between
    * re-shuffling the fact table per query and shuffling it exactly once
    * at write time — the same contract a Hive/Iceberg bucketed table or a
    * co-partitioned join in any MPP engine provides. Registered as an
    * EXTERNAL table (explicit path) so the data location is caller-owned.
    * Both join sides must use the same keys and bucket count. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    keys: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction over a versioned snapshot table (the
    * maintenance job every long-lived table needs: streaming sinks and
    * frequent small batches accrete thousands of KB-sized files, and at
    * 100 TB the file-open overhead and scan-task explosion — one task per
    * tiny file — dominate read cost long before data volume does; this is
    * Delta OPTIMIZE / Iceberg rewrite_data_files re-expressed over the
    * [[upsertSnapshot]] directory layout).
    *
    * Reads the LATEST `v=N`, sizes it from the file listing (driver-side
    * metadata only, O(files)), targets `ceil(totalBytes / targetBytes)`
    * output files, and rewrites via round-robin repartition into
    * `v=N+1` — content-identical by construction (repartition moves rows,
    * never drops), and readers always see a complete version (the
    * upsertSnapshot atomicity story). Old versions are retained for the
    * caller's retention policy to reap.
    *
    * Returns (filesBefore, filesAfter, newVersion). Compaction of an
    * already-compact table still advances the version — idempotent in
    * content, explicit in lineage. */
  def compactSnapshot(spark: SparkSession, tableDir: String,
                      targetBytes: Long): (Int, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val f = fs(spark)
    val versions = listVersions(spark, tableDir)
    require(versions.nonEmpty, s"$tableDir has no v=N snapshot versions")
    val latest = versions.last
    val dataFiles = f.listStatus(new Path(s"$tableDir/v=$latest")).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(s"$tableDir/v=$latest")
      .repartition(nOut)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/v=${latest + 1}")
    val after = f.listStatus(new Path(s"$tableDir/v=${latest + 1}")).toSeq
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    (dataFiles.size, after, latest + 1)
  }

  /** SNK10 — CDC changelog apply: merge an ordered change feed (op column
    * ∈ I/U/D) into a keyed snapshot — the Delta `MERGE WHEN MATCHED
    * DELETE` / Debezium-consumer shape, and the missing third verb of the
    * reference's upsert (`ON DUPLICATE KEY UPDATE` can insert and update
    * but never remove, main.py:175-188).
    *
    * Semantics: per key, changes collapse to the LATEST op in `orderCol`
    * order (ties broken by op descending — arbitrary but total and
    * cross-engine stable); a latest D removes the key, a latest I/U
    * upserts its row; keys absent from the feed survive untouched.
    * Collapsing FIRST means an I followed by a D nets to a delete and a
    * D followed by an I nets to the insert — replaying a merged feed is
    * idempotent, the property every at-least-once CDC consumer needs.
    *
    * Scale shape: one window over the CHANGE FEED (batch-sized, not
    * table-sized) + one anti-join — identical cost to [[Ingest.upsert]];
    * at 100 TB run it against the bucketed layout the way
    * [[upsertSnapshotBucketed]] does (only touched buckets rewrite). */
  def applyChanges(existing: DataFrame, changes: DataFrame,
                   key: Seq[String], orderCol: String,
                   opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ops = Seq("I", "U", "D")
    // unknown ops fail LOUD at execution, not as silent deletes
    val checked = changes.withColumn(opCol,
      when(col(opCol).isin(ops: _*), col(opCol))
        .otherwise(raise_error(concat(lit("unknown CDC op: "), col(opCol)))))
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(orderCol).desc, col(opCol).desc)
    val latest = checked
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    existing
      .join(latest.select(key.map(col): _*), key, "left_anti")
      .unionByName(
        latest.filter(col(opCol).isin(ops.filter(_ != "D"): _*)).drop(opCol)
          .select(existing.columns.map(col): _*))
  }

  /** [[applyChanges]] over the VERSIONED snapshot layout — the CDC
    * consumer whose every applied batch is a durable, independently
    * readable version (`v=N+1`), mirroring [[upsertSnapshot]] exactly but
    * with the three-verb changelog contract (a latest D removes the key).
    * First batch creates `v=1` against an empty snapshot whose schema is
    * the feed minus its bookkeeping columns (op AND order) — same
    * relation-invisibility rule as [[applyChangesBucketed]]'s create
    * branch. Returns the new version number.
    *
    * This is the layout [[compactSnapshot]] and [[vacuumSnapshot]]
    * maintain; the three interleave freely (SnapshotSoakSpec pins the
    * full lifecycle: every version a reader ever sees is the exact
    * net-effect state of the changes applied so far). At 100 TB prefer
    * [[applyChangesBucketed]] (O(touched buckets) rewrite); this form
    * rewrites the full snapshot per batch but keeps readers of `v=N`
    * undisturbed forever — the documented trade between the two. */
  def applyChangesSnapshot(spark: SparkSession, tableDir: String,
                           changes: DataFrame, key: Seq[String],
                           orderCol: String, opCol: String = "op"): Int = {
    val current = readLatestOr(spark, tableDir,
      changes.drop(opCol, orderCol)
        .filter(org.apache.spark.sql.functions.lit(false)))
    writeNextVersion(spark, tableDir,
      applyChanges(current, changes, key, orderCol, opCol))
  }

  /** SNK11 — retention vacuum over an [[upsertSnapshot]] versioned table:
    * delete every version older than the newest `keepLast` (the Delta
    * VACUUM / Iceberg expire_snapshots maintenance verb that completes
    * the merge-on-write story — without it a 100 TB table re-upserted
    * monthly retains 100 TB × months of dead versions).
    *
    * Deletion walks OLDEST-first so a crash mid-vacuum can only leave
    * extra (still-consistent) versions behind, never a gap below the
    * latest; the latest version is always retained regardless of
    * `keepLast`. Returns (removedVersions, keptVersions). */
  def vacuumSnapshot(spark: SparkSession, tableDir: String,
                     keepLast: Int): (Seq[Int], Seq[Int]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark)
    val versions = listVersions(spark, tableDir)
    require(versions.nonEmpty, s"$tableDir has no v=N snapshot versions")
    val (drop, keep) = versions.splitAt((versions.size - keepLast).max(0))
    // crashed-attempt debris (v=N without _SUCCESS) below the newest
    // kept committed version is also reaped — STRICTLY below, so a
    // concurrent writer's in-flight v=N+1 (always above the latest
    // committed) is never swept mid-write (round 15)
    val orphans = rawVersions(spark, tableDir)
      .filterNot(versions.contains).filter(_ < keep.head)
    (drop ++ orphans).foreach(v =>
      f.delete(new Path(s"$tableDir/v=$v"), true))
    (drop ++ orphans, keep)
  }

  /** [[vacuumSnapshot]] gated on actual growth — the streaming hot-path
    * form (round-16 advice): an unconditional vacuum on every micro-batch
    * pays an O(retained versions) marker-probe listing per publish, for a
    * reclaim that can remove at most one version per batch. This probe is
    * ONE directory listing (no per-version marker checks); the full
    * vacuum runs only once the raw trail exceeds `2 * keepLast` dirs —
    * amortized O(1) listings per batch, trail bounded at ≤ 2·keepLast. */
  def vacuumSnapshotIfGrown(spark: SparkSession, tableDir: String,
                            keepLast: Int): Unit =
    if (rawVersions(spark, tableDir).size > 2 * keepLast) {
      vacuumSnapshot(spark, tableDir, keepLast)
      ()
    }

  /** Latest snapshot version of an [[upsertSnapshot]] table. */
  def readSnapshot(spark: SparkSession, tableDir: String): DataFrame = {
    val versions = listVersions(spark, tableDir)
    require(versions.nonEmpty, s"$tableDir has no v=N snapshot versions")
    spark.read.parquet(s"$tableDir/v=${versions.last}")
  }

  /** A specific version of an [[upsertSnapshot]] table — time travel for
    * the versioned layout (the Delta `VERSION AS OF` verb). Fails loud
    * on a vacuumed or never-written version. */
  def readSnapshotVersion(spark: SparkSession, tableDir: String,
                          version: Int): DataFrame = {
    val versions = listVersions(spark, tableDir)
    require(versions.contains(version),
      s"$tableDir has no v=$version (available: ${versions.mkString(",")})")
    spark.read.parquet(s"$tableDir/v=$version")
  }

  /** INVERSE of [[applyChanges]] (round 9) — derive the I/U/D changelog
    * that turns keyed snapshot `before` into `after`: the CDC SOURCE for
    * systems that only keep snapshots (the Delta CHANGE DATA FEED verb
    * computed by diff, or nightly-dump CDC where no transaction log
    * exists). A key only in `after` emits I with its row; only in
    * `before` emits D (payload from the old row); in both with ANY
    * non-key column changed emits U with the new row; identical rows
    * emit nothing — the MINIMAL feed.
    *
    * Round-trip law (spec- and oracle-pinned):
    * `applyChanges(before, snapshotDiff(before, after, key)) ≡ after`,
    * and the diff of identical snapshots is empty. Null-safe comparison
    * (`<=>` per column) so a null→value or value→null change is a U,
    * null==null is unchanged.
    *
    * Scale shape: ONE full-outer shuffle join on the key — the same
    * exchange any snapshot comparison pays; no window, no skew pivot
    * (keys are unique per side by the snapshot contract). Both sides
    * must share the schema; columns are compared positionally by name. */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   key: Seq[String], opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.functions._
    require(before.columns.sorted.sameElements(after.columns.sorted),
      s"schema mismatch: ${before.columns.mkString(",")} vs " +
        after.columns.mkString(","))
    require(!before.columns.contains(opCol),
      s"snapshot already carries a '$opCol' column")
    val dataCols = before.columns.filterNot(key.contains).toSeq
    // presence markers instead of key-null probes: a full-outer miss
    // nulls the whole side, and unlike key columns the markers are
    // never legitimately null
    val b = before.select(
      (before.columns.map(c => col(c).as(s"__b_$c")).toSeq :+
        lit(true).as("__in_b")): _*)
    val a = after.select(
      (after.columns.map(c => col(c).as(s"__a_$c")).toSeq :+
        lit(true).as("__in_a")): _*)
    val joinCond = key.map(k => col(s"__b_$k") <=> col(s"__a_$k"))
      .reduce(_ && _)
    val changed = dataCols.map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    b.join(a, joinCond, "full_outer")
      .withColumn(opCol,
        when(col("__in_b").isNull, "I")
          .when(col("__in_a").isNull, "D")
          .when(changed, "U"))
      .filter(col(opCol).isNotNull)
      .select((key.map(k =>
        coalesce(col(s"__a_$k"), col(s"__b_$k")).as(k)) ++
        dataCols.map(c =>
          when(col(opCol) === "D", col(s"__b_$c"))
            .otherwise(col(s"__a_$c")).as(c)) :+ col(opCol)): _*)
  }
}
