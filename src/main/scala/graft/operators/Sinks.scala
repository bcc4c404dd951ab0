package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField,
  StructType}

/** Sink semantics of the reference's write paths (SURVEY.md §2a), mapped
  * to parquet snapshot directories (the engine's stand-in for MySQL
  * tables / GCS prefixes).
  *
  * | ref  | semantics                                   | here |
  * |------|---------------------------------------------|------|
  * | SNK1 | keyed upsert (ON DUPLICATE KEY UPDATE)      | [[upsertSnapshot]] (versioned merge-on-write), [[upsertSnapshotBucketed]] (bucketed merge) |
  * | SNK2 | truncate-and-load                           | [[truncateAndLoad]] (mode=overwrite) |
  * | SNK3 | append if empty else replace (first-run)    | [[appendOrReplace]] (emptiness-gated SaveMode) |
  * | SNK4 | row-count probe                             | [[rowCount]] |
  * | SNK5 | object-store snapshot replace               | [[snapshotReplace]] (partitioned overwrite) |
  * | SNK10 | CDC changelog apply (I/U/D)                | [[applyChangesSnapshot]] (versioned), [[applyChangesBucketed]] (bucketed merge) |
  *
  * Two persisted layouts, one commit path each:
  *  - versioned `v=N` directories: every write is [[writeNextVersion]]
  *    (a version is committed once its `_SUCCESS` marker lands); the
  *    streaming state artifacts (sketches) publish through the one
  *    read-merge-publish [[foldSnapshot]];
  *  - hash-bucketed `__bucket=N` directories: upsert and CDC are two
  *    merge functions over the one [[mergeBucketed]], whose swap moves the
  *    old bucket aside, renames the new one in and deletes the stage last,
  *    so a crashed batch replays to the table it would have built. The
  *    swap needs directory renames to be atomic (HDFS, local and POSIX
  *    filesystems; not an object store's copy-and-delete rename).
  *
  * Every path resolves its own filesystem (`gs://`, `s3a://`, `hdfs://`
  * tables work beside a `file:///` default).
  *
  * Scale notes: SNK1 is merge-on-write over immutable snapshots — new
  * version = anti-join(old, batch) ∪ batch, written to `v=N+1` then the
  * pointer advances (what Delta/Iceberg MERGE does with a log instead of
  * a directory scan). The anti-join shuffles on the key; the bucketed
  * layout rewrites only the buckets a batch touches. SNK2/SNK5 are
  * plain overwrites — no read-modify-write, embarrassingly parallel.
  */
object Sinks {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** SNK4 — row count of a parquet table path; 0 when absent
    * (db_connector.py:153-162). */
  def rowCount(spark: SparkSession, path: String): Long =
    if (!fs(spark, path).exists(new Path(path))) 0L
    else spark.read.parquet(path).count()

  /** SRC5 — existence probe (main.py:96-114). */
  def tableExists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

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

  /** Run independent driver-side actions at once — table writes, or the
    * collects that pin side tables — and return their values in `thunks`
    * order: one daemon thread per thunk on a pool owned by this call, shut
    * down before it returns. Waits for EVERY thunk to settle, then
    * rethrows the first failure in `thunks` order (later ones ride along
    * as suppressed), so a caller never sees an exception while a sibling
    * is still in flight. Writes must target different tables; each keeps
    * its own commit protocol. */
  def concurrently[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.isEmpty) Nil
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        thunks.size, r => {
          val t = new Thread(r, "graft-concurrent"); t.setDaemon(true); t })
      try {
        val pending = thunks.map(w => pool.submit(new java.util.concurrent
          .Callable[A] { def call(): A = w() }))
        val settled = pending.map { f =>
          try Right(f.get())
          catch { case e: java.util.concurrent.ExecutionException =>
            Left(e.getCause) }
        }
        val failures = settled.collect { case Left(e) => e }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed); throw first }
        settled.collect { case Right(a) => a }
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
    val f = fs(spark, tableDir)
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
    latestCommittedVersion(spark, tableDir).nonEmpty

  /** The version [[readSnapshot]] would read, if any — a driver-side
    * listing, no Spark job. */
  def latestCommittedVersion(spark: SparkSession,
                             tableDir: String): Option[Int] =
    listVersions(spark, tableDir).lastOption

  /** Every v=N directory, committed or not — next-version computation
    * and vacuum need the full set. */
  private def rawVersions(spark: SparkSession, tableDir: String): Seq[Int] = {
    val f = fs(spark, tableDir)
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
    if (!fs(spark, tableDir).exists(new Path(s"$tableDir/v=$next/_SUCCESS")))
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
    * into. [[upsertSnapshot]] is the reference-faithful versioned form,
    * but it re-writes the ENTIRE snapshot per batch — at 100 TB a monthly
    * ~GB batch would rewrite 100 TB; here the rewrite cost is O(touched
    * buckets) = O(batch keys), the partition-pruned read matches (only
    * touched `__bucket=` directories are scanned, IngestSpec pins the
    * file-level behavior), and untouched buckets' files are never opened.
    * This is what Delta/Iceberg MERGE does with a transaction log in
    * place of the directory layout; without the log, the swap is atomic
    * per bucket, not across buckets — the documented trade vs the
    * versioned form (readers of OTHER buckets are never disturbed).
    *
    * In-batch duplicates resolve last-write-wins in `orderCol` order and
    * existing rows whose key appears in the batch are replaced —
    * exactly [[Ingest.upsert]]'s contract (`INSERT … ON DUPLICATE KEY
    * UPDATE`, main.py:175-188). Commit protocol: [[mergeBucketed]]. */
  def upsertSnapshotBucketed(spark: SparkSession, tableDir: String,
                             incoming: DataFrame, key: Seq[String],
                             orderCol: String, nBuckets: Int = 64): Unit =
    mergeBucketed(spark, tableDir, incoming, key, nBuckets, feedCols = Nil)(
      Ingest.upsert(_, _, key, orderCol))

  /** SNK10 at scale — [[applyChanges]] routed through the
    * [[upsertSnapshotBucketed]] layout: a changelog batch rewrites ONLY
    * the buckets its keys hash into, DELETE included. The frame-level
    * [[applyChanges]] is the semantics reference; this is the shape that
    * survives 100 TB — rewrite cost O(touched buckets) = O(batch keys),
    * untouched buckets' files never opened (IngestSpec pins that a 1-key
    * D batch rewrites exactly one bucket). The table stores the data
    * columns only: the feed's `opCol` and `orderCol` are dropped (matched
    * by the session resolver), so the layout stays relation-invisible for
    * [[readBucketedSnapshot]], as the frame-level [[applyChanges]]'s
    * existing side never carries feed columns. Replaying a batch
    * converges because the collapse rule is idempotent. Commit protocol:
    * [[mergeBucketed]]. */
  def applyChangesBucketed(spark: SparkSession, tableDir: String,
                           changes: DataFrame, key: Seq[String],
                           orderCol: String, opCol: String = "op",
                           nBuckets: Int = 64): Unit =
    mergeBucketed(spark, tableDir, changes, key, nBuckets,
      feedCols = Seq(opCol, orderCol))(
      applyChanges(_, _, key, orderCol, opCol))

  /** The one commit path of the bucketed layout: `merge(existing, batch)`
    * of the batch (`__bucket` added, `feedCols` kept) against the table's
    * rows (`__bucket` included, `feedCols` never stored) becomes the new
    * contents of every bucket the batch touches.
    *
    *  - The batch feeds the touched-bucket probe AND the merge: a lazy
    *    localCheckpoint (the Dedup convention) instead of recomputing the
    *    incoming pipeline per consumer.
    *  - Dispatch is on the `_graft_nbuckets` marker, not the directory. The
    *    bucket count is part of the layout contract: written on creation,
    *    validated on every later batch (a mismatched count would hash the
    *    same key into a different bucket and duplicate it). A crash between
    *    the create write and the marker leaves data without a marker; the
    *    replay re-creates with Overwrite ([[requireCreatableBucketDir]]
    *    refuses a foreign directory).
    *  - Create: an empty batch creates nothing; otherwise the SAME merge
    *    as every later batch, against an empty table, so in-batch
    *    duplicates and net-deletes resolve on the first batch too.
    *    `count()`, not `isEmpty`: the limit-1 read consumes the checkpoint's
    *    partition partially, so nothing caches and the create write would
    *    re-read the batch source.
    *  - Later batches: [[restoreSwap]] undoes a crashed swap,
    *    [[requireStoredSchema]] rejects a drifted batch, the touched buckets
    *    are collected (≤ nBuckets driver-side values; an empty batch stops
    *    here) and read partition-pruned with the table's schema given
    *    explicitly (the layout contract makes it the batch's data schema,
    *    so no per-batch schema-inference job), and [[replaceBuckets]]
    *    writes the merge once into a stage and swaps it in.
    *  - Every write clusters by bucket: one file per bucket, since every
    *    later merge re-reads these files.
    *  - A table whose rows all netted to deletes keeps one empty,
    *    schema-carrying file in `__bucket=0`, so it stays a readable empty
    *    table (zero files would fail every later read). */
  private def mergeBucketed(spark: SparkSession, tableDir: String,
                            batch: DataFrame, key: Seq[String], nBuckets: Int,
                            feedCols: Seq[String])(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val f = fs(spark, tableDir)
    val marker = new Path(tableDir, "_graft_nbuckets")
    val inc = batch
      .withColumn("__bucket",
        pmod(xxhash64(key.map(col): _*), lit(nBuckets.toLong)).cast("int"))
      .localCheckpoint(eager = false)
    val stored = inc.drop(feedCols: _*)
    val fresh = !f.exists(marker)
    val merged =
      if (fresh) {
        if (inc.count() == 0L) return
        requireCreatableBucketDir(f, tableDir)
        val created = merge(stored.limit(0), inc)
        created.repartition(col("__bucket"))
          .write.mode(SaveMode.Overwrite).partitionBy("__bucket")
          .parquet(tableDir)
        created
      } else {
        val in = f.open(marker)
        val declared = try new String(in.readAllBytes(), "UTF-8").trim.toInt
          finally in.close()
        require(declared == nBuckets,
          s"bucket-count mismatch: table $tableDir was created with " +
            s"$declared buckets, batch hashed with $nBuckets — the same key " +
            "would land in a different bucket and duplicate")
        restoreSwap(f, tableDir)
        requireStoredSchema(spark, tableDir, batch.drop(feedCols: _*).schema)
        val touched = inc.select(col("__bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        if (touched.isEmpty) return
        val existing = spark.read.schema(stored.schema).parquet(tableDir)
          .filter(col("__bucket").isin(touched: _*))
        val swapped = merge(existing, inc)
        replaceBuckets(f, tableDir, swapped, touched)
        swapped
      }
    // merged.limit(0) plans to an empty local relation: nothing re-reads
    // the swapped files
    if (!f.listStatus(new Path(tableDir))
        .exists(_.getPath.getName.startsWith("__bucket=")))
      merged.drop("__bucket").limit(0).coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$tableDir/__bucket=0")
    if (fresh) {
      val out = f.create(marker, true)
      out.write(nBuckets.toString.getBytes("UTF-8")); out.close()
    }
  }

  /** Swap `touched` bucket directories for the contents of `merged`: one
    * write job into a hidden `.graft_stage_*` dir under the table (hidden
    * → invisible to readers and partition discovery), then per written
    * bucket two driver-side renames — the old bucket aside into the
    * stage, the new one in — and the stage deleted last. A touched bucket
    * ABSENT from the stage netted to zero rows (CDC all-deletes) and is
    * deleted: replaying the batch against the missing bucket nets it to
    * zero again.
    *
    * Crash safety needs atomic directory renames. A crash between the two
    * renames leaves the bucket's old rows aside in the stage, and
    * [[restoreSwap]] renames them back before the replayed batch reads the
    * table; a crash after the new bucket is in leaves a bucket the replay
    * re-merges idempotently. No rename targets an existing path (a
    * directory renamed onto a directory lands inside it). */
  private def replaceBuckets(f: org.apache.hadoop.fs.FileSystem,
                             tableDir: String, merged: DataFrame,
                             touched: Seq[Int]): Unit = {
    val stage = new Path(tableDir,
      s".graft_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    // Hash-clustering on __bucket puts each touched bucket in exactly one
    // task → one file per bucket per merge (guide §6 file sizing: without
    // it every task opened a writer per bucket it saw, hundreds of KB-sized
    // files per micro-batch that the next merge re-read).
    merged
      .repartition(math.max(1, touched.size),
        org.apache.spark.sql.functions.col("__bucket"))
      .write.mode(SaveMode.ErrorIfExists).partitionBy("__bucket")
      .parquet(stage.toString)
    val written = f.listStatus(stage).map(_.getPath.getName).toSet
    touched.map(b => s"__bucket=$b").foreach { name =>
      val dst = new Path(tableDir, name)
      if (!written(name)) f.delete(dst, true)
      else {
        if (f.exists(dst)) rename(f, dst, new Path(stage, s"aside-$name"))
        rename(f, new Path(stage, name), dst)
      }
    }
    f.delete(stage, true)
  }

  /** Undo a crashed [[replaceBuckets]]: every bucket set aside in a stage
    * whose table bucket is missing is renamed back, then the stage is
    * deleted. Runs before a batch reads the table. */
  private def restoreSwap(f: org.apache.hadoop.fs.FileSystem,
                          tableDir: String): Unit =
    f.listStatus(new Path(tableDir)).map(_.getPath)
      .filter(_.getName.startsWith(".graft_stage_"))
      .foreach { stage =>
        f.listStatus(stage).map(_.getPath)
          .filter(_.getName.startsWith("aside-"))
          .foreach { aside =>
            val dst = new Path(tableDir, aside.getName.stripPrefix("aside-"))
            if (!f.exists(dst)) rename(f, aside, dst)
          }
        f.delete(stage, true)
      }

  private def rename(f: org.apache.hadoop.fs.FileSystem, src: Path,
                     dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"failed to rename $src -> $dst")

  /** Current contents of an [[upsertSnapshotBucketed]] table (layout
    * column dropped). The schema comes from one bucket file's footer
    * ([[storedBucketSchema]], read on the driver) instead of parquet
    * schema inference, which runs a Spark job on every call; a table with
    * no bucket data file fails loud. */
  def readBucketedSnapshot(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.schema(storedBucketSchema(spark, tableDir)).parquet(tableDir)
      .drop("__bucket")

  /** Create-branch safety for the bucketed tables: a marker-less dir is
    * re-creatable ONLY if it looks like our own partial create (nothing
    * but __bucket= partitions, _-prefixed job metadata and hidden
    * stages); anything else is a foreign directory and fails loud. */
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

  /** Schema-drift gate of the bucketed sinks: a batch's data columns must
    * be the table's stored columns — the same names under the session
    * resolver and the same types (nullability aside). The touched-bucket
    * read imposes the batch's schema on the stored files, so without this
    * gate a column the batch lacks silently vanishes from every rewritten
    * bucket, an extra batch column reads back all-null for the old rows,
    * and a changed type is written into the rewritten buckets, after which
    * reading the table fails on the mixed file types.
    * The stored schema is the Spark row schema Spark writes into every
    * parquet footer, read from ONE bucket file on the driver: a listing
    * and a footer read, no Spark job. */
  private def requireStoredSchema(spark: SparkSession, tableDir: String,
                                  batch: StructType): Unit = {
    val stored = storedBucketSchema(spark, tableDir)
    val resolver = spark.sessionState.analyzer.resolver
    def find(s: StructType, name: String) =
      s.find(fd => resolver(fd.name, name))
    def loose(t: DataType): DataType = t match {
      case s: StructType => StructType(s.map(fd =>
        StructField(fd.name, loose(fd.dataType))))
      case a: ArrayType => ArrayType(loose(a.elementType))
      case m: MapType => MapType(loose(m.keyType), loose(m.valueType))
      case other => other
    }
    val missing = stored.filter(fd => find(batch, fd.name).isEmpty)
      .map(_.name)
    val extra = batch.filter(fd => find(stored, fd.name).isEmpty).map(_.name)
    val changed = stored.flatMap(fd => find(batch, fd.name)
      .filter(b => loose(b.dataType) != loose(fd.dataType))
      .map(b => s"${fd.name}: table ${fd.dataType.simpleString} vs batch " +
        b.dataType.simpleString))
    require(missing.isEmpty && extra.isEmpty && changed.isEmpty,
      s"schema drift against bucketed table $tableDir — " +
        Seq("missing" -> missing, "extra" -> extra, "changed type" -> changed)
          .filter(_._2.nonEmpty)
          .map { case (k, v) => s"$k: ${v.mkString(", ")}" }.mkString("; "))
  }

  /** The data schema of a bucketed table, from the footer of its first
    * bucket file (every bucket carries the same columns by the layout
    * contract; an emptied table keeps one empty schema-carrying file). */
  private def storedBucketSchema(spark: SparkSession,
                                 tableDir: String): StructType = {
    val f = fs(spark, tableDir)
    val conf = spark.sparkContext.hadoopConfiguration
    def visible(p: Path) =
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    val file = f.listStatus(new Path(tableDir)).iterator
      .filter(_.getPath.getName.startsWith("__bucket="))
      .flatMap(d => f.listStatus(d.getPath).iterator.map(_.getPath))
      .find(visible)
      .getOrElse(throw new IllegalStateException(
        s"$tableDir holds no bucket data file"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val meta = reader.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    } finally reader.close()
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
    * output files, and rewrites via round-robin repartition through
    * [[writeNextVersion]] — the next version past every directory, so a
    * crashed attempt's uncommitted debris never wedges a later compaction,
    * and the `_SUCCESS` check holds. Content-identical by construction
    * (repartition moves rows, never drops), and readers always see a
    * complete version (the upsertSnapshot atomicity story). Old versions
    * are retained for the caller's retention policy to reap.
    *
    * Returns (filesBefore, filesAfter, newVersion). Compaction of an
    * already-compact table still advances the version — idempotent in
    * content, explicit in lineage. */
  def compactSnapshot(spark: SparkSession, tableDir: String,
                      targetBytes: Long): (Int, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val f = fs(spark, tableDir)
    val versions = listVersions(spark, tableDir)
    require(versions.nonEmpty, s"$tableDir has no v=N snapshot versions")
    def dataFiles(v: Int) = f.listStatus(new Path(s"$tableDir/v=$v")).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val before = dataFiles(versions.last)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val next = writeNextVersion(spark, tableDir,
      spark.read.parquet(s"$tableDir/v=${versions.last}").repartition(nOut))
    (before.size, dataFiles(next).size, next)
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
    val f = fs(spark, tableDir)
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

  /** The one read-merge-publish of a versioned state artifact (the
    * streaming sketch sinks): the first publish is `state`, every later
    * one `merge(current)` over the latest committed version, and the
    * trail is then bounded by [[vacuumSnapshotIfGrown]] (growth-gated:
    * one listing per publish on the streaming hot path). A table with no
    * COMMITTED version — a crashed first publish leaves only debris —
    * counts as fresh, so the restart converges instead of failing every
    * replay.
    *
    * `ledger = Some((batchId, countCol))` keeps a batch ledger for a merge
    * that is not idempotent (counter addition): state rows carry
    * `batch_id = -1`, each publish adds one row with `batch_id = batchId`,
    * `countCol` 0 and every other column null, `merge` sees the state rows
    * only, and a batch at or below the ledger's high-water mark is an
    * exact no-op (batch ids are monotonic and stable across
    * checkpoint-recovered retries). Without a ledger the merge must be
    * idempotent by its algebra (HLL union, bloom OR), so a redelivered
    * batch leaves the artifact's contents unchanged. */
  private[graft] def foldSnapshot(spark: SparkSession, tableDir: String,
                                  state: DataFrame, keepLast: Int,
                                  ledger: Option[(Long, String)] = None)(
      merge: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max}
    def withLedger(df: DataFrame) = ledger.fold(df) { case (id, countCol) =>
      df.unionByName(spark.range(1).select(state.schema.fields.map { fd =>
        (fd.name match {
          case `countCol` => lit(0L)
          case "batch_id" => lit(id)
          case _ => lit(null)
        }).cast(fd.dataType).as(fd.name)
      }.toSeq: _*))
    }
    latestCommittedVersion(spark, tableDir) match {
      case None => replaceSnapshot(spark, tableDir, withLedger(state))
      case Some(v) =>
        val current = spark.read.parquet(s"$tableDir/v=$v")
        val applied = ledger.exists { case (id, _) =>
          id <= current.filter(col("batch_id") >= 0)
            .agg(max(col("batch_id"))).head.getLong(0)
        }
        if (applied) return
        replaceSnapshot(spark, tableDir, withLedger(merge(
          if (ledger.isEmpty) current
          else current.filter(col("batch_id") < 0))))
    }
    vacuumSnapshotIfGrown(spark, tableDir, keepLast)
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
