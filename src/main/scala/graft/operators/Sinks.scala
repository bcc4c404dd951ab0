package graft.operators

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

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
  * Versioned and bucketed tables keep ONE commit log each,
  * `_graft_log/<n>.json`, written and read only here (the log of the
  * Structured Streaming file sink, Delta and Iceberg). Entry `n` is
  * version `n`: the table's live data files (relative to the table
  * directory; per bucket in the bucketed layout), its schema and, for a
  * bucketed table, the bucket count. A commit writes its data files
  * under `v=<n+1>/` (cleared first: files there belong to no entry),
  * then creates entry `n + 1` ([[commit]]). A reader opens exactly the
  * newest entry's files with its schema, so it never sees a torn table
  * and never runs a schema-inference job. The versioned layout writes
  * every version whole; the bucketed one rewrites only the buckets a
  * batch touches and carries the other buckets' files over. The
  * streaming sketch artifacts publish through the one read-merge-publish
  * [[foldSnapshot]].
  *
  * Store requirement: a single-file rename that is atomic (HDFS, POSIX;
  * an object store's copy-and-delete of one object also lands whole).
  * No directory is ever renamed, and one writer commits to a table at a
  * time. A directory without a log fails loud ([[versions]]).
  *
  * Every path resolves its own filesystem (`gs://`, `s3a://`, `hdfs://`
  * tables work beside a `file:///` default).
  *
  * Scale notes: SNK1 is merge-on-write over immutable snapshots — new
  * version = anti-join(old, batch) ∪ batch. The anti-join shuffles on
  * the key; the bucketed layout rewrites only the buckets a batch
  * touches. SNK2/SNK5 are plain overwrites — no read-modify-write,
  * embarrassingly parallel.
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

  private val LogDir = "_graft_log"
  private val EntryName = """(\d+)\.json""".r
  private val VersionDir = """v=(\d+)""".r
  private val Json = new ObjectMapper()

  /** One log entry: the live data files by bucket (all under bucket 0 in
    * the versioned layout), the data schema and the bucket count of a
    * bucketed table. */
  private case class Entry(files: Map[Int, Seq[String]], schema: StructType,
                           buckets: Option[Int]) {
    def paths: Seq[String] = files.toSeq.sortBy(_._1).flatMap(_._2)
  }

  private def entryPath(tableDir: String, n: Int) =
    new Path(new Path(tableDir, LogDir), s"$n.json")

  /** The committed versions (log entry numbers) of a versioned or bucketed
    * table, oldest first — one listing of its log, no Spark job. An absent
    * or empty directory is a table with no version yet. A directory with
    * anything else and no log (a table written before the log, or not a
    * table at all) fails loud, on read and on write alike. */
  private[graft] def versions(spark: SparkSession,
                              tableDir: String): Seq[Int] = {
    val f = fs(spark, tableDir)
    val log = new Path(tableDir, LogDir)
    if (f.exists(log))
      f.listStatus(log).toSeq.map(_.getPath.getName)
        .collect { case EntryName(n) => n.toInt }.sorted
    else {
      val dir = new Path(tableDir)
      require(!f.exists(dir) || f.listStatus(dir).isEmpty,
        s"$tableDir holds no commit log ($LogDir): a table written before " +
          "the log, or not a table. Convert a versioned table with " +
          "replaceSnapshot(spark, newDir, spark.read.parquet(s\"$old/v=$n\"))" +
          " (a bucketed one: upsert spark.read.parquet(old).drop(\"__bucket\")" +
          " into a new directory)")
      Nil
    }
  }

  private def readEntry(spark: SparkSession, tableDir: String,
                        n: Int): Entry = {
    val in = fs(spark, tableDir).open(entryPath(tableDir, n))
    val doc = try Json.readTree(in) finally in.close()
    def names(a: com.fasterxml.jackson.databind.JsonNode) =
      a.asScala.map(_.asText).toSeq
    val files = doc.get("files")
    Entry(
      if (files.isArray) Map(0 -> names(files))
      else files.properties.asScala
        .map(e => e.getKey.toInt -> names(e.getValue)).toMap,
      DataType.fromJson(doc.get("schema").toString).asInstanceOf[StructType],
      Option(doc.get("buckets")).map(_.asInt))
  }

  private def latest(spark: SparkSession,
                     tableDir: String): Option[(Int, Entry)] =
    versions(spark, tableDir).lastOption.map(n =>
      n -> readEntry(spark, tableDir, n))

  /** `files` of the table read with `schema` given: no inference job. */
  private def scan(spark: SparkSession, tableDir: String, schema: StructType,
                   files: Seq[String]): DataFrame =
    spark.read.schema(schema)
      .parquet(files.map(new Path(tableDir, _).toString): _*)

  /** The one commit of both layouts: write `df` as version n + 1's data
    * under `v=<n+1>/` (partitioned by `__bucket` when `buckets` is set),
    * then create log entry n + 1 listing the files written plus `kept`
    * (the untouched buckets' files). A crash before the entry leaves files
    * no entry lists: readers keep seeing version n whole, and the replay
    * clears them.
    *
    * The entry appears whole or not at all and never replaces an existing
    * one: it is written to a hidden temp file, and that single file is
    * renamed into place only when no entry n + 1 exists. This relies on
    * the store renaming one file atomically; an object store's rename
    * (copy the object, then delete it) also lands the entry whole. */
  private def commit(spark: SparkSession, tableDir: String, df: DataFrame,
                     buckets: Option[Int],
                     kept: Map[Int, Seq[String]] = Map.empty): Int = {
    val f = fs(spark, tableDir)
    val n = versions(spark, tableDir).lastOption.getOrElse(0) + 1
    val log = new Path(tableDir, LogDir)
    // the log comes first: a crashed first commit leaves a table with no
    // version, not a directory that fails loud as foreign
    f.mkdirs(log)
    val w = df.write.mode(SaveMode.Overwrite)
    buckets.fold(w)(_ => w.partitionBy("__bucket")).parquet(s"$tableDir/v=$n")
    def data(rel: String): Seq[(Int, String)] =
      f.listStatus(new Path(tableDir, rel)).toSeq.flatMap { s =>
        val name = s.getPath.getName
        if (s.isDirectory && name.startsWith("__bucket="))
          data(s"$rel/$name").map { case (_, p) =>
            name.stripPrefix("__bucket=").toInt -> p }
        else if (s.isDirectory || name.startsWith("_") || name.startsWith("."))
          Nil
        else Seq(0 -> s"$rel/$name")
      }
    val files = kept ++ data(s"v=$n").groupMap(_._1)(_._2)
    val doc = Json.createObjectNode()
    buckets match {
      case Some(b) =>
        doc.put("buckets", b)
        val byBucket = doc.putObject("files")
        files.toSeq.sortBy(_._1).foreach { case (k, ps) =>
          val a = byBucket.putArray(k.toString); ps.sorted.foreach(a.add) }
      case None =>
        val a = doc.putArray("files")
        files.values.flatten.toSeq.sorted.foreach(a.add)
    }
    doc.set("schema", Json.readTree(df.drop("__bucket").schema.json))
    val dst = entryPath(tableDir, n)
    val tmp = new Path(log, s".$n.json.${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(Json.writeValueAsBytes(doc)) finally out.close()
    if (f.exists(dst) || !f.rename(tmp, dst)) {
      f.delete(tmp, false)
      throw new FileAlreadyExistsException(s"$dst: version $n was committed " +
        "by another writer")
    }
    n
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
    versions(spark, tableDir).lastOption

  /** Latest committed version read, or `empty` when the table has none. */
  private def readLatestOr(spark: SparkSession, tableDir: String,
                           empty: => DataFrame): DataFrame =
    latest(spark, tableDir)
      .map { case (_, e) => scan(spark, tableDir, e.schema, e.paths) }
      .getOrElse(empty)

  /** SNK1 — keyed upsert over a versioned snapshot table: read the current
    * version (empty frame if none), merge via [[Ingest.upsert]], commit
    * the result as the next version and return it. */
  def upsertSnapshot(spark: SparkSession, tableDir: String, incoming: DataFrame,
                     key: Seq[String], orderCol: String): Int = {
    val current = readLatestOr(spark, tableDir,
      incoming.filter(org.apache.spark.sql.functions.lit(false)))
    commit(spark, tableDir, Ingest.upsert(current, incoming, key, orderCol),
      None)
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
    commit(spark, tableDir,
      Ingest.upsert(align(current), align(incoming), key, orderCol), None)
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
    commit(spark, tableDir, df, None)

  /** SNK1 at scale — PARTITION-SCOPED keyed upsert: the snapshot lives
    * hash-bucketed on the upsert key, and a batch rewrites ONLY the
    * buckets its keys hash into. [[upsertSnapshot]] is the
    * reference-faithful versioned form, but it re-writes the ENTIRE
    * snapshot per batch — at 100 TB a monthly ~GB batch would rewrite
    * 100 TB; here the rewrite cost is O(touched buckets) = O(batch keys),
    * the read opens only the touched buckets' files (IngestSpec pins the
    * file-level behavior), and untouched buckets' files are never opened.
    * Each batch commits as one log entry, so readers see it whole.
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

  /** The one merge of the bucketed layout: `merge(existing, batch)` of the
    * batch (`__bucket` added, `feedCols` kept) against the table's rows
    * (`__bucket` included, `feedCols` never stored) becomes the new
    * contents of every bucket the batch touches, committed as one entry.
    *
    *  - The batch feeds the touched-bucket probe AND the merge: a lazy
    *    localCheckpoint (the Dedup convention) instead of recomputing the
    *    incoming pipeline per consumer.
    *  - The bucket count is part of the layout contract: recorded in the
    *    first entry, validated on every later batch (a mismatched count
    *    would hash the same key into a different bucket and duplicate it),
    *    as is the schema ([[requireStoredSchema]]).
    *  - The touched buckets are collected (≤ nBuckets driver-side values;
    *    an empty batch stops here and creates nothing), and only their
    *    files are read, with the batch's data schema given explicitly (no
    *    schema-inference job). A new table merges against an empty one,
    *    so in-batch duplicates and net-deletes resolve on the first batch
    *    too.
    *  - The merge is written clustered by bucket — one file per touched
    *    bucket, since every later merge re-reads these files. A touched
    *    bucket that nets to zero rows has no file in the new entry; a table
    *    whose rows all netted away is an entry with no file and its schema.
    *  - After the commit only the newest entry is kept, and the replaced
    *    files are deleted ([[vacuumSnapshot]]). */
  private def mergeBucketed(spark: SparkSession, tableDir: String,
                            batch: DataFrame, key: Seq[String], nBuckets: Int,
                            feedCols: Seq[String])(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val bucket =
      pmod(xxhash64(key.map(col): _*), lit(nBuckets.toLong)).cast("int")
    val inc = batch.withColumn("__bucket", bucket)
      .localCheckpoint(eager = false)
    val stored = batch.drop(feedCols: _*).schema
    val head = latest(spark, tableDir)
    head.foreach { case (_, e) =>
      require(e.buckets.contains(nBuckets),
        s"bucket-count mismatch: table $tableDir was created with " +
          s"${e.buckets.getOrElse("no")} buckets, batch hashed with " +
          s"$nBuckets — the same key would land in a different bucket and " +
          "duplicate")
      requireStoredSchema(spark, tableDir, e.schema, stored)
    }
    val touched = inc.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val existing = head.fold(inc.drop(feedCols: _*).limit(0)) { case (_, e) =>
      scan(spark, tableDir, stored, touched.flatMap(e.files.getOrElse(_, Nil)))
        .withColumn("__bucket", bucket)
    }
    // hash-clustering on __bucket puts each touched bucket in exactly one
    // task → one file per bucket per merge (guide §6 file sizing)
    commit(spark, tableDir,
      merge(existing, inc).repartition(touched.size, col("__bucket")),
      Some(nBuckets),
      head.fold(Map.empty[Int, Seq[String]])(_._2.files -- touched))
    vacuumSnapshot(spark, tableDir, keepLast = 1)
  }

  /** Current contents of an [[upsertSnapshotBucketed]] table (layout
    * column dropped): the newest entry's files with its schema, no Spark
    * job for a table of ≤ 32 files (Spark lists more paths than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` in a job). */
  def readBucketedSnapshot(spark: SparkSession, tableDir: String): DataFrame =
    readSnapshot(spark, tableDir)

  /** Schema-drift gate of the bucketed sinks: a batch's data columns must
    * be the table's stored columns — the same names under the session
    * resolver and the same types (nullability aside). The touched-bucket
    * read imposes the batch's schema on the stored files, so without this
    * gate a column the batch lacks silently vanishes from every rewritten
    * bucket, an extra batch column reads back all-null for the old rows,
    * and a changed type is written into the rewritten buckets, after which
    * reading the table fails on the mixed file types. */
  private def requireStoredSchema(spark: SparkSession, tableDir: String,
                                  stored: StructType,
                                  batch: StructType): Unit = {
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
    * [[upsertSnapshot]] layout).
    *
    * Reads the LATEST version, sizes it from a listing of its files'
    * directories (driver-side metadata only), targets
    * `ceil(totalBytes / targetBytes)` output files, and commits a
    * round-robin repartition as the next version. Content-identical by
    * construction (repartition moves rows, never drops), and readers
    * always see a complete version. Old versions are retained for the
    * caller's retention policy to reap.
    *
    * Returns (filesBefore, filesAfter, newVersion). Compaction of an
    * already-compact table still advances the version — idempotent in
    * content, explicit in lineage. */
  def compactSnapshot(spark: SparkSession, tableDir: String,
                      targetBytes: Long): (Int, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val f = fs(spark, tableDir)
    val (_, e) = latest(spark, tableDir).getOrElse(throw
      new IllegalArgumentException(s"$tableDir has no committed version"))
    val totalBytes = e.paths.map(new Path(tableDir, _)).groupBy(_.getParent)
      .toSeq.map { case (dir, ps) =>
        val names = ps.map(_.getName).toSet
        f.listStatus(dir).filter(s => names(s.getPath.getName)).map(_.getLen).sum
      }.sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val next = commit(spark, tableDir,
      scan(spark, tableDir, e.schema, e.paths).repartition(nOut), None)
    (e.paths.size, readEntry(spark, tableDir, next).paths.size, next)
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
    * relation-invisibility rule as [[applyChangesBucketed]].
    * Returns the new version number.
    *
    * This is the layout [[compactSnapshot]] and [[vacuumSnapshot]]
    * maintain; the three interleave freely (SnapshotSoakSpec pins the
    * full lifecycle: every version a reader ever sees is the exact
    * net-effect state of the changes applied so far). At 100 TB prefer
    * [[applyChangesBucketed]] (O(touched buckets) rewrite); this form
    * rewrites the full snapshot per batch but keeps readers of `v=N`
    * undisturbed until it is vacuumed — the documented trade between
    * the two. */
  def applyChangesSnapshot(spark: SparkSession, tableDir: String,
                           changes: DataFrame, key: Seq[String],
                           orderCol: String, opCol: String = "op"): Int = {
    val current = readLatestOr(spark, tableDir,
      changes.drop(opCol, orderCol)
        .filter(org.apache.spark.sql.functions.lit(false)))
    commit(spark, tableDir,
      applyChanges(current, changes, key, orderCol, opCol), None)
  }

  /** SNK11 — retention vacuum over a versioned or bucketed table: drop
    * every log entry older than the newest `keepLast`, oldest first, then
    * delete the files no kept entry lists (the Delta VACUUM / Iceberg
    * expire_snapshots verb — without it a 100 TB table re-upserted
    * monthly retains 100 TB × months of dead versions). A `v=N`
    * directory that holds no kept file goes whole.
    *
    * A crash mid-vacuum leaves extra entries or unlisted files behind,
    * never a gap below the newest entry; the next vacuum reaps them. It
    * never touches `v=N` above the newest entry (a commit in flight), and
    * the newest entry always survives. Returns (removedVersions,
    * keptVersions). */
  def vacuumSnapshot(spark: SparkSession, tableDir: String,
                     keepLast: Int): (Seq[Int], Seq[Int]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, tableDir)
    val all = versions(spark, tableDir)
    require(all.nonEmpty, s"$tableDir has no committed version")
    val (drop, keep) = all.splitAt(all.size - keepLast)
    drop.foreach(v => f.delete(entryPath(tableDir, v), false))
    val live = keep.flatMap(readEntry(spark, tableDir, _).paths).toSet
    def sweep(dir: Path, rel: String, top: Boolean): Unit =
      f.listStatus(dir).foreach { s =>
        val name = s.getPath.getName
        val r = rel + name
        val ours = !top || (name match {
          case VersionDir(v) => v.toInt <= keep.last
          case _ => false
        })
        if (ours && !live(r)) {
          if (s.isDirectory && live.exists(_.startsWith(r + "/")))
            sweep(s.getPath, r + "/", top = false)
          else f.delete(s.getPath, true)
        }
      }
    sweep(new Path(tableDir), "", top = true)
    (drop, keep)
  }

  /** [[vacuumSnapshot]] gated on actual growth — the streaming hot-path
    * form (round-16 advice): the probe is ONE listing of the log; the
    * full vacuum runs only once the log holds more than `2 * keepLast`
    * entries — amortized O(1) listings per batch, trail bounded at
    * ≤ 2·keepLast. */
  def vacuumSnapshotIfGrown(spark: SparkSession, tableDir: String,
                            keepLast: Int): Unit =
    if (versions(spark, tableDir).size > 2 * keepLast) {
      vacuumSnapshot(spark, tableDir, keepLast)
      ()
    }

  /** The one read-merge-publish of a versioned state artifact (the
    * streaming sketch sinks): the first publish is `state`, every later
    * one `merge(current)` over the latest committed version, and the
    * trail is then bounded by [[vacuumSnapshotIfGrown]] (growth-gated:
    * one listing per publish on the streaming hot path). A table with no
    * COMMITTED version — a crashed first publish leaves only files no
    * entry lists — counts as fresh, so the restart converges instead of
    * failing every replay.
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
    latest(spark, tableDir) match {
      case None => replaceSnapshot(spark, tableDir, withLedger(state))
      case Some((_, e)) =>
        val current = scan(spark, tableDir, e.schema, e.paths)
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

  /** Latest version of an [[upsertSnapshot]] (or bucketed) table: the
    * newest entry's files, read with its schema. */
  def readSnapshot(spark: SparkSession, tableDir: String): DataFrame =
    readLatestOr(spark, tableDir, throw new IllegalArgumentException(
      s"$tableDir has no committed version"))

  /** A specific version of an [[upsertSnapshot]] table — time travel for
    * the versioned layout (the Delta `VERSION AS OF` verb). Fails loud
    * on a vacuumed or never-written version. */
  def readSnapshotVersion(spark: SparkSession, tableDir: String,
                          version: Int): DataFrame = {
    val available = versions(spark, tableDir)
    require(available.contains(version),
      s"$tableDir has no version $version (available: " +
        s"${available.mkString(",")})")
    val e = readEntry(spark, tableDir, version)
    scan(spark, tableDir, e.schema, e.paths)
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
