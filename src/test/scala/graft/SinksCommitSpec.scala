package graft

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.Sinks

/** The local filesystem under a scheme of its own (`crashfs:`), so a spec
  * can run a sink against a table that is not on the session's default
  * filesystem. Armed through [[CrashingLocalFs.armed]], it throws when the
  * next commit-log entry is renamed into place — the crash point between
  * a commit's data files and its entry. With [[CrashingLocalFs.copyRename]]
  * set, every rename copies and then deletes, as GCS and S3 do. */
class CrashingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = CrashingLocalFs.Uri
  override def getScheme: String = CrashingLocalFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getParent.getName == "_graft_log" &&
      CrashingLocalFs.armed.compareAndSet(true, false))
      throw new java.io.IOException(s"injected crash creating entry $dst")
    if (CrashingLocalFs.copyRename.get)
      org.apache.hadoop.fs.FileUtil.copy(this, src, this, dst, true, getConf)
    else super.rename(src, dst)
  }
}

object CrashingLocalFs {
  val Scheme = "crashfs"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val copyRename = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Register the scheme on the session and return `localDir` under it. */
  def path(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CrashingLocalFs].getName)
    s"$Scheme://$localDir"
  }
}

/** The commit log of the versioned and bucketed layouts:
  *
  *  - [[Sinks.hasCommittedVersion]] is the existence gate serving paths
  *    use — it must see COMMITTED versions only (a crashed first write
  *    leaves files no entry lists and must read as "absent"),
  *  - a directory with no log (a table written before it) fails loud and
  *    names its conversion,
  *  - [[Sinks.vacuumSnapshotIfGrown]] amortizes the streaming hot-path
  *    vacuum: no reclaim until the log exceeds 2×keepLast entries, full
  *    vacuum after,
  *  - every sink resolves its table's own filesystem; a crash between a
  *    commit's data files and its entry leaves the previous table whole
  *    for readers and replays to the table a clean run builds; a
  *    copy-and-delete rename commits the same tables; and a crashed
  *    uncommitted version does not wedge compaction.
  */
class SinksCommitSpec extends SparkSpecBase {
  import spark.implicits._

  private def fs =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def freshDir(tag: String): String =
    s"/tmp/graft_sinkscommit_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  test("hasCommittedVersion: false on absent dir, false on uncommitted debris, true after commit") {
    val dir = freshDir("gate")
    assert(!Sinks.hasCommittedVersion(spark, dir), "absent dir must gate false")

    // simulate a crash during the FIRST write: the log exists (a commit
    // creates it first) but holds no entry, and v=1 holds in-flight
    // _temporary debris
    fs.mkdirs(new Path(s"$dir/_graft_log"))
    fs.mkdirs(new Path(s"$dir/v=1/_temporary"))
    assert(!Sinks.hasCommittedVersion(spark, dir),
      "uncommitted v=1 (crash mid-first-write) must gate false")
    intercept[IllegalArgumentException] { Sinks.readSnapshot(spark, dir) }

    // a real commit over the debris: gate flips true, reader sees it
    val v = Sinks.replaceSnapshot(spark, dir,
      Seq((1, "a")).toDF("id", "s"))
    assert(v === 1,
      "the retry takes the version the crashed write never committed")
    assert(Sinks.hasCommittedVersion(spark, dir))
    assert(Sinks.readSnapshot(spark, dir).count() === 1)
    fs.delete(new Path(dir), true)
  }

  test("a directory with no commit log fails loud on read and write") {
    val dir = freshDir("nolog")
    // a versioned table as written before the log: v=N data, no entries
    val rows = Seq((1, "a"), (2, "b")).toDF("id", "s")
    rows.write.parquet(s"$dir/v=1")
    val b = Seq(("u1", 1L)).toDF("user_id", "ord")
    val calls: Seq[(String, () => Any)] = Seq(
      "readSnapshot" -> (() => Sinks.readSnapshot(spark, dir)),
      "readBucketedSnapshot" -> (() => Sinks.readBucketedSnapshot(spark, dir)),
      "hasCommittedVersion" -> (() => Sinks.hasCommittedVersion(spark, dir)),
      "vacuumSnapshot" -> (() => Sinks.vacuumSnapshot(spark, dir, 1)),
      "replaceSnapshot" -> (() => Sinks.replaceSnapshot(spark, dir, rows)),
      "upsertSnapshotBucketed" -> (() => Sinks.upsertSnapshotBucketed(spark,
        dir, b, Seq("user_id"), "ord", nBuckets = 4)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("holds no commit log") &&
        e.getMessage.contains("replaceSnapshot(spark, newDir"), name)
    }
    // the named conversion works
    val converted = freshDir("converted")
    assert(Sinks.replaceSnapshot(spark, converted,
      spark.read.parquet(s"$dir/v=1")) === 1)
    assert(Sinks.readSnapshot(spark, converted).as[(Int, String)].collect()
      .toSet === Set((1, "a"), (2, "b")))
    Seq(dir, converted).foreach(d => fs.delete(new Path(d), true))
  }

  test("vacuumSnapshotIfGrown: no reclaim until the trail exceeds 2x keepLast, full vacuum after") {
    val dir = freshDir("vacgate")
    def rawCount: Int =
      fs.listStatus(new Path(dir)).count(_.getPath.getName.startsWith("v="))
    (1 to 4).foreach { i =>
      Sinks.replaceSnapshot(spark, dir, Seq((i, s"r$i")).toDF("id", "s"))
      Sinks.vacuumSnapshotIfGrown(spark, dir, keepLast = 2)
    }
    assert(rawCount === 4, "trail of 4 <= 2x keepLast=2 must not be vacuumed")
    Sinks.replaceSnapshot(spark, dir, Seq((5, "r5")).toDF("id", "s"))
    Sinks.vacuumSnapshotIfGrown(spark, dir, keepLast = 2) // 5 > 4: vacuums
    assert(rawCount === 2, "exceeding 2x keepLast must trigger a full vacuum")
    assert(Sinks.readSnapshot(spark, dir).as[(Int, String)].collect().toSet
      === Set((5, "r5")), "latest version survives the gated vacuum")
    fs.delete(new Path(dir), true)
  }

  test("sinks run on a table outside the session's default filesystem") {
    val local = freshDir("scheme")
    val dir = CrashingLocalFs.path(spark, local)
    Sinks.upsertSnapshot(spark, s"$dir/v",
      Seq((1L, "a"), (2L, "a")).toDF("k", "s"), Seq("k"), "s")
    assert(Sinks.upsertSnapshot(spark, s"$dir/v",
      Seq((2L, "b"), (3L, "b")).toDF("k", "s"), Seq("k"), "s") === 2)
    assert(Sinks.readSnapshot(spark, s"$dir/v").as[(Long, String)].collect()
      .toSet === Set((1L, "a"), (2L, "b"), (3L, "b")))
    val seed = (0 until 16).map(i => (s"u$i", 1L, s"old$i"))
      .toDF("user_id", "ord", "v")
    Sinks.upsertSnapshotBucketed(spark, s"$dir/b", seed, Seq("user_id"),
      "ord", nBuckets = 4)
    Sinks.upsertSnapshotBucketed(spark, s"$dir/b",
      Seq(("u3", 2L, "new3"), ("u99", 2L, "new99")).toDF("user_id", "ord", "v"),
      Seq("user_id"), "ord", nBuckets = 4)
    val out = Sinks.readBucketedSnapshot(spark, s"$dir/b")
      .as[(String, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(out.size === 17)
    assert(out("u3") === "new3" && out("u99") === "new99" &&
      out("u4") === "old4")
    fs.delete(new Path(local), true)
  }

  private val crashKey = Seq("user_id")
  private def crashSeed = (0 until 32).map(i => (s"u$i", s"old$i", "I", 1L))
    .toDF("user_id", "v", "op", "ord")
  // touches several buckets; the CDC form also deletes keys
  private def crashBatch = (0 until 32 by 5).map(i => (s"u$i",
    s"new$i", if (i % 2 == 0) "D" else "U", 2L)).toDF("user_id", "v", "op", "ord")

  /** The crash specs' sinks: a writer and the reader of its layout. */
  private val crashSinks: Seq[(String, (String, DataFrame) => Unit,
      String => Set[Row])] = Seq(
    ("upsert", (t, df) => Sinks.upsertSnapshotBucketed(spark, t,
      df.drop("op"), crashKey, "ord", nBuckets = 4),
      t => Sinks.readBucketedSnapshot(spark, t).collect().toSet),
    ("cdc", (t, df) => Sinks.applyChangesBucketed(spark, t, df, crashKey,
      "ord", "op", nBuckets = 4),
      t => Sinks.readBucketedSnapshot(spark, t).collect().toSet),
    ("versioned", (t, df) => { Sinks.upsertSnapshot(spark, t, df.drop("op"),
      crashKey, "ord"); () },
      t => Sinks.readSnapshot(spark, t).collect().toSet))

  test("crash before the log entry: old table read whole; replay builds the new") {
    val local = freshDir("crash")
    val dir = CrashingLocalFs.path(spark, local)
    crashSinks.foreach { case (name, write, rows) =>
      write(s"$dir/$name-clean", crashSeed)
      write(s"$dir/$name-clean", crashBatch)
      write(s"$dir/$name-crash", crashSeed)
      val before = rows(s"$dir/$name-crash")
      CrashingLocalFs.armed.set(true)
      intercept[java.io.IOException](write(s"$dir/$name-crash", crashBatch))
      assert(!CrashingLocalFs.armed.get, s"$name: the commit must have crashed")
      // the batch's data files are written, its entry is not: a reader
      // sees the previous table whole
      assert(rows(s"$dir/$name-crash") === before, name)
      write(s"$dir/$name-crash", crashBatch) // the checkpoint's replay
      assert(rows(s"$dir/$name-crash") === rows(s"$dir/$name-clean"), name)
      assert(rows(s"$dir/$name-clean").size === (if (name == "cdc") 28 else 32))
    }
    fs.delete(new Path(local), true)
  }

  test("a copy-and-delete rename (object stores) commits the same tables") {
    val local = freshDir("copyrename")
    val dir = CrashingLocalFs.path(spark, local)
    crashSinks.foreach { case (name, write, _) =>
      write(s"$dir/$name-rename", crashSeed)
      write(s"$dir/$name-rename", crashBatch)
    }
    CrashingLocalFs.copyRename.set(true)
    try crashSinks.foreach { case (name, write, _) =>
      write(s"$dir/$name-copy", crashSeed)
      write(s"$dir/$name-copy", crashBatch)
    } finally CrashingLocalFs.copyRename.set(false)
    crashSinks.foreach { case (name, _, rows) =>
      assert(rows(s"$dir/$name-copy") === rows(s"$dir/$name-rename"), name)
      assert(rows(s"$dir/$name-copy").nonEmpty, name)
    }
    fs.delete(new Path(local), true)
  }

  test("compactSnapshot writes past a crashed, uncommitted version") {
    val dir = freshDir("compact")
    Sinks.replaceSnapshot(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "s"))
    fs.mkdirs(new Path(s"$dir/v=2/_temporary")) // crashed attempt's debris
    val (_, after, v) = Sinks.compactSnapshot(spark, dir, 1L << 20)
    assert(v === 2 && after === 1)
    assert(Sinks.latestCommittedVersion(spark, dir) === Some(2))
    assert(!fs.exists(new Path(s"$dir/v=2/_temporary")),
      "the commit clears the crashed attempt's files first")
    assert(Sinks.readSnapshot(spark, dir).as[(Int, String)].collect().toSet
      === Set((1, "a"), (2, "b")))
    fs.delete(new Path(dir), true)
  }
}
