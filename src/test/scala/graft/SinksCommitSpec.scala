package graft

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.Sinks

/** The local filesystem under a scheme of its own (`crashfs:`), so a spec
  * can run a sink against a table that is not on the session's default
  * filesystem. Armed through [[CrashingLocalFs.armed]], it throws on the
  * next rename of a staged `__bucket=` directory (the one under a
  * `.graft_stage_*` dir) into its table — the crash point inside the
  * bucketed swap. */
class CrashingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = CrashingLocalFs.Uri
  override def getScheme: String = CrashingLocalFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    if (src.getParent.getName.startsWith(".graft_stage_") &&
      src.getName.startsWith("__bucket=") &&
      CrashingLocalFs.armed.compareAndSet(true, false))
      throw new java.io.IOException(s"injected crash renaming $src -> $dst")
    super.rename(src, dst)
  }
}

object CrashingLocalFs {
  val Scheme = "crashfs"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Register the scheme on the session and return `localDir` under it. */
  def path(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CrashingLocalFs].getName)
    s"$Scheme://$localDir"
  }
}

/** Round-16 commit-protocol hardening of the versioned snapshot layout:
  *
  *  - [[Sinks.hasCommittedVersion]] is the existence gate serving paths
  *    use — it must see COMMITTED versions only (a crashed first write
  *    leaves a dir with no committed version and must read as "absent"),
  *  - marker-less legacy tables (written where the committer does not
  *    emit `_SUCCESS`) stay readable via the no-marker fallback,
  *  - [[Sinks.vacuumSnapshotIfGrown]] amortizes the streaming hot-path
  *    vacuum: no reclaim until the raw trail exceeds 2×keepLast, full
  *    vacuum after,
  *  - every sink resolves its table's own filesystem, a crash inside the
  *    bucketed swap replays to the table a clean run builds, and a
  *    crashed uncommitted version does not wedge compaction.
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

    // simulate a crash during the FIRST write: v=1 exists, no _SUCCESS,
    // in-flight _temporary debris still present (so the legacy fallback
    // must NOT adopt it either)
    fs.mkdirs(new Path(s"$dir/v=1/_temporary"))
    assert(!Sinks.hasCommittedVersion(spark, dir),
      "uncommitted v=1 (crash mid-first-write) must gate false")
    intercept[IllegalArgumentException] { Sinks.readSnapshot(spark, dir) }

    // a real commit past the debris: gate flips true, reader sees it
    val v = Sinks.replaceSnapshot(spark, dir,
      Seq((1, "a")).toDF("id", "s"))
    assert(v === 2, "next version must advance past crashed debris")
    assert(Sinks.hasCommittedVersion(spark, dir))
    assert(Sinks.readSnapshot(spark, dir).count() === 1)
    fs.delete(new Path(dir), true)
  }

  test("legacy marker-less table stays readable; a marker-bearing version disables the fallback") {
    val dir = freshDir("legacy")
    Sinks.replaceSnapshot(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "s"))
    Sinks.replaceSnapshot(spark, dir, Seq((3, "c")).toDF("id", "s"))
    // strip EVERY marker — the pre-round-15 on-disk layout, or a cluster
    // whose committer never writes markers
    Seq(1, 2).foreach(v => fs.delete(new Path(s"$dir/v=$v/_SUCCESS"), false))
    assert(Sinks.hasCommittedVersion(spark, dir),
      "marker-less-but-nonempty legacy table must stay readable")
    assert(Sinks.readSnapshot(spark, dir).as[(Int, String)].collect().toSet
      === Set((3, "c")), "fallback must still serve the LATEST version")
    // in fallback mode, mid-write debris is still excluded
    fs.mkdirs(new Path(s"$dir/v=3/_temporary"))
    assert(Sinks.readSnapshot(spark, dir).as[(Int, String)].collect().toSet
      === Set((3, "c")), "in-flight _temporary dir must not be adopted")
    fs.delete(new Path(s"$dir/v=3"), true)
    // one marker-bearing version → strict mode: only IT is committed
    Sinks.replaceSnapshot(spark, dir, Seq((4, "d")).toDF("id", "s"))
    assert(Sinks.readSnapshot(spark, dir).as[(Int, String)].collect().toSet
      === Set((4, "d")),
      "a marker-bearing version must put the table back in strict mode")
    fs.delete(new Path(dir), true)
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

  test("bucketed swap crash: an upsert and a CDC batch that crash mid-swap " +
    "replay to the table a run with no crash builds") {
    val local = freshDir("swap")
    val dir = CrashingLocalFs.path(spark, local)
    val key = Seq("user_id")
    val seed = (0 until 32).map(i => (s"u$i", s"old$i", "I", 1L))
      .toDF("user_id", "v", "op", "ord")
    // touches several buckets; the CDC form also deletes keys
    val batch = (0 until 32 by 5).map(i => (s"u$i",
      s"new$i", if (i % 2 == 0) "D" else "U", 2L)).toDF("user_id", "v", "op", "ord")
    val sinks: Seq[(String, (String, DataFrame) => Unit)] = Seq(
      "upsert" -> ((t, df) => Sinks.upsertSnapshotBucketed(spark, t,
        df.drop("op"), key, "ord", nBuckets = 4)),
      "cdc" -> ((t, df) => Sinks.applyChangesBucketed(spark, t, df, key,
        "ord", "op", nBuckets = 4)))
    def rows(t: String): Set[Row] =
      Sinks.readBucketedSnapshot(spark, t).collect().toSet
    sinks.foreach { case (name, write) =>
      write(s"$dir/$name-clean", seed)
      write(s"$dir/$name-clean", batch)
      write(s"$dir/$name-crash", seed)
      CrashingLocalFs.armed.set(true)
      intercept[java.io.IOException](write(s"$dir/$name-crash", batch))
      assert(!CrashingLocalFs.armed.get, s"$name: the swap must have crashed")
      write(s"$dir/$name-crash", batch) // the checkpoint's replay
      assert(rows(s"$dir/$name-crash") === rows(s"$dir/$name-clean"), name)
      assert(rows(s"$dir/$name-clean").size === (if (name == "cdc") 28 else 32))
    }
    fs.delete(new Path(local), true)
  }

  test("compactSnapshot writes past a crashed, uncommitted version") {
    val dir = freshDir("compact")
    Sinks.replaceSnapshot(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "s"))
    fs.mkdirs(new Path(s"$dir/v=2/_temporary")) // crashed attempt's debris
    val (_, after, v) = Sinks.compactSnapshot(spark, dir, 1L << 20)
    assert(v === 3 && after === 1)
    assert(Sinks.latestCommittedVersion(spark, dir) === Some(3))
    assert(Sinks.readSnapshot(spark, dir).as[(Int, String)].collect().toSet
      === Set((1, "a"), (2, "b")))
    fs.delete(new Path(dir), true)
  }
}
