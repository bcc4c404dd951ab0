package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.lit

import graft.streaming.BoundedStream

/** Pins the one bounded-stream driver: land → open → drain replays each
  * landed chunk as one micro-batch, the batch-directory sink is
  * idempotent across a rerun, and the state-partition window sizes from
  * the input and always restores the session. */
class BoundedStreamSpec extends SparkSpecBase {

  private def batchDirs(out: String): Seq[String] =
    new java.io.File(out).list().filter(_.startsWith("batch=")).toSeq.sorted

  test("four landed chunks drain in exactly four triggers; a rerun " +
    "against the same checkpoint writes no new batch directory") {
    val base = Files.createTempDirectory("graft_bounded").toString
    BoundedStream.land(s"$base/in",
      (0 until 4).map(i => spark.range(i * 10L, i * 10L + 10L).toDF("id")))
    def drain() = BoundedStream.drain(
      BoundedStream.open(spark, "id LONG", s"$base/in"), s"$base/ckpt")(
      BoundedStream.parquetSink(s"$base/out"))
    val q = drain()
    assert(!q.isActive)
    assert(q.recentProgress.map(_.batchId).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(batchDirs(s"$base/out") ===
      Seq("batch=0", "batch=1", "batch=2", "batch=3"))
    val ids = spark.read.parquet(s"$base/out").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 40L))
    // each chunk is its own micro-batch, in landing order
    assert(spark.read.parquet(s"$base/out/batch=2").collect()
      .map(_.getLong(0)).sorted.toSeq === (20L until 30L))

    val stamps = batchDirs(s"$base/out").map(d =>
      new java.io.File(s"$base/out/$d").lastModified())
    val again = drain()
    assert(again.recentProgress.forall(_.numInputRows == 0L))
    assert(batchDirs(s"$base/out") ===
      Seq("batch=0", "batch=1", "batch=2", "batch=3"))
    assert(batchDirs(s"$base/out").map(d =>
      new java.io.File(s"$base/out/$d").lastModified()) === stamps)
  }

  test("a lineage-named sink writes batch=<runId>-<id>, skipEmpty skips " +
    "empty batches, and a path-unsafe run id is rejected before any write") {
    val out = Files.createTempDirectory("graft_bounded_sink").toString
    intercept[IllegalArgumentException](
      BoundedStream.parquetSink(out, Some("a/b")))
    intercept[IllegalArgumentException](
      BoundedStream.parquetSink(out, Some("")))
    val sink = BoundedStream.skipEmpty(BoundedStream.parquetSink(out,
      Some("r1"), (b, id) => b.withColumn("batch_id", lit(id))))
    sink(spark.range(0).toDF("id"), 0L)
    sink(spark.range(3).toDF("id"), 1L)
    sink(spark.range(3).toDF("id"), 1L) // a replay overwrites
    assert(batchDirs(out) === Seq("batch=r1-1"))
    assert(spark.read.parquet(s"$out/batch=r1-1")
      .filter("batch_id = 1").count() === 3L)
    // unwrapped, an empty batch still writes its schema-only directory
    val plain = Files.createTempDirectory("graft_bounded_plain").toString
    BoundedStream.parquetSink(plain)(spark.range(0).toDF("id"), 0L)
    assert(batchDirs(plain) === Seq("batch=0"))
    assert(spark.read.parquet(plain).columns.contains("id"))
  }

  test("state partitions are max(2, ceil(rows / rowsPerStatePartition)); " +
    "AQE is off below the target and on at it") {
    val ss = spark.newSession()
    ss.conf.set("spark.graft.stream.rowsPerStatePartition", "10")
    ss.conf.set("spark.sql.shuffle.partitions", "7")
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    for ((rows, parts, aqe) <- Seq((0L, 2, false), (9L, 2, false),
        (10L, 2, true), (25L, 3, true), (100L, 10, true), (101L, 11, true)))
      BoundedStream.withStatePartitions(ss, rows) {
        assert(ss.conf.get("spark.sql.shuffle.partitions") === parts.toString,
          s"rows=$rows")
        assert(ss.conf.get("spark.sql.adaptive.enabled") === aqe.toString,
          s"rows=$rows")
      }
    // an explicit count wins over the formula
    ss.conf.set("spark.graft.stream.statePartitions", "5")
    assert(BoundedStream.statePartitionsFor(ss, 1000L) === 5)
    assert(ss.conf.get("spark.sql.shuffle.partitions") === "7")
    assert(ss.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("the window restores shuffle partitions and AQE after a body " +
    "that throws") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "7")
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    val e = intercept[IllegalStateException] {
      BoundedStream.withStatePartitions(ss, 3L) {
        assert(ss.conf.get("spark.sql.shuffle.partitions") === "2")
        assert(ss.conf.get("spark.sql.adaptive.enabled") === "false")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(ss.conf.get("spark.sql.shuffle.partitions") === "7")
    assert(ss.conf.get("spark.sql.adaptive.enabled") === "true")
  }
}
