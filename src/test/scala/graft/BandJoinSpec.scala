package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Filter, Join, Project}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{BandJoin, HofReferences}

/** The band-join combinator's contract on hand-built frames: what the
  * candidate stage every LSH, SimHash and IVF family shares promises
  * regardless of how a family derives its band keys. */
class BandJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private def idPairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** (id, band, key) rows; a NULL key is a row with no band value. */
  private def bands(rows: (Long, Int, java.lang.Long)*): DataFrame =
    rows.toDF("id", "band", "key")

  test("a pair sharing several bands comes out once; no self-pairs, a < b") {
    val b = bands((1L, 0, 10L), (2L, 0, 10L), (1L, 1, 11L), (2L, 1, 11L),
      (1L, 2, 12L), (2L, 2, 12L), (3L, 2, 12L), (4L, 0, 99L))
    val got = idPairs(BandJoin.selfPairs(b, Seq("key", "band"), "id", ("a", "b")))
    assert(got.sorted === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("NULL band keys never match, not even each other") {
    val b = bands((1L, 0, null), (2L, 0, null), (3L, 0, 7L), (4L, 0, 7L))
    val got = idPairs(BandJoin.selfPairs(b, Seq("key", "band"), "id", ("a", "b")))
    assert(got === Seq((3L, 4L)))
  }

  test("the probe set is symmetric, so a < b keeps a pair found from " +
    "either end") {
    val keys = spark.range(16).select(col("id").as("key"), col("id").as("k0"))
    for (flips <- Seq(0, 1, 2, 4)) {
      val rel = BandJoin.probe(keys, "key", flips, 4).collect()
        .map(r => (r.getLong(1), r.getLong(0))).toSet
      assert(rel.size === 16 * (1 + flips))
      assert(rel === rel.map(_.swap), s"flips=$flips: probe set not symmetric")
    }
    // ids 1 and 2 differ in bit 0 only; probing either end's key finds
    // the other's exact key, and the pair comes out once, as (1, 2)
    for ((k1, k2) <- Seq((2L, 3L), (3L, 2L))) {
      val b = bands((1L, 0, k1), (2L, 0, k2))
      val got = idPairs(BandJoin.pairs(
        BandJoin.probe(b, "key", 1, 2).alias("x"), b.alias("y"),
        Seq("key", "band"), Some(col("x.id") < col("y.id")),
        col("x.id"), col("y.id")))
      assert(got === Seq((1L, 2L)), s"keys ($k1, $k2)")
    }
  }

  test("cross join: the keep predicate runs before distinct; " +
    "no keep keeps every match") {
    val q = Seq((1L, 5L), (1L, 6L), (2L, 5L)).toDF("query_id", "key")
    val c = Seq((1L, 5L), (3L, 5L), (3L, 6L)).toDF("neighbor_id", "key")
    val kept = BandJoin.pairs(q, c, Seq("key"),
      Some(col("query_id") =!= col("neighbor_id")),
      col("query_id"), col("neighbor_id"))
    assert(idPairs(kept).sorted === Seq((1L, 3L), (2L, 1L), (2L, 3L)))
    // operator order: join, then keep, then the projection, then distinct
    val plan = kept.queryExecution.analyzed
    assert(plan.isInstanceOf[Deduplicate] &&
      plan.children.head.isInstanceOf[Project], s"distinct not last:\n$plan")
    assert(plan.collectFirst { case f: Filter => f }
      .exists(_.collectFirst { case j: Join => j }.isDefined),
      s"keep does not run over the join:\n$plan")
    val all = BandJoin.pairs(q, c, Seq("key"), None,
      col("query_id"), col("neighbor_id"))
    assert(idPairs(all).sorted ===
      Seq((1L, 1L), (1L, 3L), (2L, 1L), (2L, 3L)))
  }

  test("a streaming band join keeps a pair's repeats (no streaming distinct)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Int, Long)]
    val x = in.toDF().toDF("doc_new", "band", "key")
    val y = bands((9L, 0, 10L), (9L, 1, 11L)).withColumnRenamed("id", "doc_old")
    val q = BandJoin.pairs(x, y, Seq("band", "key"), None,
      col("doc_new"), col("doc_old"))
      .writeStream.format("memory").queryName("band_join_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, 0, 10L), (1L, 1, 11L), (2L, 0, 12L))
      q.processAllAvailable()
      assert(idPairs(spark.table("band_join_stream")) === Seq((1L, 9L), (1L, 9L)))
    } finally q.stop()
  }

  test("bucket kernel: the same pairs as the self-join with the cap as " +
    "a count aggregate and an anti-join, over NULL keys, NULL ids, " +
    "duplicate rows, single-row buckets and buckets at the cap") {
    // (id, band, key) rows; the bucket sizes below are counted in rows,
    // NULL ids and duplicates included
    val rows: Seq[(java.lang.Long, Int, java.lang.Long)] = Seq(
      (1L, 0, 10L), (2L, 0, 10L), (3L, 0, 10L), // 3 rows: exactly the cap
      (1L, 1, 10L), (2L, 1, 10L), (3L, 1, 10L), (4L, 1, 10L), // cap + 1
      (5L, 0, 20L), (5L, 0, 20L), (6L, 0, 20L), // a duplicate row: 3 rows
      (7L, 0, 30L), (8L, 0, 30L), (null, 0, 30L), (null, 0, 30L), // 4 rows
      (9L, 0, 40L), (10L, 0, 40L), (null, 0, 40L), // 3 rows, one NULL id
      (11L, 0, null), (12L, 0, null), (13L, 0, null), // NULL key
      (14L, 0, 50L), // a single-row bucket
      (15L, 2, 60L), (15L, 2, 60L)) // one id twice: no self-pair
    val b = rows.toDF("id", "band", "key")
    def pairsOf(maxBucket: Int) = {
      val got = idPairs(BandJoin.selfPairs(b, Seq("key", "band"), "id",
        ("a", "b"), maxBucket)).sorted
      val want = idPairs(HofReferences.selfPairsJoin(b, Seq("key", "band"),
        "id", ("a", "b"), maxBucket)).sorted
      assert(got === want, s"maxBucket=$maxBucket")
      got
    }
    assert(pairsOf(0) === Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L)))
    assert(pairsOf(3) === Seq((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L),
      (9L, 10L)))
    assert(pairsOf(2).isEmpty)
    Seq(1, 4, 100).foreach(pairsOf)
    // a narrow leading key (int band first) sorts on xxhash64 of the key
    val narrow = idPairs(BandJoin.selfPairs(b, Seq("band", "key"), "id",
      ("a", "b"), 3)).sorted
    assert(narrow === pairsOf(3))
  }

  test("bucket kernel: random band rows match the self-join form") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val rows = Seq.fill(400) {
        val id: java.lang.Long = if (rnd.nextInt(20) == 0) null else rnd.nextInt(60).toLong
        val key: java.lang.Long = if (rnd.nextInt(25) == 0) null else rnd.nextInt(30).toLong
        (id, rnd.nextInt(3), key)
      }
      val b = rows.toDF("id", "band", "key").repartition(3)
      for (cap <- Seq(0, 4, 8)) {
        val got = idPairs(BandJoin.selfPairs(b, Seq("key", "band"), "id",
          ("a", "b"), cap)).sorted
        val want = idPairs(HofReferences.selfPairsJoin(b, Seq("key", "band"),
          "id", ("a", "b"), cap)).sorted
        assert(got === want, s"trial $trial, maxBucket=$cap")
      }
    }
  }

  test("verify joins each id back to its payload and keeps the pair " +
    "columns of the rows that pass") {
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val pa = Seq((1L, 10)).toDF("a", "wa")
    val pb = Seq((2L, 10), (3L, 11)).toDF("b", "wb")
    val got = BandJoin.verify(cand, Seq("a" -> pa, "b" -> pb),
      col("wa") === col("wb"))
    assert(got.columns.toSeq === Seq("a", "b"))
    assert(idPairs(got) === Seq((1L, 2L)))
  }
}
