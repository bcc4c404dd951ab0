package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.Sinks

/** Round-9 ask #7 — snapshot-lifecycle soak: CDC apply, compaction and
  * vacuum each had isolated specs; this drives all three INTERLEAVED on
  * the same table(s) and asserts that a reader always sees exactly the
  * net-effect state of the changes applied so far, at every version
  * that exists at every step.
  *
  * Two layouts run the identical scripted change feed side by side:
  * the versioned table ([[Sinks.applyChangesSnapshot]], which
  * [[Sinks.compactSnapshot]]/[[Sinks.vacuumSnapshot]] maintain) and the
  * bucketed table ([[Sinks.applyChangesBucketed]], the 100 TB shape).
  * An independent driver-side map is the truth; both readers must match
  * it after every operation, compaction must be content-identical,
  * vacuum must only ever drop non-latest versions, and replaying an
  * already-applied batch must converge (at-least-once CDC). */
class SnapshotSoakSpec extends SparkSpecBase {

  private case class Chg(k: Long, name: String, amt: Double, op: String, ord: Long)

  test("interleaved CDC apply + compact + vacuum: readers see exact net-effect state at every version") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_soak").toString
    val vDir = s"$base/versioned"
    val bDir = s"$base/bucketed"

    // driver-side truth: key -> (name, amt), maintained by the same
    // collapse rule (latest ord wins, ties by op desc, D removes)
    val truth = mutable.Map.empty[Long, (String, Double)]
    // expected content of every versioned v=N ever written
    val expectedByVersion = mutable.Map.empty[Int, Set[(Long, String, Double)]]
    // versions vacuumed so far: reading one must fail loud
    val vacuumed = mutable.Set.empty[Int]

    def applyTruth(batch: Seq[Chg]): Unit =
      batch.groupBy(_.k).foreach { case (k, cs) =>
        val last = cs.maxBy(c => (c.ord, c.op))
        if (last.op == "D") truth.remove(k)
        else truth(k) = (last.name, last.amt)
      }

    def truthSet: Set[(Long, String, Double)] =
      truth.map { case (k, (n, a)) => (k, n, a) }.toSet

    def readSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
      df.select("k", "name", "amt").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

    def versions(): Seq[Int] = Sinks.versions(spark, vDir)

    def applyBoth(batch: Seq[Chg]): Unit = {
      val df = batch.map(c => (c.k, c.name, c.amt, c.op, c.ord))
        .toDF("k", "name", "amt", "op", "ord")
      val v = Sinks.applyChangesSnapshot(spark, vDir, df, Seq("k"), "ord")
      Sinks.applyChangesBucketed(spark, bDir, df, Seq("k"), "ord", nBuckets = 8)
      applyTruth(batch)
      expectedByVersion(v) = truthSet
      checkAll()
    }

    // EVERY existing version must still read as the exact state it froze
    def checkAll(): Unit = {
      assert(readSet(Sinks.readSnapshot(spark, vDir)) === truthSet)
      assert(readSet(Sinks.readBucketedSnapshot(spark, bDir)) === truthSet)
      versions().foreach { v =>
        assert(expectedByVersion.contains(v), s"untracked version v=$v")
        assert(readSet(Sinks.readSnapshotVersion(spark, vDir, v)) ===
          expectedByVersion(v), s"v=$v drifted from its frozen state")
      }
      vacuumed.foreach { v =>
        val e = intercept[IllegalArgumentException](
          Sinks.readSnapshotVersion(spark, vDir, v))
        assert(e.getMessage.contains(s"no version $v"), e.getMessage)
      }
    }

    // -- batch 1: pure inserts ------------------------------------------
    applyBoth((1L to 20L).map(k => Chg(k, s"n$k", k * 1.5, "I", 100 + k)))

    // -- batch 2: updates, deletes, inserts, in-batch I→D and D→I nets --
    applyBoth(Seq(
      Chg(3, "n3b", 99.0, "U", 201), Chg(7, "n7b", 77.0, "U", 202),
      Chg(5, "-", 0.0, "D", 203), Chg(11, "-", 0.0, "D", 204),
      Chg(21, "n21", 21.0, "I", 205),
      Chg(22, "n22", 22.0, "I", 206), Chg(22, "-", 0.0, "D", 207), // nets to absent
      Chg(23, "-", 0.0, "D", 208), Chg(23, "n23", 23.0, "I", 209)  // nets to insert
    ))

    // -- compact (content must not change; version advances) ------------
    val beforeCompact = readSet(Sinks.readSnapshot(spark, vDir))
    val (fb, fa, cv) = Sinks.compactSnapshot(spark, vDir, targetBytes = 64L << 20)
    assert(fa <= fb && fa === 1, s"expected 1 output file, got $fa (before $fb)")
    expectedByVersion(cv) = beforeCompact
    checkAll()

    // -- batch 3 on top of the compacted version ------------------------
    applyBoth(Seq(
      Chg(1, "-", 0.0, "D", 301), Chg(2, "n2c", 2.2, "U", 302),
      Chg(24, "n24", 24.0, "I", 303)))

    // -- vacuum keepLast=2: old versions reaped, survivors untouched ----
    val (dropped, kept) = Sinks.vacuumSnapshot(spark, vDir, keepLast = 2)
    assert(kept.size === 2 && kept.last === versions().last)
    assert(dropped.forall(d => kept.forall(_ > d)), "vacuum dropped a newer version")
    dropped.foreach(expectedByVersion.remove)
    vacuumed ++= dropped
    checkAll()

    // -- batch 4: delete EVERYTHING current, then re-insert a few -------
    val wipe = truth.keys.toSeq.sorted.zipWithIndex
      .map { case (k, i) => Chg(k, "-", 0.0, "D", 400 + i) }
    applyBoth(wipe ++ Seq(
      Chg(2, "n2d", 2.4, "I", 490), Chg(30, "n30", 30.0, "I", 491)))
    assert(truth.keySet === Set(2L, 30L))
    // bucketed layout: delete-emptied buckets must not resurrect rows,
    // and the two survivors hash into at most two bucket dirs
    val walk = Files.walk(java.nio.file.Path.of(bDir))
    val bucketDirs = try walk.toArray.toSeq.map(_.toString)
      .filter(_.split('/').last.startsWith("__bucket=")) finally walk.close()
    assert(bucketDirs.size <= 2, s"stale bucket dirs survived the wipe: $bucketDirs")

    // -- replay batch 4 (at-least-once delivery): state converges -------
    val replayDf = (wipe ++ Seq(
      Chg(2, "n2d", 2.4, "I", 490), Chg(30, "n30", 30.0, "I", 491)))
      .map(c => (c.k, c.name, c.amt, c.op, c.ord))
      .toDF("k", "name", "amt", "op", "ord")
    val rv = Sinks.applyChangesSnapshot(spark, vDir, replayDf, Seq("k"), "ord")
    Sinks.applyChangesBucketed(spark, bDir, replayDf, Seq("k"), "ord", nBuckets = 8)
    expectedByVersion(rv) = truthSet
    checkAll()

    // -- final compact + aggressive vacuum to a single version ----------
    val (_, _, cv2) = Sinks.compactSnapshot(spark, vDir, targetBytes = 64L << 20)
    expectedByVersion(cv2) = truthSet
    val (_, kept2) = Sinks.vacuumSnapshot(spark, vDir, keepLast = 1)
    kept2.foreach(v => assert(expectedByVersion.contains(v)))
    expectedByVersion.keys.filterNot(kept2.contains).toSeq
      .foreach { v => expectedByVersion.remove(v); vacuumed += v }
    checkAll()
    assert(versions() === Seq(cv2), "vacuum keepLast=1 must leave exactly the latest")
  }
}
