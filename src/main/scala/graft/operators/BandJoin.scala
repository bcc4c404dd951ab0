package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The candidate-pair stage every banded similarity family shares —
  * MinHash LSH, SimHash bands and block tables, hyperplane LSH buckets,
  * IVF posting lists (see the "Scale design" note on [[Dedup]]). A family
  * explodes one band key per (row, band), brings the rows of each key
  * together, keeps the pairs its rule allows, projects the id pair, drops
  * the repeats of a pair that shares several bands, and verifies the
  * survivors exactly. Each family supplies only its key expression, the
  * columns its band rows carry and its verify predicate; the shape is
  * written once here.
  *
  * Never all-pairs. Two ends that differ (a probe end, a query side, a
  * stream) meet in [[pairs]], an equi-join on the band key: both ends
  * shuffle on narrow keys and AQE's skew splitting spreads a hot bucket.
  * One relation paired with itself goes through [[selfPairs]]: one
  * exchange on the key and a per-partition kernel that walks each bucket
  * once. There a hot bucket is one task — AQE cannot split it — and the
  * caller's `maxBucket` is the bound. */
private[graft] object BandJoin {

  /** `df` with its `width`-bit `key` column replaced by the 1-bit
    * multi-probe set: the exact key, then `key ^ (1 << j)` for every
    * `j < flips` (0..width) — one row each. `flips = 0` returns `df`
    * unchanged. The set is symmetric (`k′ ∈ P(k) ⇔ k ∈ P(k′)`: both ends
    * flip the same low bits), so a self-join that probes one end against
    * the other's exact key finds a 1-bit difference from either end, and
    * keeping `a < b` loses no pair. */
  def probe(df: DataFrame, key: String, flips: Int, width: Int): DataFrame = {
    require(flips >= 0 && flips <= width,
      s"multi-probe flips must be in [0, $width] (the key's bits), got $flips")
    if (flips == 0) df
    else df.select(df.columns.map { c =>
      if (c != key) col(c)
      else explode(array(col(key) +:
        (0 until flips).map(j => col(key).bitwiseXOR(lit(1L << j))): _*)).as(key)
    }: _*)
  }

  /** Candidate rows of the band join `x ⋈ y` on the key columns `on`:
    * the joined rows passing `keep`, projected to `out` (the id pair,
    * then any carried columns). A batch result is `distinct`, so a pair
    * sharing several bands comes out once; a streaming result keeps its
    * repeats (a streaming `distinct` keeps unbounded state) and leaves
    * their removal downstream. NULL keys never match (equi-join). A
    * sort-merge join sorts on `on` in the order given: put the widest
    * column first, or nearly every comparison ties on the sort prefix. */
  def pairs(x: DataFrame, y: DataFrame, on: Seq[String], keep: Option[Column],
            out: Column*): DataFrame = {
    val joined = x.join(y, on)
    val cand = keep.fold(joined)(joined.filter).select(out: _*)
    if (cand.isStreaming) cand else cand.distinct()
  }

  /** The in-bucket pairs of one batch relation of band rows: every
    * `(a, b)` of bigint ids `a < b` that share all the `key` columns,
    * once, named `as`. Same result as the self-join of `rel` on `key`
    * keeping `id_x < id_y`, after dropping every bucket of more than
    * `maxBucket` rows (0 = no cap) — the form `HofReferences.selfPairsJoin`
    * keeps for the differential spec.
    *
    * Plan: one hash exchange on `key`; a sort within partitions led by a
    * 64-bit hash — `key.head` when it is a bigint (MinHash's `band_hash`,
    * an IVF cluster id), else xxhash64 of the key (a narrow leading
    * column ties on nearly every comparison of the sort prefix); then the
    * [[BucketPairs]] kernel, which walks each bucket once, counts its
    * rows (NULL ids and duplicate rows included), skips NULL keys and
    * buckets over the cap, and emits the pairs of the bucket's distinct
    * non-NULL ids; then one global `distinct`.
    *
    * The trade against a join: a bucket is one task. AQE's skew splitting
    * spread a hot bucket's join over several tasks; here it cannot, so
    * a template cohort of k rows costs one task k²/2 pairs, and
    * `maxBucket` is what bounds it. */
  def selfPairs(rel: DataFrame, key: Seq[String], id: String,
                as: (String, String), maxBucket: Int = 0): DataFrame = {
    require(maxBucket >= 0, s"maxBucket must be >= 0 (0 = no cap), got $maxBucket")
    require(rel.schema(id).dataType == LongType,
      s"selfPairs needs a bigint id, got ${rel.schema(id).dataType.simpleString}")
    val keys = key.map(col)
    val nk = key.size
    val lead =
      if (rel.schema(key.head).dataType == LongType) keys
      else xxhash64(keys: _*) +: keys
    rel.select(keys :+ col(id): _*)
      .repartition(keys: _*)
      .sortWithinPartitions(lead: _*)
      .mapPartitions(rows => new BucketPairs(rows, nk, maxBucket))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF(as._1, as._2)
      .distinct()
  }

  /** The per-partition kernel of [[selfPairs]] over rows sorted so each
    * bucket is contiguous: `nk` key columns, then the bigint id. Lazy —
    * a bucket's pairs are produced as they are consumed, never held. */
  private final class BucketPairs(rows: Iterator[Row], nk: Int, maxBucket: Int)
      extends Iterator[(Long, Long)] {
    private var head: Row = if (rows.hasNext) rows.next() else null
    private var ids = new Array[Long](16) // current bucket's distinct ids
    private var m = 0
    private var i = 0
    private var j = 0

    private def sameKey(a: Row, b: Row): Boolean = {
      var k = 0
      while (k < nk) { if (a.get(k) != b.get(k)) return false; k += 1 }
      true
    }

    private def nullKey(r: Row): Boolean = {
      var k = 0
      while (k < nk) { if (r.isNullAt(k)) return true; k += 1 }
      false
    }

    /** Loads the next bucket with a pair to emit; false when none is left. */
    private def nextBucket(): Boolean = {
      while (head != null) {
        val first = head
        val skip = nullKey(first)
        var count = 0L
        m = 0
        while (head != null && sameKey(head, first)) {
          count += 1
          val keepId = !skip && !head.isNullAt(nk) &&
            (maxBucket == 0 || count <= maxBucket)
          if (keepId) {
            if (m == ids.length) ids = java.util.Arrays.copyOf(ids, m * 2)
            ids(m) = head.getLong(nk)
            m += 1
          }
          head = if (rows.hasNext) rows.next() else null
        }
        if (!skip && (maxBucket == 0 || count <= maxBucket)) {
          java.util.Arrays.sort(ids, 0, m)
          var w = 0
          var r = 0
          while (r < m) {
            if (w == 0 || ids(r) != ids(w - 1)) { ids(w) = ids(r); w += 1 }
            r += 1
          }
          m = w
          if (m >= 2) { i = 0; j = 1; return true }
        }
      }
      m = 0
      false
    }

    override def hasNext: Boolean = j < m || nextBucket()

    override def next(): (Long, Long) = {
      if (!hasNext) throw new NoSuchElementException("no more bucket pairs")
      val p = (ids(i), ids(j))
      j += 1
      if (j == m) { i += 1; j = i + 1 }
      p
    }
  }

  /** Exact verification: joins each id of `cand` back to its payload row
    * (`payloads`: id column → frame keyed by it, joined in order), keeps
    * the rows passing `check`, and returns the pair (the first two
    * columns of `cand`). */
  def verify(cand: DataFrame, payloads: Seq[(String, DataFrame)],
             check: Column): DataFrame =
    payloads.foldLeft(cand) { case (df, (id, p)) => df.join(p, id) }
      .filter(check)
      .select(cand.columns.take(2).map(col): _*)
}
