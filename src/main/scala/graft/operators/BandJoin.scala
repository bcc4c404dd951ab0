package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate-pair stage every banded similarity family shares —
  * MinHash LSH, SimHash bands and block tables, hyperplane LSH buckets,
  * IVF posting lists (see the "Scale design" note on [[Dedup]]). A family
  * explodes one band key per (row, band), equi-joins the two ends on it,
  * keeps the joined rows its rule allows, projects the id pair, drops the
  * repeats of a pair that shares several bands, and verifies the
  * survivors exactly. Each family supplies only its key expression, the
  * columns its band rows carry and its verify predicate; the shape is
  * written once here.
  *
  * Never all-pairs: the only joins are equi-joins on the band key and on
  * the pair ids, so both ends shuffle on narrow keys and AQE's skew
  * splitting handles hot buckets. */
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
    * their removal downstream. NULL keys never match (equi-join). */
  def pairs(x: DataFrame, y: DataFrame, on: Seq[String], keep: Option[Column],
            out: Column*): DataFrame = {
    val joined = x.join(y, on)
    val cand = keep.fold(joined)(joined.filter).select(out: _*)
    if (cand.isStreaming) cand else cand.distinct()
  }

  /** [[pairs]] for a self-join: `x` and `y` are two ends of one relation
    * (the probe end and the exact end when multi-probing) with ids `a`
    * and `b`. Keeps `a < b` — no self-pairs, one orientation — and the
    * family's inline `check` over the carried columns; projects `as`. */
  def selfPairs(x: DataFrame, y: DataFrame, on: Seq[String], a: String,
                b: String, as: (String, String),
                check: Option[Column] = None): DataFrame =
    pairs(x, y, on, Some(check.foldLeft(col(a) < col(b))(_ && _)),
      col(a).as(as._1), col(b).as(as._2))

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
