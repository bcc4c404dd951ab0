package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms the production code replaced: composable
  * higher-order-function forms of fused native expressions (replaced for
  * speed) and earlier operator shapes (replaced by a shared combinator).
  * The specs pin the production forms equal to these. */
object HofReferences {

  /** The composable form [[Similarity.hyperplaneSignature]] claims
    * bit-equality with. */
  def hyperplaneSignatureHof(vCol: String, bits: Int, table: Int): Column =
    expr(
      s"""aggregate(
         |  transform(sequence(0, ${bits - 1}),
         |    j -> CASE WHEN aggregate(
         |           zip_with($vCol, sequence(0, size($vCol) - 1),
         |             (x, d) -> x * CASE WHEN (xxhash64($table, j, d) & 1) = 1
         |                              THEN 1.0D ELSE -1.0D END),
         |           0D, (acc, x) -> acc + x) > 0D
         |         THEN 1L ELSE 0L END),
         |  0L, (acc, bit) -> acc * 2 + bit)""".stripMargin)

  /** The composable HOF form [[Dedup.spanScrubRowwise]] claims policy
    * equality with. */
  def spanScrubRowwiseHof(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2 && n <= 64, s"n must be in [2, 64], got $n")
    val g = n - 1
    val grams = when(col("__m") >= n,
      transform(sequence(lit(1), col("__m") - g),
        i => array_join(slice(col("__ws"), i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    // sequence(1, 0) DESCENDS for gram-less docs (the shingles guard) —
    // gate before generating positions
    val dups = when(size(col("__grams")) > 0,
      transform(sequence(lit(1), size(col("__grams"))),
        i => array_position(col("__grams"), element_at(col("__grams"), i)) < i))
      .otherwise(array().cast("array<boolean>"))
    val removed = transform(sequence(lit(1), col("__m")), k => {
      val lo = greatest(lit(1), k - g)
      val hi = least(k, col("__m") - g)
      // sequence(lo, hi) DESCENDS when lo > hi (the shingles guard) —
      // gate on coverage first
      when(hi >= lo,
        forall(sequence(lo, hi), i => element_at(col("__dups"), i)))
        .otherwise(lit(false))
    })
    val keptPos = filter(sequence(lit(1), col("__m")),
      k => !element_at(col("__removed"), k))
    docs
      .withColumn("__ws", Dedup.tokens(coalesce(col("text"), lit(""))))
      .withColumn("__m", size(col("__ws")))
      .withColumn("__grams", grams)
      .withColumn("__dups", dups)
      .withColumn("__removed", removed)
      .select(col("doc_id"),
        col("__m").cast("long").as("n_tokens"),
        size(filter(col("__removed"), x => x)).cast("long").as("n_removed"),
        array_join(transform(keptPos, k => element_at(col("__ws"), k)), " ")
          .as("text_clean"))
  }

  /** The relational form [[Similarity.assign]] claims row equality with:
    * every row crossed with the broadcast centroid set, scored by
    * [[Similarity.cosine]], and the first `keep` kept by `row_number()`
    * over (cosine desc, centroid_id) per row. */
  def assignWindow(cents: DataFrame, df: DataFrame, idName: String,
                   keep: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idName))
      .orderBy(col("ccos").desc, col("centroid_id"))
    df.select(col("vec_id").as(idName), col("embedding"))
      .join(broadcast(cents), col(idName).isNotNull)
      .withColumn("ccos", Similarity.cosine(col("embedding"), col("centv")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= keep)
      .select(col(idName), col("centroid_id"))
  }

  /** The self-join form [[BandJoin.selfPairs]] claims pair equality with:
    * the hot-bucket cap as a count aggregate over `key` and an anti-join
    * on it, then the band rows self-joined on `key` (NULL keys never
    * match), `x.id < y.id` kept, the pair projected and made once by
    * `distinct`. */
  def selfPairsJoin(rel: DataFrame, key: Seq[String], id: String,
                    as: (String, String), maxBucket: Int): DataFrame = {
    val capped =
      if (maxBucket <= 0) rel
      else rel.join(
        rel.groupBy(key.map(col): _*)
          .agg(count(lit(1)).as("__bc")).filter(col("__bc") > maxBucket)
          .select(key.map(col): _*),
        key, "left_anti")
    capped.alias("x").join(capped.alias("y"), key)
      .filter(col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as(as._1), col(s"y.$id").as(as._2))
      .distinct()
  }

  /** The both-orientations candidate stage [[Similarity.cosinePairsBucketed]]
    * had before it moved onto [[BandJoin]]: every probe-side vector joins
    * every exact-side vector of its buckets, self-pairs dropped by `=!=`,
    * each pair oriented by `least`/`greatest` and made once by `distinct`
    * (so a pair is made from both ends before the `distinct`), then the
    * same exact cosine verify. */
  def cosinePairsBucketedBothWays(corpus: DataFrame, threshold: Double,
                                  bits: Int, tables: Int,
                                  multiProbe: Int): DataFrame = {
    import Similarity.{dot, hyperplaneSignature}
    val base = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    val banded = base.select(col("vec_id"), posexplode(array(
      (0 until tables).map(t => hyperplaneSignature("embedding", bits, t)): _*))
      .as(Seq("table_id", "bucket")))
    val probed =
      if (multiProbe == 0) banded
      else banded.select(col("vec_id"), col("table_id"),
        explode(array(col("bucket") +:
          (0 until multiProbe).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*))
          .as("bucket"))
    val cand = probed.alias("x")
      .join(banded.alias("y"), Seq("table_id", "bucket"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("vec_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("vec_b"))
      .distinct()
    cand
      .join(base.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("vec_a"), col("vec_b"))
  }
}
