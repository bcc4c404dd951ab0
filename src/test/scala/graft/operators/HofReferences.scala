package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composable higher-order-function reference forms of fused native
  * expressions. The native forms replaced them for speed; the specs pin
  * the native forms equal to these. */
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
}
