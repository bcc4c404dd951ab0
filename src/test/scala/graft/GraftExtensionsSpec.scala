package graft

import org.apache.spark.sql.SparkSession

/** Pins the SparkSessionExtensions entry point: a session configured with
  * `spark.sql.extensions=graft.GraftExtensions` gets the graft_* functions
  * (no code-side registration) and the self-intersect optimizer rule. */
class GraftExtensionsSpec extends SparkSpecBase {

  private lazy val extSpark: SparkSession = {
    // getOrCreate returns the existing shared session (ignoring new confs,
    // extensions included) — clear the default so a FRESH session builds
    // over the same SparkContext with the extensions applied, then restore
    // the shared one for the other suites.
    TestSpark.spark // ensure the shared context exists first
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // `spark.sql.extensions` is a STATIC conf read from the SparkContext
    // at session build — it cannot be injected per-session in a shared
    // test context, so exercise the same class via the builder API (what
    // the conf string resolves to).
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    prev.foreach(SparkSession.setDefaultSession)
    prev.foreach(SparkSession.setActiveSession)
    s
  }

  test("ALL graft_* functions resolve via the extensions path, no register() call") {
    // every builders-table entry, including the literal-parameterised ones
    // whose extraction logic (intLit/strLit) runs at resolution time — a
    // builder regression in any of the 9 surfaces here, not in production
    val r = extSpark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  graft_sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS i,
        |  graft_simhash63(array(0L)) AS s,
        |  size(graft_ngram_hashes(array('a', 'b', 'c'), 2)) AS ng,
        |  size(graft_minhash_sig(array(7L), 4)) AS mh,
        |  size(graft_minhash_bands(array(1L, 2L, 3L, 4L), 2)) AS mb,
        |  graft_text_metrics('a b').n_tokens AS tm,
        |  graft_rolling_hash('x') AS rh,
        |  graft_sorted_upper_bound(array(1L, 3L, 5L), 4L) AS ub,
        |  graft_hyperplane_sig(array(1.0D, 0.0D), 2, 0) AS hs,
        |  graft_nearest_centroids(array(1.0D, 0.0D), array(struct(9L, array(0.0D, 1.0D)),
        |    struct(7L, array(2.0D, 0.0D))), 1)[0] AS nc""".stripMargin)
      .collect().head
    assert(r.getAs[Double]("d") === 11.0)
    assert(r.getAs[Long]("i") === 2L)
    assert(r.getAs[Long]("s") === 0L) // single zero hash: every majority is -1
    assert(r.getAs[Int]("ng") === 2) // "a b", "b c"
    assert(r.getAs[Int]("mh") === 4) // numPerm signature slots
    assert(r.getAs[Int]("mb") === 2) // numPerm / rowsPerBand bands
    assert(r.getAs[Long]("tm") === 2L)
    // value pinned by ext_fingerprint's oracle; here only resolution+range
    assert(r.getAs[Long]("rh") >= 0L && r.getAs[Long]("rh") < 1000000007L)
    assert(r.getAs[Int]("ub") === 2) // elements <= 4 in [1,3,5]
    assert(r.getAs[Long]("hs") >= 0L && r.getAs[Long]("hs") < 4L) // 2-bit sig
    assert(r.getAs[Long]("nc") === 7L) // cosine 1 beats cosine 0
  }

  test("SimplifySelfIntersect rewrites |A∩A| to size(A)") {
    // range-backed attribute keeps the expressions non-foldable (literal
    // arrays would be constant-folded before the rule is observable)
    val df = extSpark.range(1).selectExpr(
      "graft_sorted_intersect_count(array(id, 2L, 3L), array(id, 2L, 3L)) AS n")
    val optimized = df.queryExecution.optimizedPlan.toString
    // The rewrite chains with built-in rules: |A∩A| → size(array(id,2,3))
    // → literal 3 (Spark knows CreateArray's length) — the merge loop is
    // gone entirely.
    assert(!optimized.contains("graft_sorted_intersect_count"),
      s"self-intersect not rewritten:\n$optimized")
    assert(df.collect().head.getAs[Long]("n") === 3L)
    // non-degenerate calls are untouched
    val df2 = extSpark.range(1).selectExpr(
      "graft_sorted_intersect_count(array(id, 2L), array(2L, 5L)) AS n")
    assert(df2.queryExecution.optimizedPlan.toString
      .contains("graft_sorted_intersect_count"))
    assert(df2.collect().head.getAs[Long]("n") === 1L)
  }
}
