package graft

import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Dedup, TextAnalysis}

/** Pins the dedup sketch semantics that the DuckDB oracle cannot express
  * (xxhash64-based MinHash and SimHash): determinism, locality, the
  * short-document shingle guard, and LSH recall against exact Jaccard. */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river shore"), // near-dup of 1
    (3L, "completely different words about spark shuffles and partitions here"),
    (4L, "another unrelated document mentioning hash joins and broadcast trees"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank") // exact dup of 1
  ).toDF("doc_id", "text")

  test("shingles: short docs yield empty arrays, not bogus descending-sequence grams") {
    val out = Seq((1L, "only two"), (2L, "a b c"))
      .toDF("doc_id", "text")
      .withColumn("ws", Dedup.tokens(col("text")))
      .select(col("doc_id"), Dedup.shingles("ws", 3).as("sh"))
      .orderBy("doc_id")
      .collect().map(_.getSeq[String](1).toList)
    assert(out(0) === List.empty)
    assert(out(1) === List("a b c"))
  }

  test("short docs (empty shingle sets) never pair: ground truth agrees with the LSH path") {
    val short = Seq((1L, "just two"), (2L, "also two"), (3L, "one"))
      .toDF("doc_id", "text")
    // 0/0 Jaccard must not count as >= 1/2 — otherwise every short-doc
    // pair would be a "near-duplicate" in the ground truth while the LSH
    // path (which filters empty shingle sets) finds none.
    assert(Dedup.jaccardPairs(short, n = 3, num = 1, den = 2).count() === 0)
    assert(Dedup.minhashLshPairs(short, n = 3, numPerm = 16,
      rowsPerBand = 1, num = 1, den = 2).count() === 0)
  }

  test("jaccardPairs fails loud past maxRows; override allows a deliberate run") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, n = 3, num = 1, den = 2, maxRows = 2)
    }
    assert(ex.getMessage.contains("O(n²) ground-truth reference"))
    assert(ex.getMessage.contains("minhashLshPairs"))
    // explicit override: same result as the default-guard path
    val guarded = Dedup.jaccardPairs(docs, n = 3, num = 1, den = 2, maxRows = docs.count())
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(guarded === Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("exact-Jaccard ground truth finds the near-dup and exact-dup pairs only") {
    val pairs = Dedup.jaccardPairs(docs, n = 3, num = 1, den = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("MinHash-LSH with verification equals exact Jaccard here, and is deterministic") {
    def run() = Dedup.minhashLshPairs(docs, n = 3, numPerm = 16,
      rowsPerBand = 1, num = 1, den = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val p1 = run()
    assert(p1 === Set((1L, 2L), (1L, 5L), (2L, 5L)))
    assert(p1 === run()) // fixed hash seeds: bit-stable across runs
  }

  test("minhashLshPairs hot-bucket cap: template cohort skipped, normal pairs keep surfacing, default uncapped") {
    // a TEMPLATE cohort — 40 docs sharing one boilerplate text (one band
    // bucket of 40 = 780 candidate pairs) — alongside the normal fixture
    val template = (100L until 140L).map(i =>
      (i, "standard disclaimer boilerplate text repeated across every page of the archive"))
    val corpus = (docs.as[(Long, String)].collect().toSeq ++ template)
      .toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minhashLshPairs(corpus, n = 3, numPerm = 16,
      rowsPerBand = 1, num = 1, den = 2, maxBucket = cap)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val normal = Set((1L, 2L), (1L, 5L), (2L, 5L))
    val templatePairs = (for {
      a <- 100L until 140L; b <- (a + 1) until 140L
    } yield (a, b)).toSet
    // uncapped (default): everything, template clique included
    assert(run(0) === normal ++ templatePairs)
    // capped below the cohort size: the 40-doc buckets are skipped —
    // the clique vanishes, while pairs living in small buckets survive
    assert(run(10) === normal)
    // cap above every bucket: no-op
    assert(run(1000) === normal ++ templatePairs)
  }

  test("SimHash: identical texts collide, near-dups are close, unrelated texts are far") {
    val sk = Dedup.simhashSketch(docs, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sk(1L) === sk(5L)) // exact dup: identical sketch
    assert(hamming(sk(1L), sk(2L)) <= 16) // near-dup: close
    assert(hamming(sk(1L), sk(3L)) > 16) // unrelated: far
    assert(sk.values.forall(_ >= 0L)) // 63-bit: non-negative
  }

  test("SimHash pairs via banding recover the exact-dup pair at distance 0") {
    val pairs = Dedup.simhashPairs(docs, n = 3, maxDist = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(3L, 4L) })
  }

  test("Hamming-ball multi-probe: superset of exact-band pairs, d<=7 coverage guaranteed") {
    // Synthetic sketches exercise the guarantee boundary directly: pairs
    // at band-spread distances 4 (1,1,1,1) and 7 (1,2,2,2) share NO exact
    // band, so the plain band join misses them; probeBits=16 must find
    // both (each has a band within Hamming 1). The (2,2,2,2) spread at
    // d=8 stays out of reach from either side — probing is a widened
    // guarantee, not a brute-force fallback.
    def sk(rows: Seq[(Long, Long)]) =
      Dedup.withSimhashBands(rows.toDF("doc_id", "simhash"))
    val base = 0x0123456789abcdL
    def flip(bits: Long*) = bits.foldLeft(base)((v, b) => v ^ (1L << b))
    val sketches = sk(Seq(
      10L -> base,
      11L -> flip(0, 16, 32, 48), // d=4, one bit per band
      12L -> flip(1, 17, 18, 33, 34, 49, 50), // d=7, band0 within 1
      13L -> flip(2, 3, 19, 20, 35, 36, 51, 52))) // d=8, all bands at 2
    val plain = Dedup.simhashPairsFromSketch(sketches, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = Dedup.simhashPairsFromSketch(sketches, maxDist = 10, probeBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.subsetOf(probed)) // probing only ADDS candidates
    assert(!plain.contains((10L, 11L)) && !plain.contains((10L, 12L)))
    assert(probed.contains((10L, 11L)) && probed.contains((10L, 12L)))
    assert(!probed.contains((10L, 13L))) // d=8 (2,2,2,2): beyond the ball
    // and on real documents the production path stays a superset too
    val sketch = Dedup.simhashSketch(docs, n = 3)
    val realPlain = Dedup.simhashPairsFromSketch(sketch, maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val realProbed = Dedup.simhashPairsFromSketch(sketch, maxDist = 8, probeBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(realPlain.subsetOf(realProbed))
  }

  test("md5 shingle-hash parameterization: cross-engine value pin and same pairing behavior") {
    graft.functions.GraftFunctions.register(spark)
    // Value pin: first 15 hex chars of md5('abc') base-16 — the number
    // DuckDB computes as CAST('0x'||substr(md5('abc'),1,15) AS BIGINT)
    // (md5('abc') = 900150983cd24fb0..., 0x900150983cd24fb). If the Scala
    // byte-shift derivation ever drifts from the hex-prefix definition,
    // every SimHash oracle row goes red with no hint — this pins it.
    val h = spark.sql(
      "SELECT graft_ngram_hashes(array('abc'), 1, 'md5') AS h")
      .collect().head.getSeq[Long](0)
    assert(h === Seq(648541476951500027L))
    // md5 mode is in [0, 2^60) and behaves like xxh64 for dedup purposes
    val sk = Dedup.simhashSketch(docs, n = 3, algo = "md5")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sk(1L) === sk(5L))
    assert(sk.values.forall(_ >= 0L))
    val pairs = Dedup.simhashPairs(docs, n = 3, maxDist = 3, algo = "md5")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("fingerprints: md5 matches the normalized text; rolling hash separates texts") {
    val fp = TextAnalysis.fingerprints(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("content_md5"), r.getAs[Long]("rolling_hash"))).toMap
    assert(fp(1L) === fp(5L)) // identical content, identical prints
    assert(fp(1L)._1 !== fp(3L)._1)
    assert(fp(1L)._2 !== fp(3L)._2)
    // md5 agrees with the JVM digest of the same normalized string
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest(
      "the quick brown fox jumps over the lazy dog near the river bank"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp(1L)._1 === expect)
  }

  private def ccMap(edges: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] =
    ccMapOf(edges.toDF("doc_a", "doc_b"), maxIter)

  private def ccMapOf(edges: org.apache.spark.sql.DataFrame,
                      maxIter: Int = 25): Map[Long, Long] =
    Dedup.connectedComponents(edges, maxIter = maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body` through both exits of connectedComponents — the driver
    * finish (the default session's broadcast bound) and the star rounds
    * (`autoBroadcastJoinThreshold = -1`) — which must agree. */
  private def bothExits[A](body: => A): A = {
    val driver = body
    val star = withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
    assert(star === driver, "driver finish and star rounds disagree")
    driver
  }

  test("connectedComponents: hand graph with chain, reversed dups, and self-loops") {
    // {1,2,3} via a chain, {4,5}, self-loop 7 dropped (7 never appears:
    // a doc paired only with itself is not in any near-dup relation)
    val comp = bothExits(ccMap(Seq((2L, 1L), (2L, 3L), (5L, 4L), (4L, 5L), (7L, 7L))))
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("connectedComponents: long path contracts to its minimum in few rounds, non-convergence is loud") {
    // a 31-edge path is the slow-contraction worst case for naive label
    // propagation (O(diameter)); large-star/small-star takes O(log² n)
    val path = (0L until 31L).map(i => (i, i + 1))
    assert(bothExits(ccMap(path, maxIter = 8)) ===
      (0L to 31L).map(_ -> 0L).toMap)
    // a budget of 0 star rounds cannot converge — must throw, never
    // return a partially-contracted clustering
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      intercept[IllegalStateException](ccMap(path, maxIter = 0))
    }
  }

  test("connectedComponents: the driver finish never iterates, so maxIter = 0 " +
    "still resolves the path exactly") {
    val path = (0L until 31L).map(i => (i, i + 1))
    assert(ccMap(path, maxIter = 0) === (0L to 31L).map(_ -> 0L).toMap)
  }

  test("connectedComponents: the driver finish is exact at the broadcast " +
    "bound, a partition over its share of the bound included") {
    // n path edges: 7 in one partition, the rest spread over three more
    def path(n: Int) = {
      val es = (0L until n.toLong).map(i => (i, i + 1))
      es.take(7).toDF("doc_a", "doc_b").coalesce(1)
        .union(es.drop(7).toDF("doc_a", "doc_b").repartition(3))
    }
    withSessionConf("spark.sql.autoBroadcastJoinThreshold", "160") {
      // 160 B holds 10 edges: the driver finish, which never iterates
      assert(ccMapOf(path(10), maxIter = 0) === (0L to 10L).map(_ -> 0L).toMap)
      // one edge more takes the star rounds, which cannot converge in 0
      intercept[IllegalStateException](ccMapOf(path(11), maxIter = 0))
    }
  }

  test("connectedComponents: null endpoints are dropped; ids at the ends of " +
    "the long range keep their order") {
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(Long.MaxValue), Some(Long.MaxValue - 1)),
      (Some(Long.MinValue + 1), Some(Long.MinValue)),
      (Some(0L), Some(Long.MinValue + 1)),
      (Some(Long.MaxValue), None), (None, Some(5L)), (None, None),
      (Some(6L), Some(7L))
    ).toDF("doc_a", "doc_b")
    assert(bothExits(ccMapOf(edges)) === Map(
      Long.MaxValue -> (Long.MaxValue - 1), (Long.MaxValue - 1) -> (Long.MaxValue - 1),
      Long.MinValue -> Long.MinValue, (Long.MinValue + 1) -> Long.MinValue,
      0L -> Long.MinValue, 6L -> 6L, 7L -> 6L))
  }

  test("connectedComponents: random-graph differential vs driver-side union-find") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(70)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    // reference: classic union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct
    // canonicalize union-find roots to the component MINIMUM (find() keeps
    // min because union always parents max under min, but group to be safe)
    val expected = nodes.groupBy(find).flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
    assert(bothExits(ccMap(edges)) === expected)
  }

  test("resolveClusters: transitive cluster assignment, longest-text canonical, singletons intact") {
    val corpus = Seq(
      (10L, "a b c d e f g h"),          // cluster {10,11,12}: longest is 11
      (11L, "a b c d e f g h i j k l m"),
      (12L, "a b c d e f g"),
      (20L, "x y z"),                    // singleton
      (30L, "p q r s"), (31L, "p q r s") // pair; equal length → min id 30
    ).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L), (11L, 12L), (30L, 31L)).toDF("doc_a", "doc_b")
    val out = bothExits(Dedup.resolveClusters(corpus, pairs)
      .select("doc_id", "cluster_id", "canonical_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
    assert(out === Map(
      10L -> ((10L, 11L)), 11L -> ((10L, 11L)), 12L -> ((10L, 11L)),
      20L -> ((20L, 20L)),
      30L -> ((30L, 30L)), 31L -> ((30L, 30L))))
    // the deduplicated corpus = canonical rows only
    val survivors = bothExits(Dedup.resolveClusters(corpus, pairs)
      .filter(col("doc_id") === col("canonical_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(survivors === Set(11L, 20L, 30L))
  }

  test("softDedupWeights: 1/cluster_n mass, transitive clusters, singletons weight 1.0") {
    val corpus = Seq(
      (10L, "a"), (11L, "b"), (12L, "c"), // chained cluster of 3
      (20L, "x"),                         // singleton
      (30L, "p"), (31L, "q")              // pair
    ).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L), (11L, 12L), (30L, 31L)).toDF("doc_a", "doc_b")
    val out = bothExits(Dedup.softDedupWeights(corpus, pairs)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap)
    assert(out === Map(
      10L -> ((10L, 3L, 1.0 / 3.0)), 11L -> ((10L, 3L, 1.0 / 3.0)),
      12L -> ((10L, 3L, 1.0 / 3.0)),
      20L -> ((20L, 1L, 1.0)),
      30L -> ((30L, 2L, 0.5)), 31L -> ((30L, 2L, 0.5))))
    // conservation: total weight == number of semantic units (clusters)
    val total = bothExits(Dedup.softDedupWeights(corpus, pairs)
      .agg(sum(col("weight"))).collect()(0).getDouble(0))
    assert(math.abs(total - 3.0) < 1e-12)
  }

  test("minhashPairsAgainst: cross pairs only, contract read from index metadata, frauds fail loud") {
    val corpus = docs.filter(col("doc_id") =!= 2L) // 1,3,4,5 indexed
    val batch = docs.filter(col("doc_id") === 2L)  // 2 arrives later
    val idx = Dedup.minhashIndex(corpus, n = 3, numPerm = 16)
    val pairs = Dedup.minhashPairsAgainst(batch, idx,
      rowsPerBand = 1, num = 1, den = 2)
      .collect().map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_old"))).toSet
    // doc 2 is a near-dup of 1 and 5 (which are exact dups of each other)
    assert(pairs === Set((2L, 1L), (2L, 5L)))
    // a frame without the sketch contract must be rejected, not probed
    val stripped = idx.select(col("doc_id"), col("sh"),
      col("sig").as("sig", org.apache.spark.sql.types.Metadata.empty))
    assertThrows[IllegalArgumentException] {
      Dedup.minhashPairsAgainst(batch, stripped, rowsPerBand = 1, num = 1, den = 2)
    }
    // rowsPerBand must divide the index's numPerm
    assertThrows[IllegalArgumentException] {
      Dedup.minhashPairsAgainst(batch, idx, rowsPerBand = 3, num = 1, den = 2)
    }
  }

  test("passageDedup: frequent passages removed in place, order kept, all-boilerplate doc -> empty") {
    // chunkWords=2: "x1 x2" is the first passage of docs 1-3 (df=3 > 2);
    // every other passage is unique. Doc 4 is boilerplate-only.
    val corpus = Seq(
      (1L, "x1 x2 a b c d"),
      (2L, "x1 x2 e f"),
      (3L, "x1 x2 g h i"), // tail passage "i" (1 word) exercises the clamp
      (4L, "x1 x2"),
      (5L, "j k l m")
    ).toDF("doc_id", "text")
    // doc 4's only passage is dropped -> df counts docs, not occurrences
    val out = Dedup.passageDedup(corpus, chunkWords = 2, maxDocFreq = 2)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text_clean"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped")))
    assert(out(0) === ((1L, "a b c d", 2L, 1L)))
    assert(out(1) === ((2L, "e f", 1L, 1L)))
    assert(out(2) === ((3L, "g h i", 2L, 1L)))
    assert(out(3) === ((4L, "", 0L, 1L)))
    assert(out(4) === ((5L, "j k l m", 2L, 0L)))
    // maxDocFreq=4 keeps everything (df is exactly 4 for "x1 x2")
    assert(Dedup.passageDedup(corpus, chunkWords = 2, maxDocFreq = 4)
      .agg(sum(col("n_dropped"))).head().getLong(0) === 0L)
  }

  test("containmentPairs: directed subset detection Jaccard misses; threshold, guard") {
    import spark.implicits._
    // doc 1 is a quote EMBEDDED in doc 2 (containment 1→2 = 1.0, but
    // Jaccard is small); doc 3 is unrelated; doc 4 shares ~half of 1
    val docs = Seq(
      (1L, "the quick brown fox jumps over dogs"),
      (2L, "article begins here saying the quick brown fox jumps over dogs and then continues with much more unrelated prose about markets"),
      (3L, "completely different words everywhere in this one"),
      (4L, "the quick brown fox sat still")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, n = 3, num = 7, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // the quote is contained
    assert(!pairs.contains((2L, 1L))) // NOT symmetric: 2 is not inside 1
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
    // Jaccard at the same corpus misses the quote pair entirely (j ~ 0.3)
    val j = Dedup.jaccardPairs(docs, n = 3, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((1L, 2L)))
    // O(n²) guard fails loud, overridable
    val e = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, 3, 7, 10, maxRows = 2)
    }
    assert(e.getMessage.contains("ground-truth"))
  }

  test("spanScrub: echo tails removed, first occurrence and junctions " +
      "survive, sub-n docs pass through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c X a b c"),            // short echo: only its last token goes
      (2L, "v w x y z v w x y z"),      // L=5 echo: tail L-2(n-1)=3 goes
      (3L, "a b"),                      // shorter than n: untouched
      (4L, "p q r s t u"),              // no repeats: untouched
      (5L, null.asInstanceOf[String]))  // null text -> '' -> one empty token
      .toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) === ((7L, 1L, "a b c X a b")))
    assert(out(2L) === ((10L, 3L, "v w x y z v w")))
    assert(out(3L) === ((2L, 0L, "a b")))
    assert(out(4L) === ((6L, 0L, "p q r s t u")))
    assert(out(5L) === ((1L, 0L, "")))
    // n=2: periodic stutter collapses to one period + the junction token
    val stutter = Seq((9L, "a b a b a b")).toDF("doc_id", "text")
    val s = Dedup.spanScrub(stutter, n = 2).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(s(9L) === ((6L, 3L, "a b a")))
    // layout invariance: same answer from a different partitioning
    val repart = Dedup.spanScrub(docs.repartition(7), n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(repart === out)
    intercept[IllegalArgumentException] { Dedup.spanScrub(docs, n = 1) }
    ()
  }

  test("spanScrubRowwise: identical to the relational form on hand cases " +
      "and real documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c X a b c"), (2L, "v w x y z v w x y z"), (3L, "a b"),
      (4L, "p q r s t u"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(snap(Dedup.spanScrubRowwise(docs, n = 3)) ===
      snap(Dedup.spanScrub(docs, n = 3)))
    assert(snap(Dedup.spanScrubRowwise(docs, n = 2)) ===
      snap(Dedup.spanScrub(docs, n = 2)))
    val real = graft.Tables.documents(spark, sf0001)
    assert(snap(Dedup.spanScrubRowwise(real, n = 3)) ===
      snap(Dedup.spanScrub(real, n = 3)))
    // the fused native pass ≡ the composable HOF reference it replaced
    assert(snap(Dedup.spanScrubRowwise(real, n = 3)) ===
      snap(graft.operators.HofReferences.spanScrubRowwiseHof(real, n = 3)))
    assert(snap(Dedup.spanScrubRowwise(docs, n = 2)) ===
      snap(graft.operators.HofReferences.spanScrubRowwiseHof(docs, n = 2)))
  }

  test("spanScrubGlobal: cross-doc echoes lose their tail, lowest doc_id " +
      "keeps the span, intra-doc scrub subsumed, layout-invariant") {
    import spark.implicits._
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val docs = Seq(
      (1L, "a b c d e"),                // first occurrence: untouched
      (2L, "x a b c d e y"),            // echoes 5 tokens of doc 1: center goes
      (3L, "a b c z"),                  // echo of length n at doc START: edge token goes
      (4L, "p q r s t p q r s t"),      // intra-doc echo: still scrubbed
      (5L, null.asInstanceOf[String]))  // null text -> one empty token
      .toDF("doc_id", "text")
    val out = snap(Dedup.spanScrubGlobal(docs, n = 3))
    assert(out(1L) === ((5L, 0L, "a b c d e")))
    // doc 2: grams "a b c","b c d","c d e" are global dups; only token
    // "c" (k=4) has ALL covering grams dup — junctions bridge fresh
    // context and stay
    assert(out(2L) === ((7L, 1L, "x a b d e y")))
    // doc 3: token 1 is covered ONLY by the dup gram "a b c" (no
    // preceding gram at the doc edge) — same boundary behavior as the
    // intra-doc "only its last token goes" case
    assert(out(3L) === ((4L, 1L, "b c z")))
    // intra-doc behavior identical to spanScrub (same-doc repeats are
    // later under the total order)
    assert(out(4L) === snap(Dedup.spanScrub(
      Seq((4L, "p q r s t p q r s t")).toDF("doc_id", "text"), n = 3))(4L))
    assert(out(5L) === ((1L, 0L, "")))
    // layout invariance: the order is data, not partitioning
    assert(snap(Dedup.spanScrubGlobal(docs.repartition(7), n = 3)) === out)
    // on real corpus: global removals dominate intra-doc removals per doc
    val real = graft.Tables.documents(spark, sf0001)
    val g = snap(Dedup.spanScrubGlobal(real, n = 3))
    val l = snap(Dedup.spanScrub(real, n = 3))
    assert(g.keySet === l.keySet)
    g.foreach { case (id, (nt, nr, _)) =>
      assert(nt === l(id)._1); assert(nr >= l(id)._2, s"doc $id")
    }
    assert(g.values.map(_._2).sum > l.values.map(_._2).sum)
  }

  test("minhashParamsAuto: rows-per-band grows with log n (background " +
    "budget), band count re-prices the recall S-curve, clamps hold, and " +
    "the auto pipeline is IDENTICAL to the fixed form at derived params") {
    import graft.operators.Dedup
    // background-candidate budget: n·b·j0^r <= 1 at the returned r
    // (unless r hit its 12 cap), and r is monotone non-decreasing in n
    val ns = Seq(100L, 1000L, 10000L, 1000000L, 100000000L)
    val params = ns.map(n => n -> Dedup.minhashParamsAuto(n, 1, 2))
    params.sliding(2).foreach { case Seq((_, (_, r1)), (_, (_, r2))) =>
      assert(r2 >= r1, s"rowsPerBand not monotone: $params")
    }
    params.foreach { case (n, (perm, r)) =>
      val b = perm / r
      assert(perm % r === 0 && perm <= 512 && r >= 2 && r <= 12)
      if (r < 12)
        assert(n * b * math.pow(0.05, r) <= 4.0 + 1e-9,
          s"budget broken at n=$n: r=$r b=$b")
      // recall at the j=1/2 threshold >= 99% unless maxPerm clamped b
      val recall = 1.0 - math.pow(1.0 - math.pow(0.5, r), b)
      if (b < 512 / r) assert(recall >= 0.99 - 1e-9,
        s"recall $recall under target at n=$n (r=$r, b=$b)")
    }
    // overflow guard (round 14): at multi-billion-doc counts with a low
    // threshold, bandsFor saturates near Int.MaxValue and a Long-domain
    // budget product would wrap negative, ending the loop at r=2. The
    // Double-domain budget must keep pushing r up to its cap instead.
    val (permHuge, rHuge) = Dedup.minhashParamsAuto(5_000_000_000L, 1, 10)
    assert(rHuge === 12, s"huge-n low-threshold r collapsed: $rHuge")
    assert(permHuge % rHuge === 0 && permHuge <= 512)
    // and r stays monotone from a mid-size corpus into the billions
    assert(Dedup.minhashParamsAuto(5_000_000_000L, 1, 2)._2 >=
      Dedup.minhashParamsAuto(100000000L, 1, 2)._2)
    // pipeline identity: auto == fixed at the derived params, pair-set
    // for pair-set (determinism is per-params, so this must be exact)
    val docs = Tables.documents(spark, sf0001)
    val n = docs.count()
    val (perm, r) = Dedup.minhashParamsAuto(n, 1, 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(pairs(Dedup.minhashLshPairsAuto(docs, 3, 1, 2)) ===
      pairs(Dedup.minhashLshPairs(docs, 3, perm, r, 1, 2)))
  }

  test("simhashBlocksAuto/simhashTableMasks: block-combination layout " +
    "is COMPLETE for Hamming <= d at every m, m grows with n under the " +
    "budget, and the masked pair generator returns the exact " +
    "Hamming-<=-d pair set") {
    import graft.operators.Dedup
    // mask geometry: C(m, d) tables, each mask the union of m-d disjoint
    // blocks covering all 63 bits exactly once per block
    for (m <- Seq(4, 5, 6, 8); d <- Seq(1, 3)) {
      val masks = Dedup.simhashTableMasks(m, d)
      def binom(a: Int, b: Int): Long =
        (1 to b).foldLeft(1L)((acc, i) => acc * (a - i + 1) / i)
      assert(masks.length === binom(m, d),
        s"m=$m d=$d: ${masks.length} tables")
      assert(masks.toSet.size === masks.length, "duplicate masks")
      masks.foreach(mk => assert((mk & (1L << 63)) === 0L, "bit 63 used"))
      // union of all masks is the full 63-bit space (every block keyed
      // somewhere, so no sketch bit is dead)
      assert(masks.reduce(_ | _) === (1L << 63) - 1)
    }
    // completeness, brute-forced: any pair differing in <= d bits agrees
    // fully on at least one mask (the pigeonhole guarantee the oracle's
    // pure-distance SQL relies on)
    val rnd = new scala.util.Random(7)
    for (m <- Seq(4, 6); d <- Seq(3)) {
      val masks = Dedup.simhashTableMasks(m, d)
      (1 to 200).foreach { _ =>
        val x = rnd.nextLong() & ((1L << 63) - 1)
        var y = x
        (1 to d).foreach(_ => y ^= 1L << rnd.nextInt(63)) // <= d flips
        assert(masks.exists(mk => (x & mk) === (y & mk)),
          f"uncovered pair at m=$m d=$d: x=$x%x y=$y%x")
      }
    }
    // sizing: m monotone in n, budget held at the returned m, classic
    // 4x16 layout at small n, wider-key layouts in the billions
    val ms = Seq(1000L, 100000L, 10000000L, 1000000000L, 100000000000L)
      .map(Dedup.simhashBlocksAuto(_, 3))
    ms.sliding(2).foreach { case Seq(a, b) => assert(b >= a, s"$ms") }
    assert(Dedup.simhashBlocksAuto(1000L, 3) === 4)
    assert(Dedup.simhashBlocksAuto(100000000000L, 3) > 6)
    // exactness on real docs: the auto pair set IS the Hamming-<=-3 set
    val docs = Tables.documents(spark, sf0001)
    val sk = Dedup.simhashSketch(docs, n = 3)
      .select("doc_id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ida, sa) <- sk; (idb, sb) <- sk
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairsAuto(docs, n = 3, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
    assert(truth.nonEmpty, "fixture has no Hamming<=3 pairs — test is vacuous")
  }

  test("minhashParamsAuto saturates (never collapses to 1 band) when " +
    "1 - t^r rounds to exactly 1.0 at very low thresholds") {
    // t = 0.04: at r = 12, t^12 < ulp/2 so 1 - t^12 == 1.0 and the
    // pre-fix band formula returned -Infinity -> Int.MinValue -> 1 band
    // (recall ~4e-17 where the caller asked 0.99). The budget loop runs
    // to r = 12 at a large corpus count, so the bug was reachable.
    val (numPerm, rowsPerBand) =
      graft.operators.Dedup.minhashParamsAuto(1000000000L, 1, 25)
    val bands = numPerm / rowsPerBand
    assert(bands > 1, s"band collapse: b = $bands at numPerm=$numPerm r=$rowsPerBand")
    assert(numPerm % rowsPerBand === 0)
    // the budget cap (maxPerm / r) is what should bind, not the collapse
    assert(bands === 512 / rowsPerBand)
  }

  test("minhashLshPairs rejects a rowsPerBand that does not divide " +
    "numPerm (silent signature truncation), like minhashPairsAgainst") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.minhashLshPairs(docs, n = 3, numPerm = 512,
        rowsPerBand = 5, num = 1, den = 2)
    }
    assert(e.getMessage.contains("must divide"))
  }

  test("resolveClusters job budget: the driver finish closes the near-dup " +
    "graph in a few jobs, and the star rounds release superseded rounds") {
    val docs = Tables.documents(spark, sf0001)
    val pairs = Dedup.minhashLshPairs(docs, n = 3, numPerm = 32,
      rowsPerBand = 2, num = 1, den = 2).localCheckpoint()
    def resolved() = Dedup.resolveClusters(docs, pairs).count()
    resolved() // warm-up: the counted run's plans are not first-time
    val (jobs, n) = countingJobs("resolve-clusters")(resolved())
    assert(n === docs.count())
    assert(jobs.started <= MaxResolveJobs,
      s"resolveClusters ran ${jobs.started} jobs, budget $MaxResolveJobs")
    // the driver finish leaves no blocks pinned, the star rounds only
    // their last round's
    val sc = spark.sparkContext
    def pinned[A](body: => A): (A, Int) = {
      val before = sc.getPersistentRDDs.keySet
      val a = body
      (a, (sc.getPersistentRDDs.keySet -- before).size)
    }
    assert(pinned(Dedup.connectedComponents(pairs))._2 === 0)
    val (star, starPinned) = pinned(withSessionConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      Dedup.connectedComponents(pairs) })
    assert(starPinned === 1)
    Checkpointing.release(star)
  }

  test("minhashLshPairs: no join on the band key — one exchange into the " +
    "bucket kernel, the hot-bucket cap counted inside it") {
    val docs = Tables.documents(spark, sf0001)
    val q = Dedup.minhashLshPairs(docs, n = 3, numPerm = 32, rowsPerBand = 2,
      num = 1, den = 2, maxBucket = 512)
    q.collect() // AQE's plan of `q` itself is final after it ran
    val plan = q.queryExecution.executedPlan
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val joinKeys = aqe.collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
    }.flatten
    assert(joinKeys.nonEmpty, s"no verify join found:\n$plan")
    assert(!joinKeys.exists(k => k == "band_hash" || k == "band_id"),
      s"a join on the band key:\n$plan")
    assert(aqe.collect(plan) { case m: org.apache.spark.sql.execution.MapPartitionsExec => m }
      .nonEmpty, s"no bucket kernel:\n$plan")
  }

  test("minhashLshPairs job budget: the capped candidate stage on sf0.001") {
    val docs = Tables.documents(spark, sf0001)
    def run() = Dedup.minhashLshPairs(docs, n = 3, numPerm = 128,
      rowsPerBand = 4, num = 1, den = 2, maxBucket = 512).count()
    val want = run() // warm-up: the counted run's plans are not first-time
    val (jobs, got) = countingJobs("lsh-budget")(run())
    assert(got === want)
    assert(jobs.started <= MaxLshJobs,
      s"minhashLshPairs ran ${jobs.started} jobs, budget $MaxLshJobs")
  }

  test("graft_minhash_bands equals xxhash64(b, slice(sig, b*r+1, r)) bit " +
    "for bit, on the codegen and the interpreted path") {
    val rnd = new scala.util.Random(11)
    val sigs = (Seq(1, 2, 4, 8, 64, 128, 512).map(n => Array.fill(n)(rnd.nextLong())) :+
      Array(Long.MinValue, -1L, 0L, Long.MaxValue)).map(_.toSeq)
    // an RDD-built frame: over a local Seq frame the optimizer would fold
    // the projection on the driver, interpreted, and codegen never ran
    val df = spark.sparkContext.parallelize(
      sigs.zipWithIndex.map { case (sg, i) => (i.toLong, sg) }, 3)
      .toDF("doc_id", "sig")
    def compare(codegen: Boolean): Unit = for (r <- Seq(1, 2, 4)) {
      val rows = df.filter(size(col("sig")) >= r)
      // the kernel in a projection of its own: the reference's lambda
      // has no codegen and would keep its projection out of the stage
      val q = rows.select(col("doc_id"),
        call_function("graft_minhash_bands", col("sig"), lit(r)))
      val got = q.collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
      if (codegen) assert(codegenStages(q).exists(
        _.child.find(_.isInstanceOf[ProjectExec]).isDefined),
        s"the projection ran outside whole-stage codegen:\n" +
          q.queryExecution.executedPlan)
      val want = rows.select(col("doc_id"),
        expr(s"transform(sequence(0, CAST(size(sig) / $r AS INT) - 1), " +
          s"b -> xxhash64(b, slice(sig, b * $r + 1, $r)))"))
        .collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
      assert(got.size === sigs.count(_.length >= r))
      assert(got === want, s"rowsPerBand=$r")
    }
    withSessionConf("spark.sql.codegen.factoryMode", "CODEGEN_ONLY") {
      withSessionConf("spark.sql.codegen.fallback", "false")(compare(true))
    }
    withSessionConf("spark.sql.codegen.wholeStage", "false") {
      withSessionConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(
        compare(false))
    }
    // a NULL signature yields NULL; NULL elements are skipped like xxhash64's
    val nul = Seq[(Long, Seq[java.lang.Long])]((1L, null),
      (2L, Seq[java.lang.Long](5L, null, 7L, 8L))).toDF("doc_id", "sig")
      .select(call_function("graft_minhash_bands", col("sig"), lit(2)).as("got"),
        expr("transform(sequence(0, 1), b -> xxhash64(b, slice(sig, b * 2 + 1, 2)))")
          .as("want"))
      .collect()
    assert(nul(0).isNullAt(0))
    assert(nul(1).getSeq[Long](0) === nul(1).getSeq[Long](1))
  }

  /** Jobs of `resolveClusters(...).count()` on the sf0.001 documents with
    * its LSH pairs pinned: measured 6 with the driver finish (1 of them
    * the closure); the star rounds made it 31. */
  private val MaxResolveJobs = 6

  /** Jobs of `minhashLshPairs(numPerm = 128, rowsPerBand = 4, maxBucket =
    * 512).count()` on the sf0.001 documents after a warm-up: measured 6
    * with the bucket kernel in 12 of 12 runs, and once 7 after another
    * test's query (AQE's stage timing); the cap as a count aggregate and
    * an anti-join before a band-key self-join made it 8 in 12 of 12. */
  private val MaxLshJobs = 7
}
