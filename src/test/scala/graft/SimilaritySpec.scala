package graft

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity}

/** Pins the similarity-search semantics: exact cosine math, top-k
  * determinism, and the recall of the two approximate paths (LSH, IVF)
  * against the brute-force baseline on the driver embeddings table. */
class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine: hand-checked values through the double fold") {
    val df = Seq((1L, Seq(1.0f, 0.0f), 2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 2.0f), 4L, Seq(3.0f, 4.0f)))
      .toDF("ia", "a", "ib", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getAs[Double]("c"))
    assert(df(0) === 0.0)
    assert(math.abs(df(1) - 11.0 / (math.sqrt(5.0) * 5.0)) < 1e-15)
  }

  test("brute-force top-k: known nearest neighbours, deterministic tie-break") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.9f, 0.1f, 0.0f)), // identical direction to 1 → tie, id order
      (4L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, k = 3)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    assert(out === Array((1L, 1L), (2L, 3L), (3L, 2L))) // tie 1-vs-3 broken by id
  }

  test("LSH and IVF recall vs brute force on the driver embeddings (approximate, pinned floor)") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(queries, emb, k = 5))
    val lsh = pairs(Similarity.lshTopK(queries, emb, k = 5, bits = 4, tables = 8))
    val ivf = pairs(Similarity.ivfTopK(queries, emb, k = 5, nCentroids = 32,
      nProbe = 12, refineIters = 2))
    assert(brute.size === queries.count() * 5)
    val lshRecall = (brute & lsh).size.toDouble / brute.size
    val ivfRecall = (brute & ivf).size.toDouble / brute.size
    assert(lshRecall >= 0.6, s"LSH recall $lshRecall below floor")
    assert(ivfRecall >= 0.6, s"IVF recall $ivfRecall below floor")
  }

  test("multi-probe LSH: candidate superset of the exact-bucket run, recall never lower") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(queries, emb, k = 5))
    val plain = pairs(Similarity.lshTopK(queries, emb, k = 5, bits = 4, tables = 8))
    val probed = pairs(Similarity.lshTopK(queries, emb, k = 5, bits = 4, tables = 8,
      multiProbe = 2))
    val rPlain = (brute & plain).size.toDouble / brute.size
    val rProbed = (brute & probed).size.toDouble / brute.size
    // probing only ADDS query-side buckets, so recall is monotone
    assert(rProbed >= rPlain, s"multi-probe recall $rProbed < exact-bucket $rPlain")
  }

  test("cosinePairs fails loud past maxRows; points at the bucketed sibling") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(emb, 0.45, maxRows = 10)
    }
    assert(ex.getMessage.contains("O(n²) ground-truth reference"))
    assert(ex.getMessage.contains("cosinePairsBucketed"))
  }

  test("bucketed cosine pairs: verified subset, pinned recall, never all-pairs") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val brute = pairs(Similarity.cosinePairs(emb, 0.45))
    assert(brute.nonEmpty) // 14 planted pairs at sf0.01 — keep the test honest
    val q = Similarity.cosinePairsBucketed(emb, 0.45,
      bits = 2, tables = 12, multiProbe = 1)
    val lsh = pairs(q)
    // precision 1.0 by construction (exact verify) — a violation means the
    // verify filter broke
    assert(lsh.subsetOf(brute), s"non-true pairs emitted: ${lsh -- brute}")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.8, s"bucketed recall $recall below floor (found " +
      s"${lsh.size} of ${brute.size})")
    // the plan contract that justifies the operator: candidates come from
    // an equi-join on the band key and the verify joins are equi on the
    // pair ids — the all-pairs shapes (broadcast nested loop / cartesian,
    // cosinePairs' plan) must never appear
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"bucketed pair generation must never go all-pairs:\n$plan")
  }

  test("bucketed cosine pairs: one orientation a < b gives the " +
    "both-orientations pair set at every multi-probe width") {
    import graft.operators.HofReferences
    val emb = Tables.embeddings(spark, sf0001)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val bits = 3
    // threshold -2 verifies every candidate (cosine ≥ −1), so the
    // candidate sets themselves are compared; 0.45 is the registered cut
    for (mp <- Seq(0, 1, bits); t <- Seq(-2.0, 0.45)) {
      val got = pairs(Similarity.cosinePairsBucketed(emb, t, bits = bits,
        tables = 4, multiProbe = mp))
      val want = pairs(HofReferences.cosinePairsBucketedBothWays(emb, t,
        bits = bits, tables = 4, multiProbe = mp))
      assert(want.nonEmpty, s"multiProbe=$mp threshold=$t: empty reference")
      assert(got === want, s"multiProbe=$mp threshold=$t: " +
        s"missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
    }
  }

  test("PQ: code shape bounded by (m, k), recall floor with re-rank, empty corpus degrades") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val idx = Similarity.buildPqIndex(emb, m = 16, k = 16).get
    assert(idx.subDim === 4) // 64-dim corpus, 16 subspaces
    // every vector encodes to exactly m codes in [0, k)
    val shape = idx.encoded
      .select(size(col("codes")).as("n"),
        expr("aggregate(codes, true, (acc, c) -> acc AND c >= 0 AND c < 16)").as("ok"))
      .agg(min(col("n")), max(col("n")),
        org.apache.spark.sql.functions.every(col("ok"))).head()
    assert(shape.getInt(0) === 16 && shape.getInt(1) === 16 && shape.getBoolean(2))
    // codebooks: m·k rows at most (empty codes retain previous centroids)
    assert(idx.codebooks.count() === 16L * 16L)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, k = 5))
    val approx = pairs(Similarity.pqTopK(queries, emb, idx, k = 5, rerank = 100))
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall $recall below floor")
    assert(Similarity.buildPqIndex(emb.filter(lit(false)), m = 16, k = 16).isEmpty)
  }

  test("semantic dedup: verified subset, pinned recall, multiAssign widens monotonically, no all-pairs") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val brute = pairs(Similarity.cosinePairs(emb, 0.45))
    assert(brute.nonEmpty)
    val idx = Similarity.buildIvfIndex(emb, nCentroids = 32, refineIters = 2).get
    val q = Similarity.semanticDedupPairs(emb, idx, 0.45, multiAssign = 4)
    val sem = pairs(q)
    assert(sem.subsetOf(brute), s"non-true pairs emitted: ${sem -- brute}")
    val recall = sem.size.toDouble / brute.size
    assert(recall >= 0.75, s"semantic recall $recall below floor (found " +
      s"${sem.size} of ${brute.size})")
    // wider assignment can only ADD candidate pairs; exact verify keeps
    // precision, so the pair set must grow monotonically
    val narrow = pairs(Similarity.semanticDedupPairs(emb, idx, 0.45, multiAssign = 1))
    assert(narrow.subsetOf(sem))
    // No cartesian anywhere. (A BroadcastNestedLoopJoin IS sanctioned
    // here — the centroid assignment broadcasts the 32-row centroid set
    // against the corpus, corpus-linear by design — so unlike the
    // hyperplane row this plan can't pin BNLJ absence; the subset +
    // recall assertions above are the semantic teeth, and candidate
    // generation itself is an equi self-join on centroid_id.)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"cluster-scoped pair generation must never go cartesian:\n$plan")
  }

  test("multimodal resize: box-fit geometry preserves aspect order, max dim hits the target") {
    val docs = Seq((0L, "alpha beta gamma"), (2L, "some video words here"))
      .toDF("doc_id", "text")
    val out = FakeMedia.resizeFeatures(spark,
      FakeMedia.decodeFeatures(spark, FakeMedia.synthesizeMedia(docs)), 256L)
      .collect().map(r => r.doc_id -> r).toMap
    out.values.foreach { r =>
      assert(math.max(r.out_w, r.out_h) === 256L) // fitted to the box
      // aspect ordering preserved by the integer scale
      assert((r.width >= r.height) === (r.out_w >= r.out_h))
      assert(r.out_w === r.width * 256 / math.max(r.width, r.height))
    }
  }

  test("multimodal frame sampling: videos only, distinct in-range indices, short clips dedupe") {
    val docs = Seq((0L, "image doc"), (2L, "x " * 3), (5L, "y " * 200))
      .toDF("doc_id", "text")
    val decoded = FakeMedia.decodeFeatures(spark, FakeMedia.synthesizeMedia(docs))
    val frames = FakeMedia.sampleFrames(spark, decoded, k = 8).collect()
    assert(!frames.exists(_.doc_id === 0L)) // non-video emits nothing
    frames.groupBy(_.doc_id).foreach { case (_, fs) =>
      val idx = fs.map(_.frame_idx)
      assert(idx.distinct.length === idx.length) // deduplicated
      assert(idx.forall(i => i >= 0 && i < fs.head.n_frames)) // in range
      assert(idx.length <= 8)
    }
    // the long video gets all 8 samples; a clip shorter than k gets fewer
    val byDoc = frames.groupBy(_.doc_id).view.mapValues(_.length).toMap
    assert(byDoc(5L) === 8)
    assert(byDoc(2L) < 8)
  }

  test("real image decode: ImageIO recovers the PNG fixture's pixels exactly") {
    val fixture = Seq(3L -> "alpha beta gamma", 7L -> "the quick brown fox")
    val docs = fixture.toDF("doc_id", "text")
    val out = Multimodal.decodeImages(spark,
      Multimodal.synthesizeImages(spark, docs))
      .collect().map(f => f.doc_id -> f).toMap
    for ((id, text) <- fixture) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val w = 16 + "0123456789abcdef".indexOf(hex.charAt(0))
      val h = 16 + "0123456789abcdef".indexOf(hex.charAt(1))
      val expectedSum = (0 until w).flatMap(x =>
        (0 until h).map(y => (id * 31 + x + y) % 256)).sum
      val f = out(id)
      assert(f.width === w.toLong && f.height === h.toLong)
      assert(f.sum_gray === expectedSum.toLong) // every pixel decoded intact
      assert(f.px00 === (id * 31) % 256)
    }
  }

  test("real JPEG decode: dimensions exact, raster within the mean-deviation budget, codec genuinely lossy") {
    val docs = Tables.documents(spark, sf0001)
    val out = Multimodal.decodeImages(spark,
      Multimodal.synthesizeImages(spark, docs, format = "jpg"))
      .collect().map(f => f.doc_id -> f).toMap
    val meta = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === meta.keySet)
    var anyLossy = false
    for ((id, hex) <- meta) {
      val w = 16 + "0123456789abcdef".indexOf(hex.charAt(0))
      val h = 16 + "0123456789abcdef".indexOf(hex.charAt(1))
      val f = out(id)
      // geometry is lossless through JPEG
      assert(f.width === w.toLong && f.height === h.toLong)
      // raster is NOT: budget = 3 gray levels mean deviation (measured
      // mean 0.08 / max 0.68 at sf0.01 — the registered row's bound)
      val expectedSum = (0 until w).flatMap(x =>
        (0 until h).map(y => (id * 31 + x + y) % 256)).sum
      val dev = math.abs(f.sum_gray - expectedSum).toDouble / (w * h)
      assert(dev <= 3.0, s"doc $id mean gray deviation $dev over budget")
      if (f.sum_gray != expectedSum) anyLossy = true
    }
    // if every sum were exact we'd be silently decoding PNGs again
    assert(anyLossy, "no image deviated - lossy codec path not engaged")
    // unsupported format fails loud at construction
    intercept[IllegalArgumentException] {
      Multimodal.synthesizeImages(spark, docs, format = "bmp")
    }
  }

  test("multimodal fake decode: md5/length-derived features, video frame rule") {
    val docs = Seq((0L, "alpha beta"), (2L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    val out = FakeMedia.decodeFeatures(spark, FakeMedia.synthesizeMedia(docs))
      .collect().map(d => d.doc_id -> d).toMap
    assert(out(0L).media_type === "image")
    assert(out(2L).media_type === "video")
    assert(out(0L).byte_len === "alpha beta".getBytes("UTF-8").length.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("alpha beta".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0L).content_md5 === hex)
    assert(out(0L).n_frames === 1L) // image
    assert(out(2L).n_frames === 1L + "gamma delta epsilon".length % 240L) // video rule
    assert(out.values.forall(d => d.width >= 64 && d.width <= 64 + 16 * 15))
  }

  test("knnVote: plurality with ties to smaller label; majority flips with k") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f), 7),
      (1L, Seq(0.99f, 0.14f), 1),
      (2L, Seq(0.98f, 0.19f), 2),
      (3L, Seq(0.97f, 0.24f), 2),
      (4L, Seq(0.10f, 0.99f), 1),
      (5L, Seq(0.05f, 0.99f), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") === 0L)
    // k=3: neighbours 1,2,3 -> labels {1, 2, 2} -> predict 2
    val k3 = Similarity.knnClassify(queries, corpus, 3).collect().head
    assert(k3.getAs[Int]("label_predicted") === 2 &&
      k3.getAs[Long]("votes") === 2L &&
      k3.getAs[Int]("label_actual") === 7)
    // k=5: labels {1, 2, 2, 1, 1} -> predict 1
    val k5 = Similarity.knnClassify(queries, corpus, 5).collect().head
    assert(k5.getAs[Int]("label_predicted") === 1 &&
      k5.getAs[Long]("votes") === 3L)
    // k=4: {1, 2, 2, 1} -> 2-2 tie -> smaller label wins
    val k4 = Similarity.knnClassify(queries, corpus, 4).collect().head
    assert(k4.getAs[Int]("label_predicted") === 1)
  }

  test("SQ8: dequantization error bounded by half a level per dimension") {
    val emb = Tables.embeddings(spark, sf0001)
    val index = Similarity.buildSqIndex(emb)
    // worst per-dim |x − dequant(quant(x))| must be ≤ span/255/2 (+ float eps)
    val maxLevel = index.spans.max / 255.0 / 2.0 + 1e-6
    val err = emb.join(index.quantized, "vec_id")
      .withColumn("dq", Similarity.dequantize(index, col("qvec")))
      .select(expr("aggregate(zip_with(embedding, dq, (x, y) -> abs(CAST(x AS DOUBLE) - y)), 0D, (a, e) -> greatest(a, e))").as("m"))
      .agg(max(col("m"))).as[Double].collect().head
    assert(err <= maxLevel, s"max dequantization error $err > $maxLevel")
  }

  test("SQ8 top-k with re-rank: high recall vs brute force; constant dims exact") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(queries, emb, k = 5))
    val sq = pairs(Similarity.sqTopK(queries, emb, k = 5, rerank = 20))
    val recall = (brute & sq).size.toDouble / brute.size
    assert(recall >= 0.9, s"SQ8 recall $recall below floor")

    // a constant (zero-span) dimension reconstructs exactly to its min
    import spark.implicits._
    val const = Seq((1L, Seq(0.5f, 1.0f)), (2L, Seq(0.5f, -1.0f)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.buildSqIndex(const)
    val back = idx.quantized
      .select(Similarity.dequantize(idx, col("qvec")).as("v"))
      .select(expr("v[0]").as("d0")).as[Double].collect()
    assert(back.forall(v => math.abs(v - 0.5f.toDouble) < 1e-9))
  }

  test("real audio decode: javax.sound.sampled recovers the WAV fixture's samples exactly") {
    val docs = Seq((3L, "alpha beta"), (7L, "some words here"))
      .toDF("doc_id", "text")
    val out = Multimodal.decodeAudio(spark,
      Multimodal.synthesizeAudio(spark, docs))
      .collect().map(r => r.doc_id -> r).toMap
    docs.collect().foreach { row =>
      val id = row.getLong(0)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(row.getString(1).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val n = 64 + 4 * "0123456789abcdef".indexOf(hex.charAt(0))
      val samples = (0 until n).map(i => (id * 31 + i * 7) % 65536 - 32768)
      val r = out(id)
      assert(r.n_samples === n.toLong)
      assert(r.sample_rate === 8000L)
      assert(r.s0 === samples.head)
      assert(r.sum_abs === samples.map(math.abs(_)).sum)
    }
  }

  test("PCA ANN: registered configs clear their recall floors with margin (measured sf0.01)") {
    // the round-7 lesson: a fixed-size shortlist covers 10× less of a 10×
    // corpus, so the registered (k′, shortlist) is validated here at
    // sf0.01 AND by RecallCheck at sf0.1 (1.000 / 0.850 for PCA+Flat,
    // 0.820 / 0.780 for PCA+IVF) before registration
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(queries, emb, k = 5))
    val model = Similarity.pcaFit(Similarity.normalizedEmbeddings(emb), k = 32).get
    val flat = pairs(Similarity.pcaTopK(queries, emb, model, k = 5, shortlist = 120))
    val flatRecall = (brute & flat).size.toDouble / brute.size
    assert(flatRecall >= 0.9, s"PCA+Flat recall $flatRecall below the " +
      s"measured-1.000 pin (registered floor 0.7)")
    val ivf = pairs(Similarity.pcaIvfTopK(queries, emb, model, k = 5,
      nCentroids = 32, nProbe = 12, refineIters = 2))
    val ivfRecall = (brute & ivf).size.toDouble / brute.size
    assert(ivfRecall >= 0.7, s"PCA+IVF recall $ivfRecall below the " +
      s"measured-0.820 pin (registered floor 0.6)")
  }

  test("PCA+IVF plan contract: every nested-loop join broadcasts the centroid set, never the corpus") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val model = Similarity.pcaFit(Similarity.normalizedEmbeddings(emb), k = 16).get
    // AQE off so the executed plan is traversable pre-execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
      import org.apache.spark.sql.catalyst.optimizer.BuildLeft
      val q = Similarity.pcaIvfTopK(queries, emb, model, k = 5,
        nCentroids = 8, nProbe = 4)
      val plan = q.queryExecution.executedPlan
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
        s"cartesian in PCA+IVF plan:\n$plan")
      val bnl = plan.collect { case b: BroadcastNestedLoopJoinExec => b }
      assert(bnl.nonEmpty) // the sanctioned centroid-assignment crosses
      bnl.foreach { b =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        assert(build.output.map(_.name).contains("centv"),
          s"nested-loop join builds a non-centroid side " +
            s"(${build.output.map(_.name).mkString(",")}) — a corpus-wide " +
            s"scan leaked into the PCA+IVF serve path:\n$plan")
      }
      // contrast: PCA+Flat's shortlist IS the corpus-wide nested loop —
      // the shape this composition exists to remove
      val flatBnl = Similarity.pcaTopK(queries, emb, model, k = 5,
        shortlist = 20).queryExecution.executedPlan
        .collect { case b: BroadcastNestedLoopJoinExec => b }
      assert(flatBnl.exists { b =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        !build.output.map(_.name).contains("centv")
      })
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("pcaFit: ragged and null embeddings — loud failure / consistent exclusion") {
    import spark.implicits._
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Similarity.pcaFit(ragged, k = 1))
    assert(e.getMessage.contains("ragged"))
    // null vectors are excluded from n consistently, not silently averaged
    val withNull = Seq((1L, Some(Seq(1.0f, 3.0f))), (2L, None),
      (3L, Some(Seq(3.0f, 5.0f)))).toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(withNull, k = 2).get
    assert(m.mean(0) === 2.0 && m.mean(1) === 4.0)
    // a null ELEMENT inside a vector fails loud with the ragged-vector
    // convention's message, not an opaque codegen NPE
    val nullElem = Seq((1L, Seq(Some(1.0f), Some(2.0f))),
      (2L, Seq(Some(3.0f), None))).toDF("vec_id", "embedding")
    val ne = intercept[Exception](Similarity.pcaFit(nullElem, k = 1))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ne).exists(_.contains("null element inside embedding")),
      s"unexpected failure: $ne")
  }

  test("PCA whitening codepath: unit variance per kept component (emb_pca_fit's (f), spec-level)") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Similarity.pcaFit(emb, k = 8).get
    val bad = Similarity.pcaProject(emb, model, outCol = "pcw", whiten = true)
      .select(posexplode(col("pcw")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(var_pop(col("x")).as("v"))
      .join(Seq.tabulate(8)(i => (i, model.eigenvalues(i)))
        .toDF("pos", "ev"), "pos")
      .filter(col("ev") >= 1e-6 && abs(col("v") - 1.0) > 1e-4)
      .count()
    assert(bad === 0L)
  }

  test("ext_training_pairs: one positive, three hash-negatives outside the top-10 zone, deterministic") {
    val rows = graft.queries.ExtensionQueries.defs("ext_training_pairs")
      .fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.nonEmpty)
    val emb = Tables.embeddings(spark, sf0001)
    byQuery.foreach { case (q, rs) =>
      val pos = rs.filter(_._2 == "pos")
      val neg = rs.filter(_._2 == "neg")
      assert(pos.length === 1 && neg.length === 3)
      assert(neg.map(_._4).sorted.toSeq === Seq(1L, 2L, 3L))
      // the exclusion zone holds: no negative is a top-10 neighbor and
      // the positive IS the exact rank-1 neighbor
      val top10 = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === q), emb, k = 10)
        .collect().map(r => r.getAs[Long]("rank") ->
          r.getAs[Long]("neighbor_id"))
      assert(pos.head._3 === top10.find(_._1 == 1L).get._2)
      val zone = top10.map(_._2).toSet
      assert(neg.forall(n => !zone.contains(n._3) && n._3 != q))
    }
    // pure-hash membership: a second evaluation is identical
    val again = graft.queries.ExtensionQueries.defs("ext_training_pairs")
      .fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(again.sortBy(t => (t._1, t._2, t._4)).toSeq ===
      rows.sortBy(t => (t._1, t._2, t._4)).toSeq)
  }

  test("trainingPairs (prod): IVF-positive recall floor vs exact, gate-bounded pool, no corpus-wide pairing join") {
    import graft.operators.Sampling
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") % 50 === 0)
    val index = Similarity.buildIvfIndex(emb, nCentroids = 32,
      refineIters = 2).get
    val prod = Similarity.trainingPairs(q, emb, index, nProbe = 12,
      numNeg = 3, exclusionK = 10, negPoolSize = 64, seed = "tp10")
    val rows = prod.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3)))
    val byQuery = rows.groupBy(_._1)
    val queryIds = q.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(byQuery.keySet === queryIds, "every query covered")
    // per-query shape: exactly 1 positive + numNeg ranked distinct negatives
    byQuery.foreach { case (qid, rs) =>
      val pos = rs.filter(_._2 == "pos")
      val neg = rs.filter(_._2 == "neg")
      assert(pos.length === 1 && neg.length === 3)
      assert(neg.map(_._4).sorted.toSeq === Seq(1L, 2L, 3L))
      assert(rs.map(_._3).distinct.length === 4 && rs.forall(_._3 != qid))
    }
    // recall of the IVF positive vs the EXACT top-1 (the verdict's
    // "recall vs the exact row pinned in spec"): ann_ivf_topk floor 0.6;
    // measured 1.0 at sf0.001 with 32c/12p
    val exactPos = Similarity.trainingPairsExact(q, emb, numNeg = 3,
      exclusionK = 10, seed = "tp10")
      .filter(col("role") === "pos").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val prodPos = rows.filter(_._2 == "pos").map(t => t._1 -> t._3).toMap
    val recall = prodPos.count { case (k, v) => exactPos(k) == v }.toDouble /
      exactPos.size
    assert(recall >= 0.6, s"IVF-positive recall $recall below 0.6 floor")
    // negatives come from the hash-gated pool ONLY, and the pool is
    // O(negPoolSize) — the scale evidence that the candidate set is
    // bounded before pairing, not carved out of a Q×N enumeration
    val n = emb.count()
    val thr = math.min(Sampling.Scale,
      math.ceil(64.0 / n * Sampling.Scale).toLong)
    val pool = emb.filter(Sampling.bucket(col("vec_id"), "tp10", "md5") < thr)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(pool.size <= 3 * 64, s"pool ${pool.size} not bounded")
    assert(rows.filter(_._2 == "neg").forall(t => pool.contains(t._3)))
    // plan contract (the PCA+IVF pattern): no cartesian, and every
    // nested-loop join builds either the centroid set (IVF assignment)
    // or the gated id-only pool — never a side carrying the corpus
    // embedding column
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
      import org.apache.spark.sql.catalyst.optimizer.BuildLeft
      val plan = Similarity.trainingPairs(q, emb, index, nProbe = 12,
        numNeg = 3, exclusionK = 10, negPoolSize = 64, seed = "tp10")
        .queryExecution.executedPlan
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
        s"cartesian in trainingPairs plan:\n$plan")
      plan.collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        val names = build.output.map(_.name)
        assert(names.contains("centv") || names == Seq("cand_id"),
          s"nested-loop join builds a non-pool, non-centroid side " +
            s"(${names.mkString(",")}) — a corpus-wide scan leaked into " +
            s"the pairing path:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("occupancy rule: bits sizes with the corpus; the auto pipeline " +
    "equals the fixed config wherever the rule picks the same bits") {
    import graft.operators.Similarity
    // the pure function: target 500/bucket, clamped
    assert(Similarity.occupancyBits(0L) === 2)
    assert(Similarity.occupancyBits(500L) === 2)
    assert(Similarity.occupancyBits(2000L) === 2)
    assert(Similarity.occupancyBits(20000L) === 5)   // log2(40) = 5.32 -> 5
    assert(Similarity.occupancyBits(2000000L) === 12)
    assert(Similarity.occupancyBits(Long.MaxValue / 2) === 24) // clamp
    intercept[IllegalArgumentException] {
      Similarity.occupancyBits(100L, occupancyTarget = 0L)
    }
    // at the driver SF the rule picks the registered bits=2 - auto and
    // fixed produce the IDENTICAL pair set
    val emb = Tables.embeddings(spark, sf0001)
    def pairs(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Similarity.cosinePairsBucketedAuto(emb, 0.45,
        tables = 12, multiProbe = 1)) ===
      pairs(Similarity.cosinePairsBucketed(emb, 0.45,
        bits = 2, tables = 12, multiProbe = 1)))
  }

  test("trainingPairsExact fails loud past maxRows; points at the prod sibling") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") % 50 === 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.trainingPairsExact(q, emb, numNeg = 3, exclusionK = 10,
        seed = "s", maxRows = 100L).collect()
    }
    assert(e.getMessage.contains("trainingPairs"))
  }

  test("ivfAppend: postings identical to assigning the union against the " +
    "same frozen centroids; quantizer untouched; served recall holds") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val idx = Similarity.buildIvfIndex(base, nCentroids = 8,
      refineIters = 2).get
    val appended = Similarity.ivfAppend(idx, batch)
    // the quantizer is immutable: same centroid frame, by reference
    assert(appended.centroids eq idx.centroids)
    // append ≡ assign-on-union: bit-identical posting rows
    def rows(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("centroid_id")))
      .toSet
    val direct = Similarity.assign(idx.centroids, emb, "neighbor_id", keep = 1)
    assert(rows(appended.postings) === rows(direct))
    // every appended vector landed in exactly one posting list
    assert(appended.postings.count() === emb.count())
    // served top-k from the appended index reaches batch vectors too:
    // queries ARE batch members (vec_id % 50 = 0 ⊂ % 5 = 0), and their
    // exact top-1 must be recallable at full probe width
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val served = Similarity.ivfTopKWithIndex(queries, emb, appended,
      k = 5, nProbe = 8)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val servedPairs = served.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // full probe width (nProbe = nCentroids) makes IVF exhaustive: the
    // exact top-1 pair set must be a subset of the served top-5
    assert(brute.subsetOf(servedPairs))
  }

  test("ivfParamsAuto: sqrt-n centroids with clamps, constant candidate-" +
    "volume fraction, and the auto pipeline identical to the fixed form") {
    import graft.operators.Similarity
    // sqrt rule + clamps
    assert(Similarity.ivfParamsAuto(1L) === ((4, 2)))          // floor
    assert(Similarity.ivfParamsAuto(10000L)._1 === 100)
    assert(Similarity.ivfParamsAuto(100000000L)._1 === 4096)   // cap
    // candidate-volume fraction nProbe/nCentroids stays ~constant
    Seq(1000L, 100000L, 10000000L).foreach { n =>
      val (c, p) = Similarity.ivfParamsAuto(n)
      val frac = p.toDouble / c
      assert(frac >= 0.375 - 1e-9 && frac <= 0.375 + 1.0 / c + 1e-9,
        s"volume fraction drifted at n=$n: $p/$c")
    }
    // identity: auto == fixed at the derived params (same seeding, same
    // refinement — the result frames must match row for row)
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val n = emb.count()
    val (c, p) = Similarity.ivfParamsAuto(n)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Similarity.ivfTopKAuto(queries, emb, k = 5,
        refineIters = 2)) ===
      rows(Similarity.ivfTopK(queries, emb, k = 5, nCentroids = c,
        nProbe = p, refineIters = 2)))
  }

  test("pqParamsAuto: byte codes once trainable, code bits track " +
    "2·log2(n), m divides dim, and the auto builder is identical to " +
    "the fixed form at derived params") {
    import graft.operators.Similarity
    // k halves below trainability (n >= 8k), saturates at 256 above
    assert(Similarity.pqParamsAuto(100L, 64)._2 < 256)
    assert(Similarity.pqParamsAuto(10000L, 64)._2 === 256)
    assert(Similarity.pqParamsAuto(1000000000L, 64)._2 === 256)
    // m: smallest dim divisor reaching the 2·log2(n) bit target, so
    // code bits are monotone in n and m always divides dim
    val dims = Seq(16, 64, 96)
    val ns = Seq(100L, 100000L, 1000000000L, 1000000000000L)
    dims.foreach { d =>
      var prevBits = 0.0
      ns.foreach { n =>
        val (m, k) = Similarity.pqParamsAuto(n, d)
        assert(d % m === 0, s"m=$m !| dim=$d")
        val bits = m * math.log(k.toDouble) / math.log(2.0)
        assert(bits >= prevBits - 1e-9, s"code bits shrank at n=$n d=$d")
        prevBits = bits
        // the birthday target holds unless m already saturated at dim
        if (m < d) assert(bits >= 2.0 * math.log(n.toDouble) / math.log(2.0) - 1e-9)
      }
    }
    // n=10^6 and 10^9 both land at one byte per dim-eighth for dim 64
    assert(Similarity.pqParamsAuto(1000000L, 64) === ((8, 256)))
    assert(Similarity.pqParamsAuto(1000000000L, 64) === ((8, 256)))
    // small-corpus clause (round 15): below n ~ 10k, m floors at the
    // fixed frontier (smallest dim divisor >= 16) — memory is
    // irrelevant there and the birthday-bound minimum underfit (0.725
    // recall at n=2k, RECALL_SCALE.md); at the boundary and above the
    // asymptotic rule is unchanged
    assert(Similarity.pqParamsAuto(2000L, 64)._1 === 16)
    assert(Similarity.pqParamsAuto(9999L, 64)._1 === 16)
    assert(Similarity.pqParamsAuto(10000L, 64) === ((4, 256)))
    assert(Similarity.pqParamsAuto(2000L, 8)._1 === 8) // dim-capped floor
    // rerank budget (round 16): 5%/min-100 everywhere EXCEPT the mid-n
    // band 10k <= n < 50k, where the auto codes have just dropped to the
    // birthday-bound minimum and the budget triples to 15% (recall
    // 0.841 -> 0.969 at n=20k, RECALL_SCALE.md round 16)
    assert(Similarity.pqRerankAuto(500L) === 100)   // floor
    assert(Similarity.pqRerankAuto(2000L) === 100)  // 5%, floored at 100
    assert(Similarity.pqRerankAuto(9999L) === 500)  // 5% below the band
    assert(Similarity.pqRerankAuto(20000L) === 3000) // 15% inside it
    assert(Similarity.pqRerankAuto(49999L) === 7500) // bounded at <= 7.5k
    assert(Similarity.pqRerankAuto(50000L) === 2500) // 5% resumes
    assert(Similarity.pqRerankAuto(1000000L) === 50000)
    // identity: auto == fixed at the derived params (same sample, same
    // seeding, same Lloyd passes → identical codebooks and codes)
    val emb = Tables.embeddings(spark, sf0001)
    val stats = emb.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.first(
        org.apache.spark.sql.functions.size(col("embedding")))).head()
    val (m, k) = Similarity.pqParamsAuto(stats.getLong(0), stats.getInt(1))
    val auto = Similarity.buildPqIndexAuto(emb).get
    val fixed = Similarity.buildPqIndex(emb, m, k).get
    assert(auto.m === fixed.m && auto.k === fixed.k &&
      auto.subDim === fixed.subDim)
    def codes(idx: Similarity.PqIndex) =
      idx.encoded.collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    assert(codes(auto) === codes(fixed))
  }

  test("zero-norm embeddings are OUT of the cosine domain: they never " +
    "pair, never rank, and never capture a centroid (NaN ordering " +
    "hazard, round 15)") {
    import spark.implicits._
    // vec 99 is all-zero — cosine against anything is 0/0 = NaN, which
    // Spark's nan-safe ordering puts ABOVE every real number
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(-1.0f, 0.0f)), (99L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // pairs: 1-2 are the only pair at cos >= 0.9; 99 pairs with NOTHING
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Similarity.cosinePairs(emb, 0.9)) === Set((1L, 2L)))
    assert(pairSet(Similarity.cosinePairsBucketed(emb, 0.9,
      bits = 2, tables = 8, multiProbe = 2)) === Set((1L, 2L)))
    // ranking: 99 never appears as a neighbor, and as a query it emits
    // no rows (its similarity is undefined) — pre-fix it topped EVERY
    // ranking and paired with everything
    val topk = Similarity.bruteForceTopK(emb, emb, k = 3)
    assert(!topk.select("neighbor_id").as[Long].collect().contains(99L))
    assert(topk.filter(col("query_id") === 99L).count() === 0L)
    // IVF build + serve still function with the zero vector present
    val idx = Similarity.buildIvfIndex(emb, nCentroids = 2).get
    val served = Similarity.ivfTopKWithIndex(emb, emb, idx, k = 2, nProbe = 2)
    assert(!served.select("neighbor_id").as[Long].collect().contains(99L))
  }

  test("buildIvfIndex never silently shrinks nCentroids: a centroid " +
    "whose members all tie away keeps its previous vector (the " +
    "buildPqIndex empty-code rule)") {
    import spark.implicits._
    // 8 IDENTICAL vectors: farthest-point seeds 4 duplicate centroids,
    // every member ties to the smallest centroid_id in Lloyd, and the
    // groupBy emits rows for ONE centroid — pre-fix the index came back
    // with 1 centroid where 4 were requested
    val emb = (1L to 8L).map(i => (i, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(emb, nCentroids = 4,
      refineIters = 2).get
    assert(idx.centroids.count() === 4L)
    // and every corpus vector is still posted exactly once
    assert(idx.postings.count() === 8L)
  }

  test("trainingPairs raises LOUD for a query with no positive (probed " +
    "posting lists hold only itself), mirroring the negative-shortfall " +
    "guard") {
    import spark.implicits._
    // two orthogonal clusters; with nProbe=1 each query probes only its
    // own centroid's posting list. q=1's list holds only itself -> no
    // rank-1 neighbor -> the pre-fix silently emitted negs with no pos.
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.9f, 0.1f, 0.0f)),
      (4L, Seq(0.0f, 0.95f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(corpus, nCentroids = 2).get
    val queries = corpus.filter(col("vec_id") === 1L)
    val e = intercept[Exception] {
      Similarity.trainingPairs(queries, corpus, idx, nProbe = 1,
        numNeg = 1, exclusionK = 1, negPoolSize = 8, seed = "s").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no positive")), s"got: $e")
  }

  test("assign: the map-only kernel gives the window form's rows exactly " +
    "(degenerate vectors, exact ties, every keep, both eval paths)") {
    import spark.implicits._
    import graft.operators.HofReferences
    def v(xs: Option[Float]*): Option[Seq[Option[Float]]] = Some(xs)
    val (one, zero, none) = (Some(1.0f), Some(0.0f), Option.empty[Float])
    val vecRows = Seq[(Option[Long], Option[Seq[Option[Float]]])](
      (Some(1L), v(one, zero, zero)),
      (Some(2L), v(Some(0.6f), Some(0.8f), zero)),
      (Some(3L), v(zero, zero, zero)),                  // zero norm
      (Some(4L), None),                                 // NULL embedding
      (Some(5L), v(one, none, zero)),                   // NULL element
      (Some(6L), v(one, zero)),                         // wrong length
      (Some(7L), v(one, one, one, one)),                // wrong length
      (Some(8L), v(Some(0.5f), Some(0.5f), zero)),
      (Some(9L), v(Some(Float.NaN), zero, zero)),
      (Some(10L), v(Some(-1.0f), zero, zero)),
      (Some(11L), v(Some(-0.0f), one, zero)),
      (None, v(one, zero, zero))                        // NULL id: dropped
    )
    // an RDD-built frame: over a local Seq frame the optimizer could fold
    // the kernel's projection on the driver, interpreted
    val vecs = spark.sparkContext.parallelize(vecRows, 3)
      .toDF("vec_id", "embedding")
    val cents = Seq[(Long, Seq[Float])](
      (10L, Seq(1f, 0f, 0f)),
      (20L, Seq(0f, 1f, 0f)),
      (30L, Seq(0f, 1f, 0f)),                           // duplicate: exact ties
      (40L, Seq(0f, 0f, 0f)),                           // zero centroid
      (50L, Seq(1f, 1f)),                               // other length
      (5L, Seq(0.7f, 0.7f, 0f))
    ).toDF("centroid_id", "centv")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
      .sortBy(t => (t._1.map(_.toString), t._2.map(_.toString)))
    val c = cents.count().toInt
    val probe = Similarity.assign(cents, vecs, "q", 1)
    probe.collect()
    assert(codegenStages(probe).exists(
      _.child.find(_.isInstanceOf[GenerateExec]).isDefined),
      s"the kernel ran outside whole-stage codegen:\n" +
        probe.queryExecution.executedPlan)
    // a local centroid frame is folded on the driver, any other one by
    // the one-row aggregate
    for (cs <- Seq(cents, cents.repartition(3));
        emb <- Seq(vecs,
          vecs.withColumn("embedding", col("embedding").cast("array<double>")));
        keep <- Seq(1, 3, c, c + 2)) {
      val want = rows(HofReferences.assignWindow(cs, emb, "q", keep))
      assert(want.nonEmpty)
      assert(rows(Similarity.assign(cs, emb, "q", keep)) === want,
        s"codegen, keep=$keep")
      withSessionConf("spark.sql.codegen.wholeStage", "false") {
        withSessionConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
          assert(rows(Similarity.assign(cs, emb, "q", keep)) === want,
            s"interpreted, keep=$keep")
        }
      }
    }
  }

  test("buildIvfIndex job budget: one job per Lloyd pass, postings map-only") {
    val emb = Tables.embeddings(spark, sf0001)
    def built() = {
      val idx = Similarity.buildIvfIndex(emb, nCentroids = 32, refineIters = 2).get
      (idx, idx.postings.count())
    }
    built() // warm-up: the counted run's plans are not first-time
    val (jobs, (idx, n)) = countingJobs("ivf-build")(built())
    assert(n === emb.count())
    assert(jobs.started <= MaxIvfBuildJobs,
      s"buildIvfIndex + postings ran ${jobs.started} jobs, budget $MaxIvfBuildJobs")
    // the centroids are a local relation; the postings rank each row in
    // place, with no window over (row × centroid) pairs
    assert(idx.centroids.queryExecution.executedPlan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.nonEmpty)
    assert(idx.postings.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
  }

  /** Jobs of `buildIvfIndex(emb, 32, refineIters = 2)` plus
    * `postings.count()` on the sf0.001 embeddings: measured 6 with the
    * one-job Lloyd pass and the map-only assignment; the relational
    * passes and the window assignment took 23. */
  private val MaxIvfBuildJobs = 6
}
