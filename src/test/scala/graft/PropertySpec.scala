package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test => ScTest}

import graft.functions.cleaning
import graft.operators.{Dedup, Features, Ingest}

/** Property-based pins (SURVEY.md §5 item 3). Each property evaluates a
  * BATCH of generated cases in one Spark job (a job per sample would take
  * minutes), with few ScalaCheck iterations on top. */
object PropertySpec extends Properties("graft") {
  import TestSpark.spark.implicits._
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(3)

  // --- F1: parse_numeric round-trips every suffix form exactly
  private val suffixes = Map("K" -> 1e3, "k" -> 1e3, "M" -> 1e6, "m" -> 1e6,
    "B" -> 1e9, "b" -> 1e9, "T" -> 1e12, "t" -> 1e12)
  private val numCase: Gen[(String, Option[Double])] = for {
    iv <- Gen.chooseNum(-99999L, 99999L)
    kind <- Gen.oneOf("plain", "pct", "suffix", "junk", "empty")
    suf <- Gen.oneOf(suffixes.keys.toSeq)
  } yield kind match {
    case "plain" => (iv.toString, Some(iv.toDouble))
    case "pct" => (s"$iv%", Some(iv.toDouble))
    case "suffix" => (s"$iv$suf", Some(iv.toDouble * suffixes(suf)))
    case "junk" => ("x" + iv, None)
    case "empty" => ("", None)
  }

  property("parseNumeric round-trips suffix/percent/plain; junk and empty are null") =
    Prop.forAll(Gen.listOfN(60, numCase)) { cases =>
      val got = cases.map(_._1).toDF("raw")
        .select(cleaning.parseNumeric(col("raw")).as("p"))
        .collect().map(r => Option(r.getAs[Any]("p")).map(_.asInstanceOf[Double]))
      got.toSeq == cases.map(_._2)
    }

  // --- W3/F11: normalize into [0,1] when the group has spread; denormalize inverts
  property("minMaxNormalize lands in [0,1] and denormalize inverts it") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => ("g", i, v) }.toDF("k", "t", "v")
      val (norm, mn, rng) = Features.minMaxNormalize(col("v"), Seq("k"))
      val out = df.withColumn("n", norm).withColumn("mn", mn).withColumn("rng", rng)
        .withColumn("back", Features.denormalize(col("n"), col("mn"), col("rng")))
        .collect()
      out.forall { r =>
        val n = r.getAs[Double]("n")
        val back = r.getAs[Double]("back")
        val v = r.getAs[Double]("v")
        n >= 0.0 && n <= 1.0 && math.abs(back - v) <= 1e-6 * math.max(1.0, math.abs(v))
      }
    }

  // --- SNK1: upsert result keys = union; batch wins; idempotent
  private val kvGen: Gen[List[(String, Int)]] =
    Gen.listOf(Gen.zip(Gen.oneOf((1 to 12).map("k" + _)), Gen.chooseNum(0, 1000)))
      .map(_.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }.toList)

  property("upsert: keys are the union, batch wins on collision, re-applying is a no-op") =
    Prop.forAll(kvGen, kvGen) { (existing, batch) =>
      val e = existing.toDF("key", "v").withColumn("ord", lit(0))
      val b = batch.toDF("key", "v").withColumn("ord", lit(1))
      val once = Ingest.upsert(e, b, Seq("key"), "ord")
      val got = once.collect().map(r => r.getAs[String]("key") -> r.getAs[Int]("v")).toMap
      val want = existing.toMap ++ batch.toMap
      val twice = Ingest.upsert(once, b, Seq("key"), "ord")
        .collect().map(r => r.getAs[String]("key") -> r.getAs[Int]("v")).toMap
      got == want && twice == want
    }

  // --- MinHash-LSH ⊆ exact Jaccard: the verify step makes precision 1.0
  // regardless of banding luck
  private val docGen: Gen[(Long, String)] = for {
    id <- Gen.chooseNum(0L, 1000L)
    words <- Gen.listOfN(12, Gen.oneOf("spark", "hash", "join", "scan",
      "sort", "agg", "row", "key", "batch", "merge"))
  } yield (id, words.mkString(" "))

  property("minhashLshPairs is a subset of exact jaccardPairs (precision 1.0)") =
    Prop.forAll(Gen.listOfN(25, docGen)) { raw =>
      val docs = raw.toMap.toList.toDF("doc_id", "text") // unique ids
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(Dedup.jaccardPairs(docs, 3, 1, 2))
      val lsh = pairs(Dedup.minhashLshPairs(docs, 3, 32, 2, 1, 2))
      lsh.subsetOf(exact)
    }

  // --- TopKAggregator under real partial aggregation equals a full sort
  private val scoredGen: Gen[List[(Long, Double, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 3L),
      Gen.chooseNum(-10.0, 10.0), Gen.chooseNum(0L, 500L)))

  // --- Fused native text/LSH expressions are value-identical to the
  // composable HOF forms they replaced (the round-3 perf work must not
  // move a single bit)
  private val tokenChar: Gen[Char] = Gen.frequency(
    (8, Gen.alphaLowerChar), (2, Gen.oneOf(".,;:!?".toSeq)),
    (1, Gen.oneOf("éü¢€日本".toSeq)))
  private val tokenGen: Gen[String] = Gen.frequency(
    (6, Gen.choose(1, 10).flatMap(n => Gen.stringOfN(n, tokenChar))),
    (2, Gen.oneOf(graft.functions.TextMetrics.DefaultStopwords)),
    (1, Gen.const("")), // consecutive/leading/trailing spaces
    (1, Gen.const("😀ok"))) // astral-plane leading char
  private val textGen: Gen[String] =
    Gen.listOf(tokenGen).map(_.mkString(" "))

  property("TextMetrics equals the composable split/distinct/aggregate/filter form") =
    Prop.forAll(Gen.listOfN(40, textGen)) { texts =>
      graft.functions.GraftFunctions.register(spark)
      val sw = graft.functions.TextMetrics.DefaultStopwords
        .map("'" + _ + "'").mkString(",")
      val out = texts.toDF("text")
        .withColumn("ws", split(col("text"), " "))
        .select(
          call_function("graft_text_metrics", col("text")).as("m"),
          length(col("text")).as("e_chars"),
          size(col("ws")).as("e_tokens"),
          size(array_distinct(col("ws"))).as("e_uniq"),
          expr("aggregate(ws, 0L, (acc, w) -> acc + CAST(ceil(length(w) / 4.0) AS BIGINT))")
            .as("e_sub"),
          size(expr(s"filter(ws, w -> w IN ($sw))")).as("e_stop"),
          length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("e_punct"))
        .collect()
      out.forall { r =>
        val m = r.getStruct(0)
        m.getInt(0) == r.getInt(1) && m.getInt(1) == r.getInt(2) &&
          m.getInt(2) == r.getInt(3) && m.getLong(3) == r.getLong(4) &&
          m.getInt(4) == r.getInt(5) && m.getInt(5) == r.getInt(6)
      }
    }

  property("WordNGramHashes(xxh64) equals the composable shingle/distinct/hash/sort form") =
    Prop.forAll(Gen.listOfN(25, textGen), Gen.choose(1, 4)) { (texts, n) =>
      graft.functions.GraftFunctions.register(spark)
      val grams = (0 until n).map(off => s"element_at(ws, CAST(i + $off AS INT))")
      val out = texts.toDF("text")
        .withColumn("ws", split(col("text"), " "))
        .select(
          call_function("graft_ngram_hashes", col("ws"), lit(n)).as("got"),
          expr(
            s"""CASE WHEN size(ws) < $n THEN array()
               |ELSE array_sort(array_distinct(transform(
               |  transform(sequence(1, size(ws) - ${n - 1}),
               |    i -> concat_ws(' ', ${grams.mkString(", ")})),
               |  s -> xxhash64(s))))
               |END""".stripMargin).as("want"))
        .collect()
      out.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1))
    }

  property("MinHashSig equals the composable per-permutation array_min form") =
    Prop.forAll(Gen.listOfN(25, textGen), Gen.choose(1, 8)) { (texts, numPerm) =>
      graft.functions.GraftFunctions.register(spark)
      val out = texts.toDF("text")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("sh", call_function("graft_ngram_hashes", col("ws"), lit(3)))
        .filter(size(col("sh")) > 0)
        .select(
          call_function("graft_minhash_sig", col("sh"), lit(numPerm)).as("got"),
          expr(
            s"""transform(sequence(0, ${numPerm - 1}),
               |  p -> array_min(transform(sh, h -> xxhash64(h, p))))""".stripMargin)
            .as("want"))
        .collect()
      out.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1))
    }

  property("SimHash63 equals the composable per-bit majority fold") =
    Prop.forAll(Gen.listOfN(25, textGen)) { texts =>
      graft.functions.GraftFunctions.register(spark)
      val out = texts.toDF("text")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("sh", call_function("graft_ngram_hashes", col("ws"), lit(3)))
        .filter(size(col("sh")) > 0)
        .select(
          call_function("graft_simhash63", col("sh")).as("got"),
          expr(
            """aggregate(sequence(0, 62), 0L, (acc, b) -> acc * 2 +
              |  CASE WHEN aggregate(sh, 0,
              |         (c, h) -> c + CASE WHEN (shiftright(h, b) & 1) = 1
              |                       THEN 1 ELSE -1 END) > 0
              |       THEN 1L ELSE 0L END)""".stripMargin).as("want"))
        .collect()
      out.forall(r => r.getLong(0) == r.getLong(1))
    }

  property("TokenRollingHash equals the composable aggregate/ascii form") =
    Prop.forAll(Gen.listOfN(40, textGen)) { texts =>
      graft.functions.GraftFunctions.register(spark)
      val out = texts.toDF("text")
        .select(
          call_function("graft_rolling_hash", col("text")).as("got"),
          expr("""aggregate(split(text, ' '), 7L,
                 |  (acc, w) -> (acc * 31 + length(w) * 131 + ascii(substring(w, 1, 1)))
                 |              % 1000000007L)""".stripMargin).as("want"))
        .collect()
      out.forall(r => r.getLong(0) == r.getLong(1))
    }

  private val vecGen: Gen[List[Float]] =
    Gen.choose(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-4.0f, 4.0f)))

  property("HyperplaneSig equals the composable nested-HOF form") =
    Prop.forAll(Gen.listOfN(20, vecGen), Gen.choose(1, 8), Gen.choose(0, 7)) {
      (vecs, bits, table) =>
        graft.functions.GraftFunctions.register(spark)
        val out = vecs.toDF("embedding")
          .select(
            graft.operators.Similarity.hyperplaneSignature("embedding", bits, table).as("got"),
            graft.operators.HofReferences.hyperplaneSignatureHof("embedding", bits, table).as("want"))
          .collect()
        out.forall(r => r.getLong(0) == r.getLong(1))
    }

  // --- probed SimHash banding: the pigeonhole guarantee. For ANY sketch
  // pair within Hamming 7, some 16-bit band differs in ≤ 1 bit, so with
  // probeBits=16 the pair MUST surface as a candidate — not "usually",
  // always. Random 63-bit sketches with ≤ 7 random flipped bits probe the
  // full layout, not just the hand-picked boundary cases DedupSpec pins.
  private val probeCaseGen: Gen[(Long, Seq[Int])] = for {
    base <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .map(_ & 0x7fffffffffffffffL) // bit 63 clear, like SimHash63
    k <- Gen.choose(0, 7)
    bits <- Gen.pick(k, 0 until 63)
  } yield (base, bits.toSeq)

  property("probed simhash bands guarantee candidates for any pair within Hamming 7") =
    Prop.forAll(Gen.listOfN(20, probeCaseGen)) { cases =>
      val rows = cases.zipWithIndex.flatMap { case ((base, bits), i) =>
        val flipped = bits.foldLeft(base)((v, b) => v ^ (1L << b))
        Seq((2L * i, base), (2L * i + 1, flipped))
      }
      val sk = Dedup.withSimhashBands(rows.toDF("doc_id", "simhash"))
      val pairs = Dedup.simhashPairsFromSketch(sk, maxDist = 7, probeBits = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      cases.indices.forall(i => pairs.contains((2L * i, 2L * i + 1)))
    }

  // --- SortedUpperBound: binary search == the composable HOF count on
  // sorted input (the precondition the expression documents)
  private val ubCase: Gen[(List[Long], Long)] = for {
    xs <- Gen.listOf(Gen.chooseNum(-1000L, 1000L))
    t <- Gen.chooseNum(-1100L, 1100L)
  } yield (xs.sorted, t)

  property("SortedUpperBound equals size(filter(arr, _ <= t)) on sorted arrays") =
    Prop.forAll(Gen.listOfN(40, ubCase)) { cases =>
      import org.apache.spark.sql.functions.{call_function, col, filter, size}
      val got = cases.toDF("arr", "t").select(
        call_function("graft_sorted_upper_bound", col("arr"), col("t")).as("bs"),
        size(filter(col("arr"), _ <= col("t"))).as("hof")).collect()
      got.forall(r => r.getAs[Int]("bs") == r.getAs[Int]("hof"))
    }

  property("TopKAggregator ranking equals sort-and-take under any partitioning") =
    Prop.forAll(scoredGen) { rows =>
      import org.apache.spark.sql.functions.{col, posexplode, udaf}
      // unique (g, id) by construction so frame and expectation agree
      val uniq = rows.groupBy(r => (r._1, r._3)).map(_._2.head).toList
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.Encoders.product[graft.functions.ScoredId])
      // repartition(5): forces multiple partial buffers + a merge
      val df = uniq.toDF("g", "score", "id").repartition(5)
      val got = df.groupBy(col("g")).agg(topk(col("score"), col("id")).as("top"))
        .select(col("g"), posexplode(col("top")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getStruct(2).getLong(1)))
        .toSet
      val want = uniq
        .groupBy(_._1).flatMap { case (g, vs) =>
          vs.sortBy(v => (-v._2, v._3)).take(3).zipWithIndex
            .map { case (v, i) => (g, i, v._3) }
        }.toSet
      got == want
    }

  // --- SpanScrubRow: the fused native pass vs BOTH references. A tiny
  // alphabet forces dense gram repetition (echoes, stutters, junctions,
  // sub-n docs), probing the policy far beyond the hand-picked spec
  // cases: three algorithms (native one-pass, HOF row form, relational
  // window form), one answer.
  private val scrubDocGen: Gen[String] = for {
    len <- Gen.choose(0, 25)
    toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
  } yield toks.mkString(" ")

  property("SpanScrubRow equals the HOF row form and the relational scrub on repeat-heavy docs") =
    Prop.forAll(Gen.listOfN(30, scrubDocGen), Gen.choose(2, 4)) { (docs, n) =>
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def snap(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val native = snap(Dedup.spanScrubRowwise(df, n))
      native == snap(graft.operators.HofReferences.spanScrubRowwiseHof(df, n)) &&
        native == snap(Dedup.spanScrub(df, n))
    }

  // --- Association.pairRules vs a naive in-memory miner (round 12): a
  // tiny item alphabet forces dense co-occurrence; the differential
  // covers counts, BOTH integer gates (support + cross-multiplied
  // confidence), direction asymmetry, and the exactly-once-per-basket
  // semantics under duplicate input rows.
  private val basketGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 40)
    rows <- Gen.listOfN(n, for {
      bk <- Gen.choose(1L, 8L)
      it <- Gen.oneOf("a", "b", "c", "d", "e")
    } yield (bk, it))
  } yield rows

  property("pairRules equals the naive miner on dense random baskets") =
    Prop.forAll(basketGen, Gen.choose(1L, 3L), Gen.choose(0L, 1000L)) {
      (rows, minSup, confMilli) =>
        val df = rows.toDF("bk", "it")
        val got = graft.operators.Association
          .pairRules(df, "bk", "it", minSup, confMilli)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
          .toMap
        // naive reference: distinct sets in memory
        val b = rows.distinct
        val nB = b.map(_._1).distinct.size.toLong
        val ni = b.groupBy(_._2).map { case (i, vs) => i -> vs.size.toLong }
        val byBk = b.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val want = (for {
          i1 <- ni.keys; i2 <- ni.keys if i1 != i2
          np = byBk.values.count(s => s(i1) && s(i2)).toLong
          if np >= minSup && ni(i1) >= minSup && ni(i2) >= minSup
          if 1000L * np >= confMilli * ni(i1)
        } yield (i1, i2) -> ((np, ni(i1), ni(i2), nB))).toMap
        got == want
    }

  // --- chunked window forms: for RANDOM data (nulls in value, in both
  // key columns and in time included; ties in time broken by a unique
  // id) and a RANDOM monotone chunk width, the chunked scale paths are
  // bit-identical to the plain per-key windows. The two-column nullable
  // key pins the per-column null-safe carry join; the (t, id) order pins
  // the multi-column tiebreak. The fixed FeaturesSpec fixtures pin the
  // known edge shapes; this sweeps the space between them.
  private val seqGen: Gen[List[(Option[String], Option[Int], Option[Int],
      Long, Option[Double])]] =
    for {
      n <- Gen.choose(0, 50)
      rows <- Gen.listOfN(n, for {
        k1 <- Gen.option(Gen.oneOf("g", "h"))
        k2 <- Gen.option(Gen.oneOf(1, 2))
        t <- Gen.option(Gen.choose(0, 60))
        v <- Gen.option(Gen.chooseNum(-100.0, 100.0))
      } yield (k1, k2, t, v))
    } yield rows.zipWithIndex.map { case ((k1, k2, t, v), i) =>
      (k1, k2, t, i.toLong, v) }

  private val kSeq = Seq("k1", "k2")
  private val tSeq = Seq("t", "id")
  private def seqFrame(rows: List[(Option[String], Option[Int], Option[Int],
      Long, Option[Double])]) = rows.toDF("k1", "k2", "t", "id", "v")

  property("chunked lag/ffill/bfill equal the plain windows on random " +
    "data for any monotone chunk width") =
    Prop.forAll(seqGen, Gen.choose(1, 9)) { (rows, width) =>
      val df = seqFrame(rows)
      val chunk = expr(s"CAST(floor(t / $width) AS BIGINT)")
      val w = Features.keyWindow(kSeq, tSeq)
      def snap(d: org.apache.spark.sql.DataFrame, c: String) =
        d.collect().map(r => r.getAs[Long]("id") -> r.getAs[Any](c)).toMap
      val okF = snap(Features.ffillChunked(df, "v", kSeq, tSeq, chunk, "o"), "o") ==
        snap(df.withColumn("o", Features.ffill(col("v"), w)), "o")
      val okB = snap(Features.bfillChunked(df, "v", kSeq, tSeq, chunk, "o"), "o") ==
        snap(df.withColumn("o", Features.bfill(col("v"), kSeq, tSeq)), "o")
      val okL = snap(Features.lag1Chunked(df, "v", kSeq, tSeq, chunk, "o"), "o") ==
        snap(df.withColumn("o", Features.lag1(col("v"), w)), "o")
      okF && okB && okL
    }

  property("chunked state episodes equal the plain form on random state " +
    "sequences for any monotone chunk width") =
    Prop.forAll(seqGen, Gen.choose(1, 9)) { (rows, width) =>
      // states from a tiny alphabet so runs actually form and span chunks
      val df = seqFrame(rows)
        .withColumn("st", when(col("v") < 0, "A").when(col("v") >= 0, "B"))
      val chunk = expr(s"CAST(floor(t / $width) AS BIGINT)")
      val order = tSeq.map(col)
      def snap(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getAs[Any]("k1"), r.getAs[Any]("k2"),
          r.getAs[Long]("episode_id"), r.getAs[String]("state")) ->
          ((r.getAs[Long]("n_events"), r.getAs[Any]("first_ord"),
            r.getAs[Any]("last_ord")))).toMap
      snap(graft.operators.Intervals.stateEpisodesChunked(
        df, kSeq, order, col("st"), chunk)) ==
        snap(graft.operators.Intervals.stateEpisodes(
          df, kSeq, order, col("st")))
    }

  property("chunked daily interpolation equals the plain form on random " +
    "series for any monotone chunk width") =
    Prop.forAll(seqGen, Gen.choose(1, 9)) { (rows, width) =>
      // t → t·7 hours: a few weeks per series, several points per day and
      // multi-day gaps; a chunk is `width` days
      val df = seqFrame(rows).withColumn("ts",
        expr("timestamp_ntz'2024-01-01 00:00:00' + make_dt_interval(0, t * 7)"))
      def snap(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getAs[Any]("k1"), r.getAs[Any]("k2"),
          r.getAs[Any]("day"), r.getAs[Double]("y_interp"))).toSeq
          .sortBy(_.toString)
      snap(graft.operators.Resample.interpolateDailyChunked(df, kSeq, "ts",
        "id", "v", bucketMicros = width * 86400000000L)) ==
        snap(graft.operators.Resample.interpolateDaily(df, kSeq, "ts", "id",
          "v"))
    }
}
