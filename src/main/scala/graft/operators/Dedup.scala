package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for the LLM-data-pipeline extension
  * surface: exact (see ExtensionQueries.dedup_exact), n-gram Jaccard
  * ground truth, MinHash+LSH, and SimHash.
  *
  * All hashing is Spark's built-in xxhash64 (codegen'd, no UDFs); shingles
  * are word n-grams (the test corpus has a ~31-word vocabulary, so word
  * SETS are non-discriminative but shingle sets separate cleanly: planted
  * near-dups at Jaccard ≥ 0.5 vs background ≤ 0.03).
  *
  * Scale design (100 TB):
  *  - the brute-force pair join ([[jaccardPairs]]) is the CORRECTNESS
  *    reference, O(n²) — run it only on samples/buckets.
  *  - the scale path is [[minhashLshPairs]]: per-doc signatures (one
  *    narrow projection), explode to `bands` rows/doc, shuffle on the
  *    16-byte band key, pair-generate within buckets only, then verify
  *    candidates exactly. Never all-pairs. Candidate volume is tuned by
  *    (numPerm, rowsPerBand): more rows/band → fewer false candidates,
  *    lower recall per band — with exact verification downstream,
  *    precision is always 1.0 and only recall is probabilistic.
  *  - SimHash is the cheaper alternative when a single 64-bit sketch per
  *    doc must be stored: near-dup ⇔ small Hamming distance; banding the
  *    64 bits into 4×16 guarantees candidate generation for distance ≤ 3
  *    (pigeonhole) and is probabilistic beyond.
  */
object Dedup {

  /** A small corpus parquet arrives as ONE input split; every per-doc
    * sketch and per-pair loop below would then run single-threaded.
    * Spread the heavy-compute side across the cluster first — but ONLY
    * when the scan is actually narrower than the cluster: an explicit
    * repartition is always a real shuffle (Catalyst never elides it), and
    * these frames still carry full document text, so an unconditional
    * spread at 100 TB would shuffle the whole corpus body for nothing.
    * At scale the scan already has thousands of splits and this is a
    * no-op passthrough; the shuffle only happens in the
    * few-splits-many-cores regime where it is worth it. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    // Streaming frames cannot be probed via .rdd (analysis error), and
    // their micro-batch partitioning is governed by the source + state
    // dispatch (StreamTuning), not by scan splits — pass through.
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Whitespace tokens of `text`. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles over the token-array column named
    * `wsCol` (expr-based builders take column NAMES — a lambda-heavy
    * expression tree over a named column keeps the generated SQL legible). */
  def shingles(wsCol: String, n: Int): Column = {
    val grams = (0 until n).map(off => s"element_at($wsCol, CAST(i + $off AS INT))")
    // Guard the short-doc case explicitly: Spark's sequence(1, 0) yields a
    // DESCENDING [1, 0] (not an empty array), which would emit bogus
    // shingles for docs with fewer than n tokens.
    expr(
      s"""CASE WHEN size($wsCol) < $n THEN array()
         |ELSE array_distinct(transform(sequence(1, size($wsCol) - ${n - 1}),
         |  i -> concat_ws(' ', ${grams.mkString(", ")})))
         |END""".stripMargin)
  }

  /** Distinct shingles pre-hashed to 64-bit longs and SORTED: set
    * operations over longs are ~an order of magnitude cheaper than over
    * shingle strings, the sort enables the allocation-free two-pointer
    * intersect ([[graft.functions.SortedIntersectCount]]), and Jaccard
    * over the hashed sets equals Jaccard over the string sets up to
    * 2⁻⁶⁴-rate collisions. Computed by the fused single-pass native
    * expression [[graft.functions.WordNGramHashes]].
    *
    * `algo` selects the gram hash: "xxh64" (production default) or "md5"
    * (60-bit md5-derived value reproducible in any engine with an md5
    * function — the differential-testing parameterization that lets the
    * SimHash family run against a DuckDB oracle). */
  def hashedShingles(wsCol: String, n: Int, algo: String = "xxh64"): Column =
    call_function("graft_ngram_hashes", col(wsCol), lit(n), lit(algo))

  /** Exact Jaccard condition `|A∩B| / |A∪B| ≥ num/den` in pure integer
    * arithmetic — no float boundary, identical in any engine. Inputs are
    * the SORTED hashed-shingle arrays from [[hashedShingles]]; the
    * intersect is the native two-pointer expression (requires
    * GraftFunctions.register, done by the Tables loaders). */
  def jaccardAtLeast(a: Column, b: Column, num: Int, den: Int): Column = {
    val inter = call_function("graft_sorted_intersect_count", a, b)
    // ONE intersect call (round 17): the previous form —
    //   union = |A|+|B|−inter; union > 0 && inter·den ≥ union·num —
    // mentions `inter` three times, and Catalyst duplicates the call in
    // the expression tree (FilterExec codegen does no subexpression
    // elimination, and a predicate pushed into a nested-loop join
    // condition evaluates interpreted) — the O(n²) ground-truth rows
    // paid up to 3 two-pointer merges per pair. Algebra:
    //   inter·den ≥ (|A|+|B|−inter)·num  ⟺  inter·(den+num) ≥ (|A|+|B|)·num,
    // and union > 0 ⟺ |A|+|B| > 0 (inter ≤ min(|A|,|B|) forces
    // inter = |A|+|B| only when both are empty) — two empty shingle
    // sets are still NOT near-duplicates, the LSH-path consistency rule.
    // Exact integer arithmetic, identical boolean on every input.
    ((size(a) + size(b)) > 0) &&
      ((inter * (den + num)) >= ((size(a) + size(b)).cast("long") * num))
  }

  /** Size-ratio prefilter: j = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|),
    * so j ≥ num/den requires den·|A| ≥ num·|B| and vice versa. Checked
    * BEFORE the per-pair intersect — prunes on two cached ints. */
  private[graft] def sizeRatioCanReach(sa: Column, sb: Column, num: Int, den: Int): Column =
    (sa * den >= sb * num) && (sb * den >= sa * num)

  /** Ground-truth near-dup pairs by exact shingle Jaccard ≥ num/den.
    * O(n²) pair evaluations — correctness reference and small-scale path
    * only (the scale path is [[minhashLshPairs]]); hashed-long sets + the
    * size prefilter keep the constant factor honest at bench scale.
    *
    * `maxRows` fails LOUD (one cheap parquet-count job) if this
    * correctness reference is pointed at a production-sized corpus where
    * the O(n²) pair loop would silently burn the cluster; raise it
    * explicitly only for a deliberate large ground-truth run. */
  def jaccardPairs(docs: DataFrame, n: Int, num: Int, den: Int,
                   maxRows: Long = 100000L): DataFrame = {
    val rows = docs.count()
    require(rows <= maxRows,
      s"jaccardPairs is an O(n²) ground-truth reference: input has $rows rows > maxRows=$maxRows. " +
        "Use minhashLshPairs for production corpora, or pass maxRows explicitly for a deliberate large run.")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val spark = docs.sparkSession
    import spark.implicits._
    // localCheckpoint (LAZY): the shingle computation feeds both the
    // broadcast build and the streamed probe side — compute once.
    // Null doc_id / null shingle rows are dropped, matching the join
    // form this kernel replaced (its conditions implied IsNotNull).
    val s = spread(docs)
      .withColumn("ws", tokens(col("text")))
      .select(col("doc_id"), hashedShingles("ws", n).as("sh"))
      .filter(col("doc_id").isNotNull && col("sh").isNotNull)
      .localCheckpoint(eager = false)
      .as[(Long, Array[Long])]
    // PAIR-SCAN KERNEL (round 17, VERDICT r16 item 5 / guide §8): the
    // previous broadcast join put the Jaccard predicate INTO a
    // BroadcastNestedLoopJoin condition, where it evaluates INTERPRETED
    // — and Catalyst had duplicated the intersect call three times and
    // ordered it BEFORE the cheap doc_a<doc_b / size-ratio prunes, so
    // all n² ordered pairs paid boxed two-pointer merges (the plan is
    // committed: plans/r17/dedup_ngram_jaccard_before.txt). This kernel
    // is the same O(n²) loop over the same broadcast bytes, but on
    // primitive long[]: prefilters first (~ns/pair), ONE allocation-free
    // intersect per surviving pair, semantics bit-identical (exact
    // integer threshold, empty-set pairs excluded). One task per spread
    // partition — parallelism unchanged.
    val built: Array[(Long, Array[Long])] = s.collect()
    val bc = spark.sparkContext.broadcast(built)
    s.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (ida, sha) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val sa = sha.length
        var i = 0
        while (i < all.length) {
          val idb = all(i)._1
          val shb = all(i)._2
          val sb = shb.length
          // size-ratio prune (implied by the threshold: j ≤ min/max) +
          // the empty-set exclusion (sa+sb>0 ⟺ union>0)
          if (ida < idb && sa + sb > 0 &&
            sa * den >= sb * num && sb * den >= sa * num) {
            var p = 0; var q = 0; var c = 0L
            while (p < sa && q < sb) {
              val x = sha(p); val y = shb(q)
              if (x < y) p += 1
              else if (x > y) q += 1
              else { c += 1; p += 1; q += 1 }
            }
            // inter·den ≥ union·num ⟺ inter·(den+num) ≥ (|A|+|B|)·num
            if (c * (den + num) >= (sa + sb).toLong * num) out += ((ida, idb))
          }
          i += 1
        }
        out.iterator
      }
    }.toDF("doc_a", "doc_b")
  }

  /** CONTAINMENT ground truth (round 9): pairs where
    * |A∩B| / |A| ≥ num/den — the ASYMMETRIC near-dup relation Jaccard
    * misses: a tweet quoted inside an article has tiny Jaccard but
    * containment ≈ 1 (the quote/subset detection a filtering pipeline
    * needs alongside symmetric near-dup). Directed: (doc_a ⊂ doc_b)
    * and (doc_b ⊂ doc_a) are separate rows. Same integer threshold
    * discipline (`inter·den ≥ |A|·num`, no float ratio), same shingle
    * machinery, same O(n²) row-cap guard as [[jaccardPairs]] — this is
    * the labeled correctness reference; the banded production sibling
    * for containment is the MinHash-LSH candidate set verified with
    * this predicate instead of the Jaccard one. */
  def containmentPairs(docs: DataFrame, n: Int, num: Int, den: Int,
                       maxRows: Long = 100000L): DataFrame = {
    val rows = docs.count()
    require(rows <= maxRows,
      s"containmentPairs is an O(n²) ground-truth reference: input has $rows rows > maxRows=$maxRows. " +
        "Verify banded candidates with the containment predicate for production corpora, " +
        "or pass maxRows explicitly for a deliberate large run.")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val spark = docs.sparkSession
    import spark.implicits._
    val s = spread(docs)
      .withColumn("ws", tokens(col("text")))
      .select(col("doc_id"), hashedShingles("ws", n).as("sh"))
      .filter(col("doc_id").isNotNull && col("sh").isNotNull &&
        size(col("sh")) > 0) // an empty set is vacuously contained — drop
      .localCheckpoint(eager = false)
      .as[(Long, Array[Long])]
    // PAIR-SCAN KERNEL (round 17 — see jaccardPairs): same O(n²)
    // directed loop and integer threshold, primitive arrays, one-sided
    // size prune (inter ≤ min ⇒ inter·den ≥ |A|·num needs |B|·den ≥
    // |A|·num) before the single intersect.
    val built: Array[(Long, Array[Long])] = s.collect()
    val bc = spark.sparkContext.broadcast(built)
    s.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (ida, sha) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val sa = sha.length
        var i = 0
        while (i < all.length) {
          val idb = all(i)._1
          val shb = all(i)._2
          val sb = shb.length
          if (ida != idb && sb * den >= sa * num) {
            var p = 0; var q = 0; var c = 0L
            while (p < sa && q < sb) {
              val x = sha(p); val y = shb(q)
              if (x < y) p += 1
              else if (x > y) q += 1
              else { c += 1; p += 1; q += 1 }
            }
            if (c * den >= sa.toLong * num) out += ((ida, idb))
          }
          i += 1
        }
        out.iterator
      }
    }.toDF("doc_a", "doc_b")
  }

  /** MinHash signature over the hashed-shingle array column named `shCol`
    * (array<long>): for permutation p, min over shingles of
    * xxhash64(h, p). Computed by the single-pass native expression
    * [[graft.functions.MinHashSig]] — the nested-transform form paid an
    * interpreted lambda per (element, permutation) and dominated the LSH
    * pipeline. */
  def minhashSignature(shCol: String, numPerm: Int): Column =
    call_function("graft_minhash_sig", col(shCol), lit(numPerm))

  /** One row per document: `(doc_id, sh, sig)` — sorted hashed shingles
    * plus the MinHash signature. This IS the persistable near-dup INDEX:
    * write it to parquet once when the corpus is first deduplicated, and
    * every later ingest batch probes it via [[minhashPairsAgainst]]
    * instead of re-sketching the full corpus (the incremental-dedup
    * production shape — at 100 TB, re-reading the corpus per ingest batch
    * is the difference between a batch-sized job and a corpus-sized one).
    *
    * The sketch contract (n, numPerm) is embedded in `sig`'s column
    * metadata — the [[Decontamination.benchmarkGrams]] pack/probe
    * convention — and survives a parquet round-trip (Spark persists
    * column metadata in the file footer's schema), so a probe can never
    * silently re-sketch its batch with parameters different from the
    * index's (a mismatch would make every true near-dup invisible — the
    * silent false-negative direction for a dedup gate). Short documents
    * (empty shingle sets) are excluded — they have no signature. */
  def minhashIndex(docs: DataFrame, n: Int, numPerm: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val contract = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft_gram_n", n.toLong)
      .putLong("graft_num_perm", numPerm.toLong)
      .build()
    spread(docs)
      .withColumn("ws", tokens(coalesce(col("text"), lit(""))))
      .withColumn("sh", hashedShingles("ws", n))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        minhashSignature("sh", numPerm).as("sig", contract))
  }

  /** Read and validate the sketch contract a [[minhashIndex]] frame
    * carries in its `sig` column metadata: (n, numPerm). Loud failure on
    * frames that did not come from minhashIndex (probing with mismatched
    * parameters is the silent false-negative direction). */
  private[graft] def indexContract(index: DataFrame): (Int, Int) = {
    require(Seq("doc_id", "sh", "sig").forall(index.columns.contains),
      "index must come from Dedup.minhashIndex (missing doc_id/sh/sig)")
    val md = index.schema("sig").metadata
    require(md.contains("graft_gram_n") && md.contains("graft_num_perm"),
      "index must come from Dedup.minhashIndex " +
        "(sig carries no sketch contract metadata)")
    (md.getLong("graft_gram_n").toInt, md.getLong("graft_num_perm").toInt)
  }

  /** Banded view of a [[minhashIndex]] frame: one row per (doc, band),
    * `band_hash` = xxhash64 of the band's signature slice (band id mixed
    * in so equal slices of different bands never collide). Map-only. */
  private[graft] def bandsOf(index: DataFrame, numBands: Int,
                             rowsPerBand: Int): DataFrame =
    index.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${numBands - 1}), " +
        s"b -> xxhash64(b, slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))"))
      .as(Seq("band_id", "band_hash")))

  /** LSH candidate pairs + exact verification.
    *
    * Signature → `numPerm/rowsPerBand` bands → explode → shuffle on the
    * (band_id, band_hash) key → in-bucket pair generation → distinct →
    * exact-Jaccard verify. Output = verified near-dup pairs (doc_a <
    * doc_b); precision 1.0, recall 1−(1−j^r)^b per pair.
    *
    * `maxBucket` (0 = off, the default — existing behavior and oracles
    * unchanged): skip band buckets holding more than `maxBucket` docs
    * before pair generation. The in-bucket self-join is quadratic PER
    * BUCKET — AQE's skew splitting redistributes a hot bucket's work but
    * cannot shrink it, and a degenerate text cohort (boilerplate,
    * templates, near-constant fields) can put thousands of docs behind
    * one band signature: the round-10 sf1 cost-curve measured a 5,277-doc
    * bucket = 13.9M candidate pairs in ONE bucket from a canonicalized-
    * word-order fixture. Real 100 TB crawls carry exactly such template
    * cohorts, so production runs should set a cap (e.g. 10·expected
    * cluster size). The trade is explicit and bounded: only pairs whose
    * EVERY matching band is over the cap are lost — i.e. giant template
    * cohorts, which an exact-dup pass or a dedicated template detector
    * should own anyway — and the skip is per-band, so a pair sharing one
    * normal bucket still surfaces. */
  def minhashLshPairs(docs: DataFrame, n: Int, numPerm: Int,
                      rowsPerBand: Int, num: Int, den: Int,
                      maxBucket: Int = 0): DataFrame = {
    // the minhashPairsAgainst guard, mirrored (round 15): a silent
    // truncation here banded only (numPerm/r)*r of the signature — perms
    // sketched and paid for but never used, and a realized recall curve
    // quietly different from the b = numPerm/r the caller computed
    require(numPerm % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide numPerm=$numPerm")
    val numBands = numPerm / rowsPerBand
    // localCheckpoint (LAZY): shingles + signatures feed four join
    // branches (two banded sides, two verification sides) — compute once,
    // reuse from cache; eager=false avoids a dedicated fill pass.
    // The persisted rows are (doc_id, sh, sig) — document text is
    // already projected away. See the scale note in jaccardPairs:
    // MEMORY_AND_DISK per executor, not fault-tolerant; at cluster scale
    // switch to DISK_ONLY persist / reliable checkpoint.
    val s = minhashIndex(docs, n, numPerm)
      .localCheckpoint(eager = false)
    val bandedAll = bandsOf(s, numBands, rowsPerBand)
    // hot-bucket cap: one narrow count aggregate + an anti-join on the
    // band key — both shuffle the (band_id, band_hash, doc_id) triple
    // only, never shingles
    val banded =
      if (maxBucket <= 0) bandedAll
      else bandedAll.join(
        bandedAll.groupBy(col("band_id"), col("band_hash"))
          .agg(count(lit(1)).as("__bc")).filter(col("__bc") > maxBucket)
          .select(col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash"), "left_anti")
    // In-bucket pair generation as a SELF-JOIN on the band key (not a
    // collect_set + in-row pair expansion): a hot bucket — guaranteed at
    // scale, and common here because the tiny vocabulary makes popular
    // shingles win many min-hashes — would otherwise become one giant
    // array in one row on one thread. The equi-join form shuffles on the
    // band key and AQE's skew-join splitting handles the hot buckets.
    val candidates = banded.alias("x")
      .join(banded.alias("y"), Seq("band_id", "band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sh = s.select(col("doc_id"), col("sh"), size(col("sh")).as("sz"))
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "doc_b")
      // cheap integer prefilter before the per-pair intersect
      .filter(sizeRatioCanReach(col("sz_a"), col("sz_b"), num, den))
      .filter(jaccardAtLeast(col("sh_a"), col("sh_b"), num, den))
      .select(col("doc_a"), col("doc_b"))
  }

  /** MinHash band sizing as a pure function of corpus count (round 13 —
    * the occupancyBits discipline applied to the last caller-tuned
    * pairing knob). Two failure modes bound the (rowsPerBand, numBands)
    * choice as n grows, and the rule prices both:
    *
    *  1. BACKGROUND CANDIDATES: unrelated pairs (Jaccard ≈ j₀) collide
    *     in some band with probability ≈ b·j₀^r, so expected false
    *     candidates are ~n²·b·j₀^r — QUADRATIC in n for fixed r. Holding
    *     expected false candidates PER DOCUMENT at `falseCandPerDoc`
    *     needs r ≥ ln(n·b / falseCandPerDoc) / ln(1/j₀): r grows with
    *     log n (fixed r = the measured sf1 blow-up hazard, same
    *     pathology as fixed hyperplane bits).
    *  2. RECALL at the detection threshold t = num/den: a true pair at
    *     exactly t survives with 1−(1−t^r)^b ≥ recallMilli/1000 needs
    *     b ≥ ln(1 − recall) / ln(1 − t^r) — the price of a sharper r is
    *     more bands.
    *
    * The fixed point is solved by the tiny integer iteration below
    * (r ≤ 12 always terminates); numPerm = b·r is clamped to `maxPerm`
    * (sketch cost per doc is linear in numPerm — the explicit trade:
    * past the clamp, recall at threshold degrades instead of cost
    * exploding). j₀ rides as `j0Milli` (default 50 — a 5% background
    * resemblance, conservative for natural-text shingles; measure and
    * pin per corpus family). `falseCandPerDoc` defaults to 4, not 1:
    * a verify candidate costs one prefiltered shingle intersect —
    * pennies — while each unit of budget buys a LOWER r, and a lower r
    * needs exponentially fewer bands for the same threshold recall, so
    * under the maxPerm clamp the looser budget yields STRICTLY better
    * recall at identical sketch cost (measured at the 50k surrogate:
    * r=6/b=85 recall@t ≈ 0.74 under budget 1 vs r=5/b=102 ≈ 0.96 under
    * budget 4, both 510 perms). Returns (numPerm, rowsPerBand). */
  def minhashParamsAuto(n: Long, num: Int, den: Int,
                        recallMilli: Int = 990, j0Milli: Int = 50,
                        falseCandPerDoc: Int = 4,
                        maxPerm: Int = 512): (Int, Int) = {
    require(num >= 1 && den > num, s"bad threshold $num/$den")
    require(recallMilli >= 500 && recallMilli <= 999,
      s"recallMilli must be in [500, 999]: $recallMilli")
    require(j0Milli >= 1 && j0Milli <= 500,
      s"j0Milli must be in [1, 500]: $j0Milli")
    require(falseCandPerDoc >= 1 && maxPerm >= 8, "bad budget params")
    val t = num.toDouble / den
    val j0 = j0Milli / 1000.0
    def bandsFor(r: Int): Int = {
      // t^r below half an ulp makes 1 - t^r round to EXACTLY 1.0, whose
      // log is 0 — the ratio becomes -Infinity and ceil(...).toInt is
      // Int.MinValue, which max(1, .) turns into b = 1: a silent recall
      // collapse at very low thresholds. That regime needs more bands
      // than any budget allows, so saturate explicitly (round 15).
      val denom = math.log(1.0 - math.pow(t, r))
      if (denom == 0.0) Int.MaxValue
      else math.max(1, math.ceil(
        math.log(1.0 - recallMilli / 1000.0) / denom).toInt)
    }
    // smallest r in [2, 12] whose background-candidate budget holds with
    // ITS OWN recall-driven band count (b appears on both sides — the
    // iteration converges because bandsFor(r) is finite and the lhs is
    // monotone in r)
    // budget evaluated in Double: bandsFor saturates at Int.MaxValue for
    // low thresholds, and a Long product n * bandsFor(r) overflows
    // negative at multi-billion-doc counts — which would terminate the
    // loop at a too-small r and re-enter the quadratic false-candidate
    // regime this rule exists to prevent
    var r = 2
    while (r < 12 &&
      math.max(n, 1L).toDouble * bandsFor(r) * math.pow(j0, r) > falseCandPerDoc)
      r += 1
    val b = math.max(1, math.min(bandsFor(r), maxPerm / r))
    (b * r, r)
  }

  /** [[minhashLshPairs]] with the sizing rule applied automatically: one
    * cheap count job derives (numPerm, rowsPerBand) via
    * [[minhashParamsAuto]], then the fixed-knob pipeline runs unchanged
    * — the production entry point for a corpus whose size the caller
    * does not know ahead of time; the fixed form remains for
    * recall-pinned registrations and spec geometry. */
  def minhashLshPairsAuto(docs: DataFrame, n: Int, num: Int, den: Int,
                          recallMilli: Int = 990, j0Milli: Int = 50,
                          maxBucket: Int = 0): DataFrame = {
    val count = docs.select(col("doc_id")).count()
    val (numPerm, rowsPerBand) =
      minhashParamsAuto(count, num, den, recallMilli, j0Milli)
    minhashLshPairs(docs, n, numPerm, rowsPerBand, num, den, maxBucket)
  }

  /** INCREMENTAL near-dup detection: probe an ingest `batch` against a
    * pre-built corpus [[minhashIndex]] (typically read back from parquet)
    * and return the verified cross pairs `(doc_new, doc_old)` with
    * Jaccard ≥ num/den — the rows an ingest pipeline uses to drop or
    * cluster incoming duplicates WITHOUT re-sketching the existing
    * corpus.
    *
    * The sketch parameters (n, numPerm) are READ FROM THE INDEX's column
    * metadata — nothing to re-specify, so the batch is sketched under
    * exactly the index's contract. `rowsPerBand` is a probe-time knob
    * (banding is re-derived from the signature, map-only) and must divide
    * numPerm.
    *
    * Scale design: the batch side is batch-sized everywhere; the corpus
    * side contributes one banded projection of the index (map-only — no
    * corpus re-scan of text, no corpus-side shuffle beyond the band-key
    * exchange) and the shingle arrays only for candidate verification,
    * joined on doc id. Candidate volume is the same banded-bucket product
    * as [[minhashLshPairs]], restricted to cross pairs. Recall per true
    * pair is 1−(1−j^r)^b, identical to the self-join path (same
    * signatures, same band layout). */
  def minhashPairsAgainst(batch: DataFrame, index: DataFrame,
                          rowsPerBand: Int, num: Int, den: Int): DataFrame = {
    val (n, numPerm) = indexContract(index)
    require(numPerm % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide the index's numPerm=$numPerm")
    val numBands = numPerm / rowsPerBand
    // batch sketch feeds its banded view + the verify join; the index is
    // caller-owned (persist/read-back is the caller's lifecycle, the
    // AsOfJoin pack()/probeAgainst() convention)
    val b = minhashIndex(batch, n, numPerm).localCheckpoint(eager = false)
    val candidates = bandsOf(b, numBands, rowsPerBand).alias("x")
      .join(bandsOf(index, numBands, rowsPerBand).alias("y"),
        Seq("band_id", "band_hash"))
      .select(col("x.doc_id").as("doc_new"), col("y.doc_id").as("doc_old"))
      .distinct()
    candidates
      .join(b.select(col("doc_id").as("doc_new"), col("sh").as("sh_a"),
        size(col("sh")).as("sz_a")), "doc_new")
      // array_compact: parquet read-back widens the element type to
      // nullable, which the native two-pointer intersect rejects; the
      // compact is a data no-op (the index never contains null elements)
      // that restores containsNull=false at the type level
      .join(index.select(col("doc_id").as("doc_old"),
        array_compact(col("sh")).as("sh_b"),
        size(col("sh")).as("sz_b")), "doc_old")
      .filter(sizeRatioCanReach(col("sz_a"), col("sz_b"), num, den))
      .filter(jaccardAtLeast(col("sh_a"), col("sh_b"), num, den))
      .select(col("doc_new"), col("doc_old"))
  }

  /** 63-bit SimHash over the hashed-shingle array column named `shCol`
    * (array<long>; bit 63 left clear so the value stays a non-negative
    * BIGINT): bit b is set iff the count of shingle hashes with bit b set
    * exceeds half. Computed by the single-pass native expression
    * [[graft.functions.SimHash63]] — the composable 63-nested-aggregate
    * form cost ~10 µs per element interpreted and dominated the sketch
    * stage. */
  def simhash(shCol: String): Column =
    call_function("graft_simhash63", col(shCol))

  /** THE band layout — single source of truth for the 4×16-bit SimHash
    * band decomposition, shared by the batch sketch, the batch pair
    * generator, and the streaming band buckets (a hand-copied layout in
    * any of them could silently drift from the others). */
  def withSimhashBands(sketch: DataFrame): DataFrame =
    sketch
      .withColumn("band0", expr("simhash & 65535"))
      .withColumn("band1", expr("shiftright(simhash, 16) & 65535"))
      .withColumn("band2", expr("shiftright(simhash, 32) & 65535"))
      .withColumn("band3", expr("shiftright(simhash, 48) & 65535"))

  /** Per-doc SimHash sketch + its 4×16-bit band keys (for hamming-bucket
    * joins downstream). `algo` per [[hashedShingles]]: "md5" makes the
    * sketch DuckDB-reproducible for differential testing. */
  def simhashSketch(docs: DataFrame, n: Int, algo: String = "xxh64"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    withSimhashBands(spread(docs)
      .withColumn("ws", tokens(col("text")))
      .withColumn("sh", hashedShingles("ws", n, algo))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), simhash("sh").as("simhash")))
  }

  /** SimHash near-dup pairs: candidates share ≥1 of the 4 16-bit bands
    * (guaranteed for Hamming ≤ 3), confirmed by bit_count(xor) ≤ maxDist. */
  def simhashPairs(docs: DataFrame, n: Int, maxDist: Int,
                   algo: String = "xxh64"): DataFrame =
    // localCheckpoint (LAZY): the sketch feeds both sides of the band
    // self-join — without persistence the tokenize→shingle→hash→SimHash63
    // pipeline runs twice; eager=false avoids the round-3 extra fill pass
    // (the sketch stage itself is cheaper than one materialization job at
    // small corpus sizes). Rows are (doc_id, simhash, 4 band ints) — 1
    // sketch per doc, no text. See jaccardPairs re fault tolerance.
    simhashPairsFromSketch(
      simhashSketch(docs, n, algo).localCheckpoint(eager = false), maxDist)

  /** Connected components over an undirected edge list — the pair→cluster
    * resolution step every near-dup pipeline needs after pair generation
    * ([[jaccardPairs]] / [[minhashLshPairs]] / [[simhashPairs]] /
    * `Similarity.cosinePairsBucketed` all emit PAIRS; removing duplicates
    * requires grouping transitively-connected docs into one cluster and
    * keeping one representative).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — the
    * standard shared-nothing CC algorithm). Each round is two
    * shuffle-on-node-id aggregations + joins; the edge set contracts
    * toward depth-1 stars rooted at each component's minimum id in
    * O(log² n) rounds (2-3 in practice for dedup graphs, whose components
    * are small near-dup groups).
    *
    * Scale design (100 TB): no step ever materializes a component in one
    * row or on the driver — neighborhoods are reduced with `min` (partial
    * aggregation, map-side combine) and re-joined on the node id, so a
    * hot hub (a boilerplate doc duplicated millions of times) is just a
    * skewed join key that AQE splits. Each iteration is eagerly
    * local-checkpointed: the convergence loop would otherwise stack an
    * unbounded lineage (and re-run every prior round on each action).
    * Convergence is detected by (count, order-independent xxhash64 sum)
    * equality of consecutive edge sets — one tiny aggregate per round —
    * and non-convergence within `maxIter` fails loud rather than
    * returning a partially-contracted (wrong) clustering.
    *
    * Input: edges with long-typed `src`/`dst` columns (self-loops and
    * duplicate/reversed edges tolerated). Output: `(node, component)` —
    * one row per distinct node that appears in an edge; `component` is
    * the minimum node id of the node's component (so the component id is
    * itself a member, usable directly as a canonical-id rule).
    */
  def connectedComponents(edges: DataFrame, src: String = "doc_a",
                          dst: String = "doc_b", maxIter: Int = 25): DataFrame = {
    // Canonicalize: big→small, no self-loops, distinct. This IS already
    // the small-star input shape, and is also a fixpoint candidate.
    var e = edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
    // per-round lineage cut — reliable when a checkpoint dir is set
    // (Checkpointing.cut), executor-local otherwise
    e = Checkpointing.cut(e)

    // large-star: per node u over its FULL neighborhood Γ(u) (both edge
    // directions), m = min(Γ(u) ∪ {u}); link every strictly-larger
    // neighbor to m. Keeps edges pointing big→small.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: edges arrive big→small, so per node u the smaller
    // neighborhood is exactly its out-edges; m = min of it; link every
    // member (and u itself) to m.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // DECIMAL sum: a long sum of 64-bit hashes overflows (ANSI mode
    // throws). Cast each term at decimal(28,0) so Spark's sum widening
    // (p+10) lands the accumulator at decimal(38,0) — overflow-free to
    // ~10^18 edges as documented. (The round-14 cast at (20,0) widened
    // only to (30,0) ≈ 10^11-edge guaranteed headroom, and a non-ANSI
    // overflow NULLs the sum, silently degrading convergence detection
    // to count-equality — round 15.)
    def signature(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(28,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }

    var sig = signature(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Checkpointing.cut(smallStar(largeStar(e)))
      val nextSig = signature(next)
      converged = nextSig == sig
      e = next
      sig = nextSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "partial contraction would be a WRONG clustering")
    // Fixpoint = depth-1 stars big→small: non-roots point at their root;
    // roots appear only on the small side.
    e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }

  /** Duplicate-cluster resolution over a corpus: assign every doc its
    * near-dup cluster (transitive closure of `pairs` via
    * [[connectedComponents]]; docs in no pair are their own singleton
    * cluster) and elect one canonical representative per cluster by
    * `prefer` (max wins, default: longest text, ties to the smallest id —
    * the "keep the richest copy" production rule). Filtering to
    * `id == canonical_id` yields the deduplicated corpus; keeping all
    * rows yields the duplicate map (the shape a training-data pipeline
    * logs for provenance).
    *
    * Scale: the canonical election is `max_by` over a struct — a
    * declarative aggregate with map-side partial combine, so a
    * million-member boilerplate cluster never concentrates in one task;
    * the join back is keyed on `cluster_id` (no broadcast of anything
    * corpus-sized). */
  def resolveClusters(docs: DataFrame, pairs: DataFrame,
                      id: String = "doc_id",
                      prefer: Option[Column] = None): DataFrame = {
    val pref = prefer.getOrElse(
      struct(length(coalesce(col("text"), lit(""))), -col(id)))
    val comp = connectedComponents(pairs)
    val assigned = docs
      .join(comp.withColumnRenamed("node", id), Seq(id), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(id)))
      .drop("component")
    val canon = assigned.groupBy(col("cluster_id"))
      .agg(max_by(col(id), pref).as("canonical_id"))
    assigned.join(canon, Seq("cluster_id"))
  }

  /** Soft deduplication: instead of DROPPING near-duplicates, weight every
    * document by the inverse of its duplicate-cluster size so each
    * semantic unit contributes one unit of training mass no matter how
    * many copies the crawl carried (the reweight-don't-delete alternative
    * the hard-removal rows implement; cf. the duplication-aware sampling
    * discussion in Lee et al. 2021 §6 — removal and down-weighting bound
    * the same memorization risk, but weighting preserves every copy's
    * unique trailing content for a later span-level pass).
    *
    * Output: (id, cluster_id, cluster_n, weight) for EVERY input doc —
    * docs in no pair form singleton clusters with weight 1.0. `weight` is
    * exactly 1/cluster_n: the one IEEE division happens on an exact
    * BIGINT count, so any engine reproduces it bit-for-bit.
    *
    * Scale: transitive closure via [[connectedComponents]] (narrow id
    * pairs, star-contraction rounds); the size aggregate is cluster-keyed
    * with map-side partial combine, and the join back moves only
    * (id, cluster_id, cluster_n) — nothing text-sized shuffles. A
    * million-copy boilerplate cluster costs one combined count row, not a
    * hot task. */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame,
                       id: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
    val assigned = docs.select(col(id))
      .join(comp.withColumnRenamed("node", id), Seq(id), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(id)))
      .drop("component")
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_n"))
    assigned.join(sizes, Seq("cluster_id"))
      .select(col(id), col("cluster_id"), col("cluster_n"),
        (lit(1.0) / col("cluster_n").cast("double")).as("weight"))
  }

  /** Frequent-passage removal (the C4 / CCNet sub-document dedup step —
    * near-dup PAIR removal drops whole documents, but boilerplate
    * passages shared by thousands of otherwise-distinct pages survive it;
    * the production fix is to delete the repeated passages themselves):
    * split each document into consecutive non-overlapping `chunkWords`-word
    * passages, count each passage's corpus document frequency, and rebuild
    * every document keeping only passages appearing in ≤ `maxDocFreq`
    * distinct documents (original order preserved).
    *
    * Scale design (100 TB): the passage split is map-side (one pass over
    * text, no shuffle); the document-frequency aggregate shuffles
    * 8-byte xxhash64 passage keys — not passage text — with map-side
    * partial `count distinct` collapsed to a two-level exact groupBy
    * ((hash, doc) then hash) so a viral passage is combined before the
    * exchange; the frequent-passage set (tiny by Zipf — df > k passages
    * are a sliver of distinct passages) broadcasts back as a left-anti
    * probe ONLY conceptually: the join below keys the full passage list
    * against it on the 8-byte hash, which AQE plans as broadcast when it
    * fits. Rebuild groups by doc_id — narrow rows, text reassembled from
    * kept passages only. A 64-bit hash collision folding two distinct
    * passages together is a ~2⁻⁶⁴-per-pair false drop — the same accepted
    * trade as dedup_exact's key.
    *
    * Output: (doc_id, text_clean, n_kept, n_dropped); documents whose
    * every passage is boilerplate yield text_clean = "".
    */
  def passageDedup(docs: DataFrame, chunkWords: Int, maxDocFreq: Int): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive, got $chunkWords")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val chunks = spread(docs)
      .withColumn("ws", tokens(coalesce(col("text"), lit(""))))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(ws) / ${chunkWords}.0) AS INT) - 1),
           |  i -> array_join(slice(ws, i * $chunkWords + 1, $chunkWords), ' '))"""
          .stripMargin)).as(Seq("chunk_idx", "chunk")))
      .withColumn("ch", xxhash64(col("chunk")))
      // feeds the document-frequency aggregate AND the rebuild join
      .localCheckpoint(eager = false)
    // exact df per passage hash: (ch, doc) dedup first — both levels get
    // map-side partial combine, unlike a single countDistinct over a
    // skewed viral passage
    val frequent = chunks.select(col("ch"), col("doc_id")).distinct()
      .groupBy(col("ch")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("ch"), lit(true).as("dup"))
    chunks.join(frequent, Seq("ch"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(expr(
          """transform(
            |  array_sort(collect_list(CASE WHEN dup IS NULL
            |    THEN struct(chunk_idx, chunk) END)),
            |  s -> s.chunk)""".stripMargin), " ").as("text_clean"),
        count(when(col("dup").isNull, 1)).as("n_kept"),
        count(when(col("dup").isNotNull, 1)).as("n_dropped"))
  }

  /** Intra-document repeated-span scrub (the WITHIN-doc face of exact
    * substring dedup — Lee et al. 2021 remove repeated training spans
    * because models memorize them; [[graft.operators.TextAnalysis.repetition]]
    * MEASURES a document's duplicate-n-gram fraction, this op REWRITES
    * the document): drop every token whose EVERY covering n-gram is a
    * repeat of an earlier n-gram in the same document.
    *
    * The coverage rule is position-algebraic, not sequential — token k
    * is covered by gram starts i ∈ [k−n+1, k] ∩ [1, m−n+1]; a gram is a
    * `dup` iff an equal gram starts earlier in the doc — so the whole
    * policy is window algebra: the FIRST occurrence of any span always
    * survives (its grams are their own first positions), an echoed span
    * of length L loses its tail L−2(n−1) ≥ 1 tokens (junction tokens are
    * covered by non-dup grams bridging fresh context and stay), and
    * documents shorter than n tokens pass through untouched (no covering
    * gram ⇒ kept).
    *
    * Scale shape: grams group by xxhash64 — 8-byte keys, never gram
    * text, through the exchange (the passageDedup collision trade,
    * ~2⁻⁶⁴ per pair within ONE document); three narrow per-doc-keyed
    * shuffles ((doc, ghash) first-position window; (doc, pos) order for
    * the lead/coverage windows; the rebuild groupBy) — all partition by
    * doc_id first, so a 100 TB corpus spreads by document and no stage
    * sees more than one document's tokens in a task group.
    *
    * Output: (doc_id, n_tokens, n_removed, text_clean), original token
    * order preserved. */
  def spanScrub(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2 && n <= 64, s"n must be in [2, 64], got $n")
    import org.apache.spark.sql.expressions.Window
    val tok = spread(docs)
      .withColumn("ws", tokens(coalesce(col("text"), lit(""))))
      .select(col("doc_id"), col("ws"),
        posexplode(col("ws")).as(Seq("k0", "w")))
      .select(col("doc_id"), (col("k0") + 1).as("k"), col("w"),
        size(col("ws")).as("m"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("k"))
    // gram starting at k (null when no full n-gram fits)
    val gram = concat_ws(" ", col("w") +:
      (1 until n).map(j => lead(col("w"), j).over(wOrd)): _*)
    val withGram = tok.withColumn("ghash",
      when(col("k") <= col("m") - (n - 1), xxhash64(gram)))
    val wGram = Window.partitionBy(col("doc_id"), col("ghash"))
    val withDup = withGram.withColumn("dup",
      when(col("ghash").isNotNull,
        (col("k") > min(col("k")).over(wGram)).cast("int")))
    // token k's covering grams start in the n-row frame ending at k;
    // min ignores the null dup of non-gram positions
    val wCover = wOrd.rowsBetween(-(n - 1), 0)
    val flagged = withDup.withColumn("removed",
      count(col("dup")).over(wCover) > 0 &&
        min(col("dup")).over(wCover) === 1)
    flagged.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("removed"), 1)).as("n_removed"),
        array_join(expr(
          """transform(
            |  array_sort(collect_list(CASE WHEN NOT removed
            |    THEN struct(k, w) END)),
            |  s -> s.w)""".stripMargin), " ").as("text_clean"))
  }

  /** CROSS-document repeated-span scrub — the corpus face of exact
    * substring dedup (Lee et al. 2021's actual setting: a span repeated
    * ACROSS training documents is the memorization hazard;
    * [[spanScrub]] is the within-doc face). Same position-algebraic
    * coverage rule; the only change is gram first-occurrence: a gram is
    * a `dup` iff an equal gram occurs EARLIER under the corpus total
    * order (doc_id, k) — so the first document (lowest doc_id) carrying
    * a span keeps it, every later echo loses its tail, and within-doc
    * echoes are subsumed (same-doc repeats are later under the same
    * order). Deterministic under any layout: the order is data, not
    * partitioning.
    *
    * Scale shape: the global first-occurrence is an ALGEBRAIC aggregate
    * — groupBy(ghash).agg(min(struct(doc_id, k))) with map-side combine
    * — joined back on ghash, NOT a window over a ghash partition: a
    * viral span repeated a billion times partial-aggregates to one row
    * per map task instead of collapsing a billion rows into one window
    * task (AQE handles residual join skew). Grams travel as 8-byte
    * xxhash64 keys (the [[spanScrub]] collision trade, now ~2⁻⁶⁴ per
    * CORPUS pair — still negligible below ~2³² distinct grams). The
    * coverage/rebuild windows stay per-doc-keyed, so only the
    * (ghash-keyed aggregate + join) stages see cross-document traffic.
    *
    * Output: (doc_id, n_tokens, n_removed, text_clean), original token
    * order preserved. */
  def spanScrubGlobal(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2 && n <= 64, s"n must be in [2, 64], got $n")
    import org.apache.spark.sql.expressions.Window
    val tok = spread(docs)
      .withColumn("ws", tokens(coalesce(col("text"), lit(""))))
      .select(col("doc_id"), col("ws"),
        posexplode(col("ws")).as(Seq("k0", "w")))
      .select(col("doc_id"), (col("k0") + 1).as("k"), col("w"),
        size(col("ws")).as("m"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("k"))
    val gram = concat_ws(" ", col("w") +:
      (1 until n).map(j => lead(col("w"), j).over(wOrd)): _*)
    val withGram = tok.withColumn("ghash",
      when(col("k") <= col("m") - (n - 1), xxhash64(gram)))
    val firsts = withGram.filter(col("ghash").isNotNull)
      .groupBy(col("ghash"))
      .agg(min(struct(col("doc_id"), col("k"))).as("first_pos"))
    val withDup = withGram.join(firsts, Seq("ghash"), "left")
      .withColumn("dup",
        when(col("ghash").isNotNull,
          (struct(col("doc_id"), col("k")) > col("first_pos")).cast("int")))
    val wCover = wOrd.rowsBetween(-(n - 1), 0)
    val flagged = withDup.withColumn("removed",
      count(col("dup")).over(wCover) > 0 &&
        min(col("dup")).over(wCover) === 1)
    flagged.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("removed"), 1)).as("n_removed"),
        array_join(expr(
          """transform(
            |  array_sort(collect_list(CASE WHEN NOT removed
            |    THEN struct(k, w) END)),
            |  s -> s.w)""".stripMargin), " ").as("text_clean"))
  }

  /** Row-wise sibling of [[spanScrub]] — the SERVE/STREAM shape (the
    * lmScoreRowwise pattern): identical policy evaluated entirely inside
    * each document row with higher-order functions — no explode, no
    * window, no shuffle — so it is legal in any Structured Streaming
    * output mode with zero state, and composes into the curation chain
    * ahead of the dedup stages (scrub first: an echo-padded doc should
    * not dodge exact dedup on its noise).
    *
    * Two deliberate differences from the relational form, both
    * spec-pinned equal on real data: gram identity is STRING equality
    * (array_position), not the xxhash64 grouping — i.e. this path is
    * collision-free and the relational one carries the documented 2⁻⁶⁴
    * trade; and cost is O(grams²) string compares WITHIN a document
    * (array_position scans per gram) instead of a hash shuffle — the
    * right trade for serve-sized documents, the wrong one for
    * million-token outliers, which belong on [[spanScrub]]. */
  def spanScrubRowwise(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2 && n <= 64, s"n must be in [2, 64], got $n")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // The whole per-row policy fused into ONE native pass
    // (graft.functions.SpanScrubRow): the composable HOF form (kept
    // test-side as HofReferences.spanScrubRowwiseHof) paid an
    // interpreted array_position scan per gram — O(G²) string compares —
    // and was the suite's slowest row at sf0.1 (30.3 s → this form 1.2 s,
    // same policy, spec- and oracle-pinned equal).
    docs
      .withColumn("__s", call_function("graft_span_scrub",
        tokens(coalesce(col("text"), lit(""))), lit(n)))
      .select(col("doc_id"),
        col("__s").getField("n_tokens").as("n_tokens"),
        col("__s").getField("n_removed").as("n_removed"),
        col("__s").getField("text_clean").as("text_clean"))
  }

  /** Pair generation from a PREBUILT [[simhashSketch]] frame — callers
    * that already hold (and persist) the sketch for other checks must not
    * pay the tokenize→shingle→SimHash chain a second time.
    *
    * `probeBits` (0..16) is the SimHash analogue of the LSH multi-probe:
    * besides its exact band value, the PROBE side also joins on the values
    * at Hamming distance 1 within the first `probeBits` bit positions of
    * each band. The index side stays one row per (doc, band) — no second
    * index, no extra index rows in the shuffle; the fan-out is probe-side
    * only (×(1+probeBits) rows). Coverage guarantee (pigeonhole over the
    * 4×16 layout): exact bands guarantee candidates for Hamming ≤ 3; with
    * probeBits=16, any pair at Hamming ≤ 7 must have some band differing
    * in ≤ 1 bit, so candidate generation is GUARANTEED for d ≤ 7 — the
    * right knob when maxDist is pushed past the exact-band guarantee,
    * where distance-4..8 pairs were previously found only if they happened
    * to collide on a band. In the self-join both docs take the probe role,
    * so a 1-bit band difference is found from either end. */
  def simhashPairsFromSketch(sk: DataFrame, maxDist: Int,
                             probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= 16,
      s"probeBits must be in [0, 16] (16-bit bands), got $probeBits")
    val banded = sk.select(col("doc_id"), col("simhash"), posexplode(
      array(col("band0"), col("band1"), col("band2"), col("band3")))
      .as(Seq("band_id", "band_val")))
    val probed =
      if (probeBits == 0) banded
      else banded.select(col("doc_id"), col("simhash"), col("band_id"),
        explode(array(col("band_val") +:
          (0 until probeBits).map(j => col("band_val").bitwiseXOR(lit(1L << j))): _*))
          .as("band_val"))
    val a = probed.select(col("band_id"), col("band_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band_id"), col("band_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(s"bit_count(sim_a ^ sim_b) <= $maxDist"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  // ------------------------------------------------------------------
  // AUTO-SIZED SimHash banding (round 14) — the Manku/Jain/Sarma
  // WWW'07 §3 table scheme, sized from the corpus count the way
  // [[minhashParamsAuto]] sizes MinHash bands. The fixed 4×16-bit
  // layout holds its false-candidate budget only to n ≈ 2^16·b docs;
  // past that the 16-bit keys flood the band join with background
  // collisions. The fix is NOT more bands of the same width but the
  // block-combination generalization: split the 63 sketch bits into m
  // contiguous blocks; a pair at Hamming ≤ d differs in at most d
  // blocks, so it agrees ENTIRELY on some (m−d)-subset of blocks —
  // key one table per (m−d)-combination (C(m,d) tables) and candidate
  // generation is GUARANTEED complete for Hamming ≤ d, with key width
  // ≈ 63·(m−d)/m bits. Growing m widens the keys toward 63 bits while
  // the table count grows only combinatorially slowly: for d = 3,
  // m = 4 → 4 tables/16-bit keys (the classic layout), m = 6 → 20
  // tables/31-bit keys (n ~ 4·10^8 in budget), m = 8 → 56 tables/39-bit
  // keys (n ~ 4·10^10). A table key is just `simhash & mask` — block
  // agreement is mask equality, no bit repacking.

  /** Bit masks for the C(m, maxDist) block-combination tables over the
    * 63-bit sketch: m contiguous blocks (low blocks get the remainder
    * bit), one mask per (m−maxDist)-subset. Deterministic in (m, d) —
    * the streaming/incremental twin of a batch index re-derives the
    * identical layout from the two ints. */
  def simhashTableMasks(m: Int, maxDist: Int): Array[Long] = {
    // m <= 24 keeps the Int subset enumeration sound and the per-doc
    // fan-out sane (C(24,3) = 2024 rows/doc is already far past useful)
    require(maxDist >= 1 && m > maxDist && m <= 24,
      s"need maxDist >= 1 < m <= 24, got m=$m maxDist=$maxDist")
    val base = 63 / m
    val rem = 63 % m
    val blockMasks = Array.tabulate(m) { i =>
      val width = base + (if (i < rem) 1 else 0)
      val lo = i * base + math.min(i, rem)
      ((1L << width) - 1) << lo
    }
    val keep = m - maxDist
    // enumerate (m−d)-subsets as m-bit integers with popcount m−d
    (1 until (1 << m)).iterator
      .filter(java.lang.Integer.bitCount(_) == keep)
      .map { sel =>
        (0 until m).foldLeft(0L) { (acc, i) =>
          if ((sel & (1 << i)) != 0) acc | blockMasks(i) else acc
        }
      }.toArray
  }

  /** Smallest block count m whose expected background-candidate volume
    * holds the per-doc budget: Σ_tables n·2^(−key_width) ≤
    * falseCandPerDoc, evaluated in Double (the [[minhashParamsAuto]]
    * overflow lesson). Monotone: m↑ widens every key faster than it
    * adds tables. `maxM` caps per-doc fan-out at C(maxM, d) rows — at
    * the cap, budget overrun degrades to extra verify work, never to
    * lost recall (the guarantee is structural, not probabilistic). */
  def simhashBlocksAuto(n: Long, maxDist: Int, falseCandPerDoc: Int = 4,
                        maxM: Int = 12): Int = {
    require(maxDist >= 1 && maxM > maxDist, s"bad ($maxDist, $maxM)")
    def cost(m: Int): Double =
      simhashTableMasks(m, maxDist)
        .map(mk => math.pow(0.5, java.lang.Long.bitCount(mk))).sum *
        math.max(n, 1L).toDouble
    var m = maxDist + 1
    while (m < maxM && cost(m) > falseCandPerDoc) m += 1
    m
  }

  /** Pair generation from a prebuilt [[simhashSketch]] under an explicit
    * table-mask layout (from [[simhashTableMasks]]): per doc, one row
    * per table keyed on `simhash & mask`; equi-join on (table, key);
    * verify `bit_count(xor) ≤ maxDist`. With masks built for d ≥
    * maxDist the candidate stage is COMPLETE for the verify predicate,
    * so the result is exactly the Hamming-≤-maxDist pair set — same
    * shuffle shape as [[simhashPairsFromSketch]] (band equi-join, never
    * all-pairs), fan-out C(m,d) rows per doc per side. */
  def simhashPairsFromSketchMasked(sk: DataFrame, maxDist: Int,
                                   masks: Array[Long]): DataFrame = {
    require(masks.nonEmpty, "empty table-mask layout")
    val banded = sk.select(col("doc_id"), col("simhash"), posexplode(
      array(masks.map(mk => col("simhash").bitwiseAND(lit(mk))): _*))
      .as(Seq("band_id", "band_val")))
    val a = banded.select(col("band_id"), col("band_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band_id"), col("band_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(s"bit_count(sim_a ^ sim_b) <= $maxDist"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** [[simhashPairsFromSketchMasked]] with the sizing rule applied
    * automatically: one cheap count job derives m via
    * [[simhashBlocksAuto]], the masks follow deterministically, and the
    * result is the EXACT Hamming-≤-maxDist pair set at any corpus size
    * — the production entry point; the fixed 4×16 form remains for
    * recall-pinned registrations and the probed variant. */
  def simhashPairsAuto(docs: DataFrame, n: Int, maxDist: Int,
                       algo: String = "xxh64",
                       falseCandPerDoc: Int = 4): DataFrame = {
    val sk = simhashSketch(docs, n, algo).localCheckpoint(eager = false)
    val m = simhashBlocksAuto(docs.select(col("doc_id")).count(), maxDist,
      falseCandPerDoc)
    simhashPairsFromSketchMasked(sk, maxDist, simhashTableMasks(m, maxDist))
  }
}
