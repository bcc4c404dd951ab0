package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, Sinks, TextAnalysis}

final case class Doc(id: Long, text: String, lang: String)

/** One generated shard. `plantedGroups` are the id sets of each planted
  * near-duplicate cluster and each exact copy with its origin. */
final case class Shard(docs: Seq[Doc], plantedGroups: Seq[Seq[Long]],
                       vecs: Array[(Long, Array[Float])],
                       qs: Array[(Long, Array[Float])])

/** Seeded generator of corpus shards: documents in mixed languages with
  * heavy-tailed lengths, low-quality filler, exact copies and planted
  * near-duplicate clusters; and embeddings around cluster centres with a
  * query batch whose neighbours are planted among them. */
final class CorpusGen(seed: Long, val docsPerShard: Int, val vectors: Int,
                      val queries: Int, val dim: Int, val nearDupShare: Double,
                      val exactDupShare: Double, val enShare: Double,
                      val lowQualityShare: Double, val centres: Int) {
  private val stop = Seq("the", "a", "of", "in", "to", "and", "is")
  private val markers = Map("en" -> Seq("fast", "slow"), "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "et"), "es" -> Seq("el", "los", "y"), "zh" -> Seq("的", "了", "是"))
  private val vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(seed ^ 0xc0de5L)
    (0 until 4000).map(_ => (0 until 4 + r.nextInt(5)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }
  private val vocabCdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(vocabCdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
  }

  private def tokens(lang: String, r: SplittableRandom): IndexedSeq[String] = {
    // heavy-tailed length: log-normal around ~40 tokens
    val n = math.min(400, 12 + math.exp(r.nextGaussian() * 0.7 + 3.3).toInt)
    (0 until n).map { _ =>
      val u = r.nextDouble()
      lang match {
        case "en" if u < 0.12 => stop(r.nextInt(stop.size))
        case "und" => word(r)
        case l if u < 0.16 => markers(l)(r.nextInt(markers(l).size))
        case _ => word(r)
      }
    }
  }

  private def jaccard3(a: String, b: String): Double = {
    def sh(t: String) = t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 0.0 else (x & y).size.toDouble / (x | y).size
  }

  /** Shard `i` with `nDocs` documents (`docsPerShard` by default). */
  def shard(i: Int, nDocs: Int = docsPerShard): Shard = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val nNear = math.round(nDocs * nearDupShare).toInt
    val nExact = math.round(nDocs * exactDupShare).toInt
    val nBase = nDocs - nNear - nExact
    val langs = Seq("de", "fr", "es", "zh", "und")
    // (text, language, whether it is a candidate origin for copies)
    val base = (0 until nBase).map { _ =>
      if (r.nextDouble() < lowQualityShare) {
        // repetitive filler with no stopwords: fails two of three gates
        val (w1, w2) = (word(r), word(r))
        (Seq.fill(15 + r.nextInt(30))(if (r.nextBoolean()) w1 else w2).mkString(" "), "en", false)
      } else {
        val lang = if (r.nextDouble() < enShare) "en" else langs(r.nextInt(langs.size))
        val ws = tokens(lang, r)
        (ws.mkString(" "), lang, lang == "en" && ws.size >= 25)
      }
    }
    // near-duplicate clusters: 1-2 copies of an English doc of at least 25
    // tokens, each with 1-3% of its tokens replaced; with so few changes
    // every pair inside a cluster stays above Jaccard 1/2
    val origins = base.indices.filter(j => base(j)._3)
    val groups = ArrayBuffer[ArrayBuffer[Int]]()
    val extra = ArrayBuffer[(String, String, Boolean)]()
    while (extra.size < nNear) {
      val o = origins(r.nextInt(origins.size))
      val g = ArrayBuffer(o)
      for (_ <- 0 until math.min(1 + r.nextInt(2), nNear - extra.size)) {
        val ws = base(o)._1.split(" ")
        val subs = math.max(1, math.round(ws.length * (0.01 + 0.02 * r.nextDouble())).toInt)
        for (_ <- 0 until subs) ws(r.nextInt(ws.length)) = word(r)
        g += nBase + extra.size
        extra += ((ws.mkString(" "), "en", false))
      }
      groups += g
    }
    for (_ <- 0 until nExact) {
      val o = origins(r.nextInt(origins.size))
      groups += ArrayBuffer(o, nBase + extra.size)
      extra += base(o)
    }
    val all = base ++ extra
    // shuffled ids: a copy is as likely to precede its origin as follow it
    val perm = (0 until all.size).toArray
    for (k <- perm.length - 1 to 1 by -1) {
      val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t
    }
    val idOf = (k: Int) => i.toLong * 1000000L + perm(k)
    val docs = all.indices.map(k => Doc(idOf(k), all(k)._1, all(k)._2))

    val cs = Array.fill(centres, dim)(r.nextGaussian().toFloat)
    def noisy(v: Array[Float], s: Double) = v.map(x => (x + s * r.nextGaussian()).toFloat)
    val vecs = (0 until vectors).map(k => (k.toLong, noisy(cs(r.nextInt(centres)), 0.6))).toArray
    val qs = (0 until queries).map(k =>
      (10000000L + k, noisy(vecs(r.nextInt(vectors))._2, 0.3))).toArray
    Shard(docs, groups.map(_.map(idOf).toSeq).toSeq, vecs, qs)
  }

  /** Planted pairs (earlier id, later id) at word-3-gram Jaccard >= 1/2. */
  def plantedPairs(s: Shard): Seq[(Long, Long)] = {
    val text = s.docs.map(d => d.id -> d.text).toMap
    s.plantedGroups.flatMap { g =>
      for (a <- g; b <- g if a < b && jaccard3(text(a), text(b)) >= 0.5) yield (a, b)
    }.distinct
  }

  /** Exact cosine top-`k` neighbour ids of every query. */
  def exactTopK(s: Shard, k: Int): Map[Long, Set[Long]] = {
    def unit(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum); v.map(_ / n)
    }
    val corpus = s.vecs.map { case (id, v) => (id, unit(v)) }
    s.qs.map { case (qid, q) =>
      val u = unit(q)
      qid -> corpus.map { case (id, v) =>
        var d = 0.0; var j = 0
        while (j < v.length) { d += u(j) * v(j); j += 1 }
        (id, d)
      }.sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSet
    }.toMap
  }
}

/** `corpus_curation`: closed loop over generated shards. Each shard goes
  * through the quality and language gates, exact dedup, MinHash-LSH pairs
  * resolved into clusters, and an IVF top-k for its query batch; the
  * curated shard and the neighbours are then written. */
final class Curation(spark: SparkSession, seed: Long, out: Path) extends Workload {
  val gen = new CorpusGen(seed, docsPerShard = 10000, vectors = 2000, queries = 48,
    dim = 64, nearDupShare = 0.12, exactDupShare = 0.03, enShare = 0.6,
    lowQualityShare = 0.05, centres = 48)
  /** Documents of the shard the DuckDB oracle checks. */
  val oracleDocs = 1000
  val k = 10

  private val dir = out.resolve("curation")
  private var nextShard = 1
  private val shards = ArrayBuffer[Shard]()
  private val done = ArrayBuffer[(Int, Path)]()

  def params: ListMap[String, Any] = ListMap(
    "seed" -> seed, "docs_per_shard" -> gen.docsPerShard,
    "oracle_docs" -> oracleDocs, "vectors" -> gen.vectors,
    "queries" -> gen.queries, "dim" -> gen.dim, "near_dup_share" -> gen.nearDupShare,
    "exact_dup_share" -> gen.exactDupShare, "en_share" -> gen.enShare,
    "low_quality_share" -> gen.lowQualityShare, "centres" -> gen.centres,
    "top_k" -> k, "clients" -> 1)

  private def shardDir(i: Int) = dir.resolve(f"shard-$i%03d")

  private def writeShard(i: Int, nDocs: Int): Shard = {
    val s = gen.shard(i, nDocs)
    val d = shardDir(i)
    import spark.implicits._
    s.docs.map(x => (x.id, x.text, x.lang, s"src${x.id % 7}", x.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4) // one file per core, as a shard of a larger corpus arrives
      .write.parquet(d.resolve("documents.parquet").toString)
    s.vecs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(d.resolve("embeddings.parquet").toString)
    s.qs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(d.resolve("queries.parquet").toString)
    s
  }

  /** Shard 0 for the preload, one shard per operation, and the small
    * shard the oracle checks (also curated by the preload). */
  def generate(ops: Int): Unit = {
    Main.deleteTree(dir)
    for (i <- 0 to ops) shards += writeShard(i, gen.docsPerShard)
    shards += writeShard(ops + 1, oracleDocs)
  }

  /** The quality and language gates: documents scored above 0.5 and
    * identified as English, with their token count and score. */
  private def gates(docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.qualityScore(TextAnalysis.textStats(docs))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("quality_score"))
    val lang = TextAnalysis.langId(docs).select(col("doc_id"), col("lang_predicted"))
    docs.select(col("doc_id"), col("text"))
      .join(scored.filter(col("quality_score") > 0.5), "doc_id")
      .join(lang.filter(col("lang_predicted") === "en"), "doc_id")
  }

  private def documents(i: Int): DataFrame =
    spark.read.parquet(shardDir(i).resolve("documents.parquet").toString)

  /** Curate the small shard the oracle checks, then shard 0, untimed. The
    * driver-side code warms with the number of shards curated, not their
    * size: after shard 0 alone the first timed shard took 10-24% longer
    * than the next one. */
  def preload(): Unit = {
    curate(shards.size - 1, oracleOut, new Tracer(spark))
    curate(0, dir.resolve("curated-000"), new Tracer(spark))
  }

  private def oracleOut = dir.resolve("curated-oracle")

  /** Curate shard `i`, writing into `dst`. In the traced run each stage is
    * materialized inside its own span, so that its executor time is
    * attributed to it; those benchmark-owned caches are released after. */
  private def curate(i: Int, dst: Path, tracer: Tracer): Unit = {
    val forced = ArrayBuffer[DataFrame]()
    def force(df: DataFrame): DataFrame =
      if (!tracer.enabled) df else { val p = df.persist(); p.count(); forced += p; p }
    try {
      val filtered = tracer.span("TextAnalysis.score")(_ => force(gates(documents(i))))
      val exactKept = tracer.span("Dedup.exact") { _ =>
        val canon = filtered.groupBy(xxhash64(col("text")), length(col("text")))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        // feeds the pair generator and the cluster resolution
        force(filtered.join(canon, Seq("doc_id"), "left_semi")
          .localCheckpoint(eager = false))
      }
      val pairs = tracer.span("Dedup.lsh") { _ =>
        force(Dedup.minhashLshPairsAuto(exactKept, n = 3, num = 1, den = 2,
          maxBucket = 512))
      }
      val curated = tracer.span("Dedup.resolve") { _ =>
        force(Dedup.resolveClusters(exactKept, pairs, prefer = Some(-col("doc_id")))
          .filter(col("doc_id") === col("canonical_id"))
          .select(col("doc_id"), col("lang_predicted"), col("n_tokens"),
            col("quality_score")))
      }
      val emb = spark.read.parquet(shardDir(i).resolve("embeddings.parquet").toString)
      val qs = spark.read.parquet(shardDir(i).resolve("queries.parquet").toString)
      val (index, nProbe) = tracer.span("Similarity.index") { _ =>
        val (c, p) = Similarity.ivfParamsAuto(emb.count())
        val idx = Similarity.buildIvfIndex(emb, c).get
        if (tracer.enabled) { force(idx.centroids); force(idx.postings) }
        (idx, p)
      }
      val topk = tracer.span("Similarity.topk") { _ =>
        force(Similarity.ivfTopKWithIndex(qs, emb, index, k, nProbe))
      }
      tracer.span("Sinks.write") { _ =>
        Sinks.truncateAndLoad(curated, dst.resolve("curated").toString)
        Sinks.truncateAndLoad(topk, dst.resolve("topk").toString)
      }
    } finally forced.foreach(_.unpersist())
  }

  def op(tracer: Tracer, opId: Int): OpResult = {
    val i = nextShard
    nextShard += 1
    val dst = dir.resolve(f"curated-$i%03d")
    val t = System.nanoTime()
    tracer.span("op", opId)(_ => curate(i, dst, tracer))
    val ms = (System.nanoTime() - t) / 1e6
    done += ((i, dst))
    OpResult(ms, ok = true, gen.docsPerShard.toLong)
  }

  private var recalls = (0.0, 0.0)

  def checks(): Seq[Check] = {
    var (pairsTotal, pairsRemoved) = (0L, 0L)
    val annRecalls = ArrayBuffer[Double]()
    done.foreach { case (i, dst) =>
      val s = shards(i)
      val kept = spark.read.parquet(dst.resolve("curated").toString)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // only pairs whose documents both pass the gates: a pair the gates
      // drop says nothing about dedup
      val gated = gates(documents(i)).select("doc_id").collect().map(_.getLong(0)).toSet
      val planted = gen.plantedPairs(s).filter { case (a, b) => gated(a) && gated(b) }
      pairsTotal += planted.size
      pairsRemoved += planted.count { case (_, later) => !kept(later) }
      val exact = gen.exactTopK(s, k)
      val got = spark.read.parquet(dst.resolve("topk").toString)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      annRecalls ++= exact.map { case (q, want) =>
        (got.getOrElse(q, Set.empty[Long]) & want).size.toDouble / k }
    }
    val dedupRecall = if (pairsTotal == 0) 0.0 else pairsRemoved.toDouble / pairsTotal
    val annRecall = if (annRecalls.isEmpty) 0.0 else annRecalls.sum / annRecalls.size
    recalls = (dedupRecall, annRecall)
    // inputs of the DuckDB oracle check. The oracle SQL compares every
    // pair of documents, which takes minutes on a measured shard, so it
    // checks the small shard the preload curated with the same code; the
    // measured shards are checked by the recalls.
    val oracles = Seq((shards.size - 1, oracleOut)).map { case (i, dst) =>
      ListMap("query" -> "ext_corpus_curation", "label" -> "small_shard",
        "sql" -> graft.SparkEntry.oracleSql("ext_corpus_curation"),
        "tables" -> ListMap("documents" -> shardDir(i).resolve("documents.parquet").toString),
        "engine_output" -> dst.resolve("curated").toString)
    }
    Main.writeFile(out.resolve("oracle/oracle.json"), Json.render(oracles.toSeq))
    Seq(
      Check("dedup_recall_floor", dedupRecall >= 0.95,
        s"dedup_recall $dedupRecall over $pairsTotal planted pairs that pass the gates"),
      Check("ann_recall_floor", annRecall >= 0.5,
        s"ann_recall_at_10 $annRecall over ${annRecalls.size} queries"))
  }

  override def layerExtras: Map[String, Double] = {
    val (c, p) = Similarity.ivfParamsAuto(gen.vectors.toLong)
    Map("Similarity.candidates_per_query" -> gen.vectors.toDouble * p / c,
      "dedup_recall" -> recalls._1, "ann_recall_at_10" -> recalls._2)
  }
}
