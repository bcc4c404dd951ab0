package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming ANN serve — the production vector-search topology (§2i ×
  * the similarity surface): the corpus is indexed ONCE in batch
  * ([[graft.operators.Similarity.buildIvfIndex]] → parquet, the
  * ann_ivf_persisted path), and an unbounded QUERY stream is answered
  * per micro-batch by the IDENTICAL batch serve operator inside
  * foreachBatch. Stream-static at its purest: the query stream is the
  * small side; the 100 TB corpus never moves — per batch, assignment
  * broadcasts the O(K) centroid set, candidates equi-join the posting
  * lists, and the exact re-rank touches only candidate rows.
  *
  * Batch parity is the fidelity contract (StreamingSimilaritySpec): the
  * union of per-batch results equals the batch `ivfTopKWithIndex` over
  * the same query set, row for row — ANN serve is per-query, so batch
  * boundaries cannot change any answer.
  *
  * Delivery: each micro-batch writes to its own `batch=<runId>-<id>`
  * directory with overwrite — the standard idempotent-foreachBatch-sink
  * recipe, so an at-least-once replay of a batch overwrites its own
  * output instead of appending duplicates, and the caller-owned `runId`
  * namespaces LINEAGES: a stream restarted against a lost or relocated
  * checkpoint restarts micro-batch ids at 0, and without the namespace
  * it would silently overwrite the prior run's accumulated outputs
  * (round 15 — the [[runIndexGrow]] round-12 fix, applied to every
  * serve sink). */
object StreamingSimilarity {

  /** Serve top-k from a prebuilt [[Similarity.IvfIndex]] for every query
    * micro-batch; results land in `outDir/batch=<runId>-<id>/`. The
    * stream needs (vec_id, embedding) rows — the corpus frame's own
    * shape. */
  def runIvfServe(queryStream: DataFrame, index: Similarity.IvfIndex,
                  corpus: DataFrame, k: Int, nProbe: Int,
                  outDir: String, checkpointDir: String,
                  runId: String): StreamingQuery =
    BoundedStream.drain(queryStream, checkpointDir)(BoundedStream.skipEmpty(
      BoundedStream.parquetSink(outDir, Some(runId),
        (batch, _) => Similarity.ivfTopKWithIndex(batch, corpus, index, k,
          nProbe))))

  /** Grow a persisted IVF index from an unbounded INGEST stream of new
    * vectors — the WRITE half of the build-once/add-many lifecycle and
    * the streaming face of [[Similarity.ivfAppend]] (round 11;
    * [[runIvfServe]] is the read half): each micro-batch is assigned
    * against the FROZEN centroids (|batch| × K dots — the ingest batch,
    * never the corpus) and its posting rows land in
    * `postingsDir/batch=<runId>-<id>` with overwrite —
    * replay-idempotent, zero state. A serving job builds
    * [[Similarity.IvfIndex]] from the centroids plus ONE read of the
    * whole postings directory and sees every ingested vector; quantizer
    * refresh stays a batch lifecycle decision (rebuild + swap — the
    * documented ivfAppend trade).
    *
    * `runId` (round 12) namespaces the batch directories: micro-batch
    * ids are only unique WITHIN one checkpoint lineage, so a stream
    * restarted against a lost or relocated checkpoint restarts ids at 0
    * and — keyed by id alone — would silently clobber a prior run's
    * `batch=0/1/...` dirs, dropping already-indexed vectors from the
    * served index. With the run id in the directory key, overwrite
    * stays idempotent for THIS run's replays (at-least-once delivery)
    * and can never touch another run's postings. Callers pick any id
    * stable for the checkpoint's lifetime (and never containing '-'
    * ambiguity issues — the id is a plain string prefix).
    * Spec-pinned: accumulated postings ≡ assign-on-union bit-exact,
    * late batches servable, re-delivered batch a no-op. */
  def runIndexGrow(vectorStream: DataFrame, centroids: DataFrame,
                   postingsDir: String, checkpointDir: String,
                   runId: String): StreamingQuery =
    BoundedStream.drain(vectorStream, checkpointDir)(
      growSink(centroids, postingsDir, runId))

  /** The per-batch step of [[runIndexGrow]], factored out so replay
    * idempotence and assignment parity are directly testable. */
  private[graft] def growBatch(batch: DataFrame, id: Long,
                               centroids: DataFrame,
                               postingsDir: String, runId: String): Unit =
    growSink(centroids, postingsDir, runId)(batch, id)

  private def growSink(centroids: DataFrame, postingsDir: String,
                       runId: String): (DataFrame, Long) => Unit =
    BoundedStream.skipEmpty(BoundedStream.parquetSink(postingsDir,
      Some(runId),
      (batch, _) => Similarity.assign(centroids, batch, "neighbor_id",
        keep = 1)))

  /** Streaming HYBRID search serve (round 9) — the full modern
    * retrieval stack on an unbounded query stream: each micro-batch of
    * queries `(query_id, embedding, terms)` is answered by BOTH rankers
    * against their persisted batch-built artifacts — semantic top-k
    * from the IVF index (the [[runIvfServe]] path) and lexical top-k
    * from the inverted postings index
    * ([[graft.operators.TextAnalysis.keywordSearchWithIndex]]) — then
    * fused by reciprocal rank fusion with the ext_hybrid_rrf
    * quantization (BIGINT 10¹² div (60 + rank) per ranker, missing
    * ranker contributes 0), final rank per query under
    * (rrf_q DESC, doc_id). Per-batch cost scales with the batch's
    * candidate lists; the corpus and both indexes never move. Results
    * land in `outDir/batch=<runId>-<id>` with overwrite —
    * replay-idempotent, lineage-namespaced. */
  def runHybridServe(queryStream: DataFrame, index: Similarity.IvfIndex,
                     corpus: DataFrame, postings: DataFrame, nDocs: Long,
                     k: Int, nProbe: Int, outDir: String,
                     checkpointDir: String, runId: String): StreamingQuery =
    BoundedStream.drain(queryStream, checkpointDir)(BoundedStream.skipEmpty(
      BoundedStream.parquetSink(outDir, Some(runId),
        (batch, _) => hybridBatch(batch, index, corpus, postings, nDocs, k,
          nProbe))))

  /** The per-batch fusion of [[runHybridServe]], factored out so batch
    * parity is directly testable. */
  private[graft] def hybridBatch(batch: DataFrame,
                                 index: Similarity.IvfIndex,
                                 corpus: DataFrame, postings: DataFrame,
                                 nDocs: Long, k: Int,
                                 nProbe: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val sem = Similarity.ivfTopKWithIndex(
      batch.select(col("query_id").as("vec_id"), col("embedding")),
      corpus, index, k, nProbe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("sem_rank"))
    val lex = graft.operators.TextAnalysis.keywordSearchWithIndex(
      postings, nDocs, batch.select(col("query_id"), col("terms")), k)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_q",
        coalesce(expr("1000000000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000000000 div (60 + sem_rank)"), lit(0L)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_q").desc, col("doc_id"))).cast("long"))
  }
}
