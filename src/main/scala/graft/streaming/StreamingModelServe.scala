package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.col

import graft.operators.Features
import graft.operators.Features.ModelEntry

/** Streaming model serve — the inference topology for the trained
  * model artifacts (§2i × the model surface), mirroring
  * [[StreamingSimilarity.runIvfServe]]: the model is fitted ONCE in
  * batch and persisted as a parquet frame by its
  * [[graft.operators.Features.ModelEntry]] (the reference's joblib-dump
  * contract, fastapi model/ML Pipeline/train.py:555-567 — retrain
  * republishes wholesale), then an unbounded FEATURE stream is scored
  * per micro-batch by the entry's batch predict inside foreachBatch —
  * the batch operator run on every micro-batch, one [[runModelServe]]
  * for every model.
  *
  * Scale shape: the artifact is model-sized (p+1 coefficients, or
  * nRounds stumps), loaded on the driver once at stream start and
  * riding every micro-batch plan as LITERALS — scoring is map-only at
  * scan speed, no join, no shuffle, no state store. The stream can be
  * 100 TB/day; per-row cost is a fixed fold of p multiply-adds.
  *
  * Batch parity is the fidelity contract (StreamingModelServeSpec): the
  * union of per-batch outputs equals the batch predict over the same
  * rows, bit for bit — scoring is per-row, so batch boundaries cannot
  * change any prediction.
  *
  * Delivery: each micro-batch overwrites its own `batch=<runId>-<id>`
  * directory — the idempotent-foreachBatch-sink recipe shared with the
  * ANN serve, so an at-least-once replay replaces its own output instead
  * of appending duplicates, and the caller-owned `runId` namespaces
  * lineages (round 15): a stream restarted against a lost/relocated
  * checkpoint restarts ids at 0 and would otherwise silently overwrite
  * the prior run's accumulated outputs. */
object StreamingModelServe {

  /** Shared runner: score each micro-batch with a batch-identical
    * `score` function into `outDir/batch=<runId>-<id>/`. */
  private def runServe(featureStream: DataFrame,
                       score: DataFrame => DataFrame,
                       outDir: String, checkpointDir: String,
                       runId: String): StreamingQuery =
    BoundedStream.drain(featureStream, checkpointDir)(
      BoundedStream.skipEmpty(
        BoundedStream.parquetSink(outDir, Some(runId), (b, _) => score(b))))

  /** Serve the model `entry` persisted at `modelDir` over a feature
    * stream: the model loads once, and every micro-batch is scored by
    * the entry's batch predict over the `features` columns (the
    * predict's own output columns: `prediction` for the regressors,
    * `probability` for logistic, `p_<class>` and `predicted_class` for
    * softmax). */
  private[graft] def runModelServe[M](spark: SparkSession,
                                      featureStream: DataFrame,
                                      modelDir: String, features: Seq[String],
                                      outDir: String, checkpointDir: String,
                                      runId: String,
                                      entry: ModelEntry[M]): StreamingQuery = {
    val model = entry.fromFrame(spark.read.parquet(modelDir))
    runServe(featureStream, b => entry.predict(b, model, features.map(col)),
      outDir, checkpointDir, runId)
  }

  /** Streaming sibling of the pipeline serve (the reference's predict
    * endpoint, main.py:320-391, as an unbounded feed): each micro-batch
    * of feature rows — `(user_id, event_type, pred_f, …)` with the
    * family's window columns, supplied by the caller exactly as the HTTP
    * endpoint is called with recent values — is scored by
    * [[graft.Pipeline.score]] against the artifacts a [[graft.Pipeline.run]]
    * of `predictor` persisted under `artifactsDir`. Artifacts load once
    * at stream start (latest snapshot version, all model-sized and
    * broadcast per batch); the batch apply itself scores every row, so
    * batch parity is structural. */
  def runPipelineServe(spark: SparkSession, featureStream: DataFrame,
                       artifactsDir: String, predictor: String,
                       outDir: String, checkpointDir: String,
                       runId: String): StreamingQuery = {
    // cache(), NOT localCheckpoint (round 15): localCheckpoint blocks
    // live only in executor storage and are non-recomputable — one
    // executor loss mid-stream kills every later micro-batch with a
    // missing-block error. cache keeps the (tiny, model-sized) lineage
    // recomputable; the snapshot read re-runs at worst.
    val artifacts = graft.Pipeline.scoreArtifacts(predictor).map(a =>
      a -> graft.operators.Sinks.readSnapshot(spark, s"$artifactsDir/$a")
        .cache()).toMap
    runServe(featureStream, b => graft.Pipeline.score(predictor, b, artifacts),
      outDir, checkpointDir, runId)
  }

  /** Streaming anomaly detection against a persisted robust-statistics
    * artifact (round 9): [[Features.madStats]] is fitted in batch and
    * written to parquet (per-group med2/mad4 — the exact integer
    * encoding), then every micro-batch is flagged by the IDENTICAL
    * batch operator [[Features.madFlag]] — a broadcast join plus
    * map-speed integer arithmetic, no state store, so parity with the
    * batch flagger is structural and replay is idempotent via the
    * shared batch=<id> sink recipe. The monitoring topology: yesterday
    * fits, today's firehose flags. */
  def runMadAnomalyServe(spark: SparkSession, eventStream: DataFrame,
                         statsDir: String, group: Seq[String],
                         valueCol: String, k: Double,
                         outDir: String, checkpointDir: String,
                         runId: String): StreamingQuery = {
    val stats = spark.read.parquet(statsDir)
      .cache() // recomputable on executor loss, see runPipelineServe
    runServe(eventStream,
      b => Features.madFlag(b, stats, group, col(valueCol), k),
      outDir, checkpointDir, runId)
  }
}
