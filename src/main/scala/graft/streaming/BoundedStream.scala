package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}

/** The one bounded-stream driver: every Structured Streaming query in
  * the engine is a file source drained to exhaustion by
  * `Trigger.AvailableNow` into a `foreachBatch` sink, and this object is
  * the only place that shape is written.
  *
  *  - [[land]] writes each chunk frame as one JSON file, `c<i>`;
  *  - [[open]] reads a landing directory back one file per trigger, so
  *    each landed chunk is one micro-batch;
  *  - [[drain]] runs a stream to exhaustion and returns the finished
  *    query;
  *  - [[parquetSink]] is the idempotent batch-directory sink;
  *  - [[withStatePartitions]] is the state-partition and AQE window a
  *    bounded run (open, drain, read-back) executes in. It is a scope
  *    of its own because a drain inside an operator does not know its
  *    input's size; the caller that landed the input does.
  *
  * Exactly-once rests on the two halves Structured Streaming (SIGMOD
  * 2018) names: a replayable source (the file source's offsets are file
  * lists in the checkpoint) and an idempotent sink (a batch id owns its
  * output, so a replay overwrites rather than appends).
  *
  * State partitioning. A stateful query's state is hash-partitioned into
  * `spark.sql.shuffle.partitions` stores, fixed at the first checkpoint,
  * and every micro-batch pays one task and one store commit per
  * partition per stateful operator whether or not the partition holds
  * data. [[withStatePartitions]] sizes that count from the stream's
  * input rows instead of the host (OPTIMIZATION_r16.md):
  *  - `spark.graft.stream.rowsPerStatePartition` (default 1e6): target
  *    input rows per state partition;
  *  - `spark.graft.stream.statePartitions`: an explicit count that wins
  *    over the formula.
  * The count only moves state rows between stores, never changes their
  * values. */
private[graft] object BoundedStream {

  /** Floor: keep every stateful operator distributed (a single-store
    * stream would hide partition-boundary bugs and serialize the drain). */
  private val MinStatePartitions = 2

  private def rowsPerStatePartition(spark: SparkSession): Long = {
    val perPartition = spark.conf
      .getOption("spark.graft.stream.rowsPerStatePartition")
      .fold(1000000L)(_.toLong)
    require(perPartition >= 1,
      s"rowsPerStatePartition must be >= 1: $perPartition")
    perPartition
  }

  /** State partition count for a stream whose bounded input (or batch
    * volume estimate, for unbounded sources) is `inputRows`:
    * `max(2, ceil(inputRows / rowsPerStatePartition))`. */
  def statePartitionsFor(spark: SparkSession, inputRows: Long): Int =
    spark.conf.getOption("spark.graft.stream.statePartitions")
      .map(_.toLong) match {
      case Some(explicit) =>
        require(explicit >= 1, s"statePartitions must be >= 1: $explicit")
        explicit.toInt
      case None =>
        val perPartition = rowsPerStatePartition(spark)
        val want = (inputRows.max(0L) + perPartition - 1) / perPartition
        want.max(MinStatePartitions.toLong).min(Int.MaxValue.toLong).toInt
    }

  /** Run `body` (open a stream, drain it, read the result back) with
    * `spark.sql.shuffle.partitions` from [[statePartitionsFor]], restoring
    * the previous values afterwards, also when `body` throws. The count
    * must be set before the stream starts: the first checkpoint pins it.
    *
    * AQE is on inside the window only when the input reaches one state
    * partition's row target. AQE runs each exchange as its own job with
    * a re-optimization round between stages; on a micro-batch plan over
    * a few thousand rows that is latency with nothing to re-optimize
    * (round-17 event-log profile: ~6 sub-jobs and 20–300 ms of gaps per
    * micro-batch on the bucketed-sink rows). */
  def withStatePartitions[T](spark: SparkSession, inputRows: Long)
                            (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val prevAqe = spark.conf.get(aqeKey)
    spark.conf.set(key, statePartitionsFor(spark, inputRows).toString)
    spark.conf.set(aqeKey,
      (inputRows >= rowsPerStatePartition(spark)).toString)
    try body
    finally {
      spark.conf.set(key, prev)
      spark.conf.set(aqeKey, prevAqe)
    }
  }

  /** Land each frame of `chunks` as one JSON file under
    * `landing/c<i>`, in order, so [[open]] replays chunk `i` as
    * micro-batch `i`. */
  def land(landing: String, chunks: Seq[DataFrame]): Unit =
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      chunk.coalesce(1).write.mode("overwrite").json(s"$landing/c$i")
    }

  /** `reader` paced to one file a micro-batch. */
  def paced(reader: DataStreamReader): DataStreamReader =
    reader.option("maxFilesPerTrigger", 1)

  /** The chunks [[land]] wrote under `landing`, as a stream of the DDL
    * `schema` that reads one chunk a micro-batch. */
  def open(spark: SparkSession, schema: String, landing: String): DataFrame =
    paced(spark.readStream.schema(schema)).json(s"$landing/*")

  /** Drain `stream` to exhaustion: checkpoint at `checkpoint`, one
    * `AvailableNow` run in `outputMode`, each micro-batch handed to
    * `batch` with its id. Returns the query once it has terminated; a
    * failed batch throws here. */
  def drain(stream: DataFrame, checkpoint: String,
            outputMode: String = "append")
           (batch: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(batch)
      .start()
    q.awaitTermination()
    q
  }

  /** The idempotent batch-directory sink: micro-batch `id` writes
    * `frame(batch, id)` over its own `outDir/batch=<id>`, so a replay of
    * the batch overwrites its output instead of appending a duplicate.
    *
    * A `runId` names the checkpoint lineage: batch ids restart at 0 when
    * a stream restarts against a lost or relocated checkpoint, so a
    * lineage-named sink writes `batch=<runId>-<id>` and never touches
    * another run's output. It must be a nonempty path-safe token, checked
    * here, before the stream starts.
    *
    * Every batch is written, an empty one too, so the directory holds
    * the schema even when every batch was empty; wrap the sink in
    * [[skipEmpty]] to write nothing for an empty batch. */
  def parquetSink(outDir: String, runId: Option[String] = None,
                  frame: (DataFrame, Long) => DataFrame = (b, _) => b)
      : (DataFrame, Long) => Unit = {
    runId.foreach(r => require(r.nonEmpty && !r.contains("/"),
      s"runId must be a nonempty path-safe token, got '$r'"))
    val prefix = runId.fold("")(_ + "-")
    (batch, id) =>
      frame(batch, id).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/batch=$prefix$id")
  }

  /** `sink`, called only for a nonempty micro-batch. */
  def skipEmpty(sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, id) => if (!batch.isEmpty) sink(batch, id)
}
