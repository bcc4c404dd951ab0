package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for ITERATIVE operators (connected components,
  * BFS, k-means, rank propagation): each round's plan must not chain the
  * previous round's, or the lineage — and with it task binaries, stack
  * depth, and recovery cost — grows linearly with iterations.
  *
  * Two modes, selected by the standard Spark opt-in
  * (`spark.sparkContext.setCheckpointDir(...)` before calling the
  * operator):
  *
  *  - no checkpoint dir (local runs, benches — the default):
  *    `localCheckpoint` — blocks live MEMORY_AND_DISK on the executors
  *    that computed them. Fast (no filesystem round-trip) but NOT
  *    fault-tolerant: an executor loss drops blocks whose lineage was
  *    truncated and fails the job (the documented Dedup caveat).
  *  - checkpoint dir set (the cluster mode): RELIABLE `df.checkpoint` —
  *    blocks are written to the checkpoint filesystem (HDFS/object
  *    store) and survive executor loss; a 25-round component contraction
  *    on a 1000-executor cluster shrugs off preemptions instead of
  *    restarting from round 0.
  *
  * Results are identical in both modes (checkpointing materializes the
  * same rows; it never changes them) — GraphSpec pins this. `eager` is
  * passed through: eager=false defers materialization to the first
  * action (the round-3 no-extra-pass lesson); the convergence-check
  * action inside each loop materializes it immediately anyway.
  */
object Checkpointing {

  /** Truncate lineage: reliable `checkpoint` when the session has a
    * checkpoint dir configured, else `localCheckpoint`. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Release the executor blocks a [[cut]] pinned (`df` is what `cut`
    * returned), once an iterative operator has superseded that round.
    * `Dataset.unpersist` would not:
    * a checkpoint is not in the cache manager, its blocks belong to the
    * RDD under the plan. (A reliable checkpoint's files stay with the
    * checkpoint dir.) */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
