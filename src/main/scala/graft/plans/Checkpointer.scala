package graft.plans

import org.apache.spark.sql.DataFrame

/** The one lineage-truncation policy for iterative and multiply-consumed
  * intermediates (ConnectedComponents rounds, shingle streams, banded
  * self-join keys, PQ codebooks, staged media scans).
  *
  * The strategy follows the deployment, not the call site:
  * - a checkpoint directory is set on the SparkContext (the
  *   `spark.checkpoint.dir` configuration or `sc.setCheckpointDir` —
  *   HDFS/S3 on a real cluster): `checkpoint()`, RELIABLE. The truncated
  *   state is written to that directory and survives executor loss, so
  *   long multi-round jobs at the 100 TB scale outlive decommission,
  *   spot kills and preemption (GraphFrames checkpoints its iterative
  *   connected-components state the same way);
  * - no directory: `localCheckpoint()` — blocks live on executors only.
  *   Fast (no DFS write) but NOT fault-tolerant: an executor lost
  *   mid-job makes the truncated RDD unrecoverable and fails the job.
  *   Right for local mode and short jobs on static clusters.
  *
  * Eager by default: the checkpoint runs a Spark job when it is called.
  * `eager = false` defers the write to the first action on the result.
  *
  * Keep the name: perfbench's tracer credits a checkpoint job to the
  * module that asked for it by skipping `graft.plans.Checkpointer` frames.
  */
object Checkpointer {

  def apply(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Free the blocks behind a superseded checkpoint (a no-op for anything
    * that isn't a checkpoint root). Iterative callers MUST release round
    * N−1's state once round N is materialized: localCheckpoint blocks
    * otherwise stay pinned until RDD GC, and across bench reps / long
    * sessions the block store fills and everything downstream slows
    * down. Never call it on a DataFrame still referenced by a lazy,
    * unexecuted plan. */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseCheckpoint(df)
}
