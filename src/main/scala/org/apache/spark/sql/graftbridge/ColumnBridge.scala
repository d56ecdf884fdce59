package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression
  * converters (Spark 4 wraps Column around ColumnNode; the public API
  * deliberately hides the Catalyst expression). Lives under
  * org.apache.spark.sql to satisfy the access scope — the standard
  * pattern for libraries shipping custom Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Free the storage blocks behind a (local)checkpointed DataFrame.
    * A local checkpoint pins its materialized RDD blocks until
    * the RDD is garbage-collected by the ContextCleaner — in iterative
    * algorithms that checkpoint per round, superseded round states pile
    * up nondeterministically (GC lag), inflating the block store and
    * slowing later work. A no-op for plans that aren't a checkpoint
    * (LogicalRDD) root, so it is always safe to call on a
    * `graft.plans.Checkpointer` result. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
        case _ => ()
      }

  /** A spill file in Spark's managed executor-local dirs (the block
    * manager's temp-block allocator — same place shuffle/sort spills go,
    * honoring spark.local.dir and cleaned with executor storage), rather
    * than bare java.io.tmpdir which no Spark cleanup ever touches. Falls
    * back to tmpdir when no SparkEnv exists (plain unit-test JVM). */
  def managedSpillFile(prefix: String): java.io.File = {
    val env = org.apache.spark.SparkEnv.get
    if (env != null && env.blockManager != null && env.blockManager.diskBlockManager != null)
      env.blockManager.diskBlockManager.createTempLocalBlock()._2
    else java.io.File.createTempFile(prefix, ".bin")
  }
}
