package org.apache.spark.sql.graftbridge

/** Scopes the checkpoint directory of the shared test context
  * ([[graft.SparkSpec]]) to one test body. Every suite shares that
  * SparkContext, and `graft.plans.Checkpointer` checkpoints reliably
  * whenever a directory is set, so a directory left behind would silently
  * switch every later suite to reliable checkpoints. Lives under
  * org.apache.spark because `SparkContext.checkpointDir` is
  * `private[spark]`: the public API can set a directory but not unset it. */
object CheckpointDirs {
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = graft.SparkSpec.spark.sparkContext
    val prior = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prior
  }
}
