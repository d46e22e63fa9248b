package org.apache.spark

/** Test-only hatch into the private[spark] checkpoint dir: SparkContext
  * has `setCheckpointDir` but no way back to "unset", and a shared test
  * context left with a dir would switch every later suite's lineage cuts
  * to durable checkpoints. */
object CheckpointDirHatch {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
