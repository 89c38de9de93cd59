package org.apache.spark

/** Test access to the SparkContext checkpoint directory, which Spark can
  * set but not unset. A spec that points it at a temp directory clears it
  * afterwards, so later reliable checkpoints in the shared session do not
  * recreate the deleted directory.
  */
object CheckpointDirs {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
