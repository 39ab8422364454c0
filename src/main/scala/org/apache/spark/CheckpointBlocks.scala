package org.apache.spark

import org.apache.spark.rdd.RDD

/** Frees the blocks of a `localCheckpoint`ed RDD through
  * `SparkContext.unpersistRDD` (`private[spark]`): the same block removal
  * and listener event as `RDD.unpersist`, without its WARN that a locally
  * checkpointed RDD cannot be recomputed — the engine frees only
  * checkpoints it has proved unreferenced, so the warning is noise. */
object CheckpointBlocks {
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
