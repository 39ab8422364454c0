package org.apache.spark

import org.apache.spark.internal.config
import org.apache.spark.util.collection.ExternalSorter

/** Spark's reduce-side sort (`ExternalSorter`, `private[spark]`), run the
  * way `BlockStoreShuffleReader` runs it for a shuffle with a key ordering:
  * `insertAllAndUpdateMetrics` (spills and peak memory land in the task's
  * metrics; the sorter stops on task completion) under the default
  * serializer. */
object ShuffleSort {
  def sorted[K: Ordering](records: Iterator[K]): Iterator[K] = {
    val sorter = new ExternalSorter[K, Unit, Unit](TaskContext.get(),
      ordering = Some(implicitly[Ordering[K]]))
    sorter.insertAllAndUpdateMetrics(records.map(k => (k, ()))).map(_._1)
  }

  /** `spark.shuffle.spill.initialMemoryThreshold`: the estimated bytes a
    * sorter buffers before it first asks for execution memory (and, if
    * refused, spills). */
  def initialMemoryThreshold: Long =
    SparkEnv.get.conf.get(config.SHUFFLE_SPILL_INITIAL_MEM_THRESHOLD)
}
