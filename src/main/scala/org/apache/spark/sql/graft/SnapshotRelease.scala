package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Releases the blocks of a locally checkpointed RDD. `RDD.unpersist`
  * logs a WARN on every such call (the truncated lineage cannot be
  * recomputed); an owner that drops a snapshot it no longer reads knows
  * that, so the release goes through `SparkContext.unpersistRDD`, which is
  * private[spark] and hence reached from this package. It is the call the
  * ContextCleaner makes for an unreferenced RDD: the blocks go and the RDD
  * leaves `getPersistentRDDs`. */
object SnapshotRelease {
  def apply(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
