package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** Drops a persisted RDD's blocks and its persistent-RDD entry — what
  * `RDD.unpersist` does, without the warning it logs for every locally
  * checkpointed RDD (that its lineage is truncated: true of every local
  * checkpoint, so the line says nothing). `SparkContext.unpersistRDD` is
  * `private[spark]`, hence the package. */
object RddRelease {
  def apply(rdd: RDD[_], blocking: Boolean = false): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
