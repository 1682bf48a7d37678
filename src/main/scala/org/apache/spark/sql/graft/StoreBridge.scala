package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/**
 * Drops the blocks of a locally checkpointed RDD. `RDD.unpersist` does the
 * same but first logs that the RDD "cannot be recomputed after
 * unpersisting" — true of every local checkpoint, so the line says nothing
 * when the caller owns the frame's lifetime (`graft.Stored`). The
 * removal itself (`SparkContext.unpersistRDD`) is spark-private, hence
 * this shim package.
 */
object StoreBridge {
  def dropCheckpoint(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
