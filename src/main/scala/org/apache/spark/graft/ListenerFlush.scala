package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** The `private[spark]` doorways the engine needs. Lives in an
  * `org.apache.spark` subpackage solely to reach them; no other internals
  * are touched.
  *
  *  - [[flush]]: listener events are delivered asynchronously, so
  *    [[graft.QueryMetrics]] counts a block's jobs and stages only after
  *    the bus drains (`SparkContext.listenerBus`). The wait has a fixed
  *    bound of 60 s.
  *  - [[unpersistQuietly]]: `RDD.unpersist` logs a WARN for every locally
  *    checkpointed RDD ("cannot be recomputed after unpersisting") before
  *    it calls `SparkContext.unpersistRDD`. For [[graft.Materialize]]'s
  *    release that loss is the point, so it calls `unpersistRDD` directly:
  *    the same block removal, without the warning. The RDD keeps its
  *    storage-level field, which changes nothing for a checkpoint: a read
  *    after release fails on the missing blocks either way.
  *  - [[isLocallyCheckpointed]]: whether an RDD is marked for a local
  *    checkpoint (what `private[rdd] RDD.isLocallyCheckpointed` tells).
  *    `RDD.isCheckpointed` turns true only once a job has filled the
  *    blocks, so [[graft.Materialize.release]] needs this to free a lazy
  *    checkpoint that was never read. */
object ListenerFlush {
  def flush(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def unpersistQuietly(sc: SparkContext, rddId: Int, blocking: Boolean): Unit =
    sc.unpersistRDD(rddId, blocking)

  def isLocallyCheckpointed(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
