package graft

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization policy (SURVEY.md §7.4.3): a frame
  * read more than once, or a loop round whose lineage must be cut, goes
  * through [[apply]]; a read cache filled by its first reader goes through
  * [[onFirstRead]].
  *
  * EAGER CHECKPOINT, not persist(): a cached subtree is compiled without
  * adaptive execution (AQE leaves InMemoryRelation plans alone), which
  * costs an expensive upstream join its runtime broadcast/skew rewrites —
  * measured 3x on the n-gram pair pipeline at sf0.1. The checkpoint runs
  * the SAME single execution (with AQE), every later read scans the
  * materialized blocks, and the returned plan is a constant-size leaf, so
  * iterative loops do not re-analyze a plan that doubles per round.
  *
  * Reliable vs local: when the session has a checkpoint dir
  * (`sparkContext.setCheckpointDir`), the frame is written there with a
  * reliable `checkpoint()` and survives executor loss. Otherwise it is a
  * `localCheckpoint()`: executor-local blocks, no filesystem round-trip,
  * but a lost block fails every later read of the frame loudly (it is
  * never recomputed). Nothing else — no config key, no parameter —
  * chooses between the two. [[onFirstRead]] is always local. */
object Materialize {

  def apply[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()

  /** A read cache of `ds`: a local checkpoint on disk that the first job
    * reading the frame fills, and that every later read scans as a
    * lineage-free leaf — one stage, with none of `ds`'s shuffles behind it.
    * Building the frame runs no job.
    *
    * `ds` is planned with adaptive execution off. Adaptive execution runs
    * a plan's shuffle-map stages as soon as its RDD is built, so even a
    * lazy checkpoint of a shuffling plan would run them here. The
    * session's setting is restored (or unset again) before this returns;
    * later reads of the frame are planned with it. `ds` must not have been
    * planned already: its existing physical plan would be used.
    *
    * Always executor-local, even under a checkpoint dir: the rows are a
    * cache of data that is durable elsewhere, and reliable files would
    * outlive the read they serve. So a lost block fails every later read
    * of the frame loudly; it is never recomputed, and the caller rebuilds
    * the frame. [[release]] frees the blocks, filled or not. */
  def onFirstRead[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val key = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "false")
    try ds.localCheckpoint(eager = false, StorageLevel.DISK_ONLY)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Free what a frame returned by [[apply]] or [[onFirstRead]] holds, once
    * nothing reads it any more: a reliable checkpoint's files (Spark deletes
    * them only under `spark.cleaner.referenceTracking.cleanCheckpoints`, off
    * by default) and a local checkpoint's blocks (the ContextCleaner frees
    * those only once the RDD is garbage-collected on the driver, which a
    * long-lived session may not do for a while). A no-op for any frame that
    * is not itself a checkpoint (a plan built on one keeps its source's
    * data, and a `createDataFrame(rdd)` frame's RDD is the caller's).
    * Best-effort: a failed delete is ignored. Logs nothing: the blocks are
    * dropped through [[ListenerFlush.unpersistQuietly]]. */
  def release(ds: Dataset[_]): Unit = checkpointOf(ds).foreach(release)

  /** The RDD a frame returned by [[apply]] or [[onFirstRead]] reads, for a
    * holder that must not keep the frame itself (a frame pins its
    * session); [[release]] takes it in place of the frame. */
  private[graft] def checkpointOf(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** [[release]] of a frame, by the RDD it reads. A no-op for an RDD that
    * is neither checkpointed nor marked for a local checkpoint; an unread
    * [[onFirstRead]] frame is only marked. */
  private[graft] def release(rdd: RDD[_]): Unit =
    if (rdd.isCheckpointed || ListenerFlush.isLocallyCheckpointed(rdd)) {
      rdd.getCheckpointFile.foreach { file =>
        scala.util.Try {
          val path = new org.apache.hadoop.fs.Path(file)
          path.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(path, true)
        }
      }
      // not rdd.unpersist: it warns on every local checkpoint
      ListenerFlush.unpersistQuietly(rdd.sparkContext, rdd.id, blocking = false)
    }
}
