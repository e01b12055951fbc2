package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one eager-materialization policy (SURVEY.md §7.4.3): a
  * frame read more than once, or a loop round whose lineage must be cut,
  * goes through [[apply]].
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
  * chooses between the two. */
object Materialize {

  def apply[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()

  /** Free what a frame returned by [[apply]] holds, once nothing reads it
    * any more: a reliable checkpoint's files (Spark deletes them only under
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, off by default) and
    * a local checkpoint's blocks (the ContextCleaner frees those only once
    * the RDD is garbage-collected on the driver, which a long-lived session
    * may not do for a while). A no-op for any frame that is not itself a
    * checkpoint (a plan built on one keeps its source's data). Best-effort:
    * a failed delete is ignored. Logs nothing: the blocks are dropped
    * through [[org.apache.spark.graft.ListenerFlush.unpersistQuietly]]. */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed =>
        r.rdd.getCheckpointFile.foreach { file =>
          scala.util.Try {
            val path = new org.apache.hadoop.fs.Path(file)
            path.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration)
              .delete(path, true)
          }
        }
        // not r.rdd.unpersist: it warns on every local checkpoint
        org.apache.spark.graft.ListenerFlush
          .unpersistQuietly(r.rdd.sparkContext, r.rdd.id, blocking = false)
      case _ => ()
    }
}
