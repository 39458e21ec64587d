package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-truncation staging for iterative operators, plus the release
  * valve for the blocks behind it.
  *
  * [[stage]] is the single choke point every iterative operator (BPE
  * training, connected components, sketch/band tables) checkpoints
  * through. Default mode is `localCheckpoint()` — fastest, blocks live on
  * executors, but executor loss forfeits the partial result and forces
  * the query to fail. For cluster runs where that matters, flip the
  * session conf `graft.checkpoint.reliable=true` (with
  * `sparkContext.setCheckpointDir` on fault-tolerant storage) and every
  * operator routes through reliable `checkpoint()` instead — same
  * labels, spec-pinned (ReliableCheckpointSpec). See PLANS.md
  * ("checkpoint modes") for when to flip it.
  */
object Checkpoints {

  /** Session-conf key selecting reliable `checkpoint()` over
    * `localCheckpoint()` in [[stage]]. */
  val ReliableKey = "graft.checkpoint.reliable"

  /** Truncate `df`'s lineage by materializing it, per the session's
    * checkpoint mode. Reliable mode fails loudly up front if no
    * checkpoint dir is set — Spark's own error surfaces mid-job with an
    * opaque message. */
  def stage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get(ReliableKey, "false").toBoolean) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires sparkContext.setCheckpointDir(...) on fault-tolerant storage")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Chaining form of [[stage]] so call sites read like the
    * `localCheckpoint()` they replace. */
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def stageCheckpoint(): DataFrame = Checkpoints.stage(df)
  }

  /** Drop the cached blocks behind a `localCheckpoint()`ed frame.
    *
    * `Dataset.unpersist()` only talks to the cache manager, so the blocks
    * behind a local checkpoint (an eagerly persisted RDD wrapped in a
    * [[LogicalRDD]]) outlive the frame until the context dies; iterative
    * operators that checkpoint per round would otherwise accumulate one
    * dead copy of their state per round. No-op on any frame that is not
    * a bare checkpoint (the match is deliberately narrow: freeing must
    * never touch a frame that still has lineage to recompute from).
    * Under reliable mode the unpersist is a harmless no-op (partitions
    * live as files, not blocks); the files themselves are reclaimed by
    * Spark's ContextCleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, or with the
    * checkpoint dir's lifecycle. */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }

  /** [[free]] every checkpoint that `df`'s plan reads: the release for an
    * eager operator's result (e.g. [[HeavyHitters.exactPerGroup]]) whose
    * staged tables outlive the call, once that result has been written.
    * Only checkpointed RDDs are touched; any other leaf keeps its blocks. */
  def freeAll(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case lr: LogicalRDD if lr.rdd.isCheckpointed => lr.rdd.unpersist(blocking = false)
    case _                                       => ()
  }
}
