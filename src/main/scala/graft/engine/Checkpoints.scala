package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle helpers for eager `localCheckpoint` frames used inside
  * iteration loops (label propagation, Lloyd rounds).
  *
  * `Dataset.unpersist()` only reaches CacheManager entries; the blocks
  * behind a `localCheckpoint` belong to the checkpointed RDD, which is
  * reachable only through the plan's [[LogicalRDD]] leaf. An iterative
  * operator that checkpoints per round MUST release each superseded
  * round's blocks, or they accumulate in the block manager for the life
  * of the session — enough leaked blocks measurably slow every LATER
  * query in the same JVM (observed at sf0.1: four untouched queries
  * regressing 3–4× after one leaky loop ran first).
  *
  * Contract: a frame returned by [[mark]] is OWNED by whoever holds the
  * reference; pass it to [[release]] exactly once, after which the frame
  * (and anything lazily derived from it) must not be evaluated again —
  * the checkpoint removed its lineage, so there is nothing to recompute
  * from.
  */
object Checkpoints {

  /** Eagerly localCheckpoint `df`: truncates lineage and materializes the
    * result once, so loops that re-reference it never re-execute its
    * upstream DAG. The checkpoint's origin constraints are dropped —
    * they carry stale expression ids through self-join deduplication and
    * break Union constraint rewriting (see
    * [[org.apache.spark.sql.GraftShims.dropCheckpointConstraints]]).
    * Under the small-input gate ([[graft.sources.Fanout.enabled]]) a
    * one-partition checkpoint is declared `SinglePartition`, so a query
    * over it plans no shuffle exchange, as over a one-partition scan
    * ([[graft.sources.Tables]]). */
  def mark(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftShims.dropCheckpointConstraints(
      df.localCheckpoint(eager = true),
      onePartition = graft.sources.Fanout.enabled(df.sparkSession))

  /** [[mark]] several INDEPENDENT frames concurrently (guide §2.6 —
    * actions are only sequential because the driver calls them
    * sequentially): each eager checkpoint is a separate job whose tail
    * leaves most of the executor idle, so independent materializations
    * submitted from a small thread pool back-fill each other. Only for
    * frames with no data dependency between them; results are returned
    * in argument order and each is owned by the caller exactly as with
    * [[mark]]. */
  def markAll(dfs: DataFrame*): Seq[DataFrame] =
    if (dfs.lengthCompare(1) <= 0) dfs.map(mark)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      dfs.map(df => Future(mark(df))).map(Await.result(_, Duration.Inf))
    }

  /** Release the block-manager storage behind a frame produced by
    * [[mark]]. Safe no-op for frames with no checkpointed leaf.
    *
    * Unpersists EVERY checkpointed leaf in the plan, so the argument must
    * be a frame whose checkpointed leaves are ALL owned by the caller —
    * normally a frame returned by [[mark]] (exactly one leaf), or a
    * derivation whose only marked inputs the caller owns. Passing a frame
    * derived from a still-shared checkpoint (e.g. a join of an owned and
    * a session-cached marked frame) would release blocks another owner
    * still needs — don't. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _              => ()
    }
}
