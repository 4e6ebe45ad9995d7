package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.storage.RDDBlockId

/** Bridge for building a public [[Column]] from a Catalyst [[Expression]] —
  * the constructor became private[sql] in Spark 4 (Column is backed by
  * ColumnNode). Standard pattern for libraries shipping native expressions.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's Hadoop configuration as a serializable closure for
    * executor-side FileSystem work (`SerializableConfiguration` is
    * private[spark]; this package sees it). Without it an executor task
    * building `new Configuration()` silently drops every
    * `spark.hadoop.*` setting — object-store credentials, custom fs
    * implementations — that the driver-side path honors. */
  def serializableHadoopConf(
      spark: SparkSession): () => org.apache.hadoop.conf.Configuration = {
    val sc = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    () => sc.value
  }

  /** Rebuild every [[execution.LogicalRDD]] leaf of `df`'s plan without its
    * `originConstraints`/`originStats`. A `localCheckpoint` keeps the origin
    * plan's constraints on the new leaf, but self-join deduplication
    * (`DeduplicateRelations` → `newInstance()`) re-IDs the leaf's output
    * while those constraints keep the OLD expression ids — any later
    * `Union` over the deduplicated side then dies in `rewriteConstraints`
    * with `key not found: <stale attr>`. Iterative operators that
    * checkpoint per round and self-join the result (label propagation's
    * pointer jump) hit this deterministically, so their checkpoints must
    * shed the origin constraints; the only cost is weaker
    * constraint-inference on top of an already-materialized leaf.
    *
    * With `onePartition`, a leaf whose RDD has exactly one partition is
    * declared `SinglePartition`, with its stored size as its statistics.
    * The checkpoint would otherwise report `UnknownPartitioning` (an
    * adaptive plan does not expose its final partitioning), and every
    * aggregate or sort over it would plan a shuffle exchange just to
    * redistribute rows that already sit in one partition. The size lets
    * a join broadcast a small side at planning: two `SinglePartition`
    * sides of a sort-merge join are still shuffled, as neither can
    * create a partitioning for the other. */
  def dropCheckpointConstraints(df: DataFrame, onePartition: Boolean = false): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val session = cdf.sparkSession
    // NOT plan.transform: the rebuilt leaf differs only in the SECOND
    // constructor parameter list, which case-class equality ignores, so
    // transformDown's fastEquals check would silently keep the original
    // node. A checkpoint's plan is the LogicalRDD root itself — match it.
    val plan = cdf.queryExecution.analyzed match {
      case lr: execution.LogicalRDD if onePartition && lr.rdd.getNumPartitions == 1 =>
        // the block's stored size, as the block manager master recorded it
        // when the checkpoint's task stored it
        val stored = SparkEnv.get.blockManager.master
          .getBlockStatus(RDDBlockId(lr.rdd.id, 0), askStorageEndpoints = false)
          .values.map(b => b.memSize + b.diskSize).foldLeft(0L)(math.max)
        new execution.LogicalRDD(lr.output, lr.rdd, catalyst.plans.physical.SinglePartition,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          session, Some(catalyst.plans.logical.Statistics(sizeInBytes = stored)), None)
      case lr: execution.LogicalRDD =>
        new execution.LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(session, None, None)
      case other => other
    }
    classic.Dataset.ofRows(session, plan)
  }

  /** Block until the listener bus has delivered every event posted so far
    * (`waitUntilEmpty` is private[spark]); action callbacks of a
    * `QueryExecutionListener` ride the same bus. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
