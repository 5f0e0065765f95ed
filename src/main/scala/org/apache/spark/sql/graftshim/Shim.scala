package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/**
 * Minimal bridge into `private[sql]` surface: building a DataFrame from a
 * custom LogicalPlan (`Dataset.ofRows`) has no public equivalent, so — like
 * other open-source Spark extensions — this lives under the
 * `org.apache.spark.sql` package solely to call it. Nothing else belongs
 * here; all engine code stays in `graft.*`.
 */
object Shim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Column ⇄ catalyst Expression bridges (`ExpressionUtils` is
    * `private[sql]`): lets graft operators wrap a custom Expression as a
    * usable Column without registering a SQL function. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Block until every queued listener event is delivered
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`) — probes that
    * gate on listener-counted evidence (tools/ChaosRetry's stage-retry
    * counter) must drain the async bus before reading. Diagnostic-only. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Drop the block-manager storage behind a LOCAL-CHECKPOINTED Dataset
    * (`LogicalRDD` is `private[sql]`). A localCheckpoint's blocks ARE its
    * data — lineage is truncated, so unpersisting makes the frame
    * unrecomputable. Callers may therefore only free a GENERATION THEY
    * HAVE FINISHED READING and will never touch again: the iterative-
    * trainer pattern, where round r's eager checkpoint supersedes round
    * r−1's and the old blocks would otherwise pile up for the whole
    * train (N generations of corpus-sized storage — measured GC/evict
    * stalls on the 100× corpus). Blocking=false: cleanup, not a barrier. */
  def freeLocalCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** A real FetchFailedException naming (shuffleId, mapIndex 0) on THIS
    * JVM's block manager (`FetchFailedException` is `private[spark]`).
    * MUST be constructed inside a running task — the constructor registers
    * itself with the active TaskContext so the scheduler sees a fetch
    * failure, not a user exception. Diagnostic-only (tools/ChaosRetry's
    * map-stage-resubmission probe). */
  def fetchFailed(shuffleId: Int): Throwable =
    new org.apache.spark.shuffle.FetchFailedException(
      org.apache.spark.SparkEnv.get.blockManager.blockManagerId,
      shuffleId, 0L, 0, 0, "chaos: injected fetch failure", null)
}
