package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into the `private[sql]` Column↔Expression converters — the standard
 * extension-library route for exposing custom Catalyst expressions as
 * `Column`s without registering SQL function names on every session
 * (Spark 4 wraps Column around ColumnNode, so `new Column(expr)` no longer
 * exists; `ExpressionUtils` is the supported internal seam).
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the listener bus so task-metrics listeners (ScaleBench) have
    * seen every completed task before counters are read — the bus posts
    * events asynchronously and `waitUntilEmpty` is `private[spark]`. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)

  /**
   * Eager localCheckpoint whose resulting plan carries MEASURED statistics
   * instead of the inherited cost-model estimate.
   *
   * `Dataset.localCheckpoint` deliberately copies the ORIGIN plan's
   * statistics onto the `LogicalRDD` it produces. For a frame built from
   * join/aggregate chains that estimate is a join-PRODUCT guess, off by
   * orders of magnitude: the bloom exact gate's survivor frame (a 2 MB,
   * 1.7k-row batch) estimated at ~189 TB, which drove
   * [[graft.core.ShuffleSizing]] to pin the whole session at its
   * 4096-partition max — every later shuffle of BOTH ingest nights ran
   * thousands of empty tasks (the q89 round-17 defect, resurfacing through
   * the gate's pin instead of a live join). The checkpoint has already
   * materialized every partition in the block manager, so the TRUE size is
   * sitting in the storage status — read it (driver-side metadata, no job)
   * and rebuild the `LogicalRDD` with it as origin stats. In-memory
   * UnsafeRow bytes over-count vs on-disk parquet, so downstream sizing
   * errs toward MORE partitions, never fewer.
   *
   * Falls back to the plain checkpoint when the plan shape or storage info
   * is unavailable (never worse than today's behavior).
   */
  def pinnedWithMeasuredStats(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withMeasuredStats(df.localCheckpoint(true))

  /**
   * [[pinnedWithMeasuredStats]] whose materializing action IS a row count.
   *
   * `Dataset.localCheckpoint(eager = true)` already runs one full job to
   * compute and cache every partition; callers that then need the pinned
   * frame's cardinality (gate survivor counts, audit-row inserts, the
   * probe's accepted count) paid a SECOND job re-scanning the cached
   * blocks — at the pipeline's small-batch scale each extra driver action
   * costs ~0.05–0.5 s of fixed orchestration (r21 PipelineProfile), and a
   * fully-gated night runs five such pin+count pairs. This mirrors the
   * eager-checkpoint internals (execute → copy rows → `localCheckpoint()`)
   * but materializes through `rdd.count()`, so the pin and the count are
   * ONE job: the count action computes and persists every partition, and
   * the end-of-job `doCheckpoint` hook finds all blocks cached exactly as
   * the eager path does. Semantically identical to
   * `(pinnedWithMeasuredStats(df), df.count())`.
   */
  def pinnedWithMeasuredStatsCounted(
      df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val (rdd, n) = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("localCheckpointCounted")) {
        val internalRdd = qe.executedPlan.execute().map(_.copy())
        internalRdd.localCheckpoint()
        (internalRdd, internalRdd.count())
      }
    val cp = org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, ds, isStreaming = false))
    (withMeasuredStats(cp), n)
  }

  private def withMeasuredStats(
      cp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    cp.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val session = cp.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        session.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          // an EMPTY pinned frame measures 0 — clamp to 1 byte, which is
          // still an honest "tiny" (join planning then broadcasts it,
          // exactly right), rather than falling back to the garbage origin
          // estimate
          .map(i => math.max(1L, i.memSize + i.diskSize)) match {
          case Some(bytes) =>
            // constraints pass through (lr.constraints resolves the origin
            // set) — dropping them would cost downstream IsNotNull
            // inference on every consumer of the pin
            val honest = lr.copy()(session,
              Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
                sizeInBytes = BigInt(bytes))),
              Some(lr.constraints))
            org.apache.spark.sql.classic.Dataset.ofRows(session, honest)
          case None => cp
        }
      case _ => cp
    }
  }
}
