package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}

/** `Dataset.ofRows` is private[sql]; libraries that build Dataframes from
  * rewritten LogicalPlans (Delta, Sedona, ...) use a package shim like this.
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Check a plan that is already resolved once, and mark it analyzed so
    * `ofRows` (and any later analysis) takes it as it is instead of running
    * the analyzer's fixed point over it again. Throws the analyzer's own
    * error for an invalid plan: nothing unchecked is returned.
    */
  def checkedAnalyzed(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    spark.sessionState.analyzer.checkAnalysis(plan)
    plan.setAnalyzed()
    plan
  }

  /** Column <-> Catalyst bridges (Spark 4 split the public Column from its
    * expression; these go through the classic session's converters).
    */
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)

  /** SQL text of a column's expression — used to splice columns into
    * higher-order-function `expr(...)` strings.
    */
  def sqlOf(c: Column): String = ExpressionUtils.expression(c).sql

  /** Release the storage blocks behind a `localCheckpoint`'d frame NOW.
    * `Dataset.unpersist` only talks to the cache manager, but a local
    * checkpoint persists the frame's INTERNAL RDD directly — so for a
    * checkpointed frame `df.unpersist()` is a silent no-op and the blocks
    * live until ContextCleaner GC (the r16 components-spec finding).
    *
    * CONTRACT — the frame must be FULLY SUPERSEDED: a local checkpoint
    * truncates lineage, so once its blocks are gone any still-live frame
    * scanning the same RDD fails unrecoverably at its next action.
    * Callers materialize every successor (eager checkpoint of the follow-up
    * frame, or a completed action) BEFORE releasing the predecessor. To
    * keep that contract visible at the call site, this accepts ONLY the
    * checkpoint frame itself — the plan must BE the checkpoint scan
    * (`LogicalRDD` leaf); a derived frame is left alone (no-op) rather
    * than reached into, so a shared upstream checkpoint can never be
    * released through an unrelated derived handle.
    */
  def unpersistCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking)
      case _ => ()
    }
}
