package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface: Column <-> Expression and
  * DataFrame <-> LogicalPlan conversion for registering native Catalyst
  * expressions and custom logical operators from the graft packages.
  * Lives under org.apache.spark.sql.* solely for visibility — the
  * standard pattern for out-of-tree Catalyst extensions. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A V1 source filter as the V2 predicate Spark itself would push. */
  def toV2(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.connector.expressions.filter.Predicate = f.toV2

  /** The analyzed logical plan behind a DataFrame. */
  def plan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
      .queryExecution.analyzed

  /** Wrap a (resolved) logical plan back into a DataFrame. */
  def dataFrame(spark: SparkSession, p: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], p)

  /** Cancel every active job carrying `tag`; returns once the scheduler
    * has failed them (SparkContext.cancelJobsWithTag only posts the
    * request). */
  def cancelJobsWithTag(sc: org.apache.spark.SparkContext, tag: String): Unit =
    scala.concurrent.Await.ready(
      sc.cancelJobsWithTagWithFuture(tag, "transient scope released"),
      scala.concurrent.duration.Duration.Inf)

  /** Unpersist the block-store data behind a locally-checkpointed
    * DataFrame (LogicalRDD). localCheckpoint truncates lineage, so its
    * blocks are otherwise freed only when the ContextCleaner notices
    * the RDD is garbage — under a benchmark loop the residue of one
    * query evicts the next query's working set (measured: q117's stage
    * checkpoints inflating its sf3 bench neighbors 2-6x). Callers must
    * guarantee the frame (and anything sharing its RDD) is CONSUMED —
    * a freed local checkpoint cannot recompute. Only the plan ROOT is
    * matched: a derived frame (filter/join over a checkpoint) is a
    * guaranteed no-op, so shared or session-memoized checkpoints buried
    * inside a caller's plan can never be freed by accident. */
  /** A locally-checkpointed frame whose size estimate is capped at
    * Long.MaxValue (Spark's "unknown size"). A checkpoint carries its
    * source plan's estimate, and a join's estimate is the PRODUCT of its
    * inputs', so a loop that joins each round's checkpoint with itself
    * multiplies the estimate's digit count every round: past ~20 rounds
    * the BigInt arithmetic alone took minutes per round. Any estimate
    * above the cap already loses every size-based planning choice, so
    * the cap changes no plan. Frames whose root is not a checkpoint are
    * returned as they are. */
  def boundStats(df: DataFrame): DataFrame =
    plan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
        if lr.computeStats().sizeInBytes > Long.MaxValue =>
        dataFrame(df.sparkSession, lr.copy()(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = BigInt(Long.MaxValue))),
          Some(lr.constraints)))
      case _ => df
    }

  def freeCheckpoint(df: DataFrame): Unit =
    plan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
