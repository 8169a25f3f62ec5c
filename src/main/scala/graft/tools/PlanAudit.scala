package graft.tools

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, GlobalLimitExec, InputAdapter, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev-only plan auditor: prints a condensed formatted plan per query and
  * flags scale smells (cartesian products, filters that never reached the
  * parquet scan, single-partition exchanges that aren't a final global
  * aggregate). The checks walk the physical plan tree — string matching
  * the formatted plan is unreliable (e.g. the literal "PushedFilters: []"
  * itself contains "Filter", which made the old heuristic tautological). */
object PlanAudit {

  /** Peel codegen/columnar wrappers so structural checks see the
    * logical shape of the physical tree. */
  private def strip(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => strip(w.child)
    case i: InputAdapter          => strip(i.child)
    case c: ColumnarToRowExec     => strip(c.child)
    case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
    case other                    => other
  }

  /** A FilterExec sitting directly on a file scan that pushed NOTHING:
    * the predicate is on raw scan columns yet never reached parquet. */
  def hasUnpushedFilter(p: SparkPlan): Boolean = strip(p) match {
    case f: FilterExec =>
      strip(f.child) match {
        case s: FileSourceScanExec if s.metadata.get("PushedFilters").contains("[]") => true
        case c => hasUnpushedFilter(c)
      }
    case other => other.children.exists(hasUnpushedFilter)
  }

  /** A shuffle to ONE partition whose input is provably row-bounded:
    * a PARTIAL-mode GLOBAL aggregate (one row per task — the map side
    * of a final global agg) or a per-task limit (≤ k rows per task).
    * Anything else funnels real data through one task. The round-5
    * exemption accepted ANY BaseAggregateExec child, which let a final
    * per-key aggregate — |distinct keys| rows through one task — pass
    * the audit (q113's old global-window shape). */
  private def boundedChild(c: SparkPlan): Boolean = c match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.forall(e => e.mode == Partial || e.mode == PartialMerge)
    case _: LocalLimitExec | _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
    case _ => false
  }

  def hasBadSinglePartition(p: SparkPlan): Boolean = strip(p) match {
    case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
      if (boundedChild(strip(e.child))) e.children.exists(hasBadSinglePartition)
      else true
    case other => other.children.exists(hasBadSinglePartition)
  }

  def smells(plan: SparkPlan): Seq[String] = Seq(
    if (plan.toString.contains("CartesianProduct")) Some("CARTESIAN") else None,
    if (hasUnpushedFilter(plan)) Some("NO-PUSHDOWN") else None,
    if (hasBadSinglePartition(plan)) Some("SINGLE-PARTITION") else None
  ).flatten

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local()
    val only = args.drop(1).toSet
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val executed = df.queryExecution.executedPlan
          val plan = executed.toString
          val ops = plan.linesIterator
            .map(_.replaceAll("#\\d+[L]?", "").trim)
            .filter(l => l.startsWith("+-") || l.startsWith(":") || l.startsWith("*"))
            .map(_.replaceAll("\\(\\d+\\)", "").split(" ").filter(_.nonEmpty).take(3).mkString(" "))
            .mkString(" | ")
          val sm = smells(executed)
          println(f"== $name%-28s ${if (sm.isEmpty) "ok" else sm.mkString(",")}")
          if (sm.nonEmpty || only.nonEmpty) println("   " + ops.take(2000))
        } catch { case e: Throwable => println(s"== $name EXPLAIN FAILED: ${e.getMessage.take(120)}") }
      }
    spark.stop()
  }
}
