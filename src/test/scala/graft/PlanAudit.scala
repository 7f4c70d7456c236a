package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Shared plan-metric helpers for PlanAuditSpec and ShuffleBudgetGen. */
object PlanAudit {

  /** Distinct ShuffleExchange operators in the final physical plan.
    * MUST be called with spark.sql.adaptive.enabled=false: under AQE the
    * executedPlan is an opaque AdaptiveSparkPlanExec leaf and the count
    * would read 0 for everything. ReusedExchangeExec deliberately not
    * counted — a reused exchange shuffles once. */
  def shuffleCount(df: DataFrame): Int = shuffleCount(df.queryExecution.executedPlan)

  def shuffleCount(plan: SparkPlan): Int = {
    require(!plan.getClass.getSimpleName.startsWith("AdaptiveSparkPlan"),
      "shuffleCount needs spark.sql.adaptive.enabled=false")
    plan.collect { case _: ShuffleExchangeExec => 1 }.sum
  }
}
