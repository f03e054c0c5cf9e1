package perfbench

import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Counts of the physical operators that decide how much data moves:
  * shuffles, broadcasts, joins and whole-stage-codegen stages. The walk
  * descends into adaptive query stages, so it sees the plan that ran. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): Map[String, Long] = {
    def n(pf: PartialFunction[SparkPlan, Unit]): Long = collectWithSubqueries(plan)(pf).size.toLong
    Map(
      "exchanges" -> n { case _: ShuffleExchangeLike => },
      "broadcasts" -> n { case _: BroadcastExchangeLike => },
      "joins" -> n { case _: BaseJoinExec => },
      "codegen_stages" -> n { case _: WholeStageCodegenExec => })
  }
}
