package c360bench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Catalyst facts about the final frame of an operation, read after it
  * ran: planning phase times and optimizer rule runs from the query's
  * `QueryPlanningTracker`, and the executed (post-AQE) plan's shuffle
  * exchanges and `graft.plans` operators. */
object PlanFacts extends AdaptiveSparkPlanHelper {
  def record(df: DataFrame, into: mutable.Map[String, Any]): Unit = {
    val qe = df.queryExecution
    val t = qe.tracker
    def phase(p: String): Double =
      t.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    into("plan.analysis_s") = phase(QueryPlanningTracker.ANALYSIS)
    into("plan.optimize_s") = phase(QueryPlanningTracker.OPTIMIZATION)
    into("plan.physical_s") = phase(QueryPlanningTracker.PLANNING)
    val rules = t.rules.values
    into("plan.rule_s") = rules.map(_.totalTimeNs).sum / 1e9
    into("plan.rule_runs") = rules.map(_.numInvocations).sum
    into("plan.rule_effective") = rules.map(_.numEffectiveInvocations).sum
    val plan: SparkPlan = qe.executedPlan
    into("plan.exchanges") = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
    }.size.toLong
    into("plan.graft_execs") = collectWithSubqueries(plan) {
      case p if p.getClass.getName.startsWith("graft.") => p
    }.size.toLong
  }
}
