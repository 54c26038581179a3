package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** graft's physical planning: the [[DriverAggregate]] strategy, and one
  * `ColumnarRule` whose `preColumnarTransitions` runs [[HoistLiterals]]
  * and then [[DriverRead]] (so a driver-side read evaluates the hoisted
  * literals). GraftExtensions and GraftSession.builder both install
  * them through here. */
object PhysicalRules {
  def install(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => DriverAggregate)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
        override def apply(plan: SparkPlan): SparkPlan = DriverRead(HoistLiterals(plan))
      }
    })
  }
}
