package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

object Planner {

  /** The one hook through which graft adds strategies and optimizer rules
    * to a session's `spark.experimental` lists: appends each one whose
    * class is not listed yet, under the lock of the session's
    * `ExperimentalMethods`, so threads racing through one session's first
    * queries add each entry once. */
  def register(spark: SparkSession, strategies: Seq[SparkStrategy] = Nil,
      rules: Seq[Rule[LogicalPlan]] = Nil): Unit = {
    val e = spark.experimental
    def missing[T](listed: Seq[T], add: Seq[T]) =
      add.filterNot(a => listed.exists(_.getClass == a.getClass))
    e.synchronized {
      e.extraStrategies ++= missing(e.extraStrategies, strategies)
      e.extraOptimizations ++= missing(e.extraOptimizations, rules)
    }
  }
}
