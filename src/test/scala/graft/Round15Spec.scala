package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** The default plan shapes of two measured choices stay pinned: the PPJoin
  * candidate self-join is a broadcast hash join, and the item-CF
  * co-occurrence reduce is a single-phase groupBy with no salt column. */
class Round15Spec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("default shapes: PPJoin candidates join by broadcast, item-CF co-counts are single-phase") {
    import spark.implicits._
    val pairs = graft.operators.Dedup.ngramJaccardOn(
      graft.operators.TextOps.docsParallel(spark, sfDir), 0.6)
    pairs.write.format("noop").mode("overwrite").save() // finalize under AQE
    val plan = pairs.queryExecution.executedPlan
    // the candidate self-join is the one whose residual condition applies
    // the positional filter (the prefix ranks `__rk`)
    val candidateJoins = collect(plan) {
      case j: BroadcastHashJoinExec
          if j.condition.exists(_.references.exists(_.name == "__rk")) => j
    }
    assert(candidateJoins.nonEmpty, plan)

    val inter = graft.sources.Tables.lineitem(spark, sfDir)
      .join(graft.sources.Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("custkey"), $"l_suppkey".as("suppkey"))
      .distinct()
    val co = graft.operators.Graph.itemCfCoCounts(inter)
    assert(!co.queryExecution.optimizedPlan.toString.contains("__salt"))
  }
}
