package graft

import org.apache.spark.sql.functions._
import graft.plans.{Planner, RangeJoinRule}

/** The optimizer-level range-join rewrite: with a bucket width configured,
  * a pure inequality join must plan as a hash join (bucket equality
  * injected) with results identical to the nested-loop plan. */
class RangeJoinRuleSpec extends SparkSpec {

  private def fixtures = {
    import spark.implicits._
    val pts = Seq((1L, 0.5), (2L, 3.0), (3L, 7.99), (4L, 8.0), (5L, 12.0),
      (6L, -2.0), (7L, 100.5)).toDF("pid", "p")
    val iv = Seq((10L, 0.0, 8.0), (20L, 7.5, 9.5), (30L, -3.0, -1.0),
      (40L, 100.0, 101.0)).toDF("iid", "lo", "hi")
    (pts, iv)
  }

  test("rewrite produces a hash join with identical results") {
    import spark.implicits._
    val (pts, iv) = fixtures
    val expected = pts.join(iv, $"p" >= $"lo" && $"p" <= $"hi")
      .select("pid", "iid").as[(Long, Long)].collect().toSet

    Planner.register(spark, rules = Seq(RangeJoinRule))
    spark.conf.set(RangeJoinRule.WidthConf, "4.0")
    try {
      val joined = pts.join(iv, $"p" >= $"lo" && $"p" <= $"hi")
      val got = joined.select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got === expected)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    } finally spark.conf.set(RangeJoinRule.WidthConf, "0")
  }

  test("rewrite handles flipped comparisons and strict bounds") {
    import spark.implicits._
    val (pts, iv) = fixtures
    Planner.register(spark, rules = Seq(RangeJoinRule))
    spark.conf.set(RangeJoinRule.WidthConf, "2.5")
    try {
      val joined = pts.join(iv, $"lo" <= $"p" && $"p" < $"hi")
      val got = joined.select("pid", "iid").as[(Long, Long)].collect().toSet
      spark.conf.set(RangeJoinRule.WidthConf, "0")
      val expected = pts.join(iv, $"lo" <= $"p" && $"p" < $"hi")
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got === expected)
    } finally spark.conf.set(RangeJoinRule.WidthConf, "0")
  }

  test("equi-joins and non-bracket joins are left untouched") {
    import spark.implicits._
    val (pts, iv) = fixtures
    Planner.register(spark, rules = Seq(RangeJoinRule))
    spark.conf.set(RangeJoinRule.WidthConf, "4.0")
    try {
      // equality conjunct present -> no rewrite (no __graft_bucket in plan)
      val equi = pts.join(iv, $"pid" === $"iid" && $"p" <= $"hi")
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft_bucket"))
      // one-sided bound only -> no rewrite
      val half = pts.join(iv, $"p" >= $"lo")
      assert(!half.queryExecution.optimizedPlan.toString.contains("__graft_bucket"))
      assert(half.count() === pts.join(iv, $"p" >= $"lo").count())
    } finally spark.conf.set(RangeJoinRule.WidthConf, "0")
  }
}
