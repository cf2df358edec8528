package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest / as-of join helpers (SURVEY §2.2 P5, §2.3 J4, §2.4 A3 — the
  * reference's `argmin(abs(value - axis))` nearest-sample semantics,
  * `fdf/fdf_signal.py:296-299`, and the plot-time nearest-time join,
  * `fdf/modules/mpts/plot.py:44-51`).
  *
  * Tie-breaking replicates numpy argmin: the FIRST minimum wins, realized
  * as (|diff| asc, right-time asc) — deterministic under any partitioning.
  *
  * Scale: both forms are equi-joins on the partition keys followed by a
  * per-key window — shuffle on the keys only, no range cross-product. For
  * sorted co-bucketed tables Spark plans SMJ + window over the same
  * exchange; broadcast the probe side when it is small.
  */
object AsOf {

  /** For each left row, attach the right row whose `rightOn` is nearest
    * to `leftOn`, matching per equality `keys`. direction: "nearest",
    * "backward" (right <= left), or "forward" (right >= left).
    * `rightTie` (when given) breaks ties among right rows sharing the same
    * `rightOn` value — without it the pick among exact duplicates is
    * plan-dependent. */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftOn: String, rightOn: String,
      keys: Seq[String],
      direction: String = "nearest",
      tolerance: Option[Double] = None,
      rightTie: Option[String] = None): DataFrame = {
    // one window partition per LEFT ROW (not per key): each probe picks its
    // own nearest match even when probes share keys
    val l = keys.foldLeft(left.withColumn("__lid", monotonically_increasing_id()))(
      (df, k) => df.withColumnRenamed(k, s"__k_$k"))
    val joinCond = keys.map(k => l(s"__k_$k") === right(k)).reduce(_ && _)
    val joined = l.join(right, joinCond)
    val diff = right(rightOn) - l(leftOn)
    val directed = direction match {
      case "nearest" => joined
      case "backward" => joined.where(diff <= 0)
      case "forward" => joined.where(diff >= 0)
      case other => throw new IllegalArgumentException(s"direction: $other")
    }
    val bounded = tolerance.fold(directed)(t => directed.where(abs(diff) <= t))
    val w = Window.partitionBy(col("__lid"))
      .orderBy(Seq(abs(diff).asc, right(rightOn).asc) ++
        rightTie.map(t => right(t).asc): _*)
    val picked = bounded.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
    keys.foldLeft(picked.drop("__rn", "__lid"))((df, k) =>
      df.drop(right(k)).withColumnRenamed(s"__k_$k", k))
  }

  /** Rows of `df` at the sample of `on` nearest to `value`, per group
    * `keys` — `sig(time=0.25)` point slicing. One partial-aggregated
    * min(struct(diff, on)) pass, then a semi-join-like filter; no window
    * over the full data. The struct is computed in a `select` below the
    * `groupBy`, not inside the aggregate: there `value` sits in a project
    * that `graft.plans.ParamLiteralsStrategy` binds as a parameter, so
    * every point shares one generated class instead of compiling its own
    * (in the aggregate's own code the constant would be inlined). */
  def nearest(df: DataFrame, on: String, value: Double,
      keys: Seq[String]): DataFrame = {
    val target = df
      .select(keys.map(col) :+ struct(abs(col(on) - value).as("d"), col(on).as("v")).as("__dv"): _*)
      .groupBy(keys.map(col): _*)
      .agg(min(col("__dv")).getField("v").as("__near"))
    df.join(target, keys).where(col(on) === col("__near")).drop("__near")
  }
}
