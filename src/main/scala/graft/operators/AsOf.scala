package graft.operators

import org.apache.spark.sql.DataFrame
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
  * Scale: `asofJoin` is an equi-join on the partition keys followed by a
  * per-left-row window — shuffle on the keys only, no range
  * cross-product; broadcast the probe side when it is small. `nearest`
  * joins nothing: it is one per-key window over the frame itself, in one
  * partition.
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
    * `keys` — `sig(time=0.25)` point slicing. Returns the columns `keys`
    * then the other columns of `df` in their order.
    *
    * One per-key window: each row carries struct(|on − value|, on), and
    * the rows whose `on` is the `v` of the group's `min` struct over the
    * window are the answer — the nearest sample, and the smaller one of
    * two at the same distance (numpy's first minimum on a sorted axis),
    * with every row at that sample (the other axes' fan-out). Samples
    * whose `on` is null are no candidates: a null struct field sorts
    * first and would win the min. The struct is computed in a `select`
    * below the window: there `value` sits in a project that
    * `graft.plans.ParamLiteralsStrategy` binds as a parameter, so every
    * point shares one generated class.
    *
    * The frame is coalesced to one partition first, which meets the
    * window's clustering without an exchange: a one-shot request is one
    * job and one task, with no shuffle, no broadcast and one scan. That
    * one task reads, sorts and buffers the whole frame: right for the
    * kilobyte shots served, slower than a parallel aggregate and a join
    * back for a frame above a few MB (ROADMAP direction 3). */
  def nearest(df: DataFrame, on: String, value: Double,
      keys: Seq[String]): DataFrame = {
    df.where(col(on).isNotNull)
      .select(df.columns.map(col) :+
        struct(abs(col(on) - value).as("d"), col(on).as("v")).as("__dv"): _*)
      .coalesce(1)
      .withColumn("__near", min(col("__dv")).over(Window.partitionBy(keys.map(col): _*)).getField("v"))
      .where(col(on) === col("__near"))
      .select((keys ++ df.columns.filterNot(keys.contains)).map(col): _*)
  }
}
