package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Core relational operator library, Spark-first.
  *
  * Each method realizes one operator family from SURVEY.md §2 (the FDF
  * reference's operator inventory, `/root/reference/fdf/factory.py` /
  * `fdf_signal.py`) as an idiomatic Catalyst-optimizable DataFrame plan:
  * filters and projections push to the parquet scan, small dimensions are
  * broadcast, aggregates get map-side partial aggregation, and windowed
  * operators declare explicit deterministic orderings.
  *
  * Determinism discipline (for the DuckDB differential oracle): sums over
  * non-integral doubles go through `decimal` so the result is independent
  * of partition/merge order; per-row double arithmetic is IEEE-exact in
  * any engine; every ranking has a unique-key tie-break.
  */
object Relational {

  /** An exact decimal sum truncated to 2 decimals via floor(x*100) BEFORE
    * the double cast: a decimal(38,12) -> double conversion differs in
    * the last ulp between engines, and decimal RESCALING rounds
    * differently too — floor of the exact decimal is unambiguous, and the
    * resulting <=15-significant-digit value converts to double exactly. */
  private[graft] def exact2(c: Column): Column =
    floor(c * 100).cast("long") / 100.0

  /** Exact money arithmetic: double column -> decimal(12,2). Sum order
    * then cannot perturb the result (a raw double sum is merge-order
    * dependent and would diverge between engines/runs at scale). */
  private def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** TPC-H Q1-flavored scan+filter+aggregate (SURVEY §2.4 A1-A7 family).
    * Filter pushes to parquet; partial aggregation happens map-side, so
    * the shuffle carries only |groups| rows per partition — at 100 TB the
    * shuffle is O(4 groups x partitions), not O(rows). */
  def aggPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        sum(money($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(money($"l_extendedprice") * money(lit(1.0) - $"l_discount"))
          .cast("double").as("sum_disc_price"),
        avg($"l_quantity").as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  /** Projection + predicate scan (SURVEY §2.2 P6-P8): both the filter and
    * the 4-column projection reach the parquet reader (PushedFilters /
    * ReadSchema), so a 100 TB table reads only matching row groups and
    * only 5 of 11 columns. */
  def filterProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate".between(
        lit("1997-01-01").cast("timestamp"), lit("1997-03-31").cast("timestamp"))
        && $"l_quantity" < 5)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_extendedprice", $"l_shipdate")
  }

  /** Star join with broadcast dims (SURVEY §2.3 J2): region/nation/customer
    * are tiny next to orders — broadcast them so the big fact table never
    * shuffles. At 100 TB this is the difference between a map-side join
    * and a full-fact-table exchange. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the fact side never shuffles for the joins (all dims broadcast);
    // rebalance only widens the narrow-layout scan so the three join
    // probes + partial agg run on all cores
    val orders = Tables.rebalance(spark, dir, "orders",
      Tables.orders(spark, dir), col("o_custkey"))
    val customer = Tables.customer(spark, dir)
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir)
    orders
      .join(broadcast(customer), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(money($"o_totalprice")).cast("double").as("sum_totalprice"))
  }

  /** Left-semi join = EXISTS (SURVEY §2.3; the reference only has lookup
    * joins, Spark gives the full join algebra). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).where($"o_totalprice" > 200000.0),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }

  /** q83: bloom-prefiltered semi join — the membership-filter plan for a
    * build side too big to broadcast-hash-join but whose ~1 byte/key
    * bloom still fits beside a task. The fact side is pruned MAP-SIDE by
    * `might_contain` before any shuffle (PlanShapeSpec pins the filter
    * below the exchange), then the exact semi join removes the fpp tail,
    * so the result is IDENTICAL to the plain semi join (the oracle) —
    * the bloom only changes how many rows reach the shuffle. At 100 TB:
    * shuffle O(matching + fpp x rows) instead of O(rows). The build is
    * one partial-agged job returning a driver-held binary (same
    * footprint class as a broadcast; Spark's InjectRuntimeFilter does
    * this same dance automatically inside its size thresholds). */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hi = Tables.orders(spark, dir)
      .where($"o_totalprice" > 150000.0).select($"o_orderkey")
    // capacity: generous upper bound on |build| keys; at real scale pass
    // the catalog row-count estimate (over-sizing only wastes bits,
    // under-sizing only raises fpp — correctness is join-guaranteed)
    val bloom = graft.functions.Bloom.buildBloom(hi, "o_orderkey", 1L << 20)
    Tables.lineitem(spark, dir)
      .where(graft.functions.Bloom.mightContain(bloom, $"l_orderkey"))
      .join(hi, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity").as("sum_qty"),
        sum(money($"l_extendedprice")).cast("double").as("sum_price"))
  }

  /** Left-anti join = NOT EXISTS. Filter on the probe side keeps the
    * result non-empty at every SF (a bare "customers with no orders"
    * anti-join is vacuous on this data). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).where($"o_orderpriority" === "1-URGENT"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
  }

  /** DISTINCT + ORDER BY (SURVEY §2.4 A4, `np.unique` of shot lists,
    * `fdf/factory.py:633`): hash-aggregate dedup, then sort. */
  def distinctSort(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderstatus")
      .distinct()
      .orderBy($"o_orderpriority", $"o_orderstatus")
  }

  /** Union of shot sources then unique (SURVEY §2.6 G1,
    * `fdf/factory.py:232-242`: shotlist ∪ by-xp ∪ by-date → unique).
    * One distributed job — not the reference's per-key query loop. */
  def unionDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byOrder = Tables.orders(spark, dir)
      .where($"o_orderpriority" === "1-URGENT").select($"o_custkey".as("custkey"))
    val byBalance = Tables.customer(spark, dir)
      .where($"c_acctbal" > 9000.0).select($"c_custkey".as("custkey"))
    val bySegment = Tables.customer(spark, dir)
      .where($"c_mktsegment" === "BUILDING").select($"c_custkey".as("custkey"))
    byOrder.union(byBalance).union(bySegment).distinct()
  }

  /** Ordered retrieval + row cap (SURVEY §2.5 W1/W2, the logbook's
    * `SET ROWCOUNT 500` + ORDER BY). TakeOrderedAndProject: each partition
    * keeps a 100-row heap, the driver merges — no global sort at scale. */
  def orderedLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .limit(100)
  }

  /** First-row-per-group (SURVEY §2.5 W3, earliest logbook entry wins,
    * `fdf/factory.py:453-454`): window row_number with a total order
    * (orderdate, orderkey) so ties are deterministic. */
  def firstPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"o_custkey", $"o_orderkey".as("first_orderkey"),
        $"o_orderdate".as("first_orderdate"))
  }

  /** Leading-window DC-baseline removal (SURVEY §2.5 W4 / §2.4 A1 — the
    * usxr `data - mean(data[0:1000])` postprocess,
    * `/root/reference/fdf/modules/usxr/_postprocess.py:10-12`), re-expressed
    * on the events table: per user, subtract the mean of the first 20
    * samples (by ts) from every sample. The baseline sum goes through
    * decimal so merge order can't perturb it. */
  def windowBaseline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val wAll = Window.partitionBy($"user_id")
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("base_sum",
        sum(when($"rn" <= 20, $"value".cast(DecimalType(18, 6)))).over(wAll))
      .withColumn("base_n", count(when($"rn" <= 20, lit(1))).over(wAll))
      .select($"user_id", $"event_id",
        ($"value" - $"base_sum".cast("double") / $"base_n").as("value_dc"))
  }

  /** Nearest-sample lookup as a join (SURVEY §2.2 P5 / §2.4 A3 / §2.3 J4 —
    * `argmin(abs(value - axis))`, `fdf/fdf_signal.py:296-299`): for each
    * order, the lineitem whose shipdate is nearest to the order date.
    * Tie-break = first minimum (numpy argmin semantics): smaller shipdate
    * diff first, then linenumber. Equi-join on orderkey keeps it a local
    * per-key argmin — no cross product. */
  /** The same nearest-time alignment as q11, but through the CUSTOM
    * whole-operator path (graft.plans.AsOfJoin: logical node + strategy +
    * merge exec, SURVEY §4 item 1) instead of join+window — one O(n+m)
    * merge pass per key group, no per-group sort of the joined product.
    * Tie-break is numpy-first-minimum: |diff|, then earlier shipdate,
    * then linenumber. */
  def asofMergeCustom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_shipdate")
    graft.plans.GraftPlans.asofMergeJoin(o, li,
        Seq("o_orderkey" -> "l_orderkey"), "o_orderdate", "l_shipdate",
        rightTie = Seq("l_linenumber"))
      .select($"o_orderkey", $"l_linenumber".as("nearest_linenumber"),
        $"l_shipdate".as("nearest_shipdate"))
  }

  def nearestAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_shipdate")
    val diff = abs(unix_timestamp($"l_shipdate") - unix_timestamp($"o_orderdate"))
    // l_linenumber is NOT unique per order in the generated data (sf0.1
    // has duplicate linenumbers with equal |diff|): l_shipdate completes
    // the tie-break; rows still tied after it are identical in every
    // output column, so the pick is output-deterministic
    val w = Window.partitionBy($"o_orderkey")
      .orderBy(diff.asc, $"l_linenumber".asc, $"l_shipdate".asc)
    o.join(li, $"o_orderkey" === $"l_orderkey")
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"o_orderkey", $"l_linenumber".as("nearest_linenumber"),
        $"l_shipdate".as("nearest_shipdate"))
  }

  /** Grouped set collection (SURVEY §2.4 A5, `np.unique(xplist)` per shot,
    * `fdf/factory.py:446`): sorted-distinct set rendered as a string so the
    * oracle compare is representation-stable. */
  def groupCollect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // rebalance on the group key: collect_set partials otherwise build in
    // the narrow scan task; hash(o_custkey) doubles as the agg distribution
    Tables.rebalance(spark, dir, "orders", Tables.orders(spark, dir), $"o_custkey")
      .groupBy($"o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        array_join(array_sort(collect_set($"o_orderstatus")), ",").as("statuses"),
        array_join(array_sort(collect_set($"o_orderpriority")), ",").as("priorities"))
  }

  /** Date-part decode (SURVEY §2.7 F2, YYYYMMDD decode
    * `fdf/factory.py:589-593`). */
  def dateParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").as("o_year"), month($"o_orderdate").as("o_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(money($"o_totalprice")).cast("double").as("sum_totalprice"))
  }

  /** String formatting (SURVEY §2.7 F3, zero-padded channel names
    * `fdf/factory.py:951-959`). */
  def stringFormat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select(
        $"p_partkey",
        concat(lit("P-"), lpad($"p_partkey".cast("string"), 8, "0")).as("part_code"),
        upper(substring($"p_name", 1, 12)).as("name_prefix"),
        concat_ws("/", $"p_brand", $"p_type").as("brand_type"))
  }

  /** Base-256 byte encode/decode roundtrip (SURVEY §2.7 F4, the MDS event
    * shot codec `fdf/factory.py:298-302,316-317`): event_id -> 4 bytes ->
    * weighted sum back. Pure integer arithmetic. */
  def byteCodec(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"event_id")
    val b = (i: Int) => (expr(s"event_id DIV ${1L << (8 * i)}") % 256).cast("long")
    e.select(
      $"event_id",
      b(0).as("b0"), b(1).as("b1"), b(2).as("b2"), b(3).as("b3"))
      .withColumn("decoded",
        $"b0" + $"b1" * 256L + $"b2" * 65536L + $"b3" * 16777216L)
  }

  /** Per-row arithmetic expression surface (SURVEY §2.7 F1/F5 — the ufunc
    * algebra of `fdf_signal.py:172-179`): all IEEE-exact per-row ops, fused
    * into one whole-stage-codegen projection. */
  def arithmetic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .where($"l_linenumber" === 1)
      .select(
        $"l_orderkey",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        ($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("charge"),
        abs($"l_discount" - 0.05).as("disc_dev"),
        sqrt($"l_quantity").as("qty_sqrt"),
        ceil($"l_extendedprice" / 100.0).as("price_bucket"),
        floor($"l_quantity" / 7.0).as("qty_floor"))
  }

  /** Top-k per group (SURVEY §2.5 ranking): 3 highest-value lineitems per
    * supplier, deterministic tie-break on full key. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
    // rebalance on the window key: Spark's map-side WindowGroupLimit (the
    // per-partition top-k pre-filter) otherwise sorts the whole table in
    // the narrow scan task; the hash exchange also satisfies the window's
    // required distribution, so no second shuffle appears
    Tables.rebalance(spark, dir, "lineitem", Tables.lineitem(spark, dir), $"l_suppkey")
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .select($"l_suppkey", $"rk", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
  }

  /** ROLLUP grouping sets (Spark built-in; beyond the reference's surface
    * but part of the engine's SQL-completeness). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("sum_qty"))
  }

  /** Conditional aggregation / manual pivot (SURVEY §2.6 G4 multi-series
    * split): order-status counts fanned out to columns per priority. */
  def conditionalPivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when($"o_orderstatus" === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when($"o_orderstatus" === "P", 1L).otherwise(0L)).as("n_p"),
        count(lit(1)).as("n_total"))
  }

  /** Range predicate + block aggregate (SURVEY §2.2 P9 + §2.4 A2: the
    * mpts contour sub-block `t>0.1 && 30<r<135 -> max`). min/max of
    * doubles are order-independent, so no decimal detour needed. */
  def rangeFilterAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .where($"ts" >= lit("2024-01-08 00:00:00").cast("timestamp")
        && $"ts" < lit("2024-01-15 00:00:00").cast("timestamp")
        && $"value".between(10.0, 100.0))
      .groupBy($"event_type")
      .agg(
        max($"value").as("max_value"),
        min($"value").as("min_value"),
        count(lit(1)).as("n"))
  }

  /** Tumbling-window aggregation (SURVEY §2.8 — batch twin of the
    * Structured Streaming windowed agg in graft.streaming; same `window()`
    * expression works under readStream). Event timestamps are parquet-ns:
    * emit epoch millis so engines agree on representation. */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(unix_millis($"w.start").as("window_start_ms"), $"event_type", $"n", $"sum_value")
  }

  /** Gap-based sessionization (SURVEY §2.8 stateful streaming twin,
    * batch form): new session when >30 min since the previous event of
    * the same user; emits per-session stats. lag + running sum — the
    * standard islands pattern; in streaming this is
    * flatMapGroupsWithState (see graft.streaming.Sessionize). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
      .withColumn("new_sess",
        when($"prev_ts".isNull
          || unix_millis($"ts") - unix_millis($"prev_ts") > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        unix_millis(min($"ts")).as("session_start_ms"),
        unix_millis(max($"ts")).as("session_end_ms"))
  }

  /** Exact per-group distinct count (SURVEY §2.4; approx_count_distinct is
    * the scale path, exact is the oracle-checkable path). */
  /** Exact quantiles per group (beyond-reference A-family: profile
    * percentiles for signal analytics). Computed over the integer-valued
    * l_quantity so the sort-and-interpolate result is exact in FP and
    * engine-portable (massive duplicate plateaus make interpolation
    * degenerate). Exact percentile is a sort-based aggregate — at scale
    * prefer approx_percentile; this is the oracle-checkable exact twin. */
  def quantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.9)").as("q90"),
        count(lit(1)).as("n"))
  }

  /** CUBE grouping (all 4 grouping-set combinations) — the grouping-sets
    * family Spark provides beyond the reference's plain GROUP BY. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("sum_qty"))
  }

  /** Multi-column distinct count (Expand-based: one scan, 2x expansion,
    * two-phase distinct aggregation). A pre-aggregation key repartition
    * was measured SLOWER here — it adds a shuffle without satisfying the
    * distinct phase's (key, value, gid) distribution — so the plan is
    * left as Catalyst produces it; on a low-row-group input layout the
    * scan-side stage runs narrow (a layout bound, see graft.ScaleSmoke:
    * the same plan goes wide on a multi-file table). */
  def distinctCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // TWO single-column distinct aggs joined on the group key, NOT one
    // groupBy with two countDistincts: Spark plans multi-distinct as an
    // Expand (2x row multiplication, rows carrying BOTH value columns +
    // a gid) through one wide shuffle, while the split form shuffles two
    // NARROW (key, value) relations with better map-side dedup and joins
    // the |suppkey|-sized results — measured 1.48 -> 0.64 s at sf0.1
    // (local[32], warm best-of-3). Scan cost is a wash: two 2-column
    // pruned scans move the same bytes as one 3-column scan. rebalance
    // BEFORE the aggregation so the partial dedup doesn't run inside the
    // narrow scan stage (Tables.rebalance scaladoc).
    def base = Tables.rebalance(spark, dir, "lineitem",
      Tables.lineitem(spark, dir)
        .select($"l_suppkey", $"l_partkey", $"l_orderkey"),
      $"l_suppkey")
    val p = base.select($"l_suppkey", $"l_partkey").distinct()
      .groupBy($"l_suppkey").agg(count(lit(1)).as("n_parts"))
    val o = base.select($"l_suppkey", $"l_orderkey").distinct()
      .groupBy($"l_suppkey").agg(count(lit(1)).as("n_orders"))
    p.join(o, "l_suppkey")
  }

  /** Moving-window smoothing + running total per series (SURVEY §2.5 /
    * W4's frame family — the reference's baseline correction generalized
    * to rolling frames): 5-row trailing average and cumulative sum, one
    * window sort per user. Decimal-routed frame sums keep the oracle
    * exact; the division by the frame count happens once in double. */
  def movingAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t_ms".asc, $"event_id".asc)
    val frame = w.rowsBetween(-4, Window.currentRow)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("t_ms"),
        $"value".cast("decimal(18,6)").as("vd"))
      .select($"user_id", $"event_id", $"t_ms",
        (sum($"vd").over(frame).cast("double") / count(lit(1)).over(frame))
          .as("ma5"),
        sum($"vd").over(cum).cast("double").as("running_sum"))
  }

  /** Statistical profile per group: mean, sample variance/stddev, and
    * correlation — derived from decimal-routed EXACT sums (sum x, sum x^2,
    * sum xy) with the closed-form formulas applied identically in the
    * final projection on both engines. The built-in var_samp/corr
    * aggregates accumulate in merge-order-dependent floating point and
    * cannot hash-match a serial engine; exact partial sums + one final
    * double formula can (IEEE sqrt is correctly rounded and portable,
    * unlike libm trig). One partial-aggregated shuffle, like any sum. */
  def statsProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, dir).select($"event_type",
      $"value".cast("decimal(18,6)").as("xd"),
      get_json_object($"props", "$.k").cast("long").cast("decimal(18,6)").as("yd"))
    val s = b.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"xd").cast("double").as("sx"), sum($"yd").cast("double").as("sy"),
      exact2(sum($"xd" * $"xd")).as("sxx"),
      exact2(sum($"yd" * $"yd")).as("syy"),
      exact2(sum($"xd" * $"yd")).as("sxy"))
    val ssx = $"sxx" - $"sx" * $"sx" / $"n"
    val ssy = $"syy" - $"sy" * $"sy" / $"n"
    s.select($"event_type", $"n",
      ($"sx" / $"n").as("mean_value"),
      (ssx / ($"n" - 1)).as("var_value"),
      sqrt(ssx / ($"n" - 1)).as("std_value"),
      (($"sxy" - $"sx" * $"sy" / $"n") / (sqrt(ssx) * sqrt(ssy))).as("corr_vk"))
  }

  /** Semi-structured extraction: pull a typed field out of the JSON props
    * column and aggregate — `get_json_object` is a codegen'd expression,
    * so the parse stays inside the scan's whole-stage-codegen span
    * (map-side), and only the tiny (type, partials) table shuffles. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"), max($"k").as("max_k"))
  }

  /** Set algebra beyond union (SURVEY §2.6 G1): INTERSECT / EXCEPT over
    * two derived key sets, tagged and unioned into one result. Spark plans
    * both as hash left-semi / left-anti joins over the distinct sets. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val building = Tables.customer(spark, dir)
      .where($"c_mktsegment" === "BUILDING").select($"c_custkey".as("custkey"))
    val urgent = Tables.orders(spark, dir)
      .where($"o_orderpriority" === "1-URGENT").select($"o_custkey".as("custkey"))
    building.intersect(urgent).select(lit("both").as("tag"), $"custkey")
      .unionByName(
        building.except(urgent).select(lit("building_only").as("tag"), $"custkey"))
  }

  /** Deep multi-join rollup (TPC-H Q5 flavor): fact table joined through
    * a snowflake of dimensions with a region filter, revenue per nation
    * per year. The dimension chain (customer -> nation -> region) stays
    * broadcast end-to-end, so the only shuffle is the lineitem->orders
    * join and the final aggregation; the region predicate prunes the
    * broadcast side before it ships. Decimal-routed revenue for oracle
    * exactness. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val dims = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
      .join(broadcast(Tables.nation(spark, dir).select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir).where($"r_name" === "ASIA")
        .select($"r_regionkey")), $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey", $"n_name")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(dims), $"o_custkey" === $"c_custkey")
      .groupBy($"n_name", year($"o_orderdate").as("o_year"))
      .agg(sum(($"l_extendedprice".cast("decimal(12,2)") *
          (lit(1.0) - $"l_discount").cast("decimal(12,2)")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Sliding (hopping) time windows — 1 h width every 30 min, so each
    * event lands in two overlapping windows (SURVEY §2.8; the batch twin
    * of the streaming sliding-window agg). Spark's `window()` generator
    * expands the instances map-side; aggregation shuffles once on
    * (window, type). Decimal-routed sum for oracle exactness. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_millis($"window.start").as("window_start_ms"),
        $"event_type", $"n", $"sum_value")
  }

  /** q69: OHLC downsampling — compress each user's event stream to one
    * row per hour bucket carrying open/high/low/close/count (the classic
    * time-series decimation a plotting or monitoring layer reads instead
    * of raw samples; the reference's plot path pulls full traces to the
    * client, `fdf/modules/mpts/plot.py:35-37` — this is the bounded
    * server-side reduction that replaces it at scale). open/close are
    * min/max over (ts, event_id, value) structs — a pure partial
    * aggregate with the unique (ts, event_id) prefix deciding order, so
    * NO window sort: one shuffle of per-bucket partials, nothing else. */
  def ohlcDownsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).select(
      $"user_id",
      unix_millis(date_trunc("hour", $"ts")).as("bucket_ms"),
      unix_millis($"ts").as("tms"), $"event_id", $"value")
    e.groupBy($"user_id", $"bucket_ms")
      .agg(
        min(struct($"tms", $"event_id", $"value")).getField("value").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max(struct($"tms", $"event_id", $"value")).getField("value").as("close"),
        count(lit(1)).as("n"))
  }

  /** q71: keep-latest compaction — collapse each (user, event_type)
    * stream to its most recent event (the upsert/CDC-compaction
    * semantics a mutable-state view over an append-only log needs).
    * Latest = max over (ts, event_id, payload) structs, so like q69 it
    * is a pure partial aggregate — per-partition candidates combine
    * map-side, NO window sort, no row_number; at 100 TB this shuffles
    * one candidate row per key per partition. */
  def keepLatest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_millis($"ts").as("tms"),
        $"event_id", $"value")
      .groupBy($"user_id", $"event_type")
      .agg(max(struct($"tms", $"event_id", $"value")).as("latest"),
        count(lit(1)).as("n_superseded"))
      .select($"user_id", $"event_type",
        $"latest.tms".as("last_ms"), $"latest.event_id".as("last_event_id"),
        $"latest.value".as("last_value"), ($"n_superseded" - 1).as("n_superseded"))
  }

  /** q72: winsorization — clip a measure at per-group percentile
    * thresholds before aggregating (the outlier-robust feature-scaling
    * pass of a stats pipeline). Two-phase: the exact p10/p90 thresholds
    * per group (integer-valued quantity, so interpolation is FP-exact
    * and engine-portable, as q42), broadcast back over the fact scan,
    * clip map-side, then one partial-agged decimal sum. The threshold
    * table is |groups| rows — the second pass never shuffles the fact. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val th = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_quantity, 0.1)").as("p10"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
    val clipped = Tables.lineitem(spark, dir)
      .join(broadcast(th), "l_returnflag")
      .select($"l_returnflag",
        least(greatest($"l_quantity", $"p10"), $"p90").as("clip"),
        when($"l_quantity" < $"p10", 1L).otherwise(0L).as("lo"),
        when($"l_quantity" > $"p90", 1L).otherwise(0L).as("hi"))
    clipped.groupBy($"l_returnflag")
      .agg(
        sum($"clip".cast(DecimalType(18, 6))).cast("double").as("sum_clipped"),
        sum($"lo").as("n_clipped_low"),
        sum($"hi").as("n_clipped_high"),
        count(lit(1)).as("n"))
  }

  /** q73: per-group z-score standardization — subtract the group mean,
    * divide by the group stddev (the feature-normalization pass between
    * q72's clipping and model ingestion). Two-phase like winsorize: the
    * |groups|-row stats table derives from exact decimal sums (the q60
    * machinery, so both engines see identical mean/std doubles) and
    * broadcasts back over the fact scan; the normalization itself is
    * map-only. */
  def zscore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, dir)
      .select($"event_type", $"event_id", $"value")
    val stats = b
      .select($"event_type", $"value".cast(DecimalType(18, 6)).as("xd"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"xd").cast("double").as("sx"),
        exact2(sum($"xd" * $"xd")).as("sxx"))
      .select($"event_type", ($"sx" / $"n").as("mean"),
        sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("std"))
    b.join(broadcast(stats), "event_type")
      .select($"event_id", $"event_type",
        (($"value" - $"mean") / $"std").as("z"))
  }

  /** q74: per-key linear trend — least-squares slope/intercept of value
    * over time for every user (the drift/trend extraction a time-series
    * diagnostic runs per signal; the reference plots traces, this fits
    * them). Closed-form from exact decimal sums (q60 machinery): one
    * partial-aggregated shuffle of (n, sx, sy, sxx, sxy) per key, then
    * the slope formula once in double — identical arithmetic on both
    * engines. Time is rebased to seconds from the corpus epoch so the
    * decimal products stay well inside decimal(38) exactness. */
  def linearTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, dir).select(
      $"user_id",
      ((unix_millis($"ts") - 1704067200000L) / 1000.0)
        .cast(DecimalType(18, 6)).as("xd"),
      $"value".cast(DecimalType(18, 6)).as("yd"))
    val s = b.groupBy($"user_id").agg(
      count(lit(1)).as("n"),
      sum($"xd").cast("double").as("sx"),
      sum($"yd").cast("double").as("sy"),
      exact2(sum($"xd" * $"xd")).as("sxx"),
      exact2(sum($"xd" * $"yd")).as("sxy"))
    val det = $"n" * $"sxx" - $"sx" * $"sx"
    val slope = ($"n" * $"sxy" - $"sx" * $"sy") / det
    // det == 0 (all samples at one timestamp) has no defined slope; the
    // explicit guard also keeps div-by-zero semantics out of the
    // cross-engine compare
    s.where($"n" >= 2 && det =!= 0.0)
      .select($"user_id", $"n", slope.as("slope"),
        (($"sy" - slope * $"sx") / $"n").as("intercept"))
  }

  /** q76 — the 3-D signal contour path (SURVEY §3.3 at rank 3, the EFIT
    * `psirz(time, R, z)` shape from the reference's equilibria module,
    * `fdf/modules/equilibria/efit.xml:10`): a long-format 3-D grid is
    * value-sliced on BOTH spatial axes (the §2.2 P5 semantics, one
    * predicate — no index bookkeeping at rank 3), then each time slice
    * reports its sub-block cell count, max, and the (R, z) location of
    * the max (ties broken by smallest R then z, numpy argmax order).
    *
    * The grid derives deterministically from lineitem so the DuckDB
    * oracle rebuilds it bit-for-bit (l_extendedprice is DOUBLE in the
    * parquet; /100 and the dyadic axis arithmetic are exact IEEE in both
    * engines; max over doubles is order-independent).
    *
    * Scale shape: one partial-agged shuffle to canonicalize cells, one
    * window sort per time slice over the SLICED sub-block only (the
    * value predicates prune before any shuffle) — at 100 TB the slice is
    * what keeps the window input bounded, exactly like the 2-D q20. */
  def psiSliceMax3d(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.lineitem(spark, dir)
      .select(
        ($"l_orderkey" % 20).cast("long").as("t"),
        (lit(10.0) + $"l_linenumber" * 0.5).as("rv"),
        (($"l_suppkey" % 10) * 0.25).as("zv"),
        ($"l_extendedprice" / 100.0).as("psi"))
      .groupBy($"t", $"rv", $"zv").agg(max($"psi").as("psi"))
    val sliced = cells.where($"rv".between(10.5, 12.5) && $"zv".between(0.5, 2.0))
    val wOrd = Window.partitionBy($"t").orderBy($"psi".desc, $"rv".asc, $"zv".asc)
    val wAll = Window.partitionBy($"t")
    sliced
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("n_cells", count(lit(1)).over(wAll))
      .where($"__rn" === 1)
      .select($"t", $"n_cells", $"rv".as("r_at_max"), $"zv".as("z_at_max"),
        $"psi".as("max_psi"))
  }

  /** q81: equal-width histogram of document lengths — the distribution
    * profiling primitive (data-quality dashboards, length-filter tuning)
    * done integer-exact: bin = ((x - min) * 16) div (max + 1 - min) is
    * pure long arithmetic, so every engine buckets identically with no
    * float edge wobble. Two-phase scale shape: the (min, max) bounds are
    * a ONE-ROW aggregate broadcast back over the fact; binning is
    * map-only and the final shuffle carries 16 partial-agged groups. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"n_chars")
    val bounds = docs.agg(min($"n_chars").as("mn"), max($"n_chars").as("mx"))
    docs.crossJoin(broadcast(bounds))
      .withColumn("bin", expr("((n_chars - mn) * 16) div (mx + 1 - mn)"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        min($"n_chars").as("lo_chars"), max($"n_chars").as("hi_chars"))
  }

  /** q105: robust outlier flags via median/MAD — the heavy-tail-safe
    * alternative to q73's z-score (mean/std are dragged by the very
    * outliers they're supposed to flag; the median absolute deviation
    * is not). LOWER medians (element at rank (n+1) div 2 under a total
    * order with doc_id tie-break), so every quantity is an INTEGER from
    * the data — no interpolation, no floats, engine-exact. A doc is an
    * outlier when |x - med| > 2 * MAD (integer cross-compare; 2x rather
    * than the textbook 3x because integer MAD on a fairly uniform
    * length distribution is wide — the multiplier is the caller's
    * calibration knob, the machinery is the operator).
    *
    * Scale shape: two rank-select passes over the per-lang partitions
    * (window sort by (value, doc_id), pick one row per group) — each is
    * one shuffle on lang; the |langs|-row median tables broadcast back.
    * An exact median fundamentally needs a per-group order; at extreme
    * group sizes swap rank-select for a fixed-grid histogram median
    * (the q93 bounded-histogram trick) without changing the contract. */
  /** q298: token-weighted median document length per source, next to
    * the unweighted one — the packing-relevant length statistic: the
    * unweighted median is the length of a random DOCUMENT, the
    * token-weighted median is the length a random TOKEN sits in. On a
    * crawl with many stubs and a few monsters the two diverge wildly,
    * and the WEIGHTED one is what sets context-window budgets (q49/q93
    * consumers) — budgeting off the doc median under-provisions
    * exactly when the tail matters.
    *
    * Exactness: both medians are LOWER medians by rank/weight-rank
    * select on exact integers (the q105 discipline — no interpolation,
    * no percentile_cont float): weighted pick = first (n_chars,
    * doc_id)-ordered row with 2·cumweight ≥ totalweight.
    *
    * Scale shape: two per-source ordered passes over a narrow
    * (source, doc_id, n_chars, w) projection, |sources| rows out — the
    * q105 rank-select shape; per-source partitions sort-spill, never
    * collect. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars",
        size(split($"text", " ")).cast("long").as("w"))
    val ord = Window.partitionBy($"source").orderBy($"n_chars".asc, $"doc_id".asc)
    val tot = Window.partitionBy($"source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = docs
      .withColumn("cumw", sum($"w").over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("totw", sum($"w").over(tot))
      .withColumn("rk", row_number().over(ord).cast("long"))
      .withColumn("n", count(lit(1)).over(tot))
    val wmed = c.where($"cumw" * 2 >= $"totw")
      .withColumn("pick", row_number().over(ord))
      .where($"pick" === 1)
      .select($"source", $"n".as("n_docs"), $"totw".as("n_tokens"),
        $"n_chars".as("wmedian_len"))
    val dmed = c.where($"rk" * 2 >= $"n")
      .withColumn("pick", row_number().over(ord))
      .where($"pick" === 1)
      .select($"source", $"n_chars".as("median_len"))
    wmed.join(dmed, Seq("source"))
      .select($"source", $"n_docs", $"n_tokens", $"median_len",
        $"wmedian_len")
  }

  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def lowerMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy($"lang").orderBy(col(valueCol).asc, $"doc_id".asc)
      val wn = Window.partitionBy($"lang")
      df.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wn))
        .where($"__rn" === expr("(__n + 1) div 2"))
        .select($"lang", col(valueCol).as(outCol))
    }
    val docs = Tables.documents(spark, dir).select($"doc_id", $"lang", $"n_chars")
    val med = lowerMedian(docs, "n_chars", "med")
    val dev = docs.join(broadcast(med), "lang")
      .withColumn("abs_dev", abs($"n_chars" - $"med"))
    val mad = lowerMedian(dev, "abs_dev", "mad")
    dev.join(broadcast(mad), "lang")
      .where($"abs_dev" > $"mad" * 2)
      .select($"doc_id", $"lang", $"n_chars", $"med", $"mad", $"abs_dev")
  }

  /** q110: sequential-pattern mining over the event log — frequent
    * event-type trigrams (the behavioral n-gram that session-replay /
    * funnel analyses start from: "view -> add -> buy happened 400 times
    * across 80 users"). Each user's stream is ordered by (ts, event_id)
    * — the deterministic tie-break every ordered op here uses — and
    * windows of 3 consecutive types count occurrences and distinct-user
    * support; patterns below support 5 are noise and dropped.
    *
    * Scale shape: one window sort per user partition (the q22/q46
    * family's shuffle), then a partial-agged groupBy on the pattern —
    * the pattern space is |types|³-bounded, so the final shuffle is
    * tiny regardless of corpus size. The two-level agg (count +
    * count_distinct) expands per-user partials map-side. */
  def eventTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t_ms".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_millis($"ts").as("t_ms"), $"event_id")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .where($"e3".isNotNull)
      .groupBy($"event_type", $"e2", $"e3")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"user_id").as("n_users"))
      .where($"n_occurrences" >= 5)
      .select($"event_type".as("e1"), $"e2", $"e3",
        $"n_occurrences", $"n_users")
  }

  /** q112: half-life-decayed engagement score — exponential time decay
    * (1-day half-life) of event values per user, the recency weighting
    * every freshness-aware ranking/retention metric uses. The decay
    * factor 2^-age_days is computed as `1 / (1 << age)` — an EXACT
    * power of two by integer shift, no libm pow — so the per-event
    * product is one correctly-rounded multiplication in any engine;
    * each term then offset-quantizes to a long BEFORE the sum (q87's
    * associativity dodge: an unordered double sum would hash-diverge).
    * Ages cap at 62 days (the shift bound; contributions beyond
    * quantize to 0 anyway).
    *
    * Scale shape: the corpus max-ts is a one-row broadcast; scoring is
    * map-only; one partial-agged groupBy per user. */
  def decayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", unix_millis($"ts").as("tms"), $"value")
    val horizon = e.agg(max($"tms").as("t_max"))
    e.crossJoin(broadcast(horizon))
      .withColumn("age",
        least(expr("(t_max - tms) div 86400000"), lit(62L)).cast("int"))
      .select($"user_id",
        floor(($"value" / expr("shiftleft(CAST(1 AS BIGINT), age)")) * 1e6
          + lit(1.0 / 3)).cast("long").as("term_q"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"term_q").as("decayed_q"))
  }

  /** q113: lagged cross-correlation of two event streams — "does a
    * click surge predict a purchase surge h hours later?" (the lead/lag
    * diagnostic between any two time series; for signals it's the
    * time-delay estimation the reference's overlays eyeball). Hourly
    * buckets, per-event values offset-quantized to longs, then
    * xcorr(l) = Σ_h a(h)·b(h+l) for l = 0..5 — pure integer products
    * and sums (magnitudes bounded: hourly quantized sums < ~2³², lag
    * products summed over hours stay far inside int64).
    *
    * Scale shape: ONE partial-agged groupBy reduces the corpus to the
    * bounded (type, hour) relation; the lag join and products run on
    * that small series — at any corpus scale the post-agg work is
    * constant-bounded by the time range. */
  def lagCrossCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, dir)
      .where($"event_type".isin("click", "purchase"))
      .select($"event_type",
        expr("unix_millis(ts) div 3600000").as("h"),
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .groupBy($"event_type", $"h").agg(sum($"vq").as("s"))
    val a = hourly.where($"event_type" === "click").select($"h", $"s".as("sa"))
    val b = hourly.where($"event_type" === "purchase").select($"h".as("hb"), $"s".as("sb"))
    val lags = spark.range(0, 6).select($"id".as("lag"))
    a.crossJoin(broadcast(lags))
      .join(b, $"hb" === $"h" + $"lag")
      .groupBy($"lag")
      .agg(count(lit(1)).as("n_hours"), sum($"sa" * $"sb").as("xcorr_q"))
  }

  /** q114: ordered funnel — users progressing view -> click -> purchase
    * with each step STRICTLY AFTER the previous one (the conversion
    * metric; naive per-type counts overstate it by ignoring order).
    * Step k's timestamp is the earliest qualifying event after step
    * k-1; output is one row per step with reached-user counts and ppm
    * conversion vs step 1 — all integer.
    *
    * Scale shape: three per-user partial-agged mins, each chained
    * through a hash join on user_id (the |users|-row step relation,
    * broadcastable when small); the event scan is filtered to the
    * funnel types before any shuffle. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_millis($"ts").as("tms"))
    val s1 = ev.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"tms").as("t1"))
    val s2 = ev.where($"event_type" === "click")
      .join(s1, "user_id").where($"tms" > $"t1")
      .groupBy($"user_id").agg(min($"tms").as("t2"))
    val s3 = ev.where($"event_type" === "purchase")
      .join(s2, "user_id").where($"tms" > $"t2")
      .groupBy($"user_id").agg(min($"tms").as("t3"))
    val n1 = s1.agg(count(lit(1)).as("n")).select(lit(1L).as("step"), $"n")
    val n2 = s2.agg(count(lit(1)).as("n")).select(lit(2L).as("step"), $"n")
    val n3 = s3.agg(count(lit(1)).as("n")).select(lit(3L).as("step"), $"n")
    n1.unionByName(n2).unionByName(n3)
      .crossJoin(broadcast(s1.agg(count(lit(1)).as("base"))))
      .select($"step", $"n".as("n_users"),
        expr("(n * 1000000) div base").as("conv_ppm"))
  }

  /** q117: Benford first-digit audit — the classic fabricated-data /
    * instrumentation-fault screen: naturally occurring positive values
    * follow P(d) = log10(1 + 1/d); a per-type digit histogram compared
    * against that law (deviation in ppm) flags streams worth
    * inspecting. Digit extraction is string-free integer-safe (first
    * char of the value's integer part); shares are ppm by integer
    * division; the Benford expectation is log10 of an exact rational,
    * offset-quantized once per digit (9 literals, the q87 recipe).
    *
    * Scale shape: map-only digit tag, one partial-agged (type, digit)
    * groupBy (bounded at |types| x 9 rows), per-type totals broadcast
    * back onto that tiny relation. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = Tables.events(spark, dir)
      .where($"value" >= 1.0)
      .select($"event_type",
        substring(floor($"value").cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
      .groupBy($"event_type", $"digit").agg(count(lit(1)).as("n_d"))
    val totals = digits.groupBy($"event_type").agg(sum($"n_d").as("n"))
    digits.join(broadcast(totals), "event_type")
      .withColumn("share_ppm", expr("(n_d * 1000000) div n"))
      .withColumn("benford_ppm",
        floor(log10(lit(1.0) + lit(1.0) / $"digit") * 1e6 + lit(1.0 / 3))
          .cast("long"))
      .select($"event_type", $"digit", $"n_d", $"share_ppm", $"benford_ppm",
        abs($"share_ppm" - $"benford_ppm").as("dev_ppm"))
  }

  /** q115: quantile normalization — map each value to its empirical CDF
    * position within its event_type (the rank-based feature transform
    * that's robust to any marginal distribution; ties broken by
    * event_id so the map is a bijection). qnorm = (rank-1)·1e6 div
    * (n-1), pure integers.
    *
    * Scale shape: one window sort per type partition — the same
    * per-group order every exact rank transform needs; at extreme group
    * sizes the q93 bounded-histogram CDF approximates it without
    * changing the contract. */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value".asc, $"event_id".asc)
    val wn = Window.partitionBy($"event_type")
    Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"value")
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .select($"event_id", $"event_type", $"rk",
        expr("((rk - 1) * 1000000) div (n - 1)").as("qnorm_ppm"))
  }

  /** Ordered-window family beyond q22's lag flag: inter-event arrival
    * delta (lag) and within-user quartile position (ntile), one window
    * sort per user (SURVEY §2.5). */
  def lagDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t_ms".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("t_ms"))
      .withColumn("delta_ms", $"t_ms" - lag($"t_ms", 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
  }

  /** q128: retention cohort table — customers cohorted by first-order
    * month, a cell per (cohort, month offset) with the active-customer
    * count and the retention rate vs cohort size. The month key is the
    * integer index `year*12 + month` of the tz-free o_orderdate DATE, so
    * offsets subtract exactly in both engines (no interval arithmetic,
    * no timezone).
    *
    * Scale shape: one distinct to (customer, month) — partial-agged —
    * then a min-per-customer agg, a cohort join shuffled on custkey, and
    * a final groupBy bounded at |months|² cells. No window, no sort; the
    * cohort-size join is a broadcast of the |months|-row relation. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cm = Tables.orders(spark, dir)
      .select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long").as("ym"))
      .distinct()
    val first = cm.groupBy($"o_custkey").agg(min($"ym").as("cohort"))
    val sizes = first.groupBy($"cohort").agg(count(lit(1)).as("cohort_n"))
    cm.join(first, "o_custkey")
      .groupBy($"cohort", ($"ym" - $"cohort").as("offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort")
      .select($"cohort", $"offset", $"n_active", $"cohort_n",
        expr("(n_active * 1000000) div cohort_n").as("retained_ppm"))
  }

  /** q147: per-source dataset card — the one-row-per-source profile a
    * corpus review reads before mixing: doc count, token volume, floor
    * mean length, LOWER-median length (rank-select over the per-source
    * length histogram — all integers, no interpolation), language
    * spread, and the English share in ppm. Composes the q31/q60/q105
    * measurement primitives into the report shape.
    *
    * Scale shape: two partial-agged groupBys (per-source stats; the
    * (source, n_chars) histogram) plus a cumulative window on the
    * bounded histogram for the median — the corpus is never sorted. */
  def sourceProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val stats = docs.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextOps.toks($"text"))).as("total_tokens"),
      sum($"n_chars").as("sum_chars"),
      countDistinct($"lang").as("n_langs"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"))
    val h = docs.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, 0)
    val med = h.withColumn("cum", sum($"c").over(w))
      .join(stats.select($"source", $"n_docs"), "source")
      .where($"cum" * 2 >= $"n_docs") // lower median: rank ceil(n/2)
      .groupBy($"source").agg(min($"n_chars").as("p50_chars"))
    stats.join(med, "source")
      .select($"source", $"n_docs", $"total_tokens",
        expr("sum_chars div n_docs").as("mean_chars"), $"p50_chars",
        $"n_langs", expr("(n_en * 1000000) div n_docs").as("en_ppm"))
  }

  /** q148: Gini coefficient of per-user activity — how concentrated the
    * event volume is across users (a training-data review reads this
    * before trusting user-keyed sampling: G near 1 means a few power
    * users dominate the corpus). Exact integer form on the sorted
    * per-user counts x_1..x_n: G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx),
    * with the rank-weighted sum computed over the (count value v,
    * multiplicity m) histogram — a run starting at rank s contributes
    * v·(m·s + m·(m−1)/2) — so nothing ever sorts raw users. ppm by
    * integer division. (Long bound: v·m·s < 9.2e18 holds to ~10⁹ users;
    * beyond, route the contribution through decimal(38,0).)
    *
    * Scale shape: events → per-user counts (one partial-agged groupBy
    * on the natural key) → count-of-counts histogram (bounded by
    * distinct activity levels) → windows on that bounded relation. */
  def activityGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("v"))
    val h = perUser.groupBy($"v").agg(count(lit(1)).as("m"))
    // constant partition key: the histogram is bounded by distinct
    // activity levels (q53 idiom)
    val w = Window.partitionBy(graft.functions.Win.bounded).orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = h
      .withColumn("s", coalesce(sum($"m").over(w), lit(0L)) + 1L)
      // m(m-1) is even, so the integer div is exact (Column./ on longs
      // would promote to double — keep it integral)
      .withColumn("contrib",
        expr("v * (m * s + (m * (m - 1)) div 2)"))
    ranked.agg(
        sum($"m").as("n_users"), sum($"v" * $"m").as("total_events"),
        sum($"contrib").as("iw"))
      .select($"n_users", $"total_events",
        (lit(2L) * $"iw" - ($"n_users" + 1L) * $"total_events").as("g_num"),
        ($"n_users" * $"total_events").as("g_den"))
      .withColumn("gini_ppm", expr("(g_num * 1000000) div g_den"))
  }

  /** q158: within-session co-occurrence lift — the market-basket view
    * of the event stream: for each event-type pair, how much more often
    * they share a q22-rule session (30-min gap) than independence
    * predicts. lift > 1e6 ppm marks behaviorally-coupled actions; the
    * association-rule signal a recommender's training data encodes.
    * Exact integers: lift_ppm = n_ab·S·10⁶ div (n_a·n_b) over
    * session-level presence counts.
    *
    * Scale shape: the session id is one user-partitioned window (q22's
    * machinery); presence reduces via DISTINCT (user, session, type) —
    * partial-agged; the pair join runs on the per-session type SETS
    * (≤ |types| rows each), so pair volume is sessions·|types|², never
    * events². Totals broadcast. */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val pres = Ckpt(Tables.events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
      .withColumn("new_sess",
        when($"prev_ts".isNull
          || unix_millis($"ts") - unix_millis($"prev_ts") > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"session_id", $"event_type")
      .distinct()
      // four consumers (totals, session count, both self-join sides):
      // one (user, session)-partitioned materialization feeds them all,
      // and the pair self-join runs co-partitioned off it
      .repartition($"user_id", $"session_id"), eager = false)
    val totals = pres.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
    val nSess = pres.select($"user_id", $"session_id").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val pairs = pres.as("a").join(pres.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.session_id" === $"b.session_id"
          && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(totals.select($"event_type".as("type_a"), $"n_t".as("n_a"))), "type_a")
      .join(broadcast(totals.select($"event_type".as("type_b"), $"n_t".as("n_b"))), "type_b")
      .crossJoin(broadcast(nSess))
      .select($"type_a", $"type_b", $"n_ab", $"n_a", $"n_b",
        expr("(n_ab * n_sessions * 1000000) div (n_a * n_b)").as("lift_ppm"))
  }

  /** q155: empirical-Bayes (Dirichlet-smoothed) per-source rates — the
    * fix for "this source is 100% English (n=3)": each source's
    * English rate shrinks toward the corpus rate with pseudo-count
    * m = 20, smoothed = (n_en·10⁶ + m·corpus_ppm) div (n + m). Small
    * sources land near the prior, large sources keep their data; the
    * ranking by smoothed rate is what a mixing policy should sort on,
    * not the raw ratio. All-integer (the corpus prior enters as its
    * already-truncated ppm — deterministic on any engine).
    *
    * Scale shape: one partial-agged groupBy to |sources| rows + a
    * one-row corpus prior broadcast. */
  def ebSmoothedRates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"))
    val prior = per.agg(sum($"n").as("nc"), sum($"n_en").as("nc_en"))
      .select(expr("(nc_en * 1000000) div nc").as("corpus_ppm"))
    per.crossJoin(broadcast(prior))
      .select($"source", $"n", $"n_en", $"corpus_ppm",
        expr("(n_en * 1000000) div n").as("raw_ppm"),
        expr("(n_en * 1000000 + 20 * corpus_ppm) div (n + 20)")
          .as("smoothed_ppm"))
  }

  /** q149: population-stability-index (PSI) drift between the first and
    * second half of the event stream, per event type — the production
    * drift metric for "did this feed's value distribution move?" (PSI
    * < 0.1 stable, > 0.25 action). Values bin into 10 equal-width
    * integer-centi-unit buckets from broadcast per-type bounds (q81's
    * binning, made exact by flooring value·100 to a long first); each
    * (p−q)·ln(p/q) term is offset-quantized at 1e6 (q87 recipe) and
    * summed order-free. Bins empty on either side are dropped (reported
    * in n_bins so the reader sees the support), the deterministic
    * alternative to the epsilon hack.
    *
    * Scale shape: map-only tag + two partial-agged groupBys bounded by
    * |types|×|bins|; bounds and half totals broadcast back. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mid = 1705363200000L // 2024-01-16T00:00Z, the stream midpoint
    val ev = Tables.events(spark, dir)
      .select($"event_type", floor($"value" * 100).cast("long").as("cv"),
        (unix_millis($"ts") < mid).as("first_half"))
    val bounds = ev.groupBy($"event_type")
      .agg(min($"cv").as("lo"), max($"cv").as("hi"))
    val binned = ev.join(broadcast(bounds), "event_type")
      .select($"event_type", $"first_half",
        expr("((cv - lo) * 10) div (hi + 1 - lo)").as("bin"))
      .groupBy($"event_type", $"bin")
      .agg(sum(when($"first_half", 1L).otherwise(0L)).as("a"),
        sum(when(!$"first_half", 1L).otherwise(0L)).as("b"))
    val tot = binned.groupBy($"event_type")
      .agg(sum($"a").as("na"), sum($"b").as("nb"))
    binned.join(broadcast(tot), "event_type")
      .where($"a" > 0 && $"b" > 0)
      .withColumn("term_q",
        floor((($"a" / $"na" - $"b" / $"nb")
          * log(($"a" / $"na") / ($"b" / $"nb"))) * 1000000 + lit(1.0 / 3))
          .cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_bins"), sum($"term_q").as("psi_q"))
  }

  /** q161: HyperLogLog distinct-user sketch per event type, with the
    * exact count alongside as the audit (the q133 pattern: the sketch
    * is the 100 TB path — 64 longs per group, mergeable across any
    * partitioning — and the estimate is checked against truth where
    * truth is still computable). Hand-rolled from first principles
    * (Flajolet et al. 2007): h = 60 md5 bits; register j = h mod 64;
    * rho = leading-zero rank of the remaining 54 bits. The harmonic-
    * mean denominator Σ 2^−M_j is computed EXACTLY as the bigint
    * Σ 2^(55−M_j) (every term a shift), so the only float step is the
    * final constant/S division — bit-identical across engines. The
    * small-range linear-counting branch (raw < 2.5m with empty
    * registers) quantizes its single ln at 1e4.
    *
    * Scale shape: two-phase partial agg — (type, register) max-rho,
    * then 64 rows per type fold into S; no distinct aggregation of the
    * raw stream anywhere on the sketch path. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = conv(substring(md5($"user_id".cast("string")), 1, 15), 16, 10)
      .cast("long")
    val regs = Tables.events(spark, dir)
      .select($"event_type", (h % 64).as("reg"), shiftright(h, 6).as("rest"))
      .withColumn("rho",
        when($"rest" === 0L, 55L)
          .otherwise(lit(55L) - length(bin($"rest")).cast("long")))
      .groupBy($"event_type", $"reg")
      .agg(max($"rho").as("m_j"))
    val sk = regs.groupBy($"event_type")
      .agg(sum(expr("shiftleft(1L, cast(55 - m_j AS int))")).as("s_obs"),
        count(lit(1)).as("n_regs"))
      // empty registers contribute 2^55 each (rho = 0)
      .withColumn("v_empty", lit(64L) - $"n_regs")
      .withColumn("s_sum",
        $"s_obs" + $"v_empty" * lit(36028797018963968L)) // 2^55
    // alpha_64·m²·2^55 = (709·4096/1000)·2^55. Both factors below are
    // integer-valued doubles (exact on parse in every engine — DuckDB
    // parses 2904.064 as DECIMAL, which would round differently), and
    // the op sequence (mul, div, div) is written identically in the
    // oracle so every IEEE step matches bit-for-bit.
    val raw = lit(2904064.0) * lit(36028797018963968.0) / $"s_sum" /
      lit(1000.0)
    val exact = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    sk
      .withColumn("est",
        when($"v_empty" > 0 && raw < 160.0,
          lit(64.0) * log(lit(64.0) / $"v_empty")) // linear counting
          .otherwise(raw))
      .withColumn("est_q", floor($"est" * 100).cast("long"))
      .join(exact, "event_type")
      .withColumn("err_ppm",
        expr("(abs(est_q - n_exact * 100) * 1000000) div (n_exact * 100)"))
      .select($"event_type", $"v_empty", $"s_sum", $"est_q", $"n_exact",
        $"err_ppm")
  }

  /** q168: SCD type-2 history build — the warehouse-side change-data
    * shape: each user's event stream collapses to VERSIONS (runs of
    * equal value), each with [valid_from, valid_to) effective range
    * and a version number; the open version has NULL valid_to. The
    * standard lag/lead islands pattern, all integer (value quantized
    * at 1e3, times in epoch ms).
    *
    * Scale shape: two windows per user partition (change detection,
    * then version numbering + lead) — per-group bounded work, the
    * partitioning every incremental SCD merge also uses. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tms", $"event_id")
    val changes = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("tms"),
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .withColumn("prev_vq", lag($"vq", 1).over(w))
      .where($"prev_vq".isNull || $"prev_vq" =!= $"vq")
    val wv = Window.partitionBy($"user_id").orderBy($"tms", $"event_id")
    changes
      .withColumn("version", row_number().over(wv).cast("long"))
      .withColumn("valid_to", lead($"tms", 1).over(wv))
      .select($"user_id", $"version", $"vq",
        $"tms".as("valid_from"), $"valid_to",
        $"valid_to".isNull.as("is_current"))
  }

  /** q170: mergeable histogram quantile sketch with exact audit (the
    * q161 pattern for ORDER statistics): per source, the p50/p90 of
    * document length estimated from a 32-bucket equi-width histogram —
    * the sketch that merges across any partitioning at 100 TB — next
    * to the exact percentiles while truth is still computable. All
    * integer: bucket = ((v−lo)·32) div (hi+1−lo); the estimate reports
    * the bucket's lower bound; exact pXX = min value with cumulative
    * count ≥ ceil(p·n) (type-1 quantile).
    *
    * Scale shape: global bounds partial-agg to one broadcast row; the
    * histogram partial-aggs to ≤|sources|×32 cells; cumulative windows
    * run on that bounded relation AND on the per-(source, value)
    * count relation (bounded by |distinct lengths|), never on raw
    * rows. */
  def histQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = Tables.documents(spark, dir).select($"source", $"n_chars")
    val bounds = v.agg(min($"n_chars").as("lo"), max($"n_chars").as("hi"))
    val hist = v.crossJoin(broadcast(bounds))
      .select($"source", $"lo", $"hi",
        expr("((n_chars - lo) * 32) div (hi + 1 - lo)").as("bucket"))
      .groupBy($"source", $"lo", $"hi", $"bucket")
      .agg(count(lit(1)).as("c"))
    val tot = hist.groupBy($"source").agg(sum($"c").as("n"))
    val wc = Window.partitionBy($"source").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum($"c").over(wc)).join(tot, "source")
    def estP(p: Int) = cum
      .where($"cum" * 100 >= $"n" * p)
      .groupBy($"source")
      .agg(min(expr("lo + (bucket * (hi + 1 - lo)) div 32"))
        .as(s"est_p$p"))
    // exact type-1 quantiles over the per-(source, value) relation
    val byVal = v.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cv = byVal.withColumn("cum", sum($"c").over(wv)).join(tot, "source")
    def exactP(p: Int) = cv
      .where($"cum" * 100 >= $"n" * p)
      .groupBy($"source")
      .agg(min($"n_chars").as(s"exact_p$p"))
    estP(50).join(estP(90), "source")
      .join(exactP(50), "source").join(exactP(90), "source")
      .select($"source", $"est_p50", $"exact_p50", $"est_p90", $"exact_p90")
  }

  /** q173: top session paths — the 10 most common opening sequences
    * (first 3 event types) of 30-minute-gap sessions: the navigation-
    * pattern mining a product or curriculum analysis starts from.
    * Sessions with fewer than 3 events don't form a path and drop out.
    *
    * Scale shape: sessionization is the per-user islands window; the
    * first-3 extraction is a rank cut inside the SAME partitioning
    * (no second shuffle); paths partial-agg to ≤|types|³ rows and the
    * top-10 is TakeOrderedAndProject. */
  def topSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
      .withColumn("new_sess",
        when($"prev_ts".isNull
          || unix_millis($"ts") - unix_millis($"prev_ts") > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy($"user_id", $"session_id")
      .orderBy($"ts".asc, $"event_id".asc)
    sess
      .withColumn("step", row_number().over(wSess))
      .where($"step" <= 3)
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_steps"),
        concat_ws(">",
          max(when($"step" === 1, $"event_type")),
          max(when($"step" === 2, $"event_type")),
          max(when($"step" === 3, $"event_type"))).as("path"))
      .where($"n_steps" === 3)
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path".asc)
      .limit(10)
  }

  /** q176: conversion attribution — for every `purchase` event, credit
    * its session's FIRST event type (first-touch) and the immediately
    * preceding event type (last-touch; a purchase opening its own
    * session credits `direct` in both models). The two standard
    * attribution models side by side, one row per touch type, exact
    * counts — the product-analytics twin of the q114 funnel.
    *
    * Scale shape: sessionization is the per-user islands window;
    * first/lag ride the SAME (user, session) partitioning with no
    * extra shuffle; the matrix partial-aggs to ≤|types| rows. */
  def touchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
      .withColumn("new_sess",
        when($"prev_ts".isNull
          || unix_millis($"ts") - unix_millis($"prev_ts") > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy($"user_id", $"session_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val credited = sess
      .withColumn("step", row_number().over(wSess))
      .withColumn("prev_type", lag($"event_type", 1).over(wSess))
      // session-first BEFORE the purchase filter — a window after the
      // filter would read "first PURCHASE of the session" instead
      .withColumn("sess_first", first($"event_type").over(
        wSess.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where($"event_type" === "purchase")
      .select(
        when($"step" === 1, "direct").otherwise($"sess_first")
          .as("first_touch"),
        coalesce($"prev_type", lit("direct")).as("last_touch"))
    val ft = credited.groupBy($"first_touch".as("touch_type"))
      .agg(count(lit(1)).as("n_first"))
    val lt = credited.groupBy($"last_touch".as("touch_type"))
      .agg(count(lit(1)).as("n_last"))
    ft.join(lt, Seq("touch_type"), "full_outer")
      .select($"touch_type",
        coalesce($"n_first", lit(0L)).as("n_first"),
        coalesce($"n_last", lit(0L)).as("n_last"))
  }

  /** q193: point-in-time feature/label generation — the temporal
    * feature-engineering shape every supervised pipeline over event
    * data needs, with LEAKAGE-FREE construction by design: at each of
    * four weekly cutoffs, per-user features come ONLY from the
    * trailing 7 days (strictly before the cutoff) and the label ONLY
    * from the following 7 days. Features: event count, purchase count,
    * distinct active types; label: any activity in the forward window.
    * Both windows are resolved in the SAME conditional aggregation, so
    * no join can mix them up.
    *
    * Scale shape: the stream is filtered to the union of the windows
    * BEFORE the |cutoffs|-fold broadcast explode; one partial-agged
    * groupBy on (cutoff, user) does everything. At 100 TB this is the
    * backfill shape: one scan per feature-store refresh, cutoffs
    * pruned into the date-partitioned scan. */
  def pitFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day = 86400000L
    // 2024-01-11 / 16 / 21 / 26 T00:00Z — weekly-ish cutoffs inside
    // the 30-day stream with full trailing and forward windows
    val cutoffs = Seq(1704931200000L, 1705363200000L,
      1705795200000L, 1706227200000L).toDF("cutoff_ms")
    Tables.events(spark, dir)
      .select($"user_id", unix_millis($"ts").as("tms"), $"event_type")
      .crossJoin(broadcast(cutoffs))
      .where($"tms" >= $"cutoff_ms" - 7 * day
        && $"tms" < $"cutoff_ms" + 7 * day)
      .withColumn("trailing", $"tms" < $"cutoff_ms")
      .groupBy($"cutoff_ms", $"user_id")
      .agg(
        sum(when($"trailing", 1L).otherwise(0L)).as("n_7d"),
        sum(when($"trailing" && $"event_type" === "purchase", 1L)
          .otherwise(0L)).as("n_purchase_7d"),
        countDistinct(when($"trailing", $"event_type")).as("n_types_7d"),
        max(when(!$"trailing", 1L).otherwise(0L)).as("label_next_7d"))
  }

  /** q197: RFM segmentation — the classic customer partition by
    * Recency (days since last order, vs the dataset horizon),
    * Frequency (order count) and Monetary (total spend in whole
    * currency units): each dimension is cut into quintiles and the
    * customer gets a 3-digit segment code (5=best). Quintiles are
    * VALUE-GROUP quintiles on each dimension's bounded value grid (the
    * q192 recipe: q = cum_better·5 div N + 1 over the grid, ties share
    * a code) — no per-customer ranking anywhere, and the assignment is
    * reproducible bit-for-bit. Output: per segment, customer count and
    * floored mean spend.
    *
    * Scale shape: orders partial-agg to the per-customer RFM relation;
    * each quintile cut runs on that dimension's bounded distinct-value
    * grid (days / counts / whole-currency amounts), broadcast back.
    * The final reduction is ≤ 125 segment rows. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val horizon = Tables.orders(spark, dir)
      .agg(max(unix_millis($"o_orderdate".cast("timestamp"))).as("h"))
    val rfm = Tables.orders(spark, dir)
      .groupBy($"o_custkey".as("custkey"))
      .agg(max(unix_millis($"o_orderdate".cast("timestamp"))).as("last_ms"),
        count(lit(1)).as("f"),
        sum(floor($"o_totalprice" + lit(1.0 / 3)).cast("long")).as("m"))
      .crossJoin(broadcast(horizon))
      .select($"custkey",
        expr("(h - last_ms) div 86400000").as("r"), $"f", $"m")
    // value-group quintile code: with the dimension ordered best-first,
    // code = 5 - (cum_better*5 div n) puts the best group at 5 and the
    // worst at 1; ties share a code
    def quintile(df: DataFrame, dim: String, bestIsLow: Boolean): DataFrame = {
      val grid = df.groupBy(col(dim)).agg(count(lit(1)).as("cnt"))
      val wBetter = Window.partitionBy(graft.functions.Win.bounded).orderBy(if (bestIsLow) col(dim).asc else col(dim).desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(graft.functions.Win.bounded).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      grid
        .withColumn("cum", coalesce(sum($"cnt").over(wBetter), lit(0L)))
        .withColumn("n", sum($"cnt").over(wAll))
        .select(col(dim), expr("5 - (cum * 5) div n").as(s"${dim}_q"))
    }
    rfm
      .join(broadcast(quintile(rfm, "r", bestIsLow = true)), "r")
      .join(broadcast(quintile(rfm, "f", bestIsLow = false)), "f")
      .join(broadcast(quintile(rfm, "m", bestIsLow = false)), "m")
      .withColumn("segment", $"r_q" * 100 + $"f_q" * 10 + $"m_q")
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_customers"), sum($"m").as("total_m"))
      .withColumn("mean_m", expr("total_m div n_customers"))
  }

  /** q226: Hill tail-index estimator — how heavy is each language's
    * document-length tail? alpha = k / Σ_{i≤k} ln(x_i / x_{k+1}) over the
    * top-k order statistics (Hill 1975): small alpha = Pareto-heavy tail,
    * the regime where q49-style packing and per-batch memory provisioning
    * break (a mean-based budget underestimates the tail's share). The
    * tail-RISK companion to q81's histogram and q105's MAD, which both
    * describe the bulk. k adapts to the group: min(10, (n−1) div 2), so
    * small groups still report.
    *
    * Exactness: each ln(x_i/x_{k+1}) term is floor-quantized to a long
    * BEFORE the sum (q87's associativity dodge); alpha is one double
    * division from (k, Σq), floored to milli.
    *
    * Scale shape: the rank window runs per language over the slim
    * (lang, n_chars, doc_id) projection — parallelism |langs|; for
    * extreme per-group volume the k-th order statistic swaps to q141's
    * cumulative-count-over-the-distinct-length-grid form with no raw
    * sort. Thresholds and k are |langs|-row broadcasts. */
  def hillTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"lang", $"n_chars".cast("long").as("x"), $"doc_id")
    val kk = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .select($"lang", $"n_docs",
        least(lit(10L), expr("(n_docs - 1) div 2")).as("k"))
    val r = docs.withColumn("rk", row_number().over(
      Window.partitionBy($"lang").orderBy($"x".desc, $"doc_id".asc))
      .cast("long"))
    val thr = r.join(broadcast(kk), "lang")
      .where($"rk" === $"k" + 1L)
      .select($"lang", $"k", $"n_docs", $"x".as("x_k1"))
    val est = r.join(broadcast(thr), "lang")
      .where($"rk" <= $"k")
      .select($"lang", $"k", $"n_docs", $"x_k1",
        floor(log($"x".cast("double") / $"x_k1") * 10000 + lit(1.0 / 3))
          .cast("long").as("lnq"))
      .groupBy($"lang")
      .agg(max($"k").as("k"), max($"n_docs").as("n_docs"),
        max($"x_k1").as("x_k1"), sum($"lnq").as("hill_sum_q"))
      .withColumn("alpha_milli",
        when($"hill_sum_q" > 0L,
          floor($"k".cast("double") * 1e7 / $"hill_sum_q" + lit(1.0 / 3))
            .cast("long")).otherwise(0L))
    // Groups with n < 3 have k = 0, so rk <= k matches nothing and est
    // drops them. Re-attach them from the |langs|-row kk relation with a
    // null threshold and alpha = 0 — "small groups still report" is a
    // promise about OUTPUT rows, not just about k adapting.
    kk.select($"lang", $"k", $"n_docs")
      .join(est.select($"lang", $"x_k1", $"hill_sum_q", $"alpha_milli"),
        Seq("lang"), "left")
      .select($"lang", $"k", $"n_docs", $"x_k1",
        coalesce($"hill_sum_q", lit(0L)).as("hill_sum_q"),
        coalesce($"alpha_milli", lit(0L)).as("alpha_milli"))
  }

  /** q218: Pareto skyline — the documents no other document dominates on
    * (length, lexical richness), i.e. the maximal frontier of the
    * length-vs-type-token-ratio trade-off a curation policy actually
    * chooses from (long docs repeat themselves; short docs are all-distinct
    * — the skyline is the "best of both" set no scalar score can rank).
    * Dominance: b dominates a iff b ≥ a on both dims and > on one; equal
    * points tie and both survive. Richness = 10⁶·|distinct tokens| div
    * |tokens|, computed map-side from the token array (no explode).
    *
    * Two-phase scale shape (the skyline literature's partition-and-merge):
    * phase 1 prunes each partition to its LOCAL skyline in one
    * `sortWithinPartitions` + single-pass `mapPartitions` scan — map-only,
    * no shuffle, and sound because global dominance implies local
    * dominance (a pruned point is dominated by a same-partition witness,
    * which dominates it globally too). Phase 2 runs the exact two-window
    * test on the surviving frontier candidates only: with x sorted
    * descending, a point is on the skyline iff its y strictly exceeds the
    * running max over strictly-greater x (integer range frame) and equals
    * the max within its own x. The global window is one partition, but its
    * input is the pruned frontier, not the corpus — at 100 TB the corpus
    * never reaches an ordered single-partition operator. */
  def paretoSkyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = TextOps.docsParallel(spark, dir)
      .select($"doc_id", $"n_chars".cast("long").as("n_chars"),
        expr("cast(size(array_distinct(split(text, ' '))) as bigint)" +
          " * 1000000 div size(split(text, ' '))").as("ttr_ppm"))
    val pruned = pts.as[(Long, Long, Long)]
      .sortWithinPartitions($"n_chars".desc, $"ttr_ppm".desc)
      .mapPartitions { rows =>
        // single in-order pass: maxStrict = best y among x' > current x
        // (folded in at each x-group boundary), groupTopY = the current
        // x-group's max y (its first row in y-desc order). Keep a row iff
        // no strictly-longer doc matches its richness AND it leads its
        // own length group — a conservative superset of the skyline.
        var maxStrict = Long.MinValue
        var curX = Long.MinValue
        var groupTopY = Long.MinValue
        var started = false
        rows.filter { case (_, x, y) =>
          if (!started || x != curX) {
            if (started) maxStrict = math.max(maxStrict, groupTopY)
            curX = x; groupTopY = y; started = true
            y > maxStrict
          } else y > maxStrict && y == groupTopY
        }
      }
      .toDF("doc_id", "n_chars", "ttr_ppm")
    val wStrict = Window.partitionBy(graft.functions.Win.bounded).orderBy($"n_chars".desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    pruned
      .withColumn("strict_max", max($"ttr_ppm").over(wStrict))
      .withColumn("samex_max", max($"ttr_ppm").over(
        Window.partitionBy($"n_chars")))
      .where(($"strict_max".isNull || $"ttr_ppm" > $"strict_max")
        && $"ttr_ppm" === $"samex_max")
      .select($"doc_id", $"n_chars", $"ttr_ppm")
  }
}
