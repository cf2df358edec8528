package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{SignalCatalog, SignalMeta}
import graft.operators.{AsOf, Interp}
import graft.operators.Relational.exact2
import graft.plans.{ParamLiteralsStrategy, Planner}
import graft.sources.Io

/** The engine's user-facing verbs (SURVEY §7.1 step 3) — the FDF access
  * idiom `nstx.s141000.mpts.te(time=(0.2,0.4))` re-expressed over long-
  * format signal tables `(shot, time, axis…, value[, value_err])`.
  *
  * Everything composes lazily into one Catalyst plan; axis-coordinate
  * coherence (SURVEY §2.2 P4 — slicing data slices axes) is free because
  * axes are columns of the same rows. Reading only the addressed shot's
  * directory (`ShotView`) replaces the reference's per-shot connection
  * fan-out.
  */
final case class Machine(spark: SparkSession, catalog: SignalCatalog,
    dataDir: String, logbook: Option[DataFrame] = None) {

  def shot(n: Int): ShotView = ShotView(this, n)

  /** Shot discovery (reference `get_shotlist`, `factory.py:596-633`):
    * one distributed union+distinct job, not a per-key query loop. */
  def shotlist(xps: Seq[Int] = Nil, dates: Seq[java.sql.Date] = Nil): DataFrame = {
    val lb = logbook.getOrElse(
      throw new IllegalStateException("machine has no logbook"))
    val live = lb.where(col("voided").isNull)
    val byXp = if (xps.nonEmpty) live.where(col("xp").isin(xps: _*)) else live.limit(0)
    val byDate = if (dates.nonEmpty) live.where(col("rundate").isin(dates: _*)) else live.limit(0)
    byXp.union(byDate).select(col("shot")).distinct().orderBy(col("shot"))
  }

  /** Per-shot metadata (reference `factory.py:438-455`): xp set and the
    * rundate of the earliest entry. */
  def shotMeta: DataFrame = {
    val lb = logbook.getOrElse(
      throw new IllegalStateException("machine has no logbook"))
    lb.where(col("voided").isNull)
      .groupBy(col("shot"))
      .agg(
        array_sort(collect_set(col("xp"))).as("xps"),
        min(struct(col("entered"), col("rundate"))).getField("rundate").as("date"))
  }
}

/** One shot of a machine. `signal` lists and reads only that shot's
  * directory when the signal is stored in the shot-directory layout
  * (`Io.readShots`), so a request costs the same however many shots the
  * warehouse holds; the flat `<name>.parquet` fallback is read whole. The
  * file relation is built from that one listing, with no DataSource
  * resolution, and its scan takes the Parquet reader its read shape
  * shares with earlier requests (`Io.scan`): a request pays for no
  * Hadoop-configuration broadcast of its own.
  *
  * `signal` is also where the signal access path registers
  * `graft.plans.ParamLiteralsStrategy` on the machine's session
  * (idempotent; the SQL path registers it in `GraftTableCatalog`), so the
  * windows, channels, scale factors and points of later verbs do not
  * compile a new class per request. */
final case class ShotView(machine: Machine, shotNo: Int) {
  def signal(qualifiedName: String): SignalFrame = {
    Planner.register(machine.spark, strategies = Seq(ParamLiteralsStrategy()))
    val meta = machine.catalog.signal(qualifiedName)
    val (path, schema) = Io.signal(machine.spark, machine.dataDir, meta.qualifiedName)
    SignalFrame(meta, Io.readShots(machine.spark, path, schema, Seq(shotNo)))
  }
}

/** A lazily-composed view of one signal's samples. All verbs return new
  * SignalFrames over the same plan; `.df` escapes to the raw DataFrame. */
final case class SignalFrame(meta: SignalMeta, df: DataFrame) {

  private def chain(d: DataFrame): SignalFrame = copy(df = d)

  /** Range slice on an axis — `sig(time=(lo, hi))` (SURVEY P5/P9). */
  def slice(axis: String, lo: Double, hi: Double): SignalFrame =
    chain(df.where(col(axis).between(lo, hi)))

  /** Point slice at the nearest sample — `sig(time=0.25)` with numpy
    * first-minimum tie-break (SURVEY P5/A3). */
  def at(axis: String, value: Double): SignalFrame =
    chain(AsOf.nearest(df, axis, value, Seq("shot")))

  /** Channel subset (SURVEY G2 fan-out becomes a predicate). */
  def channels(ch: Seq[Int]): SignalFrame =
    chain(df.where(col("channel").isin(ch: _*)))

  /** Unit transform: value -> value * k (the `_postprocess` scaling
    * family, e.g. cm->m `/100`). Error column scales with it. */
  def scaled(k: Double): SignalFrame = {
    val scaledErr =
      if (df.columns.contains("value_err"))
        Seq((col("value_err") * k).as("value_err"))
      else Nil
    val others = df.columns.filterNot(c => c == "value" || c == "value_err").map(col)
    chain(df.select(others ++ Seq((col("value") * k).as("value")) ++ scaledErr: _*))
  }

  /** DC-baseline removal: subtract the mean of the first n samples per
    * (shot[, channel]) trace — the usxr postprocess (SURVEY A1/W4). */
  def dcRemoved(n: Int): SignalFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("shot") ++ (if (df.columns.contains("channel")) Seq("channel") else Nil)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col("time").asc)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val based = df
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__base",
        avg(when(col("__rn") <= n, col("value"))).over(wAll))
    chain(based
      .withColumn("value", col("value") - col("__base"))
      .drop("__rn", "__base"))
  }

  /** Series identity for per-trace verbs: shot, plus channel when the
    * frame has one — a multi-channel frame must never mix channels into
    * one series (Interp's (key, t)-unique contract). Returns the keyed
    * 3-column sample projection, the key column name, and a restore
    * function that splits the composite key back into typed columns. */
  private def seriesKey(axis: String): (DataFrame, String, DataFrame => DataFrame) = {
    val keys = Seq("shot") ++ (if (df.columns.contains("channel")) Seq("channel") else Nil)
    if (keys.size == 1)
      (df.select(col("shot"), col(axis), col("value")), "shot", identity[DataFrame])
    else {
      // a STRUCT key, not a delimited string: a delimiter character
      // occurring inside a channel/shot value would mis-split on restore
      // and corrupt the key columns — struct fields round-trip values and
      // types exactly, and group/window on a struct is native
      val samples = df.select(
        struct(keys.map(col): _*).as("__k"), col(axis), col("value"))
      val restore = (out: DataFrame) => keys.foldLeft(out) {
        (d, kn) => d.withColumn(kn, col(s"__k.$kn"))
      }.drop("__k")
      (samples, "__k", restore)
    }
  }

  /** Resample the signal onto an evenly spaced grid `[lo, hi]` step
    * `step` by linear interpolation between bracketing samples — the
    * continuous counterpart of `at()`'s nearest-sample snap. Grid points
    * outside the sampled range are dropped. One shuffle by series key
    * (Interp.linear's union+window pattern), no join fan-out. */
  def resample(axis: String, lo: Double, hi: Double, step: Double): SignalFrame = {
    val (samples, k, restore) = seriesKey(axis)
    // sequence() is integral-only: generate grid indices, then lo + i*step
    val nSteps = math.floor((hi - lo) / step + 1e-9).toLong
    val probes = samples.select(col(k)).distinct()
      .select(col(k), explode(sequence(lit(0L), lit(nSteps))).as("__i"))
      .select(col(k), (lit(lo) + col("__i") * step).as(axis))
    chain(restore(Interp.linear(samples, probes, k, axis, "value")))
  }

  /** Resample by forward-fill (LOCF) instead of interpolation: each grid
    * point carries the latest sample at-or-before it plus a `staleness`
    * column — the gap-fill verb for step-like signals (valve states,
    * mode flags) where interpolation would invent values. Grid points
    * before the first sample are dropped. Same single-sort pattern,
    * same per-(shot, channel) series identity as resample. */
  def fillForward(axis: String, lo: Double, hi: Double, step: Double): SignalFrame = {
    val (samples, k, restore) = seriesKey(axis)
    val nSteps = math.floor((hi - lo) / step + 1e-9).toLong
    val probes = samples.select(col(k)).distinct()
      .select(col(k), explode(sequence(lit(0L), lit(nSteps))).as("__i"))
      .select(col(k), (lit(lo) + col("__i") * step).as(axis))
    chain(restore(Interp.locf(samples, probes, k, axis, "value")))
  }

  /** Least-squares linear trend of `value` over `axis` per (shot[,
    * channel]) — the drift/ramp-rate extraction verb (slope in
    * value-units per axis-unit). BOTH the axis and the value are rebased
    * to their per-series minima before the decimal cast, so
    * large-magnitude inputs (an epoch-ms time base or a raw-counter
    * value, ~1e12) stay inside decimal(18,6)'s domain instead of
    * silently nulling out of the sums while count() still counts them
    * (slope is shift-invariant in both coordinates; the intercept is
    * shifted back so it remains the value at axis = 0). Two-phase shape:
    * a |series|-row min agg broadcast back onto the fact, then one
    * partial-aggregated shuffle — the fact table streams twice but never
    * re-shuffles raw rows (the q72/q73 stats-broadcast pattern). */
  def trend(axis: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val keys = Seq("shot") ++ (if (df.columns.contains("channel")) Seq("channel") else Nil)
    val kc = keys.map(col)
    val raw = df.select(kc :+ col(axis).as("__x") :+ col("value").as("__y"): _*)
    val mins = raw.groupBy(kc: _*)
      .agg(min(col("__x")).as("__x0"), min(col("__y")).as("__y0"))
    val b = raw.join(broadcast(mins), keys)
      .select(kc ++ Seq(
        (col("__x") - col("__x0")).cast(DecimalType(18, 6)).as("xd"),
        (col("__y") - col("__y0")).cast(DecimalType(18, 6)).as("yd"),
        col("__x0").cast("double").as("x0"),
        col("__y0").cast("double").as("y0")): _*)
    val s = b.groupBy(kc: _*).agg(
      count(lit(1)).as("n"),
      sum(col("xd")).cast("double").as("sx"),
      sum(col("yd")).cast("double").as("sy"),
      exact2(sum(col("xd") * col("xd"))).as("sxx"),
      exact2(sum(col("xd") * col("yd"))).as("sxy"),
      first(col("x0")).as("x0"),
      first(col("y0")).as("y0"))
    val det = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / det
    // fit is in (x - x0, y - y0) coordinates; undo both shifts at axis = 0
    val interceptShifted = (col("sy") - slope * col("sx")) / col("n")
    s.where(col("n") >= 2 && det =!= 0.0)
      .select(kc ++ Seq(col("n"), slope.as("slope"),
        (interceptShifted - slope * col("x0") + col("y0")).as("intercept")): _*)
  }

  /** Power spectrum of each series' first `n` samples in `axis` order —
    * the reference's per-signal FFT method surface (`fdf/modules/bes/
    * fft.py:3-9`, which transforms against the signal's time base) as a
    * frame verb: one row per (series, bin), |X_k|^2 from the native
    * radix-2 FFT expression, PLUS the physical frequency axis
    * `freq = bin / (n * dt)` where dt is the series' median sample
    * spacing (median, not mean: robust to a few dropped samples in an
    * otherwise uniform trace). Series shorter than `n` are dropped (a
    * partial window would alias). One shuffle to gather bounded traces;
    * the transform itself is map-only per row. */
  def spectrum(axis: String, n: Int): SignalFrame = {
    import org.apache.spark.sql.expressions.Window
    val (samples, k, restore) = seriesKey(axis)
    val w = Window.partitionBy(col(k)).orderBy(col(axis).asc)
    val traces = samples
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .groupBy(col(k))
      .agg(array_sort(collect_list(struct(col("__rn"), col(axis).as("__t"),
        col("value")))).as("__s"))
      .where(size(col("__s")) === n)
      .select(col(k),
        transform(col("__s"), x => x.getField("value")).as("__trace"),
        transform(col("__s"), x => x.getField("__t")).as("__ax"))
    // median of the n-1 consecutive axis deltas (1-based lower median)
    val deltas = array_sort(transform(sequence(lit(1), lit(n - 1)),
      i => element_at(col("__ax"), i + 1) - element_at(col("__ax"), i)))
    chain(restore(traces
      .withColumn("__dt", element_at(deltas, n / 2))
      .select(col(k), col("__dt"),
        posexplode(graft.functions.Fft.powerSpectrum(col("__trace")))
          .as(Seq("bin", "power")))
      .select(col(k), col("bin"),
        (col("bin") / (col("__dt") * n)).as("freq"), col("power"))))
  }

  /** Aggregate over the current slice (SURVEY A2: sub-block max etc.). */
  def aggValue(f: Column => Column): DataFrame =
    df.agg(f(col("value")).as("agg"))

  /** Bounded collect of one trace to the driver — the plot-sink boundary
    * (SURVEY S11): the engine computes, the client renders. */
  def collectTrace(maxRows: Int = 1000000): Array[org.apache.spark.sql.Row] = {
    val n = df.count()
    require(n <= maxRows, s"trace has $n rows; refusing driver collect > $maxRows")
    df.orderBy(meta.axes.map(col): _*).collect()
  }
}
