package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Time-series screening operators over the event stream: change-point
  * localization (CUSUM) and spike repair (Hampel filter) — the two
  * standard pre-training sanity passes over instrumented metrics
  * (reference analog: the per-signal despike/baseline passes the fdf
  * modules run before physics analysis, e.g. fdf/modules/bes/fft.py's
  * windowed pre-conditioning).
  *
  * Both stay integer-exact end-to-end: values are offset-quantized once
  * (`floor(v*1000 + 1/3)`, the q36 recipe) and every downstream stat is
  * integer arithmetic, so the DuckDB differential gates on hash. */
object Timeseries {

  /** q118: CUSUM change-point — for each event_type, the row where the
    * cumulative deviation from the series mean peaks. To stay integer
    * we scale by n: cusum_k = n·Σ_{i≤k} vq_i − k·Σ vq  (= n·Σ(vq_i−μ)).
    * Magnitudes: vq ≤ ~5.6e5, n ≤ 2e4/type at sf0.1 → |cusum| ≤ ~2e14,
    * far inside int64.
    *
    * Scale shape — TWO-PHASE distributed prefix sum (the classic scan
    * decomposition), not a single per-type ordered window: a window
    * partitioned by type alone caps parallelism at |types| tasks and
    * was measured going linear in the events ScaleSmoke (7x wall at
    * 30x data). Instead the series is segmented by day; phase 1 runs
    * the prefix sum INSIDE each (type, day) segment (parallelism =
    * |types|×|days| tasks), phase 2 prefix-sums the bounded
    * segment-total relation and rebases each segment by its exclusive
    * offset (broadcast back). Output is bit-identical to the global
    * window — integer sums reassociate freely. The argmax stays a
    * WindowGroupLimit (rank ≤ 1), not a global sort. */
  def cusumChangePoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cusumOn(Tables.events(spark, dir)
      .select($"event_type", $"event_id", unix_millis($"ts").as("tms"),
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq")))
  }

  /** Testable core over any `(event_type, event_id, tms, vq)` relation. */
  private[graft] def cusumOn(series: DataFrame,
      segMs: Long = 86400000L): DataFrame = {
    import series.sparkSession.implicits._
    val v = series.withColumn("seg", expr(s"tms div ${segMs}L"))
    val stats = v.groupBy($"event_type")
      .agg(sum($"vq").as("s"), count(lit(1)).as("n"))
    // phase 1: prefix inside each (type, day) segment — wide parallelism
    val wSeg = Window.partitionBy($"event_type", $"seg")
      .orderBy($"tms", $"event_id")
    val inSeg = v
      .withColumn("cum_seg",
        sum($"vq").over(wSeg.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn_seg", row_number().over(wSeg).cast("long"))
    // phase 2: exclusive running offsets over the bounded segment-total
    // relation (|types|×|days| rows), broadcast back onto the stream
    val wOff = Window.partitionBy($"event_type").orderBy($"seg")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = v.groupBy($"event_type", $"seg")
      .agg(sum($"vq").as("seg_s"), count(lit(1)).as("seg_n"))
      .select($"event_type", $"seg",
        coalesce(sum($"seg_s").over(wOff), lit(0L)).as("off_s"),
        coalesce(sum($"seg_n").over(wOff), lit(0L)).as("off_n"))
    val cum = inSeg
      .join(broadcast(offsets), Seq("event_type", "seg"))
      .join(broadcast(stats), "event_type")
      .withColumn("cusum",
        $"n" * ($"cum_seg" + $"off_s") - ($"rn_seg" + $"off_n") * $"s")
    val best = Window.partitionBy($"event_type")
      .orderBy(abs($"cusum").desc, $"event_id")
    cum.withColumn("rk", row_number().over(best))
      .where($"rk" === 1)
      .select($"event_type", $"event_id".as("cp_event_id"),
        $"tms".as("cp_tms"), abs($"cusum").as("max_abs_cusum"), $"n")
  }

  /** q119: Hampel despike — per event_type, a centered 5-row window
    * (±2) rolling median and MAD; a point deviating from the window
    * median by more than 3×MAD is a spike and is replaced by the
    * median. All stats ride a ×2 integer scale so half-integer medians
    * of even-sized edge windows stay exact: for the sorted window a of
    * size k, med2 = a[(k+1)/2] + a[k/2+1] (1-based) = 2×median, and
    * mad4 = med2 of |2·vq_i − med2| = 4×MAD; the spike test
    * |x−med| > 3·MAD becomes 2·|2·vq − med2| > 3·mad4.
    *
    * Scale shape — BUCKETED window with halo rows, not a single
    * per-type ordered window (which caps parallelism at |types| tasks;
    * measured 14.5x wall at 30x data in the events ScaleSmoke). The
    * series is segmented by day; each segment's first/last 2 rows are
    * replicated to the previous/next TWO NON-EMPTY segments (adjacency
    * from the bounded (type, seg) relation — a time-gap can leave whole
    * days empty, so seg±1 routing would drop true neighbors; and a
    * 1-row segment means the 2nd-nearest neighbor lives two non-empty
    * segments away — two hops always suffice because every non-empty
    * segment holds ≥1 row). The ±2 window then runs inside each
    * augmented segment: every home row's two nearest predecessors/
    * successors are present and order-interleave correctly (surplus
    * halo rows land at frame distance ≥3 and never displace a true
    * neighbor), so output is bit-identical to the global window while
    * parallelism is |types|×|days| tasks. Only home rows are emitted. */
  def hampelDespike(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hampelOn(Tables.events(spark, dir)
      .select($"event_type", $"event_id", unix_millis($"ts").as("tms"),
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq")))
  }

  /** Testable core over any `(event_type, event_id, tms, vq)` relation. */
  private[graft] def hampelOn(series: DataFrame,
      segMs: Long = 86400000L): DataFrame = {
    import series.sparkSession.implicits._
    val v = series.withColumn("seg", expr(s"tms div ${segMs}L"))
    // non-empty segment adjacency (bounded: |types|×|days| rows)
    val wAdj = Window.partitionBy($"event_type").orderBy($"seg")
    val adj = v.groupBy($"event_type", $"seg").agg(count(lit(1)).as("_c"))
      .select($"event_type", $"seg",
        lag($"seg", 1).over(wAdj).as("prev_seg"),
        lag($"seg", 2).over(wAdj).as("prev2_seg"),
        lead($"seg", 1).over(wAdj).as("next_seg"),
        lead($"seg", 2).over(wAdj).as("next2_seg"))
    val wSegA = Window.partitionBy($"event_type", $"seg")
      .orderBy($"tms".asc, $"event_id".asc)
    val wSegD = Window.partitionBy($"event_type", $"seg")
      .orderBy($"tms".desc, $"event_id".desc)
    val home = v.select($"event_type", $"seg", $"event_id", $"tms",
      $"vq", lit(true).as("is_home"))
    // first-2 rows -> previous two non-empty segments; last-2 -> next
    // two. ONE evaluation of the boundary-rank subtree: each boundary
    // row explodes to its target list (nulls at series edges drop out)
    val routed = v
      .withColumn("rka", row_number().over(wSegA))
      .withColumn("rkd", row_number().over(wSegD))
      .where($"rka" <= 2 || $"rkd" <= 2)
      .join(broadcast(adj), Seq("event_type", "seg"))
      .select($"event_type", $"event_id", $"tms", $"vq",
        explode(concat(
          when($"rka" <= 2, array($"prev_seg", $"prev2_seg"))
            .otherwise(array().cast("array<long>")),
          when($"rkd" <= 2, array($"next_seg", $"next2_seg"))
            .otherwise(array().cast("array<long>")))).as("seg"))
      .where($"seg".isNotNull)
      .select($"event_type", $"seg", $"event_id", $"tms", $"vq",
        lit(false).as("is_home"))
    val aug = home.unionByName(routed)
    val w = Window.partitionBy($"event_type", $"seg")
      .orderBy($"tms", $"event_id").rowsBetween(-2, 2)
    val mid1 = ((size($"a") + 1) / 2).cast("int")
    val mid2 = (size($"a") / 2 + 1).cast("int")
    aug.withColumn("a", array_sort(collect_list($"vq").over(w)))
      .where($"is_home")
      .withColumn("med2", element_at($"a", mid1) + element_at($"a", mid2))
      .withColumn("b",
        array_sort(transform($"a", x => abs(x * 2 - $"med2"))))
      .withColumn("mad4", element_at($"b", mid1) + element_at($"b", mid2))
      .withColumn("is_spike",
        when(abs($"vq" * 2 - $"med2") * 2 > $"mad4" * 3, 1L).otherwise(0L))
      .withColumn("clean2",
        when($"is_spike" === 1, $"med2").otherwise($"vq" * 2))
      .select($"event_type", $"event_id", $"tms", $"vq",
        $"med2", $"mad4", $"is_spike", $"clean2")
  }

  /** q134: Kaplan–Meier survival curve over user lifetimes — duration =
    * hours between a user's first and last event; a user whose last
    * event falls within 12 h of the corpus horizon is CENSORED (still
    * active), everyone else churned. (12 h, not a multi-day window: the
    * synthetic corpus spans ~30 days with high per-user event density,
    * so a longer window censors every user and the curve is empty.) Per distinct event time t:
    * at-risk n(t), churn events d(t), censored c(t), and the running
    * log-survival ln S(t) = Σ ln(1 − d/n) — each term offset-quantized
    * to a long at 1e6 (the q87 ln recipe; safe here because ln of a
    * rational ≠ 1 is transcendental, so it cannot sit ON a k+1/3
    * boundary) and cum-summed in the deterministic t order. Rows where
    * d = n (survival hits exactly 0, ln −∞) are excluded by both
    * engines identically: the curve is reported while S > 0.
    *
    * Scale shape: the corpus reduces via one per-user partial agg; the
    * risk-set cumsum and the log-survival window run on the DISTINCT-
    * duration relation, bounded by the time grid, never by users. */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", unix_millis($"ts").as("t"))
    val u = ev.groupBy($"user_id")
      .agg(min($"t").as("tmin"), max($"t").as("tmax"))
    val durs = u.crossJoin(broadcast(ev.agg(max($"t").as("t_end"))))
      .select(expr("(tmax - tmin) div 3600000").as("dur_h"),
        when($"t_end" - $"tmax" < 43200000L, 1L).otherwise(0L).as("cens"))
    val byT = durs.groupBy($"dur_h")
      .agg(count(lit(1)).as("m"), sum(lit(1L) - $"cens").as("d"),
        sum($"cens").as("c"))
    // constant partition key: windows over the bounded distinct-duration
    // relation (q53's explicit-spec idiom)
    val wPrev = Window.partitionBy(graft.functions.Win.bounded).orderBy($"dur_h")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(graft.functions.Win.bounded)
    val wCum = Window.partitionBy(graft.functions.Win.bounded).orderBy($"dur_h")
      .rowsBetween(Window.unboundedPreceding, 0)
    byT
      .withColumn("n_risk",
        sum($"m").over(wAll) - coalesce(sum($"m").over(wPrev), lit(0L)))
      .where($"d" > 0 && $"d" < $"n_risk")
      .withColumn("term_q",
        floor(log(($"n_risk" - $"d") / $"n_risk") * 1000000 + lit(1.0 / 3))
          .cast("long"))
      .withColumn("surv_lnq", sum($"term_q").over(wCum))
      .select($"dur_h", $"n_risk", $"d", $"c", $"surv_lnq")
  }

  /** q139: first-order Markov transition audit over per-user event
    * sequences — the (prev → next) transition matrix with row-normalized
    * probability and the independence baseline side by side. A sequence
    * model's training data review reads exactly this: p_ppm far from
    * exp_ppm (the marginal of `next` over all transitions) marks the
    * transitions that carry signal; p_ppm ≈ exp_ppm everywhere means the
    * event stream is order-free and sequence modeling it is wasted
    * compute. All integer-ppm, truncation identical in both engines.
    *
    * Scale shape: ONE window partitioned on user_id (lag-1 per user,
    * parallel at any width), one partial-agged groupBy to the
    * |types|² = 25-row matrix; the row/marginal totals are broadcast
    * joins of ≤ 25-row aggregates of that matrix. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .where($"prev".isNotNull)
      .groupBy($"prev", $"event_type".as("next"))
      .agg(count(lit(1)).as("n"))
    val rowTot = trans.groupBy($"prev").agg(sum($"n").as("row_total"))
    val colTot = trans.groupBy($"next").agg(sum($"n").as("next_total"))
    val grand = trans.agg(sum($"n").as("grand_total"))
    trans.join(broadcast(rowTot), "prev")
      .join(broadcast(colTot), "next")
      .crossJoin(broadcast(grand))
      .select($"prev", $"next", $"n", $"row_total",
        expr("(n * 1000000) div row_total").as("p_ppm"),
        expr("(next_total * 1000000) div grand_total").as("exp_ppm"))
  }

  /** q145: conditional entropy H(next | prev) per state — how
    * predictable each event type's successor is (the entropy-rate view
    * of q139's matrix; near log|types| nats means a sequence model has
    * nothing to learn from that state). Each term −p·ln p with
    * p = n/row_total is offset-quantized to a long at 1e6 BEFORE the
    * per-state sum (the q87 recipe: the 1/3 offset keeps lattice values
    * off floor boundaries, the quantum absorbs cross-libm ln wobble,
    * and sum-of-longs is shuffle-order-free).
    *
    * Scale shape: everything after the one corpus-reducing groupBy runs
    * on the |types|²-bounded transition relation. */
  /** q151: Theil–Sen robust trend — the median of all pairwise slopes
    * of the hourly event-count series per type. Unlike q74's least
    * squares, a 29% outlier fraction (instrumentation gaps, backfill
    * bursts) cannot move it. Slopes are exact-rational inputs ((c_j −
    * c_i)/(h_j − h_i), both longs) evaluated as identical IEEE doubles
    * in both engines; the median element is picked by a deterministic
    * (slope, h_i, h_j) rank, then offset-quantized.
    *
    * Scale shape: the corpus reduces to the BOUNDED hourly relation
    * (one partial-agged groupBy); the pair join and rank run on |hours|²
    * per type (720 hours → 259k pairs — trivial). For multi-year feeds
    * the documented variant is the repeated-median or a coarser grid;
    * the corpus itself is never paired. Round 7: the hourly relation is
    * explicitly repartition(8, event_type)-ed — an EXPLICIT width AQE
    * must respect (its byte-based coalescing sees a 0.1 MB exchange and
    * was collapsing the whole pair pipeline onto ONE core) — so the
    * self-join output is born event_type-partitioned and the rank
    * window runs with no pair exchange; n_pairs = C(n_hours, 2) comes
    * from the hourly counts (no count-window second sort, no pair-
    * stream shuffle anywhere). An all-array rewrite was 2x WORSE (259k
    * interpreted struct allocs per type) — rejected. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, dir)
      .groupBy($"event_type",
        expr("unix_millis(ts) div 3600000").as("h"))
      .agg(count(lit(1)).as("c"))
      .repartition(8, $"event_type")
    val np = hourly.groupBy($"event_type").agg(count(lit(1)).as("nh"))
      .select($"event_type", expr("(nh * (nh - 1)) div 2").as("n_pairs"))
    val pairs = hourly.as("a").join(hourly.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.h" < $"b.h")
      .select($"a.event_type".as("event_type"), $"a.h".as("ha"), $"b.h".as("hb"),
        (($"b.c" - $"a.c") / ($"b.h" - $"a.h")).as("slope"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"slope", $"ha", $"hb")
    pairs.withColumn("rk", row_number().over(w))
      .join(broadcast(np), "event_type")
      .where($"rk" === expr("(n_pairs + 1) div 2"))
      .select($"event_type", $"n_pairs",
        floor($"slope" * 1000000 + lit(1.0 / 3)).cast("long").as("med_slope_q"))
  }

  /** q152: hour-of-day seasonal profile — how much of each event type's
    * value variance the daily cycle explains (eta² = SS_between/SS_total
    * over the 24 hour-of-day bins), plus the peak hour. The q60 exact-
    * decimal discipline throughout: per-bin sums are decimals floored to
    * centi-units BEFORE any double cast (decimal→double rescaling is
    * the one step engines disagree on), the 24 per-bin ratio terms
    * quantize to longs before the order-free sum, and the peak hour is
    * an integer-division mean score (ties → later hour, via struct
    * max).
    *
    * Scale shape: two partial-agged groupBys (per (type, hod), per
    * type); everything after runs on ≤ 24 rows per type. */
  def hourOfDayProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, dir).select($"event_type",
      expr("(unix_millis(ts) div 3600000) % 24").as("hod"),
      $"value".cast("decimal(18,6)").as("xd"))
    val byH = b.groupBy($"event_type", $"hod")
      .agg(count(lit(1)).as("nh"), sum($"xd").as("sh"))
      .select($"event_type", $"hod", $"nh",
        // per-bin S_h²/n_h quantized to centi-units (identical doubles
        // both engines: exact2 is integer-derived, the division is one
        // correctly-rounded IEEE op) then summed as longs — order-free
        floor(Relational.exact2($"sh" * $"sh") / $"nh" * 100).cast("long").as("ssb_cq"),
        expr("(cast(floor(sh * 100) as bigint) * 1000000) div nh").as("mean_cq"))
    val between = byH.groupBy($"event_type")
      .agg(sum($"ssb_cq").as("ssb_cq"),
        max(struct($"mean_cq", $"hod")).as("peak"))
    val g = b.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"xd").cast("double").as("s"),
      Relational.exact2(sum($"xd" * $"xd")).as("q"))
    g.join(between, "event_type")
      .select($"event_type", $"n",
        $"peak.hod".as("peak_hod"), $"peak.mean_cq".as("peak_mean_cq"),
        // degenerate guard: a constant-value type has SS_total = 0 and
        // the raw division yields NaN/Inf, whose floor/cast semantics
        // differ across engines — emit 0 explicitly (same guard in the
        // oracle; quantization can push the denom epsilon-negative, so
        // guard on <= 0, not == 0)
        when($"q" - $"s" * $"s" / $"n" <= 0, lit(0L))
          .otherwise(floor((($"ssb_cq" / 100.0 - $"s" * $"s" / $"n")
            / ($"q" - $"s" * $"s" / $"n")) * 1000000).cast("long"))
          .as("eta2_ppm"))
  }

  /** q153: Mann–Kendall trend test — the significance companion to
    * q151's Theil–Sen slope: S = Σ_{i<j} sign(c_j − c_i) over the
    * hourly count series, with the tie-corrected variance
    * Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18 reported on an
    * 18× integer scale (no sqrt, no floats anywhere — the reader
    * compares S² · 18 against z²·var18 for any z they care about).
    * |S| large relative to sqrt(Var) ⇒ the monotonic trend q151
    * measured is real, not noise.
    *
    * Scale shape: q151's — corpus → bounded hourly relation → pair
    * join and tie histogram on |hours|² / |distinct counts|. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, dir)
      .groupBy($"event_type",
        expr("unix_millis(ts) div 3600000").as("h"))
      .agg(count(lit(1)).as("c"))
    val s = hourly.as("a").join(hourly.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.h" < $"b.h")
      .groupBy($"a.event_type".as("event_type"))
      .agg(sum(signum($"b.c" - $"a.c").cast("long")).as("s_stat"))
    val n = hourly.groupBy($"event_type").agg(count(lit(1)).as("n_points"))
    val ties = hourly.groupBy($"event_type", $"c")
      .agg(count(lit(1)).as("t"))
      .where($"t" > 1L)
      .groupBy($"event_type")
      .agg(sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)).as("tie18"))
    s.join(n, "event_type")
      .join(ties, Seq("event_type"), "left")
      .select($"event_type", $"n_points", $"s_stat",
        ($"n_points" * ($"n_points" - 1L) * (lit(2L) * $"n_points" + 5L)
          - coalesce($"tie18", lit(0L))).as("var18"))
  }

  /** q154: Lorenz curve of event volume by user decile — the
    * distributional picture behind q148's single Gini number: sort
    * users by activity, cut into 10 equal-user deciles, report each
    * decile's cumulative share of users and events in ppm. "The top
    * decile holds 40% of events" is the sentence a sampling-strategy
    * review actually needs. Exact integers throughout: deciles are
    * assigned by user RANK (ties broken by activity level order inside
    * the count histogram — deterministic), shares by integer division.
    *
    * Scale shape: q148's — per-user counts partial-agg to the
    * count-of-counts histogram; decile assignment explodes each
    * histogram run across at most the 10 deciles it straddles
    * (sequence() over a bounded range), never per user. */
  def lorenzDeciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("m"))
    // constant partition key over the bounded activity-level histogram
    val w = Window.partitionBy(graft.functions.Win.bounded).orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = h.agg(sum($"m").as("n_users"), sum($"v" * $"m").as("n_events"))
    // a histogram run [s, s+m) of users with activity v may straddle
    // decile boundaries: explode it into its per-decile slices
    val sliced = h
      .withColumn("s", coalesce(sum($"m").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("d", explode(sequence(
        expr("(s * 10) div n_users"),
        expr("((s + m - 1) * 10) div n_users"))))
      // integer ceil: ceil(d·n/10) = (d·n + 9) div 10 — no doubles in
      // the boundary arithmetic on either engine
      .withColumn("lo", greatest($"s", expr("(d * n_users + 9) div 10")))
      .withColumn("hi", least($"s" + $"m",
        expr("((d + 1) * n_users + 9) div 10")))
      .where($"hi" > $"lo")
      .groupBy($"d")
      .agg(sum(($"hi" - $"lo") * $"v").as("dec_events"),
        sum($"hi" - $"lo").as("dec_users"))
    val wc = Window.partitionBy(graft.functions.Win.bounded).orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, 0)
    sliced.crossJoin(broadcast(tot))
      .withColumn("cum_users", sum($"dec_users").over(wc))
      .withColumn("cum_events", sum($"dec_events").over(wc))
      .select($"d".as("decile"), $"dec_users", $"dec_events",
        expr("(cum_users * 1000000) div n_users").as("cum_users_ppm"),
        expr("(cum_events * 1000000) div n_events").as("cum_events_ppm"))
  }

  /** q156: per-user sequence surprisal under the global transition
    * model — the bot/automation screen of behavioral training data: a
    * user whose event sequence is far MORE predictable than the
    * population's transition matrix implies (avg surprisal well under
    * the model entropy) is a scripted client, and one far above is
    * noise; both get flagged before the corpus trains a sequence
    * model. Each transition's −ln p(next|prev) is the q87-quantized
    * long of the 25-row matrix (computed once, broadcast back); per-
    * user sums are order-free.
    *
    * Scale shape: the transition matrix is |types|²-bounded; tagging
    * every user transition with its term is a broadcast join onto the
    * lag stream; the per-user reduce is one partial-agged groupBy on
    * the natural key. */
  def userSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val seq = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .where($"prev".isNotNull)
      .select($"user_id", $"prev", $"event_type".as("next"))
    val model = seq.groupBy($"prev", $"next").agg(count(lit(1)).as("n"))
    val rowTot = model.groupBy($"prev").agg(sum($"n").as("row_total"))
    val terms = model.join(broadcast(rowTot), "prev")
      .select($"prev", $"next",
        floor(log($"row_total" / $"n") * 1000000 + lit(1.0 / 3))
          .cast("long").as("term_q"))
    seq.join(broadcast(terms), Seq("prev", "next"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_trans"), sum($"term_q").as("surprisal_q"))
      .withColumn("avg_surprisal_q", expr("surprisal_q div n_trans"))
  }

  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .where($"prev".isNotNull)
      .groupBy($"prev", $"event_type".as("next"))
      .agg(count(lit(1)).as("n"))
    val rowTot = trans.groupBy($"prev").agg(sum($"n").as("row_total"))
    trans.join(broadcast(rowTot), "prev")
      .withColumn("term_q",
        floor((($"n" / $"row_total") * log($"row_total" / $"n")) * 1000000
          + lit(1.0 / 3)).cast("long"))
      .groupBy($"prev", $"row_total")
      .agg(count(lit(1)).as("n_succ"), sum($"term_q").as("h_q"))
      .select($"prev", $"row_total", $"n_succ", $"h_q")
  }

  /** q165: hourly hot-cell anomaly — the 20 (event_type, date, hour)
    * cells whose count most exceeds the type's average for that
    * hour-of-day (the q152 profile read back against individual
    * cells): the seasonal-residual screen that catches a bot burst or
    * replayed batch that a global rate monitor smooths over. The
    * excess ratio c·n_days/total is an exact integer ppm (cells under 3 events are ratio noise and sit below the floor); top-k rather
    * than a fixed threshold so the screen surfaces the extreme tail at
    * any corpus density (on a smooth stream these ratios hover near
    * 1e6 — that reading IS the "no anomaly" answer).
    *
    * Scale shape: one scan partial-aggs to (type, date, hod) cells;
    * the per-(type,hod) totals are a second partial agg of THAT
    * bounded relation (never the stream), broadcast back; the top-20
    * cut is distributed TakeOrderedAndProject, never a global sort. */
  def hotCells(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, dir)
      .select($"event_type", to_date($"ts").as("d"), hour($"ts").as("hod"))
      .groupBy($"event_type", $"d", $"hod")
      .agg(count(lit(1)).as("c"))
    val profile = cells.groupBy($"event_type", $"hod")
      .agg(sum($"c").as("total"))
    val nDays = cells.select($"d").distinct()
      .agg(count(lit(1)).as("n_days"))
    cells
      .join(broadcast(profile), Seq("event_type", "hod"))
      .crossJoin(broadcast(nDays))
      .where($"c" >= 3)
      .select($"event_type", $"d".as("day"), $"hod".cast("long").as("hod"),
        $"c", $"total", $"n_days",
        expr("(c * n_days * 1000000) div total").as("ratio_ppm"))
      .orderBy($"ratio_ppm".desc, $"event_type".asc, $"day".asc, $"hod".asc)
      .limit(20)
  }

  /** Dense hourly count grid shared by q180/q181: every (event_type,
    * hour) cell between the stream's global min and max hour, zero-
    * filled. The stream partial-aggs to its sparse cells in one scan;
    * densification is a broadcast cross of the bounded type list with
    * the bounded hour sequence — at 100 TB the grid is still
    * |types|×|hours|, not data-sized. */
  private[graft] def denseHourly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, dir)
      .select($"event_type", expr("unix_millis(ts) div 3600000").as("h"))
      .groupBy($"event_type", $"h").agg(count(lit(1)).as("x"))
    val hours = cells.agg(min($"h").as("lo"), max($"h").as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("h"))
    val types = cells.select($"event_type").distinct()
    types.crossJoin(broadcast(hours))
      .join(cells, Seq("event_type", "h"), "left")
      .withColumn("x", coalesce($"x", lit(0L)))
  }

  /** q180: truncated EWMA one-step-ahead forecast of the hourly event
    * rate, α = ½, depth 24 — the standard short-horizon load forecast:
    * f_t = Σ_{k=1..24} 2⁻ᵏ·x_{t−k}. α = ½ is chosen deliberately: the
    * weights are dyadic rationals, so every product and the 24-term
    * sum are EXACT in double (M/2²⁴ with M·125 ≪ 2⁵³), and
    * floor(f·1000) is bit-identical across engines with no libm in
    * the path at all. Scored on hours with a full 24-hour history:
    * per-type MAE in milli-events, integer end-to-end.
    *
    * Scale shape: the corpus reduces once to the dense hourly grid
    * (bounded); the 24-lag convolution is a self-join of that bounded
    * relation on (type, h−k) — no data-sized work after the scan. */
  def ewmaForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = denseHourly(spark, dir)
    val lo = grid.groupBy($"event_type").agg(min($"h").as("lo"))
    val conv = grid.as("t").join(grid.as("s"),
        $"t.event_type" === $"s.event_type"
          && $"s.h" >= $"t.h" - 24 && $"s.h" <= $"t.h" - 1)
      .groupBy($"t.event_type".as("event_type"), $"t.h".as("h"),
        $"t.x".as("x"))
      .agg(sum(pow(lit(0.5), $"t.h" - $"s.h") * $"s.x").as("f"))
      .withColumn("forecast_milli", floor($"f" * 1000).cast("long"))
    conv.join(lo, "event_type")
      .where($"h" >= $"lo" + 24)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs($"forecast_milli" - $"x" * 1000L)).as("sum_abs_err"))
      .withColumn("mae_milli", expr("sum_abs_err div n_scored"))
  }

  /** q181: lag-k autocorrelation (ACF, k = 1..6) of the hourly event
    * count series per type — the seasonality/burstiness diagnostic
    * behind q152's fixed 24h prior. Pearson r at each lag from exact
    * integer cross-moments on the dense grid (n·Σxy − Σx·Σy over the
    * two √variance terms); only the final √ and division are float,
    * quantized to ppm with the +1/3 offset.
    *
    * Scale shape: everything after the one corpus scan runs on the
    * bounded dense grid × 6 lags. */
  def acfHourly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = denseHourly(spark, dir)
    val lags = spark.range(1, 7).select($"id".as("lag_k"))
    val pairs = grid.as("a").crossJoin(broadcast(lags))
      .join(grid.as("b"),
        $"a.event_type" === $"b.event_type" && $"b.h" === $"a.h" - $"lag_k")
    val m = pairs.groupBy($"a.event_type".as("event_type"), $"lag_k")
      .agg(count(lit(1)).as("n"),
        sum($"a.x").as("sx"), sum($"b.x").as("sy"),
        sum($"a.x" * $"b.x").as("sxy"),
        sum($"a.x" * $"a.x").as("sxx"),
        sum($"b.x" * $"b.x").as("syy"))
      .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
      .withColumn("den_a", $"n" * $"sxx" - $"sx" * $"sx")
      .withColumn("den_b", $"n" * $"syy" - $"sy" * $"sy")
    m.where($"den_a" > 0 && $"den_b" > 0)
      .withColumn("r_ppm", floor($"num".cast("double")
        / sqrt($"den_a".cast("double") * $"den_b".cast("double"))
        * 1e6 + lit(1.0 / 3)).cast("long"))
      .select($"event_type", $"lag_k", $"n", $"num", $"r_ppm")
  }

  /** q318: Ljung–Box portmanteau test (Ljung & Box 1978) on the hourly
    * event-count series per type — the whiteness test that turns
    * q181's per-lag ACF table into ONE decision: Q = n(n+2)·Σ_{k≤6}
    * ρ_k²/(n−k), compared to the χ²₆ 5% critical value. "Is this
    * arrival series white noise, or does it carry structure the
    * forecasting/burst monitors (q180, q221) should model?" — the
    * screen run before fitting anything.
    *
    * Engine portability: each ρ_k enters as q181's r_ppm (already an
    * offset-quantized long both engines agree on bit-for-bit), so
    * every term after is integer: term_k = (r_ppm²·10³) div (n−k)
    * (deterministic trunc-div on nonnegative operands), and
    * Q_milli = n(n+2)·Σterm div 10¹² routed through decimal(38,0)
    * (n·(n+2)·Σ can reach ~10¹⁸·n). The χ²₆ cut 12.592 is a fixed
    * milli literal.
    *
    * Scale shape: everything after the one corpus scan runs on the
    * bounded dense grid; output is |types| rows. */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val acf = acfHourly(spark, dir)
    val nSeries = denseHourly(spark, dir)
      .groupBy($"event_type").agg(count(lit(1)).as("n_hours"))
    acf
      .withColumn("term",
        expr("(r_ppm * r_ppm * 1000) div n"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_lags"), sum($"term").as("sum_term"))
      .join(broadcast(nSeries), "event_type")
      .select($"event_type", $"n_hours", $"n_lags",
        expr("""cast((cast(n_hours as decimal(38,0)) * (n_hours + 2)
                 * sum_term) div 1000000000000 as bigint)""")
          .as("q_milli"))
      .withColumn("reject_white", ($"q_milli" > 12592L).cast("long"))
  }

  /** q203: exponential goodness-of-fit on inter-event gaps — "is this
    * stream Poisson?": per event_type, the MLE rate λ̂ = n/Σgap is
    * closed-form, and the KS distance between the empirical gap CDF
    * and Exp(λ̂) screens the memoryless assumption every queueing/
    * arrival model quietly makes (burstiness shows up as a large D).
    * Gaps are quantized to whole seconds (bounded value grid); the
    * empirical CDF is exact integers on that grid; the model CDF
    * 1 − exp(−λ̂·g) is the one float pipeline, written identically in
    * both engines; D is milli-quantized with the +1/3 offset.
    * λ̂ is reported per hour in milli (exact integer division).
    *
    * Scale shape: gaps form inside the per-user sessionless lag
    * window (one per-user shuffle); everything after runs on the
    * bounded (type, gap-second) grid. */
  def expGapFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val gaps = Tables.events(spark, dir)
      .withColumn("prev", lag(unix_millis($"ts"), 1).over(w))
      .where($"prev".isNotNull)
      .select($"event_type",
        expr("(unix_millis(ts) - prev) div 1000").as("g"))
    val grid = gaps.groupBy($"event_type", $"g")
      .agg(count(lit(1)).as("c"))
    val wCdf = Window.partitionBy($"event_type").orderBy($"g")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("cum", sum($"c").over(wCdf))
      .withColumn("n", sum($"c").over(wTot))
      .withColumn("sum_g", sum($"g" * $"c").over(wTot))
      .where($"sum_g" > 0)
      // F_model at the right edge of each gap-second cell; lambda in
      // events per second = n / sum_g
      .withColumn("d_at_g", abs(
        $"cum".cast("double") / $"n".cast("double")
          - (lit(1.0) - exp(lit(-1.0) * $"n".cast("double")
            / $"sum_g".cast("double") * ($"g" + 1).cast("double")))))
      .groupBy($"event_type", $"n", $"sum_g")
      .agg(max($"d_at_g").as("d"))
      .select($"event_type", $"n",
        expr("(n * 3600000) div sum_g").as("lambda_per_hour_milli"),
        floor($"d" * 1000 + lit(1.0 / 3)).cast("long").as("ks_d_milli"))
  }

  /** q214: per-user interval-union coverage — merge overlapping
    * activity intervals (gaps-and-islands on TIME SPANS, not points;
    * q22's sessionize groups point events by gap, this unions true
    * [start, end) intervals) and report how much of the wall clock
    * each user's activity actually covers. The universal uptime /
    * sensor-coverage / shot-coverage primitive (reference analog: the
    * per-shot valid-time windows fdf slices signals to,
    * fdf/signal.py's time-range predicates).
    *
    * Interval: [ts, ts + 60·⌊value·1000⌋ ms) — the event's value read
    * as a duration, scaled so a month of events produces real
    * overlaps. Island assignment is the running-max trick: a row opens
    * a new island iff its start exceeds the max end seen so far (ties
    * in (s, e) are interchangeable rows, so the partition is
    * tie-order-free). Touching intervals (prev_max == s) merge.
    * Everything is epoch-ms integer arithmetic end-to-end.
    *
    * Scale shape: one shuffle on user_id; both windows and both
    * aggregations share that partitioning (the island groupBy is a
    * narrowing of the window's key), so the whole plan is a single
    * exchange followed by per-user linear passes. No global sort. */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables.events(spark, dir)
      .select($"user_id", unix_millis($"ts").as("s"),
        (unix_millis($"ts")
          + floor($"value" * 1000).cast("long") * 60).as("e"))
    val ord = Seq($"s".asc, $"e".asc)
    val wPrev = Window.partitionBy($"user_id").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy($"user_id").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    iv
      .withColumn("new_isl",
        when(coalesce(max($"e").over(wPrev), lit(-1L)) >= $"s", 0L)
          .otherwise(1L))
      .withColumn("isl", sum($"new_isl").over(wRun))
      .groupBy($"user_id", $"isl")
      .agg(min($"s").as("i_start"), max($"e").as("i_end"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum($"i_end" - $"i_start").as("covered_ms"),
        max($"i_end" - $"i_start").as("max_island_ms"))
  }

  /** Per-type hourly count series — the bounded grid every trend/burst
    * diagnostic in this file reduces to before any window runs. One
    * partial-agged groupBy collapses the event stream to |types|×|hours|
    * rows; everything downstream is window math on that grid, so per-type
    * ordered windows cost |hours| log |hours| per type, not a corpus sort. */
  private def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 3600000").as("h"))
      .agg(count(lit(1)).as("c"))
  }

  /** q221: burst episodes — maximal runs of consecutive hours whose event
    * count sits ≥ 2 Poisson sigmas above the type's typical
    * (lower-median) hourly rate; the feed-anomaly shape q118's single
    * changepoint can't express (a level SHIFT is one point; a burst is an
    * episode with a start, an end, a peak, and a volume). Kleinberg's
    * two-state burst automaton reduces to exactly this threshold-run form
    * when the state costs are symmetric.
    *
    * The typical rate is the LOWER median by rank (all integers, q105's
    * median discipline — no interpolation, engine-exact). The threshold is
    * sigma-RELATIVE, not multiplicative: for Poisson hourly counts the
    * fluctuation scale is √med, so `c > med AND (c−med)² ≥ 4·med` (2σ)
    * keeps the episode rate stable as volume grows — a `c ≥ 2·med` rule
    * detects everything on a sparse feed and nothing on a dense one
    * (measured: 10× the events made 2×-median yield ZERO episodes). The
    * square keeps it a pure long comparison — no sqrt anywhere. Episodes
    * are gaps-and-islands on the hour integers: consecutive burst hours
    * share `h − row_number()`.
    *
    * Scale shape: the event stream collapses to the hourly grid first
    * (partial-agg shuffle); the median rank, the threshold filter, and the
    * island windows all run on |types|×|hours| rows. Per-type window
    * parallelism is |types| — fine because the grid is bounded: a year is
    * 8,760 rows per type at any corpus volume. */
  def burstEpisodes(spark: SparkSession, dir: String): DataFrame =
    burstEpisodesOn(hourlyCounts(spark, dir))

  /** Testable core over any `(event_type, h, c)` hourly-count relation —
    * shared by the batch query and the streaming burst monitor
    * (`graft.streaming.Events.burstMonitor`), so both compute the
    * identical episode table from whatever grid they hold. */
  private[graft] def burstEpisodesOn(hourly: DataFrame): DataFrame = {
    import hourly.sparkSession.implicits._
    // ONE event_type exchange for the whole episode pipeline (guide
    // §2.4 "two operations keyed the same way share one exchange"): the
    // median-rank windows and the post-join island window all partition
    // by event_type, but the grid arrives hash(event_type, h) from the
    // hourly agg, so each window branch re-exchanged it separately
    // (r15 plan: Exchange(31) under the med windows + Exchange(44)
    // under the island window). Repartitioning the BOUNDED grid (the
    // corpus already collapsed to |types|x|hours| rows) by event_type
    // right after the agg satisfies every downstream window and
    // groupBy: both branches read one ReusedExchange and Exchange(44)
    // disappears. Parallelism is |types| from here on either way —
    // that is inherent to per-type windows, not a cost of this change.
    val grid = hourly.repartition($"event_type")
    val wMed = Window.partitionBy($"event_type").orderBy($"c", $"h")
    val med = grid
      .withColumn("rk", row_number().over(wMed).cast("long"))
      .withColumn("nh", count(lit(1)).over(
        Window.partitionBy($"event_type")).cast("long"))
      .where(expr("rk = (nh + 1) div 2"))
      .select($"event_type", $"c".as("med"))
    val wIsl = Window.partitionBy($"event_type").orderBy($"h")
    grid
      .join(broadcast(med), "event_type")
      .where($"c" > $"med"
        && ($"c" - $"med") * ($"c" - $"med") >= lit(4L) * $"med")
      .withColumn("grp", $"h" - row_number().over(wIsl).cast("long"))
      .groupBy($"event_type", $"grp")
      .agg(min($"h").as("start_h"), max($"h").as("end_h"),
        count(lit(1)).as("n_hours"), max($"c").as("peak_c"),
        sum($"c").as("total_c"))
      .drop("grp")
  }

  /** q222: broken-stick (segmented) regression — the structural-break
    * QUANTIFIER that completes q118 (which only locates a break) and
    * q74/q151 (which fit one global line): split the hourly count series
    * at its max-|CUSUM| hour and fit exact least squares on each side,
    * reporting both slopes and the slope change. The changepoint rank is
    * restricted to [2, n−2] so both segments always have ≥ 2 points.
    *
    * Exactness: hours are rebased per segment (x = h − min h), so the
    * closed-form sums n·Σxy − Σx·Σy and n·Σx² − (Σx)² stay small longs;
    * the one division runs in correctly-rounded double arithmetic from
    * exact integer operands (identical on every IEEE engine) and is
    * floor-quantized to milli units — q151's discipline.
    *
    * Scale shape: two partial-agged groupBys bookend the plan (corpus →
    * hourly grid, segments → 2 fit rows per type); the CUSUM prefix and
    * the rebase min are windows over the bounded grid only. */
  def brokenStick(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = hourlyCounts(spark, dir)
    val stats = hourly.groupBy($"event_type")
      .agg(sum($"c").as("tot"), count(lit(1)).as("n"))
    val wPre = Window.partitionBy($"event_type").orderBy($"h")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cp = hourly
      .join(broadcast(stats), "event_type")
      .withColumn("pref", sum($"c").over(wPre))
      .withColumn("k", row_number().over(
        Window.partitionBy($"event_type").orderBy($"h")).cast("long"))
      .where($"k" >= 2L && $"k" <= $"n" - 2L)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type")
          .orderBy(abs($"n" * $"pref" - $"k" * $"tot").desc, $"h")))
      .where($"rk" === 1)
      .select($"event_type", $"h".as("cp_h"))
    val wSeg = Window.partitionBy($"event_type", $"side")
    val fit = hourly
      .join(broadcast(cp), "event_type")
      .withColumn("side", when($"h" <= $"cp_h", 0L).otherwise(1L))
      .withColumn("x", $"h" - min($"h").over(wSeg))
      .groupBy($"event_type", $"cp_h", $"side")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"c").as("sy"),
        sum($"x" * $"c").as("sxy"), sum($"x" * $"x").as("sxx"))
      .withColumn("slope_milli",
        floor(lit(1000.0) * ($"n" * $"sxy" - $"sx" * $"sy")
          / ($"n" * $"sxx" - $"sx" * $"sx") + lit(1.0 / 3)).cast("long"))
    fit.groupBy($"event_type", $"cp_h")
      .agg(
        max(when($"side" === 0L, $"n")).as("n_pre"),
        max(when($"side" === 1L, $"n")).as("n_post"),
        max(when($"side" === 0L, $"slope_milli")).as("slope_pre_milli"),
        max(when($"side" === 1L, $"slope_milli")).as("slope_post_milli"))
      .withColumn("delta_milli", $"slope_post_milli" - $"slope_pre_milli")
  }

  /** q269: Hjorth parameters (Hjorth 1970) per user signal — activity
    * (variance), mobility (sqrt of the derivative-to-signal variance
    * ratio, the dominant-frequency proxy), and complexity (mobility of
    * the derivative over mobility of the signal, the bandwidth proxy).
    * The three-number time-domain summary EEG/fusion-diagnostic
    * pipelines compute when a full q36 spectrum is overkill — a
    * drifting mobility flags a frequency shift with no FFT at all
    * (reference analog: the per-signal summary stats fdf postprocess
    * hooks derive from raw traces).
    *
    * Exactness: samples quantize to the 1e3 grid FIRST (floor(v·1000 +
    * 1/3)), so first/second differences and all three variance
    * numerators N·Σx² − (Σx)² are exact decimal(38,0) integers; each
    * reported parameter spends ONE double ratio of decimal-cast exact
    * integers and one correctly-rounded sqrt, identically ordered in
    * both engines.
    *
    * Scale shape: the lag/lead differences are per-user windows
    * (bounded by a user's trace, the same shape as q46/q118); the
    * moment sums partial-agg; output is |users| rows. One scan. */
  def hjorth(spark: SparkSession, dir: String): DataFrame =
    hjorthOn(Tables.events(spark, dir))

  /** q274: Savitzky–Golay smoothing census — the 5-point quadratic SG
    * filter (coefficients (−3, 12, 17, 12, −3)/35, Savitzky & Golay
    * 1964) applied per user trace, reporting per user the interior
    * count, the exact filtered-sum checksum, the peak filtered
    * magnitude, and the residual variance (the noise-power estimate a
    * smoothing pass exists to produce — reference analog: the
    * denoise-before-feature postprocess hooks fdf modules apply to raw
    * diagnostics before peak/threshold logic).
    *
    * Exactness: the convolution runs UNNORMALIZED on the 1e3 sample
    * grid — num = −3x₋₂+12x₋₁+17x₀+12x₊₁−3x₊₂ is an exact long (the
    * /35 never happens; every reported stat lives on the ×35 grid), and
    * the residual r = 35x₀ − num is exact too, so the variance
    * numerator N·Σr² − (Σr)² is exact decimal — no division until the
    * single reported floor.
    *
    * Scale shape: two lags + two leads over ONE per-user window exec,
    * moment sums partial-agg, |users| rows out. One scan. */
  def savgol(spark: SparkSession, dir: String): DataFrame =
    savgolOn(Tables.events(spark, dir))

  private[graft] def savgolOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val s = events
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .select($"user_id", $"vq",
        (lag($"vq", 2).over(w) * -3L + lag($"vq", 1).over(w) * 12L
          + $"vq" * 17L + lead($"vq", 1).over(w) * 12L
          + lead($"vq", 2).over(w) * -3L).as("num"))
      .where($"num".isNotNull)
      .withColumn("r", $"vq" * 35L - $"num")
    s.groupBy($"user_id")
      .agg(count(lit(1)).as("n_interior"),
        sum($"num").as("sm_sum"),
        max(abs($"num")).as("sm_abs_max"),
        sum($"r".cast(dec)).as("sr"),
        sum($"r".cast(dec) * $"r").as("qr"))
      .where($"n_interior" >= 2L)
      .select($"user_id", $"n_interior", $"sm_sum", $"sm_abs_max",
        expr("""(cast(n_interior as decimal(38,0)) * qr - sr * sr)
                div (cast(n_interior as decimal(38,0)) * n_interior)""")
          .cast("long").as("resid_var_q"))
  }

  /** q275: 2-sigma peak census per user trace — strict local maxima
    * whose height clears mean + 2·sd, with the sigma test done ENTIRELY
    * in integers: vq ≥ μ + 2σ ⇔ (N·vq − Σx) > 0 AND (N·vq − Σx)² ≥
    * 4·(N·Σx² − (Σx)²) — cross-multiplied and squared, so no sqrt, no
    * division, no float anywhere (the q118/q221 threshold family,
    * sharpened to exactness; reference analog: ELM/sawtooth counting
    * over fusion diagnostics, the canonical fdf postprocess).
    *
    * Scale shape: lag/lead + the per-user moment window share one
    * partitioning (two window execs, zero extra shuffles); output is
    * |users| rows. One scan. */
  def peaks(spark: SparkSession, dir: String): DataFrame =
    peaksOn(Tables.events(spark, dir))

  private[graft] def peaksOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val wAll = Window.partitionBy($"user_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val s = events
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag($"vq", 1).over(w))
      .withColumn("next", lead($"vq", 1).over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s1", sum($"vq".cast(dec)).over(wAll))
      .withColumn("s2", sum($"vq".cast(dec) * $"vq").over(wAll))
    val d = ($"n".cast(dec) * $"vq" - $"s1")
    val isPeak = $"prev".isNotNull && $"next".isNotNull &&
      $"vq" > $"prev" && $"vq" > $"next" && d > 0 &&
      (d * d) >= ($"n".cast(dec) * $"s2" - $"s1" * $"s1") * 4L
    s.groupBy($"user_id")
      .agg(max($"n").as("n"),
        sum(when(isPeak, 1L).otherwise(0L)).as("n_peaks"),
        min(when(isPeak, $"rn".cast("long"))).as("first_peak_rn"),
        max(when(isPeak, $"vq")).as("max_peak_q"))
      .select($"user_id", $"n".cast("long").as("n"), $"n_peaks",
        coalesce($"first_peak_rn", lit(0L)).as("first_peak_rn"),
        coalesce($"max_peak_q", lit(0L)).as("max_peak_q"))
  }

  /** q282: multi-channel cross-correlation matrix — Pearson r at lags
    * −2..+2 between every pair of the 8 lowest-id user traces (first
    * 32 samples, rn-aligned), reporting the lag-0 correlation and the
    * best |r| lag per pair. THE multi-channel diagnostic of the
    * reference domain (BES array cross-channel correlation — poloidal
    * mode structure falls out of exactly this matrix); q113 correlates
    * two EVENT TYPE series, this correlates CHANNELS pairwise.
    *
    * Exactness: all five moment sums per (pair, lag) are exact decimal
    * on the 1e3 grid; each r spends one double chain + sqrt and
    * quantizes to milli INDEPENDENTLY (no cross-r float arithmetic);
    * the best-lag argmax runs on quantized |r| with lowest-lag
    * tie-break — exact integer comparisons.
    *
    * Scale shape: the channel panel is a bounded TakeOrdered broadcast
    * (8 ids); series are rank-pruned to 32 rows each; the lag join is
    * a bounded range join over 8×32 rows. O(1) after the scan. At a
    * real array (hundreds of channels) the same plan bounds work by
    * |channels|²·window, never by trace length. */
  def xcorrMatrix(spark: SparkSession, dir: String): DataFrame =
    xcorrMatrixOn(Tables.events(spark, dir))

  private[graft] def xcorrMatrixOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val chans = events.select($"user_id").distinct()
      .orderBy($"user_id".asc).limit(8)
    val series = events
      .join(broadcast(chans), "user_id")
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .withColumn("k", row_number().over(w).cast("long"))
      .where($"k" <= 32L)
      .select($"user_id", $"k", $"vq")
    val lagged = series.as("a").join(series.as("b"),
        col("a.user_id") < col("b.user_id")
          && col("b.k") >= col("a.k") - 2 && col("b.k") <= col("a.k") + 2)
      .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
        (col("b.k") - col("a.k")).as("lag"),
        col("a.vq").as("x"), col("b.vq").as("y"))
    val m = lagged.groupBy($"user_a", $"user_b", $"lag")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        sum($"x".cast(dec) * $"y").as("sxy"),
        sum($"x".cast(dec) * $"x").as("sxx"),
        sum($"y".cast(dec) * $"y").as("syy"))
      .withColumn("vx", $"n".cast(dec) * $"sxx" - $"sx" * $"sx")
      .withColumn("vy", $"n".cast(dec) * $"syy" - $"sy" * $"sy")
      .where($"vx" > 0 && $"vy" > 0)
      .select($"user_a", $"user_b", $"lag",
        floor(($"n".cast(dec) * $"sxy" - $"sx" * $"sy").cast("double")
          * 1000d
          / sqrt($"vx".cast("double") * $"vy".cast("double"))
          + lit(1.0 / 3)).cast("long").as("r_milli"))
    m.groupBy($"user_a", $"user_b")
      .agg(max(when($"lag" === 0L, $"r_milli")).as("r0_milli"),
        max(struct(abs($"r_milli").as("a"), (-$"lag").as("nl"),
          $"r_milli".as("r"))).as("best"))
      .select($"user_a", $"user_b", $"r0_milli",
        (-$"best.nl").as("best_lag"), $"best.r".as("best_r_milli"))
  }

  /** q280: Hurst exponent by rescaled range (Hurst 1951, Mandelbrot &
    * Wallis 1969) — per user, R/S over non-overlapping blocks at sizes
    * 8/16/32 of the first 32 samples, then the OLS slope of
    * ln(mean R/S) on ln(size): H ≈ 0.5 is a random walk, H > 0.5
    * long-range persistence (trending turbulence), H < 0.5
    * anti-persistence (mean reversion). The MULTI-SCALE complement of
    * q271's fixed-lag variance ratio — VR asks "is 4-step variance
    * linear", Hurst asks "what power law does the range grow by".
    *
    * Exactness: partial-sum deviations scale by the block size
    * (dev_k = s·P_k − k·Σx — exact longs, the q198 mean-removal
    * trick), (S·s)² = s·Σx² − (Σx)² exact decimal; each block's R/S is
    * ONE double ratio + sqrt milli-quantized BEFORE the per-size mean
    * (integer mean, shuffle-order-free); the final regression is q258's
    * quantized-ln OLS over the 3 (ln s, ln mean) points.
    *
    * Scale shape: per-(user, size, block) windows over ≤ 32 rows per
    * user; the per-size means and the 3-point OLS are |users|-bounded.
    * One scan. */
  def hurst(spark: SparkSession, dir: String): DataFrame =
    hurstOn(Tables.events(spark, dir))

  private[graft] def hurstOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val base = events
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .withColumn("rn0", row_number().over(w).cast("long") - 1L)
      .where($"rn0" < 32L)
      .select($"user_id", $"rn0", $"vq",
        explode(typedLit(Seq(8L, 16L, 32L))).as("s"))
      .withColumn("blk", expr("rn0 div s"))
      .withColumn("k", expr("rn0 % s") + 1L)
    val wBlk = Window.partitionBy($"user_id", $"s", $"blk").orderBy($"rn0")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wBlkAll = Window.partitionBy($"user_id", $"s", $"blk")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val devs = base
      .withColumn("pk", sum($"vq").over(wBlk))
      .withColumn("s1", sum($"vq").over(wBlkAll))
      .withColumn("dev", $"s" * $"pk" - $"k" * $"s1")
    val blocks = devs.groupBy($"user_id", $"s", $"blk")
      .agg(count(lit(1)).as("n"),
        // k = s gives dev = 0, so the 0 baseline is always in range
        (max($"dev") - min($"dev")).as("rng"),
        ($"s".cast(dec) * sum($"vq".cast(dec) * $"vq")
          - sum($"vq".cast(dec)) * sum($"vq")).as("vnum"))
      .where($"n" === $"s" && $"vnum" > 0)
      .select($"user_id", $"s",
        floor($"rng".cast("double") / sqrt($"vnum".cast("double"))
          * 1000 + lit(1.0 / 3)).cast("long").as("rs_q"))
    val bySize = blocks.groupBy($"user_id", $"s")
      .agg(count(lit(1)).as("nb"), sum($"rs_q").as("rs_sum"))
      .where(expr("nb = 32 div s") && $"rs_sum" > 0)
      .select($"user_id",
        floor(log(($"s").cast("double")) * 10000 + lit(1.0 / 3))
          .cast("long").as("xq"),
        floor(log(expr("rs_sum div nb").cast("double")) * 10000
          + lit(1.0 / 3)).cast("long").as("yq"))
    bySize.groupBy($"user_id")
      .agg(count(lit(1)).as("np"),
        sum($"xq".cast(dec)).as("sx"), sum($"yq".cast(dec)).as("sy"),
        sum($"xq".cast(dec) * $"yq").as("sxy"),
        sum($"xq".cast(dec) * $"xq").as("sxx"))
      .where($"np" === 3L)
      .select($"user_id",
        floor(($"np".cast(dec) * $"sxy" - $"sx" * $"sy").cast("double")
          * 1000d
          / ($"np".cast(dec) * $"sxx" - $"sx" * $"sx").cast("double")
          + lit(1.0 / 3)).cast("long").as("hurst_milli"))
  }

  /** q281: Wald–Wolfowitz runs test per user trace — randomness of the
    * above/below-mean sign sequence: too FEW runs is positive serial
    * dependence (regimes, trends — the same persistence q280 sizes),
    * too MANY is oscillation. The distribution-free first screen a
    * drift monitor runs before parametric modeling; z is standard
    * normal under independence.
    *
    * Exactness: the dichotomy is the exact cross-multiplied predicate
    * N·x > Σx (no mean division); runs count via one lag compare; the
    * z statistic's numerator n(R−1) − 2·n₁·n₂ is exact decimal and the
    * denominator spends one double division inside one sqrt
    * (z = num / sqrt(2n₁n₂(2n₁n₂−n)/(n−1))) — fixed order, milli floor
    * of a double (negative-safe, no integer division).
    *
    * Scale shape: one moment window + one lag window per user (shared
    * partitioning), one partial-agged groupBy. |users| rows. */
  def runsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestOn(Tables.events(spark, dir))

  private[graft] def runsTestOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val wAll = Window.partitionBy($"user_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val s = events
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s1", sum($"vq".cast(dec)).over(wAll))
      .withColumn("b",
        when($"n".cast(dec) * $"vq" > $"s1", 1L).otherwise(0L))
      .withColumn("chg",
        when(lag($"b", 1).over(w).isNotNull
          && lag($"b", 1).over(w) =!= $"b", 1L).otherwise(0L))
    val m = s.groupBy($"user_id")
      .agg(max($"n").as("n"), sum($"b").as("n1"),
        (max($"n") - sum($"b")).as("n2"),
        (sum($"chg") + 1L).as("n_runs"))
      .where($"n1" > 0L && $"n2" > 0L)
      .select($"user_id", $"n".cast("long").as("n"), $"n1", $"n2", $"n_runs",
        ($"n".cast(dec) * ($"n_runs" - 1L)
          - $"n1".cast(dec) * $"n2" * 2L).as("num"),
        ($"n1".cast(dec) * $"n2" * 2L
          * ($"n1".cast(dec) * $"n2" * 2L - $"n")).as("vnum"))
    m.where($"vnum" > 0)
      .select($"user_id", $"n", $"n_runs",
        floor($"num".cast("double")
          / sqrt($"vnum".cast("double") / ($"n" - 1L).cast("double"))
          * 1000 + lit(1.0 / 3)).cast("long").as("z_milli"))
  }

  /** q271: Lo–MacKinlay variance-ratio test per user signal —
    * VR(q=4) = Var(4-step increments) / (4·Var(1-step increments)).
    * A random walk sits at exactly 1 (increments uncorrelated, variance
    * linear in horizon); mean-reverting/oscillating signals fall below
    * (long steps cancel), trending signals rise above. The cheap
    * long-range-dependence screen next to q181's ACF and q269's Hjorth
    * mobility — the number a drift monitor reads to tell noise from
    * regime persistence before fitting anything.
    *
    * Exactness: the q269 recipe verbatim — samples on the 1e3 grid,
    * exact decimal variance numerators N·Σd² − (Σd)² for both lags,
    * one fixed-order double ratio chain, milli floor.
    *
    * Scale shape: two lag columns over the same per-user window (ONE
    * window exec), moment sums partial-agg, |users| rows out. */
  def varianceRatio(spark: SparkSession, dir: String): DataFrame =
    varianceRatioOn(Tables.events(spark, dir))

  private[graft] def varianceRatioOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val s = events
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .withColumn("d1", $"vq" - lag($"vq", 1).over(w))
      .withColumn("d4", $"vq" - lag($"vq", 4).over(w))
    val m = s.groupBy($"user_id").agg(
      count(lit(1)).as("n0"),
      count($"d1").as("n1"),
      sum($"d1".cast(dec)).as("s1"), sum($"d1".cast(dec) * $"d1").as("q1"),
      count($"d4").as("n4"),
      sum($"d4".cast(dec)).as("s4"), sum($"d4".cast(dec) * $"d4").as("q4"))
      .where($"n4" >= 2L)
      .select($"user_id", $"n0", $"n1", $"n4",
        ($"n1".cast(dec) * $"q1" - $"s1" * $"s1").as("v1"),
        ($"n4".cast(dec) * $"q4" - $"s4" * $"s4").as("v4"))
    val nn1 = ($"n1".cast(dec) * $"n1").cast("double")
    val nn4 = ($"n4".cast(dec) * $"n4").cast("double")
    m.where($"v1" > 0)
      .select($"user_id", $"n0",
        floor(($"v4".cast("double") * nn1)
          / ($"v1".cast("double") * nn4) / 4d * 1000d + lit(1.0 / 3))
          .cast("long").as("vr_milli"))
  }

  private[graft] def hjorthOn(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val s = events
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .withColumn("d1", $"vq" - lag($"vq", 1).over(w))
      .withColumn("d2", $"d1" - lag($"d1", 1).over(w))
    val m = s.groupBy($"user_id").agg(
      count(lit(1)).as("n0"),
      sum($"vq".cast(dec)).as("s0"), sum($"vq".cast(dec) * $"vq").as("q0"),
      count($"d1").as("n1"),
      sum($"d1".cast(dec)).as("s1"), sum($"d1".cast(dec) * $"d1").as("q1"),
      count($"d2").as("n2"),
      sum($"d2".cast(dec)).as("s2"), sum($"d2".cast(dec) * $"d2").as("q2"))
      .where($"n2" >= 2L)
      .select($"user_id", $"n0",
        ($"n0".cast(dec) * $"q0" - $"s0" * $"s0").as("v0"),
        ($"n1".cast(dec) * $"q1" - $"s1" * $"s1").as("v1"),
        ($"n2".cast(dec) * $"q2" - $"s2" * $"s2").as("v2"),
        $"n1", $"n2")
    // var(x) = v/n² on the 1e3 sample grid; ratios cancel the grid scale
    // n² through decimal too: a 3e9-sample trace would wrap long n·n
    val nn0 = ($"n0".cast(dec) * $"n0").cast("double")
    val nn1 = ($"n1".cast(dec) * $"n1").cast("double")
    val nn2 = ($"n2".cast(dec) * $"n2").cast("double")
    m.where($"v0" > 0 && $"v1" > 0)
      .select($"user_id", $"n0",
        expr("v0 div (cast(n0 as decimal(38,0)) * n0)").cast("long")
          .as("activity_q"),
        floor(sqrt(($"v1".cast("double") * nn0)
          / ($"v0".cast("double") * nn1))
          * 1000 + lit(1.0 / 3)).cast("long").as("mobility_milli"),
        floor(sqrt(
          (($"v2".cast("double") * nn1) / ($"v1".cast("double") * nn2))
          / (($"v1".cast("double") * nn0) / ($"v0".cast("double") * nn1)))
          * 1000 + lit(1.0 / 3)).cast("long").as("complexity_milli"))
  }

  /** q296: Goh–Barabási inter-arrival burstiness per user —
    * B = (σ−μ)/(σ+μ) of the millisecond gaps between a user's
    * consecutive events (Goh & Barabási 2008): B → −1 is a metronome
    * (cron/bot), B ≈ 0 Poisson-organic, B → +1 heavy-tailed bursts —
    * the per-USER companion to q148's population Gini and q203's
    * per-TYPE exponential fit, and the number a bot screen reads
    * before the CMS heavy-hitter (q102) even fires: a scripted client
    * is periodic long before it is heavy.
    *
    * Exactness: gaps are exact ms longs via per-user lag windows;
    * μ and σ² come from exact decimal moment sums (n·Σg² − (Σg)²);
    * the single float step is one fixed-order double chain with a
    * correctly-rounded sqrt, milli-floored with the +1/3 offset.
    *
    * Scale shape: per-user windows (more users = more groups of the
    * same size), one partial-agged groupBy to |users| rows. */
  def interarrivalBurstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val gaps = Tables.events(spark, dir)
      .withColumn("prev", lag(unix_millis($"ts"), 1).over(w))
      .where($"prev".isNotNull)
      .select($"user_id", (unix_millis($"ts") - $"prev").as("g"))
    gaps.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"g".cast(dec)).as("sg"),
        sum(($"g".cast(dec) * $"g")).as("sg2"))
      .where($"n" >= 2L && $"sg" > 0)
      // sigma = sqrt((n·Σg² − (Σg)²)/n²)·(1/1) on the exact grid;
      // B = (n·sigma − Σg)/(n·sigma + Σg) — both scaled by n so no
      // early division loses exactness
      .withColumn("var_num", ($"sg2" * $"n" - $"sg" * $"sg").cast("double"))
      .withColumn("nsigma", sqrt($"var_num"))
      .select($"user_id", $"n".as("n_gaps"),
        expr("sg div n").cast("long").as("mean_gap_ms"),
        floor(($"nsigma" - $"sg".cast("double"))
          / ($"nsigma" + $"sg".cast("double")) * 1000 + lit(1.0 / 3))
          .cast("long").as("b_milli"))
  }

  /** q295: weekly retention cohort matrix — the product-analytics
    * staple the funnel (q114) and survival (q134) screens bracket but
    * don't produce: users grouped by FIRST-activity week (the cohort),
    * then for every later week-offset the share of the cohort still
    * active. The triangle a feed-health dashboard reads to separate
    * "acquisition is up" from "retention is up" — and, for a training-
    * data pipeline, the shape that says whether a event source's user
    * base is stable enough for temporal splits (q135) to be
    * stationary.
    *
    * Exactness: weeks are exact integer epoch-ms div 604800000; the
    * (user, week) relation is made DISTINCT first, so per-(cohort,
    * offset) counts are exact distinct-user counts without a
    * count(distinct) expand; retained_ppm is one trunc-div.
    *
    * Scale shape: one (user, week) distinct shuffle (partial-agged),
    * a per-user min for the cohort, one co-partitioned join back on
    * user_id, and a bounded (cohorts × offsets) grid out. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weeks = Tables.events(spark, dir)
      .select($"user_id", expr("unix_millis(ts) div 604800000").as("wk"))
      .distinct()
    val first = weeks.groupBy($"user_id").agg(min($"wk").as("cohort"))
    val sizes = first.groupBy($"cohort").agg(count(lit(1)).as("n_cohort"))
    weeks.join(first, Seq("user_id"))
      .groupBy($"cohort", ($"wk" - $"cohort").as("offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort"))
      .select($"cohort", $"offset", $"n_cohort", $"n_active",
        expr("(n_active * 1000000) div n_cohort").as("retained_ppm"))
  }
}
