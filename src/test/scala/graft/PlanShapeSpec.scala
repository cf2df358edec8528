package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.operators.{RangeJoin, Relational, Sampling, Similarity}

/** Physical-plan shape assertions: the scale properties the operators
  * claim (scan pushdown, column pruning, broadcast joins, partial
  * aggregation, whole-stage codegen, native kernels in codegen'd
  * projections) must be visible in the executed plan, not just implied.
  * Catching a regression here (a filter that stopped reaching parquet, a
  * broadcast that silently became a shuffle) matters more at 100 TB than
  * any constant-factor tweak. */
class PlanShapeSpec extends SparkSpec {

  // plan rendering truncates long metadata/expression lists by default —
  // raise the limits so assertions see the full PushedFilters/functions
  spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
  spark.conf.set("spark.sql.debug.maxToStringFields", "200")

  private def finalPlan(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save() // finalize under AQE
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    p.toString
  }

  test("q02 filter + projection reach the parquet scan") {
    val plan = finalPlan(Relational.filterProject(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("LessThan(l_quantity"), plan)
    // pruned read schema: exactly the 5 projected columns
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
      "l_shipdate").forall(read.contains), read)
    assert(!read.contains("l_comment"), read)
  }

  test("q03 dimension joins broadcast; no sort-merge join") {
    val plan = finalPlan(Relational.joinBroadcast(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q01 aggregates partially before the shuffle, filter pushed down") {
    // (codegen markers are not rendered in AQE-finalized plans — stages
    // are codegen'd at materialization; asserted on the q02 plan instead)
    val plan = finalPlan(Relational.aggPushdown(spark, sfDir))
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
  }

  test("q29 native dot/norm kernels in projections; query side broadcast") {
    val plan = finalPlan(Similarity.annBrute(spark, sfDir))
    assert(plan.contains("graft_dot"), plan)
    assert(plan.contains("graft_norm"), plan)
    // query side is broadcast, collection side streams
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("q02 plan runs inside whole-stage codegen") {
    val plan = finalPlan(Relational.filterProject(spark, sfDir))
    assert(plan.contains("*("), plan) // codegen'd span marker
  }

  test("q30 LSH bucket probe is an equality join on the bucket") {
    val plan = finalPlan(Similarity.lshAnn(spark, sfDir))
    // bucket equality makes it a hash join (not nested loop over all pairs)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("q26/q34 signature stages are map-only: no aggregate, no explode-shuffle") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    for (df <- Seq(graft.operators.Dedup.simhash(spark, sfDir),
                   graft.operators.TextAnalysis.fingerprint(spark, sfDir))) {
      df.write.format("noop").mode("overwrite").save()
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val aggs = p.collect {
        case h: HashAggregateExec => h
        case o: ObjectHashAggregateExec => o
        case s: SortAggregateExec => s
      }
      assert(aggs.isEmpty, s"signature should be a pure projection, found: $aggs")
    }
  }

  test("q44 bucketed range join plans a hash join, not a nested loop") {
    val plan = finalPlan(RangeJoin.priceBandAgg(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }

  test("q47/q48 hash sampling and splitting are map-only: no shuffle at all") {
    for (df <- Seq(Sampling.langStratified(spark, sfDir),
                   Sampling.trainValTest(spark, sfDir))) {
      val plan = finalPlan(df)
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("q55 snowflake rollup broadcasts the dimension chain") {
    val plan = finalPlan(Relational.revenueRollup(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("q53 vocabulary top-k uses distributed partial top-k, no global sort") {
    val plan = finalPlan(graft.operators.TextAnalysis.vocabTopK(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q17 rank filter plants a map-side window group limit") {
    val plan = finalPlan(Relational.topkPerGroup(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q69/q71 struct-extrema downsampling runs as pure aggregation — no window sort") {
    for (df <- Seq(Relational.ohlcDownsample(spark, sfDir),
                   Relational.keepLatest(spark, sfDir))) {
      val plan = finalPlan(df)
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("partial_"), plan)
    }
  }

  test("q70/q72 broadcast the derived small side (vocab / thresholds) over the fact") {
    for (df <- Seq(graft.operators.TextAnalysis.tokenIds(spark, sfDir),
                   Relational.winsorize(spark, sfDir))) {
      val plan = finalPlan(df)
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
    }
  }

  test("rebalance is a no-op on a wide multi-split layout, active on the narrow one") {
    import graft.sources.Tables
    val wideDir = java.nio.file.Files.createTempDirectory("graft-wide").toString
    Tables.lineitem(spark, sfDir).repartition(8)
      .write.mode("overwrite").parquet(s"$wideDir/lineitem.parquet")
    val wide = Tables.lineitem(spark, wideDir)
    // 8 splits >= 4 cores: the SAME DataFrame comes back, no exchange added
    assert(Tables.rebalance(spark, wideDir, "lineitem", wide) eq wide)
    // single-file single-row-group source: rebalance inserts the repartition
    val narrow = Tables.lineitem(spark, sfDir)
    val rb = Tables.rebalance(spark, sfDir, "lineitem", narrow)
    assert(!(rb eq narrow))
    assert(rb.queryExecution.optimizedPlan.toString.contains("Repartition"),
      rb.queryExecution.optimizedPlan.toString)
  }

  test("q76 3-D contour: value slices prune before the window sort") {
    val plan = finalPlan(Relational.psiSliceMax3d(spark, sfDir))
    // both spatial-axis range predicates reach the scan as pushed filters
    assert(plan.contains("PushedFilters"), plan)
    // exactly one window sort (per time slice), over the sliced sub-block
    assert("(?s)Window".r.findAllIn(plan).size >= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q77 mixture thresholds broadcast; corpus filter stays map-side") {
    val plan = finalPlan(Sampling.mixtureSample(spark, sfDir))
    // the |languages|-row threshold table is the broadcast side; the
    // corpus is never shuffled for the join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q25 PPJoin plans equality hash joins only — no nested loop anywhere") {
    val plan = finalPlan(graft.operators.Dedup.ngramJaccard(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q80 BM25: one-row stats broadcast back; no token explode") {
    val plan = finalPlan(graft.operators.TextAnalysis.bm25Score(spark, sfDir))
    // phase-2 rejoins the ONE-ROW stats via a broadcast, never a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // tf/dl come from array ops in the projection — no row multiplier
    assert(!plan.contains("Generate"), plan)
  }

  test("q81 histogram: bounds broadcast; binning aggregates partially") {
    val plan = finalPlan(Relational.lengthHistogram(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q82 curation pipeline composes in ONE corpus scan with zero joins") {
    val plan = finalPlan(graft.operators.Curation.curationPipeline(spark, sfDir))
    // single-scan composition: langid + quality + dedup fingerprint are
    // one projection, NOT a q31⋈q32⋈q24 join of three corpus scans
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
    // keeper selection = unordered window by fingerprint (one shuffle)
    assert(plan.contains("Window"), plan)
  }

  test("q85 BPE top-k is distributed TakeOrdered, never a global sort") {
    val plan = finalPlan(graft.operators.TextAnalysis.bpePairs(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q87 surprisal: one-row total broadcast; vocab join has no nested loop") {
    val plan = finalPlan(graft.operators.TextAnalysis.unigramSurprisal(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // the 1-row total
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q88 source sketches: pairwise estimator joins the aggregated relation only") {
    val plan = finalPlan(graft.operators.Dedup.sourceOverlap(spark, sfDir))
    // the corpus-sized relation is reduced by partial agg before ANY join:
    // every join input is the |sources|-row sketch table
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q83 bloom prefilter probes scan-side, before the semi join") {
    val plan = finalPlan(Relational.bloomSemiJoin(spark, sfDir))
    assert(plan.contains("might_contain"), plan)
    // the exact semi join then removes the fpp tail
    assert(plan.contains("LeftSemi"), plan)
    // probe is a codegen'd Filter in the scan stage: it must appear in
    // the same plan fragment as the lineitem scan, below any exchange —
    // textually, the Filter(might_contain) line sits above "Scan parquet"
    val lines = plan.linesIterator.toSeq
    val fi = lines.indexWhere(l => l.contains("Filter") && l.contains("might_contain"))
    val si = lines.indexWhere(l => l.contains("Scan parquet"), fi)
    assert(fi >= 0 && si > fi, plan)
    assert(!lines.slice(fi, si).exists(_.contains("Exchange")), plan)
  }

  test("q90 tf-cosine: posting join is an equality hash join; only the 1-row n_docs broadcasts") {
    val plan = finalPlan(graft.operators.Dedup.tfCosinePairs(spark, sfDir))
    // candidate pairs come from the shingle-equality self-join — never
    // a doc×doc product; the only nested-loop is the ONE-ROW corpus
    // count cross-broadcast inside the df cut, which appears once per
    // self-join side (the kept-tf relation is deliberately not
    // checkpointed — re-deriving it is cheaper than a materialization
    // barrier), so at most two may surface
    assert(!plan.contains("CartesianProduct"), plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2, plan)
    // dot products partial-agg before the (doc_a, doc_b) shuffle
    assert(plan.contains("partial_sum"), plan)
  }

  test("q92 Gram matrix partial-aggs the d²/2 fan-out before its one shuffle") {
    val plan = finalPlan(graft.operators.Quantize.embedGram(spark, sfDir))
    // the explode×explode product is collapsed map-side: reduce input is
    // |partitions|·2080 rows regardless of collection size
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Join"), plan)
    assert("Exchange".r.findAllIn(plan).size <= 2, plan) // rebalance + agg
  }

  test("q91 chunking is map-only after the scan: no operator shuffle") {
    val plan = finalPlan(graft.operators.Sampling.chunkDocs(spark, sfDir))
    // tokenize → bounded explode → slice+hash: the operator itself never
    // shuffles (no agg, no join, no window). The only Exchange allowed
    // is the conditional scan rebalance (docsParallel) that spreads a
    // narrow single-split scan across cores BEFORE the fan-out — absent
    // at cluster scale where the scan has many splits
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("q95 hash-classifier scoring is map-only: no join, no agg shuffle") {
    val plan = finalPlan(graft.operators.TextAnalysis.hashClassifier(spark, sfDir))
    // margin = per-row fold over the token array; the only Exchange
    // allowed is the conditional docsParallel scan rebalance
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q94 semantic dedup blocks on cell equality: hash join, never a nested-loop product") {
    val plan = finalPlan(graft.operators.Similarity.semanticDedup(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    // codebook assignment is literal-argmax map work — no join for it
    assert(plan.contains("graft_dot"), plan)
  }

  test("q38/q286 cell assignment is map-only: no window partitioned by vec_id") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    object Plans extends AdaptiveSparkPlanHelper
    // the partition keys of every window (and window group limit) the
    // finalized plan runs, stage plans included
    def windowKeys(q: String): Seq[Seq[String]] = {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      Plans.collect(df.queryExecution.executedPlan) {
        case w: WindowExec => w.partitionSpec
        case w: WindowGroupLimitExec => w.partitionSpec
      }.map(_.flatMap(_.references.map(_.name)))
    }
    val q38 = windowKeys("q38_ivf_ann")
    assert(q38.contains(Seq("query_id")), s"q38's top-k window is gone: $q38")
    for ((q, keys) <- Seq("q38_ivf_ann" -> q38,
        "q286_cell_label_js" -> windowKeys("q286_cell_label_js")))
      assert(!keys.exists(_.contains("vec_id")),
        s"$q ranks cells in a window over the collection: $keys")
  }

  test("q98 PQ encoding is map-only off literal codebooks") {
    val plan = finalPlan(graft.operators.Quantize.pqEncode(spark, sfDir))
    assert("Exchange".r.findAllIn(plan).size <= 1, plan) // scan rebalance only
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q99 PCA projection is map-only off the literal eigenvector") {
    // the Gram aggregation runs eagerly (d²-bounded collect); the
    // RETURNED plan — what touches the corpus again — must be one
    // map pass with w as a literal
    val plan = finalPlan(graft.operators.Quantize.pcaProject(spark, sfDir))
    assert("Exchange".r.findAllIn(plan).size <= 1, plan) // scan rebalance only
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q101 priority sample is a distributed top-k, not a global sort") {
    val plan = finalPlan(Sampling.prioritySample(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort "), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q104 z-order keys are map-only: no shuffle, no join, no window") {
    val plan = finalPlan(graft.operators.Layout.zorderKeys(spark, sfDir))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("q102 CMS: sketch and total re-join as broadcasts; counts aggregate partially") {
    val plan = finalPlan(graft.operators.TextAnalysis.cmsHeavyHitters(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // one-row total
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q100 dup spans: no self-join pairing — only the dedup-set equi-join") {
    val plan = finalPlan(graft.operators.Dedup.dupSpans(spark, sfDir))
    // exactly one join in the whole plan (hits vs duplicated-shingle set)
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).size == 1, plan)
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("q135 temporal split: user-partitioned window, no global sort, bounded agg") {
    val plan = finalPlan(Sampling.temporalSplit(spark, sfDir))
    // the only exchanges are the user_id hash for the window and the
    // 15-row final agg — never a rangepartitioning (global sort)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    assert(plan.contains("Window"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q138 hubness: band-equality hash joins only, never a vector product") {
    val plan = finalPlan(Similarity.hubness(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // candidate generation joins on (band, bits)
    assert(plan.contains("graft_dot"), plan) // native kernel, not a UDF
  }

  test("q141 conformal: cumulative window runs on the aggregated score relation") {
    val plan = finalPlan(graft.operators.Evaluate.conformalThreshold(spark, sfDir))
    // the corpus reduces via partial agg BEFORE any window — no raw-row sort
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q142 rank overlap: query side broadcasts, one scored relation feeds both ranks") {
    val plan = finalPlan(Similarity.rankOverlap(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // 10-row query side
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both row_number rankings share one window-input shuffle on query_id
    assert("Exchange hashpartitioning\\(query_id".r.findAllIn(plan).size == 1, plan)
  }

  test("q144 KS: corpus reduces before the grid; pair joins are equality hash joins") {
    val plan = finalPlan(graft.operators.Evaluate.ksTest(spark, sfDir))
    // the corpus-side (source, score) agg happens below everything else
    assert(plan.contains("partial_count"), plan)
    // pair compare + grid fill are equality joins, never a raw-row product
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q148 Gini never sorts raw users: histogram windows only") {
    val plan = finalPlan(Relational.activityGini(spark, sfDir))
    assert(plan.contains("partial_count"), plan)
    // no global range-partitioned sort of the user relation
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    assert(!plan.contains("Join"), plan) // pure agg/window pipeline
  }

  test("q149 PSI: bounds and totals broadcast; binning aggregates partially") {
    val plan = finalPlan(Relational.psiDrift(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("q150 skew audit: struct-max hottest key, no key-space sort") {
    val plan = finalPlan(graft.operators.Skew.keySkewAudit(spark, sfDir))
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    assert(!plan.contains("Window"), plan) // max/sum partial aggs only
    assert(plan.contains("partial_count"), plan)
  }

  test("q178 SNM: segment offsets broadcast, no cartesian, candidates equi-join") {
    val plan = finalPlan(graft.operators.Dedup.sortedNeighborhood(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan) // offs onto ranked
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q193 PIT features: one aggregation shuffle, cutoffs broadcast") {
    val plan = finalPlan(Relational.pitFeatures(spark, sfDir))
    // allowed exchanges: the countDistinct two-phase pair on
    // (cutoff, user[, type]) — both partial-agged, both bounded by
    // groups x |types|; the 4-cutoff explode must be a broadcast
    // nested loop, never a shuffle of the stream
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("q194 negative sampling: O(s) proposals, no catalog cross, windows share the custkey clustering") {
    // the round-9 proposal shape: the ONLY nested-loop join is the
    // 1-row maxsk scalar broadcast; the catalog appears solely in an
    // equi-join validating drawn positions — never in a cross — so
    // candidate volume is s·|cust|, independent of catalog size
    val plan = finalPlan(Sampling.negativeSampling(spark, sfDir))
    assert(!plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj === 1, s"expected only the scalar maxsk broadcast, got $bnlj\n$plan")
    assert(plan.contains("array_contains"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // dedup + rank windows and the proposal explode all live inside
    // the collect_set agg's custkey clustering: one hash exchange
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected exactly 1 hash exchange, got $exchanges\n$plan")
    // candidate volume really is bounded by s per customer
    import spark.implicits._
    val nCust = graft.sources.Tables.orders(spark, sfDir)
      .select($"o_custkey").distinct().count()
    assert(Sampling.negativeSampling(spark, sfDir).count() <= 2 * nCust)
  }

  test("q191 Mann-Whitney: the stream reduces before any window") {
    val plan = finalPlan(graft.operators.Evaluate.mannWhitney(spark, sfDir))
    // grid aggregation must partial-agg map-side; the CDF window then
    // runs over the bounded (type, vq) relation, never raw events
    assert(plan.contains("partial_sum"), plan)
    // the CDF window must sit ABOVE the (type, vq) grid aggregation:
    // its input is the bounded grid, not raw events
    val lines = plan.linesIterator.toVector
    val winIdx = lines.indexWhere(_.contains("Window [sum"))
    val gridAggIdx = lines.indexWhere(l =>
      l.contains("partial_sum(CASE WHEN"))
    assert(winIdx >= 0 && gridAggIdx > winIdx, plan)
  }

  test("q214 interval union: one user_id exchange feeds windows and both aggs") {
    val plan = finalPlan(graft.operators.Timeseries.intervalUnion(spark, sfDir))
    // HashPartitioning(user_id) satisfies the (user_id, isl) and
    // user_id clusterings downstream, so the whole plan is ONE hash
    // exchange of the events
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges\n$plan")
    assert(!plan.contains("Join"), plan)
    // both windows share one (s, e)-ordered sort
    val sorts = plan.linesIterator.count(_.trim.startsWith("Sort ") )
    assert(sorts <= 1, s"expected the two windows to share one sort\n$plan")
  }

  test("q217 order bias: corpus ranking is segmented, never a single-partition window") {
    val plan = finalPlan(graft.operators.Sampling.orderBias(spark, sfDir))
    // the row_number over the corpus must carry the seg partition spec;
    // the only global window is over the 16-row offsets relation
    val rn = plan.linesIterator.filter(_.contains("row_number()")).toVector
    assert(rn.nonEmpty && rn.forall(_.contains("[seg")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the adjacent-pair rn+1 join extracts equi keys (hash join, never
    // a nested loop over the corpus); the only BNLJ is the one-row
    // scalar total cross
    assert(plan.linesIterator.exists(l =>
      l.contains("HashJoin") && l.contains("rn#")), plan)
  }

  test("q218 skyline: map-side prune sits BELOW the single-partition window") {
    val plan = finalPlan(Relational.paretoSkyline(spark, sfDir))
    val lines = plan.linesIterator.toVector
    // the global frontier window needs a single-partition exchange (the
    // Win.bounded constant key hashes every row to one partition) — its
    // input must be the MapPartitions local-skyline prune, not the corpus
    // (the constant is aliased to _w0 before the exchange, so match the
    // alias and require the bounded_win_key() projection in-plan)
    val spIdx = lines.indexWhere(l => l.contains("Exchange SinglePartition")
      || (l.contains("Exchange hashpartitioning(_w0#")
        && plan.contains("bounded_win_key() AS _w0#")))
    val mpIdx = lines.indexWhere(_.contains("MapPartitions"))
    assert(spIdx >= 0, s"expected a single-partition frontier window\n$plan")
    assert(mpIdx > spIdx,
      s"local prune must feed (sit below) the global window\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("q223 centroid shift: pair join runs on materialized sums, corpus scanned once") {
    val plan = finalPlan(Similarity.centroidShift(spark, sfDir))
    // the corpus must collapse to |labels|*d sums BEFORE the self-join:
    // the final pair plan aggregates partial-side and joins on dim
    assert(plan.contains("partial_sum"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("i#")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both join sides read the ONE checkpointed sums relation — the
    // embeddings parquet (and its d-times posexplode) must not appear
    // in the pair plan at all, let alone twice
    assert(!plan.contains("Scan parquet"),
      s"self-join must not rescan the corpus\n$plan")
    assert(!plan.contains("posexplode"),
      s"the d-times explode must run once, behind the checkpoint\n$plan")
  }

  test("q225 knn purity: candidates come from (band, bits) equality joins only") {
    val plan = finalPlan(Similarity.knnLabelPurity(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("band#") && l.contains("bits#")),
      plan)
  }

  test("q23 multi-distinct: no Expand — two narrow distinct aggs + one key join") {
    val plan = finalPlan(Relational.distinctCount(spark, sfDir))
    assert(!plan.contains("Expand"),
      s"multi-countDistinct Expand resurfaced\n$plan")
    assert(plan.contains("partial_count"), plan)
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 4, plan)
  }

  /** Window nodes of the optimized logical plan with their partition
    * specs — the gate for "no unpartitioned WindowExec": Spark 4's
    * EliminateWindowPartitions has already run here, so a foldable
    * partition key (the old lit(1) idiom) shows up EMPTY, exactly like
    * the WindowExec runtime warning would. */
  private def windowParts(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec
    }

  test("q257 FS weights: every window is partitioned — the hash-adjacent baseline is segmented rank, not one global lead") {
    val parts = windowParts(graft.operators.Dedup.fsWeights(spark, sfDir))
    assert(parts.nonEmpty, "expected the segmented-rank windows in-plan")
    assert(parts.forall(_.nonEmpty),
      s"unpartitioned window survived optimization: $parts")
  }

  test("q178 sorted neighborhood: segmented global rank leaves no unpartitioned window") {
    val parts = windowParts(graft.operators.Dedup.sortedNeighborhood(spark, sfDir))
    assert(parts.nonEmpty)
    assert(parts.forall(_.nonEmpty),
      s"unpartitioned window survived optimization: $parts")
  }

  test("q231 transitivity: wedge joins are equality joins; centers degree-capped") {
    val plan = finalPlan(graft.operators.Dedup.transitivityAudit(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    // (the one BroadcastNestedLoopJoin is the 1-row n_pairs census
    // cross-joined back — a broadcast of a single row, not a pair join)
    // the cap shows as a filter on the degree census feeding the wedge side
    assert(plan.contains("du#"),
      s"degree-cap census missing from the wedge plan\n$plan")
  }

  test("q259/q261/q269: every window in the new per-key operators is partitioned") {
    Seq(
      graft.operators.Dedup.cdcChunks(spark, sfDir),
      graft.operators.TextAnalysis.sttr(spark, sfDir),
      graft.operators.Timeseries.hjorth(spark, sfDir)).foreach { df =>
      val parts = windowParts(df)
      assert(parts.nonEmpty, "expected per-doc/per-user windows in-plan")
      assert(parts.forall(_.nonEmpty),
        s"unpartitioned window survived optimization: $parts")
    }
  }

  test("q263/q264/q270: bounded-sample pair joins never degrade to CartesianProduct") {
    Seq(
      graft.operators.Similarity.isotropy(spark, sfDir),
      graft.operators.Quantize.quantFidelity(spark, sfDir),
      graft.operators.Dedup.localClustering(spark, sfDir)).foreach { df =>
      val plan = finalPlan(df)
      // the a<b self-joins on constant-bounded samples must broadcast
      // (BroadcastNestedLoop on ~100 rows), not cartesian the big side
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("q284/q285/q288: every window in the round-13 operators is partitioned") {
    Seq(
      SparkEntry.queries("q284_ivf_pq_adc")(spark, sfDir),
      SparkEntry.queries("q285_wedge_sample")(spark, sfDir),
      SparkEntry.queries("q288_bootstrap_ci")(spark, sfDir)).foreach { df =>
      val parts = windowParts(df)
      assert(parts.nonEmpty, "expected per-key/segment windows in-plan")
      assert(parts.forall(_.nonEmpty),
        s"unpartitioned window survived optimization: $parts")
    }
  }

  test("q284/q290/q291: no CartesianProduct; the ADC LUT and probe sides broadcast") {
    Seq(
      SparkEntry.queries("q284_ivf_pq_adc")(spark, sfDir),
      SparkEntry.queries("q290_adc_recall")(spark, sfDir),
      SparkEntry.queries("q291_ngram_contam")(spark, sfDir)).foreach { df =>
      val plan = finalPlan(df)
      assert(!plan.contains("CartesianProduct"), plan)
    }
    // the ADC score join must be an equality hash join on
    // (query_id, sub, code) with the LUT broadcast — never a loop join
    // over the code rows
    val adc = finalPlan(SparkEntry.queries("q284_ivf_pq_adc")(spark, sfDir))
    assert(adc.contains("BroadcastHashJoin"), adc)
  }

  test("q296/q298/q299: per-key windows partitioned; SDC funnel joins are equality joins") {
    Seq(
      SparkEntry.queries("q296_interarrival_b")(spark, sfDir),
      SparkEntry.queries("q298_weighted_median")(spark, sfDir)).foreach { df =>
      val parts = windowParts(df)
      assert(parts.nonEmpty, "expected per-user/per-source windows in-plan")
      assert(parts.forall(_.nonEmpty),
        s"unpartitioned window survived optimization: $parts")
    }
    val plan = finalPlan(SparkEntry.queries("q299_pq_semdedup")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q285 probe->CDF lookup is a bucketed hash join, not a nested loop") {
    // the probe↔center-interval join is the RangeJoin bucketed rewrite
    // (CDF-grid width wtot/256). It sits behind the lineage-truncation
    // checkpoint in the full query, so pin the pre-checkpoint chosen
    // relation's plan directly: the only sanctioned loop joins are
    // conditionless 1-row census crosses — a CONDITIONED nested loop
    // would mean the interval bracket regressed to a loop join.
    val pairs = graft.operators.Dedup.simhashPairs(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b"))
    val chosen = graft.operators.Dedup.wedgeChosen(pairs, 2000L)
    val plan = finalPlan(chosen)
    assert(!plan.contains("CartesianProduct"), plan)
    val nljCond = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin"))
      .filter(l => l.contains(">=") || l.contains("<="))
    assert(nljCond.isEmpty,
      s"interval bracket planned as nested loop: ${nljCond.mkString("\n")}")
    // the bucketed lookup itself: an equality hash join on the bucket id
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("bucket"), plan)
  }
}
