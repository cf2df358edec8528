package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Model-evaluation metrics over corpus features — the measurement side
  * of a data-curation loop (how well does a cheap feature predict the
  * expensive label?). Both metrics are rank/count-based and integer-
  * exact, so they hash-gate against the DuckDB oracle with no float
  * tolerance. */
object Evaluate {

  /** q120: per-source AUC (Mann–Whitney) of the document-length feature
    * predicting lang='en'. Tie-correct: with P positives and Q
    * negatives at each distinct score s, and cq = negatives strictly
    * below s, the doubled pair count is 2·Σ P·cq + Σ P·Q (each tie
    * counts 1/2), so auc_ppm = num2·1e6 div (2·n1·n0) — all integer.
    *
    * Scale shape: the corpus reduces via ONE partial-agged groupBy to
    * the (source, score) relation — bounded by |sources|×|distinct
    * scores| — and the cumulative window + final rollup run on that
    * small aggregate, never on the corpus. No global rank over raw
    * rows (the naive rank-sum formulation is a single-partition sort at
    * scale; this one isn't). Sources with a single class are dropped
    * (AUC undefined). */
  def aucBySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .groupBy($"source", $"n_chars")
      .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("p"),
        sum(when($"lang" =!= "en", 1L).otherwise(0L)).as("q"))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cq", coalesce(sum($"q").over(w), lit(0L)))
      .groupBy($"source")
      .agg(sum($"p").as("n_pos"), sum($"q").as("n_neg"),
        sum($"p" * $"cq" * 2 + $"p" * $"q").as("num2"))
      .where($"n_pos" > 0 && $"n_neg" > 0)
      .select($"source", $"n_pos", $"n_neg",
        expr("(num2 * 1000000) div (2 * n_pos * n_neg)").as("auc_ppm"))
  }

  /** q121: calibration / reliability table — documents bucketed by the
    * length feature (fixed 100-char bins), per bin the empirical
    * positive rate (lang='en') and mean feature value, both in exact
    * integer ppm / floor-mean form. A well-calibrated score tracks the
    * positive rate across bins; this is the table a curation loop reads
    * before trusting a cheap filter.
    *
    * Scale shape: map-only bin tag + one partial-agged groupBy bounded
    * at |bins| rows — nothing else. */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(expr("n_chars div 100").as("bin"), $"n_chars",
        when($"lang" === "en", 1L).otherwise(0L).as("y"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"y").as("n_pos"),
        sum($"n_chars").as("sum_chars"))
      .select($"bin", $"n", $"n_pos",
        expr("(n_pos * 1000000) div n").as("pos_ppm"),
        expr("sum_chars div n").as("mean_chars"))
  }

  /** q144: pairwise two-sample Kolmogorov–Smirnov distance between the
    * sources' document-length distributions — the drift screen a mixing
    * pipeline runs before assuming two feeds are interchangeable. For
    * sources a, b with n_a, n_b docs, D = max over the pooled score
    * grid of |F_a − F_b|, held in EXACT cross-multiplied integers:
    * d_num = max |cum_a·n_b − cum_b·n_a|, d_ppm = d_num·10⁶ div
    * (n_a·n_b). No float CDFs, identical truncation both engines.
    * (Long bound: cum·n < 9.2e18 needs n_a·n_b < 9.2e18 — beyond ~3e9
    * docs/source route through decimal(38,0).)
    *
    * Scale shape: the corpus reduces ONCE to the (source, score) count
    * relation; the grid cross (|sources| × |distinct scores|), the CDF
    * windows, and the |sources|² pair max all run on that bounded
    * aggregate. The corpus is never sorted or paired. */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
    val grid = g.select($"n_chars").distinct()
    val tot = g.groupBy($"source").agg(sum($"c").as("n"))
    // every source gets a row at every grid point so the pair join can
    // compare CDFs at the same score
    val full = tot.select($"source", $"n").crossJoin(broadcast(grid))
      .join(g, Seq("source", "n_chars"), "left")
      .withColumn("c", coalesce($"c", lit(0L)))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cdf = full.withColumn("cum", sum($"c").over(w))
      .select($"source", $"n", $"n_chars", $"cum")
    cdf.as("a").join(cdf.as("b"),
        $"a.n_chars" === $"b.n_chars" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"),
        $"a.n".as("n_a"), $"b.n".as("n_b"))
      .agg(max(abs($"a.cum" * $"b.n" - $"b.cum" * $"a.n")).as("d_num"))
      .withColumn("d_ppm", expr("(d_num * 1000000) div (n_a * n_b)"))
  }

  /** q141: per-source split-conformal threshold — the distribution-free
    * cutoff a production filter uses: with n calibration scores per
    * source and coverage 90%, the threshold is the k-th smallest score
    * where k = ceil(0.9·(n+1)) (clamped to n) — scores ≤ threshold are
    * accepted with a finite-sample ≥ 90% guarantee. Score here is the
    * document-length feature (the same proxy the q120/q121 evaluation
    * family audits). All order-statistic arithmetic is integer-exact:
    * k via ceil-division, threshold via cumulative counts over the
    * distinct-score relation — NOT a per-source sort of raw rows.
    *
    * Scale shape: corpus partial-aggs to (source, score) counts; the
    * cumulative window and the min-score-reaching-k selection run on
    * that bounded relation (|sources|×|distinct scores|), the
    * q120 shape. */
  def conformalThreshold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    conformalOn(Tables.documents(spark, dir)
      .groupBy($"source", $"n_chars").agg(count(lit(1)).as("c")))
  }

  /** Testable core over any counted score grid `(source, n_chars, c)` —
    * also the per-batch body of the streaming conformal monitor
    * (`graft.streaming.Events.conformalMonitor`), whose additive state
    * IS such a grid. */
  private[graft] def conformalOn(g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    val tot = g.groupBy($"source").agg(sum($"c").as("n"))
      // ceil(9(n+1)/10) = (9(n+1)+9) div 10, clamped to n
      .withColumn("k", least(expr("(9 * (n + 1) + 9) div 10"), $"n"))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, 0)
    g.withColumn("cum", sum($"c").over(w))
      .join(tot, "source")
      .where($"cum" >= $"k")
      .groupBy($"source", $"n", $"k")
      .agg(min($"n_chars").as("threshold"))
      .select($"source", $"n", $"k", $"threshold")
  }

  /** q162: classifier evaluation against gold labels — the confusion
    * matrix of the trigram language-ID (q31's predictor) vs the
    * corpus's gold `lang` column, with per-class precision/recall in
    * ppm (exact integer rationals). The eval every model-based curation
    * filter needs before its verdicts are trusted.
    *
    * Scale shape: prediction is map-side (string expressions); the
    * confusion matrix partial-aggs to ≤|langs|² rows; precision/recall
    * marginals are windows over that bounded relation — the corpus is
    * scanned once with no joins. */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val predicted = TextAnalysis.predictedLang(TextAnalysis.langScores($"text"))
    val cm = Tables.documents(spark, dir)
      .groupBy($"lang".as("gold"), predicted.as("predicted"))
      .agg(count(lit(1)).as("n"))
    cm
      .withColumn("n_gold", sum($"n").over(Window.partitionBy($"gold")))
      .withColumn("n_pred", sum($"n").over(Window.partitionBy($"predicted")))
      .select($"gold", $"predicted", $"n",
        expr("(n * 1000000) div n_pred").as("precision_ppm"),
        expr("(n * 1000000) div n_gold").as("recall_ppm"))
  }

  /** q233: adjusted Rand index of the trigram language-ID labeling vs
    * the gold `lang` partition — the chance-corrected agreement score
    * that complements q162's per-class precision/recall with ONE number
    * robust to label permutation (ARI is defined on partitions, so a
    * predictor that systematically swaps two language names still scores
    * its true clustering quality; accuracy would crater). The standard
    * gate before trusting any unsupervised document grouping.
    *
    * Exactness: every pair count C(n,2) = n(n−1) div 2 is an exact long
    * over the ≤|langs|² contingency table; the Hubert–Arabie normalizer
    * is cross-multiplied in decimal(38,0) — index·C2, ΣA·ΣB, C2·(ΣA+ΣB)
    * overflow long at ~1e9 docs — and the ONE division runs in double at
    * the end, floored to ppm (signed: ARI < 0 means worse-than-chance).
    *
    * Scale shape: one corpus scan partial-aggs to the bounded
    * contingency table, materialized once (Ckpt) for its three readers
    * (cell-pair sum, row marginals, column marginals — each would
    * re-scan the corpus); everything after is arithmetic over ≤3 rows
    * of broadcast scalars. */
  def ariLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val predicted = TextAnalysis.predictedLang(TextAnalysis.langScores($"text"))
    ariOn(Tables.documents(spark, dir)
      .select($"lang".as("gold"), predicted.as("predicted")))
  }

  /** Testable core: ARI of two labelings over any `(gold, predicted)`
    * relation. */
  private[graft] def ariOn(labels: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cm = Ckpt(labels
      .groupBy($"gold", $"predicted")
      .agg(count(lit(1)).as("n")), eager = false)
    // C(n,2) as an exact long: n(n−1) is even, so a shift IS the halving
    // (Column./ is double division — unusable here)
    def c2(c: Column): Column =
      shiftright(c.cast("long") * (c.cast("long") - 1L), 1)
    val idx = cm.agg(sum(c2($"n")).as("index_pairs"),
      sum($"n").as("n_docs"))
    val ra = cm.groupBy($"gold").agg(sum($"n").as("a"))
      .agg(sum(c2($"a")).as("sum_a"))
    val cb = cm.groupBy($"predicted").agg(sum($"n").as("b"))
      .agg(sum(c2($"b")).as("sum_b"))
    val dec = DecimalType(38, 0)
    idx.crossJoin(broadcast(ra)).crossJoin(broadcast(cb))
      .withColumn("c2n", c2($"n_docs"))
      .withColumn("num", ($"index_pairs".cast(dec) * $"c2n"
        - $"sum_a".cast(dec) * $"sum_b").cast("double"))
      .withColumn("den", ($"c2n".cast(dec) * ($"sum_a" + $"sum_b")
        - ($"sum_a".cast(dec) * $"sum_b") * 2L).cast("double"))
      .select($"n_docs", $"index_pairs", $"sum_a", $"sum_b",
        when($"den" > 0d,
          floor($"num" * 2d * 1e6 / $"den" + lit(1.0 / 3)).cast("long"))
          .otherwise(lit(0L)).as("ari_ppm"))
  }

  /** q237: Spearman rank correlation, per language, between document
    * length (n_chars) and lexical type count — does longer mean richer,
    * MONOTONICALLY? Pearson (q90's cosine machinery) is linear and
    * length distributions are heavy-tailed (q226), so rank correlation
    * is the right association test for curation thresholds; the rank
    * family (vs q153's Mann-Kendall trend, which tests time order) was
    * otherwise absent.
    *
    * Ties get AVERAGE ranks, the textbook treatment, computed WITHOUT a
    * per-row sort: ranks come off the per-(lang, value) grid — avg rank
    * = cum_count_below + (ties + 1)/2 — and to stay integral both rank
    * vectors are DOUBLED (2·cless + c + 1); Pearson is affine-invariant
    * so rho is unchanged. Moments accumulate in decimal(38,0); the one
    * sqrt+division runs in double, floored to milli (signed).
    *
    * Scale shape: two grid builds (linear partial-agg shuffles bounded
    * by distinct values per lang), two co-partitioned joins to tag each
    * doc with its rank pair (no broadcast — the length grid can be
    * millions of entries), one moment reduce to |langs| rows. No global
    * sort anywhere. */
  def spearmanLenTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spearmanOn(Tables.documents(spark, dir)
      .select($"lang", $"doc_id", $"n_chars".cast("long").as("x"),
        size(array_distinct(TextOps.toks($"text"))).cast("long").as("y")))
  }

  /** Testable core over any `(lang, x, y)` relation. */
  private[graft] def spearmanOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    def ranks(v: String): DataFrame = {
      val w = Window.partitionBy($"lang").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.groupBy($"lang", col(v)).agg(count(lit(1)).as("c"))
        .withColumn("cless", coalesce(sum($"c").over(w), lit(0L)))
        .select($"lang", col(v),
          ($"cless" * 2L + $"c" + 1L).as(s"r_$v"))
    }
    val tagged = docs
      .join(ranks("x"), Seq("lang", "x"))
      .join(ranks("y"), Seq("lang", "y"))
    tagged.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"r_x".cast(dec)).as("sx"),
        sum($"r_y".cast(dec)).as("sy"),
        sum($"r_x".cast(dec) * $"r_y").as("sxy"),
        sum($"r_x".cast(dec) * $"r_x").as("sxx"),
        sum($"r_y".cast(dec) * $"r_y").as("syy"))
      .withColumn("num", ($"n_docs".cast(dec) * $"sxy"
        - $"sx" * $"sy").cast("double"))
      .withColumn("vx", ($"n_docs".cast(dec) * $"sxx"
        - $"sx" * $"sx").cast("double"))
      .withColumn("vy", ($"n_docs".cast(dec) * $"syy"
        - $"sy" * $"sy").cast("double"))
      .select($"lang", $"n_docs",
        $"sxy".cast("long").as("sum_rxy"),
        when($"vx" > 0d && $"vy" > 0d,
          floor($"num" * 1000d / sqrt($"vx" * $"vy") + lit(1.0 / 3))
            .cast("long")).otherwise(0L).as("rho_milli"))
  }

  /** q241: calibration curve + expected calibration error of the
    * token-rate classifier — q232 asked "does it RANK well out-of-fold"
    * (AUC); this asks "do its scores MEAN what they say": a doc scored
    * 0.8 should be English 80% of the time. The reliability table per
    * score decile (count, mean confidence, empirical accuracy, gap) is
    * what decides whether q82-style keep/drop thresholds on the score
    * are honest, and ECE = Σ n_b·|acc_b − conf_b| / n is the one-number
    * summary (Naeini et al. 2015). The predicted probability is the
    * doc's MEAN token positive-rate — an interpretable [0,1] proxy the
    * binning needs (q232's sum-score is unbounded). Bins are
    * EQUAL-COUNT score deciles (adaptive-binning ECE): fixed-width
    * bins collapse to ONE populated cell on a concentrated score
    * distribution (measured: every sf0.01 doc landed in the 0.4-0.5
    * width-bin) and the reliability table says nothing.
    *
    * All integer: rates, per-doc means, decile assignment (cum-count
    * rank off the bounded distinct-score grid — no per-row sort), bin
    * confidences and accuracies are exact ppm div chains; the
    * gap-weighted ECE total is a window sum over the ≤10-row bin table.
    *
    * Scale shape: one (token) aggregation pass, one score join, one
    * groupBy doc, one bounded-grid rank, one groupBy bin — the q232
    * pipeline minus the fold axis; everything after the doc scores is
    * bounded by the distinct-score count. */
  def calibrationEce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dt = TextOps.docsParallel(spark, dir)
      .select($"doc_id",
        when($"lang" === "en", 1L).otherwise(0L).as("y"),
        explode(array_distinct(TextOps.toks($"text"))).as("tok"))
    val rate = dt.groupBy($"tok")
      .agg(count(lit(1)).as("cnt"), sum($"y").as("pos"))
      .select($"tok", expr("(pos * 1000000) div cnt").as("rate_ppm"))
    // three consumers (the bin grid, the n_all broadcast, the scored
    // join), each ending in its own shuffle/agg — without truncation
    // each re-ran the token explode + rate join + doc groupBy (stage
    // log: three 10-33 s-CPU token passes per execution)
    val docScore = Ckpt(dt.join(rate, "tok")
      .groupBy($"doc_id", $"y")
      .agg(expr("sum(rate_ppm) div count(1)").as("pred_ppm")),
      eager = false)
    // equal-count decile off the distinct-score grid: bin = rank decile
    // of the doc's score (ties share a bin — same cum-below count)
    val wG = Window.partitionBy(graft.functions.Win.bounded).orderBy($"pred_ppm")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bins = docScore.groupBy($"pred_ppm").agg(count(lit(1)).as("c"))
      .withColumn("cless", coalesce(sum($"c").over(wG), lit(0L)))
      .crossJoin(broadcast(docScore.agg(count(lit(1)).as("n_all"))))
      .select($"pred_ppm", expr("(cless * 10) div n_all").as("bin"))
    val scored = docScore.join(bins, "pred_ppm")
    val wAll = Window.partitionBy(graft.functions.Win.bounded).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    scored.groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(pred_ppm) div count(1)").as("conf_ppm"),
        expr("(sum(y) * 1000000) div count(1)").as("acc_ppm"))
      .withColumn("gap_ppm", abs($"acc_ppm" - $"conf_ppm"))
      .withColumn("wsum", sum($"n_docs" * $"gap_ppm").over(wAll))
      .withColumn("wn", sum($"n_docs").over(wAll))
      .select($"bin", $"n_docs", $"conf_ppm", $"acc_ppm", $"gap_ppm",
        expr("wsum div wn").as("ece_ppm"))
  }

  /** q242: sliced Wasserstein embedding drift — per LABEL group, the
    * W1 distance between the group's projected-embedding distribution
    * and the whole collection's, on 4 deterministic ±1 hyperplanes
    * (Similarity's md5 sign family), averaged into the sliced-W1
    * estimate (Rabin et al. 2011). q229 measures drift in LENGTH space;
    * this is the same earth-mover question asked of the EMBEDDING
    * distribution — the drift a re-embedded or differently-sourced
    * label slice shows long before any downstream metric moves, at 1-D
    * cost (full high-dimensional W1 is a transport solve; random
    * projections make it a per-line CDF integral).
    *
    * Exactness: components quantize to the micro grid ONCE (q224's
    * lattice); each projection is a sum of ±xq longs — order-free, no
    * double accumulation anywhere near the data; strip sums
    * |cum_s·N − cum_a·n_s|·gap run in decimal(38,0) (cum products pass
    * long range at ~1e9 vectors); one double division per (plane,
    * label) floors to micro.
    *
    * Scale shape: one posexplode scan joins the broadcast 256-row sign
    * table and partial-aggs back to |vectors|·4 projections; the CDF
    * work runs on the bounded (plane, label, value)-grid relation,
    * Ckpt'd once for its four readers (marginal, totals, grand total,
    * dense grid). */
  def slicedW1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val planes = Similarity.signMatrix(4, 64)
    val sgn = (for (p <- 0 until 4; d <- 0 until 64)
      yield (p.toLong, d.toLong, planes(p)(d) > 0)).toDF("plane", "i", "pos")
    val proj = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label".cast("long").as("label"),
        posexplode(transform($"embedding",
          x => floor(x.cast("double") * 1e6 + lit(1.0 / 3)).cast("long")))
          .as(Seq("i", "xq")))
      .withColumn("i", $"i".cast("long"))
      .join(broadcast(sgn), "i")
      .groupBy($"vec_id", $"label", $"plane")
      .agg(sum(when($"pos", $"xq").otherwise(-$"xq")).as("v"))
    val g = Ckpt(proj.groupBy($"plane", $"label", $"v")
      .agg(count(lit(1)).as("c")), eager = false)
    val allG = g.groupBy($"plane", $"v").agg(sum($"c").as("ca"))
    val tot = g.groupBy($"plane", $"label").agg(sum($"c").as("n_s"))
    val nAll = g.groupBy($"plane").agg(sum($"c").as("n_all"))
    val grid = allG.join(broadcast(tot), Seq("plane"))
      .join(g, Seq("plane", "label", "v"), "left")
      .select($"plane", $"label", $"v", $"n_s",
        coalesce($"c", lit(0L)).as("c"), $"ca")
    val wCum = Window.partitionBy($"plane", $"label").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLead = Window.partitionBy($"plane", $"label").orderBy($"v")
    val perPlane = grid
      .withColumn("cum_s", sum($"c").over(wCum))
      .withColumn("cum_a", sum($"ca").over(wCum))
      .withColumn("v_next", lead($"v", 1).over(wLead))
      .join(broadcast(nAll), "plane")
      .groupBy($"plane", $"label")
      .agg(max($"n_s").as("n_s"), max($"n_all").as("n_all"),
        sum(when($"v_next".isNull, lit(0L).cast(dec))
          .otherwise(abs($"cum_s".cast(dec) * $"n_all"
            - $"cum_a".cast(dec) * $"n_s") * ($"v_next" - $"v")))
          .as("raw"))
      .select($"plane", $"label", $"n_s",
        floor($"raw".cast("double")
          / ($"n_s".cast(dec) * $"n_all").cast("double") + lit(1.0 / 3))
          .cast("long").as("w1_micro"))
    perPlane
      .withColumn("swd_micro",
        expr("sum(w1_micro)").over(Window.partitionBy($"label"))
          .cast("long"))
      .select($"plane", $"label", $"n_s", $"w1_micro",
        expr("swd_micro div 4").as("swd_micro"))
  }

  /** q163: bootstrap confidence interval for a per-source corpus metric
    * (mean document length) — the uncertainty band a data report should
    * carry before anyone compares two sources. Deterministic Poisson
    * bootstrap (Chamandy et al. 2012, the shard-friendly bootstrap):
    * replica b gives each doc weight w ~ Poisson(1) drawn by inverting
    * the Poisson CDF at a per-(doc,b) md5 uniform — the thresholds are
    * precomputed integer constants (floor(cdf·2^20)), so no float RNG
    * and no libm anywhere. Replica means are integer-divided at 1e3;
    * the 90% band is replicas ranked 6 and 95 of 100.
    *
    * Scale shape: the 100× fan-out is map-side (explode over a literal
    * range) and immediately partial-aggs to |sources|×100 rows; the
    * rank windows run on that bounded relation. The fan-out multiplies
    * CPU, not shuffle bytes — the aggregation state, not the corpus, is
    * what moves. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // floor(2^20 · PoissonCDF(k; λ=1)) for k = 0..4; mass above 5 is
    // folded into w=5 (P ≈ 3.7e-4 — immaterial for a mean's CI)
    val u = conv(substring(md5(concat($"doc_id".cast("string"), lit("_b"),
      $"b".cast("string"))), 1, 8), 16, 10).cast("long") % 1048576L
    val w = when(u < 385749L, 0L).when(u < 771498L, 1L)
      .when(u < 964372L, 2L).when(u < 1028665L, 3L)
      .when(u < 1044738L, 4L).otherwise(5L)
    val reps = Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars",
        explode(sequence(lit(0), lit(99))).as("b"))
      .select($"source", $"b", w.as("w"), $"n_chars")
      .groupBy($"source", $"b")
      .agg(sum($"w" * $"n_chars").as("sw_chars"), sum($"w").as("sw"))
      .where($"sw" > 0)
      .withColumn("mean_q", expr("(sw_chars * 1000) div sw"))
    val rn = row_number().over(
      Window.partitionBy($"source").orderBy($"mean_q", $"b"))
    val point = Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(expr("(sum(n_chars) * 1000) div count(*)").as("point_q"))
    reps
      .withColumn("rn", rn)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_reps"),
        min(when($"rn" === 6, $"mean_q")).as("lo_q"),
        min(when($"rn" === 95, $"mean_q")).as("hi_q"))
      .join(point, "source")
      .select($"source", $"n_reps", $"point_q", $"lo_q", $"hi_q")
  }

  /** q167: NDCG@10 of a cheap ranking feature — per source, rank
    * documents by length (the q120 AUC feature as a RANKER) and score
    * the ranking against gold relevance (lang = 'en') with
    * discounted cumulative gain. The 1/log2(i+1) discounts are
    * PRECOMPUTED integer literals (floor(1e6/log2(i+1)) for i = 1..10)
    * on both engines — no runtime libm anywhere, so DCG, ideal DCG and
    * the ppm ratio are all exact integers. IDCG@10 reads the
    * cumulative-weight literal at min(n_relevant, 10).
    *
    * Scale shape: the per-source top-10 is a rank window cut (grouped
    * limit, no global sort); relevance totals partial-agg; everything
    * after runs on ≤|sources|×10 rows. */
  def ndcgAt10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w10 = Seq(1000000L, 630929L, 500000L, 430676L, 386852L, 356207L,
      333333L, 315464L, 301029L, 289064L)
    val cum10 = Seq(1000000L, 1630929L, 2130929L, 2561605L, 2948457L,
      3304664L, 3637997L, 3953461L, 4254490L, 4543554L)
    val docs = Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars",
        when($"lang" === "en", 1L).otherwise(0L).as("rel"))
    val nRel = docs.groupBy($"source").agg(sum($"rel").as("n_rel"))
    val rk = row_number().over(
      Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id"))
    val dcg = docs
      .withColumn("rk", rk)
      .where($"rk" <= 10)
      .groupBy($"source")
      .agg(sum($"rel" *
        element_at(array(w10.map(lit): _*), $"rk".cast("int"))).as("dcg_q"))
    dcg.join(nRel, "source")
      .where($"n_rel" > 0)
      .withColumn("idcg_q",
        element_at(array(cum10.map(lit): _*),
          least($"n_rel", lit(10L)).cast("int")))
      .select($"source", $"n_rel", $"dcg_q", $"idcg_q",
        expr("(dcg_q * 1000000) div idcg_q").as("ndcg_ppm"))
  }

  /** q171: two-sample chi-square (the A/B significance test) — per
    * event type, does the high-value rate (value ≥ 10) differ between
    * the stream's first and second half (epoch midpoint split, q149's
    * frame)? χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) with the 2×2 counts
    * exact integers; the statistic itself is ONE double expression
    * written in the identical op order on both engines (the products
    * overflow int64 at scale, so the float step is explicit and
    * deterministic), reported at 1e3 quantization.
    *
    * Scale shape: the stream partial-aggs to |types|×4 cells in one
    * scan; everything after is arithmetic on the bounded relation. */
  def chiSquareAb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mid = 1705363200000L // 2024-01-16T00:00Z, the stream midpoint
    val cells = Tables.events(spark, dir)
      .select($"event_type",
        (unix_millis($"ts") < mid).as("first_half"),
        ($"value" >= 10.0).as("hit"))
      .groupBy($"event_type")
      .agg(
        sum(when($"first_half" && $"hit", 1L).otherwise(0L)).as("a"),
        sum(when($"first_half" && !$"hit", 1L).otherwise(0L)).as("b"),
        sum(when(!$"first_half" && $"hit", 1L).otherwise(0L)).as("c"),
        sum(when(!$"first_half" && !$"hit", 1L).otherwise(0L)).as("d"))
    cells
      .where(($"a" + $"b") > 0 && ($"c" + $"d") > 0 &&
        ($"a" + $"c") > 0 && ($"b" + $"d") > 0)
      .withColumn("chi2_milli", floor(
        (($"a" + $"b" + $"c" + $"d").cast("double")
          * ($"a" * $"d" - $"b" * $"c").cast("double")
          * ($"a" * $"d" - $"b" * $"c").cast("double")
          / (($"a" + $"b").cast("double") * ($"c" + $"d").cast("double")
            * ($"a" + $"c").cast("double") * ($"b" + $"d").cast("double")))
          * 1000).cast("long"))
      .select($"event_type", $"a", $"b", $"c", $"d", $"chi2_milli")
  }

  /** q177: CUPED variance reduction (Deng et al. 2013, WSDM) — the
    * standard experiment-readout adjustment: each user's post-period
    * metric Y (second-half event count) is shifted by θ·(X − X̄) where
    * X is the pre-period covariate (first-half count) and θ =
    * cov(X,Y)/var(X) pooled across arms (user_id parity stands in for
    * the assignment). Everything stays integer-exact: θ_ppm is one
    * integer division of the cross-moment numerators (n·ΣXY − ΣX·ΣY
    * over n·ΣX² − (ΣX)²), and the adjusted metric is kept on an
    * n-scaled integer grid (Y'= n·Y·1e6 − θ_ppm·(n·X − ΣX)) so no
    * float mean ever forms. Output: per arm, raw and adjusted means
    * in ppm — the adjusted delta is the debiased readout.
    *
    * Scale shape: per-user counts partial-agg in one scan; the moment
    * totals are a one-row broadcast; per-arm reduction is a bounded
    * agg. The 1e6 scale bounds the integer magnitudes at ~1e16 for
    * this corpus; a larger deployment drops the ppm scale a decade. */
  def cupedAdjust(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mid = 1705363200000L
    val users = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        sum(when(unix_millis($"ts") < mid, 1L).otherwise(0L)).as("x"),
        sum(when(unix_millis($"ts") >= mid, 1L).otherwise(0L)).as("y"))
      .withColumn("arm", ($"user_id" % 2).cast("long"))
    val mom = users.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
      sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
      sum($"x" * $"y").as("sxy"))
      .withColumn("theta_ppm",
        expr("((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)"))
    users.crossJoin(broadcast(mom))
      .withColumn("y_adj_scaled",
        $"n" * $"y" * 1000000L - $"theta_ppm" * ($"n" * $"x" - $"sx"))
      .groupBy($"arm")
      .agg(count(lit(1)).as("n_users"),
        first($"theta_ppm").as("theta_ppm"),
        expr("(sum(y) * 1000000) div count(*)").as("mean_y_ppm"),
        expr("sum(y_adj_scaled) div (first(n) * count(*))")
          .as("mean_y_adj_ppm"))
  }

  /** q179: Benjamini–Hochberg FDR over the per-type temporal drift
    * screens — the multiple-testing control a monitoring pipeline needs
    * once it runs one KS test per metric (Benjamini & Hochberg 1995).
    * Per event_type: two-sample KS between the first- and second-half
    * value distributions (the q144 exact cross-multiplied integer D on
    * the quantized value grid), then the asymptotic one-term p-value
    * p = min(1, 2·exp(−2·D²·n_a·n_b/(n_a+n_b))) quantized to ppb (the
    * +1/3 offset absorbs libm exp ulp skew), then the BH step-up:
    * rank p ascending, k* = max{k : p_k·m ≤ k·α·10⁹} at α = 0.05, and
    * every rank ≤ k* is a discovery.
    *
    * Scale shape: the stream partial-aggs ONCE to the (type, vq)
    * count-per-half relation (vocab-bounded); CDFs, D, p, and the BH
    * windows all run on that bounded aggregate — at 100 TB the only
    * full-data work is the one scan. */
  def fdrDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mid = 1705363200000L
    val g = Tables.events(spark, dir)
      .select($"event_type",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"),
        (unix_millis($"ts") < mid).as("first_half"))
      .groupBy($"event_type", $"vq")
      .agg(sum(when($"first_half", 1L).otherwise(0L)).as("ca"),
        sum(when(!$"first_half", 1L).otherwise(0L)).as("cb"))
    val wCdf = Window.partitionBy($"event_type").orderBy($"vq")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val d = g
      .withColumn("cum_a", sum($"ca").over(wCdf))
      .withColumn("cum_b", sum($"cb").over(wCdf))
      .withColumn("n_a", sum($"ca").over(wTot))
      .withColumn("n_b", sum($"cb").over(wTot))
      .groupBy($"event_type", $"n_a", $"n_b")
      .agg(max(abs($"cum_a" * $"n_b" - $"cum_b" * $"n_a")).as("d_num"))
      .where($"n_a" > 0 && $"n_b" > 0)
      .withColumn("d_ppm", expr("(d_num * 1000000) div (n_a * n_b)"))
      .withColumn("p_ppb", floor(least(lit(1.0),
        lit(2.0) * exp(lit(-2.0) * ($"d_num".cast("double")
          * $"d_num".cast("double"))
          / ($"n_a".cast("double") * $"n_b".cast("double")
            * ($"n_a" + $"n_b").cast("double"))))
        * 1e9 + lit(1.0 / 3)).cast("long"))
    // BH step-up on the bounded |types|-row relation: alpha = 0.05
    val wRank = Window.partitionBy(graft.functions.Win.bounded).orderBy($"p_ppb".asc, $"event_type".asc)
    val wAll = Window.partitionBy(graft.functions.Win.bounded).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    d.withColumn("m", count(lit(1)).over(wAll))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("pass_raw",
        when($"p_ppb" * $"m" <= $"rk" * 50000000L, $"rk").otherwise(0L))
      .withColumn("k_star", max($"pass_raw").over(wAll))
      .select($"event_type", $"n_a", $"n_b", $"d_ppm", $"p_ppb", $"rk",
        when($"rk" <= $"k_star", 1L).otherwise(0L).as("discovery"))
  }

  /** q185: difference-in-differences — the quasi-experimental readout
    * when assignment isn't randomized: with arms A/B (user parity, the
    * q177 assignment) observed pre/post the stream midpoint, the
    * treatment effect estimate is (ȳ_B,post − ȳ_B,pre) − (ȳ_A,post −
    * ȳ_A,pre), which cancels both the arm-level baseline and the
    * common time trend (Card & Krueger 1994). Metric: the quantized
    * event value. Each cell mean is one integer ppm division of exact
    * sums; the DiD is arithmetic on those floored means — identical in
    * both engines by construction.
    *
    * Scale shape: the stream partial-aggs to 4 (arm, period) cells in
    * one scan; everything after is constant work on one row. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mid = 1705363200000L
    val cells = Tables.events(spark, dir)
      .select(($"user_id" % 2).as("arm"),
        when(unix_millis($"ts") < mid, "pre").otherwise("post").as("period"),
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .groupBy($"arm", $"period")
      .agg(count(lit(1)).as("n"), sum($"vq").as("s"))
      .withColumn("mean_ppm", expr("(s * 1000) div n"))
    cells.agg(
        sum(when($"arm" === 0 && $"period" === "pre", $"n")).as("n_a_pre"),
        sum(when($"arm" === 0 && $"period" === "post", $"n")).as("n_a_post"),
        sum(when($"arm" === 1 && $"period" === "pre", $"n")).as("n_b_pre"),
        sum(when($"arm" === 1 && $"period" === "post", $"n")).as("n_b_post"),
        sum(when($"arm" === 0 && $"period" === "pre", $"mean_ppm"))
          .as("mean_a_pre_ppm"),
        sum(when($"arm" === 0 && $"period" === "post", $"mean_ppm"))
          .as("mean_a_post_ppm"),
        sum(when($"arm" === 1 && $"period" === "pre", $"mean_ppm"))
          .as("mean_b_pre_ppm"),
        sum(when($"arm" === 1 && $"period" === "post", $"mean_ppm"))
          .as("mean_b_post_ppm"))
      .withColumn("did_ppm",
        ($"mean_b_post_ppm" - $"mean_b_pre_ppm")
          - ($"mean_a_post_ppm" - $"mean_a_pre_ppm"))
  }

  /** q188: stratified ATE — the third member of the causal-readout
    * family (q177 CUPED removes pre-period variance, q185 DiD removes
    * common trends, this removes CONFOUNDING by a categorical
    * covariate): within each event_type stratum the arm means are
    * compared directly, and the average treatment effect is the
    * n_s-weighted mean of the per-stratum differences (standardization
    * / g-formula over a discrete covariate — the aggregate identity of
    * inverse-propensity weighting when propensity is stratum-constant).
    * The final `__all__` row carries the weighted ATE; contrast it with
    * the naive pooled difference to read off Simpson-style confounding.
    * All integer: floored ppm cell means, exact weighted sum, one
    * integer division.
    *
    * Scale shape: one scan partial-aggs to |types|×2 cells; everything
    * after is bounded arithmetic. */
  def stratifiedAte(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val strata = Tables.events(spark, dir)
      .select($"event_type", ($"user_id" % 2).as("arm"),
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .groupBy($"event_type")
      .agg(sum(when($"arm" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"arm" === 0, $"vq").otherwise(0L)).as("s0"),
        sum(when($"arm" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"arm" === 1, $"vq").otherwise(0L)).as("s1"))
      .where($"n0" > 0 && $"n1" > 0)
      .withColumn("n_s", $"n0" + $"n1")
      .withColumn("mean0_ppm", expr("(s0 * 1000) div n0"))
      .withColumn("mean1_ppm", expr("(s1 * 1000) div n1"))
      .withColumn("diff_ppm", $"mean1_ppm" - $"mean0_ppm")
    val overall = strata.agg(
        sum($"n0").as("n0"), sum($"s0").as("s0"),
        sum($"n1").as("n1"), sum($"s1").as("s1"),
        sum($"n_s" * $"diff_ppm").as("wsum"), sum($"n_s").as("n_s"))
      .select(lit("__all__").as("stratum"), $"n_s", $"n0", $"n1",
        expr("(s0 * 1000) div n0").as("mean0_ppm"),
        expr("(s1 * 1000) div n1").as("mean1_ppm"),
        expr("wsum div n_s").as("diff_ppm"))
    strata.select($"event_type".as("stratum"), $"n_s", $"n0", $"n1",
        $"mean0_ppm", $"mean1_ppm", $"diff_ppm")
      .unionByName(overall)
  }

  /** q189: permutation test for the arm difference in per-user event
    * counts — the nonparametric significance readout that assumes
    * nothing about the metric's distribution (Fisher 1935): re-randomize
    * the arm label 100 times and count how often the permuted |mean
    * difference| reaches the observed one. Permutations are
    * content-hash-derived (md5 of user × replicate — the q163 bootstrap
    * discipline), so both engines draw the SAME 100 assignments;
    * every per-rep difference is a floored ppm of exact sums, making
    * the extreme-count an integer both engines agree on. p is the
    * add-one estimate (n_extreme+1)/(B+1) in milli.
    *
    * Scale shape: the stream reduces to the per-user relation once;
    * the 100-fold explode is over THAT bounded relation and partial-
    * aggs straight back to 100 rows. */
  def permTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("y"))
      .withColumn("arm", ($"user_id" % 2).cast("long"))
    // floored ppm mean difference of exact sums over a `parm` column
    def diffPpm: Column =
      expr("(sum(case when parm = 1 then y else 0 end) * 1000000) div " +
        "sum(case when parm = 1 then 1 else 0 end)") -
      expr("(sum(case when parm = 0 then y else 0 end) * 1000000) div " +
        "sum(case when parm = 0 then 1 else 0 end)")
    val obs = users.withColumn("parm", $"arm")
      .agg(diffPpm.as("diff_obs_ppm"), count(lit(1)).as("n_users"))
    val reps = users
      .select($"user_id", $"y",
        explode(sequence(lit(0), lit(99))).as("b"))
      .withColumn("parm",
        Sampling.hash32Col(concat(lit("perm"), $"b".cast("string")),
          $"user_id") % 2)
      .groupBy($"b")
      .agg(diffPpm.as("diff_ppm"))
    reps.crossJoin(broadcast(obs))
      .agg(max($"n_users").as("n_users"),
        max($"diff_obs_ppm").as("diff_obs_ppm"),
        count(lit(1)).as("n_reps"),
        sum(when(abs($"diff_ppm") >= abs($"diff_obs_ppm"), 1L)
          .otherwise(0L)).as("n_extreme"))
      .withColumn("p_milli",
        expr("((n_extreme + 1) * 1000) div (n_reps + 1)"))
  }

  /** q191: Mann–Whitney U between the arms' value distributions, per
    * event_type — the rank-sum significance test that pairs with q179's
    * KS (KS asks "any distributional difference", U asks "is one arm
    * stochastically larger"). Computed WITHOUT ranking any row: on the
    * quantized value grid, 2U = Σ_v c1(v)·(2·cum0(v⁻) + c0(v)) — exact
    * longs off the same (type, vq, arm) counts relation the KS uses.
    * The z-score uses the tie-corrected variance
    * var = n0·n1/12·((n+1) − Σ(t³−t)/(n(n−1))); factors are exact longs
    * cast once to double, z quantized at milli with the +1/3 offset.
    *
    * Scale shape: one scan → vocab-bounded (type, vq) counts; CDFs and
    * tie sums are windows over that bounded grid. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mannWhitneyOn(Tables.events(spark, dir)
      .select($"event_type",
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"),
        ($"user_id" % 2 === 1).as("treat")))
  }

  /** Testable core over any `(event_type, vq, treat)` relation —
    * StatPropertySpec checks 2U against brute-force pair counting. */
  private[graft] def mannWhitneyOn(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    val g = rows
      .groupBy($"event_type", $"vq")
      .agg(sum(when(!$"treat", 1L).otherwise(0L)).as("c0"),
        sum(when($"treat", 1L).otherwise(0L)).as("c1"))
    val wCdf = Window.partitionBy($"event_type").orderBy($"vq")
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = g
      .withColumn("cum0", coalesce(sum($"c0").over(wCdf), lit(0L)))
      .groupBy($"event_type")
      .agg(sum($"c0").as("n0"), sum($"c1").as("n1"),
        sum($"c1" * (lit(2) * $"cum0" + $"c0")).as("u2"),
        sum(($"c0" + $"c1") * ($"c0" + $"c1") * ($"c0" + $"c1")
          - ($"c0" + $"c1")).as("tie3"))
      .where($"n0" > 0 && $"n1" > 0)
      .withColumn("n", $"n0" + $"n1")
    m.withColumn("var4",
        $"n0".cast("double") * $"n1".cast("double")
          * (($"n" + 1).cast("double")
            - $"tie3".cast("double")
              / ($"n".cast("double") * ($"n" - 1).cast("double")))
          / lit(3.0))
      .where($"var4" > 0)
      .withColumn("z_milli", floor(
        ($"u2" - $"n0" * $"n1").cast("double") / sqrt($"var4") * 1000
          + lit(1.0 / 3)).cast("long"))
      .select($"event_type", $"n0", $"n1", $"u2", $"tie3", $"z_milli")
  }

  /** q192: decile lift / gains table for the length ranker — the
    * campaign-targeting readout that complements q120's AUC (one
    * number) with WHERE the ranker's value concentrates: docs bucketed
    * into score deciles (descending n_chars), per decile the relevant
    * count (lang = 'en'), cumulative capture, and cumulative lift vs
    * the base rate — lift_ppm = (cum_rel·N·10⁶) div (cum_docs·R), all
    * exact integers. Deciles are VALUE-GROUP deciles: every doc with
    * the same score gets the decile of the group's first descending
    * rank (d = cum_gt·10 div N + 1) — no per-row ranking, so the
    * assignment is computed entirely on the bounded score grid and
    * ties can't straddle engines differently.
    *
    * Scale shape: one scan reduces to the (score, rel-count) grid;
    * decile assignment, cumulative windows, and lift run on ≤ |scores|
    * then 10 rows. */
  def decileLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .groupBy($"n_chars")
      .agg(count(lit(1)).as("cnt"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("rel"))
    val wGt = Window.partitionBy(graft.functions.Win.bounded).orderBy($"n_chars".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(graft.functions.Win.bounded).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val deciles = g
      .withColumn("cum_gt", coalesce(sum($"cnt").over(wGt), lit(0L)))
      .withColumn("n_tot", sum($"cnt").over(wAll))
      .withColumn("r_tot", sum($"rel").over(wAll))
      .withColumn("decile", expr("(cum_gt * 10) div n_tot + 1"))
      .groupBy($"decile")
      .agg(sum($"cnt").as("n_docs"), sum($"rel").as("n_rel"),
        max($"n_tot").as("n_tot"), max($"r_tot").as("r_tot"))
    val wCum = Window.partitionBy(graft.functions.Win.bounded).orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    deciles
      .withColumn("cum_docs", sum($"n_docs").over(wCum))
      .withColumn("cum_rel", sum($"n_rel").over(wCum))
      .where($"r_tot" > 0)
      .select($"decile", $"n_docs", $"n_rel", $"cum_docs", $"cum_rel",
        expr("(cum_rel * n_tot * 1000000) div (cum_docs * r_tot)")
          .as("lift_ppm"))
  }

  /** q195: Wilson lower bound per supplier — ranking by success RATE
    * alone promotes low-volume flukes (3/3 beats 95/100); the Wilson
    * score interval's lower bound (Wilson 1927, the standard
    * "sort by confidence-adjusted rating" fix) shrinks small samples
    * toward the prior. Success = lineitem not returned (l_returnflag
    * ≠ 'R'). The bound uses z = 1.96: every input to the float formula
    * is an exact long, the expression is written identically in both
    * engines, and the result is ppm-quantized with the +1/3 offset.
    * Output also carries the naive rate so the re-ranking is visible.
    *
    * Scale shape: one partial-agged groupBy to the |suppliers|
    * relation; the formula is map-side arithmetic on that bounded
    * aggregate. */
  def wilsonBound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey".as("suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("s"))
    g.withColumn("rate_ppm", expr("(s * 1000000) div n"))
      .withColumn("wilson_ppm", floor(
        (($"s".cast("double") / $"n".cast("double")
          + lit(1.96 * 1.96) / (lit(2.0) * $"n".cast("double")))
          - lit(1.96) * sqrt(
            ($"s".cast("double") / $"n".cast("double"))
              * (lit(1.0) - $"s".cast("double") / $"n".cast("double"))
              / $"n".cast("double")
            + lit(1.96 * 1.96)
              / (lit(4.0) * $"n".cast("double") * $"n".cast("double"))))
          / (lit(1.0) + lit(1.96 * 1.96) / $"n".cast("double"))
          * 1e6 + lit(1.0 / 3)).cast("long"))
      .select($"suppkey", $"n", $"s", $"rate_ppm", $"wilson_ppm")
  }

  /** q196: held-out MRR@10 / hit@10 of a popularity recommender — the
    * eval loop that closes the q194 negative-sampling + q184 HITS
    * recsys family: 20% of the (customer, supplier) interactions are
    * held out by content hash, suppliers are ranked by TRAIN
    * popularity, and each held-out pair is scored by the reciprocal of
    * its user-FILTERED rank (the user's own train items are removed
    * from above it — the standard filtered-ranking protocol).
    * Everything integer: reciprocal rank as 10⁶ div rank, MRR as one
    * integer division of the sum.
    *
    * Scale shape (round 7 fuse — was 5 shuffles / 7.5x DuckDB):
    * interactions dedup via ONE custkey-keyed collect_set agg (so the
    * deduped relation is born custkey-partitioned) and localCheckpoint
    * once; the popularity rank is TWO-PHASE — row_number inside each
    * pop-value segment (parallel, Window.partitionBy(pop)) plus an
    * exclusive prefix offset over the |distinct pop|-row histogram,
    * broadcast back (the q178 segment-rank form: no single-partition
    * catalog sort); ranks attach via one AQE-broadcastable catalog
    * join that PRESERVES the custkey partitioning, so the per-user
    * filtered-rank correction is ONE shuffle-free aggregation building
    * the user's sorted train-rank array and held ranks together
    * (both bounded by user degree) — no pair explosion, no join, no
    * post-join regroup. sf0.1: 3.06 s → 2.07 s. */
  def mrrEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOTE round 9: a rebalance of the 2-column lineitem projection was
    // tried against the 3-task single-file scan stage (0.46 s of
    // near-serial join+partial-agg CPU) and REJECTED — the extra
    // exchange+barrier exactly cancels the parallelism it buys (1.83 s
    // -> 1.89 s warm best-of-3). The serial stage is a toy-layout
    // artifact; a real multi-split table runs it wide for free.
    val inter = Ckpt(Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("custkey"), $"l_suppkey".as("suppkey"))
      .groupBy($"custkey").agg(collect_set($"suppkey").as("supps"))
      .select($"custkey", explode($"supps").as("suppkey"))
      .withColumn("held", Sampling.hash32("mrr",
        concat($"custkey".cast("string"), lit(":"),
          $"suppkey".cast("string"))) % 5 === 0), eager = false)
    val pop = inter.where(!$"held").groupBy($"suppkey")
      .agg(count(lit(1)).as("pop"))
    // two-phase rank by (pop desc, suppkey): in-segment row_number is
    // partitioned by pop (parallel); offsets come from the bounded
    // pop-value histogram (|distinct pop| ≤ max train degree rows)
    val rnIn = pop.withColumn("rn", row_number().over(
      Window.partitionBy($"pop").orderBy($"suppkey".asc)).cast("long"))
    val offs = pop.groupBy($"pop").agg(count(lit(1)).as("c"))
      .select($"pop", coalesce(sum($"c").over(
        Window.partitionBy(graft.functions.Win.bounded).orderBy($"pop".desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    val ranked = rnIn.join(broadcast(offs), "pop")
      .select($"suppkey", ($"rn" + $"off").as("r"))
    val interR = inter.join(ranked, "suppkey")
    // ONE co-partitioned agg builds the user's train-rank array AND the
    // held ranks (collect_list drops the when-nulls); explode replays
    // each held row against the bounded array — no pair join, no regroup
    val byCust = interR.groupBy($"custkey").agg(
      sort_array(collect_list(when(!$"held", $"r"))).as("rts"),
      collect_list(when($"held", $"r")).as("held_rs"))
    val better = byCust
      .select($"rts", explode($"held_rs").as("r"))
      .withColumn("n_better",
        size(filter($"rts", x => x < $"r")).cast("long"))
      .withColumn("rank_f", $"r" - $"n_better")
    better.agg(count(lit(1)).as("n_heldout"),
        sum(expr("1000000 div rank_f")).as("sum_recip_ppm"),
        sum(when($"rank_f" <= 10, 1L).otherwise(0L)).as("hit10"))
      .select($"n_heldout", $"hit10",
        expr("(hit10 * 1000000) div n_heldout").as("hit10_ppm"),
        expr("sum_recip_ppm div n_heldout").as("mrr_ppm"))
  }

  /** q199: group-sequential A/B monitoring with O'Brien–Fleming
    * boundaries — the peeking correction: an experimenter who looks at
    * the data K=4 times must compare each interim z against an
    * escalating boundary (4.049, 2.863, 2.337, 2.024 for two-sided
    * α=0.05; O'Brien & Fleming 1979), not against 1.96, or the false-
    * positive rate triples. At each of the four q193 cutoffs: pooled-
    * variance two-sample z on the quantized event value from exact
    * integer moments (only the final sqrt/divide is float, milli-
    * quantized); `crossed` = |z| ≥ boundary.
    *
    * Scale shape: ONE scan partial-aggs per (look, arm) using
    * cumulative membership conditions — 8 cells; everything after is
    * bounded arithmetic. */
  def sequentialAb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoffs = Seq(1704931200000L, 1705363200000L,
      1705795200000L, 1706227200000L)
    val bounds = Seq(4049L, 2863L, 2337L, 2024L)
    val looks = cutoffs.zip(bounds).zipWithIndex
      .map { case ((c, b), i) => (i + 1L, c, b) }
      .toDF("look", "cutoff_ms", "boundary_milli")
    val cells = Tables.events(spark, dir)
      .select(($"user_id" % 2).as("arm"), unix_millis($"ts").as("tms"),
        floor($"value" * 1000 + lit(1.0 / 3)).cast("long").as("vq"))
      .crossJoin(broadcast(looks))
      .where($"tms" < $"cutoff_ms")
      .groupBy($"look", $"boundary_milli")
      .agg(
        sum(when($"arm" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"arm" === 0, $"vq").otherwise(0L)).as("s0"),
        sum(when($"arm" === 0, $"vq" * $"vq").otherwise(0L)).as("q0"),
        sum(when($"arm" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"arm" === 1, $"vq").otherwise(0L)).as("s1"),
        sum(when($"arm" === 1, $"vq" * $"vq").otherwise(0L)).as("q1"))
      .where($"n0" > 1 && $"n1" > 1)
    // pooled variance from exact moments; one float pipeline, same
    // order both engines
    cells.withColumn("z_milli", floor(
        ($"s1".cast("double") / $"n1".cast("double")
          - $"s0".cast("double") / $"n0".cast("double"))
          / sqrt(
            (($"q0".cast("double") - $"s0".cast("double")
              * $"s0".cast("double") / $"n0".cast("double"))
              + ($"q1".cast("double") - $"s1".cast("double")
                * $"s1".cast("double") / $"n1".cast("double")))
              / ($"n0" + $"n1" - 2).cast("double")
              * (lit(1.0) / $"n0".cast("double")
                + lit(1.0) / $"n1".cast("double")))
          * 1000 + lit(1.0 / 3)).cast("long"))
      .select($"look", $"n0", $"n1", $"z_milli", $"boundary_milli",
        when(abs($"z_milli") >= $"boundary_milli", 1L).otherwise(0L)
          .as("crossed"))
  }

  /** q200: next-event-type accuracy of the q139 Markov model — train
    * the global transition matrix on the stream's FIRST half, predict
    * each second-half transition's next type as the argmax row of the
    * matrix (ties to the lexicographically first type), and score
    * top-1 accuracy per current type. The temporal split mirrors q135:
    * training never sees eval transitions, and bigrams straddling the
    * midpoint are excluded from both sides. All counts exact; accuracy
    * is integer ppm.
    *
    * Scale shape: bigrams form inside the per-user sessionize
    * partitioning (one window); the transition matrix is ≤|types|²
    * rows broadcast back; scoring is one partial-agged groupBy. */
  def markovEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mid = 1705363200000L
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val bi = Tables.events(spark, dir)
      .withColumn("nxt", lead($"event_type", 1).over(w))
      .withColumn("nxt_tms", lead(unix_millis($"ts"), 1).over(w))
      .withColumn("tms", unix_millis($"ts"))
      .where($"nxt".isNotNull)
      .select($"event_type".as("cur"), $"nxt", $"tms", $"nxt_tms")
    val trans = bi.where($"nxt_tms" < mid)
      .groupBy($"cur", $"nxt").agg(count(lit(1)).as("c"))
    val wBest = Window.partitionBy($"cur")
      .orderBy($"c".desc, $"nxt".asc)
    val pred = trans.withColumn("rk", row_number().over(wBest))
      .where($"rk" === 1)
      .select($"cur", $"nxt".as("predicted"))
    bi.where($"tms" >= mid)
      .join(broadcast(pred), "cur")
      .groupBy($"cur", $"predicted")
      .agg(count(lit(1)).as("n_eval"),
        sum(when($"nxt" === $"predicted", 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_ppm", expr("(n_correct * 1000000) div n_eval"))
  }

  /** q220: delete-one-source jackknife — each source's influence on the
    * corpus mean-length statistic, plus its jackknife pseudovalue. The
    * cheapest honest data-valuation pass: θ₍ₛ₎ recomputes the mean with
    * source s deleted, influence = θ − θ₍ₛ₎ signs whether s pulls the
    * corpus up or down, and the pseudovalues g·θ − (g−1)·θ₍ₛ₎ are the
    * classic variance-estimator inputs (Tukey 1958). Complements q163
    * (bootstrap resamples ROWS; the jackknife deletes whole GROUPS — the
    * right unit when acquisition decisions are per-source) and q96 (KL
    * measures distribution shift; this measures statistic shift).
    *
    * Exactness: every leave-one-out mean is a floor to milli units of an
    * exact long ratio; pseudovalue/influence are integer combinations of
    * those floors — no float path at all.
    *
    * Scale shape: ONE corpus scan partial-aggs to the |sources|-row
    * relation; the corpus totals it needs are a second agg OF THAT
    * RELATION (3 longs broadcast back), so all g leave-one-out statistics
    * price at one scan + bounded-relation math — never g scans. */
  /** q232: k-fold cross-validated AUC of a trained token-rate classifier
    * — the missing half of the eval family: q120 scores a FIXED feature,
    * q95 a FIXED hash model; this TRAINS per-token positive rates and
    * measures them strictly out-of-fold (k=4 content-hash folds), the
    * protocol that exposes memorized signal (here: out-of-fold AUC ≈
    * 0.5 on the shared synthetic vocabulary — the honest "this cheap
    * feature does not generalize" answer in-sample evaluation hides).
    *
    * One-scan fold-complement training (q220's leave-one-group-out
    * trick applied to model fitting): per-(fold, token) counts aggregate
    * once; every fold's training weights are (global − fold) sums — k
    * models priced at one corpus pass, never k. Tokens unseen in a
    * fold's complement are excluded (no training signal); scoring is a
    * (fold, token) equality join + per-doc sum of integer rate-ppm
    * weights; AUC per fold is q120's tie-correct cumulative counting on
    * the (fold, score) grid. All integer, hash-gated.
    *
    * Scale shape: the distinct-token explode is map-only off the scan
    * (re-run per consumer — the q125 rule: map-only subtrees are
    * cheaper recomputed than materialized); the only corpus-sized
    * shuffles are the (fold, tok) partial agg and the per-doc score
    * agg; weights are 4×|vocab| rows. */
  def cvAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dt = TextOps.docsParallel(spark, dir)
      .select($"doc_id",
        (Sampling.hash32("cv", $"doc_id") % 4).as("fold"),
        when($"lang" === "en", 1L).otherwise(0L).as("y"),
        explode(array_distinct(TextOps.toks($"text"))).as("tok"))
    val ft = dt.groupBy($"fold", $"tok")
      .agg(count(lit(1)).as("cnt"), sum($"y").as("pos"))
    val gt = ft.groupBy($"tok").agg(sum($"cnt").as("gcnt"),
      sum($"pos").as("gpos"))
    val folds = spark.range(4).select($"id".as("fold"))
    val wts = gt.crossJoin(broadcast(folds))
      .join(ft, Seq("fold", "tok"), "left")
      .where($"gcnt" - coalesce($"cnt", lit(0L)) > 0L)
      .select($"fold", $"tok",
        expr("((gpos - coalesce(pos, 0)) * 1000000)" +
          " div (gcnt - coalesce(cnt, 0))").as("rate_ppm"))
    val scored = dt.join(wts, Seq("fold", "tok"), "left")
      .groupBy($"doc_id", $"fold", $"y")
      .agg(sum(coalesce($"rate_ppm", lit(0L))).as("score"))
    val g = scored.groupBy($"fold", $"score")
      .agg(sum($"y").as("p"), sum(lit(1L) - $"y").as("q"))
    val w = Window.partitionBy($"fold").orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cq", coalesce(sum($"q").over(w), lit(0L)))
      .groupBy($"fold")
      .agg(sum($"p").as("n_pos"), sum($"q").as("n_neg"),
        sum($"p" * $"cq" * 2 + $"p" * $"q").as("num2"))
      .where($"n_pos" > 0 && $"n_neg" > 0)
      .select($"fold", $"n_pos", $"n_neg",
        expr("(num2 * 1000000) div (2 * n_pos * n_neg)").as("auc_ppm"))
  }

  /** q229: Wasserstein-1 length-distribution drift per source — the
    * earth-mover companion to q144's KS: KS reports the max CDF
    * deviation (one bad quantile), W1 = ∫|CDF_s − CDF_corpus| dx reports
    * the total transport in CHARACTER units ("src1 sits 44.7 chars of
    * mass away from the corpus") — the actionable magnitude a mixture
    * rebalancer thresholds on, insensitive to a single spike.
    *
    * Exact on the bounded distinct-length grid: each inter-grid strip
    * contributes |cum_s·N − cum_corpus·n_s| · gap as pure longs
    * (cross-multiplied CDFs, no division inside the sum); the one
    * normalizing division runs in double at the end and floors to
    * milli-chars. At extreme corpus sizes the cross products approach
    * int64 range — the documented swap is per-strip ppm quantization
    * (q87's dodge), which this grid's magnitudes don't yet need.
    *
    * Scale shape: one corpus scan partial-aggs to the |sources|×|lengths|
    * grid, materialized once (Ckpt) for its four consumers (corpus
    * marginal, per-source totals, grand total, the dense-grid join —
    * each would otherwise re-scan the corpus); every window and join
    * after runs on the bounded grid. */
  def w1Drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Ckpt(Tables.documents(spark, dir)
      .groupBy($"source", $"n_chars".cast("long").as("x"))
      .agg(count(lit(1)).as("c")), eager = false)
    val allG = g.groupBy($"x").agg(sum($"c").as("ca"))
    val tot = g.groupBy($"source").agg(sum($"c").as("n_s"))
    val nAll = g.agg(sum($"c").as("n_all"))
    // dense grid: every corpus length for every source (bounded x
    // bounded cross — the grid IS the working relation, not a blow-up)
    val grid = allG.crossJoin(broadcast(tot))
      .join(g, Seq("source", "x"), "left")
      .select($"source", $"x", $"n_s", coalesce($"c", lit(0L)).as("c"),
        $"ca")
    val wCum = Window.partitionBy($"source").orderBy($"x")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLead = Window.partitionBy($"source").orderBy($"x")
    grid
      .withColumn("cum_s", sum($"c").over(wCum))
      .withColumn("cum_a", sum($"ca").over(wCum))
      .withColumn("x_next", lead($"x", 1).over(wLead))
      .crossJoin(broadcast(nAll))
      .groupBy($"source")
      .agg(max($"n_s").as("n_s"), max($"n_all").as("n_all"),
        sum(when($"x_next".isNull, 0L)
          .otherwise(abs($"cum_s" * $"n_all" - $"cum_a" * $"n_s")
            * ($"x_next" - $"x"))).as("raw"))
      .select($"source", $"n_s",
        floor($"raw".cast("double") * 1000 / ($"n_s" * $"n_all")
          + lit(1.0 / 3)).cast("long").as("w1_milli"))
  }

  /** q227: propensity-score matching ATT — the causal-family member the
    * suite was missing next to q177 CUPED / q185 DiD / q188 stratified
    * ATE: nearest-score matching WITH replacement under a caliper.
    * Treatment = error-heavy users (error rate > 20%), outcome = total
    * purchase value, propensity proxy = activity (event count). Each
    * treated user matches the representative control at the nearest
    * score (ties: the lower score; within a score the max-user_id
    * control — any deterministic pick is valid with replacement);
    * matches beyond the ±5 caliper are reported unmatched, not coerced.
    *
    * Scale shape: the corpus collapses to one row per user (partial-agg
    * shuffle); matching then runs entirely on the BOUNDED distinct-score
    * grid (activity counts, ≤ hundreds of values) — representative
    * controls are a per-score struct-max, the nearest-below/above
    * carries are two windows over the grid (the q141/q93 bounded-grid
    * discipline: the unpartitioned window never sees users, let alone
    * events), and the grid→match map broadcasts back onto treated users.
    * Signed ATT division runs in double and floors (integer div
    * truncation differs across engines on negatives). */
  def psmAtt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val u = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("score"),
        sum(when($"event_type" === "purchase",
          floor($"value" * 1000 + lit(1.0 / 3)).cast("long"))
          .otherwise(0L)).as("y"),
        sum(when($"event_type" === "error", 1L).otherwise(0L))
          .as("n_err"))
      .select($"user_id", $"score", $"y",
        when($"n_err" * 5L > $"score", 1L).otherwise(0L).as("treated"))
    // one representative control per score: max user_id (struct max, no
    // window sort over users)
    val rep = u.where($"treated" === 0L)
      .groupBy($"score")
      .agg(max(struct($"user_id", $"y")).as("m"))
      .select($"score".as("rs"), $"m.y".as("y_c"))
    val grid = u.select($"score").distinct()
      .join(rep, $"score" === $"rs", "left")
    val wPrev = Window.partitionBy(graft.functions.Win.bounded).orderBy($"score".asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(graft.functions.Win.bounded).orderBy($"score".desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = grid
      .withColumn("prev", max(when($"rs".isNotNull,
        struct($"rs", $"y_c"))).over(wPrev))
      .withColumn("next", min(when($"rs".isNotNull,
        struct($"rs", $"y_c"))).over(wNext))
      .select($"score",
        when($"prev".isNotNull &&
            ($"next".isNull ||
              $"score" - $"prev.rs" <= $"next.rs" - $"score"),
          $"prev").otherwise($"next").as("m"))
      .select($"score", $"m.rs".as("ms"), $"m.y_c".as("my"))
    u.where($"treated" === 1L)
      .join(broadcast(carried), "score")
      .withColumn("matched",
        when($"ms".isNotNull && abs($"score" - $"ms") <= 5L, 1L)
          .otherwise(0L))
      .groupBy(expr("score div 10").as("band"))
      .agg(count(lit(1)).as("n_treated"),
        sum($"matched").as("n_matched"),
        sum(when($"matched" === 1L, $"y" - $"my").otherwise(0L))
          .as("sum_diff_milli"))
      .withColumn("att_milli",
        when($"n_matched" > 0L,
          floor($"sum_diff_milli".cast("double") / $"n_matched"
            + lit(1.0 / 3)).cast("long")).otherwise(0L))
  }

  def jackknifeSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perSrc = Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("t_chars"))
    val totals = perSrc.agg(sum($"n_docs").as("n_all"),
      sum($"t_chars").as("t_all"), count(lit(1)).as("g"))
    perSrc.crossJoin(broadcast(totals))
      .withColumn("theta_milli", expr("(1000 * t_all) div n_all"))
      .withColumn("theta_loo_milli",
        expr("(1000 * (t_all - t_chars)) div (n_all - n_docs)"))
      .select($"source", $"n_docs", $"theta_milli", $"theta_loo_milli",
        ($"g" * $"theta_milli" - ($"g" - 1L) * $"theta_loo_milli")
          .as("pseudo_milli"),
        ($"theta_milli" - $"theta_loo_milli").as("influence_milli"))
  }

  /** q251: Cohen's kappa between the q31 n-gram language classifier and
    * the gold `lang` column — the chance-corrected PER-LABEL agreement
    * number q233's ARI deliberately isn't (ARI scores the PARTITIONS and
    * is label-permutation-invariant; kappa scores the LABELED confusion
    * matrix, so a classifier that systematically swaps fr↔es keeps its
    * ARI but loses its kappa). The standard two-rater reliability readout
    * a weak-labeling pipeline publishes next to q136's R-rater Fleiss.
    *
    * κ = (p_o − p_e)/(1 − p_e) with p_e = Σ_i a_i·b_i / N² over matching
    * label marginals. Exactness: marginal products in decimal(38,0),
    * the final ratio (N·Σn_ii − Σa_i b_i)/(N² − Σa_i b_i) through one
    * double division floored at milli with the +1/3 offset — exact under
    * a label swap that drives κ negative (floor, not trunc, in both
    * engines).
    *
    * Scale shape: one scan to the ≤16-cell confusion matrix; marginals
    * and their join are driver-free broadcasts over bounded relations.
    * Output: 1 row. */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val predicted = TextAnalysis.predictedLang(TextAnalysis.langScores($"text"))
    kappaOn(Tables.documents(spark, dir)
      .select($"lang".as("gold"), predicted.as("predicted")))
  }

  /** Testable core: Cohen's kappa over any `(gold, predicted)` relation. */
  private[graft] def kappaOn(labels: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val cm = Ckpt(labels
      .groupBy($"gold", $"predicted")
      .agg(count(lit(1)).as("n")), eager = false)
    val tot = cm.agg(sum($"n").as("n_docs"),
      sum(when($"gold" === $"predicted", $"n").otherwise(0L))
        .as("n_agree"))
    val pe = cm.groupBy($"gold").agg(sum($"n").as("a"))
      .join(cm.groupBy($"predicted").agg(sum($"n").as("b")),
        $"gold" === $"predicted")
      .agg(sum($"a".cast(dec) * $"b").as("sab"))
    tot.crossJoin(broadcast(pe))
      .withColumn("nd", $"n_docs".cast("double"))
      .withColumn("sabd", $"sab".cast("double"))
      .select($"n_docs", $"n_agree",
        expr("(n_agree * 1000000) div n_docs").as("po_ppm"),
        floor($"sabd" * 1e6 / ($"nd" * $"nd") + lit(1.0 / 3))
          .cast("long").as("pe_ppm"),
        when($"n_docs".cast(dec) * $"n_docs" =!= $"sab",
          floor(($"n_docs".cast(dec) * $"n_agree" - $"sab")
            .cast("double") * 1000d
            / ($"n_docs".cast(dec) * $"n_docs" - $"sab").cast("double")
            + lit(1.0 / 3)).cast("long"))
          .otherwise(0L).as("kappa_milli"))
  }

  /** q266: McNemar's paired test between two cheap document filters —
    * classifier A = the q95 hashed-feature margin (> 0), classifier B =
    * the q123 stopword labeling function — against the length rule
    * (n_chars >= 200) as the reference label. The test a curation team
    * runs before SWAPPING one filter for another: accuracy deltas on
    * paired data are driven entirely by the DISCORDANT cells (A right/B
    * wrong vs B right/A wrong), and McNemar's chi² with continuity
    * correction, (|b−c|−1)²/(b+c), is the right significance screen —
    * overall accuracy can be identical while the filters disagree on
    * half the corpus.
    *
    * Exactness: every cell is a count; chi² is one integer floor
    * division on the milli grid ((|b−c|−1)² ≤ ~N² needs decimal past
    * ~3e9 docs — routed through decimal(38,0) here).
    *
    * Scale shape: the q95 margin is a map-only fold; the LF and label
    * are per-row predicates on the SAME scan (no join — one corpus
    * pass), and the contingency table is a 1-row full aggregation. */
  def mcnemar(spark: SparkSession, dir: String): DataFrame =
    mcnemarOn(graft.operators.TextOps.docsParallel(spark, dir))

  private[graft] def mcnemarOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = graft.operators.TextOps.toks($"text")
    val w = (c: Column) =>
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % 201 - 100
    val scored = docs
      .select(
        (aggregate(transform(t, w), lit(0L), (acc, x) => acc + x) > 0L)
          .as("a"),
        (instr(lower($"text"), " the ") > 0).as("b"),
        ($"n_chars" >= 200L).as("y"))
      .select(($"a" === $"y").as("a_right"), ($"b" === $"y").as("b_right"))
    scored.agg(count(lit(1)).as("n"),
        sum(when($"a_right" && $"b_right", 1L).otherwise(0L)).as("n_both"),
        sum(when($"a_right" && !$"b_right", 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!$"a_right" && $"b_right", 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!$"a_right" && !$"b_right", 1L).otherwise(0L)).as("n_neither"))
      .select($"n", $"n_both", $"n_a_only", $"n_b_only", $"n_neither",
        when($"n_a_only" + $"n_b_only" > 0L,
          expr("""((cast(abs(n_a_only - n_b_only) - 1 as decimal(38,0))
                   * (abs(n_a_only - n_b_only) - 1)) * 1000)
                  div (n_a_only + n_b_only)""").cast("long"))
          .otherwise(0L).as("chi2_milli"))
  }

  /** q267: Brier score decomposition (Murphy 1973) — reliability,
    * resolution, and uncertainty of a probabilistic forecast, binned at
    * forecast deciles: BS = REL − RES + UNC. The forecast is the
    * length-squash p = n_chars/(n_chars+500) predicting lang='en' (the
    * same cheap-feature-vs-label frame as q120/q121); REL says how far
    * the forecast drifts from the within-bin truth (what calibration
    * fixes), RES how much the bins actually separate outcomes (what no
    * recalibration can buy), UNC the outcome's own variance floor. ECE
    * (q241) reads |gap| only; this is the full budget.
    *
    * Exactness: the forecast is an exact integer ppm ratio; each
    * component is exact decimal(38,0) cross-arithmetic with per-bin
    * floor division mirrored verbatim in the oracle (the RES
    * cross-multiply (1e6·P_k·N − 1e6·P·n_k)² exceeds decimal38 past
    * ~3e8 docs — at that scale drop the 1e6 pre-factor and carry ppm²
    * units; flagged, not hidden). The spec pins the Murphy identity
    * within the flooring tolerance.
    *
    * Scale shape: one map-only forecast tag, ONE partial-agged groupBy
    * bounded at 11 bins, a 1-row global broadcast — a single corpus
    * scan. */
  def brierDecomp(spark: SparkSession, dir: String): DataFrame =
    brierDecompOn(Tables.documents(spark, dir))

  private[graft] def brierDecompOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val base = docs
      .select(expr("(n_chars * 1000000) div (n_chars + 500)").as("p_ppm"),
        when($"lang" === "en", 1L).otherwise(0L).as("y"))
      .withColumn("bin", expr("p_ppm div 100000"))
    val bins = base.groupBy($"bin")
      .agg(count(lit(1)).as("n_k"), sum($"p_ppm".cast(dec)).as("a_k"),
        sum($"y").as("p_k"),
        sum(($"p_ppm".cast(dec) - $"y".cast(dec) * 1000000L)
          * ($"p_ppm" - $"y" * 1000000L)).as("sq_k"))
    val glob = bins.agg(sum($"n_k").as("n"), sum($"p_k").as("p")).select(
      $"n".cast(dec).as("n"), $"p".cast(dec).as("p"))
    bins.crossJoin(broadcast(glob))
      .select($"bin", $"n_k", $"p_k",
        // BS sums raw squares (one global div); REL/RES floor per bin —
        // both mirrored verbatim in the oracle
        $"sq_k".as("bs_k"),
        expr("""((a_k - cast(p_k as decimal(38,0)) * 1000000)
                 * (a_k - cast(p_k as decimal(38,0)) * 1000000))
                div n_k""").cast(dec).as("rel_k"),
        expr("""((p_k * 1000000 * n - p * 1000000 * n_k)
                 * (p_k * 1000000 * n - p * 1000000 * n_k))
                div (cast(n_k as decimal(38,0)) * n * n)""").cast(dec)
          .as("res_k"),
        $"n", $"p")
      .groupBy($"n", $"p")
      .agg(sum($"bs_k").as("bs"), sum($"rel_k").as("rel"),
        sum($"res_k").as("res"))
      .select($"n".cast("long").as("n_docs"),
        expr("bs div (n * 1000000)").cast("long").as("brier_ppm"),
        expr("rel div (n * 1000000)").cast("long").as("rel_ppm"),
        expr("res div (n * 1000000)").cast("long").as("res_ppm"),
        expr("(p * 1000000 * (n - p)) div (n * n)").cast("long")
          .as("unc_ppm"))
  }

  /** q277: DeLong confidence interval for the q120 per-source AUC —
    * the variance of the Mann–Whitney estimator from its structural
    * components (DeLong, DeLong & Clarke-Pearson 1988): V10 per
    * positive = fraction of negatives below (+½ ties), V01 per
    * negative symmetric; var(θ) = S10/m + S01/n. q120 reports the
    * point estimate; this is the number that says whether source A's
    * 0.61 actually beats source B's 0.58 at their sample sizes — the
    * difference between a ranking and a finding.
    *
    * Exactness: everything runs on the grouped (source, score) grid
    * (the q120 shape — positives at a score share one V10). With
    * A_s = 2·cq_below + q_at and num2 = the q120 doubled pair count,
    * V10_s − θ = (A_s·m − num2)/(2nm): the squared deviation sums are
    * exact decimal(38,0) (the (2nm)² cross-scale exceeds decimal38
    * past ~10⁹ score-side pairs — flagged like q267, not hidden); the
    * variance is one fixed-order double chain + sqrt, and the interval
    * bounds clamp on the exact ppm grid.
    *
    * Scale shape: identical to q120 — one partial-agged corpus reduce
    * to the grid, cumulative windows per source over the grid,
    * |sources| rows out. */
  def aucCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val g = Tables.documents(spark, dir)
      .groupBy($"source", $"n_chars")
      .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("p"),
        sum(when($"lang" =!= "en", 1L).otherwise(0L)).as("q"))
    val wUp = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDn = Window.partitionBy($"source").orderBy($"n_chars".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy($"source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rows = g
      .withColumn("cq", coalesce(sum($"q").over(wUp), lit(0L)))
      .withColumn("cp_above", coalesce(sum($"p").over(wDn), lit(0L)))
      .withColumn("m", sum($"p").over(wAll))
      .withColumn("n", sum($"q").over(wAll))
      .withColumn("num2", sum($"p" * $"cq" * 2 + $"p" * $"q").over(wAll))
      .where($"m" > 1L && $"n" > 1L)
      .select($"source", $"m", $"n", $"num2",
        // per-grid-score squared deviations, weighted by class counts
        ($"p".cast(dec)
          * (($"cq".cast(dec) * 2 + $"q") * $"m" - $"num2")
          * (($"cq".cast(dec) * 2 + $"q") * $"m" - $"num2")).as("sa_t"),
        ($"q".cast(dec)
          * (($"cp_above".cast(dec) * 2 + $"p") * $"n" - $"num2")
          * (($"cp_above".cast(dec) * 2 + $"p") * $"n" - $"num2")).as("sb_t"))
    val se = sqrt(
      $"sa".cast("double")
        / (($"m".cast(dec) * ($"m" - 1L)).cast("double")
          * (($"n".cast(dec) * $"m" * 2L)
            * ($"n".cast(dec) * $"m" * 2L)).cast("double"))
      + $"sb".cast("double")
        / (($"n".cast(dec) * ($"n" - 1L)).cast("double")
          * (($"n".cast(dec) * $"m" * 2L)
            * ($"n".cast(dec) * $"m" * 2L)).cast("double")))
    rows.groupBy($"source", $"m", $"n", $"num2")
      .agg(sum($"sa_t").as("sa"), sum($"sb_t").as("sb"))
      .select($"source", $"m".as("n_pos"), $"n".as("n_neg"),
        // num2 routed through decimal38 like sa_t/sb_t: num2*1e6 in LONG
        // wraps past ~9.2e12 doubled pairs (~2e6 pos x 2e6 neg per
        // source) while the oracle's HUGEINT does not
        expr("""(cast(num2 as decimal(38,0)) * 1000000)
                div (cast(m as decimal(38,0)) * n * 2)""")
          .cast("long").as("auc_ppm"),
        floor(se * 1e6 + lit(1.0 / 3)).cast("long").as("se_ppm"))
      .select($"source", $"n_pos", $"n_neg", $"auc_ppm", $"se_ppm",
        greatest(lit(0L), $"auc_ppm"
          - expr("(se_ppm * 1960) div 1000")).as("lo_ppm"),
        least(lit(1000000L), $"auc_ppm"
          + expr("(se_ppm * 1960) div 1000")).as("hi_ppm"))
  }

  /** q278: Kendall's coefficient of concordance (W) across three cheap
    * document rankers — length (n_chars), token count, and the q95
    * hash-classifier margin. W = 1 means the rankers induce one
    * ordering (any of them is a fine curation key); W near 0 means
    * they disagree and a quality gate built on one of them is NOT a
    * proxy for the others — the multi-ranker generalization of q237's
    * pairwise Spearman, and the number to read before collapsing
    * several quality signals into one.
    *
    * Exactness: ranks are exact global row numbers with doc_id
    * tie-break (ties-as-permutation, documented — both engines rank
    * identically), computed by the segmented numeric rank (q178's
    * two-phase shape; never one global window). With doubled
    * deviations D = 2·(R₁+R₂+R₃) − k(n+1), ΣD² = 4S is an exact
    * decimal and W_ppm = (ΣD²·10⁶) div (3·n·(n²−1)) for k = 3 — pure
    * integer arithmetic end to end.
    *
    * Scale shape: three segmented ranks over narrow (doc_id, key)
    * rows, a 3-way co-partitioned join on doc_id, one 1-row agg. */
  def kendallW(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = graft.operators.TextOps.toks($"text")
    val w = (c: Column) =>
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % 201 - 100
    val base = graft.operators.TextOps.docsParallel(spark, dir)
      .select($"doc_id", $"n_chars",
        size(t).cast("long").as("n_toks"),
        aggregate(transform(t, w), lit(0L), (acc, x) => acc + x)
          .as("margin"))
    // three rank passes consume this relation — materialize the narrow
    // (doc_id, s1, s2, s3) rows once instead of re-hashing the corpus
    // per ranker (the checkpoint-pays-iff-reused rule, SCALE.md)
    kendallWOn(graft.operators.Ckpt(
      base.select($"doc_id", $"n_chars".as("s1"), $"n_toks".as("s2"),
        $"margin".as("s3")), eager = false))
  }

  /** Testable core over any `(doc_id, s1, s2, s3)` score frame. */
  private[graft] def kendallWOn(scores: DataFrame): DataFrame = {
    import scores.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    // ONE grouped rank pass over the stacked (which, value) rows instead
    // of three sequential rank pipelines + two doc_id joins — the ranks
    // per `which` are bit-identical (segmentedRankLongBy scaladoc) and
    // rsum needs no join at all (a per-job overhead probe read this query 96%
    // fixed DAG floor; the floor was the three chained pipelines)
    val stacked = scores.select($"doc_id",
      expr("stack(3, 1L, s1, 2L, s2, 3L, s3)").as(Seq("which", "v")))
    val joined = graft.operators.Dedup
      .segmentedRankLongBy(stacked, "v", "which")
      .groupBy($"doc_id").agg(sum($"rn").as("rsum"))
    val n1 = joined.agg(count(lit(1)).as("n"))
    joined.crossJoin(broadcast(n1))
      .select($"n",
        (($"rsum".cast(dec) * 2 - lit(3L) * ($"n" + 1L))
          * ($"rsum" * 2 - lit(3L) * ($"n" + 1L))).as("d2"))
      .groupBy($"n").agg(sum($"d2").as("s4"))
      .where($"n" > 1L)
      .select($"n".as("n_docs"),
        expr("""(s4 * 1000000)
                div (cast(n as decimal(38,0)) * 3 * (n * n - 1))""")
          .cast("long").as("w_ppm"))
  }

  /** q272: Spiegelhalter's Z — is the miscalibration SIGNIFICANT, or
    * noise at this sample size? Z = Σ(y−p)(1−2p) / sqrt(Σ(1−2p)²p(1−p))
    * per source, over the q267 length-squash forecast: the
    * decomposition (q267) and ECE (q241) report the SIZE of the
    * calibration gap; this is the test statistic that says whether a
    * recalibration pass is chasing signal or sampling error — the
    * number that stops a team from re-fitting on every bench wiggle.
    * Under a calibrated forecast Z is asymptotically standard normal,
    * so |z_milli| > 1960 is the conventional 5% flag.
    *
    * Exactness: with the forecast on the exact ppm grid, the numerator
    * terms (1e6·y − p)(1e6 − 2p) and denominator terms
    * (1e6 − 2p)²·p·(1e6 − p) are exact decimal(38,0) integers (per-term
    * up to 1e24 — inside decimal38/HUGEINT to ~1e13 docs); the single
    * float step is one double ratio with one correctly-rounded sqrt,
    * milli-floored (floor of a possibly-negative DOUBLE is identical
    * in both engines — no integer division anywhere).
    *
    * Scale shape: map-only term tagging, one partial-agged groupBy to
    * |sources| rows. One scan. */
  /** q287: Benford first-digit goodness-of-fit per event type — the
    * classic fabricated/synthetic-feed screen (Benford 1938; Nigrini's
    * audit practice): natural multi-magnitude measurements put digit d
    * first with probability log10(1+1/d); a feed whose χ² against that
    * law explodes is clipped, defaulted, or generated. Run per
    * event_type so one synthetic feed can't hide inside an organic
    * mixture. The 15.507 flag is the χ²₈ 5% critical value.
    *
    * Exactness: the digit comes from the exact integer cents
    * (floor(|value|·100), first character of its decimal rendering —
    * no float log10 at row level); the expected masses are nine shared
    * 1e6-grid literals baked into BOTH engines (so no libm log10
    * parity risk); each χ² term is exact integer arithmetic routed
    * through decimal38 ((n·10⁶)²·10³ caps the safe n at ~10¹¹ rows per
    * type) with one trunc-div.
    *
    * Scale shape: one map-only digit projection, a (type, digit)
    * partial agg to a ≤ 9·|types| grid, the χ² on that grid. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // floor(log10(1+1/d)*1e6 + 1/3), d = 1..9 — identical literals in
    // the oracle SQL
    val pq: Seq[Long] = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51152L, 45757L)
    val digits = Tables.events(spark, dir)
      .select($"event_type", floor(abs($"value") * 100).cast("long").as("iv"))
      .where($"iv" >= 1L)
      .select($"event_type",
        substring($"iv".cast("string"), 1, 1).cast("long").as("d"))
    val o = digits.groupBy($"event_type", $"d").agg(count(lit(1)).as("o"))
    val n = digits.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val grid = n.select($"event_type", $"n",
        explode(typedLit((1L to 9L).toSeq)).as("d"))
      .withColumn("p", element_at(typedLit(pq), $"d".cast("int")))
    grid.join(o, Seq("event_type", "d"), "left")
      .select($"event_type", $"n",
        expr("""((cast(coalesce(o, 0) as decimal(38,0)) * 1000000
                  - cast(n as decimal(38,0)) * p)
                 * (cast(coalesce(o, 0) as decimal(38,0)) * 1000000
                  - cast(n as decimal(38,0)) * p) * 1000)
                div (cast(n as decimal(38,0)) * p * 1000000)""").as("term"))
      .groupBy($"event_type", $"n")
      .agg(sum($"term").as("chi2_milli"))
      .select($"event_type", $"n", $"chi2_milli",
        ($"chi2_milli" <= 15507L).as("benford_ok"))
  }

  def spiegelhalterZ(spark: SparkSession, dir: String): DataFrame =
    spiegelhalterZOn(Tables.documents(spark, dir))

  private[graft] def spiegelhalterZOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val terms = docs
      .select($"source",
        expr("(n_chars * 1000000) div (n_chars + 500)").as("p"),
        when($"lang" === "en", 1000000L).otherwise(0L).as("y"))
      .select($"source",
        (($"y".cast(dec) - $"p") * (lit(1000000L) - $"p" * 2L)).as("num_t"),
        ((lit(1000000L).cast(dec) - $"p" * 2L)
          * (lit(1000000L) - $"p" * 2L)
          * $"p" * (lit(1000000L) - $"p")).as("den_t"))
    terms.groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"num_t").as("num"),
        sum($"den_t").as("den"))
      .where($"den" > 0)
      .select($"source", $"n",
        floor($"num".cast("double") / sqrt($"den".cast("double")) * 1000
          + lit(1.0 / 3)).cast("long").as("z_milli"))
  }

  /** q314: confident-joint label-noise estimate (Northcutt et al. 2021,
    * "Confident Learning") — the estimator behind cleanlab, the
    * standard tool for finding mislabeled training examples: using the
    * q95 hash classifier's per-token score as the model and lang='en'
    * as the given label, each class's threshold is the MEAN predicted
    * score among examples GIVEN that label; an example joins the
    * confident joint C[y][ŷ] only where its score clears ŷ's
    * threshold. Off-diagonal mass is the label-noise rate estimate —
    * what share of the 'en' labels the model confidently contradicts.
    *
    * Exactness: scores shift to the positive lattice BEFORE the
    * integer division (((margin + 100·n_tokens)·10⁶) div n_tokens —
    * Spark's div truncates toward zero while DuckDB's // floors, so a
    * negative dividend would diverge; the shift makes floor == trunc),
    * thresholds are positive-long mean divs, the both-confident tie
    * resolves by larger margin-over-threshold then 'en'.
    *
    * Scale shape: one map-only scoring scan (q95's fold), two 1-row
    * threshold aggregates broadcast back, one partial-agged census to
    * ≤4 rows. */
  def confidentJoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = TextAnalysis.hashClassifier(spark, dir)
      .where($"n_tokens" > 0L)
    val lab = Tables.documents(spark, dir)
      .select($"doc_id",
        when($"lang" === "en", "en").otherwise("other").as("y"))
    val s = scored.join(lab, "doc_id")
      .select($"doc_id", $"y",
        expr("((margin + 100 * n_tokens) * 1000000) div n_tokens").as("s"))
    val th = s.groupBy($"y").agg(
      expr("sum(s) div count(1)").as("t_pos"),
      expr("sum(200000000 - s) div count(1)").as("t_neg"))
    val tEn = th.where($"y" === "en").select($"t_pos".as("t_en"))
    val tOth = th.where($"y" === "other").select($"t_neg".as("t_oth"))
    val assigned = s.crossJoin(broadcast(tEn)).crossJoin(broadcast(tOth))
      .withColumn("c_en", $"s" >= $"t_en")
      .withColumn("c_oth", (lit(200000000L) - $"s") >= $"t_oth")
      .where($"c_en" || $"c_oth")
      .withColumn("j_hat",
        when($"c_en" && $"c_oth",
          when(($"s" - $"t_en") >= (lit(200000000L) - $"s" - $"t_oth"),
            "en").otherwise("other"))
          .when($"c_en", "en").otherwise("other"))
    val tot = assigned.agg(count(lit(1)).as("n_assigned"))
    assigned.groupBy($"y", $"j_hat").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select($"y", $"j_hat", $"n",
        expr("(n * 1000000) div n_assigned").as("frac_ppm"))
  }

  /** q309: isotonic (monotone) calibration — the FIT the calibration
    * diagnostics family (q121 reliability bins, q241 ECE, q267 Brier,
    * q272 Spiegelhalter) measures but never produces: the
    * nondecreasing step function closest in L2 to the per-bin positive
    * rates, i.e. what `sklearn.isotonic` / Zadrozny & Elkan 2002 fit
    * before serving calibrated scores. Computed via the minimax
    * identity fit_i = max_{j≤i} min_{k≥i} avg(j..k) (Ayer et al. 1955)
    * over the BOUNDED score-bin grid — not sequential PAVA, whose
    * pool-adjacent scan is inherently serial; the minimax form is three
    * joins over a |bins|²-sized relation, embarrassingly parallel and
    * identical in result.
    *
    * Exactness: weighted block averages are ppm integer divs of exact
    * long prefix sums; min/max over longs. (The minimax runs over the
    * ppm-quantized averages — a ≤1 ppm perturbation of the real-valued
    * fit, monotone regardless: the j-range grows and the k-range
    * shrinks with i for ANY avg table.) Monotonicity is spec-gated.
    *
    * Scale shape: one partial-agged scan to the |bins| grid (the only
    * pass over data); everything after is O(|bins|³) arithmetic on
    * broadcast-sized relations — the q277/q126 bounded-grid
    * discipline. Score resolution is the scale knob: 10-char bins keep
    * the grid ≤ ~10² rows at any corpus size. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    isotonicOn(Tables.documents(spark, dir)
      .select(expr("n_chars div 10").as("bin"),
        when($"lang" === "en", 1L).otherwise(0L).as("y"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"y").as("n_pos")))
  }

  /** Testable core over any `(bin, n, n_pos)` grid (the spec drives
    * handcrafted PAVA examples). */
  private[graft] def isotonicOn(bins: DataFrame): DataFrame = {
    import bins.sparkSession.implicits._
    val wCum = Window.partitionBy(graft.functions.Win.bounded)
      .orderBy($"bin".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = bins.select($"bin", $"n", $"n_pos",
      sum($"n").over(wCum).as("cn"), sum($"n_pos").over(wCum).as("cp"))
    val js = pref.select($"bin".as("jb"),
      ($"cn" - $"n").as("nj_prev"), ($"cp" - $"n_pos").as("pj_prev"))
    val ks = pref.select($"bin".as("kb"), $"cn".as("nk"), $"cp".as("pk"))
    // block averages over every (j..k) bin range — |bins|² rows, the
    // bounded-grid inequality join (broadcast NLJ over ~50² is fine;
    // the DATA never enters it)
    val pairs = js.join(broadcast(ks), $"kb" >= $"jb")
      .withColumn("avg_ppm",
        expr("((pk - pj_prev) * 1000000) div (nk - nj_prev)"))
      .select($"jb", $"kb", $"avg_ppm")
    val is = pref.select($"bin".as("ib"))
    val iso = is.join(broadcast(pairs), $"jb" <= $"ib" && $"kb" >= $"ib")
      .groupBy($"ib", $"jb").agg(min($"avg_ppm").as("mn"))
      .groupBy($"ib").agg(max($"mn").as("iso_ppm"))
    bins.join(iso, $"bin" === $"ib")
      .select($"bin", $"n", $"n_pos",
        expr("(n_pos * 1000000) div n").as("raw_ppm"), $"iso_ppm")
  }
}
