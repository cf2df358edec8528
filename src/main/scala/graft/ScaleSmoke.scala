package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke harness (not part of the driver contract): replicate
  * lineitem Nx with remapped keys into a MULTI-FILE parquet layout, then
  * time the lineitem-only queries at 1x vs Nx in one JVM.
  *
  * Two things this demonstrates that the fixed sf0.1 bench cannot:
  *  - wall time scales sub-linearly with data (the plans parallelize:
  *    partial aggregation, distributed top-k, AQE);
  *  - the single-file testdata layout (1 row group = 1 scan task) is a
  *    LAYOUT property, not a plan property — given a real multi-file
  *    table, the same plans go wide from the scan on.
  *
  * Usage: runMain graft.ScaleSmoke [factor] (default 10 = sf1-equivalent,
  * 6M lineitem rows).
  */
object ScaleSmoke {

  // lineitem-only queries (the replica table stands alone)
  private val QUERIES = Seq("q01_agg_pushdown", "q02_filter_project",
    "q16_arithmetic", "q17_topk_per_group", "q18_rollup",
    "q23_distinct_count", "q42_quantiles", "q43_cube")

  // documents-only queries for the text/dedup pipeline scale check.
  // q25 joined in round 4 (PPJoin): note its OUTPUT is inherently
  // quadratic in the replica family size — every replica pair of a doc
  // is a true near-dup — so its ratio reads as pair volume, not plan
  // degradation. q90 (tf-cosine pairs, round 5) has the same caveat.
  private val DOC_QUERIES = Seq("q24_dedup_exact", "q25_ngram_jaccard",
    "q26_minhash_lsh", "q27_simhash", "q31_langid", "q33_token_count",
    "q47_stratified_sample", "q53_vocab_topk", "q65_repetition",
    "q66_url_canon", "q70_token_ids", "q77_mixture_sample",
    "q78_salient_terms", "q90_tf_cosine", "q91_chunk_windows",
    "q100_dup_spans", "q101_priority_sample", "q102_cms_heavy",
    "q104_zorder_layout", "q105_mad_outliers", "q111_pmi_collocations",
    "q137_vocab_growth", "q140_good_turing", "q141_conformal",
    // round 9: SNM's candidate budget is w*N by construction, the
    // split-leakage probe is a linear posting-list join, and the
    // 64-chunk aHash is map-only + 16-bit-band blocked — all three
    // should track the scan ratio (q178's replica families DO make
    // extra true windowed pairs; read output growth accordingly)
    "q178_sorted_nbhd", "q182_js_divergence", "q190_split_leakage",
    "q201_blob_phash",
    // round 9 (driver round 9): the skyline's frontier candidates and
    // Chao1's type table grow slowly vs the corpus (ideal ~ scan
    // ratio); jackknife/W1 reduce to |sources|-row / bounded-grid
    // relations; Hill ranks a slim projection; Self-BLEU is fixed-k by
    // construction (ideal ~ flat after the top-k scan); q230's replica
    // families DENSIFY the near-dup graph, so its ratio reads as edge
    // volume like q28's, not plan degradation
    "q218_skyline", "q219_chao1", "q220_jackknife_src", "q226_hill_tail",
    "q228_self_bleu", "q229_w1_drift", "q230_dup_core",
    // round 10: ARI/χ²/Spearman reduce to bounded contingency or grid
    // relations (ideal ~ scan ratio); split-OOV is a shuffled token
    // join; vocab-overlap pair output is C(|sources|,2)-bounded; the
    // cluster-size census rides the CC fixpoint (replica families form
    // larger true clusters — read output shift, not plan degradation)
    "q233_ari_langid", "q234_split_oov", "q236_split_balance",
    "q237_spearman", "q238_cluster_sizes", "q240_vocab_overlap",
    // round 12: the two hardened audits, tracked so a cap/segment
    // regression shows up as a ratio blowup here (their 10x ratios
    // measured 9.4x / 5.8x — note q231's input pair relation itself
    // grows superlinearly: replica families are true near-dup cliques)
    "q231_transitivity", "q257_fs_weights", "q283_phash_radius",
    // round 12 additions: the CDC chunk census is linear in corpus
    // tokens with NO pairing step (replica families share every chunk,
    // so dup_chunk_ppm rises while the plan stays scan-shaped);
    // burstiness/STTR/readability/McNemar reduce to top-k moments /
    // per-segment counts / per-source sums; q270 rides q28's capped
    // wedge machinery (same densification caveat as q231)
    "q259_cdc_chunks", "q260_burstiness", "q261_sttr",
    "q262_readability", "q266_mcnemar", "q267_brier_decomp",
    "q270_local_cc",
    // q272 reduces to |sources| moment rows, q273 to the (lang, tf)
    // grid — both ideal ~ scan ratio
    "q272_spiegelhalter", "q273_vocab_gini", "q277_auc_ci",
    "q278_kendall_w",
    // round 13: the Poisson bootstrap is a map-side 200-way weight
    // fan-out absorbed by the partial agg (ideal ~ scan ratio x the
    // in-row fan-out constant); doc-CE is two count shuffles + one
    // posting join, linear in bigram volume; the contamination matrix
    // is posting-join-shaped — replica families share every shingle,
    // so n_contam rises while the plan stays linear in postings
    "q288_bootstrap_ci", "q289_doc_ce", "q291_ngram_contam",
    // HLL is the mergeable-sketch fixed-grid shape (ideal ~ scan ratio;
    // its exact-distinct audit twin is the cost being replaced); blob
    // entropy is one char explode + (doc, byte) partial agg
    "q292_hll_distinct", "q293_blob_entropy",
    // weighted median = two per-source ordered passes (q105's shape)
    "q298_weighted_median",
    // round 14: unigram-EM's DP/backtrack run on the distinct-word-type
    // relation (grows sublinearly under replication — replicas repeat
    // word types), the piece count pass is a bounded explode: ideal
    // well under the scan ratio
    "q301_unigram_em",
    // round 14 batch 2: the suffix sort is linear in word-start
    // positions (replicas share text, so identical-suffix runs grow
    // but pairs stay one-per-adjacent-row — output |docs| rows); the
    // isotonic grid is bin-bounded after one partial-agged scan; KMV's
    // sketch path is |sources|·k rows — only its exact AUDIT columns
    // ride the vocabulary self-join (vocab grows sublinearly under
    // replication)
    "q306_suffix_dup", "q309_isotonic", "q310_kmv_intersect",
    // round 14 batch 3: the Bloom filter is fixed m-row state + a
    // broadcast probe join (ideal ~ scan ratio); KN reduces to
    // bigram-TYPE relations then one posting join; confident-joint is
    // a map-only score + two broadcast thresholds; the ensemble rides
    // q26+q28+CC (read its ratio against theirs — replica families
    // densify true pairs)
    "q311_bloom_fp", "q313_kn_entropy", "q314_confident_joint",
    "q312_ensemble_dedup",
    // dup coverage rides the q306 suffix sort + per-(doc, run) windows;
    // replicas share text so the marked-span volume grows ~linearly
    "q316_dup_coverage",
    // round 14 batch 4: keyness is q96's (source, token) shuffle plus
    // a vocab-partitioned window; TextRank rounds run on the
    // distinct-adjacency graph (grows sublinearly under replication —
    // replicas repeat bigrams) — both ideal ~ scan ratio
    "q317_keyness", "q320_textrank")

  // embeddings-only queries for the similarity/ANN family scale check.
  // q29 (brute) is the deliberate linear-scan baseline — its time should
  // grow ~linearly with the collection while q30/q38's bucketed probes
  // grow sub-linearly; q37's OUTPUT is inherently quadratic in the
  // replica family size (perturbed replicas are true near-dups of each
  // other, cos ~ 1), so its ratio reads as pair volume, not plan shape
  private val EMB_QUERIES = Seq("q29_ann_brute", "q30_lsh_ann",
    "q37_cosine_neardup", "q38_ivf_ann", "q67_embed_quant", "q68_kmeans_step",
    "q92_embed_gram", "q94_semantic_dedup", "q98_pq_encode", "q99_pca_project",
    "q106_margin_mining", "q138_hubness", "q142_rank_overlap",
    // round 9: JL audit is sample-bounded (flat), k-center is k linear
    // scans (~scan ratio)
    "q183_jl_audit", "q187_kcenter",
    // round 10: z-outliers and sliced-W1 reduce to d-row stats / the
    // bounded (plane,label,value) grid; cell-label ARI is the broadcast
    // codebook assign + bounded contingency — ideal ~ scan ratio
    "q239_z_outliers", "q242_sliced_w1", "q244_cell_label_ari",
    // round 9 (driver round 9): centroid shift and dim variance reduce
    // to |labels|*d / d sums (ideal ~ scan ratio); purity rides q138's
    // banded candidate volume
    "q223_centroid_shift", "q224_dim_variance", "q225_knn_purity",
    // round 12: isotropy and rank fidelity are constant-bounded samples
    // (ideal ~ flat after the id-pruned scan); PQ distortion rides the
    // map-only q98 encode (ideal ~ scan ratio)
    "q263_isotropy", "q264_quant_fidelity", "q265_pq_distortion",
    "q276_rank_stability",
    // round 13: the compressed-domain scan — candidates come from q38's
    // probed cells but score 8-long PQ codes against a broadcast LUT,
    // and only 32 survivors/query read full vectors: ideal ~ q38's
    // probe ratio with a smaller constant as the corpus grows; the
    // recall audit adds the brute truth pass over 10 pinned queries;
    // cell-label JS reduces to the k·|labels| grid after the
    // broadcast-codebook assignment scan
    "q284_ivf_pq_adc", "q290_adc_recall", "q286_cell_label_js",
    // silhouette is the pinned 60-vector panel — ideal ~ flat after
    // the id-pruned scan; code usage rides the map-only encode; the
    // compressed SemDeDup funnel's pair count is q94's Σcell² (the ADC
    // saving is scoring COST per pair, not pair count — read its ratio
    // against q94's)
    "q294_cell_silhouette", "q297_code_usage", "q299_pq_semdedup",
    // round 14: OPQ permutation rides two map-only encodes + one
    // d-bounded moment collect — ideal ~ 2x the q98 scan ratio
    "q300_opq_permute",
    // round 14 batch 2: RQ is two map-only nested-literal encode
    // passes over the 16-row driver codebooks — ideal ~ scan ratio
    "q308_rq_encode",
    // round 14 batch 3: Hopkins is a 32-probe broadcast panel + one
    // min-by-probe partial-agg scan — ideal ~ scan ratio
    "q315_hopkins",
    // round 14 batch 4: gap statistic = 3 (assign + W) scan pairs per
    // side with k×d-bounded collects (ref side constant) — ideal ~
    // scan ratio × the fixed k set; k-means|| = 3 (min-dist + φ +
    // draw) scans + one weight pass (candidate count is ~1+3ℓ by
    // design, independent of N); DBSCAN census rides q37's banded
    // joins at ε = 0.3 (replica families are true dense blobs — read
    // core counts as output shift); facility location = 8 gain scans
    // over the 32-wide coverage array (bounded candidates, bounded
    // rounds — ideal ~ 8× scan)
    "q319_gap_statistic", "q321_kmeans_par", "q322_dbscan_core",
    "q323_facility_select")

  // events-only queries for the timeseries/drift family scale check.
  // Replication remaps user_id/event_id but keeps ts, event_type, and
  // value — so the bounded aggregation grids these plans reduce to
  // (24 hours × |types|, |types|² transition cells, 10 PSI buckets, 20
  // KS grid points, deciles) stay CONSTANT while the input grows Nx:
  // the corpus-sized work is one scan + partial agg, and per-user
  // windows (sessionize, markov, surprisal) see MORE groups of the SAME
  // size — the realistic user-growth axis. Ideal ratio is therefore the
  // scan ratio, not N× on the window side.
  private val EVENT_QUERIES = Seq("q21_tumbling_window", "q22_sessionize",
    "q110_event_trigrams", "q112_decayed_score", "q113_lag_xcorr",
    "q114_funnel", "q118_cusum", "q119_hampel",
    "q134_survival", "q135_temporal_split", "q139_markov",
    "q145_entropy_rate", "q148_activity_gini", "q149_psi_drift",
    "q151_theil_sen", "q152_hod_profile", "q153_mann_kendall",
    "q154_lorenz", "q156_user_surprisal", "q158_basket_lift",
    // round 9: all reduce to bounded grids (hourly series, |types|x2
    // cells, per-user counts) before any statistic — ideal = scan ratio
    "q179_fdr_drift", "q180_ewma_forecast", "q181_acf_hourly",
    "q189_perm_test", "q191_mann_whitney", "q193_pit_features",
    "q198_coherence", "q199_sequential_ab", "q200_markov_eval",
    // round 9 (driver round 9): bursts/broken-stick run on the hourly
    // grid (constant); PSM reduces to one row per user then matches on
    // the bounded score grid — user growth = more rows in the one
    // partial agg, ideal ~ scan ratio
    "q221_burst_episodes", "q222_broken_stick", "q227_psm_att",
    // round 12: Welch reduces to the bounded (user, frame, bin) grid;
    // Hjorth is per-user windows + moment sums — user growth = more
    // groups of the same size, ideal ~ scan ratio
    "q268_welch_psd", "q269_hjorth", "q271_variance_ratio",
    // q274/q275: per-user lag/lead windows + moment sums, scan-shaped
    "q274_savgol", "q275_peaks", "q279_mode_track", "q280_hurst",
    "q281_runs_test", "q282_xcorr_matrix",
    // round 13: Benford reduces to the 9·|types| digit grid, retention
    // to the (cohort, offset) grid after one distinct — ideal ~ scan
    // ratio
    "q287_benford", "q295_retention",
    // inter-arrival burstiness = per-user lag windows + moment sums
    "q296_interarrival_b",
    // round 14 batch 2: Lomb–Scargle is one scan with a map-side 8-way
    // frequency fan-out to a |types|×8 grid (ideal ~ scan ratio ×
    // the in-row trig constant); the session×episode overlap join
    // buckets both interval sides — user growth = more sessions,
    // episode side stays hour-grid-bounded
    "q305_lomb_scargle", "q307_session_overlap",
    // round 14 batch 4: Ljung–Box reduces to the same bounded hourly
    // grid as q181 (ideal ~ scan ratio); Fisher's g adds a per-user
    // 3-row agg onto q36's bounded-trace plan
    "q318_ljung_box", "q326_fisher_g")

  // graph/CC family over the docs replicas: each replica family is one
  // near-dup cluster, so cluster COUNT scales with the factor while
  // cluster diameter stays ~constant — the claim under test is that the
  // CC fixpoint's round count stays flat and wall time grows ~linearly
  // in cluster volume (pairs within a family are quadratic in family
  // size, which is the factor — read q28's ratio as candidate volume)
  private val GRAPH_QUERIES = Seq("q28_simhash_pairs", "q62_dup_clusters",
    "q79_cluster_keepers", "q103_pagerank",
    // round 12: the CC-riding split/census consumers — replica families
    // form larger true clusters, so read their ratios as output shift
    // plus the (measured, ~4.6x at 10x) fixpoint cost, not plan drift
    "q238_cluster_sizes", "q246_dedup_savings", "q255_cluster_split",
    // round 13: the sampled wedge estimator — K=2000 closure probes
    // regardless of wedge volume, so the ideal ratio is the pair-scan
    // ratio (the duphub axis shows the capped-exact audit diverging
    // from truth while this tracks it)
    "q285_wedge_sample",
    // round 14 batch 4: PPR's frontier is seed-local (3 fixed seeds —
    // ideal ~ the pair-scan ratio, round work is frontier-sized, not
    // graph-sized); LPA rounds are join-aggs over the same edge
    // relation as CC (replica families = denser true communities —
    // read census counts as output shift)
    "q324_ppr_seeds", "q325_lpa_communities")

  def main(args: Array[String]): Unit = {
    if (args.contains("megacust")) { megaCustSmoke(); return }
    if (args.contains("hotpair")) {
      hotPairSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(4096))
      return
    }
    if (args.contains("cores")) {
      coresSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(10))
      return
    }
    if (args.contains("recsys")) {
      recsysSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(10))
      return
    }
    if (args.contains("catalog")) {
      catalogSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(10))
      return
    }
    if (args.contains("duphub")) {
      duphubSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(2000))
      return
    }
    if (args.contains("ccparts")) {
      ccPartsSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(10))
      return
    }
    if (args.contains("trihub")) {
      trihubSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(200000))
      return
    }
    if (args.contains("pqprobe")) {
      pqProbeSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(10))
      return
    }
    if (args.contains("starcc")) {
      starCcSmoke(args.flatMap(_.toIntOption).headOption.getOrElse(100000))
      return
    }
    val graphMode = args.contains("graph")
    val docsMode = args.contains("docs") || graphMode
    val embMode = args.contains("emb")
    val eventsMode = args.contains("events")
    val n = args.filterNot(a => Set("docs", "emb", "graph", "events")(a))
      .headOption.map(_.toInt).getOrElse(10)
    val base = "/root/testdata/sf0.1"
    val mode = if (docsMode) "docs_" else if (embMode) "emb_"
      else if (eventsMode) "events_" else ""
    val big = s"/tmp/graft_scale_${mode}x$n"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val table = if (docsMode) "documents" else if (embMode) "embeddings"
      else if (eventsMode) "events" else "lineitem"
    if (!new java.io.File(s"$big/$table.parquet").exists()) {
      // replicate with remapped keys so key cardinalities scale with the
      // data (a pure copy would inflate group sizes, not group counts)
      val replicated =
        if (embMode)
          // replicas get distinct vec_ids and a small deterministic
          // perturbation (no rand(): reproducible runs): vectors become
          // NEAR-dup families — the realistic ANN/dedup input — while the
          // query/centroid prefixes (vec_id < 10 / < 8) keep their size
          spark.read.parquet(s"$base/embeddings.parquet")
            .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
            .withColumn("vec_id", $"vec_id" * n + $"r")
            .withColumn("embedding", transform($"embedding",
              (x, i) => (x + sin($"vec_id" * 131 + i * 17) * 0.01).cast("float")))
            .drop("r")
        else if (docsMode)
          // each replica keeps the text but gets a distinct doc_id and a
          // replica marker token appended: replicas become NEAR-dups of
          // each other (realistic dedup input: big minhash/simhash
          // candidate families), not byte-identical copies
          spark.read.parquet(s"$base/documents.parquet")
            .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
            .withColumn("doc_id", $"doc_id" * n + $"r")
            .withColumn("text", concat($"text", lit(" rep"), $"r".cast("string")))
            .drop("r")
        else if (eventsMode)
          // user-growth axis: replicas get distinct user_ids/event_ids
          // but keep ts/event_type/value — per-user sequences stay the
          // same length (window work per group constant), the hourly /
          // |types|² / bucketed grids these queries reduce to stay
          // bounded, and the epoch-anchored splits (q149 midpoint, q135
          // cutoffs) keep their semantics
          spark.read.parquet(s"$base/events.parquet")
            .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
            .withColumn("user_id", $"user_id" * n + $"r")
            .withColumn("event_id", $"event_id" * n + $"r")
            .drop("r")
        else
          spark.read.parquet(s"$base/lineitem.parquet")
            .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
            .withColumn("l_orderkey", $"l_orderkey" * n + $"r")
            .withColumn("l_partkey", $"l_partkey" * n + $"r")
            .withColumn("l_suppkey", $"l_suppkey" * n + $"r")
            .drop("r")
      replicated.repartition(32)
        .write.mode("overwrite").parquet(s"$big/$table.parquet")
    }

    def time(dir: String, q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val queries =
      if (graphMode) GRAPH_QUERIES
      else if (docsMode) DOC_QUERIES
      else if (embMode) EMB_QUERIES
      else if (eventsMode) EVENT_QUERIES else QUERIES
    // warm both paths, then measure best-of-2
    for (q <- queries; d <- Seq(base, big)) time(d, q)
    println(f"${"query"}%-22s ${"1x"}%8s ${s"${n}x"}%8s  ratio (ideal <= $n)")
    var tot1 = 0.0; var totN = 0.0
    for (q <- queries) {
      val a = math.min(time(base, q), time(base, q))
      val b = math.min(time(big, q), time(big, q))
      tot1 += a; totN += b
      println(f"$q%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f")
    }
    println(f"${"TOTAL"}%-22s $tot1%8.2f $totN%8.2f  ${totN / tot1}%5.1f")
    if (embMode) {
      // Lloyd-vs-first-k cell balance on the replicated collection: the
      // remapped first-8 ids are near-identical replicas of vec 0, so
      // the seed codebook piles most mass into one cell — exactly the
      // skew the production lloydIters path exists to fix (the Σcell²
      // pair bound of semanticDedup rests on this balance)
      def balance(iters: Int): Double = {
        val sizes = graft.operators.Similarity
          .semanticDedupOn(spark, big, k = 8, lloydIters = iters)
          .groupBy($"cell").count().collect().map(_.getLong(1).toDouble)
        sizes.max / (sizes.sum / sizes.length)
      }
      println(f"cell balance max/mean (k=8): first-k=${balance(0)}%.2f " +
        f"lloyd-3=${balance(3)}%.2f (lower is better)")
    }
    spark.stop()
  }

  /** Star-contraction vs label-propagation CC on a DIAMETER-heavy
    * graph: an n-node chain with shuffled ids (worst case for one-hop
    * label travel) plus a dup-family hub mixture (the realistic near-dup
    * shape). Label-prop iterates |nodes| label rows against a STATIC
    * edge table every round; star contraction rewrites the edge relation
    * itself, shrinking each round's shuffle as components collapse — the
    * big-graph trade Graph.scala's header names. Identity is
    * spec-gated (GraphCurationSpec); this measures wall at 1x/10x.
    * Run: runMain graft.ScaleSmoke starcc [n] */
  private def starCcSmoke(n: Int): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def graph(sz: Long): (DataFrame, DataFrame) = {
      // chain over a permuted id space (id = 37i mod sz is a bijection
      // for sz coprime with 37) + 100-node dup families every 1000 ids
      val chain = spark.range(sz - 1)
        .select((($"id" * 37) % sz).as("a"), ((($"id" + 1) * 37) % sz).as("b"))
      val hubs = spark.range(sz / 10)
        .select((expr("id div 100") * 100 + sz).as("a"), ($"id" + sz).as("b"))
      val edges = chain.union(hubs)
      val nodes = spark.range(sz + sz / 10).toDF("node")
      (graft.operators.Ckpt(edges.toDF("a", "b")),
        graft.operators.Ckpt(nodes))
    }
    def timeIt(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // label-prop is the SHALLOW-component algorithm (its docs say so) —
    // on a diameter-heavy chain its min label travels hops, so cap it
    // and report DNF honestly instead of crashing the smoke. Star
    // contraction's round count is ~log d regardless of diameter.
    val cap = 60
    println(f"${"axis"}%-8s ${"labelprop_s"}%12s ${"starcc_s"}%10s")
    for ((label, sz) <- Seq("1x" -> n.toLong, "10x" -> n.toLong * 10)) {
      val (e, v) = graph(sz)
      def run(f: (DataFrame, DataFrame) => DataFrame): Unit =
        f(e, v).write.format("noop").mode("overwrite").save()
      run(graft.operators.Graph.connectedComponentsStar(_, _, 200)) // warm
      val tStar = timeIt(run(graft.operators.Graph.connectedComponentsStar(_, _, 200)))
      val tProp =
        try timeIt(run(graft.operators.Graph.connectedComponents(_, _, cap)))
        catch { case _: IllegalStateException => -1.0 }
      val propCol = if (tProp < 0) f"DNF(>$cap rounds)" else f"$tProp%12.2f"
      println(f"$label%-8s $propCol%12s $tStar%10.2f")
      graft.operators.Ckpt.release(e); graft.operators.Ckpt.release(v)
    }
    spark.stop()
  }

  /** Persisted IVF-PQ probe smoke on the COLLECTION-GROWTH axis: build
    * the cell-partitioned, vec_id-bucketed codes table at 1x and Nx,
    * then measure (a) probe wall for the persisted-table path vs the
    * in-query q284 path (the table path re-derives neither assignment
    * nor codes, so its advantage should WIDEN with N) and (b) probed vs
    * total layout bytes — the nprobe/k pruning claim measured on the
    * artifact itself, per scale. Run: runMain graft.ScaleSmoke pqprobe [n] */
  private def pqProbeSmoke(n: Int): Unit = {
    val base = "/root/testdata/sf0.1"
    val big = s"/tmp/graft_scale_emb_x$n"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (!new java.io.File(s"$big/embeddings.parquet").exists()) {
      // the emb-mode replication recipe: distinct vec_ids, small
      // deterministic perturbation, query/centroid prefixes keep size
      spark.read.parquet(s"$base/embeddings.parquet")
        .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn("vec_id", $"vec_id" * n + $"r")
        .withColumn("embedding", transform($"embedding",
          (x, i) => (x + sin($"vec_id" * 131 + i * 17) * 0.01).cast("float")))
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    }
    def timeIt(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    println(f"${"axis"}%-6s ${"build_s"}%8s ${"inquery_s"}%10s ${"table_s"}%8s " +
      f"${"probed_B"}%10s ${"total_B"}%10s  frac")
    for ((label, dir) <- Seq("1x" -> base, s"${n}x" -> big)) {
      val tbl = s"pq_smoke_${label.stripSuffix("x")}x"
      val path = s"/tmp/graft_pq_codes_$label"
      val tBuild = timeIt(
        graft.operators.Similarity.writePqCodes(spark, dir, tbl, path))
      def runInQuery(): Unit = graft.operators.Similarity.ivfPqAdc(spark, dir)
        .write.format("noop").mode("overwrite").save()
      def runTable(): Unit = graft.operators.Similarity
        .ivfPqAdcProbeTable(spark, dir, tbl)
        .write.format("noop").mode("overwrite").save()
      runInQuery(); runTable() // warm
      val tIn = math.min(timeIt(runInQuery()), timeIt(runInQuery()))
      val tTb = math.min(timeIt(runTable()), timeIt(runTable()))
      // probed cells: the same bounded relation the probe collects
      val e = graft.sources.Tables.embeddings(spark, dir).select($"vec_id",
        $"embedding", graft.functions.VectorOps.l2norm($"embedding").as("nrm"))
      val cent = e.where($"vec_id" < 8).select($"vec_id".as("cent_id"),
        $"embedding".as("cemb"), $"nrm".as("cnrm"))
      def cellsFor(maxQ: Long): Set[Long] =
        e.where($"vec_id" < maxQ).join(broadcast(cent), lit(true))
          .withColumn("ccos", graft.functions.VectorOps.dot($"embedding", $"cemb")
            / ($"nrm" * $"cnrm"))
          .withColumn("crk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id".asc)))
          .where($"crk" <= 2).select($"cent_id").distinct()
          .as[Long].collect().toSet
      // the 10-query panel's UNION can cover every cell; the nprobe/k
      // byte claim is per PROBE, so report the single-query fraction too
      val probedCells = cellsFor(10L)
      val oneQueryCells = cellsFor(1L)
      val cellDirs = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("cell="))
      def dirBytes(d: java.io.File): Long =
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
      def bytesOf(cells: Set[Long]): Long = cellDirs.filter(d =>
        cells.contains(d.getName.stripPrefix("cell=").toLong))
        .map(dirBytes).sum
      val probedB = bytesOf(probedCells)
      val oneB = bytesOf(oneQueryCells)
      val totalB = cellDirs.map(dirBytes).sum
      println(f"$label%-6s $tBuild%8.2f $tIn%10.2f $tTb%8.2f " +
        f"$probedB%10d $totalB%10d  ${probedB.toDouble / totalB}%.2f" +
        f"  (single-query frac ${oneB.toDouble / totalB}%.2f, " +
        f"${oneQueryCells.size}/${cellDirs.length} cells)")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    spark.stop()
  }

  /** Recsys-family smoke on the CUSTOMER-GROWTH axis: replicate orders
    * and lineitem Nx with remapped order/customer keys but the SAME
    * supplier catalog — N× more customers interacting with a fixed
    * item set, the realistic recommender growth direction. Under it:
    * q194's proposal work is s × customers (→ ~N×; the CATALOG axis
    * where proposal sampling wins is `catalogSmoke`), q196's
    * filtered-rank work is interactions-bounded (→ ~N×), and q202's
    * capped pair work is Σ_{deg≤64} C(deg,2) (→ ~N×) — all should
    * track the data ratio with NO super-linear kink, because none of
    * the three ever pairs customers with each other. Run:
    * runMain graft.ScaleSmoke recsys [factor] */
  private def recsysSmoke(n: Int): Unit = {
    val base = "/root/testdata/sf0.1"
    val big = s"/tmp/graft_scale_recsys_x$n"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (!new java.io.File(s"$big/lineitem.parquet").exists()) {
      spark.read.parquet(s"$base/orders.parquet")
        .select($"o_orderkey", $"o_custkey")
        .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
        .select(($"o_orderkey" * n + $"r").as("o_orderkey"),
          ($"o_custkey" * n + $"r").as("o_custkey"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$big/orders.parquet")
      spark.read.parquet(s"$base/lineitem.parquet")
        .select($"l_orderkey", $"l_suppkey")
        .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
        .select(($"l_orderkey" * n + $"r").as("l_orderkey"), $"l_suppkey")
        .repartition(32).write.mode("overwrite")
        .parquet(s"$big/lineitem.parquet")
      // q194 needs the (unchanged) supplier catalog next to the facts
      spark.read.parquet(s"$base/supplier.parquet")
        .write.mode("overwrite").parquet(s"$big/supplier.parquet")
    }
    val queries = Seq("q194_neg_sampling", "q196_mrr_eval", "q202_item_cf")
    def time(dir: String, q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (q <- queries; d <- Seq(base, big)) time(d, q) // warm
    println(f"${"query"}%-22s ${"1x"}%8s ${s"${n}x"}%8s  ratio (ideal ~ $n)")
    for (q <- queries) {
      val a = math.min(time(base, q), time(base, q))
      val b = math.min(time(big, q), time(big, q))
      println(f"$q%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f")
    }
    spark.stop()
  }

  /** q194 CATALOG-GROWTH smoke: replicate the supplier catalog Nx with
    * fresh keys (same facts — customers, interactions unchanged), the
    * axis where the retired exhaustive plan's candidate stream is
    * |cust|·|catalog| and the shipped proposal plan's is s·|cust|,
    * CONSTANT in catalog size. Expected: proposal wall ~flat (ratio
    * ~1), exhaustive wall ~Nx. Run: runMain graft.ScaleSmoke catalog
    * [factor]. */
  private def catalogSmoke(n: Int): Unit = {
    val base = "/root/testdata/sf0.1"
    val big = s"/tmp/graft_scale_catalog_x$n"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (!new java.io.File(s"$big/supplier.parquet").exists()) {
      // replicas keep the key space DENSE (offset by the base max, which
      // is dense 1..mx in TPC-H) so the facts' suppkeys stay valid AND
      // the proposal plan's maxsk-mod draws keep hitting real suppliers
      val mx = spark.read.parquet(s"$base/supplier.parquet")
        .agg(max($"s_suppkey")).head.getLong(0)
      spark.read.parquet(s"$base/supplier.parquet")
        .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn("s_suppkey", $"s_suppkey" + $"r" * mx)
        .drop("r")
        .repartition(8).write.mode("overwrite").parquet(s"$big/supplier.parquet")
      for (t <- Seq("orders", "lineitem"))
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$big/$t.parquet")
    }
    def time(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    import graft.operators.Sampling
    // warm
    time(Sampling.negativeSampling(spark, base))
    time(Sampling.negativeSamplingExhaustive(spark, base))
    println(f"${"plan"}%-12s ${"1x"}%8s ${s"${n}x"}%8s  ratio (proposal ideal ~1, exhaustive ~$n)")
    for ((name, run) <- Seq(
        "proposal" -> ((d: String) => Sampling.negativeSampling(spark, d)),
        "exhaustive" -> ((d: String) => Sampling.negativeSamplingExhaustive(spark, d)))) {
      val a = math.min(time(run(base)), time(run(base)))
      val b = math.min(time(run(big)), time(run(big)))
      println(f"$name%-12s $a%8.2f $b%8.2f  ${b / a}%5.1f")
    }
    spark.stop()
  }

  /** q127 MEGAHUB smoke: one degree-d hub (id 0 — the id-order worst
    * case: every one of its d edges intersects its d-element forward
    * list, O(d²) wedge work) plus a spoke ring for real triangles.
    * Degree orientation sorts the hub LAST, so its edges all point in,
    * every forward list is O(1), and wedge fan-out is bounded — the
    * Suri-Vassilvitskii claim, measured: at local[32] the per-edge
    * intersection floor hides the d² term up to d ≈ 4·10⁴ (both paths
    * ~3 s), then it bites — d = 2·10⁵: id-broadcast 14.9 s vs
    * degree-shuffled 6.8 s (2.2x), diverging quadratically vs linearly
    * from there. Run: runMain graft.ScaleSmoke trihub [degree]. */
  private def trihubSmoke(d: Int): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.Graph
    def edges(s: SparkSession) = {
      import s.implicits._
      ((1L to d.toLong).map(i => (0L, i)) ++
        (1L until d.toLong).map(i => (i, i + 1))).toDF("u", "v")
        .repartition(32)
    }
    val shufSession = spark.newSession()
    shufSession.conf.set(Graph.TriShuffleConf, "true")
    def time(s: SparkSession): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = Graph.trianglesOn(edges(s)).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    time(spark); time(shufSession) // warm
    val (tb, nb) = time(spark)
    val (ts, ns) = time(shufSession)
    require(nb == ns, s"paths disagree: $nb vs $ns")
    println(f"hub degree $d: id-order broadcast $tb%.2f s, " +
      f"degree-order shuffled $ts%.2f s (${tb / ts}%.1fx), " +
      s"$nb triangle-corner rows")
    spark.stop()
  }

  /** q231 MEGAHUB smoke: a near-dup pair relation with one degree-d hub
    * (doc 0 paired with docs 1..d — the template-family shape a crawl
    * corpus produces) plus a closure ring among the spokes for real
    * wedges. Uncapped, the hub alone mints C(d,2) wedge endpoint pairs
    * — d = 10⁴ is 5·10⁷ rows from ONE document; capped (TransDegCap =
    * 64, the shipped q231 plan), the hub never enters wedge-center
    * generation and wedge volume stays within the ring's Σdeg² bound.
    * Run: runMain graft.ScaleSmoke duphub [degree]. */
  private def duphubSmoke(d: Int): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.{Ckpt, Dedup}
    def pairs = Ckpt(
      ((1L to d.toLong).map(i => (0L, i)) ++
        (1L until d.toLong).map(i => (i, i + 1)))
        .toDF("doc_a", "doc_b").repartition(32), eager = false)
    def run(cap: Option[Long]): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val row = Dedup.transitivityAuditPairs(pairs, cap).collect()(0)
      ((System.nanoTime() - t0) / 1e9,
        row.getAs[Long]("n_wedge_pairs"), row.getAs[Long]("n_closed"))
    }
    run(Some(Dedup.TransDegCap)); run(Some(Dedup.TransDegCap)) // warm
    val (tc, wc, cc) = run(Some(Dedup.TransDegCap))
    val (tu, wu, cu) = run(None)
    val t0 = System.nanoTime()
    val sRow = Dedup.wedgeSamplePairs(pairs, 2000L).collect()(0)
    val ts = (System.nanoTime() - t0) / 1e9
    println(f"dup hub degree $d: capped(${Dedup.TransDegCap}) $tc%.2f s " +
      f"($wc wedge pairs, $cc closed) vs uncapped $tu%.2f s " +
      f"($wu wedge pairs, $cu closed) — ${tu / tc}%.1fx wall, " +
      f"${wu.toDouble / math.max(wc, 1)}%.0fx wedge volume")
    println(f"q285 sampler $ts%.2f s: est ${sRow.getAs[Long]("est_ppm")} ppm " +
      f"over ${sRow.getAs[Long]("n_wedges")} true wedges " +
      f"(K=${sRow.getAs[Long]("k_samples")}) — constant probe budget " +
      "while the exact audit's wedge volume grows with the hub")
    spark.stop()
  }

  /** cc.partitions width smoke: time the q62 CC fixpoint at 1x and Nx
    * near-dup corpora across loop widths (the `spark.graft.cc
    * .partitions` knob, read caller-side). The question it answers for
    * cluster tuning: WHERE does widening the loop start paying? At toy
    * scale the loop is driver-latency-bound, so narrow widths win; the
    * crossover is the edge volume where per-task work dominates
    * per-round scheduling. Builds the same docs_xN replica layout as
    * `docs` mode (so runs compose). Run:
    * runMain graft.ScaleSmoke ccparts [factor]. */
  private def ccPartsSmoke(n: Int): Unit = {
    val base = "/root/testdata/sf0.1"
    val big = s"/tmp/graft_scale_docs_x$n"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (!new java.io.File(s"$big/documents.parquet").exists()) {
      spark.read.parquet(s"$base/documents.parquet")
        .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn("doc_id", $"doc_id" * n + $"r")
        .withColumn("text", concat($"text", lit(" rep"), $"r".cast("string")))
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$big/documents.parquet")
    }
    def time(s: SparkSession, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries("q62_dup_clusters")(s, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    time(spark, base); time(spark, big) // warm (JIT + codegen + caches)
    println(f"${"cc.partitions"}%-14s ${"1x"}%8s ${s"${n}x"}%8s")
    for (w <- Seq(4, 8, 16, 32, 64)) {
      val s = spark.newSession()
      s.conf.set("spark.graft.cc.partitions", w.toString)
      val a = math.min(time(s, base), time(s, base))
      val b = math.min(time(s, big), time(s, big))
      println(f"$w%-14d $a%8.2f $b%8.2f")
    }
    spark.stop()
  }

  /** q202 hot-customer smoke: inject 2000 synthetic mega-customers that
    * each bought from EVERY supplier (deg = |catalog| = 1000 at sf0.1),
    * then time itemCf capped (the shipped plan, deg ≤ 64 enters pair
    * generation) vs uncapped. Uncapped, the injected customers alone
    * contribute 2000 × C(1000,2) ≈ 10⁹ co-occurrence pairs — the
    * power-law-key blowup the cap exists for; capped, pair work stays
    * within the base corpus's Σ_{deg≤64} C(deg,2) bound, so its wall
    * time must track the no-mega baseline. Run:
    * runMain graft.ScaleSmoke megacust */
  /** Core-scaling axis (VERDICT r14 item 5): the sf0.1 bench cannot
    * separate compute from the per-job scheduler floor (its c8/c32
    * ratios all read ≈1 — every query is floor-bound at that scale), so
    * 100 TB parallelism claims need a dataset where the compute term
    * dominates. This mode runs the heaviest documents-only queries on
    * the Nx replica corpus (built by the `docs` mode; near-dup replica
    * families, the realistic dedup input) with the MASTER taken from
    * `$SPARK_GRAFT_CPUS` — run it twice (8 and 32) and compare:
    * a compute-bound plan should show c8/c32 well above 1, a
    * floor-bound one ≈1. Results → SCALE.md round-15 section.
    * Run: SPARK_GRAFT_CPUS=8|32 runMain graft.ScaleSmoke cores [n] */
  private def coresSmoke(n: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val big = s"/tmp/graft_scale_docs_x$n"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (!new java.io.File(s"$big/documents.parquet").exists()) {
      // same replicator as the `docs` mode: near-dup replica families
      import spark.implicits._
      spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .withColumn("r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn("doc_id", $"doc_id" * n + $"r")
        .withColumn("text", concat($"text", lit(" rep"), $"r".cast("string")))
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$big/documents.parquet")
    }
    // the CPU-heaviest documents-only paths at sf0.1 (shingling + PPJoin
    // verify, tf-cosine postings, suffix ranks, wedge/transitivity pair
    // work, CC ensemble) — the queries whose 100 TB posture rests on
    // "the compute parallelizes"
    val qs = Seq("q25_ngram_jaccard", "q90_tf_cosine", "q178_sorted_nbhd",
      "q230_dup_core", "q231_transitivity", "q270_local_cc",
      "q306_suffix_dup", "q316_dup_coverage", "q312_ensemble_dedup",
      "q313_kn_entropy")
    def time(q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, big).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    qs.foreach(time) // warm (codegen/JIT)
    println(f"cores=$cpus%s corpus=${n}x")
    var tot = 0.0
    qs.foreach { q =>
      val t = math.min(time(q), time(q))
      tot += t
      println(f"$q%-24s $t%8.2f s")
    }
    println(f"${"TOTAL"}%-24s $tot%8.2f s")
    spark.stop()
  }

  /** Planted-hot-PAIR skew axis for the q202 co-occurrence reduce: many
    * degree-2 customers all buying the SAME two suppliers (each is under
    * the q202 degree cap, so — unlike the megacust axis — they all enter
    * pair generation and pile partial-count rows for one (s_a, s_b) key
    * onto one reducer). The interactions are spread over many map
    * partitions to model a wide cluster scan (the per-key partial-row
    * pileup is proportional to the MAP TASK COUNT, which local[32]'s 32
    * shuffle partitions would otherwise hide). Reports per-task
    * shuffle-read row max/median for the single-phase reduce stage.
    * Run: runMain graft.ScaleSmoke hotpair [mapParts] */
  private def hotPairSmoke(mapParts: Int): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      // AQE coalescing folds this toy-scale reduce to ONE partition and
      // hides the per-key pileup the axis exists to show; at 100 TB the
      // hot key's partial rows are ~map-task-count (10⁵-10⁶) and no
      // coalescer helps a single oversized KEY (guide §2.5: skew-join
      // splitting does not apply to aggregations)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // per-task shuffle-read records per stage
    val taskRows = new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Long]]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null) {
          taskRows.computeIfAbsent(t.stageId,
            _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
            .add(t.taskMetrics.shuffleReadMetrics.recordsRead)
        }
      }
    })
    // 20k background customers with a spread pair + 300k hot customers
    // all buying suppliers (7, 9)
    val normal = spark.range(20000L)
      .select($"id".as("custkey"),
        explode(array(($"id" % 9973L + 100L), ($"id" % 9967L + 11000L))).as("suppkey"))
    val hot = spark.range(300000L)
      .select(($"id" + 1000000L).as("custkey"),
        explode(array(lit(7L), lit(9L))).as("suppkey"))
    val inter = graft.operators.Ckpt(
      normal.unionByName(hot).repartition(mapParts, $"custkey"), eager = false)
    def run(label: String): Unit = {
      taskRows.clear()
      val co = graft.operators.Graph.itemCfCoCounts(inter)
      val n = co.agg(sum($"c_ab"), count(lit(1))).collect()(0)
      val tot = n.getLong(0); val keys = n.getLong(1)
      // the reduce stage = the stage with the largest per-task
      // row spread reading ~mapParts-sized shuffle output
      import scala.jdk.CollectionConverters._
      val interesting = taskRows.asScala.toSeq
        .map { case (sid, l) =>
          val xs = l.asScala.map(_.toLong).toSeq.sorted
          (sid, xs.sum, xs.lastOption.getOrElse(0L), xs(xs.size / 2))
        }
        .filter(_._2 > 0)
      println(f"$label%-22s sum(c_ab)=$tot%9d keys=$keys%8d")
      interesting.sortBy(-_._2).take(3).foreach { case (sid, s, mx, md) =>
        println(f"   stage $sid%4d shuffle-read rows: total=$s%9d max-task=$mx%8d median-task=$md%8d ratio=${mx.toDouble / math.max(1, md)}%6.1f")
      }
    }
    // warm (codegen)
    run("warmup")
    run("single-phase")
    spark.stop()
  }

  private def megaCustSmoke(): Unit = {
    val base = "/root/testdata/sf0.1"
    val big = "/tmp/graft_scale_megacust"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (!new java.io.File(s"$big/lineitem.parquet").exists()) {
      // one synthetic order per mega-customer holding one lineitem per
      // supplier; only the columns itemCf touches are populated beyond
      // the join keys (itemCf projects them before anything else)
      val nMega = 2000L
      val nSupp = spark.read.parquet(s"$base/supplier.parquet").count()
      val megaOrders = spark.range(nMega)
        .select(($"id" + 900000000L).as("o_orderkey"),
          ($"id" + 900000000L).as("o_custkey"))
      val megaItems = spark.range(nMega)
        .select(($"id" + 900000000L).as("o_orderkey"))
        .withColumn("l_suppkey", explode(sequence(lit(1L), lit(nSupp))))
        .select($"o_orderkey".as("l_orderkey"), $"l_suppkey")
      spark.read.parquet(s"$base/orders.parquet")
        .select($"o_orderkey", $"o_custkey")
        .unionByName(megaOrders)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$big/orders.parquet")
      spark.read.parquet(s"$base/lineitem.parquet")
        .select($"l_orderkey", $"l_suppkey")
        .unionByName(megaItems)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$big/lineitem.parquet")
    }
    def time(label: String, dir: String, cap: Option[Long]): Double = {
      val t0 = System.nanoTime()
      graft.operators.Graph.itemCfOn(spark, dir, cap)
        .write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-34s $s%8.2f s"); s
    }
    // warm (codegen) on the small base dir, then measure
    time("warmup capped (base)", base, Some(graft.operators.Graph.ItemCfDegCap))
    val baseCapped = time("base, capped", base, Some(graft.operators.Graph.ItemCfDegCap))
    val megaCapped = time("mega, capped  (shipped plan)", big, Some(graft.operators.Graph.ItemCfDegCap))
    val megaUncapped = time("mega, UNCAPPED (what cap avoids)", big, None)
    println(f"capped overhead vs base: ${megaCapped / baseCapped}%4.2fx; " +
      f"uncapped is ${megaUncapped / megaCapped}%4.1fx the capped plan")
    spark.stop()
  }
}
