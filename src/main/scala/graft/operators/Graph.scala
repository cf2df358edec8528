package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Iterative graph operators for dedup pipelines.
  *
  * Near-duplicate detection (q25-q28, q37) emits PAIRS; an actual dedup
  * pass needs CLUSTERS — pick one keeper per connected component of the
  * near-dup graph. This is the grouping step every large-scale corpus
  * dedup (MinHash or SimHash based) runs after candidate verification.
  *
  * Implementation is min-label propagation to a fixpoint: every node
  * starts labeled with itself; each round replaces a node's label by the
  * minimum label in its closed neighborhood; converged when no label
  * changes. Rounds are whole-stage relational jobs (join + groupBy), so
  * the work is O(edges) per round and O(graph diameter) rounds — the
  * standard distributable CC (HashToMin); near-dup components are
  * shallow (duplicates of one document), so the loop ends in a handful
  * of rounds. The driver only sees the per-round convergence COUNT,
  * never the data. At very large diameters one would switch to the
  * large-star/small-star contraction (same join-agg building blocks,
  * O(log d) rounds).
  */
object Graph {

  /** Connected components of an undirected edge list.
    *
    * Hybrid execution (the [[kCoreOn]] discipline): the oriented, deduped
    * edge set is counted once; when it fits one task
    * ([[Loop.CutoffConf]], default 4M edges ≈ 64 MB) the whole problem
    * runs as a single-task union-find — bit-identical labels, one job
    * instead of ~5 fixpoint rounds of fixed scheduler latency — and above
    * it the distributed min-label/pointer-jump loop runs unchanged (the
    * only path that can bind at 100 TB).
    *
    * @param edges two integral columns, one row per edge (direction
    *              ignored, self-loops and duplicates fine)
    * @param nodes one integral column: the node universe (isolated nodes
    *              keep their own id as component)
    * @return (node, component) with component = min node id reachable
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 50): DataFrame = Loop.run(edges.sparkSession) { loop =>
    import loop.spark.implicits._
    val e = loop.on(edges).toDF("src", "dst")
    // canonical oriented edge set, deduped ONCE (half the dedup input of
    // the old both-directions distinct; self-loops carry no label
    // information and are dropped — a self-loop-only node labels itself
    // through the isolated-node fallback below). Its count routes the
    // HYBRID decision, the kCoreOn discipline: the distributed fixpoint
    // pays ~0.5 s of fixed per-round scheduler latency for stages that
    // move kilobytes at candidate-pair scale, so when the whole oriented
    // edge set fits one task a single-task union-find IS the right plan —
    // at 100 TB the cutoff simply never binds and the loop below runs
    // unchanged. The count is the action the old path paid anyway to
    // materialize the closure cache in round 1.
    val oriented = Ckpt(e
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .where($"u" =!= $"v" && $"u".isNotNull && $"v".isNotNull)
      .distinct(), eager = false)
    val m = oriented.count()
    val labels = if (loop.fitsOneTask(m)) {
      // union-by-min with path compression: the root of every tree is the
      // component's min node id, which is exactly the fixpoint label the
      // distributed loop converges to — bit-identical output, one job.
      // comp must come back in the label type the distributed branch
      // produces: the common type of (src, dst) = oriented's u column
      val nodeType = oriented.schema.fields(0).dataType
      oriented
        .select($"u".cast("long"), $"v".cast("long")).as[(Long, Long)]
        .coalesce(1) // one task reading the checkpoint blocks, no shuffle
        .mapPartitions(it => localUnionFind(it))
        .toDF("node", "comp")
        .select($"node".cast(nodeType).as("node"),
          $"comp".cast(nodeType).as("comp"))
    } else {
      // symmetric closure once, so each round is a single join direction;
      // pre-partitioned by dst (the loop's join key) so every round's edge
      // join reuses the cached partitioning instead of re-exchanging the
      // edge table — labels are the only relation that moves per round.
      // Everything in the loop uses the ONE loop width so partitionings
      // line up and reuse.
      val sym = oriented
        .select($"u".as("src"), $"v".as("dst"))
        .union(oriented.select($"v".as("src"), $"u".as("dst")))
        .repartition(loop.parts, $"dst")
        .cache()
      // checkpoint (not cache) per round: caching alone leaves each
      // round's LOGICAL plan nested inside the next — the analyzer re-walks
      // a plan that doubles per iteration and the driver heap dies long
      // before the data does; checkpointing truncates the lineage so every
      // round optimizes a constant-size plan. Ckpt routes to executor-local
      // blocks by default, or to the reliable store when
      // spark.graft.checkpointDir is set (preemption-safe long loops). Only
      // edge-incident nodes iterate; isolated nodes are their own component
      // by definition and join back in at the end.
      val touched = sym.select($"src".as("node")).distinct()
      var cur = Ckpt(touched
        .select($"node", $"node".as("comp")))
      // convergence probe: labels only ever decrease, so ANY change strictly
      // decreases sum(comp) — one agg action per round materializes the
      // (lazy) checkpoint AND answers "did anything move", with no second
      // join-and-count job
      var prevSum = BigDecimal(-1)
      var round = 0
      var converged = false
      try {
      while (!converged && round < maxRounds) {
        // min label over the closed neighborhood (own label U neighbors'),
        // applied TWICE per round: convergence is gated by edge-hop
        // propagation (a min label travels one hop per application), so two
        // applications halve the round count — measured 9 -> 5 rounds at
        // sf0.1 — while living in the SAME job (the loop is scheduling-
        // latency-bound: every stage is milliseconds of data, an extra
        // round costs ~0.5 s of latency). Each step checkpoints LAZILY so
        // (a) the plan the next step/round sees is a leaf (a plan reused on
        // both sides of a join trips Catalyst's union-constraint attribute
        // dedup) and (b) nothing materializes before the round's single
        // convergence-sum action.
        def nbhdMin(l: DataFrame): DataFrame = Ckpt(l
          .union(sym
            .join(l.withColumnRenamed("node", "dst"), "dst")
            .select($"src".as("node"), $"comp"))
          .groupBy($"node").agg(min($"comp").as("comp")), eager = false)
        val step1 = nbhdMin(cur.select($"node", $"comp"))
        val nbrMin = nbhdMin(step1)
        // pointer jump (path halving): follow the label's own label —
        // shortcuts label chains on top of the edge propagation. Every
        // label IS a node id (labels are minima over node ids), so the
        // self-join is total; label monotonicity keeps it exact.
        val next = Ckpt(nbrMin.as("x")
          .join(nbrMin.select($"node".as("comp"), $"comp".as("comp2")).as("m"), "comp")
          .select($"node", $"comp2".as("comp")), eager = false)
        // per-row decimal BEFORE the sum (a long sum could overflow first —
        // 1e9+ nodes with wide ids exceed Long.MaxValue); coalesce covers
        // the empty-graph case (sum over zero rows is null)
        val s = BigDecimal(
          next.agg(coalesce(sum($"comp".cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)"))).head.getDecimal(0))
        // previous rounds' checkpointed storage is dead once `next` has
        // materialized — release it, or every run pins rounds x |nodes|
        // label rows in block storage (and, in durable mode, rounds x
        // |labels| dead files on the reliable store) for the app lifetime.
        // Ckpt.release frees blocks, the pre-checkpoint cache, AND the
        // checkpoint files — Dataset.unpersist alone touches none of the
        // durable state.
        Ckpt.release(cur)
        Ckpt.release(step1)
        Ckpt.release(nbrMin)
        cur = next
        converged = s == prevSum
        prevSum = s
        round += 1
      }
      } finally {
        // the cached edge closure must not outlive the loop on ANY exit
        // path (normal, the non-convergence throw below, or a failure
        // inside the loop); the oriented checkpoint's only consumer is sym
        sym.unpersist()
        Ckpt.release(oriented)
      }
      // exiting via the cap means the labels are NOT a fixed point — wrong
      // components with no other signal. Practically unreachable with path
      // halving (O(log d) rounds), so make it loud rather than silent.
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds; " +
            "labels are not a fixed point (raise maxRounds)")
      cur
    }
    loop.on(nodes).toDF("node").distinct()
      .join(labels.withColumnRenamed("comp", "__c"), Seq("node"), "left")
      .select($"node", coalesce($"__c", $"node").as("comp"))
  }

  /** Single-task connected components of an oriented (u, v) edge
    * iterator: union-find with path compression, union-by-MIN — the
    * smaller root always stays root, so every tree's root IS the
    * component's minimum node id, exactly the distributed fixpoint's
    * label. Output: (node, min reachable id) for edge-incident nodes. */
  private def localUnionFind(it: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    import scala.collection.mutable
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    it.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    // materialize keys first: find() path-compresses (mutates) the map
    val ks = parent.keys.toArray
    ks.iterator.map(n => (n, find(n)))
  }

  /** Connected components by LARGE-STAR / SMALL-STAR contraction
    * (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the big-graph
    * alternative Graph.scala's header names: [[connectedComponents]]
    * keeps the FULL edge table static and iterates |nodes| label rows
    * per round; star contraction rewrites the EDGE relation itself, so
    * each round's shuffle shrinks as components collapse into stars —
    * the property that matters when edges, not labels, dominate (the
    * 100 TB near-dup graph). Same join-agg building blocks, same
    * cloned-session/AQE/Ckpt discipline, O(log d) rounds.
    *
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(Γ(u) ∪ u)
    *  - small-star(u): every smaller neighbor (and u itself) re-points
    *    to m
    *
    * Both steps strictly shrink the edge potential; the fixpoint is a
    * union of stars rooted at component minima, so the final edge list
    * IS the label table. Convergence is an exact edge-set equality probe
    * (one signed-union aggregate job per round), not a checksum.
    * GraphCurationSpec gates bit-identity against [[connectedComponents]]
    * on the testdata pair graphs; ScaleSmoke's `starcc` axis measures the
    * round/wall crossover on a diameter-heavy chain graph. */
  def connectedComponentsStar(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 50): DataFrame = Loop.run(edges.sparkSession) { loop =>
    import loop.spark.implicits._
    val e0 = loop.on(edges).toDF("src", "dst")
    // state: directed (u, v) with v < u — "u points down to v"
    var cur = Ckpt(e0
      .select(greatest($"src", $"dst").as("u"), least($"src", $"dst").as("v"))
      .where($"u" =!= $"v").distinct(), eager = false)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
      val m = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      sym.join(m, "u")
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .where($"u" =!= $"v")
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input edges all point down (v < u), so min(N⁺(u)) = min(N(u))
      val m = e.groupBy($"u").agg(min($"v").as("m"))
      e.join(m, "u")
        .select($"v".as("u"), $"m".as("v"))
        .union(m.select($"u", $"m".as("v")))
        .where($"u" =!= $"v")
        .distinct()
    }
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // one checkpoint per round: cur is a LogicalRDD leaf, so the fused
      // large∘small plan has constant depth — checkpointing the
      // intermediate large-star relation would only double the
      // materialization cost (measured: the per-round ACTION count is
      // what dominates this loop, not data)
      val next = Ckpt(smallStar(largeStar(cur)), eager = false)
      // exact set-equality probe in ONE job (the 3-action count+except
      // probe made the loop action-bound): signed union — any (u,v)
      // whose side-sum is nonzero is in exactly one of the two sets
      converged = next.select($"u", $"v", lit(1L).as("side"))
        .union(cur.select($"u", $"v", lit(-1L).as("side")))
        .groupBy($"u", $"v").agg(sum($"side").as("s"))
        .where($"s" =!= 0L)
        .isEmpty
      if (!converged) { Ckpt.release(cur); cur = next }
      else Ckpt.release(next)
      round += 1
    }
    if (!converged) {
      Ckpt.release(cur)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds " +
          "(raise maxRounds)")
    }
    // at the star fixpoint every edge is (child, root); roots and
    // isolated nodes label themselves
    loop.on(nodes).toDF("node").distinct()
      .join(cur.select($"u".as("node"), $"v".as("__c")), Seq("node"), "left")
      .select($"node", coalesce($"__c", $"node").as("comp"))
  }

  /** Pipeline-reuse form of q62: clusters from PRECOMPUTED near-dup pairs
    * — any pair source (q25 Jaccard, q26 MinHash, q28 SimHash) plugs in,
    * and a pipeline that also needs keeper selection computes CC once.
    *
    * @param pairs (doc_a, doc_b) candidate-verified near-dup pairs
    * @param docs  (doc_id) the document universe (singletons keep selves)
    */
  def dupClustersFrom(pairs: DataFrame, docs: DataFrame): DataFrame =
    connectedComponents(pairs.select(col("doc_a"), col("doc_b")),
        docs.select(col("doc_id")))
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))

  /** q62: near-duplicate clusters — connected components over the q28
    * SimHash pair graph (hamming <= 1), every document labeled with its
    * cluster keeper (= min doc_id in the component; singletons keep
    * themselves). The downstream dedup filter is `doc_id === comp`. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClustersFrom(Dedup.simhashPairs(spark, dir),
      graft.operators.TextOps.docsParallel(spark, dir))

  /** q238: dup-cluster size census — the size histogram of q62's
    * connected components, with the numbers a dedup impact report leads
    * with: how many clusters of each size, how many documents they hold,
    * and how many rows a keep-one policy deletes ((size−1) per cluster).
    * The q62 label table answers "which cluster is this doc in"; this
    * answers "is duplication a few mega-families or a long tail of
    * pairs" — which decides whether exact-dup hashing (q24) would have
    * caught most of it, and budgets the q79 keeper pass.
    *
    * Scale shape: two partial-agged groupBys AFTER the CC fixpoint —
    * labels → (cluster, size) → (size, census); both shuffles shrink
    * monotonically (|docs| → |clusters| → |distinct sizes|). Output is
    * the bounded size-distribution relation. */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dupClusters(spark, dir)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      .select($"sz".as("cluster_size"), $"n_clusters",
        ($"sz" * $"n_clusters").as("n_docs"),
        (($"sz" - 1L) * $"n_clusters").as("n_removable"))
  }

  /** q246: dedup token-savings report, per source — the number a
    * curation team actually reports upward: if we keep one document per
    * q62 cluster (the min-id keeper), how many TOKENS does each source
    * lose, and what fraction of its volume is that? q238 counts
    * removable ROWS; tokens are what the training budget is priced in,
    * and the per-source split shows who pays the dedup bill (a mirror
    * crawl loses half its mass; a curated source loses ~nothing).
    *
    * Scale shape: the CC labeling is the cost (shared shape with
    * q62/q238); the report is one map-side token count, one
    * co-partitioned join of labels to counts on doc_id, a min-id
    * keeper window per cluster — partial-agged — and a |sources|-row
    * groupBy. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = graft.operators.TextOps.docsParallel(spark, dir)
      .select($"doc_id", $"source",
        size(graft.operators.TextOps.toks($"text")).cast("long").as("n_tok"))
    val labeled = dupClusters(spark, dir)
      .join(toks, "doc_id")
    // q62's label IS the keeper (cluster_id = min doc_id in the
    // component), so "removed" is a per-row comparison — no keeper
    // aggregation or join; the oracle derives its keeper explicitly and
    // the two definitions coincide by the q62 contract
    labeled
      .withColumn("removed", $"doc_id" =!= $"cluster_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"removed", 1L).otherwise(0L)).as("n_removed"),
        sum($"n_tok").as("tokens_total"),
        sum(when($"removed", $"n_tok").otherwise(0L)).as("tokens_removed"))
      .withColumn("removed_ppm",
        expr("(tokens_removed * 1000000) div tokens_total"))
  }

  /** Pipeline-reuse form of q79: keeper selection over PRECOMPUTED
    * clusters and quality scores — a real pipeline runs the CC fixpoint
    * once and feeds its output here, instead of re-deriving pairs+CC
    * (which the standalone q79 oracle query must do to stand alone).
    *
    * @param clusters (doc_id, cluster_id)
    * @param quality  (doc_id, quality)
    */
  def clusterKeepersFrom(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val joined = clusters.select(col("doc_id"), col("cluster_id"))
      .join(quality.select(col("doc_id"), col("quality")), "doc_id")
    // argmax(quality) with min-doc_id tie-break via one struct max:
    // (quality, -doc_id) orders ties toward the SMALLEST id
    val keepers = joined.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg"))).as("m"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_id"), (-col("m.neg")).as("keeper_id"), col("n_docs"))
    joined.join(keepers, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"), col("n_docs"))
  }

  /** q79: the dedup DECISION step — q62's clusters composed with q32's
    * quality score to pick each cluster's keeper by HIGHEST quality
    * (doc_id asc on ties), not lowest id: real pipelines keep the best
    * duplicate, not the first-crawled one. Emits every document with its
    * cluster, the cluster's keeper, the retention verdict, and cluster
    * size; the downstream filter is `is_keeper`.
    *
    * Scale shape: cluster labels and per-doc quality join on doc_id
    * (map-side vs the cluster output's partitioning); the keeper argmax
    * is one struct-max aggregation per cluster (partial map-side, no
    * window sort), joined back on cluster_id. */
  def clusterKeepers(spark: SparkSession, dir: String): DataFrame =
    clusterKeepersFrom(dupClusters(spark, dir),
      TextAnalysis.qualityScore(spark, dir))

  /** q103: PageRank over the near-dup graph — centrality as a dedup /
    * curation signal (the most-connected member of a duplicate
    * neighborhood is the canonical one; fringe members are candidates
    * for dropping). Five fixed iterations of
    * `r' = 0.15 + 0.85 * sum(r(u)/deg(u))`, computed ENTIRELY in
    * integers on a 1e6 scale: per-node contribution is `r div deg`,
    * damping is `(85 * s) div 100`, so every engine lands on identical
    * longs — no float sum-order divergence, which is what normally
    * makes iterative float algorithms un-gateable across engines.
    *
    * Scale shape: the edge list (symmetrized near-dup pairs) is
    * computed once and localCheckpointed — the five rank joins reuse
    * the materialized relation instead of re-running the simhash
    * pipeline per round. Each round is one hash join (ranks ⋈ edges on
    * src — ranks is |V|-sized, edges pre-shuffled) plus one partial-
    * agged sum by dst. Rank state never exceeds one row per node. */
  def pageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankOn(Dedup.simhashPairs(spark, dir).select(
      col("doc_a"), col("doc_b")))

  /** Testable core over any undirected `(doc_a, doc_b)` pair relation.
    *
    * The five rounds run on a [[Loop]] session. Unlike CC there is no
    * convergence probe, so the rounds need NO per-round action or
    * checkpoint: the whole recurrence is ONE lazy plan over the
    * once-materialized edge relation, executed as a single job — fixed
    * 5-round unrolling is what makes that safe (plan depth is constant,
    * not data-dependent). */
  private[graft] def pageRankOn(pairs0: DataFrame): DataFrame =
    Loop.run(pairs0.sparkSession) { loop =>
      import loop.spark.implicits._
      // materialize the PAIR relation once: the hybrid-size probe and the
      // symmetrizing union both read it (the union's two branches would
      // otherwise each re-run the upstream pair pipeline)
      val pairs = Ckpt(loop.on(pairs0).toDF("doc_a", "doc_b"), eager = false)
      val m = pairs.count()
      if (loop.fitsOneTask(m)) {
        // the connectedComponents hybrid discipline: the five integer
        // rounds on a bounded pair relation are pure scheduler latency
        // distributed — run them in one task, identical arithmetic
        val nodeType = pairs.schema.fields(0).dataType
        pairs.select($"doc_a".cast("long"), $"doc_b".cast("long"))
          .as[(Long, Long)].coalesce(1)
          .mapPartitions(it => localPageRank(it))
          .toDF("doc_id", "rank_q")
          .select($"doc_id".cast(nodeType).as("doc_id"), $"rank_q")
      } else {
        val edges = Ckpt(pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
          .unionByName(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))),
          eager = false)
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        // pre-partitioned on the per-round join key so the five rank joins
        // reuse one exchange of the edge relation
        val withDeg = Ckpt(edges.join(deg, "src").repartition(loop.parts, $"src"),
          eager = false)
        var ranks = deg.select($"src".as("node"), lit(1000000L).as("r"))
        for (_ <- 1 to 5) {
          ranks = withDeg.join(ranks, $"node" === $"src")
            .select($"dst", expr("r div deg").as("contrib"))
            .groupBy($"dst").agg(sum($"contrib").as("s"))
            .select($"dst".as("node"),
              expr("150000 + (85 * s) div 100").as("r"))
        }
        ranks.select($"node".as("doc_id"), $"r".as("rank_q"))
      }
    }

  /** Single-task q103 kernel: identical integer recurrence
    * (`r' = 150000 + (85 * Σ r div deg) div 100` over the symmetric
    * closure with multiplicity) — exact long arithmetic, so sum order
    * is irrelevant and the output matches the distributed plan bit for
    * bit. */
  private def localPageRank(it: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    import scala.collection.mutable
    val pairs = it.toArray
    val deg = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    pairs.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    var ranks = mutable.HashMap.empty[Long, Long]
    deg.keysIterator.foreach(n => ranks(n) = 1000000L)
    for (_ <- 1 to 5) {
      val s = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      pairs.foreach { case (a, b) =>
        s(b) += ranks(a) / deg(a)
        s(a) += ranks(b) / deg(b)
      }
      val next = mutable.HashMap.empty[Long, Long]
      s.foreach { case (n, v) => next(n) = 150000L + (85L * v) / 100L }
      ranks = next
    }
    ranks.iterator
  }

  /** q324: personalized PageRank (PPR) from the 3 lowest-id documents
    * of the near-dup graph — the ATTRIBUTION twin of q103's global
    * rank: "which documents does the duplication structure connect to
    * THIS one, and how strongly?" (random walk with 0.15 restart at
    * the seed; the standard provenance/influence primitive on a dedup
    * graph). Top-10 per seed.
    *
    * Determinism: q103's integer milli-ppm lattice per (seed, node) —
    * r₀ = 10⁶ at the seed; each round propagates (85·Σ r div deg)
    * div 100 and re-injects 150000 at the seed via a union (a node
    * with no in-mass this round simply has no row = 0); trunc-div on
    * nonnegative longs everywhere, 5 unrolled rounds, no float.
    *
    * Scale shape: q103's exact loop discipline — edges symmetrized +
    * degree-joined once, Ckpt'd, pre-partitioned on the join key;
    * rounds are one hash-join + partial agg each over (seed × frontier)
    * rows, all three seeds ride the SAME plan (seed is just a key
    * column); fixed unrolling keeps the whole recurrence one lazy
    * plan, one job. */
  def pprSeeds(spark: SparkSession, dir: String): DataFrame =
    pprSeedsOn(Dedup.simhashPairs(spark, dir).select(
      col("doc_a"), col("doc_b")))

  /** Testable core over any undirected `(doc_a, doc_b)` pair relation. */
  private[graft] def pprSeedsOn(pairs0: DataFrame): DataFrame =
    Loop.run(pairs0.sparkSession) { loop =>
      import loop.spark.implicits._
      // pair relation materialized once (size probe + both union branches)
      val pairs = Ckpt(loop.on(pairs0).toDF("doc_a", "doc_b"), eager = false)
      val m = pairs.count()
      val ranks: DataFrame = if (loop.fitsOneTask(m)) {
        // one-task kernel for the five (seed x frontier) integer rounds;
        // the top-10 window below stays in Spark so every ordering /
        // tie-break semantic is shared with the distributed branch
        pairs.select($"doc_a".cast("long"), $"doc_b".cast("long"))
          .as[(Long, Long)].coalesce(1)
          .mapPartitions(it => localPpr(it))
          .toDF("seed", "node", "r")
      } else {
        val edges = Ckpt(pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
          .unionByName(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))),
          eager = false)
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        val withDeg = Ckpt(edges.join(deg, "src").repartition(loop.parts, $"src"),
          eager = false)
        val seeds = deg.select($"src").orderBy($"src".asc).limit(3)
          .as[Long].collect().sorted.toSeq
        val seedDf = seeds.map(s => (s, s, 1000000L))
          .toDF("seed", "node", "r")
        val restart = seeds.map(s => (s, s, 150000L))
          .toDF("seed", "node", "r")
        var rk = seedDf
        for (_ <- 1 to 5) {
          val prop = withDeg.join(rk, $"node" === $"src")
            .select($"seed", $"dst", expr("r div deg").as("contrib"))
            .groupBy($"seed", $"dst")
            .agg(sum($"contrib").as("s"))
            .select($"seed", $"dst".as("node"),
              expr("(85 * s) div 100").as("r"))
          rk = prop.unionByName(restart)
            .groupBy($"seed", $"node").agg(sum($"r").as("r"))
        }
        rk
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"seed").orderBy($"r".desc, $"node".asc)
      ranks
        .withColumn("rk", row_number().over(w))
        .where($"rk" <= 10)
        .select($"seed", $"rk".cast("long").as("rk"),
          $"node".as("doc_id"), $"r".as("rank_q"))
    }

  /** Single-task q324 kernel: the identical per-(seed, node) integer
    * recurrence — propagate `(85 · Σ r div deg) div 100`, re-inject
    * 150000 at the seed, absent row = 0 — over the symmetric closure
    * with multiplicity. Seeds = 3 lowest node ids, as the distributed
    * branch's `orderBy(src).limit(3)`. Emits the full final (seed,
    * node, r) relation; ranking stays in Spark. */
  private def localPpr(it: Iterator[(Long, Long)])
      : Iterator[(Long, Long, Long)] = {
    import scala.collection.mutable
    val pairs = it.toArray
    val deg = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    pairs.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val seeds = deg.keys.toArray.sorted.take(3)
    var ranks = mutable.HashMap.empty[(Long, Long), Long]
    seeds.foreach(s => ranks((s, s)) = 1000000L)
    for (_ <- 1 to 5) {
      val s = mutable.HashMap.empty[(Long, Long), Long].withDefaultValue(0L)
      pairs.foreach { case (a, b) =>
        var i = 0
        while (i < seeds.length) {
          val sd = seeds(i)
          ranks.get((sd, a)).foreach(r => s((sd, b)) += r / deg(a))
          ranks.get((sd, b)).foreach(r => s((sd, a)) += r / deg(b))
          i += 1
        }
      }
      val next = mutable.HashMap.empty[(Long, Long), Long]
      s.foreach { case (k, v) => next(k) = (85L * v) / 100L }
      seeds.foreach { sd =>
        next((sd, sd)) = next.getOrElse((sd, sd), 0L) + 150000L }
      ranks = next
    }
    ranks.iterator.map { case ((sd, n), r) => (sd, n, r) }
  }

  /** q325: label-propagation community detection (Raghavan et al.
    * 2007) over the near-dup graph — the finer-than-CC structure
    * detector: CC (q62) answers "transitively connected at all?", LPA
    * communities split a weak bridge between two dense clusters that
    * CC necessarily merges. 4 synchronous rounds, every node adopts
    * its neighborhood's plurality label.
    *
    * Determinism: labels start as node ids; each round's adoption is
    * an exact (count desc, label asc) argmax — integer counts, integer
    * labels, both engines walk identical label states (synchronous
    * update dodges the asynchronous-LPA order-dependence by design).
    *
    * Scale shape: rides the q103 loop discipline (Ckpt'd symmetric
    * edges, AQE-off cloned session, fixed unrolling = one lazy plan);
    * each round is one join + one partial-agged group + one bounded
    * per-node window. Census output is community-count-sized. */
  def lpaCommunities(spark: SparkSession, dir: String): DataFrame =
    lpaCommunitiesOn(Dedup.simhashPairs(spark, dir).select(
      col("doc_a"), col("doc_b")))

  /** Testable core over any undirected `(doc_a, doc_b)` pair relation. */
  private[graft] def lpaCommunitiesOn(pairs0: DataFrame): DataFrame =
    Loop.run(pairs0.sparkSession) { loop =>
      import loop.spark.implicits._
      // pair relation materialized once (size probe + both union branches)
      val pairs = Ckpt(loop.on(pairs0).toDF("doc_a", "doc_b"), eager = false)
      val m = pairs.count()
      val labelsOut: DataFrame = if (loop.fitsOneTask(m)) {
        // one-task kernel for the four synchronous plurality rounds; the
        // census aggregation below stays in Spark
        pairs.select($"doc_a".cast("long"), $"doc_b".cast("long"))
          .as[(Long, Long)].coalesce(1)
          .mapPartitions(it => localLpa(it))
          .toDF("node", "label")
      } else {
        val edges = Ckpt(pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
          .unionByName(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))),
          eager = false)
        var labels = edges.select($"src".as("node")).distinct()
          .select($"node", $"node".as("label"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"node").orderBy($"c".desc, $"lb".asc)
        for (_ <- 1 to 4) {
          labels = edges.join(labels, $"node" === $"src")
            .groupBy($"dst", $"label")
            .agg(count(lit(1)).as("c"))
            .select($"dst".as("node"), $"label".as("lb"), $"c")
            .withColumn("rk", row_number().over(w))
            .where($"rk" === 1)
            .select($"node", $"lb".as("label"))
        }
        labels
      }
      labelsOut.groupBy($"label".as("community"))
        .agg(count(lit(1)).as("n_members"), min($"node").as("min_node"))
    }

  /** Single-task q325 kernel: 4 synchronous plurality-label rounds
    * over the symmetric closure with multiplicity, exact
    * (count desc, label asc) argmax — identical label states to the
    * distributed rounds. Emits the final (node, label) relation. */
  private def localLpa(it: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    import scala.collection.mutable
    val pairs = it.toArray
    var labels = mutable.HashMap.empty[Long, Long]
    pairs.foreach { case (a, b) => labels(a) = a; labels(b) = b }
    for (_ <- 1 to 4) {
      val c = mutable.HashMap.empty[(Long, Long), Long].withDefaultValue(0L)
      pairs.foreach { case (a, b) =>
        c((b, labels(a))) += 1
        c((a, labels(b))) += 1
      }
      val best = mutable.HashMap.empty[Long, (Long, Long)] // node -> (c, label)
      c.foreach { case ((n, lb), cnt) =>
        best.get(n) match {
          case Some((bc, bl)) =>
            if (cnt > bc || (cnt == bc && lb < bl)) best(n) = (cnt, lb)
          case None => best(n) = (cnt, lb)
        }
      }
      val next = mutable.HashMap.empty[Long, Long]
      best.foreach { case (n, (_, lb)) => next(n) = lb }
      labels = next
    }
    labels.iterator
  }

  /** q127: triangle count per node over the supplier co-occurrence graph
    * (suppliers sharing >= 3 distinct orders are adjacent) — the classic
    * distributed graph kernel for community density, here the "vendors
    * that ship together" structure of the star schema.
    *
    * Enumeration is the ordered-wedge algorithm: with edges canonical
    * (u < v), wedge (x<y<z) closes iff (x,z) is an edge — each triangle
    * is generated exactly once, and per-node counts come from exploding
    * the 3 corners (orientation-invariant, so the oracle may enumerate
    * any way it likes). At 100 TB the id-order orientation is replaced
    * by DEGREE order (rank by (deg, id)): every edge then points from
    * the lower-degree endpoint, bounding wedge fan-out by arboricity
    * (Suri & Vassilvitskii, WWW'11) instead of by the hottest vertex;
    * same output, and the closure join stays an equality hash join.
    *
    * Scale shape: the corpus-sized work is one distinct + self-join on
    * orderkey with per-order fan-out bounded by items-per-order; the
    * wedge/closure joins run on the filtered EDGE relation (>= 3 shared
    * orders), which is orders of magnitude smaller. */
  def supplierTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.rebalance(spark, dir, "lineitem",
      Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")), $"ok")
      .distinct()
    trianglesOn(li.as("a").join(li.as("b"), $"a.ok" === $"b.ok" && $"a.sk" < $"b.sk")
      .groupBy($"a.sk".as("u"), $"b.sk".as("v"))
      .agg(count(lit(1)).as("n_ord"))
      .where($"n_ord" >= 3)
      .select($"u", $"v"))
  }

  /** Strategy knob for [[trianglesOn]]: "true" switches the adjacency
    * from a driver broadcast to the degree-ordered shuffled join — the
    * web-scale path, for graphs whose vertex relation does not fit one
    * executor's memory or whose id order leaves a megahub with a huge
    * forward list. */
  val TriShuffleConf = "spark.graft.triangles.shuffleAdjacency"

  /** Wedge + closure enumeration over a canonical (u < v) edge list.
    *
    * Runs AQE-off on a cloned session at FULL shuffle width: the edge
    * relation is kilobytes, so AQE coalesces its exchanges down to a
    * handful of partitions — correct by bytes, wrong for a join whose
    * OUTPUT explodes (wedges are quadratic in degree). Measured at
    * sf0.1: the wedge stage ran 12s of CPU on 6 AQE-coalesced tasks
    * (2.1s wall); at width 32 the same CPU spreads to ~0.5s. Unlike
    * the CC/PageRank loops this clone WIDENS rather than narrows —
    * same isolation discipline, opposite knob.
    *
    * EDGE-ITERATOR enumeration (Chiba–Nishizeki shape), not wedge-join:
    * a wedge join materializes every OPEN wedge (~10M rows / 62s CPU at
    * sf0.1) only to discard the unclosed ones. Instead each edge
    * intersects the two forward-adjacency lists — a common neighbor ⇒ a
    * triangle found exactly once, at its lowest edge — so the only
    * exploded rows are actual triangles. Per-node counts credit the 3
    * corners, which is orientation-INVARIANT: any total order on nodes
    * yields the same counts, which is what lets the two strategies
    * below coexist (and the oracle enumerate its own way).
    *
    * Two adjacency strategies ([[TriShuffleConf]]):
    *  - broadcast + id order (default): the |nodes|-row adjacency
    *    relation broadcasts to every executor; right while it fits in
    *    memory (dimension-sized co-occurrence graphs like q127's).
    *  - shuffled + DEGREE order ("true"): rank nodes by (deg, id),
    *    orient every edge low→high in that order, and attach both
    *    forward lists via co-partitioned hash joins. Degree orientation
    *    bounds every forward list by O(arboricity) = O(√m) (Suri &
    *    Vassilvitskii, WWW'11; Chiba–Nishizeki) — a 10⁴-degree megahub
    *    sits LAST in the order, so its edges all point in and its own
    *    list stays tiny, where id order could hand it a 10⁴-element
    *    list intersected per edge. Nothing broadcasts; memory per task
    *    is bounded rows × bounded lists. */
  private[graft] def trianglesOn(edges0: DataFrame): DataFrame = {
    val caller = edges0.sparkSession
    val shuffleAdj = caller.conf.getOption(TriShuffleConf).exists(_.toBoolean)
    Loop.run(caller, Some(caller.sparkContext.defaultParallelism)) { loop =>
      import loop.spark.implicits._
      // feeds the adjacency build and the per-edge probe — materialize once
      val e = Ckpt(loop.on(edges0), eager = false)
      val probe =
        if (!shuffleAdj) {
          // |nodes| rows; checkpointed so the TWO broadcast legs below
          // don't each re-run the adjacency aggregation
          val adj = Ckpt(e.groupBy($"u").agg(sort_array(collect_list($"v")).as("nb")),
            eager = false)
          e.join(broadcast(adj.select($"u".as("__u"), $"nb".as("nb_u"))), $"u" === $"__u")
            .join(broadcast(adj.select($"u".as("__v"), $"nb".as("nb_v"))), $"v" === $"__v", "left")
            .select($"u", $"v",
              array_intersect($"nb_u", coalesce($"nb_v", array().cast("array<bigint>")))
                .as("common"))
        } else {
          // degree-ordered orientation: a < b iff (deg,id) smaller
          val deg = e.select($"u".as("n")).unionByName(e.select($"v".as("n")))
            .groupBy($"n").agg(count(lit(1)).as("dg"))
          val oriented = Ckpt(e
            .join(deg.select($"n".as("u"), $"dg".as("du")), "u")
            .join(deg.select($"n".as("v"), $"dg".as("dv")), "v")
            .select(
              when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
                struct($"u".as("x"), $"v".as("y")))
                .otherwise(struct($"v".as("x"), $"u".as("y"))).as("o"))
            .select($"o.x".as("a"), $"o.y".as("b")), eager = false)
          // forward lists bounded by arboricity; SHUFFLED equi-joins, no
          // broadcast — the adjacency never has to fit on one executor
          val adj = Ckpt(oriented.groupBy($"a")
            .agg(sort_array(collect_list($"b")).as("nb")), eager = false)
          oriented
            .join(adj.select($"a".as("__a"), $"nb".as("nb_a")), $"a" === $"__a")
            .join(adj.select($"a".as("__b"), $"nb".as("nb_b")), $"b" === $"__b", "left")
            .select($"a".as("u"), $"b".as("v"),
              array_intersect($"nb_a", coalesce($"nb_b", array().cast("array<bigint>")))
                .as("common"))
        }
      // corner credit: u and v get one per common neighbor, each w gets 1
      val corners = probe
        .select(explode(concat(
          array(struct($"u".as("n"), size($"common").cast("long").as("c")),
            struct($"v".as("n"), size($"common").cast("long").as("c"))),
          transform($"common", w => struct(w.as("n"), lit(1L).as("c"))))).as("s"))
        .select($"s.n".as("supp"), $"s.c".as("c"))
      // EAGER checkpoint: the enumeration job must run on THIS session
      // (AQE off, full width) — a lazy plan rebound to the caller would
      // re-plan under the caller's AQE and re-coalesce the kilobyte
      // exchanges below the width the probe stage's CPU needs
      Ckpt(corners.groupBy($"supp").agg(sum($"c").as("n_tri"))
        .where($"n_tri" > 0))
    }
  }

  /** q184: HITS hubs & authorities (Kleinberg 1999) on the bipartite
    * customer→supplier purchase graph (distinct (custkey, suppkey)
    * pairs from lineitem⋈orders): three mutual-reinforcement rounds —
    * authority(s) = Σ hub(c) over buyers, hub(c) = Σ authority(s) over
    * suppliers bought from — with INTEGER max-renormalization each
    * half-round (x′ = x·10⁶ div max x), so every engine lands on
    * identical longs (the q103 integer-exact-iteration recipe; float
    * HITS would diverge across sum orders). Output: top-10 authorities
    * and top-10 hubs with scores.
    *
    * Scale shape: the corpus-sized work is one distinct projection of
    * lineitem⋈orders; the loop then runs in the q62/q103 discipline —
    * AQE-off cloned session at loop width, the edge relation
    * checkpointed TWICE (pre-partitioned on each alternating join
    * key), and each half-round's raw sums localCheckpointed BEFORE the
    * max broadcast (the sums feed both the max and the renorm — an
    * unmaterialized plan would evaluate twice per half-round and the
    * lineage would grow geometrically across rounds: measured 11.4 s →
    * 1.8 s warm at sf0.1). Magnitudes: score ≤ 10⁶·max-degree, so the
    * ·10⁶ renorm product stays in long up to ~10⁶-degree nodes; beyond
    * that, route the renorm through decimal(38,0). Top-k is
    * TakeOrderedAndProject, never a global sort. */
  def hitsBipartite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hitsOn(Tables.rebalance(spark, dir, "lineitem",
        Tables.lineitem(spark, dir), $"l_orderkey")
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_suppkey".as("supp"))
      .distinct())
  }

  private[graft] def hitsOn(pairs0: DataFrame): DataFrame =
    Loop.run(pairs0.sparkSession) { loop =>
      import loop.spark.implicits._
      // interaction relation materialized ONCE: the hybrid-size probe and
      // (on the distributed path) BOTH per-key repartitions read it — the
      // two Ckpts used to each re-run the upstream distinct pipeline
      val pairs = Ckpt(loop.on(pairs0).toDF("cust", "supp"), eager = false)
      val m = pairs.count()
      val (auth, hub) = if (loop.fitsOneTask(m)) {
        // one-task kernel for the 6 integer half-rounds (each half-round
        // distributed costs a checkpoint job + a max-aggregate job on a
        // KB-sized relation); the top-10 cuts stay in Spark
        val scores = Ckpt(pairs.select($"cust".cast("long"), $"supp".cast("long"))
          .as[(Long, Long)].coalesce(1)
          .mapPartitions(it => localHits(it))
          .toDF("role", "node", "score"), eager = false)
        (scores.where($"role" === "authority")
           .select($"node".as("supp"), $"score".as("a")),
         scores.where($"role" === "hub")
           .select($"node".as("cust"), $"score".as("h")))
      } else {
        val edgesByCust = Ckpt(pairs.repartition(loop.parts, $"cust"), eager = false)
        val edgesBySupp = Ckpt(pairs.repartition(loop.parts, $"supp"), eager = false)
        var hubD = edgesByCust.select($"cust").distinct()
          .select($"cust", lit(1000000L).as("h"))
        var authD: DataFrame = null
        for (_ <- 1 to 3) {
          val a = Ckpt(edgesByCust.join(hubD, "cust")
            .groupBy($"supp").agg(sum($"h").as("a")), eager = false)
          val amax = a.agg(max($"a").as("amax"))
          authD = a.crossJoin(broadcast(amax))
            .select($"supp", expr("(a * 1000000) div amax").as("a"))
          val h = Ckpt(edgesBySupp.join(authD, "supp")
            .groupBy($"cust").agg(sum($"a").as("h")), eager = false)
          val hmax = h.agg(max($"h").as("hmax"))
          hubD = h.crossJoin(broadcast(hmax))
            .select($"cust", expr("(h * 1000000) div hmax").as("h"))
        }
        (authD, hubD)
      }
      val topAuth = auth.orderBy($"a".desc, $"supp".asc).limit(10)
        .select(lit("authority").as("role"), $"supp".as("node_id"),
          $"a".as("score"))
      val topHub = hub.orderBy($"h".desc, $"cust".asc).limit(10)
        .select(lit("hub").as("role"), $"cust".as("node_id"),
          $"h".as("score"))
      topAuth.unionByName(topHub)
    }

  /** Single-task q184 kernel: the identical 3-round integer HITS —
    * authority(s) = Σ hub over buyers, hub(c) = Σ authority over
    * suppliers, each half-round max-renormalized `x·10⁶ div max` —
    * exact longs, so sum order is irrelevant. Emits BOTH full score
    * tables tagged by role; the top-10 cuts stay in Spark. */
  private def localHits(it: Iterator[(Long, Long)])
      : Iterator[(String, Long, Long)] = {
    import scala.collection.mutable
    val pairs = it.toArray
    if (pairs.isEmpty) return Iterator.empty
    var hub: mutable.Map[Long, Long] = mutable.HashMap.empty[Long, Long]
    pairs.foreach { case (c, _) => hub(c) = 1000000L }
    var auth: mutable.Map[Long, Long] = mutable.HashMap.empty[Long, Long]
    for (_ <- 1 to 3) {
      val a = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      pairs.foreach { case (c, s) => a(s) += hub(c) }
      val amax = a.values.max
      auth = a.map { case (k, v) => k -> (v * 1000000L) / amax }
      val h = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      pairs.foreach { case (c, s) => h(c) += auth(s) }
      val hmax = h.values.max
      hub = h.map { case (k, v) => k -> (v * 1000000L) / hmax }
    }
    auth.iterator.map { case (s, v) => ("authority", s, v) } ++
      hub.iterator.map { case (c, v) => ("hub", c, v) }
  }

  /** q202: item-item collaborative filtering over the purchase graph —
    * "customers who bought from s also bought from t": cosine
    * similarity between suppliers' binary customer vectors, computed
    * posting-list-style (the q90 tf-cosine shape on the interaction
    * matrix): co-occurrence counts come from the per-customer self-
    * join (work = Σ_c deg(c)², the classic item-CF bound), supplier
    * degrees from one aggregation over the FULL interaction set, and
    * sim_ppm = floor(c_ab/√(d_a·d_b)·10⁶ + 1/3) with the √ the only
    * float in the operator. Top-3 neighbors per supplier by
    * (sim, suppkey).
    *
    * Hot-customer cap (the q50 salting analog, IMPLEMENTED): a
    * power-law mega-customer would alone contribute deg² pairs in one
    * task, so customers with more than [[ItemCfDegCap]] = 64 distinct
    * suppliers are EXCLUDED from pair generation (their interactions
    * still count toward the cosine denominators). This is the standard
    * item-CF frequent-rater cut — a user who buys everything carries
    * ~zero collaborative signal per pair while costing quadratic work;
    * per-task pair work is bounded by D²·(customers per task). The
    * oracle SQL applies the identical cut. At the test SFs the cap
    * never binds at sf0.001 (max degree 10), trims 2 customers at
    * sf0.01 (max 67) and the top ~3% at sf0.1 (max 102) — so the gate
    * exercises both the capped and uncapped regimes.
    *
    * Scale shape: interactions dedup ONCE and are hash-partitioned by
    * custkey + localCheckpointed, so the degree agg, the cap agg, and
    * both sides of the pair self-join reuse one materialization with
    * zero re-scan and a co-partitioned (shuffle-free) self-join; the
    * pair groupBy is partial-agged; the degree joins carry NO
    * broadcast hint — AQE broadcasts the |catalog|-sized relation at
    * toy scale, and falls back to a shuffle join when the catalog is
    * 10⁸ items (a forced broadcast there is an OOM); the top-3 cut is
    * a rank window inside the supplier partitioning. */
  val ItemCfDegCap = 64L

  def itemCf(spark: SparkSession, dir: String): DataFrame =
    itemCfOn(spark, dir, Some(ItemCfDegCap))

  /** Co-occurrence counts `(s_a, s_b, c_ab)` from a `(custkey, suppkey)`
    * interaction relation — the pair self-join + reduce at the heart of
    * [[itemCfOn]], exposed for its plan-shape spec and the ScaleSmoke
    * hot-pair axis (the reduce hides behind the `sims` checkpoint in the
    * full query plan). A single-phase groupBy — see the measured
    * rationale at the itemCfOn call site. */
  private[graft] def itemCfCoCounts(capped: DataFrame): DataFrame = {
    val spark = capped.sparkSession
    import spark.implicits._
    capped.as("a").join(capped.as("b"),
        $"a.custkey" === $"b.custkey" && $"a.suppkey" < $"b.suppkey")
      .select($"a.suppkey".as("s_a"), $"b.suppkey".as("s_b"))
      .groupBy($"s_a", $"s_b").agg(count(lit(1)).as("c_ab"))
  }

  /** itemCf with an optional cap — `cap = None` is the UNCAPPED variant
    * kept only so ScaleSmoke's megacust mode can demonstrate what the
    * cap buys (never registered as a query). */
  def itemCfOn(spark: SparkSession, dir: String,
      cap: Option[Long]): DataFrame = {
    import spark.implicits._
    val inter = Ckpt(Tables.rebalance(spark, dir, "lineitem",
        Tables.lineitem(spark, dir), $"l_orderkey")
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("custkey"), $"l_suppkey".as("suppkey"))
      .distinct()
      .repartition($"custkey"), eager = false)
    val deg = inter.groupBy($"suppkey").agg(count(lit(1)).as("d"))
    // cap: customers over the degree bound never enter pair generation
    val capped = cap match {
      case Some(d) =>
        val keep = inter.groupBy($"custkey").agg(count(lit(1)).as("cd"))
          .where($"cd" <= d)
          .select($"custkey")
        inter.join(keep, "custkey")
      case None => inter
    }
    // Co-occurrence reduce: single-phase groupBy + count. A two-phase
    // SALTED shape (guide §2.5 / the q50 saltedAgg machinery) was
    // MEASURED WORSE on a planted hot pair (4096 map tasks, one pair
    // shared by 300k customers; ScaleSmoke `hotpair` still reports the
    // single-phase pile-up): map-side partial aggregation already collapses a hot
    // key to ≤1 row per map task, so the unsalted hot reducer reads
    // ~M partial rows (M = map tasks; 16 MB even at M = 10⁶), while the
    // salt DEFEATS that collapse — hotpair read max-task 4726 rows
    // single-phase vs 12969 salted-32 (and q202 wall 2.84 → 3.74 s at
    // sf0.1 under a forced 16-way salt). Two-phase salting is for
    // aggregations whose partials cannot collapse (collect_list,
    // distinct-agg, groupByKey); a count reduce is its own phase 1.
    val co = itemCfCoCounts(capped)
    // the directed union below reads sims TWICE — unmaterialized, each
    // branch re-ran the full co-occurrence reduce + degree joins (the
    // stage log showed the reduce reading 2x the pair shuffle at ~90 s
    // CPU); |supplier-pair| rows checkpoint once instead
    val sims = Ckpt(co
      .join(deg.select($"suppkey".as("s_a"), $"d".as("d_a")), "s_a")
      .join(deg.select($"suppkey".as("s_b"), $"d".as("d_b")), "s_b")
      .withColumn("sim_ppm", floor($"c_ab".cast("double")
        / sqrt($"d_a".cast("double") * $"d_b".cast("double"))
        * 1e6 + lit(1.0 / 3)).cast("long")), eager = false)
    // symmetric neighbor lists: each pair feeds both directions
    val directed = sims.select($"s_a".as("item"), $"s_b".as("neighbor"),
        $"sim_ppm", $"c_ab")
      .unionByName(sims.select($"s_b".as("item"), $"s_a".as("neighbor"),
        $"sim_ppm", $"c_ab"))
    val w = Window.partitionBy($"item")
      .orderBy($"sim_ppm".desc, $"neighbor".asc)
    directed.withColumn("rk", row_number().over(w).cast("long"))
      .where($"rk" <= 3)
      .select($"item", $"rk", $"neighbor", $"c_ab", $"sim_ppm")
  }

  /** q230: 2-core of the near-dup graph — the densely-interconnected
    * duplicate groups after iteratively peeling degree-1 stragglers
    * (Matula–Beck core decomposition, k=2). A CC cluster (q62) lumps a
    * chain of borderline pairs in with a tight clique; the core strips
    * the chain, leaving the documents whose duplication is corroborated
    * by ≥2 independent neighbors — the "definitely duplicated" set a
    * conservative dedup policy acts on first. Output: surviving docs
    * with their within-core degree.
    *
    * The peel is the repo's third iterative fixpoint shape (after CC's
    * label propagation and Lloyd's codebook refinement): per round one
    * degree aggregation + two semi-joins, lineage truncated through
    * [[Ckpt]] (durable under `spark.graft.checkpointDir`), superseded
    * rounds released, early exit when a round removes nothing — and the
    * convergence TAIL finished in one task once the edge set is under
    * the [[kCoreOn]] cutoff (see there for the overhead measurement
    * motivating the hybrid). Rounds
    * are capped at 8 to stay aligned with the oracle's unrolled CTEs —
    * peeling is idempotent at the fixpoint, so early exit and the
    * oracle's fixed 8 agree whenever convergence happens in ≤ 8 (the
    * spec asserts it does; a non-converged exit throws rather than
    * returning a non-core). Cascade depth is bounded by the longest
    * degree-1 chain, 2-3 on real dup graphs. */
  def dupCore(spark: SparkSession, dir: String): DataFrame =
    kCoreOn(Dedup.simhashPairs(spark, dir).select(col("doc_a"), col("doc_b")),
      k = 2, maxRounds = 8)

  /** Testable core: k-core of an undirected (a, b) pair relation.
    *
    * Hybrid peel: DISTRIBUTED rounds (degree agg + two semi-joins, Ckpt
    * lineage truncation) only while the oriented edge set exceeds the
    * one-task cutoff ([[Loop.CutoffConf]]); once it fits one task, the
    * remaining cascade runs as a single-task `mapPartitions` Matula–Beck
    * peel. The convergence
    * tail of an iterative peel is where per-round scheduler overhead
    * dominates — real dup graphs spend 1-2 rounds peeling 99% of the
    * volume and then 3-5 rounds chasing a shrinking chain; paying a full
    * job per tail round is pure fixed cost (measured 6×~0.5 s at sf0.1
    * for a 50k-edge graph). The same shape is right at 100 TB: the first
    * rounds run distributed, and by the time the edge set is under the
    * cutoff (4M orientations ≈ 64 MB) one executor task finishes it in
    * milliseconds. The k-core is the unique maximal subgraph with min
    * degree ≥ k, so the split point cannot change the answer; the local
    * phase peels in SYNCHRONOUS rounds (collect the sub-k set, then
    * remove it) sharing the distributed `maxRounds` budget, preserving
    * the oracle's unrolled-round alignment and the throw-on-non-
    * convergence contract. */
  private[graft] def kCoreOn(pairs: DataFrame, k: Int, maxRounds: Int)
      : DataFrame = Loop.run(pairs.sparkSession) { loop =>
    import loop.spark.implicits._
    // materialize the PAIR relation once before orienting: the union's
    // two branches would otherwise each evaluate the (often expensive)
    // upstream pair pipeline — measured 2× the simhash-band join cost on
    // q230 before this truncation
    val p = Ckpt(loop.on(pairs).toDF("a", "b"), eager = false)
    var edges = Ckpt(
      p.union(p.select($"b".as("a"), $"a".as("b"))), eager = false)
    // materializes the checkpoint and sizes the first routing decision
    var m = edges.count()
    Ckpt.release(p) // the union was p's only consumer
    var round = 0
    var converged = false
    while (!converged && !loop.fitsOneTask(m)) {
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"kCore did not converge in $maxRounds rounds (raise maxRounds)")
      val alive = edges.groupBy($"a").agg(count(lit(1)).as("c"))
        .where($"c" >= k).select($"a".as("u"))
      // both endpoints must survive; semi-joins keep the edge row narrow
      val next = Ckpt(edges
        .join(alive, $"a" === $"u", "left_semi")
        .join(alive.select($"u".as("u2")), $"b" === $"u2", "left_semi"),
        eager = false)
      // the count is the round's one action: it materializes the lazy
      // checkpoint AND answers "did anything peel"
      val mNext = next.count()
      Ckpt.release(edges)
      edges = next
      converged = mNext == m
      m = mNext
      round += 1
    }
    if (converged)
      edges.groupBy($"a").agg(count(lit(1)).as("core_deg"))
        .select($"a".as("doc_id"), $"core_deg")
    else {
      val budget = maxRounds - round
      edges.select($"a".cast("long"), $"b".cast("long")).as[(Long, Long)]
        .coalesce(1) // one task reading the checkpoint blocks, no shuffle
        .mapPartitions(it => localKCore(it, k, budget))
        .toDF("doc_id", "core_deg")
    }
  }

  /** Single-task synchronous peel of an oriented edge iterator: each
    * round removes EVERY node whose current degree < k (degrees frozen
    * at round start — the exact semantics of the distributed
    * alive-filter round), until a round removes nothing. Output:
    * (node, within-core degree) for survivors. Throws past `maxRounds`
    * like the distributed loop, keeping the unrolled-oracle alignment. */
  private def localKCore(it: Iterator[(Long, Long)], k: Int, maxRounds: Int)
      : Iterator[(Long, Long)] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    it.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.HashSet.empty[Long]) += b
    }
    var converged = false
    var round = 0
    while (!converged) {
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"kCore did not converge in $maxRounds rounds (raise maxRounds)")
      val peel = adj.iterator.collect { case (u, s) if s.size < k => u }.toArray
      if (peel.isEmpty) converged = true
      else peel.foreach { u =>
        adj(u).foreach(nb => adj.get(nb).foreach(_ -= u))
        adj.remove(u)
      }
      round += 1
    }
    adj.iterator.map { case (u, s) => (u, s.size.toLong) }
  }

  /** q235: degree assortativity of the near-dup graph — the Pearson
    * correlation of endpoint degrees over edges (Newman 2002). Positive
    * r: high-degree docs pair with other high-degree docs (template
    * families form a dense core — peel them with q230's k-core);
    * negative r: hubs attach to leaves (one boilerplate page matched
    * against many singletons — a containment/boilerplate problem, q125's
    * domain). The one-number triage that says WHICH dedup topology a
    * corpus has before anyone pages through pair samples.
    *
    * Exactness: degrees are exact longs; Σx, Σxy, Σx² accumulate in
    * decimal(38,0) (a 1e9-degree-sum squares past long); by edge
    * symmetry the x- and y-marginals coincide, so one set of sums
    * suffices. The one division runs in double, floored to milli
    * (signed — floor is the shared quantizer on both engines).
    *
    * Scale shape: the pair relation materializes once (Ckpt); degrees
    * are one shuffle of the oriented edges; attaching deg(u)/deg(v) is
    * two co-partitioned joins on the oriented relation (no broadcast of
    * the node set — the |nodes|-row degree relation stays distributed);
    * the final agg is a 1-row reduce. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOn(Dedup.simhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b")))

  /** Testable core over any undirected `(doc_a, doc_b)` pair relation. */
  private[graft] def assortativityOn(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val p = Ckpt(pairs.select($"doc_a", $"doc_b"), eager = false)
    val s = p.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(p.select($"doc_b".as("u"), $"doc_a".as("v")))
    val deg = s.groupBy($"u").agg(count(lit(1)).as("d"))
    val e = s
      .join(deg.select($"u", $"d".as("du")), "u")
      .join(deg.select($"u".as("v"), $"d".as("dv")), "v")
    e.agg(count(lit(1)).as("m"),
        sum($"du".cast(dec)).as("sxd"),
        sum($"du".cast(dec) * $"dv").as("sxyd"),
        sum($"du".cast(dec) * $"du").as("sxxd"))
      // exact-long outputs come straight off the decimals; only the
      // correlation ratio goes through double
      .withColumn("sx", $"sxd".cast("double"))
      .withColumn("sxy", $"sxyd".cast("double"))
      .withColumn("sxx", $"sxxd".cast("double"))
      .withColumn("md", $"m".cast("double"))
      .select($"m",
        $"sxd".cast("long").as("sum_deg"),
        $"sxyd".cast("long").as("sum_prod"),
        $"sxxd".cast("long").as("sum_deg_sq"),
        when($"md" * $"sxx" - $"sx" * $"sx" > 0d,
          floor(($"md" * $"sxy" - $"sx" * $"sx") * 1000d
            / ($"md" * $"sxx" - $"sx" * $"sx") + lit(1.0 / 3)).cast("long"))
          .otherwise(0L).as("r_milli"))
  }

  /** q250: Newman modularity of the SOURCE partition over the near-dup
    * graph — does duplication live WITHIN sources (mirror crawls,
    * per-source templates: positive contribution) or cut ACROSS them
    * (syndicated content every crawl picked up: contribution ≈ 0 or
    * negative)? Q = Σ_c [e_c/m − (d_c/2m)²] (Newman & Girvan 2004),
    * reported per community so the mixing review sees WHICH source is a
    * self-duplicating family; the corpus Q is the column sum. Reads next
    * to q211 (cross-source dup pair counts) and q235 (degree mixing):
    * q211 counts the off-diagonal, this scores the whole partition
    * against the degree-preserving null model.
    *
    * Exactness: contributions = (4m·e_c − d_c²)/(4m²) with both integer
    * products in decimal(38,0), one double division floored at ppm with
    * the +1/3 offset (negative contributions floor identically in both
    * engines).
    *
    * Scale shape: the pair relation materializes once (Ckpt) and joins
    * its two endpoint sources co-partitioned on doc id — no node-set
    * broadcast; within-edges and degree masses are |sources|-bounded
    * partial aggs; m is a 1-row broadcast. Output: |sources| rows. */
  def sourceModularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    modularityOn(
      Dedup.simhashPairs(spark, dir).select($"doc_a", $"doc_b"),
      Tables.documents(spark, dir).select($"doc_id", $"source"))
  }

  /** Testable core: per-community modularity contributions of the
    * `doc_id -> source` partition in `comm` over the undirected
    * `(doc_a, doc_b)` relation. */
  private[graft] def modularityOn(pairs: DataFrame,
      comm: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val p = Ckpt(pairs
      .join(comm.select($"doc_id".as("doc_a"), $"source".as("src_a")),
        "doc_a")
      .join(comm.select($"doc_id".as("doc_b"), $"source".as("src_b")),
        "doc_b"), eager = false)
    val m = p.agg(count(lit(1)).as("m"))
    val within = p.where($"src_a" === $"src_b")
      .groupBy($"src_a".as("source")).agg(count(lit(1)).as("e_within"))
    val degs = p.select($"src_a".as("source"))
      .union(p.select($"src_b".as("source")))
      .groupBy($"source").agg(count(lit(1)).as("d_sum"))
    degs.join(within, Seq("source"), "left")
      .withColumn("e_within", coalesce($"e_within", lit(0L)))
      .crossJoin(broadcast(m))
      .select($"source", $"e_within", $"d_sum",
        floor(((lit(4L) * $"m").cast(dec) * $"e_within"
          - $"d_sum".cast(dec) * $"d_sum").cast("double") * 1e6
          / ($"m".cast(dec) * $"m" * 4L).cast("double")
          + lit(1.0 / 3)).cast("long").as("contrib_ppm"))
  }
}
