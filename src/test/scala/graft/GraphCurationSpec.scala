package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Graph, Interp, Quantize, Relational}
import graft.sources.Tables

/** Specs for the round-3 curation operators: connected-component dedup
  * clusters, LOCF gap-fill, PII masking, repetition scoring, URL
  * canonicalization, embedding quantization, k-means refinement, OHLC
  * downsampling. Brute-force models run on collected sf0.001 data.
  */
class GraphCurationSpec extends SparkSpec {

  private def withCutoff[T](v: String)(body: => T): T = {
    spark.conf.set("spark.graft.cc.localCutoff", v)
    try body finally spark.conf.unset("spark.graft.cc.localCutoff")
  }

  test("connectedComponents matches a union-find model on a handcrafted graph") {
    import spark.implicits._
    // chain 1-2-3, triangle 10-11-12 with extra edge, self-loop 20,
    // isolated 30, duplicate + reversed edges
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 20L), (3L, 2L), (2L, 3L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 30L).toDF("node")
    val got = Graph.connectedComponents(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 30L -> 30L))
  }

  test("connectedComponents: single-task union-find tail is bit-identical to the distributed fixpoint") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 20L), (3L, 2L), (2L, 3L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 30L).toDF("node")
    val pairs = Dedup.simhashPairs(spark, sfDir).select($"doc_a", $"doc_b")
    val docs = graft.operators.TextOps.docsParallel(spark, sfDir)
      .select($"doc_id")
    // the default cutoff takes the local path on these graphs; 0 forces
    // the distributed one
    def both(run: => Map[Long, Long]): (Map[Long, Long], Map[Long, Long]) =
      (run, withCutoff("0")(run))
    val (l1, d1) = both(Graph.connectedComponents(edges, nodes)
      .as[(Long, Long)].collect().toMap)
    assert(l1 === d1)
    val (l2, d2) = both(Graph.connectedComponents(pairs, docs)
      .as[(Long, Long)].collect().toMap)
    assert(l2 === d2)
  }

  test("graph loop kernels: single-task path is bit-identical to the distributed loops") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val qs = Seq("q103_pagerank", "q184_hits", "q320_textrank",
      "q324_ppr_seeds", "q325_lpa_communities", "q62_dup_clusters",
      "q230_dup_core")
    qs.foreach { q =>
      val local = rows(SparkEntry.queries(q)(spark, sfDir))
      val dist = withCutoff("0")(rows(SparkEntry.queries(q)(spark, sfDir)))
      assert(local === dist, s"$q local != distributed")
    }
  }

  test("connectedComponentsStar: bit-identical to label-prop CC on handcrafted, chain, and testdata pair graphs") {
    import spark.implicits._
    // handcrafted: chain + triangle + self-loop + isolated + dups
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 20L), (3L, 2L), (2L, 3L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 30L).toDF("node")
    val star = Graph.connectedComponentsStar(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(star === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 30L -> 30L))
    // a diameter-heavy chain (the round-count stressor) with shuffled ids
    // so min labels must travel against the edge order
    val ids = (0L until 64L).map(i => (i * 37L) % 64L + 100L)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val chainNodes = ids.toDF("node")
    val viaStar = Graph.connectedComponentsStar(chain, chainNodes)
      .as[(Long, Long)].collect().toMap
    val viaProp = Graph.connectedComponents(chain, chainNodes)
      .as[(Long, Long)].collect().toMap
    assert(viaStar === viaProp)
    assert(viaStar.values.toSet.size === 1, "chain is one component")
    // the real near-dup pair graph: identical labels, row for row
    val pairs = graft.operators.Dedup.simhashPairs(spark, sfDir)
      .select($"doc_a", $"doc_b")
    val docs = graft.operators.TextOps.docsParallel(spark, sfDir)
      .select($"doc_id")
    val p1 = Graph.connectedComponentsStar(pairs, docs)
      .as[(Long, Long)].collect().toMap
    val p2 = Graph.connectedComponents(pairs, docs)
      .as[(Long, Long)].collect().toMap
    assert(p1 === p2)
  }

  test("kCore peels to the exact fixpoint of a sequential model, incl. handcrafted cascade") {
    import spark.implicits._
    // chain 1-2-3-4 hanging off triangle 4-5-6: peeling 1 exposes 2,
    // then 3 — a 3-round cascade; the triangle (+4) survives as the
    // 2-core. Isolated edge (10,11) peels entirely.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Graph.kCoreOn(edges, k = 2, maxRounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(4L -> 2L, 5L -> 2L, 6L -> 2L))
    // cutoff 0 forces every round through the distributed semi-join
    // path; the k-core is unique, so both phases must agree exactly
    val gotDist = withCutoff("0")(Graph.kCoreOn(edges, k = 2, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(gotDist === got)
    // the round budget is shared: the 3-deep cascade + confirm round
    // cannot fit in 2 rounds on either path (the local throw arrives
    // wrapped in Spark's task-failure exception)
    val eLocal = intercept[Exception] {
      Graph.kCoreOn(edges, k = 2, maxRounds = 2).collect()
    }
    assert(eLocal.getMessage.contains("did not converge") ||
      Option(eLocal.getCause).exists(_.getMessage.contains("did not converge")))
    val eDist = intercept[Exception] {
      withCutoff("0")(Graph.kCoreOn(edges, k = 2, maxRounds = 2).collect())
    }
    assert(eDist.getMessage.contains("did not converge"))
    // real near-dup graph: sequential peel model + convergence <= 8
    // (the oracle's unrolled-8 equivalence rests on this)
    val pairs = Dedup.simhashPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var adj = pairs.flatMap(p => Seq(p, p.swap))
    var rounds = 0
    var stable = false
    while (!stable && rounds < 8) {
      val deg = adj.groupBy(_._1).map { case (u, es) => u -> es.length }
      val next = adj.filter(e => deg(e._1) >= 2 && deg(e._2) >= 2)
      stable = next.length == adj.length
      adj = next
      rounds += 1
    }
    assert(stable, s"sequential peel did not converge in 8 rounds")
    val expect = adj.groupBy(_._1)
      .map { case (u, es) => u -> es.length.toLong }
    val gotReal = Graph.dupCore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotReal === expect)
  }

  test("q231 transitivity: closure counts match the brute wedge model") {
    import spark.implicits._
    val pairs = Dedup.simhashPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairSet = pairs.toSet
    val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).toSeq }
    val wedges = adj.toSeq.flatMap { case (_, vs) =>
      for (a <- vs; c <- vs if a < c) yield (a, c)
    }.distinct
    val closed = wedges.count(pairSet.contains).toLong
    val row = Dedup.transitivityAudit(spark, sfDir).collect().head
    assert(row.getLong(0) === pairs.length.toLong)
    assert(row.getLong(1) === wedges.length.toLong)
    assert(row.getLong(2) === closed)
    assert(row.getLong(3) === closed * 1000000L / wedges.length)
    // the diagnostic must be informative on this graph: strictly
    // between "nothing closes" and "everything closes"
    assert(closed > 0 && closed < wedges.length)
  }

  test("dupClusters labels every document and agrees with a union-find over the pair graph") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id").as[Long].collect().sorted
    val pairs = Dedup.simhashPairs(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    // driver-side union-find model
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = docs.map(d => d -> find(d)).toMap
    val got = Graph.dupClusters(spark, sfDir).as[(Long, Long)].collect().toMap
    assert(got.size === docs.length)
    assert(got === expect)
  }

  test("clusterKeepers: one keeper per cluster, keeper is the quality argmax, singletons keep themselves") {
    import spark.implicits._
    val rows = Graph.clusterKeepers(spark, sfDir)
      .select($"doc_id", $"cluster_id", $"keeper_id", $"is_keeper", $"n_docs")
      .as[(Long, Long, Long, Boolean, Long)].collect()
    val quality = graft.operators.TextAnalysis.qualityScore(spark, sfDir)
      .select($"doc_id", $"quality").as[(Long, Double)].collect().toMap
    // every document appears exactly once, flagged consistently
    assert(rows.map(_._1).distinct.length === rows.length)
    rows.foreach { case (d, _, k, isK, _) => assert(isK === (d == k)) }
    rows.groupBy(_._2).foreach { case (c, members) =>
      // exactly one keeper, the keeper is a member, n_docs is the size
      assert(members.count(_._4) === 1, s"cluster $c")
      val keeper = members.find(_._4).get._1
      assert(members.forall(_._3 === keeper))
      assert(members.forall(_._5 === members.length))
      // argmax quality with doc_id-asc tie-break
      val best = members.map(_._1).minBy(d => (-quality(d), d))
      assert(keeper === best, s"cluster $c")
      if (members.length == 1) assert(keeper === c || members.head._1 === keeper)
    }
  }

  test("clusterKeepersFrom on precomputed clusters is identical to the standalone q79 pipeline") {
    import spark.implicits._
    // the pipeline-reuse contract: CC runs ONCE, its output feeds keeper
    // selection — output must match the standalone operator exactly
    val clusters = Graph.dupClusters(spark, sfDir).localCheckpoint()
    val quality = graft.operators.TextAnalysis.qualityScore(spark, sfDir)
    val reused = Graph.clusterKeepersFrom(clusters, quality)
      .as[(Long, Long, Long, Boolean, Long)].collect().toSet
    val standalone = Graph.clusterKeepers(spark, sfDir)
      .as[(Long, Long, Long, Boolean, Long)].collect().toSet
    assert(reused === standalone)
    // dupClustersFrom accepts any pair source: feeding the same simhash
    // pairs reproduces dupClusters
    val viaPairs = Graph.dupClustersFrom(
      Dedup.simhashPairs(spark, sfDir),
      Tables.documents(spark, sfDir).select($"doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(viaPairs === clusters.as[(Long, Long)].collect().toSet)
  }

  test("locf carries the last sample forward, staleness 0 on exact hits, drops leading probes") {
    import spark.implicits._
    val samples = Seq((1, 10L, 1.0), (1, 20L, 2.0), (2, 15L, 9.0))
      .toDF("k", "t", "v")
    val probes = Seq((1, 5L), (1, 10L), (1, 14L), (1, 25L), (2, 30L))
      .toDF("k", "t")
    val got = Interp.locf(samples, probes, "k", "t", "v")
      .as[(Int, Long, Double, Long)].collect().toSet
    assert(got === Set((1, 10L, 1.0, 0L), (1, 14L, 1.0, 4L),
      (1, 25L, 2.0, 5L), (2, 30L, 9.0, 15L)))
  }

  test("piiRedact finds the planted contacts and the redacted text drops them") {
    import spark.implicits._
    val r = Curation.piiRedact(spark, sfDir)
    assert(r.where($"n_emails" < 1 || $"n_phones" < 1).count() === 0)
    // masking shortens: '<EMAIL>' is shorter than any planted address
    val docs = Tables.documents(spark, sfDir).count()
    assert(r.count() === docs)
  }

  test("repetition fractions are bounded and consistent") {
    import spark.implicits._
    val r = Curation.repetitionStats(spark, sfDir)
    assert(r.where($"top_bigram_n" > $"n_bigrams").count() === 0)
    assert(r.where($"top_bigram_frac" <= 0 || $"top_bigram_frac" > 1).count() === 0)
    assert(r.where($"dup_trigram_frac" < 0 || $"dup_trigram_frac" >= 1).count() === 0)
    assert(r.where($"n_trigrams_distinct" > $"n_trigrams").count() === 0)
    // n_bigrams = n_trigrams + 1 = tokens - 1, by construction
    assert(r.where($"n_bigrams" =!= $"n_trigrams" + 1).count() === 0)
  }

  test("urlCanon strips scheme, www, query and trailing slash; counts partition the corpus") {
    import spark.implicits._
    val r = Curation.urlCanon(spark, sfDir)
    assert(r.where($"canon_url".rlike("^https?://|^www\\.|\\?|/$")).count() === 0)
    assert(r.agg(sum($"n_urls")).head.getLong(0) ===
      Tables.documents(spark, sfDir).count())
  }

  test("embedQuant reconstruction error stays under one quantization step") {
    import spark.implicits._
    val r = Quantize.embedQuant(spark, sfDir)
      .withColumn("step", ($"hi" - $"lo") / 255.0)
    assert(r.where($"err_max" > $"step" + 1e-12).count() === 0)
    assert(r.where($"q_sum" < 0 || $"q_sum" > 255L * 64).count() === 0)
    assert(r.count() === Tables.embeddings(spark, sfDir).count())
  }

  test("kmeansStep emits a full codebook whose members partition the collection") {
    import spark.implicits._
    val r = Quantize.kmeansStep(spark, sfDir)
    assert(r.select($"cell").distinct().count() === 8)
    assert(r.count() === 8 * 64)
    val total = Tables.embeddings(spark, sfDir).count()
    // every vector lands in exactly one cell -> per-dim member counts sum to N
    assert(r.where($"dim" === 0).agg(sum($"n_members")).head.getLong(0) === total)
    // each centroid component is within the member value range
    assert(r.where(abs($"centroid") > 10).count() === 0)
  }

  test("keepLatest picks the row a descending sort would and counts the rest") {
    import spark.implicits._
    val e = Tables.events(spark, sfDir).select(
      $"user_id", $"event_type", unix_millis($"ts").as("tms"), $"event_id", $"value")
      .as[(Long, String, Long, Long, Double)].collect()
    val expect = e.groupBy(r => (r._1, r._2)).map { case ((u, t), rows) =>
      val last = rows.maxBy(r => (r._3, r._4))
      (u, t, last._3, last._4, last._5, rows.size.toLong - 1)
    }.toSet
    val got = Relational.keepLatest(spark, sfDir)
      .as[(Long, String, Long, Long, Double, Long)].collect().toSet
    assert(got === expect)
  }

  test("winsorize clips into [p10, p90] and never loses rows") {
    import spark.implicits._
    val r = Relational.winsorize(spark, sfDir)
    val total = Tables.lineitem(spark, sfDir).count()
    assert(r.agg(sum($"n")).head.getLong(0) === total)
    // clipping is bounded: at most 10% below p10 and 10% above p90
    assert(r.where($"n_clipped_low" > $"n" * 0.1 + 1).count() === 0)
    assert(r.where($"n_clipped_high" > $"n" * 0.1 + 1).count() === 0)
    assert(r.where($"sum_clipped" <= 0).count() === 0)
  }

  test("tokenIds encodes in-vocab tokens and flags OOV, totals consistent with q33") {
    import spark.implicits._
    val r = graft.operators.TextAnalysis.tokenIds(spark, sfDir)
    assert(r.where($"n_oov" > $"n_tokens").count() === 0)
    // token totals must agree with the token-count operator
    val tc = graft.operators.TextAnalysis.tokenCount(spark, sfDir)
      .select($"doc_id", $"n_tokens".as("tc_n"))
    assert(r.join(tc, "doc_id").where($"n_tokens" =!= $"tc_n").count() === 0)
    // a tiny corpus vocabulary covers most tokens: some docs fully in-vocab
    assert(r.where($"n_oov" === 0).count() > 0)
  }

  test("approx twins track the exact aggregates (the q23/q42 scale path)") {
    import spark.implicits._
    // exact two-column distinct (q23) vs HLL: the documented 100 TB path —
    // constant-size partials instead of an Expand over every row
    val exact = Relational.distinctCount(spark, sfDir)
      .select($"l_suppkey", $"n_parts".as("exact_n"))
    val approx = Tables.lineitem(spark, sfDir)
      .groupBy($"l_suppkey")
      .agg(approx_count_distinct($"l_partkey").as("approx_n"))
    val off = exact.join(approx, "l_suppkey")
      .where(abs($"approx_n" - $"exact_n") > $"exact_n" * 0.1)
    assert(off.count() === 0, "HLL estimate drifted >10% from exact")
    // exact percentile (q42) vs t-digest approx_percentile
    val q = Relational.quantiles(spark, sfDir).select($"l_returnflag", $"median")
    val aq = Tables.lineitem(spark, sfDir).groupBy($"l_returnflag")
      .agg(expr("approx_percentile(l_quantity, 0.5)").as("amedian"))
    val qoff = q.join(aq, "l_returnflag")
      .where(abs($"amedian" - $"median") > 2.0)
    assert(qoff.count() === 0, "approx_percentile drifted from exact median")
  }

  test("zscore standardizes each group to ~zero mean, ~unit variance") {
    import spark.implicits._
    val stats = Relational.zscore(spark, sfDir)
      .groupBy($"event_type")
      .agg(avg($"z").as("m"), stddev($"z").as("s"), count(lit(1)).as("n"))
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      assert(math.abs(r.getAs[Double]("m")) < 1e-6, r)
      assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-3, r)
    }
    // row-preserving: one z per input event
    assert(Relational.zscore(spark, sfDir).count() ===
      Tables.events(spark, sfDir).count())
  }

  test("linearTrend matches a driver-side least-squares fit") {
    import spark.implicits._
    val rows = Tables.events(spark, sfDir).select(
      $"user_id", unix_millis($"ts"), $"value")
      .as[(Long, Long, Double)].collect()
    val expect = rows.groupBy(_._1).flatMap { case (u, rs) =>
      val xs = rs.map(r => (r._2 - 1704067200000L) / 1000.0)
      val ys = rs.map(_._3)
      val n = rs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(x => x * x).sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val det = n * sxx - sx * sx
      if (rs.length < 2 || det == 0) None
      else Some(u -> ((n * sxy - sx * sy) / det))
    }
    val got = Relational.linearTrend(spark, sfDir)
      .select($"user_id", $"slope").as[(Long, Double)].collect().toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (u, s) =>
      assert(math.abs(s - expect(u)) < 1e-6 * (1 + math.abs(expect(u))), s"user $u")
    }
  }

  test("ANN recall against the brute-force ground truth: IVF and multi-table LSH >= 0.5") {
    import spark.implicits._
    val truth = graft.operators.Similarity.annBrute(spark, sfDir)
      .where($"rank" <= 3).select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    // deterministic corpus (seeded) -> stable recall values; floors sit
    // under the measured 0.90 (IVF) / ~0.9 (L=4 tables x hamming<=2
    // multi-probe LSH; was 0.13 with one table). Random synthetic
    // embeddings are the LSH worst case — clustered real embeddings score
    // higher still.
    assert(recall(graft.operators.Similarity.ivfAnn(spark, sfDir)) >= 0.6)
    assert(recall(graft.operators.Similarity.lshAnn(spark, sfDir)) >= 0.5)
  }

  test("whtPower matches a driver-side Walsh-Hadamard transform and inverts") {
    import spark.implicits._
    val got = graft.operators.Spectral.whtPower(spark, sfDir)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // model: first 8 samples per user in (ts, event_id) order
    val samples = Tables.events(spark, sfDir)
      .select($"user_id", unix_millis($"ts"), $"event_id", $"value")
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._2, r._3)).take(8).map(_._4)).toMap
    assert(got.nonEmpty)
    got.foreach { case (u, coefs) =>
      val v = samples(u)
      assert(v.length === 8)
      val expect = (0 until 8).map(k =>
        (0 until 8).map(j => (if (Integer.bitCount(k & j) % 2 == 0) 1 else -1) * v(j)).sum)
      coefs.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
      // WHT is self-inverse up to 1/8: reconstruct sample 0
      val recon = coefs.sum / 8.0
      assert(math.abs(recon - v(0)) < 1e-9)
    }
  }

  test("ohlcDownsample matches a window-ordered brute force") {
    import spark.implicits._
    val e = Tables.events(spark, sfDir).select(
      $"user_id", unix_millis(date_trunc("hour", $"ts")).as("bucket_ms"),
      unix_millis($"ts").as("tms"), $"event_id", $"value")
      .as[(Long, Long, Long, Long, Double)].collect()
    val expect = e.groupBy(r => (r._1, r._2)).map { case ((u, b), rows) =>
      val sorted = rows.sortBy(r => (r._3, r._4))
      (u, b, sorted.head._5, rows.map(_._5).max, rows.map(_._5).min,
        sorted.last._5, rows.size.toLong)
    }.toSet
    val got = Relational.ohlcDownsample(spark, sfDir)
      .as[(Long, Long, Double, Double, Double, Double, Long)].collect().toSet
    assert(got === expect)
  }
}
