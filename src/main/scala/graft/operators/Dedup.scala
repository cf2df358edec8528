package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators for training-data pipelines, over the
  * `documents` table. Four families: exact (hash-group), n-gram Jaccard
  * (shingle blocking), MinHash+LSH (band blocking), SimHash (bit-band
  * blocking). All hashes derive from `md5` so the DuckDB oracle computes
  * the identical values; min-hash "permutations" are lexicographic minima
  * of seed-salted md5 — a valid min-wise family that needs no engine-
  * specific 64-bit hash.
  *
  * Scale notes (100 TB): every pairing step is blocked — by df-ordered
  * prefix shingle (q25, PPJoin), LSH band (q26), or simhash byte-band
  * (q28) — so no all-pairs product ever forms and no hot key makes a
  * block quadratic. Aggregations are partial map-side; the shingle
  * explode is the only row multiplier and is bounded by document length.
  */
object Dedup {

  /** Exact dedup via content fingerprint (the hash-groupBy family):
    * one row per distinct text, keeper = lowest doc_id. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** q58: benchmark-contamination screening — the eval-leakage check a
    * training corpus needs before a model trains on it. A held-out
    * "benchmark" partition (doc_id % 11 == 0 stands in for the eval set)
    * contributes its distinct shingles; every training doc is scored by
    * the fraction of its shingles that appear in the benchmark set. The
    * benchmark side is small by construction -> broadcast hash join; the
    * corpus side stays map-local, no corpus-wide shuffle before the
    * per-doc aggregation. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = TextOps.shingled(spark, dir, 3)
    val bench = sh.where($"doc_id" % 11 === 0)
      .select($"shingle").distinct()
    val train = sh.where($"doc_id" % 11 =!= 0)
    val shared = train.join(broadcast(bench), "shingle")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    val card = TextOps.shingleCard(train).withColumnRenamed("n", "n_total")
    shared.join(card, "doc_id")
      .select($"doc_id", $"n_shared", $"n_total",
        ($"n_shared" / $"n_total").as("contamination"))
  }

  /** Near-dup pairs by word-3-gram Jaccard >= 0.6, PPJoin-style prefix
    * filtering (Xiao et al., WWW'08 — a PRUNING, not an approximation:
    * output is identical to the naive all-shingle self-join).
    *
    * Shingles get a global canonical order (document frequency asc, then
    * shingle asc); each doc joins only on its PREFIX — the first
    * `|d| - ceil(t*|d|) + 1` shingles in that order. Completeness: for a
    * qualifying pair the smallest common element x cannot sit in either
    * suffix — a suffix holds `ceil(t*|d|) - 1` elements and every common
    * element is >= x in the order, so |A∩B| <= ceil(t*|d|) - 1 <
    * ceil(t*|d|) <= |A∩B|, contradiction; hence x is in BOTH prefixes and
    * the prefix equality join finds the pair.
    *
    * Scale: a stopword trigram appearing in 80% of docs has maximal df,
    * ranks LAST, and never enters a prefix (prefix covers ~40% of a doc's
    * rarest shingles) — the hot-shingle quadratic blowup of the naive join
    * cannot form. The df join and per-doc ranking window are linear
    * shuffles; candidate verification touches shingle SETS per surviving
    * pair (the count-only graft_intersect_count kernel — identical
    * semantics to size(array_intersect), no intersection-array
    * materialization), never re-exploding the corpus. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOn(TextOps.docsParallel(spark, dir), 0.6)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"))

  /** Testable core over any `(doc_id, text)` relation. */
  private[graft] def ngramJaccardOn(docs: DataFrame, t: Double): DataFrame = {
    // NO checkpoint anywhere (measured both ways at sf0.1): the prefix
    // subtree does evaluate twice — AQE broadcast-builds one candidate
    // side and streams the other, so exchange reuse can't fire — but
    // re-running the df agg + rank window costs less than the
    // materialization barrier a localCheckpoint inserts (1.9 s vs
    // 2.9 s warm). Re-measured in the r14 optimization round: (a)
    // Ckpt(prefix) q25 2.04 -> 2.75 s, (b) shuffle_hash hints on the
    // candidate self-join (one shared exchange instead of a broadcast
    // build) q25 2.04 -> 2.86 s. The broadcast shape wins because the
    // two subtree evaluations run CONCURRENTLY on the exchange-build
    // thread pool — wall = 1x subtree despite 2x CPU — and the stage
    // is not CPU-bound; both rewrites trade that free parallelism for
    // serial latency. On a CPU-saturated cluster the trade flips to
    // (b), which halves the CPU without a barrier. The broadcast shape
    // is plan-pinned in Round15Spec.
    val docSh = docs
      .select(col("doc_id"), TextOps.shingles(TextOps.toks(col("text")), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val prefix = prefixShingles(docSh, t)
    // PPJoin length filter: J(A,B) >= t forces t*|A| <= |B| <= |A|/t, so
    // size-incompatible pairs are dropped inside the candidate join (35%
    // of candidates at sf0.1) before the exact verify pays for them.
    // ceilT (not bare ceil): when t*n is an exact integer whose double
    // product rounds UP (t=0.6 is safe; the method is parameterized), bare
    // ceil would overshoot by 1 and over-tighten the filter — the epsilon
    // makes the bound conservative, which only admits extra candidates.
    //
    // PPJoin POSITIONAL filter (exact, Xiao et al. §3.2): for the
    // globally-smallest common shingle x at ranks i in A and j in B,
    // every other common element follows x in BOTH df-ordered lists, so
    // |A∩B| <= 1 + min(|A|-i, |B|-j); J >= t needs |A∩B| >= alpha =
    // ceil(t/(1+t)·(|A|+|B|)). Testing it on EVERY matching prefix pair
    // is sound (x's occurrence must pass if the pair qualifies; the
    // distinct keeps the pair if ANY occurrence passes) — cuts
    // candidates 193k -> 69k at sf0.1 before the verify pays for them.
    val alpha = ceil(lit(t / (1 + t)) * (col("a.__n") + col("b.__n")) - lit(1e-9))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("b.__n") >= ceilT(col("a.__n"), t) && col("b.__n") * t <= col("a.__n") &&
          lit(1) + least(col("a.__n") - col("a.__rk"), col("b.__n") - col("b.__rk")) >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    cand
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("n_shared", graft.functions.TextHash.intersectCount(col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("jaccard",
        col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")))
      .where(col("jaccard") >= t)
      // n_a/n_b ride along for q213's decile census (q25 projects them
      // away; its oracle schema is unchanged)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"),
        col("n_a"), col("n_b"))
  }

  /** q131: n-gram novelty — per document, the fraction of its shingles
    * appearing NOWHERE else in the corpus (df = 1), in ppm. The inverse
    * diagnostic of q58's contamination: high novelty marks content the
    * corpus hasn't seen (worth keeping), near-zero novelty marks
    * template/boilerplate families even when no single pair crosses a
    * dedup threshold.
    *
    * Scale shape: the same linear (shingle → df → rejoin) shuffles as
    * q25's prefix ranking; per-doc reduction is a partial agg. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = TextOps.shingled(spark, dir, 3)
    val dfreq = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when($"df" === 1, 1L).otherwise(0L)).as("n_unique"))
      .select($"doc_id", $"n_sh", $"n_unique",
        expr("(n_unique * 1000000) div n_sh").as("novelty_ppm"))
  }

  /** q133: MinHash estimator audit — for each q26 band-collision
    * candidate pair, the signature-estimated Jaccard (matching seed
    * fraction over k=12) against the exact set Jaccard, error in ppm.
    * This is the calibration table that justifies trusting the sketch
    * at 100 TB where exact verification of every candidate is the cost
    * ceiling: precision scales with k, and the audit MEASURES it on
    * the actual corpus instead of assuming the (1-J)·J/k variance.
    *
    * Scale shape: signatures are q26's map-only native kernel; the
    * audit joins the k-element arrays per CANDIDATE pair only (zip_with
    * equality fold — no per-seed explode), exact sets via
    * the count-only intersect kernel as in q26. */
  def minhashEstAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // feeds the band join and both audit sides
    val docSh = Ckpt(TextOps.docsParallel(spark, dir)
      .select($"doc_id", TextOps.shingles(TextOps.toks($"text"), 3).as("sh"))
      .where(size($"sh") > 0), eager = false)
    val signed = docSh.select($"doc_id", $"sh",
      graft.functions.TextHash.minhash($"sh", 12).as("mh"))
    val banded = docSh.select($"doc_id",
      posexplode(graft.functions.TextHash.minhashBands($"sh", 12, 3))
        .as(Seq("band", "sig_band")))
    val cand = banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.sig_band" === $"b.sig_band" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
    cand
      .join(signed.select($"doc_id".as("doc_a"), $"sh".as("sh_a"), $"mh".as("mh_a")), "doc_a")
      .join(signed.select($"doc_id".as("doc_b"), $"sh".as("sh_b"), $"mh".as("mh_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        aggregate(zip_with($"mh_a", $"mh_b",
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("est12"),
        graft.functions.TextHash.intersectCount($"sh_a", $"sh_b").cast("long").as("n_shared"),
        (size($"sh_a") + size($"sh_b")).cast("long").as("n_ab"))
      .select($"doc_a", $"doc_b", $"est12",
        expr("(est12 * 1000000) div 12").as("est_ppm"),
        expr("(n_shared * 1000000) div (n_ab - n_shared)").as("exact_ppm"))
      .withColumn("err_ppm", abs($"est_ppm" - $"exact_ppm"))
  }

  /** q125: asymmetric containment dedup — |A∩B| / |A| >= t with A the
    * smaller shingle set. Catches the pair class symmetric Jaccard (q25)
    * misses: a short doc wholly quoted inside a much longer one has
    * Jaccard |A|/|B| ≈ 0 but containment ≈ 1; a curation pipeline drops
    * the contained doc. Direction is canonical: n_a < n_b, ties broken
    * by doc_id, so each unordered pair appears once with A = contained.
    *
    * Pruning reuses the PPJoin prefix machinery and stays EXACT: if
    * C(A,B) >= t then |A∩B| >= ceil(t*|A|), so among A's first
    * `|A| - ceil(t*|A|) + 1` shingles in the global (df asc, shingle)
    * order at least one lies in B (a miss would cap the intersection at
    * ceil(t*|A|) - 1). Only the A side is prefix-restricted — the
    * container B can share ANY of its shingles — so B joins its full
    * posting list. The df-ordered prefix keeps A's probe shingles the
    * rarest ones, which is what bounds the candidate volume at scale;
    * the per-shingle posting list on the B side is the residual hot
    * spot, mitigated exactly as an inverted index is (df-ascending
    * probes + the n_a <= n_b direction filter inside the join).
    *
    * Scale shape: same linear df/rank shuffles as q25; the candidate
    * join is prefix(A) x postings(B) on shingle equality — no all-pairs
    * product; verify touches shingle SETS per surviving pair. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentOn(TextOps.docsParallel(spark, dir), 0.8)

  /** Testable core over any `(doc_id, text)` relation. */
  private[graft] def containmentOn(docs: DataFrame, t: Double): DataFrame = {
    // one LAZY shingle pass feeding prefix ranking, the B-side postings
    // and both verify sides — FOUR consumers, deliberately NOT
    // checkpointed (round 9, measured, same-JVM best-of-4): the shingle
    // relation is doc_id + a wide array per doc, and materializing it
    // costs more than re-running the cheap tokenize+shingle maps —
    // 1.16 s unmaterialized vs 1.31 s checkpointed at sf0.1. The
    // checkpoint-pays-iff-the-reused-subtree-SHUFFLES rule (SCALE.md):
    // this subtree is map-only off the scan, so it doesn't.
    val docSh = docs
      .select(col("doc_id"), TextOps.shingles(TextOps.toks(col("text")), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val prefix = prefixShingles(docSh, t)
    val postings = docSh.select(col("doc_id"), size(col("sh")).cast("long").as("__n"),
      explode(col("sh")).as("shingle"))
    val cand = prefix.as("a").join(postings.as("b"),
        col("a.shingle") === col("b.shingle") &&
          (col("a.__n") < col("b.__n") ||
            (col("a.__n") === col("b.__n") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    cand
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        graft.functions.TextHash.intersectCount(col("sh_a"), col("sh_b")).cast("long").as("n_shared"))
      .withColumn("cont_ppm", expr("(n_shared * 1000000) div n_a"))
      .where(col("cont_ppm") >= math.round(t * 1000000))
  }

  /** Conservative `ceil(n * t)`: subtract an epsilon before ceil so a
    * double product that lands a hair ABOVE an exact-integer t*n cannot
    * overshoot the exact rational by 1 (which would shorten prefixes /
    * over-tighten the length filter and silently drop true pairs). An
    * under-estimate only lengthens prefixes and loosens the filter —
    * pruning stays exact. The epsilon is safe while t*n's true value is
    * not within 1e-9 of the NEXT lower integer, i.e. for any real-world
    * t and document length. */
  private def ceilT(n: Column, t: Double): Column = ceil(n * t - lit(1e-9))

  /** The df-ordered prefix relation `(doc_id, shingle, __n, __rk)`: each
    * doc's first `|d| - ceil(t*|d|) + 1` shingles in (global df asc,
    * shingle asc) order, with the rank kept for the positional filter.
    * Exposed for the skew spec, which asserts a corpus-wide stopword
    * shingle never enters any multi-shingle doc's prefix. */
  private[graft] def prefixShingles(docSh: DataFrame, t: Double): DataFrame = {
    // per-doc cardinality comes free from the array (one window, not two)
    val sh = docSh.select(col("doc_id"), size(col("sh")).cast("long").as("__n"),
      explode(col("sh")).as("shingle"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("shingle").asc)
    sh.join(dfreq, "shingle")
      .withColumn("__rk", row_number().over(wRank))
      .where(col("__rk") <= col("__n") - ceilT(col("__n"), t) + 1)
      .select(col("doc_id"), col("shingle"), col("__n"), col("__rk"))
  }

  /** MinHash + LSH banding: k=12 salted-md5 min-hashes per doc, 4 bands of
    * r=3; docs sharing any band signature are candidates, then verified
    * with exact Jaccard >= 0.5. The candidate set is sublinear in doc
    * pairs — this is the 100 TB-scale dedup path.
    *
    * The whole signature is one map-only projection (native
    * TextHash.minhash over the shingle set — no explode, no crossJoin
    * with seeds, no groupBy); the only shuffled relation is the tiny
    * (doc, band, sig) table, and the Jaccard verify touches shingle SETS
    * (count-only intersect kernel per candidate pair) rather than re-joining an
    * exploded shingle table. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docSh = TextOps.docsParallel(spark, dir)
      .select($"doc_id", TextOps.shingles(TextOps.toks($"text"), 3).as("sh"))
      .where(size($"sh") > 0)
    // band b = min-hashes [3b, 3b+3), joined ',' in seed order; the banded
    // relation stays narrow (doc_id, band, sig_band) through the shuffle
    val banded = docSh.select($"doc_id",
        posexplode(graft.functions.TextHash.minhashBands($"sh", 12, 3))
          .as(Seq("band", "sig_band")))
    val cand = banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.sig_band" === $"b.sig_band" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
    cand
      .join(docSh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(docSh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("n_shared", graft.functions.TextHash.intersectCount($"sh_a", $"sh_b").cast("long"))
      .withColumn("jaccard",
        $"n_shared" / (size($"sh_a").cast("long") + size($"sh_b").cast("long") - $"n_shared"))
      .where($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** q109: incremental (delta) dedup — the ingestion-time shape of q26:
    * a NEW batch (doc_id % 5 == 0 stands in for today's crawl) is
    * screened against the already-indexed corpus (the rest) by MinHash
    * band collision, then exact-Jaccard verified (>= 0.5). The
    * asymmetry is the operator: band signatures for the INDEXED side
    * are what a production pipeline persists once and re-joins every
    * batch — only the delta is re-signed per run, so per-batch cost is
    * O(delta + collisions), never O(corpus). Output keeps the batch
    * doc, its matched corpus doc, and the verified jaccard — the
    * admit/reject decision for the ingest gate.
    *
    * Scale shape: identical to q26's (narrow (doc, band, sig) shuffle,
    * set-intersect verify on candidate pairs only) with the delta side
    * small by construction; the band join hash-partitions on (band,
    * sig), so the corpus index streams once per batch. */
  def deltaDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docSh = TextOps.docsParallel(spark, dir)
      .select($"doc_id", TextOps.shingles(TextOps.toks($"text"), 3).as("sh"))
      .where(size($"sh") > 0)
    deltaDedupOn(docSh.where($"doc_id" % 5 === 0),
      docSh.where($"doc_id" % 5 =!= 0))
  }

  /** Shingle projection shared by the batch and streaming ingest paths. */
  private[graft] def docShingles(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", TextOps.shingles(TextOps.toks($"text"), 3).as("sh"))
      .where(size($"sh") > 0)
  }

  /** Core over two `(doc_id, sh)` relations: matches of `delta` docs
    * against `corpus` docs. The corpus band index (`bandsOf(corpus)`)
    * is the artifact a production pipeline persists once. */
  private[graft] def deltaDedupOn(delta: DataFrame, corpus: DataFrame): DataFrame = {
    import delta.sparkSession.implicits._
    def bandsOf(d: DataFrame): DataFrame = d.select($"doc_id",
      posexplode(graft.functions.TextHash.minhashBands($"sh", 12, 3))
        .as(Seq("band", "sig_band")))
    val cand = bandsOf(delta).as("a").join(bandsOf(corpus).as("b"),
        $"a.band" === $"b.band" && $"a.sig_band" === $"b.sig_band")
      .select($"a.doc_id".as("new_doc"), $"b.doc_id".as("corpus_doc"))
      .distinct()
    cand
      .join(delta.select($"doc_id".as("new_doc"), $"sh".as("sh_a")), "new_doc")
      .join(corpus.select($"doc_id".as("corpus_doc"), $"sh".as("sh_b")), "corpus_doc")
      .withColumn("n_shared", graft.functions.TextHash.intersectCount($"sh_a", $"sh_b").cast("long"))
      .withColumn("jaccard",
        $"n_shared" / (size($"sh_a").cast("long") + size($"sh_b").cast("long") - $"n_shared"))
      .where($"jaccard" >= 0.5)
      .select($"new_doc", $"corpus_doc", $"n_shared", $"jaccard")
  }

  /** 32-bit SimHash fingerprint per document, from term frequencies.
    * Bit j is set iff sum over tokens of tf * (+1 if hex digit j of
    * md5(token) >= '8' else -1) is positive — the hex-digit high bit is a
    * portable 1-bit projection both engines compute identically.
    *
    * One native single-pass expression per document (TextHash.simhash):
    * map-only, zero shuffle — the relational formulation (explode tokens
    * x 32 bits, two groupBys) shuffled ~1700 intermediate rows per doc. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextOps.docsParallel(spark, dir)
      .select($"doc_id",
        graft.functions.TextHash.simhash(TextOps.toks($"text")).as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance <= 1, candidates blocked on
    * any equal 8-bit byte-band of the 32-bit fingerprint (a doc pair with
    * hamming <= 3 must agree on at least one of the 4 bytes — pigeonhole),
    * so the join never considers unrelated docs. The threshold is tight
    * because a 32-bit simhash over a small vocabulary saturates: at
    * hamming 6 nearly every doc pair qualifies (measured: 3M of 12.5M
    * possible pairs at sf0.1). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shash = simhash(spark, dir)
    val banded = shash.select($"doc_id", $"simhash",
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("byte",
        expr("(simhash div shiftleft(CAST(1 AS BIGINT), band * 8)) % 256"))
    // hamming filter BEFORE the dedup shuffle: the per-row filter is free
    // and cuts the distinct's input from all band collisions to the few
    // true near-dups (distinct∘filter == filter∘distinct here)
    banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.byte" === $"b.byte" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .where($"hamming" <= 1)
      .distinct()
  }

  /** q245: simhash radius sensitivity — the pair count and distinct-doc
    * coverage at hamming radius 0, 1 and 2, from ONE banded candidate
    * pass. The tuning table behind q28's radius choice: a production
    * dedup picks its hamming threshold off exactly this curve (how many
    * extra pairs each radius step admits, and how many more documents
    * it touches), instead of re-running the pipeline per candidate
    * radius. Soundness of the single pass: 4 bands of 8 bits mean a
    * pair differing in ≤ 3 bits can break at most 3 bands, so every
    * pair with hamming ≤ 2 still agrees on ≥ 1 band and IS a banded
    * candidate — the sweep is exact, not a sample.
    *
    * Scale shape: identical to q28 up to the candidate join (band
    * tables shuffle, never the corpus cross), then a ≤3-row census:
    * per-radius pair counts from one groupBy, cumulative counts and
    * doc coverage from the bounded pair relation. */
  def radiusSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shash = simhash(spark, dir)
    val banded = shash.select($"doc_id", $"simhash",
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("byte",
        expr("(simhash div shiftleft(CAST(1 AS BIGINT), band * 8)) % 256"))
    val pairs = Ckpt(banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.byte" === $"b.byte" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)")
          .as("hamming"))
      .where($"hamming" <= 2)
      .distinct(), eager = false)
    // each pair contributes to every radius >= its hamming — a 3-row
    // fan-out of the bounded pair relation, no theta join
    val expanded = pairs.select($"doc_a", $"doc_b", $"hamming",
      explode(sequence($"hamming", lit(2L))).as("radius"))
    val counts = expanded.groupBy($"radius")
      .agg(count(lit(1)).as("n_pairs_cum"),
        sum(when($"hamming" === $"radius", 1L).otherwise(0L))
          .as("n_pairs_at"))
    val cover = expanded
      .select($"radius", explode(array($"doc_a", $"doc_b")).as("d"))
      .groupBy($"radius").agg(countDistinct($"d").as("n_docs_covered"))
    spark.range(0, 3).select($"id".as("radius"))
      .join(counts, Seq("radius"), "left")
      .join(cover, Seq("radius"), "left")
      .select($"radius",
        coalesce($"n_pairs_at", lit(0L)).as("n_pairs_at"),
        coalesce($"n_pairs_cum", lit(0L)).as("n_pairs_cum"),
        coalesce($"n_docs_covered", lit(0L)).as("n_docs_covered"))
  }

  /** q89: winnowing fingerprints — SUBSTRING-level overlap detection
    * (shared passages, quotations, partial mirrors), the capability
    * whole-doc dedup can't express: two documents that share only a
    * 16-token passage still collide on a fingerprint. Classic winnowing
    * (Schleimer/Wilkerson/Aiken): hash every positional 8-token shingle,
    * keep the MIN hash of each sliding 4-window — any shared run of
    * >= 11 tokens is guaranteed to surface a common fingerprint,
    * while only ~1/4 of shingles survive as fingerprints.
    *
    * The synthetic corpus has no natural shared passages, so (q64-style)
    * a deterministic 16-token passage is woven onto doc_id % 53 == 0
    * docs; the oracle builds the identical input. Scale shape: the
    * sliding min is a per-doc window (one shuffle by doc, in-partition
    * sort by position); fingerprints join by equality (blocked, never
    * all-pairs); the pair aggregation is partial-agged. The >= 3 shared-
    * fingerprint floor keeps noise out of the verdict. */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val passage = " winnow shared passage marker alpha beta gamma delta" +
      " epsilon zeta eta theta iota kappa lambda mu"
    val aug = concat($"text",
      when($"doc_id" % 53 === 0, lit(passage)).otherwise(lit("")))
    val toked = TextOps.docsParallel(spark, dir)
      .select($"doc_id", TextOps.toks(aug).as("toks"))
    val fp = winnowFingerprints(toked)
    fp.as("a").join(fp.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared_fp"))
      .where($"n_shared_fp" >= 3)
  }

  /** The winnowing fingerprint stage of q89: (doc_id, toks) -> distinct
    * (doc_id, fp). Window w = 8 tokens, guarantee window k = 4, so any
    * shared token run of length >= w + k - 1 = 11 yields a common
    * fingerprint REGARDLESS of its offset in either document — the
    * offset-independence a block-aligned min would not have
    * (WinnowPropertySpec proves it on randomly placed passages). */
  private[graft] def winnowFingerprints(toked: DataFrame): DataFrame = {
    // positional shingles from the single-pass native expression; the
    // md5 then runs codegen'd on the exploded column — same hash input
    // (tokens joined by ' ') as the interpreted lambda it replaced
    val sh = toked.where(size(col("toks")) >= 8)
      .select(col("doc_id"),
        posexplode(graft.functions.TextHash.posShingles(col("toks"), 8))
          .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"), md5(col("sh")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, 3)
    sh.select(col("doc_id"), min(col("h")).over(w).as("fp")).distinct()
  }

  /** q88: source-pair overlap matrix — cross-source leakage screening
    * (is one crawl a mirror of another? does a source overlap the eval
    * set's provenance?) via per-SOURCE minhash sketches: the same
    * seed-keyed md5 min construction as q26, aggregated over each
    * source's distinct shingle set instead of each doc's. The corpus
    * reduces to |sources| x 12 hashes in ONE partial-agged shuffle;
    * the pairwise compare runs on a |sources|-row relation (the tiny
    * self-join is the q29-class bounded baseline, not a corpus product).
    * est_jaccard = matching components / 12 — the standard minhash
    * estimator, so precision grows with the seed count, not the data. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ss = TextOps.docsParallel(spark, dir)
      .select($"source", explode(TextOps.shingles(TextOps.toks($"text"), 3)).as("shingle"))
      .distinct()
    val seeds = 0 until 12
    val aggs = seeds.map(s => min(md5(concat(lit(s + ":"), $"shingle"))).as(s"h$s"))
    val hashed = ss.groupBy($"source").agg(aggs.head, aggs.tail: _*)
    val nMatch = seeds
      .map(s => when(col(s"a.h$s") === col(s"b.h$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    hashed.as("a").join(hashed.as("b"), $"a.source" < $"b.source")
      .select($"a.source".as("src_a"), $"b.source".as("src_b"),
        nMatch.as("n_match"))
      .withColumn("est_jaccard", $"n_match" / lit(12))
  }

  /** q90: all-pairs TF-cosine similarity via an inverted-index join —
    * the term-at-a-time sparse-vector counterpart of q37's embedding
    * LSH, and a different measure from q25's set-Jaccard: features are
    * positional 3-token shingles WITH MULTIPLICITY (tf), so repeated
    * passages weigh more, and candidate pairs come from SHARED TERMS
    * (an equality join on the shingle hash), never from a doc×doc
    * product. A document-frequency cut (df·4 <= N: features in more
    * than a quarter of the corpus are dropped) removes boilerplate-
    * class features first; they contribute least to cosine contrast
    * and their posting lists are exactly the ones whose self-join
    * would explode quadratically — the common-term bound from the
    * all-pairs similarity literature. At 100 TB the surviving posting
    * lists are rare-feature-sized, the dot products partial-agg on
    * (doc_a, doc_b), and the df/N relation is a one-row broadcast;
    * for web-scale corpora this composes downstream of a blocking
    * prefilter (q27/q37) as the exact-verify stage.
    *
    * The cosine threshold is INTEGER-exact: cos >= 4/5 is tested as
    * 25·dot² >= 16·|a|²·|b|² on BIGINT tf sums — no sqrt, no division,
    * no libm, so the DuckDB oracle agrees bit-for-bit. Magnitudes are
    * safe in 64 bits: dot² and |a|²·|b|² are bounded by (Σtf)⁴ ≈ 1e15
    * at the corpus' document lengths (shingle tf is ~1 outside
    * repeated passages). */
  def tfCosinePairs(spark: SparkSession, dir: String): DataFrame =
    tfCosinePairsOn(TextOps.docsParallel(spark, dir))

  /** Testable core over any `(doc_id, text)` relation. */
  private[graft] def tfCosinePairsOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // raw 3-gram strings as feature keys (they're SHORTER than an md5
    // hex); tf AND the doc's squared norm come out of ONE native pass
    // over the token array (TextHash.shingleTfs), so the posting
    // relation is map-only — no (doc_id, sh) groupBy shuffle, no norm
    // window. Norms are over the doc's FULL tf vector (the standard
    // cosine); the df cut only sparsifies the DOT dimensions, which
    // biases cos strictly downward for boilerplate-heavy pairs — the
    // conservative direction for a dedup screen.
    val tf = docs
      .select($"doc_id", TextOps.toks($"text").as("toks"))
      .where(size($"toks") >= 3)
      .select($"doc_id", graft.functions.TextHash.shingleTfs($"toks", 3).as("s"))
      .select($"doc_id", $"s.nrm2".as("nrm2"), explode($"s.tfs").as("st"))
      .select($"doc_id", $"st.sh".as("sh"), $"st.tf".as("tf"), $"nrm2")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val keptTerms = tf.groupBy($"sh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where($"df" * 4 <= $"n_docs")
      .select($"sh")
    // no checkpoint: the kept relation feeds both self-join sides, but
    // the subtrees are IDENTICAL, so the planner materializes one
    // shuffle and reads it twice (ReusedExchange) — a checkpoint would
    // add a third materialization and a scheduling barrier for nothing
    val kept = tf.join(keptTerms, "sh")
    kept.as("a").hint("shuffle_hash").join(kept.as("b"),
        $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        ($"a.tf" * $"b.tf").as("p"),
        $"a.nrm2".as("na"), $"b.nrm2".as("nb"))
      .groupBy($"doc_a", $"doc_b")
      .agg(sum($"p").as("dot"), count(lit(1)).as("n_shared_terms"),
        max($"na").as("nrm2_a"), max($"nb").as("nrm2_b"))
      .where($"dot" * $"dot" * 25 >= $"nrm2_a" * $"nrm2_b" * 16)
      .select($"doc_a", $"doc_b", $"n_shared_terms", $"dot",
        $"nrm2_a", $"nrm2_b")
  }

  /** q100: exact duplicate-substring spans — the token-level counterpart
    * of document-level dedup (the "dedup the substring, keep the doc"
    * strategy for boilerplate and recycled passages). A 5-token window
    * is DUPLICATED when its shingle occurs in >= 2 distinct documents;
    * per document, overlapping-or-adjacent duplicated windows merge into
    * maximal spans (gaps-and-islands: a window starting more than L
    * tokens after its predecessor starts a new span). Output is the cut
    * list `(doc_id, span_start, span_end)` in 1-based token coordinates
    * — exactly what a removal pass consumes.
    *
    * Scale shape: the window relation is |tokens|-sized (bounded row
    * multiplier, like every shingle op here); duplicated-shingle
    * detection is a two-phase partial agg on (shingle, doc) rows; the
    * hit join is a shuffle equi-join against the DISTINCT duplicated-
    * shingle set (no fan-out — one match per posting row); span merging
    * is one doc_id-partitioned window. No pairing step exists at all,
    * so unlike similarity ops this is safe on pathologically repetitive
    * corpora — cost stays linear in corpus tokens. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOn(TextOps.docsParallel(spark, dir), 5)

  /** Testable core over any `(doc_id, text)` relation. */
  private[graft] def dupSpansOn(docs: DataFrame, win: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val pos = docs
      .select($"doc_id", TextOps.toks($"text").as("toks"))
      .where(size($"toks") >= win)
      .select($"doc_id",
        posexplode(graft.functions.TextHash.posShingles($"toks", win))
          .as(Seq("pos0", "sh")))
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"), $"sh")
    // "occurs in >= 2 distinct docs" == min(doc_id) != max(doc_id):
    // min/max partial-agg in one phase; count_distinct would run the
    // two-phase distinct aggregation for a boolean the extremes answer
    val dup = pos.groupBy($"sh")
      .agg(min($"doc_id").as("d0"), max($"doc_id").as("d1"))
      .where($"d0" =!= $"d1")
      .select($"sh")
    val hits = pos.join(dup, "sh").select($"doc_id", $"pos")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("brk",
        when($"pos" - lag($"pos", 1).over(w) <= win, 0L).otherwise(1L))
      .withColumn("grp", sum($"brk").over(
        Window.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + (win - 1)).as("span_end"),
        count(lit(1)).as("n_dup_windows"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_tokens"),
        $"n_dup_windows")
  }

  /** q86: exact edit-distance verification of the simhash survivors —
    * the last stage of the blocked-dedup funnel (block -> cheap hamming
    * filter -> exact verify on the few survivors). Levenshtein is O(nm)
    * per pair, affordable ONLY because the candidate set is already
    * band-blocked and hamming-filtered; it runs on the 200-char prefix
    * (the verify budget), and the normalized similarity feeds the final
    * keep/merge decision. Scale shape: the pair relation is tiny
    * relative to the corpus, so the two text-fetch joins hash on doc_id
    * and the DP runs map-side on the joined rows — no pair explosion,
    * no corpus shuffle. */
  def editVerify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = simhashPairs(spark, dir)
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, 200).as("t"))
    pairs
      .join(docs.as("da"), $"doc_a" === $"da.doc_id")
      .join(docs.as("db"), $"doc_b" === $"db.doc_id")
      .select($"doc_a", $"doc_b", $"hamming",
        levenshtein($"da.t", $"db.t").cast("long").as("edit_dist"),
        (lit(1.0) - levenshtein($"da.t", $"db.t") /
          greatest(length($"da.t"), length($"db.t"))).as("norm_sim"))
  }

  /** q164: per-source duplicated-token rate — the fraction of a
    * source's tokens that sit inside an exact duplicated span (q100's
    * spans), the headline number of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): it tells you how
    * much of each source survives substring-level dedup, which
    * document-level dup counts systematically understate.
    *
    * Scale shape: the span side is q100's linear pipeline (no pairing
    * step); spans partial-agg to one covered-token count per document;
    * the length side is a second column-pruned pass computing only
    * (doc_id, source, token count) — at production scale that's a
    * metadata read, not a text re-parse. The final join is |docs with
    * dup spans| rows against the per-doc length relation, then a
    * |sources|-bounded agg. */
  def dupTokenRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = dupSpansOn(TextOps.docsParallel(spark, dir), 5)
      .groupBy($"doc_id").agg(sum($"span_tokens").as("dup_tokens"))
    TextOps.docsParallel(spark, dir)
      .select($"doc_id", $"source",
        size(TextOps.toks($"text")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        sum(coalesce($"dup_tokens", lit(0L))).as("dup_tokens"),
        sum(when($"dup_tokens" > 0, 1L).otherwise(0L)).as("n_docs_hit"))
      .withColumn("dup_ppm", expr("(dup_tokens * 1000000) div n_tokens"))
  }

  /** q172: LSH recall/precision audit — measure the MinHash banding
    * (q26's 4 bands × r=3) against EXACT Jaccard ≥ 0.5 ground truth
    * (q25's PPJoin machinery at t=0.5, which is provably complete):
    * what fraction of true near-dup pairs does the banding surface
    * (recall), and how much of its candidate volume is real
    * (precision)? The audit every production LSH deployment runs on a
    * sample before trusting its bands at full scale — and exactly the
    * measurement that caught q37's over-permissive banding in round 5.
    *
    * Scale shape: both sides are the already-scale-safe pipelines
    * (band-blocked candidates; prefix-filtered exact truth); the
    * metrics are three one-row aggregates broadcast together. At
    * 100 TB this runs on a sample partition — the shape is unchanged. */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = TextOps.docsParallel(spark, dir)
    val docSh = docs
      .select($"doc_id", TextOps.shingles(TextOps.toks($"text"), 3).as("sh"))
      .where(size($"sh") > 0)
    val banded = docSh.select($"doc_id",
      posexplode(graft.functions.TextHash.minhashBands($"sh", 12, 3))
        .as(Seq("band", "sig_band")))
    // both pair relations have TWO consumers each (their own count and
    // the hit join) — without truncation the band join and the whole
    // PPJoin truth pipeline each evaluate twice (the checkpoint-pays-
    // iff-the-reused-subtree-shuffles rule; measured 1.8 -> 1.1 s at
    // sf0.1)
    val cand = Ckpt(banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.sig_band" === $"b.sig_band" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct(),
      eager = false)
    val truth = Ckpt(ngramJaccardOn(docs, 0.5).select($"doc_a", $"doc_b"),
      eager = false)
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nHit = cand.join(truth, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    nTruth.crossJoin(broadcast(nCand)).crossJoin(broadcast(nHit))
      .select($"n_truth", $"n_cand", $"n_hit",
        expr("(n_hit * 1000000) div n_truth").as("recall_ppm"),
        expr("(n_hit * 1000000) div n_cand").as("precision_ppm"))
  }

  /** q178: sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95)
    * — the classic sort-based alternative to LSH blocking: sort the
    * corpus by a normalization key (lower-cased, space-stripped 24-char
    * prefix), slide a window of w = 3 over the sorted order, and
    * exact-verify only the ≤ w·N windowed pairs (3-gram Jaccard ≥ 0.4).
    * Complements MinHash (q26) / SimHash (q27): prefix-clustered
    * near-dups (common in crawl snapshots with templated openings) are
    * caught with ZERO hashing and a linear candidate budget.
    *
    * Scale shape: the global sort is distributed (range partition +
    * in-partition sort); the global RANK is two-phase — row_number
    * inside each first-char segment (parallel) plus an exclusive
    * prefix offset over the bounded |alphabet|-row segment-count
    * relation, broadcast back — bit-identical to a single global
    * window without its one-partition bottleneck. Window pairs are 3
    * equi-joins on rank+k (co-partitioned), the verify is a per-pair
    * array intersect, and nothing quadratic exists at any scale. */
  /** Two-phase distributed global rank over `(doc_id, <key>)` rows —
    * row_number inside each first-char segment of the key (parallel
    * windows), plus an exclusive prefix offset over the bounded
    * |alphabet|-row segment-count relation broadcast back. Because all
    * keys in a segment share their first character, segment order +
    * in-segment order IS the global (key asc, doc_id asc) order:
    * bit-identical to `row_number() OVER (ORDER BY key, doc_id)`
    * without its single-partition WindowExec bottleneck. Shared by
    * q178's sort key and q257's salted-hash permutation (PlanShapeSpec
    * asserts neither plan contains an unpartitioned window). */
  private[graft] def segmentedRank(rows: DataFrame, keyName: String)
      : DataFrame = {
    import rows.sparkSession.implicits._
    val k = col(keyName)
    val wSeg = Window.partitionBy($"seg").orderBy(k.asc, $"doc_id".asc)
    val ranked = rows.withColumn("seg", substring(k, 1, 1))
      .withColumn("rn_seg", row_number().over(wSeg).cast("long"))
    val wOff = Window.partitionBy(graft.functions.Win.bounded).orderBy($"seg".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranked.groupBy($"seg").agg(count(lit(1)).as("c"))
      .select($"seg", coalesce(sum($"c").over(wOff), lit(0L)).as("off"))
    ranked.join(broadcast(offs), "seg")
      .withColumn("rn", $"rn_seg" + $"off")
      .drop("seg", "rn_seg", "off")
  }

  /** The numeric twin of [[segmentedRank]]: global dense row-number of
    * `(doc_id, key: long)` rows by (key asc, doc_id asc) with NO
    * single-partition window — keys shift to nonnegative by the
    * broadcast global min (exact long), segment on div 1024, and the
    * q178 two-phase rank (parallel per-segment windows + broadcast
    * prefix offsets) does the rest. The shift matters: Spark's integer
    * div truncates toward zero, so negative raw keys would interleave
    * segments around 0. */
  /** Grouped twin of [[segmentedRankLong]]: independent global ranks
    * per `grpName` value from ONE pass — per-group min/max broadcast
    * back, segments and windows keyed by (grp, seg), prefix offsets per
    * grp. Rank within each group is bit-identical to running
    * [[segmentedRankLong]] on that group alone ((key asc, doc_id asc)
    * order, same ~256-segment bound per group). Callers that ranked k
    * score columns in k sequential pipelines (q278) collapse to one. */
  private[graft] def segmentedRankLongBy(rows: DataFrame, keyName: String,
      grpName: String): DataFrame = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val g = col(grpName)
    val mn = rows.groupBy(g.as("__g"))
      .agg(min(col(keyName)).as("mn"), max(col(keyName)).as("mx"))
    val shifted = rows.join(broadcast(mn), g === $"__g")
      .withColumn("sk", col(keyName).cast(dec) - $"mn")
      .withColumn("segw",
        greatest(lit(1024L).cast(dec),
          expr("((cast(mx as decimal(38,0)) - mn) div 256) + 1")))
    val wSeg = Window.partitionBy(g, $"seg")
      .orderBy($"sk".asc, $"doc_id".asc)
    val ranked = shifted
      .withColumn("seg", expr("cast(sk div segw as long)"))
      .withColumn("rn_seg", row_number().over(wSeg).cast("long"))
    val offs = ranked.groupBy(g.as("__og"), $"seg")
      .agg(count(lit(1)).as("c"))
      .select($"__og", $"seg",
        coalesce(sum($"c").over(Window.partitionBy($"__og")
          .orderBy($"seg".asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    ranked.join(broadcast(offs), g === $"__og" && ranked("seg") === offs("seg"))
      .withColumn("rn", $"rn_seg" + $"off")
      .drop("seg", "rn_seg", "off", "sk", "mn", "mx", "segw", "__g", "__og")
  }

  private[graft] def segmentedRankLong(rows: DataFrame, keyName: String)
      : DataFrame = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val mn = rows.agg(min(col(keyName)).as("mn"), max(col(keyName)).as("mx"))
    val shifted = rows.crossJoin(broadcast(mn))
      // the shift and the range both ride decimal: a key span wider
      // than 2^63 (full-range longs) wraps the long subtraction
      .withColumn("sk", col(keyName).cast(dec) - $"mn")
      // segment width derives from the KEY RANGE so the segment count
      // is bounded (~256) no matter how wide or skewed the values —
      // a fixed width of 1024 minted range/1024 segments and the
      // offsets relation stopped being broadcastable on wide keys
      .withColumn("segw",
        greatest(lit(1024L).cast(dec),
          expr("((cast(mx as decimal(38,0)) - mn) div 256) + 1")))
    val wSeg = Window.partitionBy($"seg").orderBy($"sk".asc, $"doc_id".asc)
    val ranked = shifted
      .withColumn("seg", expr("cast(sk div segw as long)"))
      .withColumn("rn_seg", row_number().over(wSeg).cast("long"))
    val wOff = Window.partitionBy(graft.functions.Win.bounded)
      .orderBy($"seg".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranked.groupBy($"seg").agg(count(lit(1)).as("c"))
      .select($"seg", coalesce(sum($"c").over(wOff), lit(0L)).as("off"))
    ranked.join(broadcast(offs), "seg")
      .withColumn("rn", $"rn_seg" + $"off")
      .drop("seg", "rn_seg", "off", "sk", "mn", "mx", "segw")
  }

  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // rank on NARROW (doc_id, key) rows — the ~50-shingle arrays would
    // otherwise ride through both window exchanges and the candidate
    // join (measured 16.1x wall at 10x docs carrying arrays; 4.9x
    // after this split, with the residual over the scan ratio being
    // true output growth: replica families sort adjacent, so their
    // windowed pairs all pass the verify)
    val keys = Tables.documents(spark, dir)
      .select($"doc_id",
        substring(regexp_replace(lower($"text"), " ", ""), 1, 24).as("snk"))
    val docSh = Tables.documents(spark, dir)
      .select($"doc_id", TextOps.shingles(TextOps.toks($"text"), 3).as("sh"))
    val rr = segmentedRank(keys, "snk").select($"doc_id", $"rn")
    val cand = rr.as("a")
      .withColumn("k", explode(array(lit(1L), lit(2L), lit(3L))))
      .join(rr.as("b"), $"b.rn" === $"a.rn" + $"k")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"k".as("gap"))
    cand
      .join(docSh.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(docSh.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .withColumn("n_shared",
        graft.functions.TextHash.intersectCount($"sh_a", $"sh_b").cast("long"))
      .withColumn("n_union",
        size($"sh_a").cast("long") + size($"sh_b") - $"n_shared")
      .where($"n_union" > 0)
      .withColumn("jac_ppm", expr("(n_shared * 1000000) div n_union"))
      .where($"jac_ppm" >= 400000L)
      .select($"doc_a", $"doc_b", $"gap", $"n_shared", $"jac_ppm")
  }

  /** q208: corpus snapshot diff — the dataset-release delta report:
    * given two corpus versions, classify every doc_id as added /
    * removed / changed / unchanged by full outer join on the id with a
    * content-hash compare, and emit the per-source census of each
    * class (the "what moved between v1 and v2" table every dataset
    * card links). v2 is simulated deterministically from the corpus
    * (every 17th doc dropped, every 13th re-texted, every 19th id
    * shifted into a new range) so both engines derive the same two
    * versions; with a real second snapshot only the two source
    * relations change.
    *
    * Scale shape: one full outer join on doc_id (co-partitioned
    * shuffle of the two versions — the unavoidable diff cost), md5
    * compare map-side, census partial-aggs to |sources|×4 rows. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v1 = Tables.documents(spark, dir)
      .select($"doc_id", $"source", md5($"text").as("h"))
    val v2 = Tables.documents(spark, dir)
      .where($"doc_id" % 17 =!= 0)
      .select(
        when($"doc_id" % 19 === 0, $"doc_id" + 1000000L)
          .otherwise($"doc_id").as("doc_id"),
        $"source",
        when($"doc_id" % 13 === 0, md5(concat($"text", lit(" v2"))))
          .otherwise(md5($"text")).as("h"))
    v1.select($"doc_id", $"source".as("src_a"), $"h".as("h_a"))
      .join(v2.select($"doc_id", $"source".as("src_b"), $"h".as("h_b")),
        Seq("doc_id"), "full_outer")
      .withColumn("status",
        when($"h_a".isNull, "added")
          .when($"h_b".isNull, "removed")
          .when($"h_a" === $"h_b", "unchanged")
          .otherwise("changed"))
      .groupBy(coalesce($"src_a", $"src_b").as("source"), $"status")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** q190: train/test split-leakage audit — after a document-level hash
    * split (the exact q48 assignment, same salt), which TEST documents
    * share most of their content with SOME train document? A doc-level
    * split leaks whenever near-duplicate families straddle the
    * boundary, silently inflating eval scores; this measures that
    * directly: per test doc, the fraction of its distinct 3-gram
    * shingles that appear anywhere in the train split, reporting docs
    * with ≥ 50% overlap. (The q58 contamination shape, turned inward
    * on the pipeline's own split — the audit that motivates
    * cluster-aware splitting.)
    *
    * Scale shape: linear posting-list work only — shingles + split tag
    * in one scan, the train shingle set is a |train-vocab|-row
    * distinct, the test side probes it with an equality join; no doc
    * pair is ever formed. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val split = Sampling.hashSplit(Tables.documents(spark, dir),
        "doc_id", "split",
        Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
      .select($"doc_id", $"split")
    val sh = TextOps.shingled(spark, dir, 3).join(split, "doc_id")
    val trainSh = sh.where($"split" === "train")
      .select($"shingle").distinct().withColumn("__hit", lit(1L))
    sh.where($"split" === "test")
      .join(trainSh, Seq("shingle"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce($"__hit", lit(0L))).as("n_shared"))
      .withColumn("overlap_ppm", expr("(n_shared * 1000000) div n_sh"))
      .where($"overlap_ppm" >= 500000L)
      .select($"doc_id", $"n_sh", $"n_shared", $"overlap_ppm")
  }

  /** q211: cross-source duplication matrix — WHICH sources duplicate
    * WHICH: the q28 near-dup pair graph (simhash hamming ≤ 1) with each
    * endpoint resolved to its source, census'd per unordered source
    * pair. The table a corpus owner reads to find mirror sites, feed
    * overlaps, and licensing double-counting before deciding what to
    * crawl less of; the diagonal (source_a = source_b) is internal
    * redundancy.
    *
    * Scale shape: all corpus-sized work is q28's banded candidate
    * machinery (reused verbatim); the two source lookups are equi-joins
    * against the (doc_id, source) projection — dimension-ish, unhinted
    * so AQE broadcasts while it fits — and the census aggregation is
    * bounded by |sources|². least/greatest canonicalize the pair so the
    * matrix is triangular without a second pass. */
  def dupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    simhashPairs(spark, dir).select($"doc_a", $"doc_b")
      .join(src.select($"doc_id".as("doc_a"), $"source".as("s_a")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("s_b")), "doc_b")
      .select(least($"s_a", $"s_b").as("source_a"),
        greatest($"s_a", $"s_b").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** q213: dedup-threshold sweep — the tuning table behind "what t do
    * we dedup at": one PPJoin pass at the PERMISSIVE floor (t = 0.5)
    * buckets every verified near-dup pair by Jaccard decile, with the
    * cumulative pairs-at-or-above count per decile. Reading the table
    * top-down IS the threshold decision: "t = 0.8 removes N pairs,
    * t = 0.6 removes M" — without re-running the join per candidate t.
    * Deciles are exact integers ((n_shared·10) div union), so the
    * bucket boundary cannot float-drift between engines.
    *
    * Scale shape: the corpus-sized work is one q25 PPJoin at t = 0.5
    * (prefix pruning still applies, just with longer prefixes — the
    * price of sweeping below the production threshold); the decile
    * census is a bounded (≤ 6-row) aggregation and the cumulative sum
    * a window over that bounded relation. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the PPJoin verify stage already carries both cardinalities — no
    // re-join, no shingle recompute
    ngramJaccardOn(TextOps.docsParallel(spark, dir), 0.5)
      .withColumn("decile",
        expr("(n_shared * 10) div (n_a + n_b - n_shared)"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_at_or_above",
        sum($"n_pairs").over(Window.partitionBy(graft.functions.Win.bounded).orderBy($"decile".desc)))
      .select($"decile", $"n_pairs", $"n_at_or_above")
  }

  /** q231: near-dup transitivity audit — what fraction of two-hop
    * (wedge) endpoint pairs in the q28 simhash relation are ALSO
    * directly related? "Similar" is not transitive, and the closure
    * rate is the number that says how badly: at ~25% closure (this
    * corpus), clustering the relation by connected components (q62)
    * merges mostly-NON-similar documents through chains — the measured
    * justification for q230's 2-core (and for verify-stage thresholds
    * generally). The q25 Jaccard relation was evaluated and rejected as
    * the substrate: its score distribution is bimodal here, closure
    * reads 100% at every threshold and the audit is blind.
    *
    * Scale shape: wedge INSTANCES are Σdeg² of the pair graph — the
    * q202 item-CF bound — so wedge CENTERS are degree-capped at
    * [[TransDegCap]] (mirrored in the oracle, the q202 discipline): one
    * 10³-degree hub would otherwise mint 5·10⁵ wedges on its own, and
    * a megahub family says nothing new about transitivity that its
    * first 64 neighbors don't (a mega-family of MUTUAL dups belongs to
    * exact dedup (q24) BEFORE a near-dup audit, the standard funnel
    * order — the cap is the belt to that suspender; ScaleSmoke's
    * megahub axis measures what it buys). The pair relation is
    * materialized once (Ckpt) for its four consumers (degree census,
    * two wedge sides, closure probe); the closure check is one
    * equality join on the (a, c) endpoints; output is a single row. */
  val TransDegCap = 64L

  def transitivityAudit(spark: SparkSession, dir: String): DataFrame =
    transitivityAuditOn(spark, dir, Some(TransDegCap))

  /** transitivityAudit with an optional wedge-center degree cap —
    * `cap = None` is the UNCAPPED variant kept only so ScaleSmoke's
    * megahub mode can demonstrate what the cap buys (never registered
    * as a query). */
  private[graft] def transitivityAuditOn(spark: SparkSession, dir: String,
      cap: Option[Long]): DataFrame = {
    import spark.implicits._
    transitivityAuditPairs(
      Ckpt(simhashPairs(spark, dir).select($"doc_a", $"doc_b"),
        eager = false), cap)
  }

  /** Testable core over any materialized `(doc_a, doc_b)` pair relation
    * — ScaleSmoke's duphub axis injects a synthetic megahub here. */
  private[graft] def transitivityAuditPairs(p: DataFrame,
      cap: Option[Long]): DataFrame = {
    import p.sparkSession.implicits._
    val s = p.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(p.select($"doc_b".as("u"), $"doc_a".as("v")))
    val sc = cap match {
      case Some(d) =>
        val keep = s.groupBy($"u").agg(count(lit(1)).as("du"))
          .where($"du" <= d).select($"u")
        s.join(keep, "u")
      case None => s
    }
    val w = sc.as("x").join(sc.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("c")).distinct()
    val cl = w.join(
      p.select($"doc_a".as("a"), $"doc_b".as("c"), lit(1L).as("closed")),
      Seq("a", "c"), "left")
    cl.agg(count(lit(1)).as("n_wedge_pairs"),
        sum(coalesce($"closed", lit(0L))).as("n_closed"))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_pairs"))))
      .select($"n_pairs", $"n_wedge_pairs", $"n_closed",
        when($"n_wedge_pairs" > 0L,
          expr("(n_closed * 1000000) div n_wedge_pairs"))
          .otherwise(0L).as("closure_ppm"))
  }

  /** q285: Schank–Wagner sampled wedge closure — the UNCAPPED-scale
    * estimator for the q231/q270 family: instead of enumerating
    * Σ C(deg, 2) wedges (which [[TransDegCap]] bounds by DISCARDING hub
    * structure), draw `kSamples` wedges uniformly — a center with
    * probability ∝ C(deg, 2) via one prefix-sum lookup, then a uniform
    * neighbor pair by combinatorial unranking — and probe each for
    * closure (Schank & Wagner, WEA 2005: ±ε at 95% needs O(1/ε²)
    * samples INDEPENDENT of graph size). This is the audit that still
    * answers "is the dup graph cliquey?" when a megahub makes the
    * capped-exact number measure only the graph the cap kept
    * (ScaleSmoke's duphub axis shows the two diverging by design).
    *
    * Determinism: both random draws are md5 streams over the sample
    * index (15 hex digits = 60-bit probe space; the mod-W bias is
    * ≤ W/2⁶⁰, negligible), so the estimate is a pure function of the
    * pair relation — the DuckDB oracle reproduces it row for row.
    * Per-center unranking solves m = C(k,2)+j exactly: a double sqrt
    * seed corrected by ±1 integer CASEs, then exact integer j — both
    * engines land on the identical (j, k).
    *
    * Scale shape: NO wedge enumeration anywhere. Adjacency ranking is
    * per-center windows (bounded by max degree); the center CDF is the
    * q178 two-phase prefix sum (per-segment windows + broadcast
    * offsets, decimal-routed — Σ C(deg,2) can pass 2⁶³); probes are a
    * K-row broadcast against the center intervals; the closure check is
    * K equality lookups. Work is O(|pairs| + K), not O(Σ C(deg, 2)). */
  val WedgeSampleK = 2000L

  def wedgeSample(spark: SparkSession, dir: String): DataFrame =
    wedgeSamplePairs(
      Ckpt(simhashPairs(spark, dir).select(col("doc_a"), col("doc_b")),
        eager = false), WedgeSampleK)

  /** Per-center wedge census shared by [[wedgeChosen]] and the final
    * report: (wtot = Σ C(d,2), n_centers). */
  private def wedgeTot(p: DataFrame): DataFrame = {
    import p.sparkSession.implicits._
    wedgeCw(p).agg(sum($"w").as("wtot"), count(lit(1)).as("n_centers"))
  }

  private def wedgeCw(p: DataFrame): DataFrame = {
    import p.sparkSession.implicits._
    p.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(p.select($"doc_b".as("u"), $"doc_a".as("v")))
      .groupBy($"u").agg(count(lit(1)).as("d"))
      .where($"d" >= 2L)
      .withColumn("w", expr("cast((d * (d - 1)) div 2 as decimal(38,0))"))
  }

  /** The K chosen (center, neighbor-index pair) draws — everything up to
    * (but not including) the adjacency joins. Exposed private[graft] so
    * PlanShapeSpec can pin the probe→CDF interval lookup's plan (it sits
    * behind a lineage-truncation checkpoint in the full query). */
  private[graft] def wedgeChosen(p: DataFrame, kSamples: Long): DataFrame = {
    import p.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val spark = p.sparkSession
    val cw = wedgeCw(p)
    val tot = wedgeTot(p)
    // exclusive prefix sum of w over centers ordered by u — the q178
    // two-phase shape (never one global window): per-segment window
    // cumsum + broadcast per-segment offsets
    val mn = cw.agg(min($"u").as("mnu"), max($"u").as("mxu"))
    val seg = cw.crossJoin(broadcast(mn))
      .withColumn("segw", greatest(lit(1024L).cast(dec),
        expr("((cast(mxu as decimal(38,0)) - mnu) div 256) + 1")))
      .withColumn("seg",
        expr("cast((cast(u as decimal(38,0)) - mnu) div segw as long)"))
    val wSeg = Window.partitionBy($"seg").orderBy($"u".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inSeg = seg.withColumn("cum_in",
      coalesce(sum($"w").over(wSeg), lit(0L).cast(dec)))
    val wOff = Window.partitionBy(graft.functions.Win.bounded)
      .orderBy($"seg".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = inSeg.groupBy($"seg").agg(sum($"w").as("c"))
      .select($"seg", coalesce(sum($"c").over(wOff), lit(0L).cast(dec)).as("off"))
    val centers = inSeg.join(broadcast(offs), "seg")
      .select($"u", $"d", $"w", ($"cum_in" + $"off").as("cum_lo"))
    // probe -> center-interval lookup as a BUCKETED equi-join (the
    // RangeJoin/RangeJoinRule rewrite shape), not a nested-loop: a plain
    // `cum_lo <= pp < cum_lo + w` join evaluates every center row against
    // all K probe intervals (fine at K=2000 constant, a 2000x per-center
    // constant at billion-center scale). Bucket width = wtot/256 — the
    // CDF-domain twin of the 256-segment prefix-sum grid above — is
    // data-dependent, so the static-width rule conf can't express it;
    // the rewrite is inlined with exact decimal div (no double rounding
    // anywhere near 2^63). Each center explodes to its overlapped
    // buckets (Σ <= 256 + 2·n_centers rows), each probe maps to exactly
    // one, so a matching pair meets in precisely one bucket — the hash
    // join needs no post-dedup, only the exact interval re-check.
    val probes = spark.range(kSamples).toDF("i")
      .crossJoin(broadcast(tot))
      .where($"wtot" > 0)
      .select($"i",
        (conv(substring(md5(concat(lit("ws:"), $"i")), 1, 15), 16, 10)
          .cast("long").cast(dec) % $"wtot").as("pp"),
        expr("(wtot div 256) + 1").as("bw"))
      .select($"i", $"pp", expr("cast(pp div bw as long)").as("bucket"))
    val centersB = centers.crossJoin(broadcast(tot))
      .select($"u", $"d", $"w", $"cum_lo",
        expr("(wtot div 256) + 1").as("bw"))
      .withColumn("bucket", explode(sequence(
        expr("cast(cum_lo div bw as long)"),
        expr("cast((cum_lo + w - 1) div bw as long)"))))
    centersB.join(broadcast(probes), Seq("bucket"))
      .where($"pp" >= $"cum_lo" && $"pp" < $"cum_lo" + $"w")
      .withColumn("m",
        (conv(substring(md5(concat(lit("wp:"), $"i")), 1, 15), 16, 10)
          .cast("long").cast(dec) % $"w").cast("long"))
      // unrank m = C(kk,2)+jj: sqrt seed, ±1 integer corrections
      .withColumn("k0", floor((lit(1.0)
        + sqrt(lit(1.0) + $"m".cast("double") * 8)) / 2).cast("long"))
      .withColumn("k1",
        when(expr("(k0 * (k0 - 1)) div 2") > $"m", $"k0" - 1).otherwise($"k0"))
      .withColumn("kk",
        when(expr("((k1 + 1) * k1) div 2") <= $"m", $"k1" + 1).otherwise($"k1"))
      .withColumn("jj", $"m" - expr("(kk * (kk - 1)) div 2"))
      .select($"i", $"u", $"jj", $"kk")
  }

  /** Testable core over any canonical (doc_a < doc_b) pair relation. */
  private[graft] def wedgeSamplePairs(p: DataFrame,
      kSamples: Long): DataFrame = {
    import p.sparkSession.implicits._
    val s = p.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(p.select($"doc_b".as("u"), $"doc_a".as("v")))
    // neighbor index per center: v asc — a per-center window, bounded
    // by max degree (parallel across centers)
    val adj = s.withColumn("idx", row_number().over(
      Window.partitionBy($"u").orderBy($"v".asc)).cast("long") - 1L)
    val tot = wedgeTot(p)
    val chosen = wedgeChosen(p, kSamples)
    // truncate the K-row chosen relation's PLAN before the adjacency
    // joins: re-planning the interval-join subtree under two stacked hash
    // joins is pathological (measured 282 s -> 0.9 s on the duphub
    // megahub), and K rows are bounded by construction. Lazy: the
    // LogicalRDD truncation (the fix) happens at plan time either way,
    // but lazy keeps BUILDING this frame job-free — PipelineSql.register
    // constructs the view without running the pipeline.
    val chosenM = Ckpt(chosen, eager = false)
    val sampled = chosenM
      .join(adj.select($"u", $"idx".as("jj"), $"v".as("a")), Seq("u", "jj"))
      .join(adj.select($"u", $"idx".as("kk"), $"v".as("c")), Seq("u", "kk"))
      .select($"i", least($"a", $"c").as("lo"), greatest($"a", $"c").as("hi"))
    val cl = sampled.join(
      p.select($"doc_a".as("lo"), $"doc_b".as("hi"), lit(1L).as("closed")),
      Seq("lo", "hi"), "left")
    cl.agg(count(lit(1)).as("k_samples"),
        sum(coalesce($"closed", lit(0L))).as("n_closed"))
      .crossJoin(broadcast(tot))
      .select($"n_centers",
        $"wtot".cast("long").as("n_wedges"),
        $"k_samples", $"n_closed",
        when($"k_samples" > 0L,
          expr("(n_closed * 1000000) div k_samples"))
          .otherwise(0L).as("est_ppm"))
  }

  /** q291: cross-source 8-gram contamination matrix — for every ordered
    * source pair (a, b): how many of a's documents share at least one
    * 8-token shingle with ANY document of b. The train/test-
    * contamination screen scaled to the corpus level (the reason
    * published-benchmark leakage audits exist; q190 runs the same idea
    * WITHIN a split assignment, this runs it between FEEDS before any
    * split exists): a feed pair with a high ordered rate means
    * ingesting both is double-counting, and the asymmetry says which
    * side is the copier (a mirrors b ⇒ rate(a→b) ≫ rate(b→a) when b is
    * the larger original).
    *
    * Scale shape: shingling is the native map-only kernel; source
    * shingle SETS are one distinct; the probe is an equality join on
    * the shingle — per shingle the work is docs(sh)·sources(sh) ≤
    * |postings|·|sources|, LINEAR in shingle volume (sources is a
    * small constant), and the distinct collapses straight to
    * ≤ |docs|·|sources| verdict rows. No pair-of-docs relation ever
    * forms — unlike dedup, contamination only needs doc×source. */
  def ngramContam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docSh = graft.operators.TextOps.docsParallel(spark, dir)
      .select($"source", $"doc_id",
        explode(TextOps.shingles(TextOps.toks($"text"), 8)).as("sh"))
    val ss = docSh.select($"source".as("src_b"), $"sh").distinct()
    val hits = docSh.join(ss, Seq("sh"))
      .where($"src_b" =!= $"source")
      .select($"source".as("src_a"), $"src_b", $"doc_id").distinct()
    val per = hits.groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_contam"))
    val tot = graft.operators.TextOps.docsParallel(spark, dir)
      .groupBy($"source".as("src_a")).agg(count(lit(1)).as("n_docs_a"))
    // full ordered-pair grid so clean pairs report an explicit zero
    val pairs = tot.crossJoin(broadcast(tot.select($"src_a".as("src_b"))))
      .where($"src_a" =!= $"src_b")
    pairs.join(per, Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b", $"n_docs_a",
        coalesce($"n_contam", lit(0L)).as("n_contam"))
      .withColumn("contam_ppm", expr("(n_contam * 1000000) div n_docs_a"))
  }

  /** q270: local clustering-coefficient histogram of the near-dup
    * graph — per node, cc(v) = closed wedges at v / C(deg v, 2),
    * bucketed at deciles. The STRUCTURE refinement of q231's single
    * closure number: a dup graph whose mass sits at cc ≈ 1 is clean
    * clique families (whole-cluster dedup is safe); mass at low cc is
    * chain/star topology where connected components over-merge and the
    * q230 2-core / per-pair verification is mandatory. Reading this
    * histogram is how the cluster-vs-pairwise dedup policy call is
    * made.
    *
    * Scale shape: wedge enumeration is Σ C(deg, 2) over CENTERS, so
    * centers ride the same [[TransDegCap]] as q231 (mirrored in the
    * oracle; a 10³-degree template hub would mint 5·10⁵ wedges and its
    * cc is already known to be degenerate — q202's cap discipline).
    * The pair relation is Ckpt'd once for its three consumers
    * (degrees, wedge sides, closure probe); closure is one equality
    * join on canonical (a < c) endpoints; output is ≤ 11 buckets. */
  def localClustering(spark: SparkSession, dir: String): DataFrame =
    localClusteringPairs(
      Ckpt(simhashPairs(spark, dir).select(col("doc_a"), col("doc_b")),
        eager = false), TransDegCap)

  /** Testable core over any canonical (doc_a < doc_b) pair relation. */
  private[graft] def localClusteringPairs(p: DataFrame,
      cap: Long): DataFrame = {
    import p.sparkSession.implicits._
    val s = p.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(p.select($"doc_b".as("u"), $"doc_a".as("v")))
    val deg = s.groupBy($"u").agg(count(lit(1)).as("d"))
    val ctr = deg.where($"d" >= 2L && $"d" <= cap)
    val sc = s.join(ctr.select($"u"), "u")
    val w = sc.as("x").join(sc.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("u"), col("x.v").as("a"), col("y.v").as("c"))
    val t = w.join(
        p.select($"doc_a".as("a"), $"doc_b".as("c"), lit(1L).as("hit")),
        Seq("a", "c"), "left")
      .groupBy($"u").agg(sum(coalesce($"hit", lit(0L))).as("t"))
    ctr.join(t, Seq("u"), "left")
      .select(expr("(coalesce(t, 0) * 2000000) div (d * (d - 1))")
        .as("cc_ppm"))
      .groupBy(expr("cc_ppm div 100000").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum($"cc_ppm").as("sq"))
      .select($"bucket", $"n_nodes",
        expr("sq div n_nodes").as("mean_cc_ppm"))
  }

  /** q243: lexical↔semantic dedup agreement — how much of the exact
    * 3-gram-Jaccard pair relation (q25's PPJoin at t=0.5) does the
    * embedding-cosine relation (q37's banded sign-LSH at cos≥0.4) find,
    * and vice versa? The decision this audit feeds is WHICH dedup
    * family a corpus needs: high recall-vs-lex means the embedding pass
    * subsumes the lexical one (paraphrase-heavy corpora); low means
    * surface duplication the embedding space smooths over (template
    * families) — run both, in the q24-first funnel order. doc_id and
    * vec_id share the id space by construction (the embedding of doc i
    * is row i — the q75 clusterTerms contract).
    *
    * On THIS testdata the agreement reads exactly 0: the synthetic
    * embeddings are generated independently of the text, so neither
    * relation predicts the other — which is precisely the finding the
    * audit exists to surface (an embedding model that doesn't encode
    * the similarity your dedup policy assumes is a silent no-op pass).
    *
    * Scale shape: the two pair relations are each Ckpt'd once (both
    * sides' pipelines are the expensive part; the audit adds one
    * co-partitioned equality join on the canonical (a < b) pair key and
    * three 1-row aggregates). All ratios are exact integer ppm. */
  def lexSemAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lex = Ckpt(ngramJaccardOn(TextOps.docsParallel(spark, dir), 0.5)
      .select($"doc_a", $"doc_b"), eager = false)
    val sem = Ckpt(Similarity.cosineNearDup(spark, dir)
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")), eager = false)
    val nl = lex.agg(count(lit(1)).as("n_lex"))
    val ns = sem.agg(count(lit(1)).as("n_sem"))
    val nb = lex.join(sem, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_both"))
    nl.crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .select($"n_lex", $"n_sem", $"n_both",
        when($"n_lex" > 0L, expr("(n_both * 1000000) div n_lex"))
          .otherwise(0L).as("recall_vs_lex_ppm"),
        when($"n_sem" > 0L, expr("(n_both * 1000000) div n_sem"))
          .otherwise(0L).as("precision_vs_lex_ppm"),
        when($"n_lex" + $"n_sem" - $"n_both" > 0L,
          expr("(n_both * 1000000) div (n_lex + n_sem - n_both)"))
          .otherwise(0L).as("pair_jaccard_ppm"))
  }

  /** The (bands, rows) grid q252 evaluates — br = 16 minhashes each, so
    * the comparison isolates the banding SHAPE, not the signature
    * budget. Shared with the oracle builder in SparkEntry. */
  private[graft] val lshConfigs = Seq((16, 1), (8, 2), (4, 4), (2, 8))

  /** q252: LSH operating characteristic — before committing a (bands,
    * rows) shape for MinHash LSH (q26 ships b=4/r=4), score every
    * candidate shape against the corpus's OWN similarity profile: the
    * banding S-curve P(candidate | J=j) = 1 − (1 − j^r)^b (the standard
    * MinHash-LSH amplification bound) evaluated at each observed Jaccard
    * decile of q213's verified-pair histogram, plus the expected recall
    * each shape would achieve on exactly those pairs. The "which curve
    * fits OUR near-dup mass" table — a corpus whose dup pairs sit at
    * J≈0.55 needs many narrow bands; one whose pairs are J≈0.95 clones
    * affords r=8 — computed without running a single extra join.
    *
    * Exactness: j at the decile midpoint on the percent grid; j^r and
    * (100^r − j^r)^b by unrolled decimal(38,0) multiplication (integer-
    * exact up to the 9.8e37 worst case, inside decimal38/HUGEINT range);
    * the one division per cell runs on correctly-rounded doubles and
    * floors with the +1/3 offset. Expected recall is pure long
    * arithmetic on the resulting ppm grid.
    *
    * Scale shape: rides q213's single PPJoin pass; everything after the
    * histogram is arithmetic on ≤6 rows × 4 configs. Output: ≤24 rows. */
  def lshOperatingCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the ≤11-row histogram feeds FOUR union branches in lshCurveOn —
    // without truncation each branch re-plans (and AQE re-executes) the
    // entire PPJoin pipeline: 48 parquet scans / 48 exchanges in the
    // before-plan vs 12 after
    lshCurveOn(Ckpt(thresholdSweep(spark, dir)
      .select($"decile", $"n_pairs",
        least($"decile" * 10L + 5L, lit(100L)).as("jc")), eager = false))
  }

  /** Testable core over any `(decile, n_pairs, jc)` histogram, jc the
    * Jaccard midpoint on the percent grid. */
  private[graft] def lshCurveOn(hist: DataFrame): DataFrame = {
    import hist.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    def ppow(c: Column, n: Int): Column =
      (1 until n).foldLeft(c)((acc, _) => acc * c)
    val perCfg = lshConfigs.map { case (b, r) =>
      val a = ppow($"jc".cast(dec), r)
      val bb = ppow(lit(100L).cast(dec), r) - a
      val cc = ppow(bb, b)
      val dd = ppow(lit(100L).cast(dec), r * b)
      hist.select(lit(b.toLong).as("b"), lit(r.toLong).as("r"),
        $"decile", $"jc", $"n_pairs",
        (lit(1000000L) - floor(cc.cast("double") * 1e6
          / dd.cast("double") + lit(1.0 / 3)).cast("long")).as("p_ppm"))
    }.reduce(_ union _)
    val w = Window.partitionBy($"b", $"r")
    // caught accumulates n_pairs * p_ppm — at corpus scale that product
    // is ~1e12 * 1e6 = 1e18 per decile and the SUM exceeds long, while
    // the oracle sums into HUGEINT. Decimal-before-multiply (the repo's
    // q224 discipline) keeps both engines exact; `div` on decimal(38,0)
    // is Spark's IntegralDivide and returns the exact long quotient.
    perCfg
      .withColumn("caught", sum($"n_pairs".cast(dec) * $"p_ppm").over(w))
      .withColumn("tot", sum($"n_pairs".cast(dec)).over(w))
      .select($"b", $"r", $"decile", $"jc", $"n_pairs", $"p_ppm",
        expr("caught div tot").as("recall_ppm"))
  }

  /** q257: Fellegi–Sunter field weights — the probabilistic record-
    * linkage scoring table (Fellegi & Sunter 1969, the backbone of
    * every production entity-resolution system): for each blocking-
    * independent field, m = P(field agrees | matched pair) estimated on
    * the q28 near-dup relation, u = P(field agrees | random pair)
    * estimated on the hash-adjacent exchangeable baseline (q217's
    * trick — salted-hash order is a deterministic random permutation,
    * so consecutive pairs are an unbiased u-sample with no pair
    * explosion), and the log-likelihood-ratio weight log2(m/u) a
    * linkage rule sums per candidate. Add-one smoothing keeps both
    * probabilities off 0/1 (a field that always agrees on dups would
    * otherwise emit an infinite weight).
    *
    * Fields: lang, source, global length decile (q216's grid), first
    * token — cheap agreement predicates a real linker starts from.
    *
    * Exactness: counts are exact longs; m/u land on the ppm grid by
    * integer division; the one ln per field runs on those exact ppm
    * doubles and floors at milli with the +1/3 offset (the q87 libm
    * discipline).
    *
    * Scale shape: the feature frame materializes once (Ckpt) and joins
    * both pair relations co-partitioned on doc id; the baseline rides
    * [[segmentedRank]] over narrow (hash, doc_id) rows — parallel
    * per-segment windows, never one global one — with adjacency as a
    * co-partitioned rank+1 equality join; everything aggregates to two
    * 1-row relations. Output: 4 rows. */
  def fsWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = TextOps.docsParallel(spark, dir)
    val g = docs.groupBy($"n_chars").agg(count(lit(1)).as("cnt"))
    val wGt = Window.partitionBy(graft.functions.Win.bounded).orderBy($"n_chars".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(graft.functions.Win.bounded).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val deciles = g
      .withColumn("cum_gt", coalesce(sum($"cnt").over(wGt), lit(0L)))
      .withColumn("n_tot", sum($"cnt").over(wAll))
      .select($"n_chars", expr("(cum_gt * 10) div n_tot + 1").as("dec10"))
    val feat = Ckpt(docs
      .join(broadcast(deciles), "n_chars")
      .select($"doc_id", $"lang", $"source", $"dec10",
        element_at(split($"text", " "), 1).as("tok1")), eager = false)
    def agree(pairs: DataFrame): DataFrame = pairs
      .join(feat.select($"doc_id".as("doc_a"), $"lang".as("la"),
        $"source".as("sa"), $"dec10".as("da"), $"tok1".as("ta")), "doc_a")
      .join(feat.select($"doc_id".as("doc_b"), $"lang".as("lb"),
        $"source".as("sb"), $"dec10".as("db"), $"tok1".as("tb")), "doc_b")
      .agg(count(lit(1)).as("n"),
        sum(when($"la" === $"lb", 1L).otherwise(0L)).as("c_lang"),
        sum(when($"sa" === $"sb", 1L).otherwise(0L)).as("c_source"),
        sum(when($"da" === $"db", 1L).otherwise(0L)).as("c_decile"),
        sum(when($"ta" === $"tb", 1L).otherwise(0L)).as("c_tok1"))
    val matched = agree(simhashPairs(spark, dir)
      .select($"doc_a", $"doc_b"))
    // hash-adjacent baseline via the q178 segmented global rank — NOT
    // a lead() over one global window (which serializes the whole
    // corpus through a single partition); consecutive-rank self-join
    // yields the identical (rank i, rank i+1) pair set
    val rr = segmentedRank(feat.select($"doc_id",
      md5(concat(lit("fs:"), $"doc_id".cast("string"))).as("hk")), "hk")
      .select($"doc_id", $"rn")
    val baseline = agree(rr.as("a")
      .join(rr.as("b"), col("b.rn") === col("a.rn") + 1L)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
    val m = matched.select(expr(
      "stack(4, 'lang', c_lang, 'source', c_source, 'decile', c_decile, " +
        "'tok1', c_tok1)").as(Seq("field", "m_cnt")), $"n".as("n_m"))
    val u = baseline.select(expr(
      "stack(4, 'lang', c_lang, 'source', c_source, 'decile', c_decile, " +
        "'tok1', c_tok1)").as(Seq("field", "u_cnt")), $"n".as("n_u"))
    m.join(u, "field")
      .select($"field",
        expr("((m_cnt + 1) * 1000000) div (n_m + 2)").as("m_ppm"),
        expr("((u_cnt + 1) * 1000000) div (n_u + 2)").as("u_ppm"))
      .withColumn("weight_milli",
        // 1442.695... = 1000/ln 2 as one shared literal — no second
        // engine-ln whose last ulp could differ
        floor(log($"m_ppm".cast("double") / $"u_ppm".cast("double"))
          * lit(1442.6950408889634) + lit(1.0 / 3)).cast("long"))
  }

  /** q259: content-defined-chunking dedup census — the storage-side
    * dedup family (rsync/LBFS/backup dedup) applied at token
    * granularity: a token closes its chunk iff the first hex digit of
    * its md5 is >= 'c' (P = 1/4, mean chunk ~4 tokens), so chunk
    * boundaries move WITH the content — an insertion re-chunks only its
    * neighborhood instead of shifting every downstream fixed-width
    * block (the content-defined property that makes CDC robust where
    * fixed-size chunking is not). Chunks sharing an md5 of their joined
    * tokens are duplicates; the census reports, per source, how much
    * sub-document redundancy exact/near dedup (q24/q26, whole-doc
    * granularity) cannot see: boilerplate headers, quoted replies,
    * license blocks.
    *
    * Scale shape: the prefix-sum window partitions per doc_id (bounded
    * by document length, never corpus-wide); chunk assembly is one
    * (doc, chunk) groupBy whose collect_list is bounded by the
    * geometric chunk length; the census is two partial-agged groupBys
    * on (source, chunk-hash) then (source). No pairing step exists at
    * all — dup detection is hash-equality, linear in corpus tokens.
    * The ppm ratio routes through decimal(38,0): at 100 TB n_chunks
    * ~2.5e12 and the 1e6 cross-multiply would sit one order from long
    * wrap. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOn(TextOps.docsParallel(spark, dir))

  /** The q259 chunker as a reusable relation: one row per (doc, chunk)
    * with its token length and content hash. `carry` names doc-level
    * columns to keep alongside (q259 carries `source`; the streaming
    * chunk-novelty gate carries nothing). Shared so the batch census
    * and the ingest gate can never chunk differently. */
  private[graft] def cdcChunkRelation(docs: DataFrame,
      carry: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    val cs = carry.map(col)
    val toks = docs
      .select($"doc_id" +: cs :+
        posexplode(TextOps.toks($"text")).as(Seq("pos", "tok")): _*)
    val wPrev = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = when(substring(md5($"tok"), 1, 1) >= "c", 1L).otherwise(0L)
    toks
      .withColumn("chunk", coalesce(sum(boundary).over(wPrev), lit(0L)))
      .groupBy($"doc_id" +: cs :+ $"chunk": _*)
      .agg(count(lit(1)).as("len"),
        md5(array_join(transform(array_sort(collect_list(struct($"pos", $"tok"))),
          x => x.getField("tok")), " ")).as("chash"))
  }

  private[graft] def cdcChunksOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    cdcChunkRelation(docs, Seq("source")).groupBy($"source", $"chash")
      .agg(count(lit(1)).as("cnt"), max($"len").as("len"))
      .groupBy($"source")
      .agg(sum($"cnt").as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(($"cnt" - 1L) * $"len").as("dup_tokens"))
      .select($"source", $"n_chunks", $"n_distinct_chunks",
        expr("""(cast(n_chunks - n_distinct_chunks as decimal(38,0))
                 * 1000000) div n_chunks""").cast("long").as("dup_chunk_ppm"),
        $"dup_tokens")
  }

  /** q316: exact-substring duplication COVERAGE per document — the
    * deletion target the q306 suffix order exists to feed (Lee et al.
    * 2021 §4: mark every position whose suffix shares a ≥L-char prefix
    * with a suffix of ANOTHER document, merge the marked ranges, count
    * the chars). q306 reports each doc's single longest cross-doc
    * repeat; this reports how much of the doc is duplicated text at
    * all — the number a dedup policy actually budgets against.
    *
    * Method: in global suffix order, a suffix's best cross-doc LCP is
    * max(LCP to its nearest other-doc neighbor above, below), and by
    * the classic range-min lemma LCP(sᵢ, sⱼ) = min of ADJACENT LCPs
    * over (i, j] — so both directions are segmented running mins of
    * the adjacent-LCP relation within runs of consecutive same-doc
    * rows (the run boundary IS the nearest other-doc neighbor).
    * Positions with best-LCP ≥ L become [pos, pos+LCP) spans; the
    * per-doc gaps-and-islands merge (q214's pattern) yields covered
    * chars. A missing neighbor (global first/last row) enters the min
    * as −1, which can never clear L.
    *
    * Determinism under rank ties: rows tying on (sfx, doc_id) are
    * byte-identical suffixes of one doc at different positions — any
    * interleaving yields the same adjacent-LCP multiset and the same
    * per-row best-LCP, so the hash gate is order-free (same argument
    * as q306).
    *
    * Scale shape: one suffix scan, the q178 two-phase rank, ONE
    * rn-equijoin for adjacent LCPs (6-probe binary search), then only
    * per-(doc, run) and per-doc windows — all partitioned, nothing
    * global after the rank. Linear in word-start positions. */
  def dupCoverage(spark: SparkSession, dir: String): DataFrame =
    dupCoverageOn(TextOps.docsParallel(spark, dir), minLen = 20)

  /** Testable core over any `(doc_id, text)` relation. */
  private[graft] def dupCoverageOn(docs: DataFrame, minLen: Int)
      : DataFrame = {
    import docs.sparkSession.implicits._
    val cap = SuffixCap
    // word-start positions come from the single-pass native generator —
    // pinned row-identical (incl. the empty-string quirk) to the per-char
    // explode(sequence) + two substring filters it replaced, which
    // materialized ~5x more rows only to drop them (TextHashSpec)
    val sfx = docs
      .select($"doc_id", $"text",
        explode(graft.functions.TextHash.wordStarts($"text")).as("pos"))
      .select($"doc_id", $"pos".cast("long").as("pos"),
        expr(s"substring(text, pos, $cap)").as("sfx"))
    // two consumers (the two shifted sides of the boundary join) — the
    // checkpoint-pays-iff-the-reused-subtree-shuffles rule
    val ranked = Ckpt(segmentedRank(sfx, "sfx")
      .select($"doc_id", $"pos", $"sfx", $"rn"), eager = false)
    // carry BOTH rows' (doc_id, pos) on the boundary so each boundary can
    // credit both sides directly — the old shape joined `ranked` back
    // against the adjacency relation TWICE (two more shuffle joins and a
    // full reshuffle of `ranked`); a boundary's lcp reaching row rn as
    // lcp_next and row rn+1 as lcp_prev is the same association realized
    // as one union + groupBy. A side a boundary never reaches (the global
    // first/last row) stays at the -1 the union seeds, exactly the old
    // left-join coalesce(-1).
    val joined = ranked.select($"doc_id".as("da"), $"pos".as("pa"),
        $"sfx".as("sa"), $"rn")
      .join(ranked.select($"doc_id".as("db"), $"pos".as("pb"),
        $"sfx".as("sb"), ($"rn" - 1L).as("rn")), "rn")
    val withL = Seq(32, 16, 8, 4, 2, 1)
      .foldLeft(joined.withColumn("l", lit(0))) { (df, s) =>
        df.withColumn("l", expr(
          s"CASE WHEN substring(sa, 1, l + $s) = substring(sb, 1, l + $s)" +
            s" THEN l + $s ELSE l END"))
      }
    // two consumers (the two union directions below)
    val bnd = Ckpt(withL.select($"rn", $"da", $"pa", $"db", $"pb",
      expr("CAST(least(l, length(sa), length(sb)) AS BIGINT)").as("lcp")),
      eager = false)
    val rows = bnd.select($"da".as("doc_id"), $"pa".as("pos"), $"rn",
        lit(-1L).as("lp0"), $"lcp".as("ln0"))
      .unionAll(bnd.select($"db".as("doc_id"), $"pb".as("pos"),
        ($"rn" + 1L).as("rn"), $"lcp".as("lp0"), lit(-1L).as("ln0")))
      .groupBy($"doc_id", $"pos", $"rn")
      .agg(max($"lp0").as("lp"), max($"ln0").as("ln2"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"rn")
    val withRun = rows.withColumn("run",
      $"rn" - row_number().over(wDoc).cast("long"))
    val wUp = Window.partitionBy($"doc_id", $"run").orderBy($"rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = Window.partitionBy($"doc_id", $"run").orderBy($"rn")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val marked = withRun
      .withColumn("p", min($"lp").over(wUp))
      .withColumn("nn", min($"ln2").over(wDn))
      .withColumn("m", greatest($"p", $"nn"))
      .where($"m" >= minLen.toLong)
      .select($"doc_id", $"pos", ($"pos" + $"m").as("e"))
    val wSpan = Window.partitionBy($"doc_id").orderBy($"pos", $"e")
    val isl = marked
      .withColumn("maxe", max($"e").over(
        wSpan.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newi",
        when($"maxe".isNull || $"pos" > $"maxe", 1L).otherwise(0L))
      .withColumn("isl", sum($"newi").over(
        wSpan.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = isl.groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("s"), max($"e").as("e2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"), sum($"e2" - $"s").as("covered"))
    docs.select($"doc_id", length($"text").cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"covered", lit(0L)).as("covered_chars"),
        expr("(coalesce(covered, 0) * 1000000) div n_chars")
          .as("coverage_ppm"))
  }

  /** q312: ensemble dedup — the production blocking composition: exact
    * (md5), MinHash-LSH (q26), and SimHash (q28) candidates UNIONED
    * into one detector-tagged pair relation, connected components run
    * ONCE over the combined graph, and the agreement census reported
    * per detector mask (mask = Σ of distinct detector bits: 1 =
    * minhash, 2 = simhash, 4 = exact). This is how real pipelines
    * dedup — no single detector's recall is trusted alone (exact
    * misses near-dups, minhash misses short docs, simhash misses
    * re-orderings), and the mask histogram is the standing audit of
    * how much each detector uniquely contributes.
    *
    * Output grain: one row per observed mask plus one 'union' summary
    * row carrying the combined-graph cluster stats (mask rows carry -1
    * there — no NULLs so the hash gate stays engine-portable).
    *
    * Scale shape: each detector keeps its own banded/blocked candidate
    * discipline; the union adds one (doc_a, doc_b) partial-agged
    * groupBy; CC runs once on the combined pair set (the q62 fixpoint,
    * shared not repeated — running CC per detector would triple the
    * iterative cost for numbers the mask census already implies). */
  def ensembleDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mh = minhashLsh(spark, dir)
      .select($"doc_a", $"doc_b", lit(1L).as("det"))
    val sh = simhashPairs(spark, dir)
      .select($"doc_a", $"doc_b", lit(2L).as("det"))
    val hashed = TextOps.docsParallel(spark, dir)
      .select($"doc_id", md5($"text").as("h"))
    val ex = hashed.as("a").join(hashed.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        lit(4L).as("det"))
    val pairs = Ckpt(mh.unionByName(sh).unionByName(ex)
      .groupBy($"doc_a", $"doc_b")
      .agg(sum_distinct($"det").as("mask")), eager = false)
    val perMask = pairs.groupBy($"mask").agg(count(lit(1)).as("n_pairs"))
      .select(concat(lit("mask_"), $"mask".cast("string")).as("part"),
        $"n_pairs", lit(-1L).as("n_clusters"), lit(-1L).as("max_cluster"))
    val nodes = pairs.select($"doc_a".as("doc_id"))
      .unionAll(pairs.select($"doc_b".as("doc_id"))).distinct()
    val sizes = Graph.connectedComponents(
        pairs.select($"doc_a", $"doc_b"), nodes)
      .groupBy($"comp").agg(count(lit(1)).as("sz"))
    val unionRow = pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(sizes.agg(count(lit(1)).as("n_clusters"),
        max($"sz").as("max_cluster")))
      .select(lit("union").as("part"), $"n_pairs", $"n_clusters",
        $"max_cluster")
    perMask.unionByName(unionRow)
  }

  /** q306: longest CROSS-DOCUMENT repeated substring per doc — the
    * suffix-array dedup primitive (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every n-gram family
    * (q25/q291) fixes the match length in advance; the suffix order
    * finds the longest verbatim overlap at CHARACTER granularity
    * without choosing n. Word-start suffixes (the standard stride that
    * never splits a token) are truncated to [[SuffixCap]] chars — the
    * truncated-prefix sort is exactly round ⌈log₂ cap⌉ of
    * prefix-doubling suffix ranking, sufficient whenever the reported
    * LCP is below the cap, and the cap is the operator's explicit
    * contract (a 100 TB run raises it or chains a second doubling
    * round on the capped survivors only).
    *
    * Correctness of the adjacent-pair reduction: for suffixes i < j in
    * sorted order, LCP(i,j) = min of adjacent LCPs over [i, j); if i
    * and j come from different docs, SOME adjacent boundary in [i, j)
    * changes doc, and its LCP ≥ the range min — so the per-doc max
    * over adjacent different-doc pairs (credited to both sides) equals
    * the true per-doc max over ALL cross-doc suffix pairs. Rows are
    * distinct (doc_id, suffix) so the global (sfx, doc_id) order is
    * unique and the rank deterministic.
    *
    * Scale shape: the global sort is the q178 two-phase segmentedRank
    * (parallel per-first-char windows + broadcast prefix offsets — no
    * single-partition window); the neighbor pair is one co-partitioned
    * equi-join on rank; the LCP is a bounded 48-position map-side
    * compare. Everything is linear in total word-start positions. */
  val SuffixCap = 48
  def suffixDup(spark: SparkSession, dir: String): DataFrame =
    suffixDupOn(TextOps.docsParallel(spark, dir))

  /** Testable core over any `(doc_id, text)` relation. */
  private[graft] def suffixDupOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val cap = SuffixCap
    // same native word-start generator as dupCoverageOn (row-identity
    // pinned in TextHashSpec against the explode+filter pipeline)
    val sfx = docs
      .select($"doc_id", $"text",
        explode(graft.functions.TextHash.wordStarts($"text")).as("pos"))
      .select($"doc_id", expr(s"substring(text, pos, $cap)").as("sfx"))
      .distinct()
      // two consumers (the rank pipeline and the per-doc suffix census)
      // — without truncation the char-explode + distinct runs twice
      .transform(df => Ckpt(df, eager = false))
    val ranked = segmentedRank(sfx, "sfx").select($"doc_id", $"sfx", $"rn")
    // LCP by 6-probe binary search on the monotone prefix-equality
    // predicate — 6 memcmp-style prefix compares per pair instead of
    // the 48-iteration per-char lambda (measured the dominant cost of
    // the whole query: 4.5 s -> see COVERAGE). Equivalence: P(k) =
    // "prefix-k strings equal" is monotone in k (substring truncates at
    // the string end, so a length mismatch fails at the first k past
    // the shorter string unless the strings are identical); the search
    // finds max k with P(k), and the final least() re-caps by the
    // actual lengths for the identical-string run case.
    val joined = ranked.select($"doc_id".as("doc_a"), $"sfx".as("sa"), $"rn")
      .join(ranked.select($"doc_id".as("doc_b"), $"sfx".as("sb"),
        ($"rn" - 1L).as("rn")), "rn")
      .where($"doc_a" =!= $"doc_b")
    // one chained projection per probe keeps the expression LINEAR (a
    // nested single expression would copy the accumulator 3^6 times)
    val withL = Seq(32, 16, 8, 4, 2, 1)
      .foldLeft(joined.withColumn("l", lit(0))) { (df, s) =>
        df.withColumn("l", expr(
          s"CASE WHEN substring(sa, 1, l + $s) = substring(sb, 1, l + $s)" +
            s" THEN l + $s ELSE l END"))
      }
    val pairs = withL
      .withColumn("lcp",
        expr("CAST(least(l, length(sa), length(sb)) AS BIGINT)"))
      .select($"doc_a", $"doc_b", $"lcp",
        expr("substring(sa, 1, cast(lcp as int))").as("sub"))
    val credited = pairs.select($"doc_a".as("doc_id"), $"lcp", $"sub")
      .unionAll(pairs.select($"doc_b".as("doc_id"), $"lcp", $"sub"))
    val nSfx = sfx.groupBy($"doc_id").agg(count(lit(1)).as("n_sfx"))
    credited.groupBy($"doc_id")
      .agg(max(struct($"lcp", $"sub")).as("top"))
      .select($"doc_id", $"top.lcp".as("max_lcp"), $"top.sub".as("top_sub"))
      .join(nSfx, "doc_id")
      .select($"doc_id", $"n_sfx", $"max_lcp", $"top_sub")
  }
}
