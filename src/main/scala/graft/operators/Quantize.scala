package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, VectorOps}
import graft.sources.Tables

/** Embedding compression + codebook operators — the storage-side
  * counterparts of the similarity search family (Similarity.scala): int8
  * scalar quantization (what a 100 TB vector store actually persists) and
  * a k-means codebook refinement step (how the IVF coarse quantizer in
  * Similarity.ivfAnn would actually be trained).
  *
  * It is also the one home of the vector distance rules, which the
  * operators here and in Similarity and the streaming novelty gate call:
  * the driver dot ([[dotD]], [[norm]]), the coarse-cell rule
  * ([[cellOf]], [[rankCells]]), the L2 nearest-centre rule
  * ([[nearestCentre]], [[nearestDistQ]]), the nearest-code rule
  * ([[nearestCode]], [[pqCode]]) and its driver twin ([[nearestCodeD]]),
  * the ADC lookup table ([[adcLut]]) and the bounding-box reference
  * points ([[boxPoints]]). It also holds the int8 scalar code rule
  * ([[int8Scale]], [[int8Codes]]) and the driver-side Lloyd update
  * ([[lloydMeans]]).
  */
object Quantize {

  /** A collected codebook: (id, centroid with its floats widened to
    * double, the centroid's L2 norm), sorted by id. The coarse-cell rule,
    * the PQ code rule and the ADC table below all read one; each caller
    * picks where its codebook comes from (the first k vectors, Lloyd
    * refinement, a streamed artifact). */
  private[graft] type Codebook = Array[(Long, Array[Double], Double)]

  /** Collect the `(vec_id, embedding)` rows the caller chose as
    * centroids (`vec_id < 8`, the k lowest ids, ...) into a codebook. */
  private[graft] def collectCodebook(rows: DataFrame): Codebook = {
    import rows.sparkSession.implicits._
    rows.select($"vec_id", transform($"embedding", x => x.cast("double")),
        VectorOps.l2norm($"embedding"))
      .as[(Long, Array[Double], Double)].collect().sortBy(_._1)
  }

  /** The codebook of explicit driver-side centroids (a streamed or
    * persisted quantizer artifact). */
  private[graft] def codebook(cents: Array[(Long, Array[Double])]): Codebook =
    cents.map { case (id, c) => (id, c, norm(c)) }

  /** `VectorOps.dot` on the driver: the same left-to-right sum from 0.0,
    * so a driver dot (a sum of squares, a LUT entry) and an in-engine dot
    * are the same double. */
  private[graft] def dotD(a: collection.Seq[Double], b: collection.Seq[Double]): Double =
    a.iterator.zip(b.iterator).foldLeft(0.0) { case (s, (x, y)) => s + x * y }

  /** `VectorOps.l2norm` on the driver: the square root of [[dotD]]. */
  private[graft] def norm(c: collection.Seq[Double]): Double = math.sqrt(dotD(c, c))

  /** The coarse-cell rule: every cell scored for the row's vector `emb`
    * (norm `nrm`) as struct(cosine, −id), so struct order is the ranking
    * (cosine desc, id asc) — the oracle's `ORDER BY ccos DESC, cent_id
    * ASC`. The dots widen floats to double, so a float or a double `emb`
    * scores the same. */
  private def cellScores(emb: Column, nrm: Column, cb: Codebook): Column =
    array(cb.map { case (id, c, cn) =>
      struct((VectorOps.dot(emb, lit(c)) / (nrm * cn)).as("ccos"), lit(-id).as("negid"))
    }: _*)

  /** The vector's cell: the head of its cell ranking, as one struct max
    * over k codegen'd dots (map-only, O(k) per row). */
  private[graft] def cellOf(emb: Column, nrm: Column, cb: Codebook): Column =
    -array_max(cellScores(emb, nrm, cb)).getField("negid")

  /** The vector's `n` first cells of the ranking — its probes; the head
    * is [[cellOf]]. */
  private[graft] def rankCells(emb: Column, nrm: Column, cb: Codebook,
      n: Int): Column =
    transform(slice(sort_array(cellScores(emb, nrm, cb), asc = false), 1, n),
      s => -s.getField("negid"))

  /** The L2 nearest-centre rule: the id of the centre of `cents` nearest
    * to the row's vector `emb` by squared L2 (`VectorOps.sqdist` against
    * each centre as a literal), the min id on ties — the struct max of
    * (−d², −id), the oracle's `ORDER BY d ASC, cid ASC`. */
  private[graft] def nearestCentre(emb: Column, cents: Seq[(Long, Seq[Double])]): Column =
    -array_max(array(cents.map { case (id, c) =>
      struct((-VectorOps.sqdist(emb, typedLit(c))).as("l2negd"), lit(-id).as("l2negid"))
    }: _*)).getField("l2negid")

  /** The squared L2 distance from `emb` to its nearest centre of `cents`,
    * floor(d²·1e6 + 1/3)-quantized to a long. */
  private[graft] def nearestDistQ(emb: Column, cents: Seq[(Long, Seq[Double])]): Column =
    floor(array_min(array(cents.map { case (_, c) => VectorOps.sqdist(emb, typedLit(c)) }: _*))
      * 1e6 + lit(1.0 / 3)).cast("long")

  /** The PQ layout: m = 8 subspaces of 8 dims over a 64-dim vector. */
  private[graft] val PqM = 8
  private val PqSubDim = 8

  /** Subspace `s` of a vector column: its contiguous slice. */
  private[graft] def pqSlice(emb: Column)(s: Int): Column =
    slice(emb, s * PqSubDim + 1, PqSubDim)

  /** The subspaces of a driver-side centroid, cut like [[pqSlice]]. */
  private[graft] def pqSubs(c: Array[Double]): Seq[Seq[Double]] =
    (0 until PqM).map(s => c.slice(s * PqSubDim, s * PqSubDim + PqSubDim).toSeq)

  /** One row per (vector, subspace): the generator of (sub, sl) pairs,
    * `sl(s)` being subspace s of the row's vector. */
  private[graft] def pqSubspaces(sl: Int => Column): Column =
    posexplode(array((0 until PqM).map(sl): _*)).as(Seq("sub", "sl"))

  /** A centroid's subspace vectors and their squared norms, the norms
    * summed left to right (the oracle's order). */
  private def subTable(c: Array[Double], subsOf: Array[Double] => Seq[Seq[Double]])
      : (Seq[Seq[Double]], Seq[Double]) = {
    val subs = subsOf(c)
    (subs, subs.map(v => dotD(v, v)))
  }

  /** The nearest-code rule: the entry of `cents` — (code, centre, ‖c‖²),
    * the centre and its norm as columns — nearest to the vector `x`,
    * struct(dist, code) with the min code on ties.
    *
    * The distance is (‖x‖² − 2·x·c) + ‖c‖²: three fixed-order dot
    * products (a per-dimension (x−c)² expansion was a ~2,500-node
    * expression tree that blew the codegen method limit), every term the
    * same left-to-right IEEE sum on both engines, so the argmin needs no
    * quantization. A codebook vector encodes to itself at exactly 0.0:
    * its x·c and ‖c‖² are the same sum as ‖x‖². */
  private def codeOf(x: Column, cents: Seq[(Long, Column, Column)]): Column = {
    val sxx = VectorOps.dot(x, x)
    array_min(array(cents.map { case (id, c, scc) =>
      struct(((sxx - lit(2.0) * VectorOps.dot(x, c)) + scc).as("dist"), lit(id).as("code"))
    }: _*))
  }

  /** The nearest-code rule over whole vectors: each centre of `cb` and its
    * [[dotD]] squared norm ship as literals. */
  private[graft] def nearestCode(x: Column, cb: Seq[(Long, Seq[Double])]): Column =
    codeOf(x, cb.map { case (id, c) => (id, typedLit(c), lit(dotD(c, c))) })

  /** The nearest-code rule on the driver: [[nearestCode]]'s (dist, code),
    * the distance in the same operation order and the same tie rule. */
  private[graft] def nearestCodeD(x: Seq[Double], cb: Seq[(Long, Seq[Double])]): (Double, Long) = {
    val sxx = dotD(x, x)
    cb.map { case (id, c) => ((sxx - 2.0 * dotD(x, c)) + dotD(c, c), id) }
      .reduceLeft((p, q) => if (q._1 < p._1 || (q._1 == p._1 && q._2 < p._2)) q else p)
  }

  /** The PQ code rule: the nearest-code rule on the row's subspace slice
    * `sl` (subspace `sub`, 0-based). `subsOf` lays a centroid out in the
    * subspaces `sl` was cut from. The centroids ship as nested literals
    * indexed by `sub`, so the whole scoring is ONE ‖x‖² dot plus k dots
    * per (vector, subspace) row. */
  private[graft] def pqCode(sl: Column, sub: Column, cb: Codebook,
      subsOf: Array[Double] => Seq[Seq[Double]]): Column =
    codeOf(sl, cb.map { case (id, c, _) =>
      val (subs, sccs) = subTable(c, subsOf)
      (id, element_at(typedLit(subs), sub + 1), element_at(typedLit(sccs), sub + 1))
    })

  /** The asymmetric-distance (ADC) lookup table (Jégou, Douze & Schmid
    * 2011) of `queries` (query_id, embedding) against a codebook: per
    * (query_id, sub, code) the inner product q_s·c_{code,s} (`ip_q`) and
    * the query-independent ‖c_{code,s}‖² (`rn_q`), both on the PQ code
    * rule's float path and floor(x·1e6 + 1/3)-quantized, so a scan sums
    * them as exact longs. |queries|·m·k rows. */
  private[graft] def adcLut(queries: DataFrame, cb: Codebook): DataFrame = {
    import queries.sparkSession.implicits._
    queries.select($"query_id", pqSubspaces(pqSlice($"embedding")))
      .select($"query_id", $"sub".cast("long").as("sub"),
        explode(array(cb.map { case (id, c, _) =>
          val (subs, sccs) = subTable(c, pqSubs)
          struct(lit(id).as("code"),
            floor(VectorOps.dot($"sl",
              element_at(typedLit(subs), $"sub" + 1)) * 1e6
              + lit(1.0 / 3)).cast("long").as("ip_q"),
            floor(element_at(typedLit(sccs), $"sub" + 1) * 1e6
              + lit(1.0 / 3)).cast("long").as("rn_q"))
        }: _*)).as("ent"))
      .select($"query_id", $"sub", $"ent.code".as("code"),
        $"ent.ip_q".as("ip_q"), $"ent.rn_q".as("rn_q"))
  }

  /** `n` uniform reference points in the per-dimension [lo, hi] box of
    * the `emb` column of `e` (one d-bounded collect): point i, id
    * `idBase + i`, has coordinate lo_j + ((h % 10001) / 10000.0)·(hi_j −
    * lo_j) in dimension j, h the first 8 hex digits of
    * md5("<prefix><i>:<j>") — the chain the oracle replays. */
  private[graft] def boxPoints(e: DataFrame, prefix: String, idBase: Long,
      n: Int): Seq[(Long, Seq[Double])] = {
    import e.sparkSession.implicits._
    val box = e.select(posexplode($"emb").as(Seq("dim", "v")))
      .groupBy($"dim").agg(min($"v").as("lo"), max($"v").as("hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (0 until n).map { i =>
      (idBase + i, box.toSeq.map { case (j, lo, hi) =>
        val h = java.lang.Long.parseLong(
          TextHash.md5hex(s"$prefix$i:$j").substring(0, 8), 16)
        lo + ((h % 10001L) / 10000.0) * (hi - lo)
      })
    }
  }

  /** The int8 scalar code rule's step over a vector's own [lo, hi]
    * range: (hi − lo) / 255. */
  private[graft] def int8Scale(lo: Column, hi: Column): Column = (hi - lo) / 255.0

  /** The int8 scalar code rule: each element x of `emb` codes to
    * min(255, floor((x − lo) / scale)), `scale` from [[int8Scale]]; a
    * constant vector (scale 0) codes to all 0. */
  private[graft] def int8Codes(emb: Column, lo: Column, scale: Column): Column =
    transform(emb, x => when(scale === 0.0, lit(0L))
      .otherwise(least(lit(255L), floor((x - lo) / scale).cast("long"))))

  /** q67: per-vector int8 scalar quantization and its reconstruction
    * error. Each vector maps to 64 codes in [0,255] on its own [lo, hi]
    * range; the output reports the code checksum and the max absolute
    * dequantization error. Map-only — every row is independent, nothing
    * shuffles; the per-element folds are the same left-to-right order as
    * the oracle's list_reduce, so the doubles agree bit-for-bit. */
  def embedQuant(spark: SparkSession, dir: String): DataFrame =
    quantizeOn(Tables.embeddings(spark, dir))

  /** Testable core over any `(vec_id, embedding)` relation. */
  private[graft] def quantizeOn(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val emb = transform($"embedding", x => x.cast("double"))
    val e = vecs.select($"vec_id", emb.as("emb"))
      .select($"vec_id", $"emb",
        array_min($"emb").as("lo"), array_max($"emb").as("hi"))
      .select($"vec_id", $"emb", $"lo", $"hi",
        int8Scale($"lo", $"hi").as("scale"))
    val codes = int8Codes($"emb", $"lo", $"scale")
    e.select($"vec_id", $"emb", $"lo", $"hi", $"scale", codes.as("codes"))
      .select(
        $"vec_id", $"lo", $"hi",
        aggregate($"codes", lit(0L), (acc, q) => acc + q).as("q_sum"),
        aggregate(
          zip_with($"emb", $"codes", (x, q) => abs(x - ($"lo" + q * $"scale"))),
          lit(0.0), (acc, d) => greatest(acc, d)).as("err_max"))
  }

  /** The driver-side Lloyd update: the new centre of every cell that
    * has rows among the collected partials, each row holding the cell
    * at `cellAt`, then (dim, n, Σfloor(x·1e6)). Component dim of a
    * cell's centre is Σfloor(x·1e6) / 1e6 / n, one double division chain
    * after the exact long sum. A cell without rows is absent and keeps
    * its old centre (the standard Lloyd guard). */
  private[graft] def lloydMeans(partials: Array[Row], cellAt: Int): Map[Long, Array[Double]] =
    partials.groupBy(_.getLong(cellAt)).map { case (cell, rows) =>
      val mean = new Array[Double](rows.map(_.getInt(cellAt + 1)).max + 1)
      rows.foreach { r =>
        mean(r.getInt(cellAt + 1)) = r.getLong(cellAt + 3).toDouble / 1e6 / r.getLong(cellAt + 2)
      }
      cell -> mean
    }

  /** q68: one k-means (Lloyd) refinement step for the IVF codebook —
    * assign every vector to its nearest current centroid by cosine (the
    * 8 seed centroids and tie-break match Similarity.ivfAnn exactly),
    * then recompute each centroid component as the member mean. The
    * k-row codebook ships as literals (collected once on the driver —
    * bounded by k, like Similarity's LSH sign matrix), so assignment is
    * map-only; the recompute is one partial-aggregated shuffle of
    * (cell, dim) partials — at 100 TB this is the canonical
    * literal-codebook-assign / narrow-reduce iteration per Lloyd round.
    *
    * Component sums quantize to exact integers (floor(x * 1e6), the q60
    * trick) so the merge-order-sensitive double sum becomes a portable
    * exact long sum; the mean divides back out in double once. */
  /** Lloyd-iterated codebook — the PRODUCTION centroid path for
    * Similarity.semanticDedupOn / ivfAnnOn (the oracle queries keep the
    * deterministic first-k codebook so DuckDB reproduces assignments).
    * Seeds with the first k vectors, then runs `iters` rounds of the
    * q68 kmeansStep shape: map-only literal-codebook assignment (k
    * codegen'd dots + struct argmax per row, min-id tie-break), ONE
    * partial-agged (cell, dim) shuffle, and a k×d-bounded collect per
    * round. Component sums ride the floor(x·1e6) long lattice, so the
    * iteration is shuffle-order-deterministic end to end; an emptied
    * cell keeps its previous centroid (the standard Lloyd guard).
    *
    * Scale shape: per round the corpus is scanned once map-only and
    * reduced to k×d rows — the canonical distributed Lloyd; k and d are
    * codebook constants, so driver state is O(k·d) regardless of corpus
    * size. */
  private[graft] def lloydCentroids(spark: SparkSession, dir: String,
      k: Int, iters: Int): Array[(Long, Array[Double], Double)] = {
    import spark.implicits._
    lloydCentroidsVecs(Tables.rebalance(spark, dir, "embeddings",
      Tables.embeddings(spark, dir), $"vec_id"), k, iters)
  }

  /** Lloyd refinement over ANY `(vec_id, embedding)` collection — the
    * [[graft.api.Embeddings]] auto-k path. Seeds are the k lowest
    * vec_ids (TakeOrdered — equals the oracle's `vec_id < k` on dense
    * ids, well-defined on sparse ones). */
  private[graft] def lloydCentroidsVecs(vecs: DataFrame,
      k: Int, iters: Int): Codebook = {
    import vecs.sparkSession.implicits._
    val e = Ckpt(vecs
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("emb"),
        VectorOps.l2norm($"embedding").as("nrm")), eager = false)
    var cents = collectCodebook(
      e.orderBy($"vec_id".asc).limit(k).select($"vec_id", $"emb".as("embedding")))
    for (_ <- 1 to iters) {
      val sums = e
        .select(cellOf($"emb", $"nrm", cents).as("cell"),
          posexplode($"emb").as(Seq("dim", "x")))
        .groupBy($"cell", $"dim")
        .agg(count(lit(1)).as("n"),
          sum(floor($"x" * 1e6).cast("long")).as("xq"))
        .collect() // k×d rows — codebook-bounded, never corpus-sized
      val means = lloydMeans(sums, 0)
      cents = cents.map { case cent @ (id, _, _) =>
        means.get(id).fold(cent)(m => (id, m, norm(m)))
      }
    }
    // the refined codebook is driver-side; the materialized embedding
    // relation has no further reader
    Ckpt.release(e)
    cents
  }

  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding",
      VectorOps.l2norm($"embedding").as("nrm"))
    // the codebook is k=8 rows — collect it to the driver (bounded, the
    // same pattern as Similarity's LSH sign matrix) and ship the
    // centroids as literals, so the assignment is a genuinely map-only
    // projection: 8 codegen'd dot products per row, an array argmax, and
    // NO window / NO shuffle of the collection before the (cell, dim)
    // partial aggregation
    val cents = collectCodebook(e.where($"vec_id" < 8))
    e.select(cellOf($"embedding", $"nrm", cents).as("cell"),
        posexplode(transform($"embedding", x => x.cast("double")))
          .as(Seq("dim", "x")))
      .groupBy($"cell", $"dim")
      .agg(count(lit(1)).as("n_members"),
        sum(floor($"x" * 1e6).cast("long")).as("xq_sum"))
      .select($"cell", $"dim".cast("long").as("dim"), $"n_members",
        ($"xq_sum" / 1e6 / $"n_members").as("centroid"))
  }

  /** q98: product-quantization (PQ) encoding — the storage format of an
    * IVF-PQ vector index (the q38 coarse quantizer's residual stage): the
    * 64-dim vector splits into m = 8 subspaces of 8 dims; each sub-vector
    * maps to the nearest of 8 codebook entries (sub-vectors of the first
    * 8 collection vectors — deterministic, so the oracle reproduces them;
    * production swaps in per-subspace k-means codes without changing the
    * plan). 64 floats become 8 3-bit codes; asymmetric-distance search
    * then scans codes with per-subspace lookup tables instead of raw
    * vectors.
    *
    * Engine portability: the code is [[pqCode]]'s exact float rule; only
    * the REPORTED distance is offset-quantized (floor(x·1e6 + 1/3)), and
    * a codebook sub-vector reports exactly 0.
    *
    * Scale shape: the codebook is m·8 literal sub-vectors (collected once,
    * k-bounded like kmeansStep); encoding is one map-only projection —
    * zero shuffles, output one row per (vector, subspace). */
  def pqEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.rebalance(spark, dir, "embeddings",
        Tables.embeddings(spark, dir), $"vec_id")
      .select($"vec_id", $"embedding")
    pqEncodeWith(e, collectCodebook(e.where($"vec_id" < 8)), pqSlice($"embedding"), pqSubs)
  }

  /** The (vec_id, sub, code, dist_q) rows of `vecs` under the PQ code
    * rule, `sl` and `subsOf` cutting the subspaces ([[pqCode]]). The 8
    * subspace slices explode FIRST, then each (vector, sub) row scores —
    * the flat per-sub form repeated the ‖x‖² subtree k·m times. */
  private def pqEncodeWith(vecs: DataFrame, cb: Codebook, sl: Int => Column,
      subsOf: Array[Double] => Seq[Seq[Double]]): DataFrame = {
    import vecs.sparkSession.implicits._
    val best = pqCode($"sl", $"sub", cb, subsOf)
    vecs.select($"vec_id", pqSubspaces(sl))
      .select($"vec_id", $"sub".cast("long").as("sub"),
        best.getField("code").as("code"),
        floor(best.getField("dist") * 1e6 + lit(1.0 / 3)).cast("long").as("dist_q"))
  }

  /** q99: leading-component projection — the whitening/PCA step that
    * CONSUMES q92's Gram matrix: K = 4 power-iteration steps on the PSD
    * second-moment matrix, renormalized to a 1e6 integer grid between
    * steps, then every vector projects onto the resulting direction. The
    * dimensionality-reduction front door of an embedding pipeline (OPQ
    * rotations, PCA-before-IVF, energy compaction diagnostics); each
    * step provably increases the direction's Rayleigh quotient, and the
    * convergence RATE is the data's spectral gap — a production run
    * picks K accordingly (the synthetic corpus is near-isotropic, so K
    * here demonstrates the mechanism, which is what the spec gates).
    *
    * Engine portability: integer-exact end to end — the Gram is q92's
    * offset-quantized longs, each iteration is Σ G_ij·w_j in exact
    * integers (≤ 10¹⁷ at sf0.1, inside BIGINT; the 1e6 renorm runs in
    * 128-bit), the grid renorm truncates toward zero (BigInt `/`; the
    * oracle emulates trunc with a sign CASE around `//` floor division),
    * and the projection Σ floor(xᵢ·1e6)·wᵢ is a sum of longs, order-free
    * under shuffle.
    *
    * Scale shape: the Gram collect is d(d+1)/2 rows — bounded by the
    * DIMENSION, never the collection (the codebook-collect pattern of
    * kmeansStep/pqEncode); the iteration is O(K·d²) driver math; the
    * projection is one map-only pass with the direction as a literal.
    * At 100 TB only the Gram aggregation (already partial-agged, q92)
    * touches the data. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gramRows = embedGram(spark, dir)
      .select($"i", $"j", $"gram_q").as[(Long, Long, Long)].collect()
    val d = gramRows.iterator.map(_._2).max.toInt + 1
    val g = Array.ofDim[Long](d, d)
    gramRows.foreach { case (i, j, v) => g(i.toInt)(j.toInt) = v; g(j.toInt)(i.toInt) = v }
    // w_0 = ones on the 1e6 grid; K renormalized integer power steps
    var w: Array[BigInt] = Array.fill(d)(BigInt(1000000))
    (0 until 4).foreach { _ =>
      val v = Array.tabulate(d)(i =>
        (0 until d).foldLeft(BigInt(0))((a, j) => a + BigInt(g(i)(j)) * w(j)))
      val mx = v.map(_.abs).max
      require(mx.signum > 0, "degenerate Gram matrix: zero second moment")
      w = v.map(x => (x * 1000000) / mx) // BigInt / truncates toward zero
    }
    val wLit: Seq[Long] = w.map(_.toLong).toSeq
    Tables.rebalance(spark, dir, "embeddings",
        Tables.embeddings(spark, dir), $"vec_id")
      .select($"vec_id",
        aggregate(
          zip_with($"embedding", typedLit(wLit),
            (x, wi) => floor(x.cast("double") * 1e6).cast("long") * wi),
          lit(0L), (acc, p) => acc + p).as("proj_q"))
  }

  /** q92: the d×d Gram matrix XᵀX over the embedding collection — the
    * second-moment statistics an embedding pipeline computes before
    * whitening / PCA (which in turn trains the IVF coarse quantizer and
    * the OPQ rotation for q38/q67). Upper triangle only (the matrix is
    * symmetric): d(d+1)/2 = 2080 cells at d = 64.
    *
    * Scale shape: the per-row fan-out is d²/2 (a bounded explode), and
    * map-side partial aggregation collapses every partition to at most
    * 2080 rows before the one tiny shuffle — at 100 TB the reduce input
    * is |partitions|·2080 rows, independent of the collection size.
    * Each product is offset-quantized to a LONG before summing
    * (identical IEEE doubles on both engines, and sum-of-longs is
    * shuffle-order-free); at collections past ~10¹² rows the partial
    * sums should route through decimal(38,0) instead of BIGINT. */
  def embedGram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.rebalance(spark, dir, "embeddings",
      Tables.embeddings(spark, dir), $"vec_id")
    e.select($"vec_id", transform($"embedding", x => x.cast("double")).as("emb"))
      .select($"emb", posexplode($"emb").as(Seq("i", "vi")))
      .select($"i", $"vi", posexplode($"emb").as(Seq("j", "vj")))
      .where($"j" >= $"i")
      .select($"i".cast("long").as("i"), $"j".cast("long").as("j"),
        floor($"vi" * $"vj" * 1e6 + lit(1.0 / 3)).cast("long").as("pq"))
      .groupBy($"i", $"j")
      .agg(count(lit(1)).as("n"), sum($"pq").as("gram_q"))
  }

  /** q107: cluster-salient terms — label embedding clusters with the
    * vocabulary that distinguishes them (topic naming for corpus maps /
    * data-mixture dashboards). The first cross-MODALITY operator:
    * embedding-space structure (q68's literal-codebook cosine
    * assignment, same centroids and tie-break) joined back to the text
    * it embeds (doc_id = vec_id), then per cluster the top-3 tokens by
    * tf/df salience (q78's engine-exact rational: ordered by the
    * int/int division double, tie-broken by token).
    *
    * Scale shape: assignment is map-only (8 codegen'd dot products per
    * row, codebook as literals); the docs join hashes on doc_id; tf and
    * df are partial-agged; the ranking window partitions by cell over a
    * vocab-bounded relation (never the corpus). */
  def clusterTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding",
      VectorOps.l2norm($"embedding").as("nrm"))
    val cents = collectCodebook(e.where($"vec_id" < 8))
    val assigned = e.select($"vec_id",
      cellOf($"embedding", $"nrm", cents).as("cell"))
    val docs = Tables.documents(spark, dir)
    val tf = docs.join(assigned, $"doc_id" === $"vec_id")
      .select($"cell", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"cell", $"tok").agg(count(lit(1)).as("tf"))
    val df = docs
      .select($"doc_id", explode(TextOps.toks($"text")).as("tok"))
      .distinct()
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"cell")
      .orderBy(($"tf".cast("double") / $"df").desc, $"tok".asc)
    tf.join(df, "tok")
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .select($"cell", $"rk".cast("long").as("rk"), $"tok", $"tf", $"df")
  }

  /** q224: per-dimension variance census — the embedding-collapse /
    * anisotropy audit: a dimension whose variance has died carries no
    * information (rank collapse, the classic failure of contrastive
    * embedding training), and a few dominant dimensions are the
    * anisotropy that ruins raw-cosine retrieval. Flags every dimension
    * whose population variance is under 5% of the leading dimension's.
    * The q92 Gram matrix is this audit's off-diagonal sibling; this is
    * the cheap per-dim pass a pipeline runs every ingest.
    *
    * Exactness: components on the 10⁶ grid; Σx and Σx² routed through
    * decimal(38,0) (the q60 discipline — exact at any corpus size, no
    * silent long overflow), cast once to correctly-rounded doubles for
    * the one-pass variance (Σx² − (Σx)²/n)/n, floor-quantized to a long.
    * The 5% flag is a pure long comparison against the broadcast max.
    *
    * Scale shape: one corpus scan partial-aggs to exactly d rows; the
    * max is a 1-row broadcast over those d rows. Map-only otherwise. */
  def dimVariance(spark: SparkSession, dir: String): DataFrame =
    dimVarianceOn(Tables.embeddings(spark, dir))

  /** Testable core over any `(vec_id, embedding)` relation. */
  private[graft] def dimVarianceOn(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val perDim = vecs
      .select(posexplode(transform($"embedding",
        x => floor(x.cast("double") * 1e6 + lit(1.0 / 3)).cast("long")))
        .as(Seq("i", "xq")))
      .groupBy($"i".cast("long").as("i"))
      .agg(count(lit(1)).as("n"),
        sum($"xq".cast(DecimalType(38, 0))).cast("double").as("sx"),
        // square in decimal, not long: xq*xq in LONG overflows for
        // |component| > ~3034 on the 1e6 grid; the oracle's HUGEINT
        // product is exact, so the cast must happen BEFORE the multiply
        sum($"xq".cast(DecimalType(38, 0)) * $"xq").cast("double")
          .as("sxx"))
      .select($"i", $"n",
        floor($"sx" / $"n" + lit(1.0 / 3)).cast("long").as("mean_micro"),
        floor(($"sxx" - $"sx" * $"sx" / $"n") / $"n" + lit(1.0 / 3))
          .cast("long").as("var_micro2"))
    val maxVar = perDim.agg(max($"var_micro2").as("max_var"))
    perDim.crossJoin(broadcast(maxVar))
      .select($"i", $"n", $"mean_micro", $"var_micro2",
        when($"var_micro2" * 20L < $"max_var", 1L).otherwise(0L)
          .as("dead"))
  }

  /** q239: diagonal-Mahalanobis embedding outliers — the top-20 vectors
    * by Σ_d (x_d − μ_d)²/σ²_d, the per-VECTOR audit built on q224's
    * per-DIMENSION stats: a corrupted embedding (wrong model version,
    * truncated float buffer, all-zeros) sits many pooled z-units out
    * and poisons every centroid (q223) and ANN list (q29) it touches.
    * Diagonal covariance is the deliberate scale choice — the full
    * Mahalanobis inverse is a d×d solve the audit doesn't need.
    *
    * Exactness: (xq − μ)² is an exact long on the micro grid (≤4e12);
    * each dimension's ONE double division by σ² floors to a milli long
    * BEFORE the per-vector sum (q87's associativity dodge — longs add
    * order-free, doubles don't), so the reduce is exact whatever the
    * partitioning. Zero-variance dims contribute 0 (a constant
    * dimension carries no outlier signal, and dividing by it would
    * blow up on the first rounding wobble).
    *
    * Scale shape: the d-row stats relation is a broadcast join onto the
    * posexploded vectors (map-side); the per-vector reduce partial-aggs
    * on vec_id; the top-20 is TakeOrderedAndProject — per-partition
    * heaps, no global sort. */
  def zOutliers(spark: SparkSession, dir: String): DataFrame =
    zOutliersOn(Tables.embeddings(spark, dir), topN = 20)

  /** Testable core over any `(vec_id, embedding)` relation. */
  private[graft] def zOutliersOn(vecs: DataFrame, topN: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val stats = dimVarianceOn(vecs)
      .select($"i", $"mean_micro", $"var_micro2")
    val scored = vecs
      .select($"vec_id", posexplode(transform($"embedding",
        x => floor(x.cast("double") * 1e6 + lit(1.0 / 3)).cast("long")))
        .as(Seq("i", "xq")))
      .withColumn("i", $"i".cast("long"))
      .join(broadcast(stats), "i")
      .withColumn("term_milli",
        when($"var_micro2" > 0L,
          floor((($"xq" - $"mean_micro") * ($"xq" - $"mean_micro"))
            .cast("double") * 1000d / $"var_micro2".cast("double"))
            .cast("long"))
          .otherwise(0L))
      .groupBy($"vec_id")
      .agg(sum($"term_milli").as("score_milli"))
    // distributed top-N (TakeOrdered) first; the rank window then sorts
    // topN rows — bounded by construction, so it carries Win.bounded
    scored.orderBy($"score_milli".desc, $"vec_id".asc).limit(topN)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.Win.bounded)
          .orderBy($"score_milli".desc, $"vec_id".asc)).cast("long"))
      .select($"rank", $"vec_id", $"score_milli")
  }

  /** q249: participation ratio — the effective-rank summary of q224's
    * per-dimension variance census: PR = (Σ_d v_d)² / Σ_d v_d² ∈ [1, d]
    * (Gao et al.'s neural-dimensionality measure; the diagonal
    * approximation of erank, deliberate for the same reason q239 stays
    * diagonal — no d×d eigensolve in a per-ingest audit). PR ≈ d means
    * isotropic embeddings; PR ≪ d is the rank collapse q224 flags
    * per-dimension, here compressed to the one number a drift dashboard
    * tracks, alongside the top-dimension variance share (the anisotropy
    * that ruins raw-cosine retrieval).
    *
    * Scale shape: q224's one-scan d-row census, then a single aggregate
    * over d rows — sums in decimal(38,0) (v_d is micro²-scale ~1e12, so
    * Σv² brushes 1e27), two double divisions floored with the +1/3
    * offset. Output: 1 row. */
  def participationRatio(spark: SparkSession, dir: String): DataFrame =
    participationRatioOn(Tables.embeddings(spark, dir))

  /** Testable core over any `(vec_id, embedding)` relation. */
  private[graft] def participationRatioOn(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    dimVarianceOn(vecs)
      .agg(count(lit(1)).as("n_dims"),
        sum($"dead").as("n_dead"),
        sum($"var_micro2".cast(dec)).as("svd"),
        sum($"var_micro2".cast(dec) * $"var_micro2").as("svvd"),
        max($"var_micro2").as("max_var"))
      .select($"n_dims", $"n_dead",
        $"svd".cast("long").as("sum_var"),
        when($"svvd" > 0L,
          floor(($"svd" * $"svd").cast("double") * 1000d
            / $"svvd".cast("double") + lit(1.0 / 3)).cast("long"))
          .otherwise(0L).as("pr_milli"),
        when($"svd" > 0L,
          floor($"max_var".cast("double") * 1e6
            / $"svd".cast("double") + lit(1.0 / 3)).cast("long"))
          .otherwise(0L).as("top_share_ppm"))
  }

  /** q264: int8-quantization rank fidelity — does q67's int8 encoding
    * PRESERVE THE RANKING the float vectors induce? For each of 10
    * query vectors (vec_id < 10) against a fixed 50-candidate panel
    * (10 <= vec_id < 60), every candidate pair is scored concordant /
    * discordant / tied between the exact float cosine and the cosine of
    * the dequantized int8 reconstruction (lo + code·scale, q67's exact
    * grid) — Kendall's tau per query. This is the acceptance test a
    * quantized index must pass before serving: a compressor can have
    * tiny per-element error (q67's err_max) yet still reorder
    * neighbors, and it's the ORDER an ANN index returns.
    *
    * Exactness: both cosines ride the engines' shared left-to-right
    * dot/norm fold and are 1e6-quantized per (query, candidate) BEFORE
    * the pair comparison, so concordance is exact integer sign algebra;
    * tau's numerator can be negative, so the division runs on the
    * +1000·n_pairs-shifted nonnegative form (where Spark's trunc-div
    * and DuckDB's floor-div agree) and shifts back — the q263 recipe.
    *
    * Scale shape: constant-bounded — 10×50 scored rows, 10×C(50,2) =
    * 12,250 pair rows, independent of collection size; both scans are
    * id-pruned. */
  def quantFidelity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = fidelityScored(spark, dir)
    val p = scored.as("x").join(scored.as("y"),
        col("x.query_id") === col("y.query_id")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.query_id").as("query_id"),
        (col("x.eq") - col("y.eq")).as("de"),
        (col("x.aq") - col("y.aq")).as("da"))
    p.groupBy($"query_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"de" * $"da" > 0L, 1L).otherwise(0L)).as("n_conc"),
        sum(when($"de" * $"da" < 0L, 1L).otherwise(0L)).as("n_disc"),
        sum(when($"de" === 0L || $"da" === 0L, 1L).otherwise(0L)).as("n_tie"))
      .select($"query_id", $"n_pairs", $"n_conc", $"n_disc", $"n_tie",
        // shift by +1000·n_pairs so the dividend is nonnegative:
        // trunc-div (Spark) == floor-div (DuckDB) on nonnegatives
        (expr("(((n_conc - n_disc) + 1000 * n_pairs) * 1000) div n_pairs")
          - 1000000L).as("tau_milli"))
  }

  /** The shared (query, candidate) scoring relation of q264/q276: exact
    * float cosine and dequantized-int8 cosine, both 1e6-quantized. */
  private[graft] def fidelityScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .where($"vec_id" < 60)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("emb"))
      .select($"vec_id", $"emb",
        array_min($"emb").as("lo"), array_max($"emb").as("hi"))
      .select($"vec_id", $"emb", $"lo",
        int8Scale($"lo", $"hi").as("scale"))
    val codes = int8Codes($"emb", $"lo", $"scale")
    val recon = e.select($"vec_id", $"emb",
        transform(codes, q => $"lo" + q * $"scale").as("rec"))
      .select($"vec_id", $"emb", $"rec",
        VectorOps.l2norm($"emb").as("enrm"),
        VectorOps.l2norm($"rec").as("rnrm"))
    val q = recon.where($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"), $"rec".as("qrec"),
        $"enrm".as("qenrm"), $"rnrm".as("qrnrm"))
    val c = recon.where($"vec_id" >= 10)
    c.join(broadcast(q), c("vec_id") =!= q("query_id"))
      .select($"query_id", $"vec_id",
        floor((VectorOps.dot($"qemb", $"emb") / ($"qenrm" * $"enrm"))
          * 1e6 + lit(1.0 / 3)).cast("long").as("eq"),
        floor((VectorOps.dot($"qrec", $"rec") / ($"qrnrm" * $"rnrm"))
          * 1e6 + lit(1.0 / 3)).cast("long").as("aq"))
  }

  /** q276: top-10 rank stability under int8 quantization — the
    * retrieval-facing complement of q264's Kendall tau: per query, how
    * many of the float-cosine top-10 candidates survive in the
    * dequantized-int8 top-10 (set overlap + Jaccard). Tau penalizes
    * every transposition equally; an ANN SERVING check only cares
    * whether the returned set changes — this is the number an index
    * rollout gate reads.
    *
    * Exactness: both rankings order the shared 1e6-quantized scores
    * with vec_id tie-break — exact integer comparisons; the overlap
    * and Jaccard are pure counts.
    *
    * Scale shape: two rank windows over the constant 10×50 scored
    * relation (per-query partitions of 50 rows), one full outer join
    * of two ≤100-row sets. O(1) after the id-pruned scans. */
  def rankStability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = fidelityScored(spark, dir)
    val we = Window.partitionBy($"query_id").orderBy($"eq".desc, $"vec_id".asc)
    val wa = Window.partitionBy($"query_id").orderBy($"aq".desc, $"vec_id".asc)
    val te = scored.withColumn("rk", row_number().over(we))
      .where($"rk" <= 10).select($"query_id", $"vec_id", lit(1L).as("in_e"))
    val ta = scored.withColumn("rk", row_number().over(wa))
      .where($"rk" <= 10).select($"query_id", $"vec_id", lit(1L).as("in_a"))
    te.join(ta, Seq("query_id", "vec_id"), "full")
      .groupBy($"query_id")
      .agg(sum(when($"in_e".isNotNull && $"in_a".isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        // union from the ACTUAL set sizes (|A|+|B|−|A∩B|), not the
        // 20−n_both constant: with <10 scored candidates per query
        // both top-10 sets shrink and the constant overstates the union
        sum(when($"in_e".isNotNull, 1L).otherwise(0L)).as("n_e"),
        sum(when($"in_a".isNotNull, 1L).otherwise(0L)).as("n_a"))
      .select($"query_id", $"n_both",
        expr("(n_both * 1000000) div (n_e + n_a - n_both)")
          .as("jaccard_ppm"))
  }

  /** q265: PQ reconstruction distortion per subspace — the codebook
    * acceptance table that CONSUMES q98's encoding: per subspace, the
    * mean and max quantized sub-distance ‖x_s − c_s‖² and the share of
    * exactly-zero encodings (codebook members encode to themselves —
    * q98's cancellation argument makes 0 exact). A subspace whose mean
    * distortion is an outlier needs more codebook bits (or an OPQ
    * rotation to re-balance variance, q99's direction); this table is
    * how that call is made.
    *
    * Scale shape: rides q98's map-only encode (zero shuffles) plus ONE
    * partial-agged groupBy bounded at m = 8 rows. The long sum of
    * dist_q is exact under any merge order. */
  /** q297: PQ codebook usage census per subspace — the bit-efficiency
    * audit that completes q265's distortion table: per subspace, how
    * many of the k codes are LIVE, the usage entropy (in e4 nats —
    * ln k = full utilization of the code budget), and the share of the
    * hottest code. A subspace whose mass collapses onto one code
    * carries ~0 bits (dead budget — re-train or rotate, the OPQ
    * signal); distortion (q265) can look fine while utilization says
    * the codebook wastes its budget on empty cells.
    *
    * Exactness: the entropy is q293's c·lnq(c/n) exact-long-sum
    * discipline on the (sub, code) histogram; shares are trunc-divs.
    *
    * Scale shape: rides the map-only q98 encode + one agg bounded at
    * m·k = 64 rows. */
  def codeUsage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = pqEncode(spark, dir)
      .groupBy($"sub", $"code").agg(count(lit(1)).as("k"))
    val n = cnt.groupBy($"sub").agg(sum($"k").as("n"))
    cnt.join(n, Seq("sub"))
      .select($"sub", $"n", $"k",
        ($"k" * floor(log($"k".cast("double") / $"n".cast("double"))
          * 10000 + lit(1.0 / 3)).cast("long")).as("t"))
      .groupBy($"sub", $"n")
      .agg(count(lit(1)).as("n_codes_used"), sum($"t").as("s"),
        max($"k").as("top_k"))
      .select($"sub", $"n_codes_used",
        expr("(-s) div n").as("usage_ent_e4"),
        expr("(top_k * 1000000) div n").as("top_code_share_ppm"))
  }

  /** q300: parametric OPQ by variance-balanced dimension PERMUTATION —
    * the rotation-training step the q297/q265 audits call for, in the
    * cheapest orthogonal family (a permutation matrix IS a rotation up
    * to sign): rank dimensions by their exact second moment (q92's Gram
    * diagonal discipline), snake-draft them into the m subspaces (rank
    * block b gives each subspace one dim, alternating direction — the
    * classic balanced allocation of parametric OPQ, Ge, He, Ke & Sun,
    * CVPR 2013, §4's eigenvalue-allocation idea with moments standing in
    * for eigenvalues), re-encode in the permuted space with the same
    * first-8 codebook rule, and report BOTH layouts' q297 usage entropy
    * and q265 distortion per subspace — the before/after table that says
    * whether the rotation bought back dead code budget.
    *
    * Engine portability: moments are exact long sums of
    * floor(x²·1e6 + 1/3) (q92's grid); the rank/snake assignment is
    * integer; the permuted encode reuses q98's fixed-order float
    * discipline on the gathered sub-vectors (gather order = snake
    * position, identical in the oracle via list(x ORDER BY pos));
    * entropy/distortion ride q297/q265's exact-long paths verbatim.
    *
    * Scale shape: one map-side partial-agged moment pass (d rows out),
    * a d-bounded driver sort (the q99 discipline: driver math is bounded
    * by DIMENSION, never collection), then q98's map-only encode twice
    * and two m-bounded aggs. Zero unbounded shuffles. */
  def opqPermute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    opqPermuteVecs(Tables.rebalance(spark, dir, "embeddings",
      Tables.embeddings(spark, dir), $"vec_id")
      .select($"vec_id", $"embedding"))
  }

  private[graft] def opqPermuteVecs(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val m = PqM; val subDim = PqSubDim
    // four consumers (moment collect, codebook collect, both encode
    // variants) and the relation carries the rebalance shuffle —
    // truncate once
    val e = Ckpt(vecs.select($"vec_id", $"embedding"), eager = false)
    // per-dim second moments on q92's exact grid (its Gram diagonal)
    val moments: Array[(Int, Long)] = e
      .select(posexplode(transform($"embedding", x => x.cast("double")))
        .as(Seq("i", "x")))
      .select($"i", floor($"x" * $"x" * 1e6 + lit(1.0 / 3)).cast("long").as("mq"))
      .groupBy($"i").agg(sum($"mq").as("mom"))
      .as[(Int, Long)].collect()
    val d = moments.map(_._1).max + 1
    require(d == m * subDim, s"opqPermute expects d=${m * subDim}, got $d")
    // rank by (moment desc, dim asc); snake-draft rank r: position
    // pos = r/m, subspace = pos even ? r%m : m-1-r%m
    val ranked: Array[Int] = moments.sortBy { case (i, mm) => (-mm, i) }.map(_._1)
    val perm: Array[Array[Int]] = {
      val a = Array.fill(m, subDim)(-1)
      for ((dim, r) <- ranked.zipWithIndex) {
        val pos = r / m; val within = r % m
        val sub = if (pos % 2 == 0) within else m - 1 - within
        a(sub)(pos) = dim
      }
      a
    }
    val codebook = collectCodebook(e.where($"vec_id" < 8))
    // identity layout: q98's contiguous slices
    val base = pqEncodeWith(e, codebook, pqSlice($"embedding"), pqSubs)
    // OPQ layout: snake-permuted gathers (same float discipline — the
    // gathered array is float elements in pos order, dot runs on it
    // exactly as on a contiguous slice)
    val opq = pqEncodeWith(e, codebook,
      s => array(perm(s).map(dd => $"embedding"(dd)): _*),
      cemb => (0 until m).map(s => perm(s).toSeq.map(cemb(_))))
    def stats(enc: DataFrame, tag: String): DataFrame = {
      val cnt = enc.groupBy($"sub", $"code").agg(count(lit(1)).as("k"))
      val n = cnt.groupBy($"sub").agg(sum($"k").as("n"))
      val ent = cnt.join(n, Seq("sub"))
        .select($"sub", $"n", $"k",
          ($"k" * floor(log($"k".cast("double") / $"n".cast("double"))
            * 10000 + lit(1.0 / 3)).cast("long")).as("t"))
        .groupBy($"sub", $"n")
        .agg(count(lit(1)).as("n_codes_used"), sum($"t").as("s"))
        .select($"sub", $"n_codes_used", expr("(-s) div n").as("usage_ent_e4"))
      val dist = enc.groupBy($"sub")
        .agg(count(lit(1)).as("n_vecs"), sum($"dist_q").as("sum_dist"))
        .select($"sub", $"n_vecs", expr("sum_dist div n_vecs").as("mean_dist_q"))
      ent.join(dist, Seq("sub")).select(lit(tag).as("variant"), $"sub",
        $"n_vecs", $"n_codes_used", $"usage_ent_e4", $"mean_dist_q")
    }
    stats(base, "base").unionByName(stats(opq, "opq"))
  }

  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pqEncode(spark, dir)
      .groupBy($"sub")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"dist_q").as("sum_dist"),
        max($"dist_q").as("max_dist_q"),
        sum(when($"dist_q" === 0L, 1L).otherwise(0L)).as("n_zero"))
      .select($"sub", $"n_vecs",
        // dist_q >= 0 up to the +1/3 offset (a cancellation can land at
        // -1 only if the float dist dips below -1/3, impossible for a
        // true squared distance) — the sum is nonnegative, div is safe
        expr("sum_dist div n_vecs").as("mean_dist_q"),
        $"max_dist_q",
        expr("(n_zero * 1000000) div n_vecs").as("zero_ppm"))
  }

  /** q321: k-means‖ oversampling initialization (Bahmani et al. 2012,
    * "Scalable k-means++") — the DISTRIBUTED seeding the Lloyd family
    * (q68, q38, q319) assumes someone already did: instead of k
    * sequential k-means++ draws (k full passes), 3 oversampling rounds
    * each sample ~ℓ = 8 candidates in parallel with probability
    * ℓ·d²(x)/φ, then the candidate set is weighted by how many points
    * it attracts (the input to the final cheap clustering step). The
    * canonical at-scale answer to "k-means++ is inherently serial".
    *
    * Determinism: the Bernoulli draw is a content-hash
    * (md5("kp<round>:<vec_id>") % 10⁶, the q47 sampling discipline)
    * compared against ℓ·dq·10⁶ < h·φq entirely in integers — dq is the
    * quantized min-L2² to the current centers ([[nearestDistQ]]), φq =
    * Σdq an exact long, and the product comparison routes through
    * decimal(38,0) (h·φq can reach ~10²⁰). Both engines walk the
    * identical candidate chain; already-selected centers have dq = 0 and
    * can never re-draw. The weights count each point at its
    * [[nearestCentre]] (min (L2², id)).
    *
    * Scale shape: each round is one scan (min-distance map over a
    * broadcast center literal + a 1-row φ agg + an expected-ℓ-row
    * candidate collect); the weight pass is one more scan with a
    * partial-agged groupBy bounded by the candidate count. Candidates
    * ~ 1 + 3ℓ stay driver-sized by design (the paper's point). */
  def kmeansParInit(spark: SparkSession, dir: String): DataFrame =
    kmeansParInitOn(Tables.rebalance(spark, dir, "embeddings",
      Tables.embeddings(spark, dir),
      org.apache.spark.sql.functions.col("vec_id")))

  private[graft] def kmeansParInitOn(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val ell = 8L
    val e = vecs.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("emb"))
    var centers: Seq[(Long, Seq[Double], Long)] =
      e.where($"vec_id" === 0L).as[(Long, Seq[Double])].collect()
        .map { case (id, v) => (id, v, 0L) }.toSeq
    def cents = centers.map { case (id, v, _) => (id, v) }
    for (r <- 1 to 3) {
      val dq = nearestDistQ($"emb", cents)
      val phi = e.agg(sum(dq)).collect()(0).getLong(0)
      val h = conv(substring(md5(concat(lit(s"kp$r:"),
        $"vec_id".cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
      val picked = e
        .where(h.cast("decimal(38,0)") * lit(phi)
          < lit(ell) * dq.cast("decimal(38,0)") * lit(1000000L))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      centers = centers ++ picked.map { case (id, v) => (id, v, r.toLong) }
    }
    // weight pass: every point votes for its nearest candidate
    val weights = e.select(nearestCentre($"emb", cents).as("cand_id"))
      .groupBy($"cand_id").agg(count(lit(1)).as("weight"))
    val cands = centers.map { case (id, _, r) => (id, r) }
      .toDF("cand_id", "round_added")
    cands.join(weights, Seq("cand_id"), "left")
      .select($"cand_id", $"round_added",
        coalesce($"weight", lit(0L)).as("weight"))
  }

  /** q308: residual quantization (RQ) — the additive-codebook
    * alternative to q98's product quantization (Chen, Guan & Wang 2010;
    * the RQ/LSQ family behind modern additive quantizers): stage 1
    * snaps the FULL 64-dim vector to its nearest coarse center, stage 2
    * quantizes the residual against a second codebook, and the
    * reconstruction is the SUM c₁ + c₂ — unlike PQ, every stage sees
    * the whole vector, so correlated dimensions cost one code, not m.
    * Emitted per vector: both codes and the stage-1 vs stage-2 squared
    * error (d2 ≤ d1 wherever code₂ ≠ degenerate; the spec gates the
    * mean drop). q297's usage-entropy audit applies to stage-2 codes
    * unchanged.
    *
    * Codebooks follow the q98/q68 fixed-seed discipline: stage 1 =
    * vectors 0..7, stage 2 = the residuals of vectors 8..15 under their
    * own stage-1 code — a bounded 16-row driver collect (the
    * codebook-collect pattern). Both stages encode by [[nearestCode]],
    * and the stage-2 build by its driver twin [[nearestCodeD]], whose
    * [[dotD]] folds are the oracle's ascending list_reduce chain, so
    * both engines derive bit-identical codebooks.
    *
    * Scale shape: map-only — one scan, 16 nested-literal distance
    * evaluations per row inside whole-stage codegen, no shuffle at all
    * (the output is per-vector). At 100 TB this is the encode pass a
    * vector store runs once per ingest batch. */
  def rqEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rqEncodeOn(Tables.rebalance(spark, dir, "embeddings",
      Tables.embeddings(spark, dir), $"vec_id"))
  }

  /** Testable core over any `(vec_id, embedding)` relation. */
  private[graft] def rqEncodeOn(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val k = 8
    val e = vecs.select($"vec_id", $"embedding")
    val head: Array[(Long, Seq[Double])] =
      e.where($"vec_id" < 2L * k).as[(Long, Array[Float])].collect()
        .sortBy(_._1).map { case (id, a) => (id, a.map(_.toDouble).toSeq) }
    val cb1: Seq[(Long, Seq[Double])] = head.filter(_._1 < k).toSeq
    // stage-2 codebook: residuals of vecs 8..15 under their own stage-1
    // code, the column path's rule run on the driver
    val cb2: Seq[(Long, Seq[Double])] =
      head.filter(t => t._1 >= k && t._1 < 2L * k).toSeq.map { case (id, x) =>
        val ce = cb1.find(_._1 == nearestCodeD(x, cb1)._2).get._2
        (id - k, x.indices.map(i => x(i) - ce(i)))
      }
    val cb1Lit = typedLit(cb1.map(_._2))
    val s1 = e.withColumn("b1", nearestCode($"embedding", cb1))
      .select($"vec_id", $"b1.code".as("code1"), $"b1.dist".as("dist1"),
        zip_with($"embedding",
          element_at(cb1Lit, ($"b1.code" + 1L).cast("int")),
          (a, b) => a - b).as("r"))
    s1.withColumn("b2", nearestCode($"r", cb2))
      .select($"vec_id", $"code1", $"b2.code".as("code2"),
        floor($"dist1" * 1e6 + lit(1.0 / 3)).cast("long").as("d1_q"),
        floor($"b2.dist" * 1e6 + lit(1.0 / 3)).cast("long").as("d2_q"))
  }
}
