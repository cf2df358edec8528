package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for training-data curation over `documents`:
  * language-ID (character-trigram profiles), quality scoring, token
  * counting (whitespace + subword estimate), and document fingerprinting
  * (positional hash). All pure Catalyst expressions — single-pass
  * projections or one partial-aggregated groupBy, no UDFs, so at 100 TB
  * each is a map-only scan (or one narrow shuffle) over the corpus.
  */
object TextAnalysis {

  /** Occurrences of a literal substring: (len(text)-len(remove(text)))/len(pat)
    * — portable to any SQL engine, no regex dialect in play. */
  private[graft] def occurrences(text: Column, pat: String): Column =
    (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(pat), "")))
      ./(lit(pat.length)).cast("long")

  /** Character-trigram language profiles. The scoring machinery is the
    * operator; profiles are swappable per corpus. */
  private[graft] val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", "nd "),
    "de" -> Seq("der", "ein", "sch"),
    "fr" -> Seq("le ", "ent", "es "),
    "es" -> Seq("de ", "la ", "os "))

  /** Per-language scores of `text`, in `profiles` order: score_l = total
    * occurrences of l's profile trigrams. */
  private[graft] def langScores(text: Column): Seq[Column] =
    profiles.map { case (_, tgs) => tgs.map(occurrences(text, _)).reduce(_ + _) }

  /** The language-ID rule: the argmax of the per-language scores (in
    * `profiles` order), fixed precedence (en > de > fr > es) on ties. */
  private[graft] def predictedLang(scores: Seq[Column]): Column = {
    val Seq(en, de, fr, es) = scores
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Language-ID by trigram-profile hit counts ([[langScores]],
    * [[predictedLang]]). */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // trigram scoring is 12 regexp_replaces over ~2 KB of text per row —
    // spread docs across cores first (no-op on an already-wide layout)
    val scored = profiles.map(_._1).zip(langScores($"text"))
      .foldLeft(TextOps.docsParallel(spark, dir)) {
        case (df, (l, score)) => df.withColumn(s"score_$l", score)
      }
    val Seq(en, de, fr, es) = profiles.map { case (l, _) => col(s"score_$l") }
    scored.select($"doc_id", en.as("score_en"), de.as("score_de"),
      fr.as("score_fr"), es.as("score_es"),
      predictedLang(Seq(en, de, fr, es)).as("predicted"))
  }

  /** Quality scoring: token count, mean token length, stopword ratio, and
    * a bounded composite score — the length/stopword heuristics of corpus
    * filtering, as one codegen'd projection. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val t = TextOps.toks($"text")
    val nTok = size(t).cast("long")
    val nStop = aggregate(
      transform(t, x => when(x.isin(stop: _*), 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    // higher-order lambdas evaluate interpreted (outside codegen): widen
    // the doc scan so the per-token fold runs on all cores
    TextOps.docsParallel(spark, dir).select(
      $"doc_id",
      nTok.as("n_tokens"),
      (length($"text") / nTok).as("avg_token_len"),
      (nStop / nTok).as("stopword_ratio"),
      (least(nTok / lit(100.0), lit(1.0)) * 0.5
        + least(nStop / nTok * 5.0, lit(1.0)) * 0.5).as("quality"))
  }

  /** Token counting: whitespace tokens plus a subword (BPE-flavored)
    * estimate of ceil(len/4) pieces per token. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    // interpreted per-token fold — widen as in qualityScore
    TextOps.docsParallel(spark, dir).select(
      $"doc_id",
      size(t).cast("long").as("n_tokens"),
      aggregate(transform(t, x => ceil(length(x) / 4.0)), lit(0L), (acc, x) => acc + x)
        .as("n_subwords"))
  }

  /** Positional document fingerprint: fp = sum_i (h(tok_i) mod P) * w_i
    * mod P with h = first 8 md5 hex digits as int, w_i = (i * 2654435761)
    * mod P, P = 2^31-1 — a rolling-hash-style order-sensitive signature
    * (permuted docs get different fingerprints, unlike bag-of-words
    * hashes). One narrow groupBy(doc_id) with partial aggregation. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // native single-pass expression: the posexplode+groupBy formulation
    // shuffled ~100 exploded rows per doc; this is map-only (pitfall #4:
    // per-document signatures must be map-only native expressions).
    // null-text docs are dropped, matching the explode-based formulation
    // and the oracle's unnest (which emit no row for a null token array)
    TextOps.docsParallel(spark, dir)
      .where($"text".isNotNull)
      .select($"doc_id",
        graft.functions.TextHash.fingerprint(TextOps.toks($"text"))
          .as("fingerprint"))
  }

  /** q53: vocabulary building — corpus-wide term frequency + document
    * frequency, top 200 terms. The top-k is `orderBy(...).limit(n)`
    * (TakeOrderedAndProject: per-partition partial top-k, tiny driver
    * merge — no global sort, no single-partition window over the full
    * vocabulary); ranks are then numbered over the 200 survivors only. */
  /** q70: tokenize the corpus against the learned vocabulary — the
    * encode step between vocab building (q53) and sequence packing
    * (q49). Each token maps to its vocab id (top-200 by tf; OOV -> -1);
    * per doc: token count, OOV count, and a position-weighted id
    * checksum standing in for the id sequence (order-sensitive, exact
    * long arithmetic). The vocab is tiny by construction -> broadcast;
    * the only shuffle is the per-doc re-aggregation. */
  def tokenIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = vocabTopK(spark, dir)
      .select($"tok", ($"rk" - 1).cast("long").as("tok_id"))
    val toks = TextOps.docsParallel(spark, dir)
      .select($"doc_id", posexplode(TextOps.toks($"text")).as(Seq("pos", "tok")))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("id", coalesce($"tok_id", lit(-1L)))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when($"id" === -1L, 1L).otherwise(0L)).as("n_oov"),
        sum($"id" * ($"pos" + 1)).as("ids_checksum"))
  }

  /** q108: per-language vocabulary coverage — the OOV-rate diagnostic a
    * tokenizer/vocab choice is judged by (a vocab trained on the corpus
    * head under-serves tail languages; this measures exactly that, per
    * language): token OOV count and rate against the q70 vocabulary
    * (top-200 by tf), plus the count of distinct OOV types. The rate is
    * parts-per-million by pure INTEGER division, so every engine lands
    * on identical longs.
    *
    * Scale shape: the vocab is a 200-row broadcast (one TakeOrdered
    * job); the scan side is map-only tagging + one partial-agged
    * groupBy on lang; distinct OOV types add one (lang, tok) dedup
    * shuffle bounded by vocabulary size per language. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = vocabTopK(spark, dir).select($"tok", lit(1).as("__in"))
    val tagged = TextOps.docsParallel(spark, dir)
      .select($"lang", explode(TextOps.toks($"text")).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .select($"lang", $"tok", $"__in".isNull.as("oov"))
    val counts = tagged.groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"oov", 1L).otherwise(0L)).as("n_oov"))
    val types = tagged.where($"oov")
      .select($"lang", $"tok").distinct()
      .groupBy($"lang").agg(count(lit(1)).as("n_oov_types"))
    counts.join(types, Seq("lang"), "left")
      .select($"lang", $"n_tokens", $"n_oov",
        coalesce($"n_oov_types", lit(0L)).as("n_oov_types"),
        expr("(n_oov * 1000000) div n_tokens").as("oov_ppm"))
  }

  def vocabTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val top = TextOps.docsParallel(spark, dir)
      .select($"doc_id", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
      .orderBy($"tf".desc, $"tok".asc)
      .limit(200)
    // constant partition key documenting intent: single-partition ranking
    // over the 200 survivors is by design. (Spark 4.1 folds the constant
    // away, so WindowExec's move-all-data warning still logs — accurate
    // and benign on this bounded relation.)
    top.withColumn("rk", row_number().over(
      Window.partitionBy(graft.functions.Win.bounded).orderBy($"tf".desc, $"tok".asc)))
  }

  /** q78: per-document salient terms — the tf-idf keyword extraction of
    * a curation pipeline, made engine-exact by ranking on the RATIONAL
    * salience tf/df instead of tf*ln(N/df): tf and df are exact longs, so
    * the double division is the identical IEEE value in every engine and
    * the ranking needs no quantization (ln is libm-bound; the ordering it
    * induces differs from tf/df only in how it weights the tail, which a
    * keyword top-3 does not care about).
    *
    * Scale shape: one (doc, token) tf aggregation (partial map-side), a
    * token-df aggregation off it, df joined back by token (sort-merge at
    * vocabulary scale), one per-doc window for the top-3 — no global
    * sort, no driver state. */
  /** q80: BM25 relevance scoring of every document against a fixed query
    * term set — the retrieval/selection step a curation pipeline runs to
    * pull topical training data (k1 = 1.2, b = 0.75, the Robertson/
    * Sparck-Jones idf with the +1 floor).
    *
    * Engine portability: every input to the formula is an exact integer
    * (tf, dl, df, N — and avgdl = exact integer sum / count, one IEEE
    * division), the per-term contributions are summed in FIXED left-to-
    * right literal order (a column expression, never an unordered
    * aggregate over terms), and the only libm call is ln(), whose 1-ulp
    * engine wobble the q36-style offset quantization floor(x*1e4 + 1/3)
    * absorbs.
    *
    * Scale shape: the corpus stats are a ONE-ROW aggregate cross-joined
    * back as a broadcast; per-doc tf/dl are map-only array ops (no token
    * explode, no shuffle) — the corpus is scored in a single map pass. */
  def bm25Score(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("spark", "join", "query")
    val toks = split($"text", " ")
    val base = TextOps.docsParallel(spark, dir).select(
      ($"doc_id" +: size(toks).cast("long").as("dl") +:
        terms.map(t =>
          size(filter(toks, x => x === lit(t))).cast("long").as(s"tf_$t"))): _*)
    val aggs =
      count(lit(1)).as("n_docs") +:
        (sum($"dl").cast("double") / count(lit(1))).as("avgdl") +:
        terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    def contrib(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val idf = log(($"n_docs" - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1.0)
      idf * (tf * 2.2) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl"))
    }
    val score = terms.map(contrib).reduce(_ + _) // literal order: spark, join, query
    base.crossJoin(broadcast(stats))
      .select($"doc_id", $"tf_spark", $"tf_join", $"tf_query",
        floor(score * 10000 + lit(1.0 / 3)).cast("long").as("score_q"))
  }

  /** q87: unigram-surprisal scoring — the perplexity-filter step (CCNet
    * and successors): train a unigram LM on the corpus itself, score
    * each document by total/mean token surprisal -ln p(t); outliers are
    * boilerplate (too predictable) or garbage (too surprising).
    *
    * Engine portability: a per-DOC sum of ln's would be order-sensitive
    * (IEEE addition isn't associative and the token order under shuffle
    * isn't stable), so each token's surprisal ln(total/n_t) is
    * offset-quantized to a LONG first — floor(x*1e4 + 1/3), the q36/q80
    * argument — and the per-doc SUM OF LONGS is exact in any order on
    * any engine. The mean stays a rational of exact integers.
    *
    * Scale shape: vocab = one token-keyed partial-agged shuffle; the
    * corpus total is a one-row broadcast; tokens rejoin the vocab by
    * token key (sort-merge at vocabulary scale, broadcast when the vocab
    * fits); the final per-doc agg is the only other shuffle. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextOps.docsParallel(spark, dir)
      .select($"doc_id", explode(TextOps.toks($"text")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("n_t"))
    val total = vocab.agg(sum($"n_t").as("n_total"))
    val tokenQ = floor(log($"n_total" / $"n_t") * 10000 + lit(1.0 / 3))
      .cast("long")
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(tokenQ).as("surprisal_q"))
      .withColumn("mean_surprisal_q", $"surprisal_q" / $"n_tokens")
  }

  /** q95: hashed-feature linear quality classifier — the model-based
    * filter step (fastText-style) of a curation pipeline, with the
    * hashing trick standing in for a learned vocabulary: each token maps
    * straight to an integer weight w(t) = (int(md5(t)[0:8]) mod 201) - 100
    * and the document's margin is the sum of its token weights. A real
    * deployment drops in trained weights keyed by the same hash buckets
    * WITHOUT changing the plan — the operator is the plumbing (feature
    * hashing + broadcast-free linear scoring), not the model.
    *
    * Scale shape: margin is a per-row fold over the token array — ZERO
    * shuffles, the corpus is scored in one map pass. All-integer
    * arithmetic: no quantization gate needed, the oracle matches
    * bit-for-bit. */
  def hashClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    val w = (c: Column) =>
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % 201 - 100
    // interpreted per-token fold (md5 per token) — widen the doc scan
    TextOps.docsParallel(spark, dir).select(
      $"doc_id",
      size(t).cast("long").as("n_tokens"),
      aggregate(transform(t, w), lit(0L), (acc, x) => acc + x).as("margin"))
      .withColumn("keep", $"margin" > 0)
  }

  /** q206: uncertainty-based active-learning selection — spend the
    * labeling budget where the model is LEAST sure (Lewis & Gale 1994):
    * the 20 documents whose q95 classifier margin sits closest to the
    * decision boundary, normalized per token so long documents don't
    * look artificially confident. |margin|·10⁶ div n_tokens is exact
    * integer; ties break on doc_id.
    *
    * Scale shape: the margin is q95's map-only fold; the top-20-by-
    * smallest is TakeOrderedAndProject (per-partition heaps), never a
    * global sort. */
  def activeSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hashClassifier(spark, dir)
      .where($"n_tokens" > 0)
      .withColumn("uncertainty_ppm",
        expr("(abs(margin) * 1000000) div n_tokens"))
      .orderBy($"uncertainty_ppm".asc, $"doc_id".asc)
      .limit(20)
      .select($"doc_id", $"n_tokens", $"margin", $"uncertainty_ppm")
  }

  /** q96: per-source token-distribution divergence — the data-mixing
    * diagnostic that flags a source whose unigram distribution drifts
    * from the corpus: KL(P_source || P_corpus) = Σ_t p_s(t)·ln(p_s(t)/p(t)).
    *
    * Engine portability: every probability is an exact integer ratio, the
    * ln argument is ONE IEEE division of exact-long products (bounded:
    * n_st·N <= N² ~ 10¹² at sf0.1, far inside long), the ln is
    * offset-quantized to a long per TERM (floor(x·1e4 + 1/3), the
    * q36/q87 argument) and the reported divergence numerator
    * Σ n_st·lnq_t is a SUM OF LONGS — exact under any shuffle order.
    * kl_q ≈ KL · N_s · 1e4.
    *
    * Scale shape: one (source, token) partial-agged shuffle; corpus token
    * totals derive FROM that relation (second, vocabulary-sized shuffle);
    * the one-row corpus total broadcasts; the final agg outputs
    * |sources| rows. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val st = TextOps.docsParallel(spark, dir)
      .select($"source", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("n_st"))
    val tokTot = st.groupBy($"tok").agg(sum($"n_st").as("n_t"))
    val srcTot = st.groupBy($"source").agg(sum($"n_st").as("n_s"))
    val total = tokTot.agg(sum($"n_t").as("n_total"))
    val lnq = floor(
      log(($"n_st" * $"n_total").cast("double") / ($"n_t" * $"n_s"))
        * 10000 + lit(1.0 / 3)).cast("long")
    st.join(tokTot, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(total))
      .groupBy($"source")
      .agg(max($"n_s").as("n_tokens"),
        count(lit(1)).as("n_distinct_toks"),
        sum($"n_st" * lnq).as("kl_q"))
  }

  /** q97: bigram statistics with Kneser-Ney continuation counts — the
    * count pass of n-gram LM estimation / tokenizer-merge scoring: for the
    * top-30 word bigrams, the raw count c(w1,w2), the fertility
    * N1+(w1,·) (distinct successors of w1), the continuation count
    * N1+(·,w2) (distinct predecessors of w2 — KN's replacement for raw
    * unigram counts), and the continuation probability
    * p_cont(w2) = N1+(·,w2) / |distinct bigrams|.
    *
    * Scale shape: bigrams come from a zip of the token array with its
    * own tail (map-side, no positional self-join); one (w1,w2)
    * partial-agged shuffle bounded by the distinct-bigram space; fertility
    * and continuation are vocabulary-sized aggs OVER that relation; the
    * top-30 is a TakeOrderedAndProject and the stat joins probe it with
    * broadcasts. p_cont is long/long -> one IEEE division, exact. */
  def bigramStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    val pairs = TextOps.docsParallel(spark, dir)
      .select(explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select($"bg.w1".as("w1"), $"bg.w2".as("w2"))
    // four consumers (fertility, continuation, total, the top-30 cut)
    // would each re-run the corpus explode + bigram groupBy — the
    // checkpoint-pays-iff-the-reused-subtree-shuffles rule (SCALE.md):
    // materialize the |bigrams|-bounded counts once
    val counts = Ckpt(pairs.groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c")), eager = false)
    val fert = counts.groupBy($"w1").agg(count(lit(1)).as("fert_w1"))
    val cont = counts.groupBy($"w2").agg(count(lit(1)).as("cont_w2"))
    val totalBigrams = counts.agg(count(lit(1)).as("n_bigrams"))
    counts.orderBy($"c".desc, $"w1".asc, $"w2".asc).limit(30)
      .join(broadcast(fert), "w1")
      .join(broadcast(cont), "w2")
      .crossJoin(broadcast(totalBigrams))
      .select($"w1", $"w2", $"c", $"fert_w1", $"cont_w2",
        ($"cont_w2" / $"n_bigrams").as("p_cont"))
  }

  /** q111: PMI collocations — pointwise mutual information of adjacent
    * token pairs, the classic collocation detector ("new york" scores
    * high because its joint count beats the independence prediction;
    * "of the" scores low despite its raw frequency). PMI =
    * ln(c12·N / (c1·c2)) where c1/c2 are the pair's LEFT/RIGHT marginal
    * occurrence counts over all bigram positions — an exact integer
    * ratio, so the single libm ln offset-quantizes portably (the q87
    * recipe). Pairs below joint count 5 are noise and dropped; positive
    * PMI only (collocations, not anti-collocations).
    *
    * Scale shape: the bigram zip is map-side (no positional self-join);
    * joint and marginal counts partial-agg; marginals and the one-row
    * total re-join as broadcasts onto the |pairs|-bounded relation —
    * the corpus is touched once. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    val pairs = TextOps.docsParallel(spark, dir)
      .select(explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select($"bg.w1".as("w1"), $"bg.w2".as("w2"))
    // same four-consumer shape as q97: one checkpoint of the bounded
    // joint-count relation replaces four corpus explodes
    val joint = Ckpt(pairs.groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c12")), eager = false)
    val left = joint.groupBy($"w1").agg(sum($"c12").as("c1"))
    val right = joint.groupBy($"w2").agg(sum($"c12").as("c2"))
    val total = joint.agg(sum($"c12").as("n_bg"))
    joint.where($"c12" >= 5)
      .join(broadcast(left), "w1")
      .join(broadcast(right), "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi_q",
        floor(log($"c12" * $"n_bg" / ($"c1" * $"c2")) * 10000 + lit(1.0 / 3))
          .cast("long"))
      .where($"pmi_q" > 0)
      .select($"w1", $"w2", $"c12", $"c1", $"c2", $"pmi_q")
  }

  /** q85: adjacent-symbol pair counting — the inner loop of BPE tokenizer
    * training (count all within-token character bigrams over the corpus,
    * rank by frequency; the top pair is the next merge). At 100 TB the
    * pair space is bounded by alphabet² regardless of corpus size, so the
    * shuffle after map-side partial aggregation is tiny and the top-k is
    * a distributed TakeOrderedAndProject — per-partition heaps, the
    * driver merges k rows, no global sort. Ties broken by pair text so
    * the cut at k is deterministic on every engine. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextOps.docsParallel(spark, dir)
      .select(explode(TextOps.toks($"text")).as("tok"))
    toks
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      // 1-char tokens: sequence(1, 0) DESCENDS in Spark, emitting the
      // lone char twice — the length guard drops those (DuckDB's
      // range(1,1) is empty, so both engines agree: no pair)
      .where(length($"pair") === 2)
      .groupBy($"pair")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  def salientTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = TextOps.docsParallel(spark, dir)
      .select($"doc_id", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id")
      .orderBy(($"tf".cast("double") / $"df").desc, $"tok".asc)
    tf.join(df, "tok")
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .select($"doc_id", $"rk".cast("long").as("rk"), $"tok", $"tf", $"df")
  }

  /** q102: count-min-sketch heavy hitters — the sketch family's
    * deterministic member (unlike HLL, a CMS built from fixed hash
    * seeds is bit-reproducible, so it oracle-gates exactly). A d=4 x
    * w=256 sketch is built over the token stream; a token is reported
    * heavy when its CMS ESTIMATE (min over the 4 row cells) clears
    * total/200. True counts ride along to exhibit the one-sided error
    * (est >= true always; the spec asserts it).
    *
    * Scale shape: the sketch is a partial-agged groupBy onto d*w = 1024
    * cells — constant-size state per executor, then a 1024-row relation
    * broadcast back to score candidates. At 100 TB the candidate set
    * comes from a per-partition local top-k instead of the full vocab;
    * here the vocab is small enough to score wholesale, which also
    * makes the overestimate property checkable. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // row-j cell index of a token: first 32 md5 bits of "j#cms:tok" mod w
    def cell(j: Column, tok: Column): Column =
      conv(substring(md5(concat(j.cast("string"), lit("#cms:"), tok)), 1, 8),
        16, 10).cast("long") % 256
    val tf = TextOps.docsParallel(spark, dir)
      .select(explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val cellMap = tf
      .select($"tok", $"cnt", explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("cell", cell($"j", $"tok"))
    val sketch = cellMap.groupBy($"j", $"cell").agg(sum($"cnt").as("c"))
    val total = tf.agg(sum($"cnt").as("tot"))
    cellMap.join(broadcast(sketch), Seq("j", "cell"))
      .groupBy($"tok")
      .agg(min($"c").as("est"), max($"cnt").as("true_cnt"))
      .crossJoin(broadcast(total))
      .where($"est" * 200 >= $"tot")
      .select($"tok", $"est", $"true_cnt")
  }

  /** q122: character-entropy gibberish screen — per-doc Shannon entropy
    * of the codepoint distribution (nats), the cheap filter that flags
    * binary junk / repeated-char spam (low H) without tokenization.
    * Hash-gated via the q87 surprisal recipe: every ln input is an
    * exact integer ratio n_c/len (int/int `/` → the same double in
    * both engines), each term −(n_c/len)·ln(n_c/len) is offset-
    * quantized to a long FIRST (floor(x·1e4 + 1/3)) so the unordered
    * shuffle sum stays associative.
    *
    * Scale shape: explode → one partial-agged (doc, char) groupBy
    * (alphabet-bounded per doc), per-doc totals joined back on the
    * already-small relation, one final per-doc sum. All map-side
    * combinable. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chars = TextOps.docsParallel(spark, dir)
      .select($"doc_id", explode(split($"text", "")).as("ch"))
      .where($"ch" =!= "")
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("n_c"))
    val lens = chars.groupBy($"doc_id")
      .agg(sum($"n_c").as("len"), count(lit(1)).as("n_distinct"))
    chars.join(lens, "doc_id")
      .withColumn("term_q",
        floor((-($"n_c" / $"len")) * log($"n_c" / $"len") * 10000
          + lit(1.0 / 3)).cast("long"))
      .groupBy($"doc_id")
      .agg(max($"len").as("len"), max($"n_distinct").as("n_distinct"),
        sum($"term_q").as("entropy_q"))
      .withColumn("flag_low",
        when($"entropy_q" < 25000, 1L).otherwise(0L))
  }

  /** q129: nucleus (top-p) vocabulary mass — per language, the smallest
    * head of the frequency-sorted vocabulary whose cumulative token mass
    * reaches 90%. The size of that nucleus relative to the vocabulary is
    * the concentration diagnostic a tokenizer/mixture design reads (a
    * tiny nucleus = a corpus dominated by few types). The 90% test is
    * exact integer cross-multiplication (cum*10 >= total*9), no floats.
    *
    * Scale shape: the corpus reduces via one partial-agged groupBy to
    * the (lang, token, n) vocabulary; the rank/cumsum window runs on
    * that aggregate, bounded by vocab size, never the corpus. At
    * extreme vocab the window segments by count-bucket two-phase
    * (partial sums per bucket, prefix over the bucket totals) — the
    * [[graft.operators.Timeseries.cusumChangePoint]] note. */
  def vocabNucleus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = TextOps.docsParallel(spark, dir)
      .select($"lang", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
    val tot = counts.groupBy($"lang")
      .agg(sum($"n").as("total_tokens"), count(lit(1)).as("vocab"))
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"tok".asc)
    val cum = counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum($"n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val k = cum.join(tot, "lang")
      .where($"cum" * 10 >= $"total_tokens" * 9)
      .groupBy($"lang").agg(min($"rk").as("k_nucleus"))
    k.join(cum.select($"lang".as("__lang"), $"rk", $"cum"),
        $"lang" === $"__lang" && $"k_nucleus" === $"rk")
      .select($"lang", $"k_nucleus", $"cum".as("cum_at_k"))
      .join(tot, "lang")
      .select($"lang", $"total_tokens", $"vocab", $"k_nucleus", $"cum_at_k",
        expr("(k_nucleus * 1000000) div vocab").as("nucleus_ppm"))
  }

  /** q137: Heaps-law vocabulary growth curve — does vocab keep growing
    * as the corpus grows, or is the source mix saturating? Per corpus
    * decile (docs ordered by ingest id), the cumulative doc count,
    * token count, and DISTINCT-token count. The trick that makes this
    * one pass instead of ten: a token's contribution to every decile ≥
    * its FIRST occurrence is 1, so vocab_cum(d) = #{tokens whose
    * min(doc_id) falls in decile ≤ d} — a min-agg per token, a 10-row
    * histogram, and a cumulative window over those 10 rows. No
    * per-checkpoint rescan, no distinct-over-growing-prefix.
    *
    * Scale shape: the token relation partial-aggs to (token,
    * first_doc) then to 10 rows; the corpus-side decile sizes come from
    * the same kind of bounded groupBy. Windows only ever see 10 rows. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = TextOps.docsParallel(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // decile by position in the ingest order; doc_id is the stable
    // ingest id (0..n-1), so decile = (doc_id*10) div n with a cap for
    // the final partial decile
    val tok = docs.crossJoin(broadcast(nDocs))
      .select($"doc_id", least(expr("(doc_id * 10) div n_docs"), lit(9L)).as("dec"),
        TextOps.toks($"text").as("toks"))
    val perDoc = tok.groupBy($"dec")
      .agg(count(lit(1)).as("n_docs_dec"), sum(size($"toks")).as("n_toks_dec"))
    val firstSeen = tok.select($"dec", explode($"toks").as("t"))
      .groupBy($"t").agg(min($"dec").as("first_dec"))
      .groupBy($"first_dec").agg(count(lit(1)).as("n_new_types"))
    // constant partition key over the 10-row decile relation (q53 idiom)
    val w = Window.partitionBy(graft.functions.Win.bounded).orderBy($"dec")
      .rowsBetween(Window.unboundedPreceding, 0)
    perDoc.join(firstSeen, $"dec" === $"first_dec", "left")
      .select($"dec", $"n_docs_dec", $"n_toks_dec",
        coalesce($"n_new_types", lit(0L)).as("n_new_types"))
      .withColumn("docs_cum", sum($"n_docs_dec").over(w))
      .withColumn("tokens_cum", sum($"n_toks_dec").over(w))
      .withColumn("vocab_cum", sum($"n_new_types").over(w))
      .select($"dec", $"docs_cum", $"tokens_cum", $"n_new_types", $"vocab_cum")
  }

  /** q157: vocabulary coverage curve — corpus token-occurrence coverage
    * at fixed vocab sizes k ∈ {10, 20, 50, 100, 200, 500, 1000}: the
    * k-based companion to q129's p-based nucleus (a tokenizer budget
    * review asks "what does a 500-type vocab cover?", not "how many
    * types cover 90%?"). Rank by (tf desc, tok asc) — the q53 order —
    * cumulative occurrence mass at each checkpoint, ppm by integer
    * division.
    *
    * Scale shape: corpus → type counts (one partial-agged shuffle);
    * rank + cumsum windows run on the vocab-bounded relation; the 7
    * checkpoints come from a rank-membership filter, not 7 rescans. */
  def coverageCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ks = Seq(10L, 20L, 50L, 100L, 200L, 500L, 1000L)
    val counts = TextOps.docsParallel(spark, dir)
      .select(explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("tf"))
    // constant partition key over the vocab-bounded relation (q53 idiom)
    val w = Window.partitionBy(graft.functions.Win.bounded).orderBy($"tf".desc, $"tok".asc)
    val tot = counts.agg(sum($"tf").as("total"), count(lit(1)).as("vocab"))
    counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum($"tf").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .where($"rk".isin(ks: _*))
      .crossJoin(broadcast(tot))
      .select($"rk".as("k"), $"cum".as("covered"), $"total", $"vocab",
        expr("(cum * 1000000) div total").as("coverage_ppm"))
  }

  /** q146: language-ID confidence margin — q31's trigram scores with
    * the top-1 − top-2 gap as the per-doc confidence, and a low-margin
    * flag (margin·4 < top1) marking docs a pipeline should route to a
    * heavier classifier instead of trusting the cheap heuristic. The
    * production triage pattern: cheap model + confidence gate, escalate
    * the uncertain slice. All-integer (sorted score array, element
    * picks), bit-exact on any engine.
    *
    * Scale shape: map-only — the same 12 substring counts as q31 plus
    * an array sort of 4 elements per row; no shuffle at all. */
  def langidMargin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = langid(spark, dir)
    val sorted = array_sort(array($"score_en", $"score_de", $"score_fr", $"score_es"))
    base
      .withColumn("s_top", element_at(sorted, 4))
      .withColumn("s_second", element_at(sorted, 3))
      .withColumn("margin", $"s_top" - $"s_second")
      .withColumn("low_conf",
        when($"margin" * 4 < $"s_top", 1L).otherwise(0L))
      .select($"doc_id", $"predicted", $"s_top", $"s_second",
        $"margin", $"low_conf")
  }

  /** q140: Good–Turing frequency-of-frequencies — the LM-smoothing
    * prep table: for each observed token count r, how many distinct
    * token types occur exactly r times (N_r), and the Good–Turing
    * adjusted count r* = (r+1)·N_{r+1}/N_r, in ppm so the rational is
    * exact (0 where N_{r+1} is absent — the standard truncation; real
    * smoothers switch to a fit above small r anyway). The N_1 row is
    * the Good–Turing estimate of unseen-type mass — the number a
    * corpus-coverage review reads first.
    *
    * Scale shape: token counts partial-agg to types, types partial-agg
    * to the frequency histogram — bounded by |distinct r| (≤ a few
    * thousand on any corpus; Zipf guarantees sparsity). The adjacency
    * lookup N_{r+1} is a lead() window over that bounded relation. */
  def goodTuring(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nr = TextOps.docsParallel(spark, dir)
      .select(explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("r"))
      .groupBy($"r").agg(count(lit(1)).as("n_r"))
    // constant partition key over the bounded frequency histogram
    val w = Window.partitionBy(graft.functions.Win.bounded).orderBy($"r")
    nr
      .withColumn("r_next", lead($"r", 1).over(w))
      .withColumn("n_next", lead($"n_r", 1).over(w))
      .withColumn("r_star_ppm",
        when($"r_next" === $"r" + 1L,
          expr("((r + 1) * n_next * 1000000) div n_r")).otherwise(0L))
      .select($"r", $"n_r", $"r_star_ppm")
  }

  /** q159: per-document perplexity under the corpus bigram model — the
    * classic LM-based quality filter (score each document by how
    * predictable its word sequence is under a model of the whole
    * corpus; far-out documents are noise, suspiciously predictable ones
    * are boilerplate). Model is the bigram MLE P(w2|w1) =
    * c(w1,w2)/c(w1,·) trained on the corpus itself, so every document
    * bigram is in-model and no smoothing constant muddies the
    * semantics. Per-bigram surprisal ln(c(w1,·)/c(w1,w2)) is an exact
    * integer ratio through one libm ln — the q87 offset-quantization
    * recipe makes the sum shuffle-order-free.
    *
    * Scale shape: bigrams extract map-side (shifted zip, no positional
    * self-join); the model is the |distinct bigram|-bounded count
    * relation with the w1 marginal attached by an unordered window
    * (partition by w1, no sort — one shuffle of the model, not the
    * corpus); doc bigrams re-join the model on the (w1,w2) key — the
    * one corpus-sized shuffle — and partial-agg back to one row per
    * document. */
  def docPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    val bigrams = TextOps.docsParallel(spark, dir)
      .select($"doc_id", explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val model = bigrams.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      .withColumn("c1",
        sum($"c12").over(Window.partitionBy($"w1")))
    bigrams.join(model, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(floor(log($"c1" / $"c12") * 10000 + lit(1.0 / 3)).cast("long"))
          .as("surprisal_q"))
      .withColumn("mean_surprisal_q", $"surprisal_q" / $"n_bigrams")
  }

  /** q160: per-document top-k tf-idf terms — keyword extraction, the
    * per-document twin of q78's per-source salient terms: score(d,t) =
    * tf(d,t) · idf_q(t) with idf_q = floor(ln(N/df)·10000 + 1/3), an
    * ALL-INTEGER score (quantize the per-term idf once, then every
    * product and comparison is exact on both engines). Top-3 per doc,
    * ties broken by token text.
    *
    * Scale shape: tf partial-aggs on (doc,term); df partial-aggs on
    * term (vocab-bounded); the df lookup joins on the term key; the
    * top-3 cut is a row_number window per doc — per-group work bounded
    * by the doc's distinct terms, never the corpus. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = TextOps.docsParallel(spark, dir)
      .select($"doc_id", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_terms"))
      .crossJoin(TextOps.docsParallel(spark, dir).agg(count(lit(1)).as("n_docs")))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"tok".asc)
    tf.join(df, "tok")
      .crossJoin(broadcast(total))
      .withColumn("idf_q",
        floor(log($"n_docs" / $"df") * 10000 + lit(1.0 / 3)).cast("long"))
      .withColumn("score", $"tf" * $"idf_q")
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3 && $"score" > 0)
      .select($"doc_id", $"rank".cast("long").as("rank"), $"tok", $"tf",
        $"df", $"score")
  }

  /** q182: pairwise Jensen–Shannon divergence between the sources'
    * unigram distributions — q96's KL made symmetric and bounded
    * (JS ∈ [0, ln 2]), the standard "how far apart are two feeds"
    * number a mixing pipeline tracks (Lin 1991). Per source pair:
    * JS = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)).
    *
    * Engine portability (the q96 recipe, extended): each ln argument is
    * an exact ratio of long products (2·n_at·n_b over n_at·n_b +
    * n_bt·n_a), offset-quantized per TERM at 1e4, and each side's
    * divergence numerator is a sum of longs. Tokens present in only
    * one source contribute exactly ln 2 per occurrence, so the tail is
    * CLOSED-FORM — (n_a − Σshared n_at)·⌊ln 2·10⁴⌋ — and the pair join
    * only ever touches co-occurring tokens. The final js_ppm is one
    * integer division.
    *
    * Scale shape: one (source, token) partial-agged shuffle (shared
    * with q96's relation), a vocabulary-sized pair join keyed on token
    * — each token fans out to its |sources-containing-it|² pairs, NOT
    * to the corpus — and a |pairs|-row reduction. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jsOnCounts(TextOps.docsParallel(spark, dir)
      .select($"source", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("n")))
  }

  /** q182 core over ANY `(source, tok, n)` count relation — q286 feeds
    * it embedding-cell histograms (label -> source, cell -> tok). */
  private[graft] def jsOnCounts(st: DataFrame): DataFrame = {
    import st.sparkSession.implicits._
    val tot = st.groupBy($"source").agg(sum($"n").as("nt"))
    val ln2q = floor(log(lit(2.0)) * 10000 + lit(1.0 / 3)).cast("long")
    val shared = st.select($"source".as("src_a"), $"tok", $"n".as("n_at"))
      .join(st.select($"source".as("src_b"), $"tok", $"n".as("n_bt")), "tok")
      .where($"src_a" < $"src_b")
      .join(broadcast(tot.select($"source".as("src_a"), $"nt".as("n_a"))), "src_a")
      .join(broadcast(tot.select($"source".as("src_b"), $"nt".as("n_b"))), "src_b")
    def lnq(num: Column, den: Column): Column =
      floor(log(num.cast("double") / den.cast("double")) * 10000
        + lit(1.0 / 3)).cast("long")
    val mix = $"n_at" * $"n_b" + $"n_bt" * $"n_a"
    val agg = shared.groupBy($"src_a", $"src_b", $"n_a", $"n_b")
      .agg(sum($"n_at" * lnq(lit(2) * $"n_at" * $"n_b", mix)).as("sh_a_q"),
        sum($"n_bt" * lnq(lit(2) * $"n_bt" * $"n_a", mix)).as("sh_b_q"),
        sum($"n_at").as("m_a"), sum($"n_bt").as("m_b"))
    agg
      .withColumn("js_a_q", $"sh_a_q" + ($"n_a" - $"m_a") * ln2q)
      .withColumn("js_b_q", $"sh_b_q" + ($"n_b" - $"m_b") * ln2q)
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"js_a_q", $"js_b_q",
        expr("((js_a_q * n_b + js_b_q * n_a) * 50) div (n_a * n_b)")
          .as("js_ppm"))
  }

  /** q289: per-document bigram cross-entropy under the corpus bigram LM
    * — the perplexity-style quality ranker real curation pipelines run
    * (CCNet's LM filter, Wenzek et al. 2020, with the corpus itself as
    * the LM): ce(doc) = −(1/n)·Σ ln p(w2|w1) with p = c(w1,w2)/c(w1,·)
    * from corpus counts. Low CE = the doc is made of the corpus's own
    * predictable constructions (boilerplate reads LOWEST — this pairs
    * with q65's repetition screen); high CE = rare constructions —
    * either valuable diversity or garbage, the two tails a curation
    * policy cuts differently. Self-scoring means every observed bigram
    * has c ≥ 1: no smoothing term, no OOV path.
    *
    * Engine portability: each bigram's ln(c12/c1) is quantized at 1e4
    * ON THE COUNT TABLE (one ln per bigram TYPE, not per occurrence),
    * so the per-doc sum is exact longs; the final division is one
    * trunc-div of nonnegatives. Docs with < 2 tokens have no bigrams
    * and no row.
    *
    * Scale shape: bigrams from the q97 map-side tail zip; two
    * partial-agged count shuffles build the LM; the scoring join is
    * equality on (w1, w2) — occurrences meet their type's term, output
    * is one partial-agged groupBy per doc. Nothing quadratic. */
  def docCrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    val bg = TextOps.docsParallel(spark, dir)
      .select($"doc_id", explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val c12 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val terms = c12.join(c1, "w1")
      .select($"w1", $"w2",
        floor(log($"c12".cast("double") / $"c1".cast("double")) * 10000
          + lit(1.0 / 3)).cast("long").as("lnq"))
    bg.join(terms, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lnq").as("s"))
      .select($"doc_id", $"n_bigrams",
        expr("(-s) div n_bigrams").as("ce_e4"))
  }

  /** q292: HyperLogLog vocabulary cardinality per language, audited
    * against the exact distinct — the cardinality sketch (Flajolet et
    * al. 2007, m = 256 registers) every 100 TB census actually runs,
    * implemented DETERMINISTICALLY so the oracle reproduces it: the
    * md5 60-bit hash splits into an 8-bit register index and a 52-bit
    * suffix whose leading-zero rank comes from the INTEGER bit length
    * (length of the binary rendering — no float log2), registers are
    * a max-agg, and the harmonic sum Σ2^(−M) is computed as the exact
    * long Σ2^(53−M) (≤ 2⁶¹) with absent registers contributing 2⁵³ —
    * one fixed-form double division at the end, plus the standard
    * linear-counting small-range branch on exact integer conditions.
    * The audit value is err_ppm against the exact distinct: the number
    * that says whether sketching the 100 TB vocab census is safe.
    *
    * Scale shape: one map-only hash projection, one (lang, register)
    * max-agg to a ≤ 256·|langs| grid (the sketch — mergeable across
    * any partitioning by construction), the estimate on that grid.
    * The exact-distinct twin is the expensive two-phase distinct the
    * sketch replaces — kept here BECAUSE this is the audit. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = TextOps.docsParallel(spark, dir)
    val exact = docs
      .select($"lang", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"lang")
      .agg(countDistinct($"tok").as("exact_distinct"))
    hllEstimate(hllRegisters(docs)).join(exact, Seq("lang"))
      .select($"lang", $"exact_distinct", $"hll_est",
        expr("(abs(hll_est - exact_distinct) * 1000000) div exact_distinct")
          .as("err_ppm"))
  }

  /** q292's register relation over ANY `(lang, text)` docs — one row
    * per (lang, register) with the max rank. This IS the mergeable
    * sketch state: registers from disjoint batches merge by max, so
    * the streaming monitor accumulates exactly these rows. */
  private[graft] def hllRegisters(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"lang", explode(TextOps.toks($"text")).as("tok"))
      .select($"lang",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
      .select($"lang", expr("h % 256").as("b"), expr("h div 256").as("w"))
      .select($"lang", $"b",
        (lit(53L) - when($"w" === 0L, lit(0L))
          .otherwise(length(bin($"w")).cast("long"))).as("rho"))
      .groupBy($"lang", $"b").agg(max($"rho").as("m"))
  }

  /** q302: sketch-algebra vocabulary Jaccard between SOURCES — the HLL
    * register story (q292) extended to the set operation dedup planning
    * actually needs: J(A,B) from |A|, |B| and |A∪B|, where the union
    * estimate comes from MAX-MERGING the two sources' 256-register
    * sketches (the sketch-union identity that makes this exact sketch
    * algebra, not a heuristic), audited pair-by-pair against the exact
    * distinct-token Jaccard (q240's number). At 100 TB the exact side
    * is a vocabulary self-join; the sketch side is |sources|·256 rows
    * of state — this query is the audit that says how much Jaccard
    * accuracy the 20,000x state fold costs.
    *
    * Exactness: registers/estimates ride q292's integer discipline
    * verbatim; the union is a per-bucket MAX (order-free); the Jaccard
    * ratios are trunc-divs on exact longs (sketch inclusion–exclusion
    * clamped at 0 — estimates can make A+B−A∪B slightly negative).
    *
    * Scale shape: one token scan → 256·|sources| register rows; pair
    * work is C(|sources|,2)·256; the exact audit side is the distinct
    * vocabulary join (the cost being replaced — at scale it drops). */
  def sketchJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = TextOps.docsParallel(spark, dir)
      .select($"source".as("lang"), $"text")
    // the register relation feeds four subtrees (single estimate, both
    // pair-universe distincts, the merge join) and ends in a groupBy —
    // truncate once; same for the distinct token relation below (census
    // + both exact-intersection sides)
    val regs = graft.operators.Ckpt(hllRegisters(docs), eager = false)
    val single = hllEstimate(regs).select($"lang", $"hll_est")
    val pairs = regs.select($"lang").distinct().select($"lang".as("sa"))
      .crossJoin(regs.select($"lang").distinct().select($"lang".as("sb")))
      .where($"sa" < $"sb")
    val merged = pairs.join(regs, $"lang" === $"sa" || $"lang" === $"sb")
      .select(concat($"sa", lit("|"), $"sb").as("lang"), $"b", $"m")
      .groupBy($"lang", $"b").agg(max($"m").as("m"))
    val unionEst = hllEstimate(merged)
      .select(split($"lang", "\\|").getItem(0).as("src_a"),
        split($"lang", "\\|").getItem(1).as("src_b"),
        $"hll_est".as("hll_union"))
    val tokSrc = graft.operators.Ckpt(docs
      .select($"lang".as("src"), explode(TextOps.toks($"text")).as("tok"))
      .distinct(), eager = false)
    val nSrc = tokSrc.groupBy($"src").agg(count(lit(1)).as("n"))
    val inter = tokSrc.as("x").join(tokSrc.as("y"),
        $"x.tok" === $"y.tok" && $"x.src" < $"y.src")
      .groupBy($"x.src".as("src_a"), $"y.src".as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs.select($"sa".as("src_a"), $"sb".as("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce($"n_inter", lit(0L)))
      .join(nSrc.select($"src".as("src_a"), $"n".as("n_a")), Seq("src_a"))
      .join(nSrc.select($"src".as("src_b"), $"n".as("n_b")), Seq("src_b"))
      .join(single.select($"lang".as("src_a"), $"hll_est".as("hll_a")), Seq("src_a"))
      .join(single.select($"lang".as("src_b"), $"hll_est".as("hll_b")), Seq("src_b"))
      .join(unionEst, Seq("src_a", "src_b"))
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_inter",
        expr("(n_inter * 1000000) div (n_a + n_b - n_inter)")
          .as("exact_jaccard_ppm"),
        $"hll_a", $"hll_b", $"hll_union",
        expr("(greatest(0L, hll_a + hll_b - hll_union) * 1000000) div hll_union")
          .as("sketch_jaccard_ppm"))
  }

  /** The HLL estimate from a `(lang, b, m)` register relation. */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame = {
    import regs.sparkSession.implicits._
    regs.groupBy($"lang")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))"))
          .as("s_present"),
        count(lit(1)).as("n_present"))
      .select($"lang",
        ($"s_present"
          + (lit(256L) - $"n_present") * lit(9007199254740992L)).as("s"),
        (lit(256L) - $"n_present").as("v"))
      // alpha_256·m²·2⁵³ — literal chain written identically in the
      // oracle so both engines fold to the same double
      .withColumn("raw", floor(
        lit((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0)
          / $"s".cast("double")).cast("long"))
      .withColumn("hll_est",
        when($"v" > 0L && $"raw" < 640L,
          floor(lit(256.0) * log(lit(256.0) / $"v".cast("double"))
            + lit(1.0 / 3)).cast("long"))
          .otherwise($"raw"))
      .select($"lang", $"hll_est")
  }

  /** q219: Chao1 unseen-type richness per language — how much of each
    * language's BIGRAM-type space the corpus has NOT yet seen. Where q137
    * (Heaps growth) and q140 (Good–Turing mass) describe the observed
    * curve, Chao1 extrapolates its asymptote from the rare tail alone:
    * chao1 = V + N1²/(2·N2) with N1/N2 the singleton/doubleton type
    * counts (Chao 1984; the N2=0 bias-corrected form V + N1(N1−1)/2).
    * The "collect more of this language or dedup what we have?" signal a
    * mixture designer reads next to q215's epoch caps. Bigram types, not
    * unigrams: a closed word vocabulary saturates (N1→0, estimator
    * degenerates to V) while the combination space keeps a rare tail.
    *
    * All integer: chao1_milli = 1000·V + 1000·N1² div (2·N2), and
    * unseen_ppm = 10⁶·(chao1 − V) div chao1 on the milli grid.
    *
    * Scale shape: bigrams come from a map-side zip of each token array
    * with its own tail (q97's shape — no positional self-join); the only
    * corpus-sized shuffle is the (lang, bigram) partial-agged count; the
    * per-language frequency-of-frequencies agg runs on the type table. */
  def chao1Richness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    val counts = TextOps.docsParallel(spark, dir)
      .select($"lang", explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy($"lang", $"bg").agg(count(lit(1)).as("c"))
    counts.groupBy($"lang")
      .agg(count(lit(1)).as("v"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when($"c" === 2L, 1L).otherwise(0L)).as("n2"),
        sum($"c").as("n_tokens"))
      .withColumn("chao1_milli",
        when($"n2" > 0L,
          lit(1000L) * $"v" + expr("(1000 * n1 * n1) div (2 * n2)"))
          .otherwise(
            lit(1000L) * $"v" + expr("(1000 * n1 * (n1 - 1)) div 2")))
      .withColumn("unseen_ppm",
        expr("((chao1_milli - 1000 * v) * 1000000) div chao1_milli"))
  }

  /** q240: source-vocabulary overlap matrix — type-level Jaccard between
    * every source pair. q211's duplication matrix counts shared
    * DOCUMENTS (near-dup pairs across sources); this counts shared
    * VOCABULARY, which moves first: two crawls can share zero documents
    * and still be the same register of the same language (high type
    * overlap), or share a boilerplate template (q211 high) while their
    * long-tail vocabularies barely intersect. The pair a mixture
    * designer reads before deciding if "add source B" buys diversity.
    *
    * Scale shape: one distinct (source, token) pass; the pair counts
    * come from a self-join on the token key — each token fans out to at
    * most C(|sources|,2) = bounded pairs, so the join output is ≤25×
    * the type table, never quadratic in tokens; per-source type counts
    * attach via two broadcast joins on the |sources|-row relation.
    * Output: C(|sources|,2) rows. */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = TextOps.docsParallel(spark, dir)
      .select($"source", explode(TextOps.toks($"text")).as("tok"))
      .distinct()
    val sizes = types.groupBy($"source").agg(count(lit(1)).as("n_types"))
    types.as("a").join(types.as("b"),
        $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select($"source".as("src_a"),
        $"n_types".as("n_a"))), "src_a")
      .join(broadcast(sizes.select($"source".as("src_b"),
        $"n_types".as("n_b"))), "src_b")
      .select($"src_a", $"src_b", $"n_shared", $"n_a", $"n_b",
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)")
          .as("jaccard_ppm"))
  }

  /** q234: cross-split OOV rate — of the token OCCURRENCES in the val
    * and test splits (q236's hash assignment), how many are types the
    * train split never saw? The vocabulary-generalization audit run
    * before freezing a tokenizer: q108 measures OOV against a CHOSEN
    * top-k vocabulary, this measures it against the vocabulary the
    * training data actually induces — high val-OOV with low test-OOV
    * (or vice versa) also flags a content-correlated split q236's χ²
    * can't see (χ² tests label marginals, not vocabulary).
    *
    * Scale shape: two linear passes over the exploded corpus (train
    * side partial-aggs to distinct types; eval side joins on `tok`).
    * The vocab join is SHUFFLED on the token key, not broadcast — a
    * 100 TB train split induces a vocabulary far beyond driver memory;
    * co-partitioning makes it one exchange per side. Output: 2 rows. */
  def splitOov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = Sampling.hash32("split", $"doc_id") % 10L
    val toks = TextOps.docsParallel(spark, dir)
      .select(when(h <= 7L, "train").when(h === 8L, "val")
          .otherwise("test").as("split"),
        explode(TextOps.toks($"text")).as("tok"))
    val trainVocab = toks.where($"split" === "train")
      .select($"tok").distinct().withColumn("__in", lit(1L))
    toks.where($"split" =!= "train")
      .join(trainVocab, Seq("tok"), "left")
      .select($"split", $"tok", $"__in".isNull.as("oov"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"oov", 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when($"oov", $"tok")).as("n_oov_types"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_tokens"))
  }

  /** q228: Self-BLEU corpus diversity — the generation-diversity metric
    * (Zhu et al. 2018): over a deterministic k=20 sample, each document's
    * mean distinct-bigram precision against every OTHER sampled document.
    * High overlap = mode-collapsed / templated text; the corpus-level
    * average the dedup pair lists (q25/q28) don't give, because here the
    * ZERO-overlap pairs count too (they are the diversity).
    *
    * Sampling is the content-hash draw (hash32, reshard-stable); the
    * global top-k is TakeOrderedAndProject — per-partition heaps, no
    * corpus sort. Everything after runs on k docs: work is k² pairs
    * whatever the corpus size, which is the whole point — a diversity
    * ESTIMATE scales by fixing k, not by pairing the corpus. The sampled
    * relation is materialized once (Ckpt): its three consumers (two join
    * sides, cardinalities) would each re-run the corpus-wide top-k scan.
    * All integer: precision ppm = 10⁶·|∩| div |bg(a)|, mean div (k−1). */
  def selfBleu(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = TextOps.toks($"text")
    // Ckpt sits on the PRE-explode 20-row pick so km1 is the sample size
    // minus one (matching the oracle's `count(*) - 1 FROM s`) even when a
    // sampled doc has <2 tokens and contributes no bigram — counting
    // post-explode doc_ids would silently shrink the denominator for
    // exactly those docs. Deriving the explode from the checkpointed pick
    // re-runs only a 20-row map per consumer.
    val picked = Ckpt(TextOps.docsParallel(spark, dir)
      .select($"doc_id", $"text",
        Sampling.hash32("sb", $"doc_id").as("draw"))
      .orderBy($"draw".asc, $"doc_id".asc).limit(20)
      .select($"doc_id", $"text"), eager = false)
    val sampled = picked
      .select($"doc_id", explode(array_distinct(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)))).as("bg"))
    val card = sampled.groupBy($"doc_id").agg(count(lit(1)).as("n_bg"))
    val km1 = picked.agg((count(lit(1)) - 1L).as("km1"))
    val perDoc = sampled.as("a").join(sampled.as("b"),
        $"a.bg" === $"b.bg" && $"a.doc_id" =!= $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_id"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(card, "doc_id")
      .select($"doc_id", expr("(shared * 1000000) div n_bg").as("ppm"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("pairs_hit"), sum($"ppm").as("s"))
    card.join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(km1))
      .select($"doc_id", $"n_bg",
        coalesce($"pairs_hit", lit(0L)).as("pairs_hit"),
        expr("coalesce(s, 0L) div km1").as("mean_overlap_ppm"))
  }

  /** q301: unigram-LM (SentencePiece-style) tokenizer training — ONE
    * hard-EM (Viterbi) round over a substring candidate vocabulary
    * (Kudo 2018, "Subword Regularization", §3.2's EM with the E-step
    * taken at the Viterbi point): candidate pieces are all substrings
    * of length ≤ 4 of the (8-char-truncated) word types, scored by
    * corpus log-frequency; every word type is segmented by an exact
    * max-score dynamic program over those scores; the M-step re-counts
    * pieces along the chosen segmentations, frequency-weighted. The
    * training-side complement of q254 (BPE builds a vocab bottom-up by
    * merges; unigram-LM starts from an over-complete candidate set and
    * lets EM concentrate mass) — together they are the two tokenizer
    * training families in production use; q70/q108 consume what these
    * produce.
    *
    * Exactness: piece scores are floor(ln(cnt/tot)·1e6 + 1/3) longs;
    * the DP is integer addition with a (score desc, piece-length asc)
    * tie-break — both engines walk the identical 8-position lattice
    * (the oracle unrolls the 8 DP stages and the 8 backtrack steps as
    * CTEs, the q254/q99 recipe); single-char pieces are always kept so
    * every word is segmentable.
    *
    * Scale shape: the vocabulary is a distributed (word, freq) relation
    * (never collected — the q254 discipline); candidate counting is one
    * bounded explode (≤ 8·4 pieces per word type) + partial agg; each
    * of the 8 DP stages is a vocab-bounded join against the broadcast
    * piece scores; the backtrack is 8 more bounded joins. Constant plan
    * depth, zero unbounded shuffles, output = top-50 rows. */
  def unigramEmStep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unigramEmStepOn(TextOps.docsParallel(spark, dir)
      .select(explode(TextOps.toks($"text")).as("tok"))
      .where(length($"tok") > 0)
      .select(substring($"tok", 1, 8).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq")), topN = 50)
  }

  /** Testable core over any `(w, freq)` word-type relation (w ≤ 8 chars). */
  private[graft] def unigramEmStepOn(words: DataFrame, topN: Int): DataFrame = {
    import words.sparkSession.implicits._
    val emc = unigramSegments(words)
      .groupBy($"piece").agg(sum($"freq").as("em_count"))
    emc.orderBy($"em_count".desc, $"piece".asc).limit(topN)
      .withColumn("vit_rank", row_number().over(
        Window.partitionBy(graft.functions.Win.bounded)
          .orderBy($"em_count".desc, $"piece".asc)).cast("long"))
  }

  /** The Viterbi segmentation relation: one `(w, freq, piece)` row per
    * emitted piece of every word type — shared by the q301 M-step and
    * the q303 compression audit. */
  private[graft] def unigramSegments(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val w = Ckpt(words.select($"w", $"freq", length($"w").as("len")),
      eager = false)
    // candidate pieces: every substring occurrence of length 1..4,
    // frequency-weighted; keep cnt >= 5 or single chars (segmentability)
    val occs = w.select($"freq",
      explode(expr("flatten(transform(sequence(1, len), i -> " +
        "transform(sequence(1, least(4, len - i + 1)), " +
        "l -> substr(w, i, l))))")).as("piece"))
    val kept = occs.groupBy($"piece").agg(sum($"freq").as("cnt"))
      .where($"cnt" >= 5L || length($"piece") === 1)
    val tot = kept.agg(sum($"cnt").as("tot"))
    val sc = Ckpt(kept.crossJoin(broadcast(tot))
      .select($"piece",
        floor(log($"cnt".cast("double") / $"tot".cast("double")) * 1e6
          + lit(1.0 / 3)).cast("long").as("sq")), eager = false)
    // Viterbi DP, positions 1..8: dp(i) = max over piece lengths l of
    // dp(i-l) + score(substr(i-l+1, l)); ties -> smaller l.
    //
    // Round-14 history of this lattice: the original per-stage
    // RELATIONAL formulation (8 DP stages x <=4 branch joins, each stage
    // checkpointed, + 8 backtrack joins) was 100% job floor / 0% data by
    // a per-job overhead probe, and both relaxations of its checkpoints
    // (all-cache, stride-2) blew up the driver (COVERAGE/SCALE.md). The
    // optimization round replaced the relational lattice with a MAP-SIDE
    // one: each word type joins the scores of its own <=26 positioned
    // substrings ONCE (map key = start*10 + piece length), and the whole
    // 8-position DP plus its backtrack run as one codegen aggregate()
    // expression per row — identical recurrence, identical (score desc,
    // piece-length asc) tie-break (ascending-l scan replacing only on
    // strictly-greater score), zero per-stage jobs. Scale shape: the
    // piece-score relation is vocab-bounded (<=4-char strings with
    // cnt >= 5) so its join stays small; word types never collect
    // anywhere; per-row DP state is a <=9-element array.
    val posPieces = w.select($"w", $"freq", $"len",
      explode(expr("flatten(transform(sequence(1, len), i -> " +
        "transform(sequence(1, least(4, len - i + 1)), " +
        "l -> named_struct('k', i * 10 + l, 'piece', substr(w, i, l)))))"))
        .as("pp"))
      .select($"w", $"freq", $"len", $"pp.k".as("k"), $"pp.piece".as("piece"))
    // inner join = the old per-branch inner join to sc: a piece below the
    // cnt floor contributes no branch; single chars are always kept, so
    // the DP stays total and every word type survives the groupBy
    val scored = posPieces.join(sc, Seq("piece"))
      .groupBy($"w", $"freq", $"len")
      .agg(map_from_entries(collect_list(struct($"k", $"sq"))).as("m"))
    // dp is 1-indexed: element_at(dp, pos + 1) = dp(pos); dp(0) = (0, 0)
    val dpExpr =
      "aggregate(sequence(1, len), " +
        "array(named_struct('s', cast(0 as bigint), 'bl', 0)), " +
        "(acc, i) -> array_append(acc, " +
          "aggregate(sequence(1, least(4, i)), " +
            "named_struct('s', cast(null as bigint), 'bl', 0), " +
            "(b, l) -> if(try_element_at(m, (i - l + 1) * 10 + l) is null, b, " +
              "if(b.s is null or element_at(acc, i - l + 1).s " +
                  "+ try_element_at(m, (i - l + 1) * 10 + l) > b.s, " +
                "named_struct('s', element_at(acc, i - l + 1).s " +
                  "+ try_element_at(m, (i - l + 1) * 10 + l), 'bl', l), " +
                "b)))))"
    // backtrack: walk pos -> pos - bl(pos), emitting the chosen piece;
    // 8 steps bound the walk exactly like the old 8 backtrack joins
    val btExpr =
      "aggregate(sequence(1, 8), " +
        "named_struct('pos', len, 'ps', cast(array() as array<string>)), " +
        "(st, x) -> if(st.pos <= 0, st, named_struct(" +
          "'pos', st.pos - element_at(dp, st.pos + 1).bl, " +
          "'ps', array_append(st.ps, " +
            "substr(w, st.pos - element_at(dp, st.pos + 1).bl + 1, " +
              "element_at(dp, st.pos + 1).bl)))), " +
        "st -> st.ps)"
    scored
      .withColumn("dp", expr(dpExpr))
      .select($"w", $"freq", explode(expr(btExpr)).as("piece"))
  }

  /** q303: compression rate of the q301-trained segmentation — the
    * effect metric tokenizer training exists FOR: over the
    * frequency-weighted corpus, how many pieces the Viterbi
    * segmentation spends per token and how many characters each piece
    * carries. The q301/q254 training steps report WHAT was learned;
    * this reports what it BUYS (pieces/kilotoken is the context-window
    * budget a tokenizer change moves). One row.
    *
    * Scale shape: rides [[unigramSegments]] (vocab-bounded DP) + one
    * global agg; corpus volume touches only the word-count scan. */
  def unigramCompression(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unigramCompressionOn(TextOps.docsParallel(spark, dir)
      .select(explode(TextOps.toks($"text")).as("tok"))
      .where(length($"tok") > 0)
      .select(substring($"tok", 1, 8).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq")))
  }

  private[graft] def unigramCompressionOn(words: DataFrame): DataFrame = {
    import words.sparkSession.implicits._
    val perWord = unigramSegments(words)
      .groupBy($"w", $"freq").agg(count(lit(1)).as("np"))
      .withColumn("len", length($"w").cast("long"))
    perWord.agg(
        count(lit(1)).as("n_word_types"),
        sum($"freq").as("n_tokens"),
        sum($"freq" * $"len").as("n_chars"),
        sum($"freq" * $"np").as("n_pieces"))
      .select($"n_word_types", $"n_tokens", $"n_chars", $"n_pieces",
        expr("(n_pieces * 1000) div n_tokens").as("pieces_per_kilotok"),
        expr("(n_chars * 1000000) div n_pieces").as("chars_per_piece_ppm"))
  }

  /** q254: BPE merge learning — the first 5 byte-pair-encoding merges
    * the corpus induces (Sennrich, Haddow & Birch 2016: repeatedly
    * count adjacent symbol pairs over the frequency-weighted word-type
    * vocabulary, merge the most frequent pair greedily left-to-right,
    * repeat). THE subword-tokenizer training step: q70 applies a fixed
    * tokenization, q137/q108 audit a chosen vocabulary — this is where
    * the vocabulary comes from, and running it per-corpus is how a
    * pipeline detects that its tokenizer no longer fits the data (the
    * top merges of a code crawl and a news crawl differ from merge 1).
    *
    * Exactness: counting is occurrence-weighted long sums (overlapping
    * pairs counted at every position, the reference implementation's
    * get_stats); argmax tie-break (count desc, pair asc) is a pure
    * byte-order comparison; the rewrite is the greedy non-overlapping
    * left-to-right pass, realized as an array fold here and as
    * alternate-selection within candidate runs in the oracle — provably
    * the same pass (consecutive candidate positions require a = b).
    *
    * Scale shape: the vocabulary is a (token, freq) relation — DISTRIBUTED,
    * never collected (at 100 TB the type table alone exceeds driver
    * memory); each round is one pair-explode + partial-agged count and
    * a 1-ROW argmax collect (the q187 k-center discipline: k rounds x
    * one row), then a map-only fold rewrite, lineage truncated per
    * round via Ckpt exactly like the Graph fixpoints. K is a constant:
    * 5 rounds, plan depth fixed. Output: 5 rows. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMergesOn(TextOps.docsParallel(spark, dir)
      .select(explode(TextOps.toks($"text")).as("tok"))
      .where(length($"tok") > 0)
      .groupBy($"tok").agg(count(lit(1)).as("freq")), k = 5)
  }

  /** Testable core: the first `k` merges over any `(tok, freq)`
    * vocabulary relation. */
  private[graft] def bpeMergesOn(vocab: DataFrame, k: Int): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    var syms = Ckpt(vocab.select($"freq",
      expr("transform(sequence(1, length(tok)), i -> substr(tok, i, 1))")
        .as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val top = syms
        .select($"freq", explode(arrays_zip(
          slice($"syms", lit(1), size($"syms") - 1),
          slice($"syms", lit(2), size($"syms") - 1))).as("p"))
        .select($"freq", $"p".getField("0").as("a"), $"p".getField("1").as("b"))
        .groupBy($"a", $"b").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"a".asc, $"b".asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top.head.getAs[String]("a"),
          top.head.getAs[String]("b"), top.head.getAs[Long]("cnt"))
        merges += ((r.toLong, a, b, cnt))
        // greedy left-to-right single pass: replace the tail of the
        // accumulator when it closes the winning pair; a merged symbol
        // can never immediately re-open the same pair (a || b != a)
        val next = Ckpt(syms.withColumn("syms",
          aggregate($"syms", array().cast("array<string>"),
            (acc, x) => when(size(acc) > 0
                && element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(x))))))
        Ckpt.release(syms)
        syms = next
        r += 1
      }
    }
    Ckpt.release(syms)
    merges.toSeq.toDF("merge_rank", "sym_a", "sym_b", "pair_count")
  }

  /** q258: Zipf rank-frequency slope per language — OLS fit of
    * ln(freq) on ln(rank) over each language's top-50 types (Zipf's
    * law predicts slope ≈ −1; the one-number lexical-naturalness check
    * next to q226's Hill tail and q222's broken stick, which both fit
    * LENGTH distributions — this fits the VOCABULARY). A corpus whose
    * slope drifts toward 0 is template/boilerplate-flattened; one far
    * below −1 is a degenerate head (the q53 top-k eats everything) —
    * either way the tokenizer and mixture plans change.
    *
    * Exactness: both regressors are ln's of exact integers, each
    * offset-quantized to the 1e4 grid BEFORE the sums (the q87
    * discipline — order-free long/decimal arithmetic after that); the
    * slope is one double division floored at milli.
    *
    * Scale shape: the (lang, tok) aggregate is the only corpus-sized
    * shuffle; the rank window and the OLS sums run on the ≤50-row-per-
    * language head. Output: |langs| rows. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val tf = TextOps.docsParallel(spark, dir)
      .select($"lang", explode(TextOps.toks($"text")).as("tok"))
      .where(length($"tok") > 0)
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
    val head = tf
      .withColumn("rk", row_number().over(Window.partitionBy($"lang")
        .orderBy($"cnt".desc, $"tok".asc)).cast("long"))
      .where($"rk" <= 50L)
      .select($"lang",
        floor(log($"rk".cast("double")) * 10000d + lit(1.0 / 3))
          .cast("long").as("xq"),
        floor(log($"cnt".cast("double")) * 10000d + lit(1.0 / 3))
          .cast("long").as("yq"))
    head.groupBy($"lang")
      .agg(count(lit(1)).as("n_types"),
        sum($"xq".cast(dec)).as("sx"),
        sum($"yq".cast(dec)).as("sy"),
        sum($"xq".cast(dec) * $"yq").as("sxy"),
        sum($"xq".cast(dec) * $"xq").as("sxx"))
      .select($"lang", $"n_types",
        when($"n_types".cast(dec) * $"sxx" =!= $"sx" * $"sx",
          floor(($"n_types".cast(dec) * $"sxy" - $"sx" * $"sy")
            .cast("double") * 1000d
            / ($"n_types".cast(dec) * $"sxx" - $"sx" * $"sx")
              .cast("double")
            + lit(1.0 / 3)).cast("long"))
          .otherwise(0L).as("slope_milli"))
  }

  /** q260: term burstiness (Church & Gale 1995) — for the 50 highest-df
    * terms, the variance-to-mean ratio (VMR) of the per-document count
    * INCLUDING the zeros: a Poisson-scattered term sits at VMR ≈ 1, a
    * bursty content term (all its mass in few docs) far above, and a
    * template/boilerplate term pinned once-per-doc BELOW 1. The
    * one-number split between "function word", "topic word", and
    * "boilerplate artifact" that q84's rule list approximates by hand —
    * and the feature a stop-list or df-cut should be derived from.
    *
    * Exactness: VMR = (N·Σtf² − (Σtf)²) / (N·Σtf) is a pure integer
    * ratio (zeros contribute nothing to either sum, so the per-doc
    * relation never needs densifying); both moments accumulate in
    * decimal(38,0) (HUGEINT twin) and the milli result is one floor
    * division — no doubles anywhere.
    *
    * Scale shape: one (doc, tok) partial-agged shuffle, one
    * vocabulary-sized moment agg, a TakeOrderedAndProject top-50, and a
    * 1-row broadcast for N. The corpus is touched once. */
  def termBurstiness(spark: SparkSession, dir: String): DataFrame =
    termBurstinessOn(TextOps.docsParallel(spark, dir))

  private[graft] def termBurstinessOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val tf = docs
      .select($"doc_id", explode(TextOps.toks($"text")).as("tok"))
      .where($"tok" =!= "")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val moments = tf.groupBy($"tok")
      .agg(count(lit(1)).as("df"),
        sum($"tf".cast(dec)).as("cf"),
        sum($"tf".cast(dec) * $"tf").as("s2"))
    val nDocs = docs.agg(count(lit(1)).cast(dec).as("n_docs"))
    moments.orderBy($"df".desc, $"tok".asc).limit(50)
      .crossJoin(broadcast(nDocs))
      .select($"tok", $"df", $"cf".cast("long").as("cf"),
        expr("""(1000 * (n_docs * s2 - cf * cf)) div (n_docs * cf)""")
          .cast("long").as("vmr_milli"))
  }

  /** q261: standardized type-token ratio (STTR) — mean TTR over
    * consecutive 25-token segments, per source. Raw TTR falls with
    * document length (Heaps' law, q137), so corpora of different doc
    * lengths aren't comparable on it; fixing the segment size removes
    * the length confound (the STTR standard in corpus linguistics).
    * A source whose STTR sags is template-flooded even when its q32
    * quality score looks fine.
    *
    * Exactness: TTR per complete segment = distinct·1000/25 =
    * distinct·40 — exact integers; the per-source mean is one floor
    * division. Incomplete tail segments (< 25 tokens) are dropped, so
    * every segment contributes at identical weight.
    *
    * Scale shape: token renumbering is a per-doc window (bounded by
    * document length); the distinct count per (doc, segment) and the
    * per-source mean are partial-agged groupBys. One corpus scan. */
  def sttr(spark: SparkSession, dir: String): DataFrame =
    sttrOn(TextOps.docsParallel(spark, dir))

  private[graft] def sttrOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val segLen = 25
    val toks = docs
      .select($"source", $"doc_id",
        posexplode(TextOps.toks($"text")).as(Seq("pos", "tok")))
      .where($"tok" =!= "")
    val perSeg = toks
      .withColumn("seg", expr(s"(row_number() over (partition by doc_id order by pos) - 1) div $segLen"))
      .groupBy($"source", $"doc_id", $"seg")
      .agg(count(lit(1)).as("n"), countDistinct($"tok").as("n_types"))
      .where($"n" === segLen.toLong)
    perSeg.groupBy($"source")
      .agg(count(lit(1)).as("n_segments"),
        sum($"n_types" * lit(1000L / segLen)).as("sum_ttr"))
      .select($"source", $"n_segments",
        expr("sum_ttr div n_segments").as("mean_ttr_milli"))
  }

  /** q273: per-language vocabulary Gini — inequality of type
    * frequencies (0 = uniform vocabulary, → 1 = a few types own the
    * corpus). The distribution-wide companion to q258's Zipf slope (a
    * two-parameter fit) and q260's per-term burstiness: a language
    * whose Gini drifts up is template-flooding; one whose Gini drifts
    * down is losing its natural head (over-aggressive stopword/df
    * cuts). Computed on the GROUPED (lang, tf, count) relation — the
    * q120/q144 grid trick — so no vocabulary-sized window ever sorts
    * through one task: equal-frequency blocks contribute
    * tf·c·(2·cumBefore + c − n) to the Gini numerator exactly,
    * independent of within-block order.
    *
    * Exactness: pure integers end to end — numerator terms in
    * decimal(38,0) (can be negative per block; the total is ≥ 0, so
    * the single ppm floor division runs on nonnegatives where
    * trunc-div == floor-div), denominator n·Σtf exact.
    *
    * Scale shape: one (lang, tok) corpus shuffle, one (lang, tf) grid
    * aggregate, a per-lang cumulative window over the grid (bounded by
    * distinct frequency VALUES, not vocabulary size), |langs| rows
    * out. */
  def vocabGini(spark: SparkSession, dir: String): DataFrame =
    vocabGiniOn(TextOps.docsParallel(spark, dir))

  private[graft] def vocabGiniOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val tf = docs
      .select($"lang", explode(TextOps.toks($"text")).as("tok"))
      .where($"tok" =!= "")
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("tf"))
    val grid = tf.groupBy($"lang", $"tf").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"lang").orderBy($"tf".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy($"lang")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("cum_b", coalesce(sum($"c").over(w), lit(0L)))
      .withColumn("n", sum($"c").over(wAll))
      .withColumn("tot", sum($"tf".cast(dec) * $"c").over(wAll))
      .select($"lang", $"n", $"tot",
        ($"tf".cast(dec) * $"c" * ($"cum_b" * 2L + $"c" - $"n"))
          .as("num_t"))
      .groupBy($"lang")
      .agg(max($"n").as("n_types"), max($"tot").as("tot"),
        sum($"num_t").as("num"))
      .select($"lang", $"n_types",
        expr("(num * 1000000) div (cast(n_types as decimal(38,0)) * tot)")
          .cast("long").as("gini_ppm"))
  }

  /** q262: Flesch reading-ease per source — the classic readability
    * screen (Flesch 1948): 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), with syllables approximated by vowel-group
    * runs `[aeiouy]+` (≥ 1 per word) and sentences by terminator runs
    * `[.!?]+` (≥ 1 per document — the synthetic corpus carries no
    * terminators, so there the formula degrades to words-per-doc, which
    * the guard makes explicit rather than dividing by zero). A quality
    * gate reads this next to q32's ratio score: a source whose grade
    * level explodes is OCR noise or code, not prose.
    *
    * Exactness: both ratios are exact-integer divisions evaluated once
    * in double, the constant chain is left-associated identically in
    * both engines, and the result is milli-floored with the +1/3
    * offset.
    *
    * Scale shape: map-only per-token regexp counts, then two
    * partial-agged groupBys ((source, doc) then source). One scan. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityOn(TextOps.docsParallel(spark, dir))

  private[graft] def readabilityOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.where($"text".isNotNull)
    val words = base
      .select($"source", $"doc_id", explode(TextOps.toks($"text")).as("tok"))
      .where($"tok" =!= "")
      .groupBy($"source", $"doc_id")
      .agg(count(lit(1)).as("w"),
        sum(greatest(lit(1L),
          regexp_count(lower($"tok"), lit("[aeiouy]+")).cast("long"))).as("y"))
    val sents = base.select($"source", $"doc_id",
      greatest(lit(1L), regexp_count($"text", lit("[.!?]+")).cast("long")).as("s"))
    words.join(sents, Seq("source", "doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"w").as("n_words"),
        sum($"s").as("n_sentences"), sum($"y").as("n_syllables"))
      .where($"n_words" > 0L)
      .select($"source", $"n_docs", $"n_words", $"n_sentences", $"n_syllables",
        floor((lit(206.835)
          - lit(1.015) * ($"n_words".cast("double") / $"n_sentences")
          - lit(84.6) * ($"n_syllables".cast("double") / $"n_words")) * 1000
          + lit(1.0 / 3)).cast("long").as("flesch_milli"))
  }

  /** q313: interpolated Kneser–Ney bigram cross-entropy per source —
    * the SMOOTHED language-model score the unsmoothed q289 (MLE
    * cross-entropy) and q140 (Good–Turing mass) each cover half of:
    * KN (Kneser & Ney 1995; Chen & Goodman 1999's benchmark winner) is
    * what production LM-based quality filters (CCNet-style perplexity
    * scoring) actually run. Absolute discount D = 0.75 off every seen
    * bigram, the freed mass backed off to the CONTINUATION unigram
    * P_cont(w2) = N1+(·w2)/B — the "how many contexts does this word
    * complete" distribution that distinguishes KN from naive backoff.
    * Per source: the cross-entropy of its own bigram stream under the
    * corpus-trained model.
    *
    * Exactness: all model quantities (c, c(w1·), N1+(w1·), N1+(·w2),
    * B) are exact longs; ln of the one fixed-form double chain is
    * quantized per BIGRAM TYPE before the frequency-weighted sum (the
    * q87/q289 recipe), so shuffled sums stay order-free.
    *
    * Scale shape: bigram counting is one explode + partial agg; the
    * three model relations are groupBys OF THE COUNTS (bigram-type-
    * bounded, not corpus-bounded); scoring is one posting join of the
    * per-source stream against the type-level score table. */
  def knCrossEntropy(spark: SparkSession, dir: String): DataFrame =
    knCrossEntropyOn(TextOps.docsParallel(spark, dir))

  /** Testable core over any `(source, text)` relation. */
  private[graft] def knCrossEntropyOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = TextOps.toks($"text")
    val bg = docs
      .select($"source", explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select($"source", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val c12 = Ckpt(bg.groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c")), eager = false)
    val c1 = c12.groupBy($"w1")
      .agg(sum($"c").as("c1"), count(lit(1)).as("n1r"))
    val cont = c12.groupBy($"w2").agg(count(lit(1)).as("cont"))
    val totB = c12.agg(count(lit(1)).as("nb"))
    val probs = c12.join(c1, "w1").join(cont, "w2")
      .crossJoin(broadcast(totB))
      .select($"w1", $"w2", expr(
        """CAST(floor(ln(
             greatest(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
             + ((0.75 * CAST(n1r AS DOUBLE)) / CAST(c1 AS DOUBLE))
               * (CAST(cont AS DOUBLE) / CAST(nb AS DOUBLE))
           ) * 10000 + 1.0/3) AS BIGINT)""").as("lnq"))
    bg.join(probs, Seq("w1", "w2"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lnq").as("s"))
      .select($"source", $"n_bigrams",
        expr("(-s) div n_bigrams").as("kn_ce_e4"))
  }

  /** q311: Bloom-filter false-positive audit — the missing measurement
    * for the engine's whole Bloom surface (q83 builds and USES a Bloom
    * semi-join; nothing measures what the m/k choice costs in false
    * positives on real key distributions). The 'en' vocabulary is
    * folded into an m=8192-bit, k=3 filter (bit positions from three
    * md5 slices — the same engine-portable hash family as everything
    * else); every OTHER language's token NOT actually in the 'en'
    * vocabulary probes it; a probe whose 3 bits are all set is a false
    * positive. Reported per probe language against the analytic
    * (fill)³ expectation, so the audit also validates the classic
    * formula on a Zipfian, non-uniform key set.
    *
    * Exactness: bit positions are exact longs; the measured side is
    * pure counting; only the THEORY column touches doubles — one
    * literal chain over two exact longs, identical in the oracle.
    *
    * Scale shape: the filter is a ≤m-row distinct-position relation
    * (the mergeable-sketch state shape: build is one scan + partial
    * agg, union of filters = union of position sets); probes explode
    * ×3 and hash-join the broadcast bit set. Nothing is ever
    * quadratic; m is the state knob exactly as in production. */
  def bloomFpAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // keyed on per-source word 3-SHINGLES, not tokens: the synthetic
    // corpus draws every language/source from one ~31-word pool (a
    // token filter would see zero out-of-set probes), while the shingle
    // space is combinatorial — at sf0.01 the indexed source holds ~1.4k
    // shingles and other sources probe ~23k unseen ones. Shingles are
    // also the production key: a Bloom pre-filter in front of a
    // contamination screen (q291) tests shingle membership.
    bloomFpOn(TextOps.docsParallel(spark, dir)
      .select($"source".as("src"), TextOps.toks($"text").as("toks"))
      .select($"src", explode(TextOps.shingles($"toks", 3)).as("tok")))
  }

  /** Testable core over any `(src, tok)` relation; the
    * lexicographically-first src is the indexed set. */
  private[graft] def bloomFpOn(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    val m = 8192
    val idx = toks.agg(min($"src").as("idx_src"))
    val idxVocab = toks.crossJoin(broadcast(idx))
      .where($"src" === $"idx_src").select($"tok").distinct()
    def pos(j: Int) =
      (conv(substring(md5($"tok"), j * 8 + 1, 8), 16, 10)
        .cast("long") % m).as(s"p$j")
    val bits = idxVocab.select(pos(0), pos(1), pos(2))
      .select(explode(array($"p0", $"p1", $"p2")).as("b")).distinct()
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    // probes: every other source's tokens NOT in the indexed vocabulary
    val probes = toks.crossJoin(broadcast(idx))
      .where($"src" =!= $"idx_src").select($"src", $"tok").distinct()
      .join(idxVocab.select($"tok"), Seq("tok"), "left_anti")
    val hits = probes.select($"src", $"tok", pos(0), pos(1), pos(2))
      .select($"src", $"tok",
        explode(array($"p0", $"p1", $"p2")).as("b"))
      .join(broadcast(bits), Seq("b"))
      .groupBy($"src", $"tok").agg(count(lit(1)).as("n_hit"))
      .where($"n_hit" === 3L)
      .groupBy($"src").agg(count(lit(1)).as("n_fp"))
    probes.groupBy($"src").agg(count(lit(1)).as("n_probes"))
      .join(hits, Seq("src"), "left")
      .withColumn("n_fp", coalesce($"n_fp", lit(0L)))
      .crossJoin(broadcast(nBits))
      .select($"src", $"n_probes", $"n_fp",
        expr("(n_fp * 1000000) div n_probes").as("fp_ppm"),
        $"n_bits_set",
        expr(s"(n_bits_set * 1000000) div $m").as("fill_ppm"),
        expr(s"CAST(floor((CAST(n_bits_set AS DOUBLE) / $m.0)" +
          s" * (CAST(n_bits_set AS DOUBLE) / $m.0)" +
          s" * (CAST(n_bits_set AS DOUBLE) / $m.0) * 1000000.0 + 1.0/3)" +
          " AS BIGINT)").as("theory_fp_ppm"))
  }

  /** q310: KMV (bottom-k / k-minimum-values) sketch intersection — the
    * OTHER mergeable distinct sketch (Beyer et al. 2007), completing
    * q302's HLL set algebra with the operation HLL does badly:
    * inclusion–exclusion on HLL subtracts two noisy estimates, while a
    * KMV pair gives the Jaccard DIRECTLY (the matched fraction ρ/k of
    * the merged bottom-k is an unbiased Jaccard estimator — exactly
    * MinHash with one k-row signature), so |A∩B| = (ρ/k)·n̂(∪) comes
    * from one ratio. Audited pair-by-pair against the exact
    * distinct-token intersection, like q302.
    *
    * Exactness: token hashes are the house 60-bit md5 longs; a KMV
    * sketch is literally the k smallest DISTINCT hash values, so every
    * estimate is integer arithmetic on exact longs ((k−1)·2⁶⁰ rides
    * decimal(38,0)/HUGEINT — it overflows a long); sketches smaller
    * than k fall back to their exact count (both engines, same CASE).
    *
    * Scale shape: per-source bottom-k is the q17 rank-window idiom on
    * the distinct-hash relation; everything downstream operates on
    * |sources|·k sketch rows — merge is a rank over ≤2k rows per pair.
    * Only the EXACT audit columns touch the vocabulary self-join; drop
    * them in production and the query never sees more than the
    * sketches. */
  def kmvIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    kmvIntersectOn(TextOps.docsParallel(spark, dir)
      .select($"source".as("src"), explode(TextOps.toks($"text")).as("tok"))
      .distinct())
  }

  /** Testable core over any distinct `(src, tok)` relation. */
  private[graft] def kmvIntersectOn(tokSrc0: DataFrame): DataFrame = {
    import tokSrc0.sparkSession.implicits._
    // four subtrees read the shingle relation (hash sketch, per-source
    // census, both exact-audit self-join sides) and it contains the
    // docsParallel rebalance shuffle — truncate once
    val tokSrc = graft.operators.Ckpt(tokSrc0, eager = false)
    val k = 128
    val M = 1152921504606846976L // 16^15 = 2^60, the hash range
    val hashes = tokSrc
      .select($"src",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val wRk = Window.partitionBy($"src").orderBy($"h".asc)
    val sketch = hashes
      .withColumn("rk", row_number().over(wRk).cast("long"))
      .where($"rk" <= k)
    def kmvEst(nKept: Column, hk: Column): Column =
      when(nKept < k, nKept).otherwise(
        expr(s"cast((cast(${k - 1} as decimal(38,0))" +
          s" * $M) div hk as bigint)"))
    val perSrc = sketch.groupBy($"src")
      .agg(count(lit(1)).as("n_kept"), max($"h").as("hk"))
      .select($"src", kmvEst($"n_kept", $"hk").as("kmv"))
    val prs = perSrc.select($"src".as("src_a")).crossJoin(
        perSrc.select($"src".as("src_b")))
      .where($"src_a" < $"src_b")
    // merged bottom-k of each pair: distinct hashes of the two sketches
    // ranked again; ρ = merged-k values present in BOTH sketches
    val merged = prs.join(sketch,
        $"src" === $"src_a" || $"src" === $"src_b")
      .groupBy($"src_a", $"src_b", $"h")
      .agg(max(when($"src" === $"src_a", 1L).otherwise(0L)).as("in_a"),
        max(when($"src" === $"src_b", 1L).otherwise(0L)).as("in_b"))
    val wPair = Window.partitionBy($"src_a", $"src_b").orderBy($"h".asc)
    val kept = merged
      .withColumn("rk", row_number().over(wPair).cast("long"))
      .where($"rk" <= k)
    val pairEst = kept.groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_kept"), max($"h").as("hk"),
        sum(when($"in_a" === 1L && $"in_b" === 1L, 1L).otherwise(0L))
          .as("rho"))
      .select($"src_a", $"src_b", $"rho",
        kmvEst($"n_kept", $"hk").as("kmv_union"),
        $"n_kept")
      .select($"src_a", $"src_b", $"rho", $"kmv_union",
        expr("(rho * 1000000) div n_kept").as("kmv_jac_ppm"),
        expr("cast((cast(rho as decimal(38,0)) * kmv_union)" +
          " div n_kept as bigint)").as("kmv_inter"))
    val nSrc = tokSrc.groupBy($"src").agg(count(lit(1)).as("n"))
    val inter = tokSrc.as("x").join(tokSrc.as("y"),
        $"x.tok" === $"y.tok" && $"x.src" < $"y.src")
      .groupBy($"x.src".as("src_a"), $"y.src".as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairEst
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce($"n_inter", lit(0L)))
      .join(nSrc.select($"src".as("src_a"), $"n".as("n_a")), Seq("src_a"))
      .join(nSrc.select($"src".as("src_b"), $"n".as("n_b")), Seq("src_b"))
      .join(perSrc.select($"src".as("src_a"), $"kmv".as("kmv_a")),
        Seq("src_a"))
      .join(perSrc.select($"src".as("src_b"), $"kmv".as("kmv_b")),
        Seq("src_b"))
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_inter",
        expr("(n_inter * 1000000) div (n_a + n_b - n_inter)")
          .as("exact_jac_ppm"),
        $"kmv_a", $"kmv_b", $"kmv_union", $"rho", $"kmv_jac_ppm",
        $"kmv_inter")
  }

  /** q317: Dunning log-likelihood (G², Dunning 1993) keyness — the
    * corpus-linguistics keyword extractor that asks, per (source,
    * token), "is this token's rate in the source surprising against
    * the rest of the corpus?". Unlike raw frequency (dominated by
    * stopwords) or PMI (q111, dominated by rare tokens), G² is the
    * likelihood-ratio test on the 2×2 contingency
    * (a = n in source, b = n elsewhere, c/d = other tokens), robust at
    * both count extremes — the per-SOURCE signature vocabulary where
    * q96's KL gives one aggregate number per source.
    *
    * Engine portability: all four cell counts and expectations are
    * exact longs; each of the four ln terms is ln of ONE IEEE division
    * of long products (cell·N over rowTot·colTot — the q96 recipe),
    * offset-quantized to a long (×10⁴, +1/3) BEFORE the weighted sum,
    * so g2_q = 2·Σ cell·lnq_cell is a sum of longs. Zero cells
    * contribute 0 (the x·ln x → 0 limit). Positive keyness only
    * (a·(b+d) > b·(a+c), an exact long inequality); top 10 per source
    * by (g2_q desc, tok asc).
    *
    * Scale shape: ONE (source, token) partial-agged shuffle (shared
    * shape with q96); token totals derive from that vocabulary-sized
    * relation; source totals and the one-row N broadcast; the top-10
    * cut is a window over per-source vocabularies (bounded per
    * partition by the vocabulary, not the corpus). */
  def keyness(spark: SparkSession, dir: String): DataFrame =
    keynessOn(TextOps.docsParallel(spark, dir))

  /** Testable core over any `(source, text)` relation. */
  private[graft] def keynessOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val st = docs
      .select($"source", explode(TextOps.toks($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("a"))
    val tokTot = st.groupBy($"tok").agg(sum($"a").as("n_t"))
    val srcTot = st.groupBy($"source").agg(sum($"a").as("n_s"))
    val total = tokTot.agg(sum($"n_t").as("nn"))
    // cells: a | b = n_t - a; row totals: n_s | nn - n_s
    val cells = st.join(tokTot, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(total))
      .select($"source", $"tok", $"a", ($"n_t" - $"a").as("b"),
        $"n_t", $"n_s", $"nn")
    def lnq(cell: Column, rowTot: Column): Column =
      when(cell > 0L,
        cell * floor(
          log((cell * $"nn").cast("double") / ($"n_t" * rowTot)
            .cast("double")) * 10000 + lit(1.0 / 3)).cast("long"))
        .otherwise(0L)
    def lnqC(cell: Column, rowTot: Column): Column =
      // complement cells: expectation = (nn - n_t) * rowTot / nn
      when(cell > 0L,
        cell * floor(
          log((cell * $"nn").cast("double")
            / (($"nn" - $"n_t") * rowTot).cast("double")) * 10000
            + lit(1.0 / 3)).cast("long"))
        .otherwise(0L)
    val scored = cells
      .withColumn("g2_q",
        lit(2L) * (lnq($"a", $"n_s") + lnq($"b", $"nn" - $"n_s")
          + lnqC($"n_s" - $"a", $"n_s")
          + lnqC($"nn" - $"n_s" - $"b", $"nn" - $"n_s")))
      .where($"a" * ($"nn" - $"n_s") > $"b" * $"n_s")
    val w = Window.partitionBy($"source")
      .orderBy($"g2_q".desc, $"tok".asc)
    scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= 10)
      .select($"source", $"rk".cast("long").as("rk"), $"tok", $"a",
        $"b", $"g2_q")
  }

  /** q320: TextRank keyword extraction (Mihalcea & Tarau 2004) —
    * PageRank over the corpus word co-occurrence graph (adjacent-token
    * window, undirected, edge weight = adjacency count), the
    * graph-based keyword scorer that rewards tokens CENTRAL to the
    * co-occurrence structure rather than merely frequent (q53) or
    * source-surprising (q317). 5 damped rounds, d = 0.85.
    *
    * Determinism: ranks live on an integer milli lattice — r₀ = 1000,
    * r_{t+1}(v) = 150 + (850·Σ_u ((w_uv·r_t(u)) div W_u)) div 1000 —
    * every operation is a long product or trunc-div on nonnegative
    * longs, so both engines walk bit-identical lattices; no float
    * enters at any round. (The per-edge trunc-div loses < 1 milli per
    * neighbor — deterministic rounding, applied identically in the
    * oracle's unrolled CTEs.)
    *
    * Scale shape: the bigram zip is map-side; the edge relation
    * partial-aggs to the distinct-adjacency space (vocabulary², in
    * practice vocab-linear) and is checkpointed once (5 join-agg
    * consumers); each round is ONE join-agg over that bounded
    * relation — corpus-scale work is the single tokenize scan, round
    * work is graph-sized, exactly the q103 PageRank shape. */
  def textrank(spark: SparkSession, dir: String): DataFrame =
    textrankOn(TextOps.docsParallel(spark, dir))

  /** Testable core over any `(text)` relation. */
  private[graft] def textrankOn(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = TextOps.toks($"text")
    val adj = docs
      .select(explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .where($"bg.w1" =!= $"bg.w2")
      .select($"bg.w1".as("w1"), $"bg.w2".as("w2"))
    // weighted edge relation materialized once: the hybrid-size probe
    // and the loop (or kernel) read it
    val edges0 = Ckpt(adj.select($"w1".as("u"), $"w2".as("v"))
      .union(adj.select($"w2".as("u"), $"w1".as("v")))
      .groupBy($"u", $"v").agg(count(lit(1)).as("w")), eager = false)
    val m = edges0.count()
    val scored: DataFrame = if (Loop.fitsOneTask(docs.sparkSession, m)) {
      // the Graph-loop hybrid discipline (connectedComponents): the five
      // weighted integer rounds on a bounded token graph are pure
      // scheduler latency distributed — one-task kernel, identical
      // arithmetic; the top-20 ordering stays in Spark
      edges0.select($"u", $"v", $"w").as[(String, String, Long)]
        .coalesce(1)
        .mapPartitions(it => localTextrank(it))
        .toDF("tok", "r_milli", "strength")
    } else {
      val wdeg = edges0.groupBy($"u").agg(sum($"w").as("wu"))
      val edges = Ckpt(edges0.join(wdeg, "u"), eager = false)
      var ranks = edges.select($"u".as("tok")).distinct()
        .withColumn("r", lit(1000L))
      for (_ <- 1 to 5) {
        ranks = edges.join(ranks, edges("u") === ranks("tok"))
          .groupBy($"v")
          .agg(sum(expr("(w * r) div wu")).as("contrib"))
          .select($"v".as("tok"),
            (lit(150L) + expr("(850 * contrib) div 1000")).as("r"))
      }
      ranks.join(wdeg, ranks("tok") === wdeg("u"))
        .select($"tok", $"r".as("r_milli"), $"wu".as("strength"))
    }
    scored
      .orderBy($"r_milli".desc, $"tok".asc)
      .limit(20)
  }

  /** Single-task q320 kernel: the identical weighted integer TextRank —
    * contrib(v) = Σ over in-edges of (w · r(u)) div wu(u), then
    * r' = 150 + (850 · contrib) div 1000 — exact longs, sum-order-free.
    * Emits the full (tok, r, strength) relation; top-20 stays in Spark
    * so string ordering semantics are Spark's. */
  private def localTextrank(it: Iterator[(String, String, Long)])
      : Iterator[(String, Long, Long)] = {
    import scala.collection.mutable
    val edges = it.toArray
    val wu = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    edges.foreach { case (u, _, w) => wu(u) += w }
    var ranks = mutable.HashMap.empty[String, Long]
    wu.keysIterator.foreach(u => ranks(u) = 1000L)
    for (_ <- 1 to 5) {
      val contrib = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (u, v, w) => contrib(v) += (w * ranks(u)) / wu(u) }
      val next = mutable.HashMap.empty[String, Long]
      contrib.foreach { case (v, c) => next(v) = 150L + (850L * c) / 1000L }
      ranks = next
    }
    ranks.iterator.map { case (t, r) => (t, r, wu(t)) }
  }
}
