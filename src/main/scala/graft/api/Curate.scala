package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis, TextOps}

/** Fluent corpus-curation builder — the q82 single-scan pattern promoted
  * to a first-class API (the composition idiom the reference exposes as
  * chained signal verbs, `fdf/fdf_signal.py`, applied to the curation
  * domain).
  *
  * Every verdict is a named Catalyst COLUMN over the same row, so N
  * verdicts compose into ONE projection over ONE scan of the corpus —
  * zero joins, zero extra passes. That is the shape a 100 TB curation
  * pass must have: each additional filter/score is marginal CPU inside
  * the same whole-stage-codegen'd task, never another scan or shuffle.
  * The only shuffle the builder ever introduces is the optional
  * exact-dedup keeper window (hash-partition by fingerprint), and the
  * final keep predicate stays a plain boolean column so downstream
  * stages can either filter on it or carry it as a verdict.
  *
  * {{{
  * Curate(docs)
  *   .langId()                 // predicted language verdict
  *   .quality()                // composite quality score
  *   .tokenCount()
  *   .verdict("has_digits", col("text").rlike("[0-9]"))
  *   .exactDedup()             // is_keeper: first doc per fingerprint
  *   .keepWhere(col("quality") >= 0.5 && col("is_keeper"))
  *   .result()                 // doc_id + verdicts + kept, one scan
  * }}}
  */
final case class Curate(
    docs: DataFrame,
    idCol: String = "doc_id",
    textCol: String = "text",
    verdicts: Vector[(String, Column)] = Vector.empty,
    dedupKey: Option[(String, Column)] = None,
    keepPred: Option[Column] = None) {

  private def text: Column = col(textCol)

  /** Attach an arbitrary named verdict (boolean or score) computed from
    * this row — the generic escape hatch every built-in also uses. */
  def verdict(name: String, c: Column): Curate =
    copy(verdicts = verdicts :+ (name -> c))

  /** Character-trigram language-ID verdict (q31's scoring, inline):
    * argmax of per-language profile hit counts, fixed precedence on
    * ties. Pure string expressions — stays in the projection. */
  def langId(name: String = "predicted"): Curate = {
    verdict(name, TextAnalysis.predictedLang(TextAnalysis.langScores(text)))
  }

  /** Composite quality score in [0,1] (q32's recipe): length saturation
    * plus stopword-ratio saturation, equal weight. */
  def quality(name: String = "quality"): Curate = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val t = TextOps.toks(text)
    val nTok = size(t).cast("long")
    val nStop = aggregate(
      transform(t, x => when(x.isin(stop: _*), 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    val q = least(nTok / lit(100.0), lit(1.0)) * 0.5 +
      least(nStop / nTok * 5.0, lit(1.0)) * 0.5
    verdict(name, q)
  }

  /** Whitespace token count verdict. */
  def tokenCount(name: String = "n_tokens"): Curate =
    verdict(name, size(TextOps.toks(text)).cast("long"))

  /** Exact-dedup keeper verdict: true for the lowest-id doc of each
    * fingerprint group. One hash-partition window — the builder's only
    * shuffle, and the same one any exact dedup needs. */
  def exactDedup(name: String = "is_keeper",
      fingerprint: Column = null): Curate = {
    val fp = Option(fingerprint).getOrElse(md5(text))
    copy(dedupKey = Some(name -> fp))
  }

  /** Final keep predicate over any previously-declared verdict columns
    * (referenced by name) or raw row columns. */
  def keepWhere(pred: Column): Curate = copy(keepPred = Some(pred))

  /** Materialize the plan: `idCol` + every verdict (declaration order)
    * [+ dedup keeper] [+ `kept`]. One scan; the select computes all
    * verdicts in a single codegen'd projection. */
  def result(): DataFrame = {
    val fpCol = dedupKey.map { case (_, fp) => fp.as("__fp") }.toSeq
    val base = docs.select(
      (col(idCol) +: verdicts.map { case (n, c) => c.as(n) }) ++ fpCol: _*)
    val withKeeper = dedupKey match {
      case Some((name, _)) =>
        base
          .withColumn(name,
            col(idCol) === min(col(idCol)).over(Window.partitionBy(col("__fp"))))
          .drop("__fp")
      case None => base
    }
    keepPred match {
      case Some(p) => withKeeper.withColumn("kept", p)
      case None => withKeeper
    }
  }
}
