package graft

import org.apache.spark.sql.functions._

import graft.operators.Quantize

/** `Quantize`'s distance rules on fixtures with exact ties: a tie between
  * two centres or two codes resolves to the smaller id, whatever order
  * the codebook lists them in, and the driver twin of the nearest-code
  * rule picks the code the column rule picks, at the same distance to
  * the bit. */
class QuantizeRulesSpec extends SparkSpec {

  /** Round14cSpec's q321 fixture: small-integer points in 4 dimensions.
    * Points 1 and 35, and 2 and 19, sit at the same position. */
  private val q321: Seq[(Long, Seq[Float])] = (0 until 40).map { i =>
    (i.toLong, (0 until 4).map(d =>
      ((i * 13 + d * 5) % 17).toFloat + (if (i % 3 == 0) 10f else 0f)))
  }

  private def d2(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }

  test("nearestCentre resolves an L2 tie to the smaller centre id") {
    import spark.implicits._
    val one = Seq((0L, Seq(0f, 0f))).toDF("vec_id", "embedding")
      .select(transform($"embedding", x => x.cast("double")).as("emb"))
    val cents = Seq(5L -> Seq(1.0, 0.0), 3L -> Seq(0.0, 1.0),
      9L -> Seq(3.0, 3.0), 7L -> Seq(-1.0, 0.0))
    assert(one.select(Quantize.nearestCentre($"emb", cents),
      Quantize.nearestDistQ($"emb", cents)).as[(Long, Long)].head() === (3L, 1000000L))

    // centres listed with the larger id of each coincident pair first
    val emb = q321.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val centres = Seq(35L, 19L, 13L, 2L, 1L, 0L).map(id => id -> emb(id))
    val got = q321.toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("emb"))
      .select($"vec_id", Quantize.nearestCentre($"emb", centres),
        Quantize.nearestDistQ($"emb", centres))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val expect = emb.toSeq.sortBy(_._1).map { case (id, v) =>
      val (d, c) = centres.map { case (cid, c) => (d2(v, c), cid) }.min
      (id, c, math.floor(d * 1e6 + 1.0 / 3).toLong)
    }
    assert(got.toSeq === expect)
    assert(got.exists(_._2 == 1L) && got.exists(_._2 == 2L))
    assert(!got.exists(r => r._2 == 35L || r._2 == 19L),
      "a tie resolved to the larger of two coincident centres")
  }

  test("nearest code resolves a tie to the smaller code, on both twins") {
    import spark.implicits._
    val cb = Seq(4L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0), 6L -> Seq(-1.0, 0.0))
    val best = Seq(Seq(0f, 0f)).toDF("embedding")
      .select(Quantize.nearestCode($"embedding", cb).as("b"))
      .select($"b.code", $"b.dist").as[(Long, Double)].head()
    assert(best === (2L, 1.0))
    assert(Quantize.nearestCodeD(Seq(0.0, 0.0), cb) === (1.0, 2L))
  }

  test("the driver nearest-code rule agrees with the column rule, exact ties included") {
    import spark.implicits._
    // seeded vectors on a coarse grid: coincident codes and equidistant
    // codes both occur, and the 0.3 scale makes every dot round
    val rng = new scala.util.Random(13)
    val vecs = (0 until 400).map(i =>
      (i.toLong, Seq.fill(6)((rng.nextInt(5) - 2) * 0.3f)))
    val x = vecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    // codes 0..7 from vectors 0..6 and vector 3 again, listed out of order
    val cb = Seq(5L, 7L, 0L, 3L, 6L, 1L, 4L, 2L)
      .map(code => code -> x(if (code == 7L) 3L else code))
    val got = (vecs ++ q321.map { case (id, v) => (1000L + id, v.take(2) ++ v) })
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding", Quantize.nearestCode($"embedding", cb).as("b"))
      .select($"vec_id", $"embedding", $"b.dist", $"b.code")
      .as[(Long, Seq[Float], Double, Long)].collect()
    // the same code at the same distance, to the bit
    val mismatches = got.filter { case (_, v, dist, code) =>
      Quantize.nearestCodeD(v.map(_.toDouble), cb) != ((dist, code)) }
    assert(mismatches.isEmpty, mismatches.take(5).map(r => (r._1, r._3, r._4)).mkString(", "))
    // the fixture holds exact ties: rows whose minimum distance two codes reach
    val ties = vecs.count { case (id, _) =>
      val d = cb.map { case (_, c) => d2(x(id), c) }
      d.count(_ == d.min) > 1
    }
    assert(ties > 20, s"only $ties tied rows")
    assert(!got.exists(_._4 == 7L), "a tie resolved to the larger of two coincident codes")
  }

  test("int8 codes: a constant vector codes to 0, the maximum to 255") {
    import spark.implicits._
    val codes = Seq(Seq(2.0, 2.0, 2.0), Seq(0.0, 127.5, 200.25, 255.0)).toDF("emb")
      .select(array_min($"emb").as("lo"), array_max($"emb").as("hi"), $"emb")
      .select($"emb", $"lo", Quantize.int8Scale($"lo", $"hi").as("scale"))
      .select(Quantize.int8Codes($"emb", $"lo", $"scale"))
      .as[Seq[Long]].collect().toSeq
    assert(codes === Seq(Seq(0L, 0L, 0L), Seq(0L, 127L, 200L, 255L)))
  }

  test("lloydMeans divides each cell's exact sums once; an empty cell is absent") {
    import org.apache.spark.sql.Row
    // (cell, dim, n, Σfloor(x·1e6)) after one leading key column
    val partials = Array(Row(8L, 3L, 1, 2L, 3000000L), Row(8L, 3L, 0, 2L, -1000000L),
      Row(8L, 5L, 0, 1L, 250000L), Row(8L, 5L, 1, 1L, 750000L))
    val means = Quantize.lloydMeans(partials, 1)
    assert(means.keySet === Set(3L, 5L))
    assert(means(3L).toSeq === Seq(-0.5, 1.5))
    assert(means(5L).toSeq === Seq(0.25, 0.75))
  }
}
