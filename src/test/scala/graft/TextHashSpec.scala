package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, TextHash}

/** Direct kernel checks for the TextHash expressions (the oracle gate
  * covers them end-to-end; these pin the per-row contracts). */
class TextHashSpec extends SparkSpec {

  private def md5_32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16)
  }

  test("fingerprint equals the positional rolling-hash model and is order-sensitive") {
    import spark.implicits._
    val P = 2147483647L
    def model(toks: Seq[String]): Long =
      toks.zipWithIndex.map { case (t, i) =>
        ((md5_32(t) % P) * (((i + 1).toLong * 2654435761L) % P)) % P
      }.sum % P
    val docs = Seq("alpha beta gamma", "beta alpha gamma", "alpha", "")
    val got = docs.toDF("text")
      .select(TextHash.fingerprint(split($"text", " ")).as("fp"))
      .as[Long].collect()
    docs.zip(got).foreach { case (d, fp) =>
      assert(fp === model(d.split(" ", -1).toSeq), s"doc '$d'")
    }
    // order sensitivity: permuted docs differ
    assert(got(0) !== got(1))
  }

  test("wordStarts is row-identical to the explode(sequence)+filter pipeline") {
    import spark.implicits._
    // edge inventory: empty string (the sequence(1,0)=[1,0] quirk), all
    // spaces, leading/trailing/multiple spaces, single word, non-space
    // whitespace (tab/newline do NOT break words — only ' ' does), and
    // non-BMP codepoints (SQL positions are codepoint indices)
    val docs = Seq(
      "", " ", "   ", "a", "a b", " a  b ", "ab cd  ef",
      "tab\there nl\nhere", "x", "  leading", "trailing  ",
      "uni 𝕏ray c𝕏 d", "𝕏 starts").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val legacy = docs
      .select($"doc_id", $"text",
        explode(expr("sequence(1, length(text))")).as("pos"))
      .where($"pos" === 1 || expr("substring(text, pos - 1, 1) = ' '"))
      .where(expr("substring(text, pos, 1) <> ' '"))
      .select($"doc_id", $"pos")
    val native = docs
      .select($"doc_id", explode(TextHash.wordStarts($"text")).as("pos"))
    val l = legacy.as[(Long, Int)].collect().sorted.toSeq
    val n = native.as[(Long, Int)].collect().sorted.toSeq
    assert(n === l)
  }

  test("intersectCount is row-identical to size(array_intersect(a, b))") {
    import spark.implicits._
    // duplicates (counted once), empties, asymmetric sizes, null
    // elements (null matches null, once), disjoint and identical sets
    val rows: Seq[(Seq[String], Seq[String])] = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("a", "a", "a")),
      (Seq(), Seq("a")),
      (Seq("a"), Seq()),
      (Seq(), Seq()),
      (Seq("x", null, "y", null), Seq(null, "y")),
      (Seq(null), Seq("a", "b")),
      (Seq("p", "q"), Seq("r", "s")),
      (Seq("same", "set"), Seq("set", "same")),
      ((1 to 200).map(i => s"t$i"), (100 to 300).map(i => s"t$i")))
    val df = rows.toDF("a", "b")
      .select(
        size(array_intersect($"a", $"b")).as("builtin"),
        TextHash.intersectCount($"a", $"b").as("kernel"))
    df.collect().foreach { r =>
      assert(r.getInt(1) === r.getInt(0), r.toString)
    }
  }

  test("kernels are callable from SQL after register()") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_fingerprint(split('a b c', ' ')) AS fp,
                graft_simhash(split('a b c', ' ')) AS sh,
                size(graft_shingles(split('a b c d', ' '), 2)) AS nsh,
                size(graft_minhash(graft_shingles(split('a b c d', ' '), 2), 4)) AS nmh
      """).head()
    assert(r.getAs[Long]("fp") > 0)
    assert(r.getAs[Int]("nsh") === 3)
    assert(r.getAs[Int]("nmh") === 4)
  }
}
