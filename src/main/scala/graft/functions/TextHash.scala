package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text-hash kernels for the dedup family.
  *
  * SimHash and MinHash signatures are per-document functions of the token
  * array — expressing them relationally (explode tokens x bits/seeds, then
  * groupBy doc) shuffles millions of intermediate rows for what is a
  * map-only computation. These expressions do the whole signature in one
  * tight loop per row: at 100 TB that turns the signature stage of dedup
  * from a full-corpus shuffle into an embarrassingly parallel projection,
  * and only the tiny (doc, band) table ever reaches a join.
  *
  * Hash discipline: everything derives from md5 hex strings exactly as the
  * DuckDB oracle computes them (`md5(seed || ':' || shingle)` ordered
  * lexicographically, `substr(md5(tok), j+1, 1) >= '8'` for sign bits), so
  * results stay bit-identical across engines. CodegenFallback is fine
  * here: per-row work (dozens of md5 calls) dwarfs the virtual call.
  */
object TextHash {

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Lowercase hex md5 of a UTF-8 string — byte-identical to SQL md5(). */
  private[graft] def md5hex(s: String): String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HEX((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private def requireStringArray(dt: DataType, name: String): TypeCheckResult = dt match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<string>, got ${other.sql}")
  }

  private def tokenStrings(input: Any): Array[String] = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      out(i) = if (u == null) "" else u.toString
      i += 1
    }
    out
  }

  /** Distinct word n-gram shingles (space-joined, first-occurrence order)
    * from a token array. Docs with fewer than n tokens yield an empty
    * array. */
  case class ShinglesExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(child.dataType, "graft_shingles")

    override protected def nullSafeEval(input: Any): Any = {
      val toks = tokenStrings(input)
      if (toks.length < n) new GenericArrayData(Array.empty[Any])
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        val sb = new java.lang.StringBuilder(64)
        while (i <= toks.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        val out = new Array[Any](seen.size)
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
        new GenericArrayData(out)
      }
    }

    override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_shingles"
  }

  /** ALL positional n-gram shingles, in order, WITH multiplicity — the
    * single-pass counterpart of ShinglesExpr for operators that need
    * term frequencies (q90) or positions (q89): element i is
    * toks[i..i+n-1] joined by ' '. The interpreted
    * transform(sequence…slice…array_join) equivalent re-evaluates its
    * lambda per position outside codegen; this walks the array once. */
  case class PosShinglesExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(child.dataType, "graft_pos_shingles")

    override protected def nullSafeEval(input: Any): Any = {
      val toks = tokenStrings(input)
      if (toks.length < n) new GenericArrayData(Array.empty[Any])
      else {
        val out = new Array[Any](toks.length - n + 1)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i <= toks.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override protected def withNewChildInternal(newChild: Expression): PosShinglesExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_pos_shingles"
  }

  /** Per-document positional-shingle TERM FREQUENCIES in one pass:
    * struct(tfs: array<struct<sh, tf>> (first-occurrence order),
    * nrm2: Σ tf² — the doc's full tf-vector squared norm). The
    * relational equivalent (explode + groupBy(doc_id, sh) + a norm
    * window) shuffles the whole exploded corpus TWICE for what is a
    * per-row function of the token array; this keeps the tf stage
    * map-only, so q90's first shuffle is the (already partial-agged)
    * document-frequency count. */
  case class ShingleTfsExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StructType(Seq(
      StructField("tfs", ArrayType(StructType(Seq(
        StructField("sh", StringType, nullable = false),
        StructField("tf", LongType, nullable = false))), containsNull = false),
        nullable = false),
      StructField("nrm2", LongType, nullable = false)))

    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(child.dataType, "graft_shingle_tfs")

    override protected def nullSafeEval(input: Any): Any = {
      val toks = tokenStrings(input)
      val counts = new java.util.LinkedHashMap[String, Long]()
      if (toks.length >= n) {
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i <= toks.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          counts.merge(sb.toString, 1L, (a, b) => a + b)
          i += 1
        }
      }
      val tfs = new Array[Any](counts.size)
      var nrm2 = 0L
      val it = counts.entrySet().iterator()
      var k = 0
      while (it.hasNext) {
        val e = it.next()
        val tf = e.getValue
        nrm2 += tf * tf
        tfs(k) = org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(e.getKey), tf)
        k += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(tfs), nrm2)
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleTfsExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_shingle_tfs"
  }

  /** k min-hashes of a shingle array: element s = the lexicographic min
    * over shingles of md5("s:" + shingle), exactly the oracle's salted-md5
    * min-wise family. Empty input -> null (the doc simply has no
    * signature, mirroring a group that never forms in SQL). */
  case class MinHashExpr(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(child.dataType, "graft_minhash")

    override protected def nullSafeEval(input: Any): Any = {
      val shingles = tokenStrings(input)
      if (shingles.isEmpty) null
      else {
        val mins = new Array[String](k)
        var i = 0
        while (i < shingles.length) {
          var s = 0
          while (s < k) {
            val h = md5hex(s.toString + ":" + shingles(i))
            if (mins(s) == null || h.compareTo(mins(s)) < 0) mins(s) = h
            s += 1
          }
          i += 1
        }
        new GenericArrayData(mins.map(UTF8String.fromString): Array[Any])
      }
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_minhash"
  }

  /** LSH band signatures straight from the shingle set: the k min-hashes
    * grouped into k/r bands of r, each band joined ',' in seed order.
    * One expression so the whole signature is a single per-row eval —
    * computing min-hashes and slicing bands in separate projections lets
    * CollapseProject inline the (expensive) min-hash computation into the
    * band lambda, re-evaluating it once per band. */
  case class MinHashBandsExpr(child: Expression, k: Int, r: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(child.dataType, "graft_minhash_bands")

    override protected def nullSafeEval(input: Any): Any = {
      val shingles = tokenStrings(input)
      if (shingles.isEmpty) null
      else {
        val mins = new Array[String](k)
        var i = 0
        while (i < shingles.length) {
          var s = 0
          while (s < k) {
            val h = md5hex(s.toString + ":" + shingles(i))
            if (mins(s) == null || h.compareTo(mins(s)) < 0) mins(s) = h
            s += 1
          }
          i += 1
        }
        val nBands = k / r
        val out = new Array[Any](nBands)
        var b = 0
        while (b < nBands) {
          val sb = new java.lang.StringBuilder(r * 33)
          var j = 0
          while (j < r) {
            if (j > 0) sb.append(',')
            sb.append(mins(b * r + j))
            j += 1
          }
          out(b) = UTF8String.fromString(sb.toString)
          b += 1
        }
        new GenericArrayData(out)
      }
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashBandsExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_minhash_bands"
  }

  /** 32-bit tf-weighted SimHash of a token array: bit j is set iff
    * sum over distinct tokens of tf * (+1 if md5(tok) hex digit j >= '8'
    * else -1) is positive. Single pass, no shuffle. */
  case class SimHashExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType

    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(child.dataType, "graft_simhash")

    override protected def nullSafeEval(input: Any): Any = {
      val toks = tokenStrings(input)
      val tf = new java.util.HashMap[String, Int]()
      var i = 0
      while (i < toks.length) {
        tf.merge(toks(i), 1, Integer.sum)
        i += 1
      }
      val s = new Array[Long](32)
      val it = tf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val h = md5hex(e.getKey)
        val w = e.getValue.toLong
        var j = 0
        while (j < 32) {
          if (h.charAt(j) >= '8') s(j) += w else s(j) -= w
          j += 1
        }
      }
      var out = 0L
      var j = 0
      while (j < 32) {
        if (s(j) > 0) out |= 1L << j
        j += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_simhash"
  }

  /** Positional rolling-hash document fingerprint of a token array:
    * sum_i (md5_32(tok_i) mod P) * ((i+1) * 2654435761 mod P) mod P,
    * P = 2^31-1 — order-sensitive (permuted docs differ), single pass,
    * map-only. Bit-identical to the q34 oracle's per-token SQL: each term
    * is < P, the running sum of a bounded doc fits a long, and the final
    * mod matches SQL's sum-then-mod. */
  case class FingerprintExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {

    private val P = 2147483647L

    override def dataType: DataType = LongType

    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(child.dataType, "graft_fingerprint")

    override protected def nullSafeEval(input: Any): Any = {
      val toks = tokenStrings(input)
      var acc = 0L
      var i = 0
      while (i < toks.length) {
        val h = java.lang.Long.parseLong(md5hex(toks(i)).substring(0, 8), 16) % P
        val w = ((i + 1).toLong * 2654435761L) % P
        acc += (h * w) % P
        i += 1
      }
      acc % P
    }

    override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_fingerprint"
  }

  /** `size(array_intersect(a, b))` without materializing the
    * intersection: |distinct(a) ∩ distinct(b)|, counted in one pass.
    * ArrayIntersect's set semantics (distinct elements, null matches
    * null once) make the size symmetric, so the kernel builds a hash
    * set from the SMALLER array and counts successful removals while
    * scanning the other — each common distinct element decrements the
    * set exactly once regardless of duplicates. No intersection array,
    * no per-element copy into a GenericArrayData, no size() pass over
    * it. The dedup family's verify stages (PPJoin q25/q213/q252/q243,
    * the minhash-LSH family, delta dedup, SNM) only ever consume the
    * SIZE; the composition they replace was the measured top-CPU stage
    * of q25 (16.6 s of its ~60 s total). Row-level identity with the
    * built-in composition is pinned in TextHashSpec over duplicates,
    * empties and null elements. */
  case class IntersectCountExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

    override def dataType: DataType = IntegerType

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_intersect_count expects (array<string>, array<string>), " +
            s"got (${l.sql}, ${r.sql})")
      }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      intersectCountData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    // real doGenCode (not CodegenFallback): a fallback expression knocks
    // its whole operator out of WholeStageCodegen — the PPJoin verify
    // stage was the suite's top-CPU stage running interpreted. The
    // generated code calls the SAME static kernel nullSafeEval uses, so
    // interpreted == codegen by construction.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.TextHash.intersectCountData($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): IntersectCountExpr =
      copy(left = newLeft, right = newRight)

    override def prettyName: String = "graft_intersect_count"
  }

  /** Shared kernel of [[IntersectCountExpr]] — called from both the
    * interpreted eval and the generated code. */
  def intersectCountData(aa: ArrayData, bb: ArrayData): Int = {
    val (small, large) =
      if (aa.numElements() <= bb.numElements()) (aa, bb) else (bb, aa)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var hasNull = false
    var i = 0
    while (i < small.numElements()) {
      if (small.isNullAt(i)) hasNull = true
      else set.add(small.getUTF8String(i))
      i += 1
    }
    var n = 0
    var j = 0
    while (j < large.numElements() && (set.size() > 0 || hasNull)) {
      if (large.isNullAt(j)) {
        if (hasNull) { n += 1; hasNull = false }
      } else if (set.remove(large.getUTF8String(j))) n += 1
      j += 1
    }
    n
  }

  /** 1-based codepoint positions of word starts in a string: position 1
    * plus every non-space char preceded by a space — EXACTLY the rows
    * that survive `explode(sequence(1, length(text)))` filtered by
    * `(pos = 1 OR substring(text, pos - 1, 1) = ' ') AND
    * substring(text, pos, 1) <> ' '`, including the empty-string quirk
    * of that pipeline (sequence(1, 0) = [1, 0] and substring('', 1, 1)
    * = '' <> ' ', so empty text yields position 1). The suffix family
    * (q306/q316) starts a suffix at every word start; generating the
    * positions directly skips the ~5x per-character row blow-up and the
    * two per-row substring filter evals. Positions are codepoint
    * indices, matching SQL length()/substring() semantics. */
  case class WordStartsExpr(child: Expression)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_word_starts needs STRING input, got ${other.catalogString}")
    }

    override protected def nullSafeEval(input: Any): Any =
      wordStartsData(input.asInstanceOf[UTF8String])

    // real doGenCode (not CodegenFallback) — see IntersectCountExpr: the
    // suffix generate stage stays inside WholeStageCodegen, and the
    // generated code calls the SAME static kernel as nullSafeEval.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.TextHash.wordStartsData($s);")

    override protected def withNewChildInternal(newChild: Expression): WordStartsExpr =
      copy(child = newChild)

    override def prettyName: String = "graft_word_starts"
  }

  /** Shared kernel of [[WordStartsExpr]] — called from both the
    * interpreted eval and the generated code. Iterates the UTF-8 bytes
    * directly (no String materialization): a codepoint starts at every
    * non-continuation byte, ' ' (0x20) only ever encodes as the single
    * byte 0x20, and `pos` counts codepoints — identical positions to the
    * previous String/codePointAt walk, pinned by TextHashSpec's edge
    * inventory (empty, all-spaces, multi-space, tab/newline non-breaks,
    * non-BMP codepoints). */
  def wordStartsData(s: UTF8String): ArrayData = {
    val nb = s.numBytes()
    if (nb == 0) return UnsafeArrayData.fromPrimitiveArray(Array(1))
    // pass 1: count word starts
    var cnt = 0
    var i = 0
    var prevIsSpace = true // pos 1 passes the `pos = 1 OR prev = ' '` arm
    while (i < nb) {
      val b = s.getByte(i)
      val isSpace = b == 0x20
      if (prevIsSpace && !isSpace) cnt += 1
      prevIsSpace = isSpace
      i += UTF8String.numBytesForFirstByte(b)
    }
    // pass 2: fill positions (1-based codepoint indices)
    val out = new Array[Int](cnt)
    var k = 0
    var pos = 1
    i = 0
    prevIsSpace = true
    while (i < nb) {
      val b = s.getByte(i)
      val isSpace = b == 0x20
      if (prevIsSpace && !isSpace) { out(k) = pos; k += 1 }
      prevIsSpace = isSpace
      i += UTF8String.numBytesForFirstByte(b)
      pos += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** First 4 md5 digest bytes of a UTF-8 string as an unsigned long —
    * numerically identical to `CAST('0x' || substr(md5(s), 1, 8) AS
    * BIGINT)` (DuckDB) and `conv(substring(md5(s), 1, 8), 16, 10)`
    * (Spark built-ins), but one digest pass and three shifts instead of
    * a hex round-trip plus a per-row BigInteger parse: the conv chain
    * measured ~16 µs/row hashing q194's 15M candidates; this is the
    * hot path behind every hash32 draw in Sampling. */
  def md5int32(s: UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  case class Md5Int32Expr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_md5_int32 needs STRING input, got ${other.catalogString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      md5int32(input.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(newChild: Expression): Md5Int32Expr =
      copy(child = newChild)
    override def prettyName: String = "graft_md5_int32"
  }

  def md5Int32(s: Column): Column =
    ColumnBridge.column(Md5Int32Expr(ColumnBridge.expression(s)))

  def intersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(IntersectCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def wordStarts(text: Column): Column =
    ColumnBridge.column(WordStartsExpr(ColumnBridge.expression(text)))

  def shingles(toks: Column, n: Int): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(toks), n))

  def posShingles(toks: Column, n: Int): Column =
    ColumnBridge.column(PosShinglesExpr(ColumnBridge.expression(toks), n))

  def shingleTfs(toks: Column, n: Int): Column =
    ColumnBridge.column(ShingleTfsExpr(ColumnBridge.expression(toks), n))

  def minhash(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashExpr(ColumnBridge.expression(shingles), k))

  def minhashBands(shingles: Column, k: Int, r: Int): Column =
    ColumnBridge.column(MinHashBandsExpr(ColumnBridge.expression(shingles), k, r))

  def simhash(toks: Column): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(toks)))

  def fingerprint(toks: Column): Column =
    ColumnBridge.column(FingerprintExpr(ColumnBridge.expression(toks)))

  /** Literal-int extraction for the SQL function builders
    * (`GraftExtensions.functions`). */
  def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"expected literal int, got $other")
  }
}
