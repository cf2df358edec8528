package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types._

/** Spectral transform (SURVEY §2.7 F7 — the reference's declared-but-stub
  * `myfft` method, `fdf/modules/bes/fft.py:3-9`): a native Catalyst
  * expression over `ArrayType(DoubleType)` returning the complex spectrum
  * as `array<struct<re double, im double>>`.
  *
  * Power-of-two lengths run iterative radix-2 Cooley-Tukey (O(n log n));
  * other lengths fall back to the naive DFT (O(n^2)) — traces are bounded
  * per (shot, channel), so n is small even when the table is 100 TB: the
  * expression is embarrassingly parallel across rows, state-free, and
  * needs no shuffle. CodegenFallback is acceptable here because the per-
  * row cost dominates the virtual call.
  */
case class FftExpr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("re", DoubleType, nullable = false),
      StructField("im", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_fft expects array<double>, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData].toDoubleArray()
    val (re, im) = Fft.transform(xs)
    new GenericArrayData(re.indices.map(i => InternalRow(re(i), im(i))).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): FftExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_fft"
}

object Fft {

  /** Real-input FFT: returns (re, im) arrays of length n. */
  def transform(xs: Array[Double]): (Array[Double], Array[Double]) = {
    val n = xs.length
    if (n == 0) (Array.empty, Array.empty)
    else if ((n & (n - 1)) == 0) radix2(xs)
    else naiveDft(xs)
  }

  /** Iterative in-place radix-2 Cooley-Tukey, n a power of two. */
  private def radix2(xs: Array[Double]): (Array[Double], Array[Double]) = {
    val n = xs.length
    val re = new Array[Double](n)
    val im = new Array[Double](n)
    // bit-reversal permutation
    var i = 0
    var j = 0
    while (i < n) {
      re(j) = xs(i)
      var bit = n >> 1
      while (bit != 0 && (j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wRe = math.cos(ang)
      val wIm = math.sin(ang)
      var base = 0
      while (base < n) {
        var curRe = 1.0
        var curIm = 0.0
        var k = 0
        while (k < len / 2) {
          val aRe = re(base + k); val aIm = im(base + k)
          val bRe = re(base + k + len / 2); val bIm = im(base + k + len / 2)
          val tRe = bRe * curRe - bIm * curIm
          val tIm = bRe * curIm + bIm * curRe
          re(base + k) = aRe + tRe; im(base + k) = aIm + tIm
          re(base + k + len / 2) = aRe - tRe; im(base + k + len / 2) = aIm - tIm
          val nRe = curRe * wRe - curIm * wIm
          curIm = curRe * wIm + curIm * wRe
          curRe = nRe
          k += 1
        }
        base += len
      }
      len <<= 1
    }
    (re, im)
  }

  /** O(n^2) DFT for arbitrary n (also the test oracle for radix-2). */
  def naiveDft(xs: Array[Double]): (Array[Double], Array[Double]) = {
    val n = xs.length
    val re = new Array[Double](n)
    val im = new Array[Double](n)
    var k = 0
    while (k < n) {
      var s = 0.0; var c = 0.0
      var t = 0
      while (t < n) {
        val ang = -2.0 * math.Pi * k * t / n
        c += xs(t) * math.cos(ang)
        s += xs(t) * math.sin(ang)
        t += 1
      }
      re(k) = c; im(k) = s
      k += 1
    }
    (re, im)
  }

  /** Column API: spectrum of an array<double> column. */
  def fft(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      FftExpr(org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Power spectrum |X_k|^2 as array<double>. */
  def powerSpectrum(c: Column): Column =
    org.apache.spark.sql.functions.transform(fft(c), x =>
      x.getField("re") * x.getField("re") + x.getField("im") * x.getField("im"))
}

/** SparkSessionExtensions entry point: wire with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * The injection point for future custom rules/strategies as well. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // bucketed range-join rewrite (active only when
    // spark.graft.rangeJoin.bucketWidth > 0)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    // per-request numeric constants bound by reference in generated code
    ext.injectPlannerStrategy(_ => graft.plans.ParamLiteralsStrategy())
  }
}

object GraftExtensions {

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every SQL function graft adds: its name, its description and the
    * builder from argument expressions. Integer arguments of the
    * text-hash kernels must be literals. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_fft", classOf[FftExpr])(e => FftExpr(e.head)),
    fn("graft_dot", classOf[DotExpr])(e => DotExpr(e.head, e(1))),
    fn("graft_norm", classOf[NormExpr])(e => NormExpr(e.head)),
    fn("graft_shingles", classOf[TextHash.ShinglesExpr])(e =>
      TextHash.ShinglesExpr(e.head, TextHash.litInt(e(1)))),
    fn("graft_minhash", classOf[TextHash.MinHashExpr])(e =>
      TextHash.MinHashExpr(e.head, TextHash.litInt(e(1)))),
    fn("graft_simhash", classOf[TextHash.SimHashExpr])(e => TextHash.SimHashExpr(e.head)),
    fn("graft_fingerprint", classOf[TextHash.FingerprintExpr])(e =>
      TextHash.FingerprintExpr(e.head)),
    fn("graft_intersect_count", classOf[TextHash.IntersectCountExpr])(e =>
      TextHash.IntersectCountExpr(e.head, e(1))),
    fn("graft_word_starts", classOf[TextHash.WordStartsExpr])(e =>
      TextHash.WordStartsExpr(e.head)))

  /** Register [[functions]] on an existing session (tests / REPL; a new
    * session gets them from the extension class). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
