package graft

import org.apache.spark.sql.functions._

import graft.functions.{Fft, GraftExtensions}

/** FFT expression: radix-2 vs naive DFT agreement, analytic cases,
  * Parseval, and the SQL/Column integration paths. */
class FftSpec extends SparkSpec {

  private def maxAbsDiff(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => math.abs(x - y) }.max

  test("radix-2 agrees with the naive DFT") {
    val xs = Array.tabulate(64)(i => math.sin(0.37 * i) + 0.2 * math.cos(1.7 * i))
    val (re1, im1) = Fft.transform(xs)
    val (re2, im2) = Fft.naiveDft(xs)
    assert(maxAbsDiff(re1, re2) < 1e-9)
    assert(maxAbsDiff(im1, im2) < 1e-9)
  }

  test("analytic cases: impulse and single-bin sine") {
    val (re, im) = Fft.transform(Array(1.0, 0.0, 0.0, 0.0))
    assert(re.forall(v => math.abs(v - 1.0) < 1e-12))
    assert(im.forall(v => math.abs(v) < 1e-12))
    val n = 32
    val k = 5
    val sine = Array.tabulate(n)(i => math.sin(2 * math.Pi * k * i / n))
    val (sr, si) = Fft.transform(sine)
    val power = sr.zip(si).map { case (r, i) => r * r + i * i }
    val peak = power.indexOf(power.max)
    assert(peak === k || peak === n - k)
  }

  test("Parseval: energy preserved up to 1/n") {
    val xs = Array.tabulate(128)(i => math.cos(0.21 * i) * (1 + 0.01 * i))
    val (re, im) = Fft.transform(xs)
    val timeE = xs.map(x => x * x).sum
    val freqE = re.zip(im).map { case (r, i) => r * r + i * i }.sum / xs.length
    assert(math.abs(timeE - freqE) / timeE < 1e-12)
  }

  test("non-power-of-two lengths fall back to the DFT") {
    val xs = Array.tabulate(12)(i => i * 1.0)
    val (re, im) = Fft.transform(xs)
    assert(math.abs(re(0) - xs.sum) < 1e-9) // X_0 = sum
    assert(math.abs(im(0)) < 1e-9)
    assert(re.length === 12)
  }

  test("column API computes per-trace spectra in parallel") {
    import spark.implicits._
    val traces = Seq(
      (1, Array.tabulate(16)(i => math.sin(2 * math.Pi * 3 * i / 16))),
      (2, Array.tabulate(16)(_ => 1.0)))
      .toDF("trace_id", "samples")
    val out = traces.select($"trace_id",
      Fft.powerSpectrum($"samples").as("power"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val p1 = out(1)
    assert(p1.indexOf(p1.max) === 3 || p1.indexOf(p1.max) === 13)
    val p2 = out(2)
    assert(math.abs(p2.head - 256.0) < 1e-9) // DC bin: (sum 16)^2
    assert(p2.tail.forall(_ < 1e-9))
  }

  test("SQL registration exposes graft_fft") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_fft(array(1.0d, 2.0d, 3.0d, 4.0d)) AS sp,
                graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS dt,
                graft_norm(array(3.0d, 4.0d)) AS nm""").head()
    val sp = row.getSeq[org.apache.spark.sql.Row](0)
    assert(sp.length === 4)
    assert(math.abs(sp.head.getDouble(0) - 10.0) < 1e-12) // X_0 = sum
    assert(row.getDouble(1) === 32.0)
    assert(row.getDouble(2) === 5.0)
  }
}
