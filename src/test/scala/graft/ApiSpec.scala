package graft

import java.sql.{Date, Timestamp}

import scala.xml.XML

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Machine, SignalFrame}
import graft.catalog.SignalCatalog
import graft.operators.AsOf
import graft.sources.Io

/** SignalFrame API semantics over a synthesized long-format signal table:
  * slicing, nearest-point (numpy first-min tie-break), channels, unit
  * scaling, DC removal, shot discovery. */
class ApiSpec extends SparkSpec {

  private lazy val dataDir = {
    import spark.implicits._
    val dir = "target/api_test"
    val rows = for {
      shot <- Seq(1, 2)
      ti <- 0 until 10
      ri <- 0 until 5
    } yield (shot, ti / 10.0, 10.0 + ri, shot * 1000.0 + ti + ri / 10.0, 0.5)
    rows.toDF("shot", "time", "radius", "value", "value_err")
      .write.mode("overwrite").parquet(s"$dir/mpts_te.parquet")
    val chRows = for {
      shot <- Seq(1)
      ch <- 1 to 4
      ti <- 0 until 8
    } yield (shot, ch, ti * 1.0, (if (ti < 2) 5.0 else 10.0) + ch)
    chRows.toDF("shot", "channel", "time", "value")
      .write.mode("overwrite").parquet(s"$dir/bes_ch.parquet")
    dir
  }

  private lazy val cat = SignalCatalog.fromXml(XML.loadString(
    """<container name="root" tree="t" path="\TOP">
      |  <container name="mpts" path=".MPTS">
      |    <axis name="time" node=".T"/>
      |    <axis name="radius" node=".R"/>
      |    <signal name="te" node=".TE" units="keV" axes="radius, time" error=".E"/>
      |  </container>
      |  <container name="bes" path=".BES">
      |    <axis name="time" node=".T"/>
      |    <signal name="ch" node=".CH" axes="time"/>
      |  </container>
      |</container>""".stripMargin))

  // catalog names are root-prefixed; strip to match table naming
  private lazy val machine = {
    val renamed = cat.signals.map(s =>
      s.copy(qualifiedName = s.qualifiedName.stripPrefix("root.")))
    Machine(spark, SignalCatalog(renamed), dataDir)
  }

  test("range slice keeps axes coherent (P4/P5): rows filtered on time only") {
    val sf = machine.shot(1).signal("mpts.te").slice("time", 0.2, 0.4)
    assert(sf.df.count() === 3 * 5) // times .2 .3 .4, all radii
    assert(sf.df.agg(min("time")).head().getDouble(0) === 0.2)
    assert(sf.df.agg(max("time")).head().getDouble(0) === 0.4)
  }

  test("at() picks the nearest sample, full profile at that time") {
    val sf = machine.shot(1).signal("mpts.te").at("time", 0.26)
    val times = sf.df.select("time").distinct().collect().map(_.getDouble(0))
    assert(times.toSeq === Seq(0.3))
    assert(sf.df.count() === 5) // all radii at the nearest time
  }

  test("3-D signal with time-varying secondary axis stays coherent (SURVEY §7.4)") {
    // EFIT qpsi(time, psin) where the psin grid itself changes per time
    // step: in long format the axis VALUE is a column materialized per
    // row, so value-based slicing works with no index bookkeeping — the
    // representation decision SURVEY §7.4 calls out.
    import spark.implicits._
    val rows = for {
      shot <- Seq(1); ti <- 0 until 4; pi <- 0 until 5
    } yield (shot, ti / 10.0,
      pi * (0.2 + ti * 0.01),            // psin grid stretches over time
      1.0 + ti + pi * 0.5)               // qpsi value
    val df = rows.toDF("shot", "time", "psin", "qpsi")
    // slice by psin VALUE range: picks different index sets per time step
    val sliced = df.where($"psin".between(0.35, 0.65))
    val byTime = sliced.groupBy($"time").count().as[(Double, Long)]
      .collect().toMap
    // t=0.0: psin grid 0,.2,.4,.6,.8 -> {0.4, 0.6}; t=0.3: 0,.23,.46,.69,.92 -> {0.46}
    assert(byTime(0.0) === 2)
    assert(byTime(0.3) === 1)
    // axis-coherence: every surviving row's psin is inside the slice
    assert(sliced.where(!$"psin".between(0.35, 0.65)).count() === 0)
  }

  test("resample lerps onto an even grid, channels kept separate") {
    import spark.implicits._
    val sf = machine.shot(1).signal("bes.ch").resample("time", 0.0, 7.0, 0.5)
    assert(sf.df.count() === 15 * 4) // 15 grid points x 4 channels
    val byChT = sf.df.select($"channel".cast("int"), $"time", $"value")
      .as[(Int, Double, Double)].collect()
      .map { case (ch, t, v) => (ch, t) -> v }.toMap
    // bes.ch: value = 5+ch for t<2, 10+ch after -> lerp ramps between t=1 and t=2
    assert(byChT((1, 0.5)) === 6.0)  // flat segment
    assert(byChT((1, 1.5)) === 8.5)  // midpoint of 6 -> 11
    assert(byChT((3, 1.5)) === 10.5) // midpoint of 8 -> 13
    assert(byChT((2, 3.0)) === 12.0) // exact sample
  }

  test("fillForward carries the last sample with staleness; trend fits the ramp") {
    import spark.implicits._
    // bes ch1 (single channel slice): value 6 for t in {0,1}, 11 for t in 2..7
    val sf = machine.shot(1).signal("bes.ch").channels(Seq(1))
    val ff = sf.fillForward("time", 0.0, 7.0, 0.5)
    val byT = ff.df.select($"time", $"value", $"staleness")
      .as[(Double, Double, Double)].collect()
      .map { case (t, v, s) => t -> ((v, s)) }.toMap
    assert(byT(0.5) === ((6.0, 0.5)))  // carried from t=0, half a unit stale
    assert(byT(1.5) === ((6.0, 0.5)))  // step not yet visible (vs lerp's 8.5)
    assert(byT(2.0) === ((11.0, 0.0))) // exact sample
    assert(byT(6.5) === ((11.0, 0.5)))
    // mpts te at one radius is value = 1000*shot + 10*time + const: exact
    // slope 10 per time unit for shot 1 (and 2)
    val fit = machine.shot(1).signal("mpts.te")
      .slice("radius", 10.0, 10.0)
      .trend("time")
      .select($"n", $"slope", $"intercept")
      .as[(Long, Double, Double)].collect()
    assert(fit.length === 1)
    val (n, slope, intercept) = fit.head
    assert(n === 10)
    assert(math.abs(slope - 10.0) < 1e-9)
    assert(math.abs(intercept - 1000.0) < 1e-9)
  }

  test("fillForward and trend keep channels separate (series key = shot#channel)") {
    import spark.implicits._
    // all 4 bes channels at once: LOCF must carry per channel, never mix
    val ff = machine.shot(1).signal("bes.ch").fillForward("time", 0.0, 7.0, 0.5)
    assert(ff.df.count() === 15 * 4)
    val byChT = ff.df.select($"channel".cast("int"), $"time", $"value")
      .as[(Int, Double, Double)].collect()
      .map { case (ch, t, v) => (ch, t) -> v }.toMap
    assert(byChT((1, 1.5)) === 6.0)  // ch1 carries 6, not another channel's 8/9
    assert(byChT((4, 1.5)) === 9.0)  // ch4 carries 9
    assert(byChT((2, 3.0)) === 12.0) // exact sample
    // trend: per-channel fit — value = (5|10)+ch is a step, but per
    // channel the slope is identical while intercepts differ by ch
    val fits = machine.shot(1).signal("bes.ch").trend("time")
      .select($"channel".cast("int"), $"slope", $"intercept")
      .as[(Int, Double, Double)].collect().toSeq
    assert(fits.size === 4)
    val slopes = fits.map(_._2).distinct
    assert(slopes.size === 1) // same shape per channel
    val intercepts = fits.sortBy(_._1).map(_._3)
    // intercept_{ch+1} - intercept_ch = 1 exactly (the channel offset)
    intercepts.sliding(2).foreach { case Seq(a, b) => assert(math.abs(b - a - 1.0) < 1e-9) }
  }

  test("trend survives an epoch-ms-scale axis (rebased before decimal cast)") {
    import spark.implicits._
    // axis ~1.7e12 overflows decimal(18,6) un-rebased; slope must be exact
    val t0 = 1.7e12
    val rows = (0 until 10).map(i => (7, t0 + i * 1000.0, 42.0 + i * 3.0))
    val sf = SignalFrame(cat.signal("root.bes.ch"), rows.toDF("shot", "time", "value"))
    val fit = sf.trend("time").select($"n", $"slope").as[(Long, Double)].collect()
    assert(fit.length === 1)
    assert(fit.head._1 === 10)
    assert(math.abs(fit.head._2 - 3.0 / 1000.0) < 1e-12)
  }

  test("spectrum: per-channel power spectra; DC bin equals the squared sum") {
    import spark.implicits._
    val sp = machine.shot(1).signal("bes.ch").spectrum("time", 8)
    assert(sp.df.count() === 8 * 4) // 8 bins x 4 channels, no channel mixing
    val dc = sp.df.where($"bin" === 0)
      .select($"channel".cast("int"), $"power").as[(Int, Double)].collect().toMap
    // bes ch: value = (5+ch, 5+ch, then 6x 10+ch); |X_0|^2 = (sum)^2
    (1 to 4).foreach { ch =>
      val s = 2.0 * (5 + ch) + 6.0 * (10 + ch)
      assert(math.abs(dc(ch) - s * s) < 1e-9, s"ch $ch")
    }
    // Parseval: sum of power = n * sum of squares (real input, unnormalized DFT)
    val total = sp.df.where($"channel" === 1).agg(sum($"power")).head().getDouble(0)
    val sq = Seq.fill(2)(6.0).map(v => v * v).sum + Seq.fill(6)(11.0).map(v => v * v).sum
    assert(math.abs(total - 8.0 * sq) < 1e-6)
    // physical frequency axis: bes.ch samples at dt=1 -> freq_k = k / (8*1)
    val freqs = sp.df.where($"channel" === 1).orderBy($"bin")
      .select($"freq").as[Double].collect().toSeq
    assert(freqs === (0 until 8).map(_ / 8.0))
  }

  test("spectrum freq axis uses the series' real sample rate (1 kHz trace)") {
    import spark.implicits._
    // 8 samples at dt = 0.001 s: bin 1 must label as 1/(8*0.001) = 125 Hz
    val rows = (0 until 8).map(i => (3, i * 0.001, math.sin(i.toDouble)))
    val sf = SignalFrame(cat.signal("root.bes.ch"), rows.toDF("shot", "time", "value"))
    val freqs = sf.spectrum("time", 8).df.orderBy($"bin")
      .select($"freq").as[Double].collect().toSeq
    freqs.zipWithIndex.foreach { case (f, k) =>
      assert(math.abs(f - k * 125.0) < 1e-6, s"bin $k") }
  }

  test("machine hot path prunes shot DIRECTORIES when the partitioned layout exists") {
    import spark.implicits._
    // same rows as the flat fixture, but in the preferred shot-partitioned
    // layout — machine.shot(n).signal(...) must resolve it and prune
    val dir2 = "target/api_test_part"
    val rows = for { shot <- Seq(1, 2, 3); ti <- 0 until 10; ri <- 0 until 5 }
      yield (shot, ti / 10.0, 10.0 + ri, shot * 1000.0 + ti + ri / 10.0, 0.5)
    graft.sources.Io.writeSignal(
      rows.toDF("shot", "time", "radius", "value", "value_err"), dir2, "mpts.te")
    val m = machine.copy(dataDir = dir2)
    val sf = m.shot(2).signal("mpts.te")
    assert(sf.df.count() === 50)
    assert(sf.df.agg(min($"value")).head().getDouble(0) === 2000.0)
    // the shot predicate lands in PartitionFilters: 1 of 3 directories read
    val files = sf.df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(files.contains(1), s"expected 1 selected shot directory, got $files; " +
      sf.df.queryExecution.executedPlan.toString)
    // flat fallback still works: the original dataDir has no directory
    assert(machine.shot(2).signal("mpts.te").df.count() === 50)
  }

  test("shot-addressed reads list only the named shots' directories") {
    import spark.implicits._
    val dir = "target/api_test_shots"
    val rows = for { shot <- Seq(1, 2, 3); ch <- 1 to 4; ti <- 0 until 8 }
      yield (shot, ch, ti * 1.0, shot * 100.0 + ch * 10 + ti)
    Io.writeSignal(rows.toDF("shot", "channel", "time", "value"), dir, "bes.ch")
    val path = Io.signalPath(dir, "bes.ch")
    val m = machine.copy(dataDir = dir)
    def exactly(df: DataFrame, want: Seq[(Int, Int, Double, Double)]): Unit = {
      val got = df.select($"shot", $"channel", $"time", $"value")
        .as[(Int, Int, Double, Double)].collect()
      assert(got.length === want.size)
      assert(got.toSet === want.toSet)
    }
    // a shot with no directory: no rows and no PATH_NOT_FOUND
    val missing = m.shot(99).signal("bes.ch").df
    exactly(missing, Nil)
    assert(scanRoots(missing).isEmpty)
    // several shots: exactly their rows, from exactly their directories
    val oneAndThree = Io.readShots(spark, path, Seq(3, 1))
    exactly(oneAndThree, rows.filter(_._1 != 2))
    assert(scanRoots(oneAndThree) === Seq(1, 3).map(n => canonPath(s"$path/shot=$n")))
    // a channel filter rides on the shot's directory, rows unchanged
    val ch3 = m.shot(2).signal("bes.ch").channels(Seq(3)).df
    exactly(ch3, rows.filter(r => r._1 == 2 && r._2 == 3))
    assert(scanRoots(ch3) === Seq(canonPath(s"$path/shot=2")))
    // the flat fallback is still read whole, rows unchanged
    val flat = machine.shot(1).signal("bes.ch").channels(Seq(3)).df
    assert(flat.count() === 8)
    assert(scanRoots(flat) === Seq(canonPath(s"$dataDir/bes_ch.parquet")))
    assert(machine.shot(99).signal("bes.ch").df.count() === 0)
  }

  test("at() ties break to the first (smallest) sample like np.argmin") {
    import spark.implicits._
    val df = Seq((1, 1.0, 10.0), (1, 2.0, 20.0)).toDF("shot", "time", "value")
    val near = AsOf.nearest(df, "time", 1.5, Seq("shot"))
    assert(near.select("time").head().getDouble(0) === 1.0)
  }

  test("channels subsets the fan-out; scaled() transforms value and error") {
    val sf = machine.shot(1).signal("bes.ch").channels(Seq(1, 3))
    assert(sf.df.select("channel").distinct().count() === 2)
    val te = machine.shot(1).signal("mpts.te").scaled(0.01)
    val r = te.df.agg(max("value"), max("value_err")).head()
    assert(r.getDouble(0) === (1000.0 + 9 + 0.4) * 0.01)
    assert(r.getDouble(1) === 0.5 * 0.01)
  }

  test("dcRemoved subtracts the leading-window mean per trace") {
    val sf = machine.shot(1).signal("bes.ch").dcRemoved(2)
    // first 2 samples are 5+ch -> baseline = 5+ch; later samples 10+ch -> 5
    val late = sf.df.where(col("time") >= 2.0).select("value").distinct().collect()
    assert(late.map(_.getDouble(0)).toSeq === Seq(5.0))
  }

  test("asofJoin directions and tolerance") {
    import spark.implicits._
    val probes = Seq((1, 1.45), (1, 3.0)).toDF("shot", "t")
    val samples = Seq((1, 1.0, "a"), (1, 2.0, "b"), (1, 2.9, "c"))
      .toDF("shot", "ts", "tag")
    def tags(dir: String, tol: Option[Double] = None) =
      AsOf.asofJoin(probes, samples, "t", "ts", Seq("shot"), dir, tol)
        .orderBy("t").select("tag").collect().map(_.getString(0)).toSeq
    assert(tags("nearest") === Seq("a", "c")) // 1.45->1.0 (tie? .45 vs .55), 3.0->2.9
    assert(tags("backward") === Seq("a", "c"))
    assert(tags("forward") === Seq("b"))      // no sample >= 3.0 -> dropped
    assert(tags("nearest", Some(0.2)) === Seq("c"))
  }

  test("shotlist unions xp and date predicates, distinct, ordered (S4/G1)") {
    import spark.implicits._
    val lb = Seq(
      (101, 7, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 08:00:00"), null.asInstanceOf[String]),
      (102, 7, Date.valueOf("2024-01-02"), Timestamp.valueOf("2024-01-02 08:00:00"), null.asInstanceOf[String]),
      (103, 8, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 09:00:00"), null.asInstanceOf[String]),
      (104, 9, Date.valueOf("2024-02-01"), Timestamp.valueOf("2024-02-01 08:00:00"), "void"))
      .toDF("shot", "xp", "rundate", "entered", "voided")
    val m = machine.copy(logbook = Some(lb))
    val shots = m.shotlist(xps = Seq(7), dates = Seq(Date.valueOf("2024-01-01")))
      .collect().map(_.getInt(0)).toSeq
    assert(shots === Seq(101, 102, 103))
    val meta = m.shotMeta.where(col("shot") === 101).head()
    assert(meta.getAs[Seq[Int]]("xps") === Seq(7))
    assert(meta.getAs[Date]("date") === Date.valueOf("2024-01-01"))
  }

  test("collectTrace refuses unbounded driver collects") {
    val sf = machine.shot(1).signal("mpts.te")
    intercept[IllegalArgumentException] { sf.collectTrace(maxRows = 10) }
    assert(sf.collectTrace().length === 50)
  }
}
