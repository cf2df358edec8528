package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.xml.XML

import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.api.Machine
import graft.catalog.SignalCatalog
import graft.operators.AsOf
import graft.sources.Io

/** `AsOf.nearest`, the plan of `SignalFrame.at`: one per-shot window over
  * the frame in one partition, one job with no exchange whether the
  * frame is one file split or many. It returns the rows and the column
  * order of the aggregate-and-join form it replaced, and takes no null
  * axis value for the nearest sample. */
class NearestSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** mpts.te: 16 radii per time; ip.ip: one sample per time. Shots 1 and
    * 2 sample every 0.25 from 0, shot 3 from 0.125, so a point between
    * two samples of one shot can be an exact tie. */
  private lazy val dir = {
    import spark.implicits._
    val d = "target/nearest"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    def t0(shot: Int) = if (shot == 3) 0.125 else 0.0
    val te = for (shot <- 1 to 3; ti <- 0 until 40; ri <- 0 until 16)
      yield (shot, t0(shot) + ti * 0.25, 0.05 * ri, shot * 1000.0 + ti + ri / 100.0)
    Io.writeSignal(te.toDF("shot", "time", "radius", "value"), d, "mpts.te")
    val ip = for (shot <- 1 to 3; ti <- 0 until 40)
      yield (shot, t0(shot) + ti * 0.25, shot * 100.0 + ti)
    Io.writeSignal(ip.toDF("shot", "time", "value"), d, "ip.ip")
    d
  }

  private lazy val machine = Machine(spark, SignalCatalog(SignalCatalog.fromXml(XML.loadString(
    """<container name="root" tree="t" path="\TOP">
      |  <container name="mpts" path=".MPTS">
      |    <axis name="time" node=".T"/>
      |    <axis name="radius" node=".R"/>
      |    <signal name="te" node=".TE" axes="radius, time"/>
      |  </container>
      |  <container name="ip" path=".IP">
      |    <axis name="time" node=".T"/>
      |    <signal name="ip" node=".IP" axes="time"/>
      |  </container>
      |</container>""".stripMargin)).signals.map(s =>
    s.copy(qualifiedName = s.qualifiedName.stripPrefix("root.")))), dir)

  /** A session of the same context whose file split is 1 KB, less than
    * any of the frames below: their scans have several partitions. */
  private lazy val tinySplit = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    s
  }

  /** The form `nearest` replaced: a grouped min(struct) aggregate, then
    * a join back to the frame on the keys. */
  private def joinForm(df: DataFrame, on: String, value: Double, keys: Seq[String]) = {
    val target = df
      .select(keys.map(col) :+ struct(abs(col(on) - value).as("d"), col(on).as("v")).as("__dv"): _*)
      .groupBy(keys.map(col): _*)
      .agg(min(col("__dv")).getField("v").as("__near"))
    df.join(target, keys).where(col(on) === col("__near")).drop("__near")
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** `df`'s rows and the number of jobs collecting them started. */
  private def jobsOf(df: DataFrame): (Array[Row], Int) = {
    val sc = df.sparkSession.sparkContext
    val group = s"nearest-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val rows = df.collect()
      ListenerBridge.drain(sc)
      (rows, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  test("a one-shot at() is one job: no exchange, no broadcast, one scan") {
    for (qn <- Seq("mpts.te", "ip.ip"); t <- Seq(0.26, 3.3)) {
      val df = machine.shot(2).signal(qn).at("time", t).df
      val (rows, jobs) = jobsOf(df)
      assert(rows.nonEmpty && rows.forall(_.getAs[Int]("shot") == 2), s"$qn at $t")
      assert(jobs === 1, s"$qn at $t")
      assert(exchanges(df).isEmpty, s"$qn at $t: ${df.queryExecution.executedPlan}")
      assert(collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size === 1)
    }
  }

  test("a frame of several file splits is still one job, with no exchange") {
    val in = Io.readShots(tinySplit, Io.signalPath(dir, "mpts.te"), Seq(2))
    assert(in.rdd.getNumPartitions > 1)
    val df = AsOf.nearest(in, "time", 0.26, Seq("shot"))
    val (rows, jobs) = jobsOf(df)
    assert(rows.length === 16)
    assert(jobs === 1)
    assert(exchanges(df).isEmpty, df.queryExecution.executedPlan)
  }

  test("one-split and many-split frames return the join form's rows and columns: ties, fan-out, 3 shots") {
    for (s <- Seq[SparkSession](spark, tinySplit); qn <- Seq("mpts.te", "ip.ip")) {
      val df = Io.readShots(s, Io.signalPath(dir, qn), Seq(1, 2, 3))
      // 0.375 ties 0.25 and 0.5 in shots 1 and 2 and is a sample of shot
      // 3; 0.25 ties 0.125 and 0.375 in shot 3
      for (t <- Seq(0.375, 0.25, 0.26, -1.0, 100.0, 2.0)) {
        val got = AsOf.nearest(df, "time", t, Seq("shot"))
        val want = joinForm(df, "time", t, Seq("shot"))
        assert(got.columns.toSeq === want.columns.toSeq, s"$qn at $t")
        assert(sorted(got) === sorted(want), s"$qn at $t")
        assert(got.select("shot").distinct().count() === 3, s"$qn at $t")
      }
      def picked(t: Double) =
        sorted(AsOf.nearest(df, "time", t, Seq("shot")).select("shot", "time").distinct())
      assert(picked(0.375) === Seq(Row(1, 0.25), Row(2, 0.25), Row(3, 0.375)), qn)
      assert(picked(0.25) === Seq(Row(1, 0.25), Row(2, 0.25), Row(3, 0.125)), qn)
    }
  }

  test("a sample with a null axis value is no candidate") {
    import spark.implicits._
    val df = Seq((1, Some(1.0), 10.0), (1, None, 11.0), (1, Some(2.0), 12.0),
      (2, None, 20.0), (2, Some(5.0), 21.0)).toDF("shot", "time", "value")
    val near = AsOf.nearest(df, "time", 1.2, Seq("shot"))
    assert(sorted(near) === Seq(Row(1, 1.0, 10.0), Row(2, 5.0, 21.0)))
  }
}
