package graft.bench

import java.nio.file.{Files, Paths}

import scala.xml.XML

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Machine
import graft.catalog.{GraftTableCatalog, SignalCatalog}
import graft.sources.{Io, SignalSource}

/** The three FIXTURES.md signal shapes, generated by
  * `graft.sources.SignalSource` and stored with `Io.writeSignal`:
  * 1-D `ip.ip`, 32-channel `bes.ch`, and 2-D `mpts.te` whose source
  * channel becomes the radius axis. Every stored value is the closed form
  * `SignalSource.value(shot, channel, i, dt)` at `time = i * dt`, so a
  * reader's output can be checked sample by sample. */
final case class Sig(qn: String, channels: Int, points: Int, dt: Double) {
  def hasChannel: Boolean = qn == "bes.ch"
  def hasRadius: Boolean = qn == "mpts.te"
  /** Row -> (channel, sample index) for the stored layout. */
  def key(r: Row): (Int, Int) = {
    val t = r.getAs[Double]("time")
    val i = math.round(t / dt).toInt
    val ch =
      if (hasChannel) r.getAs[Int]("channel")
      else if (hasRadius) math.round(r.getAs[Double]("radius") / Warehouse.RadiusStep).toInt
      else 1
    (ch, i)
  }
}

object Warehouse {
  val RadiusStep = 0.05
  val Ip = Sig("ip.ip", 1, 2000, 0.0005)
  val Bes = Sig("bes.ch", 32, 500, 0.002)
  val Mpts = Sig("mpts.te", 16, 60, 0.016)
  val All = Seq(Ip, Bes, Mpts)
  val FirstShot = 141000

  val Xml: String =
    """<container name="root" tree="nstx" path="\TOP">
      |  <container name="ip" path=".IP">
      |    <axis name="time" node=".T"/>
      |    <signal name="ip" node=".IP" units="kA" axes="time"/>
      |  </container>
      |  <container name="bes" path=".BES">
      |    <axis name="time" node=".T"/>
      |    <signal name="ch" node=".CH" units="V" axes="time"/>
      |  </container>
      |  <container name="mpts" path=".MPTS">
      |    <axis name="time" node=".T"/>
      |    <axis name="radius" node=".R"/>
      |    <signal name="te" node=".TE" units="keV" axes="radius, time"/>
      |  </container>
      |</container>""".stripMargin

  def catalog: SignalCatalog = {
    val cat = SignalCatalog.fromXml(XML.loadString(Xml))
    SignalCatalog(cat.signals.map(s => s.copy(qualifiedName = s.qualifiedName.stripPrefix("root."))))
  }

  /** Samples of shots [lo, hi] of one signal, one partition per shot. */
  def frame(spark: SparkSession, s: Sig, lo: Int, hi: Int): DataFrame = {
    val raw = spark.read.format(classOf[SignalSource].getName)
      .option("shots", s"$lo:$hi").option("channels", s.channels.toString)
      .option("points", s.points.toString).option("dt", s.dt.toString).load()
    val shaped =
      if (s.hasChannel) raw
      else if (s.hasRadius)
        raw.select(col("shot"), col("time"), (col("channel") * RadiusStep).as("radius"), col("value"))
      else raw.select(col("shot"), col("time"), col("value"))
    shaped.repartition(col("shot"))
  }

  def write(spark: SparkSession, dir: String, s: Sig, lo: Int, hi: Int): Unit =
    Io.writeSignal(frame(spark, s, lo, hi), dir, s.qn)

  /** A warehouse of shots [FirstShot, FirstShot + shots) of every signal.
    * It is written once per build of the benchmark, under the run's cache
    * directory, and reused by later runs: its contents do not depend on
    * the seed, and a 100-shot build costs more than a whole measured run. */
  def cached(run: Run, shots: Int): String = {
    val root = new java.io.File(run.cache, s"warehouse-$shots")
    if (!new java.io.File(root, "_COMPLETE").exists()) {
      val tmp = new java.io.File(run.cache, s"warehouse-$shots.tmp")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      All.foreach(s => run.trace.span("sources.write")(
        write(run.spark, tmp.getPath, s, FirstShot, FirstShot + shots - 1)))
      org.apache.commons.io.FileUtils.deleteDirectory(root)
      Files.move(tmp.toPath, root.toPath)
      Files.writeString(new java.io.File(root, "_COMPLETE").toPath, "")
    }
    root.getPath
  }

  /** Writes the XML and registers SQL catalog `name` over warehouse `dir`. */
  def register(spark: SparkSession, dir: String, name: String): Unit = {
    val xml = Paths.get(dir, "machine.xml")
    Files.createDirectories(xml.getParent)
    Files.writeString(xml, Xml)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.xml", xml.toString)
    spark.conf.set(s"spark.sql.catalog.$name.dataDir", dir)
    spark.conf.set(s"spark.sql.catalog.$name.stripPrefix", "root")
  }

  def machine(spark: SparkSession, dir: String): Machine = Machine(spark, catalog, dir)

  /** Compares collected rows with the closed form: exactly the expected
    * (channel, index) keys, each time equal to `i * dt` and each value equal
    * to `k * SignalSource.value(...)`. */
  def check(s: Sig, shot: Int, rows: Array[Row], expected: Seq[(Int, Int)],
      k: Double = 1.0): Option[String] = {
    if (rows.length != expected.size)
      return Some(s"${s.qn} shot $shot: ${rows.length} rows, expected ${expected.size}")
    val want = expected.toSet
    val seen = scala.collection.mutable.HashSet.empty[(Int, Int)]
    rows.foreach { r =>
      val (ch, i) = s.key(r)
      if (r.getAs[Int]("shot") != shot) return Some(s"${s.qn}: row of shot ${r.getAs[Int]("shot")}, asked $shot")
      if (!want((ch, i)) || !seen.add((ch, i))) return Some(s"${s.qn} shot $shot: unexpected sample ch=$ch i=$i")
      if (r.getAs[Double]("time") != i * s.dt) return Some(s"${s.qn} shot $shot: time ${r.getAs[Double]("time")} != ${i * s.dt}")
      val v = SignalSource.value(shot, ch, i, s.dt) * k
      if (r.getAs[Double]("value") != v) return Some(s"${s.qn} shot $shot ch=$ch i=$i: value ${r.getAs[Double]("value")} != $v")
    }
    None
  }

  /** Sample indices whose time lies in [lo, hi], with Spark's comparison. */
  def indicesIn(s: Sig, lo: Double, hi: Double): Seq[Int] =
    (0 until s.points).filter { i => val t = i * s.dt; t >= lo && t <= hi }

  /** On-disk footprint of one shot: (parquet files, bytes). */
  def shotFiles(dir: String, shot: Int): (Int, Long) = {
    val files = All.flatMap { s =>
      val d = new java.io.File(s"$dir/${s.qn.replace('.', '_')}/shot=$shot")
      Option(d.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    }
    (files.size, files.map(_.length).sum)
  }

  def samplesPerShot: Long = All.map(s => s.channels.toLong * s.points).sum
}
