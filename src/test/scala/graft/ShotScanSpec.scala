package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.api.Machine
import graft.catalog.{GraftTableCatalog, SignalCatalog}
import graft.sources.{Io, ShotParquet}

/** What a shot read costs and what its shared Parquet reader keeps: one
  * request lists only its shot, on both paths; a reader is shared by the
  * scans of one read shape, and a change of the Hadoop configuration, of
  * the SQL conf or of the shape gets a reader of its own. */
class ShotScanSpec extends SparkSpec {

  private def rows(shots: Seq[Int]) = for {
    shot <- shots; ch <- 1 to 4; ti <- 0 until 8
  } yield (shot, ch, ti * 1.0, shot * 100.0 + ch * 10 + ti)

  private lazy val dir = {
    import spark.implicits._
    val d = "target/shot_scan"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    Io.writeSignal(rows(Seq(1, 2, 3)).toDF("shot", "channel", "time", "value"), d, "bes.ch")
    Files.writeString(Paths.get(s"$d/machine.xml"),
      """<container name="root" tree="t" path="\TOP">
        |  <container name="bes" path=".BES">
        |    <axis name="time" node=".T"/>
        |    <signal name="ch" node=".CH" axes="time"/>
        |  </container>
        |</container>""".stripMargin)
    d
  }

  private lazy val path = Io.signalPath(dir, "bes.ch")

  private def machine(s: SparkSession) = Machine(s, SignalCatalog(
    SignalCatalog.fromFile(s"$dir/machine.xml").signals
      .map(sig => sig.copy(qualifiedName = sig.qualifiedName.stripPrefix("root.")))), dir)

  /** A session of its own with the `graftscan` catalog and `settings`. */
  private def session(settings: Seq[(String, String)]): SparkSession = {
    val s = spark.newSession()
    (Seq("" -> classOf[GraftTableCatalog].getName, ".xml" -> s"$dir/machine.xml",
      ".dataDir" -> dir, ".stripPrefix" -> "root")
      .map { case (k, v) => s"spark.sql.catalog.graftscan$k" -> v } ++ settings)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def exact(df: DataFrame, want: Seq[(Int, Int, Double, Double)]): Unit = {
    import spark.implicits._
    val got = df.select($"shot", $"channel", $"time", $"value")
      .as[(Int, Int, Double, Double)].collect()
    assert(got.length === want.size)
    assert(got.toSet === want.toSet)
  }

  private def window(shot: Int) =
    rows(Seq(shot)).filter(r => r._3 >= 2.0 && r._3 <= 5.0)

  test("one shot request makes at most 2 list and status calls, on both paths") {
    val s = session(CountingFs.settings)
    val m = machine(s)
    val requests = Seq[(String, Int => DataFrame)](
      "DataFrame" -> (n => m.shot(n).signal("bes.ch").slice("time", 2.0, 5.0).df),
      "SQL" -> (n => s.sql(s"SELECT * FROM graftscan.bes.ch WHERE shot = $n AND time BETWEEN 2.0 AND 5.0")))
    for ((name, request) <- requests) {
      // the first read of a signal infers its schema
      exact(request(1), window(1))
      val before = CountingFs.listings.get
      exact(request(2), window(2))
      val calls = CountingFs.listings.get - before
      // the signal directory's status and the shot directory's listing
      info(s"$name: $calls calls")
      assert(calls <= 2, s"$name: $calls list and status calls")
      assert(calls >= 1, s"$name: the request did not list through the session's FileSystem")
    }
  }

  test("a Hadoop configuration change between two reads takes effect") {
    // the context's Hadoop configuration, where `spark.hadoop.*` settings land
    val hadoop = spark.sparkContext.hadoopConfiguration
    def read() = Io.readShots(spark, path, Seq(2))
    exact(read(), rows(Seq(2)))
    val before = CountingFs.opens.get
    try {
      CountingFs.settings.foreach { case (k, v) => hadoop.set(k, v) }
      exact(read(), rows(Seq(2)))
    } finally CountingFs.settings.foreach { case (k, _) => hadoop.unset(k) }
    assert(CountingFs.opens.get > before, "the second read's file opens bypassed CountingFs")
    val after = CountingFs.opens.get
    exact(read(), rows(Seq(2)))
    assert(CountingFs.opens.get === after)
  }

  test("the row-based Parquet reader gives the same rows") {
    val s = session(Nil)
    def requests = Seq(
      machine(s).shot(1).signal("bes.ch").slice("time", 2.0, 5.0).df,
      s.sql("SELECT * FROM graftscan.bes.ch WHERE shot = 1 AND time BETWEEN 2.0 AND 5.0"))
    requests.foreach(exact(_, window(1)))
    s.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    requests.foreach(exact(_, window(1)))
  }

  test("two threads reading different shots of one signal at once both get exact rows") {
    val m = machine(spark)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = Seq(1, 3).map(n => n -> pool.submit(new Callable[Seq[DataFrame]] {
        def call(): Seq[DataFrame] = {
          start.await()
          (0 until 10).map { _ =>
            val df = m.shot(n).signal("bes.ch").df
            df.collect()
            df
          }
        }
      }))
      start.countDown()
      for ((n, run) <- runs; df <- run.get()) exact(df, rows(Seq(n)))
    } finally pool.shutdown()
  }

  test("files in a subdirectory of a shot directory are read as part of that shot") {
    import spark.implicits._
    val d = "target/shot_scan_nested"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    Io.writeSignal(rows(Seq(1, 2)).toDF("shot", "channel", "time", "value"), d, "bes.ch")
    val shot1 = new java.io.File(s"${Io.signalPath(d, "bes.ch")}/shot=1")
    val nested = new java.io.File(shot1, "extra")
    nested.mkdir()
    shot1.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new java.io.File(nested, f.getName).toPath))
    val got = Io.readShots(spark, Io.signalPath(d, "bes.ch"), Seq(1))
      .select($"shot", $"channel", $"time", $"value").as[(Int, Int, Double, Double)].collect()
    assert(got.sorted.toSeq === (rows(Seq(1)) ++ rows(Seq(1))).sorted)
  }

  test("one reader per read shape, kept in an LRU of fixed size") {
    val rel = Io.readShots(spark, path, Seq(1)).queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f.relation
    }.get
    def reader(r: HadoopFsRelation, required: StructType) = r.fileFormat.buildReaderWithPartitionValues(
      spark, r.dataSchema, r.partitionSchema, required, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val shape = StructType(Seq(StructField("value", DoubleType)))
    val first = reader(rel, shape)
    // the same shape again, in a relation of another request
    val other = Io.readShots(spark, path, Seq(2, 3)).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.get.asInstanceOf[HadoopFsRelation]
    assert(other.fileFormat === rel.fileFormat)
    assert(reader(other, shape) eq first)
    // more shapes than the bound: the LRU holds the bound, the oldest goes
    val shapes = (0 to ShotParquet.Bound).map(i => StructType(Seq(StructField(s"c$i", DoubleType))))
    shapes.foreach(reader(rel, _))
    assert(ShotParquet.size === ShotParquet.Bound)
    assert(!(reader(rel, shape) eq first))
  }
}
