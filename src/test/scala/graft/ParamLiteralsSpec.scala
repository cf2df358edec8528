package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ElementAt, EqualTo, Expression, GreaterThan, Literal, Round}
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}

import graft.api.{Machine, SignalFrame}
import graft.catalog.{GraftTableCatalog, SignalCatalog}
import graft.plans.{Param, ParamLiterals, ParamLiteralsStrategy}
import graft.sources.Io

/** Per-request numeric constants are bound as `Param`s: two requests of
  * one shape that differ only in their window, channels or point share
  * one whole-stage class, on the DataFrame and the SQL path, while rows,
  * pushed filters, shot pruning and cached-relation scans are unchanged. */
class ParamLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val dir = {
    import spark.implicits._
    val d = "target/param_literals"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    Files.createDirectories(Paths.get(d))
    val te = for (shot <- Seq(1, 2); ti <- 0 until 10; ri <- 0 until 5)
      yield (shot, ti / 10.0, 10.0 + ri, shot * 1000.0 + ti + ri / 10.0)
    Io.writeSignal(te.toDF("shot", "time", "radius", "value"), d, "mpts.te")
    val ch = for (shot <- Seq(1, 2); c <- 1 to 5; ti <- 0 until 8)
      yield (shot, c, ti * 1.0, shot * 100.0 + c * 10 + ti)
    Io.writeSignal(ch.toDF("shot", "channel", "time", "value"), d, "bes.ch")
    Files.writeString(Paths.get(s"$d/machine.xml"),
      """<container name="root" tree="t" path="\TOP">
        |  <container name="mpts" path=".MPTS">
        |    <axis name="time" node=".T"/>
        |    <axis name="radius" node=".R"/>
        |    <signal name="te" node=".TE" axes="radius, time"/>
        |  </container>
        |  <container name="bes" path=".BES">
        |    <axis name="time" node=".T"/>
        |    <signal name="ch" node=".CH" axes="time"/>
        |  </container>
        |</container>""".stripMargin)
    spark.conf.set("spark.sql.catalog.graftparam", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftparam.xml", s"$d/machine.xml")
    spark.conf.set("spark.sql.catalog.graftparam.dataDir", d)
    spark.conf.set("spark.sql.catalog.graftparam.stripPrefix", "root")
    d
  }

  private lazy val catalog = SignalCatalog(SignalCatalog.fromFile(s"$dir/machine.xml")
    .signals.map(s => s.copy(qualifiedName = s.qualifiedName.stripPrefix("root."))))

  private lazy val machine = Machine(spark, catalog, dir)

  private def sqlWindow(lo: Double, hi: Double) =
    s"SELECT * FROM graftparam.bes.ch WHERE shot = 1 AND channel = 3 AND time BETWEEN $lo AND $hi"

  /** The requests under test, each built with two sets of constants. */
  private def requests(s: SparkSession): Seq[(String, Int => DataFrame)] = {
    def sig(qn: String) =
      SignalFrame(catalog.signal(qn), Io.readShots(s, Io.signalPath(dir, qn), Seq(1)))
    Seq(
      "slice" -> (i => sig("mpts.te").slice("time", Seq(0.2, 0.5)(i), Seq(0.4, 0.8)(i)).df),
      "channels" -> (i => sig("bes.ch").channels(Seq(Seq(1, 3), Seq(2, 5))(i)).df),
      "at" -> (i => sig("mpts.te").at("time", Seq(0.26, 0.61)(i)).df),
      "sql" -> (i => if (s eq spark) spark.sql(Seq(sqlWindow(1.0, 3.0), sqlWindow(2.5, 6.0))(i))
        else s.read.parquet(Io.signalPath(dir, "bes.ch"))
          .where(Seq("shot = 1 AND channel = 3 AND time BETWEEN 1.0 AND 3.0",
            "shot = 1 AND channel = 3 AND time BETWEEN 2.5 AND 6.0")(i))))
  }

  private def sorted(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toSeq: _*).collect().toSeq.sortBy(_.toString)
  }

  /** Code bodies of the whole-stage classes `df` ran. */
  private def codegen(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      .map(_.doCodeGen()._2.body)
  }

  private def params(plan: SparkPlan): Seq[Param] =
    flatMap(plan)(_.expressions.flatMap(_.collect { case x: Param => x }))

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("two requests that differ only in their constants share one generated class") {
    for ((kind, req) <- requests(spark)) {
      val first = codegen(req(0))
      val before = compiles
      val second = codegen(req(1))
      assert(compiles === before, s"$kind: the second request compiled a new class")
      assert(first.nonEmpty, kind)
      assert(first === second, s"$kind: class text differs between constants")
      assert(params(req(1).queryExecution.executedPlan).nonEmpty, s"$kind: no Param bound")
    }
  }

  test("rows equal those of a session without the strategy, compiled or interpreted") {
    val plain = spark.newSession()
    val expected = requests(plain).flatMap { case (_, req) => Seq(sorted(req(0)), sorted(req(1))) }
    assert(!plain.experimental.extraStrategies.exists(_.isInstanceOf[ParamLiteralsStrategy]))
    assert(expected.forall(_.nonEmpty))
    def got = requests(spark).flatMap { case (_, req) => Seq(sorted(req(0)), sorted(req(1))) }
    assert(got === expected)
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(got === expected)
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    // the signal access path registers the strategy, once
    val m = Machine(plain, catalog, dir)
    Seq(1, 2).foreach(n => m.shot(n).signal("mpts.te"))
    assert(plain.experimental.extraStrategies.count(_.isInstanceOf[ParamLiteralsStrategy]) === 1)
  }

  test("pushed filters keep the literal bounds and the scan reads only the named shot") {
    def pushed(df: DataFrame): String = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.metadata("PushedFilters")
      case b: BatchScanExec => b.scan match {
        case p: ParquetScan => p.pushedFilters.mkString("[", ", ", "]")
        case _ => ""
      }
    }.mkString
    val viaApi = machine.shot(1).signal("mpts.te").slice("time", 0.2, 0.4).df
    val viaSql = spark.sql(sqlWindow(1.0, 3.0))
    assert(pushed(viaApi).contains("GreaterThanOrEqual(time,0.2)"), pushed(viaApi))
    assert(pushed(viaApi).contains("LessThanOrEqual(time,0.4)"), pushed(viaApi))
    assert(pushed(viaSql).contains("GreaterThanOrEqual(time,1.0)"), pushed(viaSql))
    assert(pushed(viaSql).contains("LessThanOrEqual(time,3.0)"), pushed(viaSql))
    assert(pushed(viaSql).contains("EqualTo(channel,3)"), pushed(viaSql))
    assert(scanRoots(viaApi) === Seq(canonPath(s"$dir/mpts_te/shot=1")))
    assert(scanRoots(viaSql) === Seq(canonPath(s"$dir/bes_ch/shot=1")))
    // the constants are bound only above the scan
    assert(params(viaApi.queryExecution.executedPlan).map(_.toString).toSet === Set("0.2", "0.4"))
    assert(params(viaSql.queryExecution.executedPlan).map(_.toString).toSet === Set("3", "1.0", "3.0"))
  }

  test("a filter over a cached frame is still an in-memory scan with its predicates") {
    val cached = Io.readShots(spark, Io.signalPath(dir, "mpts.te"), Seq(1)).cache()
    try {
      val df = cached.where(col("time").between(0.2, 0.4))
      assert(df.count() === 15)
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) { case s: InMemoryTableScanExec => s }
      assert(scans.size === 1)
      assert(scans.head.predicates.flatMap(_.collect { case l: Literal => l.value }).toSet ===
        Set(0.2, 0.4))
      assert(params(plan).isEmpty)
    } finally cached.unpersist()
  }

  test("ordinals, scales, strings and nulls stay literals") {
    val arr = Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))
    val x = AttributeReference("x", DoubleType)()
    val kept: Seq[Expression] = Seq(
      ElementAt(arr, Literal(2)),
      Round(x, Literal(2)),
      EqualTo(AttributeReference("s", StringType)(), Literal.create("b", StringType)),
      EqualTo(AttributeReference("i", IntegerType)(), Literal.create(null, IntegerType)))
    for (e <- kept) assert(ParamLiterals.bind(e) === e)
    assert(ParamLiterals.bind(GreaterThan(x, Literal(2.0))) === GreaterThan(x, Param(2.0, DoubleType)))
    // and in a planned projection: only the arithmetic operand is bound
    val df = machine.shot(1).signal("mpts.te").df.select(
      element_at(array(col("time"), col("value")), 2).as("e"),
      round(col("value"), 2).as("r"), (col("value") * 3.0).as("m"))
    val project = collect(df.queryExecution.executedPlan) { case p: ProjectExec => p }.head
    val lits = project.projectList.flatMap(_.collect { case l: Literal => l.value })
    assert(lits.map(_.toString) === Seq("2", "2"))
    assert(params(project).map(_.toString) === Seq("3.0"))
    assert(df.collect().length === 50)
  }
}
