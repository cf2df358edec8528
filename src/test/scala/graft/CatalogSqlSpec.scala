package graft

import java.nio.file.{Files, Paths}

import java.util.concurrent.{Callable, CountDownLatch, Executors}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.api.Machine
import graft.catalog.{GraftTableCatalog, ShotScanRule, SignalCatalog}
import graft.plans.ParamLiteralsStrategy
import graft.sources.Io

/** SQL-surface catalog (SURVEY §2.1 S5/S6 at the SQL layer): XML-declared
  * signals resolve as `SELECT … FROM graft.<container>.<signal>` through a
  * DSv2 `TableCatalog`, and plan the same V1 file scan as
  * `Machine.shot(n).signal`, with shot-partition pruning — the SQL twin
  * of the reference's attribute-chain factory addressing. */
class CatalogSqlSpec extends SparkSpec {

  private lazy val warehouse = {
    import spark.implicits._
    val dir = "target/catalog_sql_test"
    val rows = for {
      shot <- Seq(1, 2, 3)
      ti <- 0 until 10
      ri <- 0 until 5
    } yield (shot, ti / 10.0, 10.0 + ri, shot * 1000.0 + ti + ri / 10.0)
    // hive-partitioned by shot: shot predicates must prune DIRECTORIES
    rows.toDF("shot", "time", "radius", "value")
      .write.mode("overwrite").partitionBy("shot")
      .parquet(s"$dir/mpts_te.parquet")
    val chRows = for {
      shot <- Seq(1); ch <- 1 to 4; ti <- 0 until 8
    } yield (shot, ch, ti * 1.0, (if (ti < 2) 5.0 else 10.0) + ch)
    chRows.toDF("shot", "channel", "time", "value")
      .write.mode("overwrite").parquet(s"$dir/bes_ch.parquet")
    Files.writeString(Paths.get(s"$dir/machine.xml"),
      """<container name="root" tree="t" path="\TOP">
        |  <container name="mpts" path=".MPTS">
        |    <axis name="time" node=".T"/>
        |    <axis name="radius" node=".R"/>
        |    <signal name="te" node=".TE" units="keV" title="Electron Temperature" axes="radius, time"/>
        |  </container>
        |  <container name="bes" path=".BES">
        |    <axis name="time" node=".T"/>
        |    <signal name="ch" node=".CH" axes="time"/>
        |  </container>
        |</container>""".stripMargin)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.xml", s"$dir/machine.xml")
    spark.conf.set("spark.sql.catalog.graft.dataDir", dir)
    spark.conf.set("spark.sql.catalog.graft.stripPrefix", "root")
    dir
  }

  test("XML-declared signal resolves through plain SQL with correct rows") {
    warehouse
    val df = spark.sql(
      "SELECT time, value FROM graft.mpts.te WHERE shot = 2 AND radius = 10.0")
    assert(df.count() === 10)
    assert(df.agg(min("value")).head().getDouble(0) === 2000.0)
    // multi-channel signal too, and the catalog-qualified name is stable
    assert(spark.sql("SELECT * FROM graft.bes.ch WHERE channel = 3").count() === 8)
  }

  test("shot predicate PRUNES partitions in the SQL path (PlanShape)") {
    warehouse
    val df = spark.sql("SELECT time, value FROM graft.mpts.te WHERE shot = 1")
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a V1 FileSourceScanExec")
    val fs = scans.head
    // the shot=1 predicate must land in partitionFilters (directory
    // pruning), not survive as a post-scan filter on data
    assert(fs.partitionFilters.map(_.sql).exists(_.contains("shot")),
      s"shot filter not pushed to partition pruning: ${fs.partitionFilters}")
    // and the pruned scan reads exactly the one shot directory (of 3)
    assert(fs.relation.location.listFiles(fs.partitionFilters, fs.dataFilters).size === 1)
  }

  private def teRows(shots: Seq[Int]) = for {
    shot <- shots; ti <- 0 until 10; ri <- 0 until 5
  } yield (shot, ti / 10.0, 10.0 + ri, shot * 1000.0 + ti + ri / 10.0)

  private def chRows(shots: Seq[Int]) = for {
    shot <- shots; ch <- 1 to 4; ti <- 0 until 8
  } yield (shot, ch, ti * 1.0, shot * 100.0 + ch * 10 + ti)

  /** Registers catalog `name` over `dir` with the spec's machine XML. */
  private def register(name: String, dir: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.xml", s"$warehouse/machine.xml")
    spark.conf.set(s"spark.sql.catalog.$name.dataDir", dir)
    spark.conf.set(s"spark.sql.catalog.$name.stripPrefix", "root")
  }

  /** A second warehouse in the `Io.writeSignal` shot-directory layout,
    * registered as catalog `graftdir`. */
  private lazy val dirWarehouse = {
    import spark.implicits._
    val dir = "target/catalog_sql_dirs"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    Io.writeSignal(teRows(Seq(1, 2, 3)).toDF("shot", "time", "radius", "value"), dir, "mpts.te")
    Io.writeSignal(chRows(Seq(1, 2)).toDF("shot", "channel", "time", "value"), dir, "bes.ch")
    register("graftdir", dir)
    dir
  }

  private def teOf(df: DataFrame) = {
    import spark.implicits._
    df.select($"shot", $"time", $"radius", $"value").as[(Int, Double, Double, Double)].collect()
  }

  test("shot-addressed SQL lists only the named shots' directories") {
    import spark.implicits._
    val dir = dirWarehouse
    // a shot with no directory: no rows and no PATH_NOT_FOUND
    val missing = spark.sql("SELECT * FROM graftdir.mpts.te WHERE shot = 99")
    assert(missing.collect().isEmpty)
    assert(scanRoots(missing).isEmpty)
    // IN (1, 3): exactly those shots' rows, from exactly their directories
    val oneAndThree = spark.sql("SELECT * FROM graftdir.mpts.te WHERE shot IN (1, 3)")
    val got = teOf(oneAndThree)
    assert(got.length === 100)
    assert(got.toSet === teRows(Seq(1, 3)).toSet)
    assert(scanRoots(oneAndThree) === Seq(1, 3).map(n => canonPath(s"$dir/mpts_te/shot=$n")))
    // a list long enough for the optimizer to make it an InSet
    val manyShots = spark.sql(
      s"SELECT * FROM graftdir.mpts.te WHERE shot IN (${(Seq(1, 3) ++ (11 to 30)).mkString(", ")})")
    assert(teOf(manyShots).toSet === teRows(Seq(1, 3)).toSet)
    assert(scanRoots(manyShots) === Seq(1, 3).map(n => canonPath(s"$dir/mpts_te/shot=$n")))
    // no shot predicate: the whole signal directory, rows unchanged
    val ch3 = spark.sql("SELECT * FROM graftdir.bes.ch WHERE channel = 3")
    val ch3Rows = ch3.select($"shot", $"channel", $"time", $"value")
      .as[(Int, Int, Double, Double)].collect()
    assert(ch3Rows.length === 16)
    assert(ch3Rows.toSet === chRows(Seq(1, 2)).filter(_._2 == 3).toSet)
    assert(scanRoots(ch3) === Seq(canonPath(s"$dir/bes_ch")))
    // the flat fallbacks are still read whole: a single file, and the
    // partitioned `<name>.parquet` directory
    val flat = spark.sql("SELECT * FROM graft.bes.ch WHERE shot = 1 AND channel = 3")
    assert(flat.count() === 8)
    assert(scanRoots(flat) === Seq(canonPath(s"$warehouse/bes_ch.parquet")))
    val parquetDir = spark.sql("SELECT * FROM graft.mpts.te WHERE shot = 2")
    assert(parquetDir.count() === 50)
    assert(scanRoots(parquetDir) === Seq(canonPath(s"$warehouse/mpts_te.parquet")))
  }

  test("a shot written after the first read is visible at once on both paths") {
    import spark.implicits._
    warehouse
    val dir = "target/catalog_sql_fresh"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    Io.writeSignal(teRows(Seq(1, 2, 3)).toDF("shot", "time", "radius", "value"), dir, "mpts.te")
    register("graftfresh", dir)
    val m = Machine(spark, SignalCatalog(SignalCatalog.fromFile(s"$warehouse/machine.xml")
      .signals.map(s => s.copy(qualifiedName = s.qualifiedName.stripPrefix("root.")))), dir)
    assert(teOf(m.shot(1).signal("mpts.te").df).toSet === teRows(Seq(1)).toSet)
    assert(teOf(spark.sql("SELECT * FROM graftfresh.mpts.te WHERE shot = 1")).toSet ===
      teRows(Seq(1)).toSet)
    Io.writeSignal(teRows(Seq(4)).toDF("shot", "time", "radius", "value"), dir, "mpts.te")
    val viaApi = m.shot(4).signal("mpts.te").df
    val viaSql = spark.sql("SELECT * FROM graftfresh.mpts.te WHERE shot = 4")
    for (df <- Seq(viaApi, viaSql)) {
      val got = teOf(df)
      assert(got.length === 50)
      assert(got.toSet === teRows(Seq(4)).toSet)
    }
    val shot4 = Seq(canonPath(s"$dir/mpts_te/shot=4"))
    assert(scanRoots(viaApi) === shot4)
    assert(scanRoots(viaSql) === shot4)
  }

  test("a shot written with a new column after the first read brings that column on both paths") {
    import spark.implicits._
    warehouse
    val dir = "target/catalog_sql_newcol"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    Io.writeSignal(teRows(Seq(1, 2, 3)).toDF("shot", "time", "radius", "value"), dir, "mpts.te")
    register("graftnewcol", dir)
    val m = Machine(spark, SignalCatalog(SignalCatalog.fromFile(s"$warehouse/machine.xml")
      .signals.map(s => s.copy(qualifiedName = s.qualifiedName.stripPrefix("root.")))), dir)
    def shot(n: Int) = Seq(m.shot(n).signal("mpts.te").df,
      spark.sql(s"SELECT * FROM graftnewcol.mpts.te WHERE shot = $n"))
    for (df <- shot(1)) {
      assert(!df.columns.contains("value_err"))
      assert(teOf(df).toSet === teRows(Seq(1)).toSet)
    }
    Io.writeSignal(teRows(Seq(4)).toDF("shot", "time", "radius", "value")
      .withColumn("value_err", $"value" / 100), dir, "mpts.te")
    for (df <- shot(4)) {
      val got = df.select($"time", $"radius", $"value", $"value_err")
        .as[(Double, Double, Double, Double)].collect()
      assert(got.toSet === teRows(Seq(4)).map { case (_, t, r, v) => (t, r, v, v / 100) }.toSet)
    }
    for (df <- shot(1)) {
      assert(teOf(df).toSet === teRows(Seq(1)).toSet)
      assert(df.where($"value_err".isNotNull).isEmpty)
    }
  }

  test("a warehouse named by a file: URI resolves its shot directories on both paths") {
    import spark.implicits._
    warehouse
    val local = "target/catalog_sql_uri"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(local))
    val dir = new java.io.File(local).getAbsoluteFile.toURI.toString.stripSuffix("/")
    assert(dir.startsWith("file:/"))
    Io.writeSignal(teRows(Seq(1, 2, 3)).toDF("shot", "time", "radius", "value"), dir, "mpts.te")
    assert(Io.signalPath(dir, "mpts.te") === s"$dir/mpts_te")
    register("grafturi", dir)
    val m = Machine(spark, SignalCatalog(SignalCatalog.fromFile(s"$warehouse/machine.xml")
      .signals.map(s => s.copy(qualifiedName = s.qualifiedName.stripPrefix("root.")))), dir)
    val viaApi = m.shot(2).signal("mpts.te").df
    val viaSql = spark.sql("SELECT * FROM grafturi.mpts.te WHERE shot = 2")
    for (df <- Seq(viaApi, viaSql)) {
      val got = teOf(df)
      assert(got.length === 50)
      assert(got.toSet === teRows(Seq(2)).toSet)
    }
    val shot2 = Seq(canonPath(s"$local/mpts_te/shot=2"))
    assert(scanRoots(viaApi) === shot2)
    assert(scanRoots(viaSql) === shot2)
  }

  private def machineOver(dir: String) =
    Machine(spark, SignalCatalog(SignalCatalog.fromFile(s"$warehouse/machine.xml")
      .signals.map(s => s.copy(qualifiedName = s.qualifiedName.stripPrefix("root.")))), dir)

  private object Aqe extends AdaptiveSparkPlanHelper

  /** Runs `df`, then returns each file scan of its executed plan as its
    * canonical root paths, partition filters (expression ids removed) and
    * pushed filters, after checking that every scan is a V1 file scan. */
  private def fileScans(df: DataFrame): Seq[(Seq[String], String, String)] = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(Aqe.collect(plan) { case b: BatchScanExec => b }.isEmpty, plan)
    val scans = Aqe.collect(plan) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, plan)
    scans.map(f => (f.relation.location.rootPaths.map(p => new java.io.File(p.toUri).getCanonicalPath),
      f.metadata("PartitionFilters").replaceAll("#\\d+", ""), f.metadata("PushedFilters")))
  }

  private def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("Machine and SQL plan the same V1 file scan for the same request") {
    val dir = dirWarehouse
    val m = machineOver(dir)
    val shots = Seq(1, 3) ++ (11 to 30)
    val flat = machineOver(warehouse)
    val pairs = Seq(
      "time slice" -> (m.shot(2).signal("mpts.te").slice("time", 0.2, 0.5).df,
        "SELECT * FROM graftdir.mpts.te WHERE shot = 2 AND time BETWEEN 0.2 AND 0.5"),
      "channel filter" -> (m.shot(1).signal("bes.ch").channels(Seq(2, 4)).df,
        "SELECT * FROM graftdir.bes.ch WHERE shot = 1 AND channel IN (2, 4)"),
      "shot IN, 22 values" -> (Io.readShots(spark, Io.signalPath(dir, "mpts.te"), shots),
        s"SELECT * FROM graftdir.mpts.te WHERE shot IN (${shots.mkString(", ")})"),
      "join and aggregate" -> {
        val te = m.shot(1).signal("mpts.te").df
        val ch = m.shot(1).signal("bes.ch").df
        (te.join(ch, te("time") === ch("time")).groupBy(te("radius"))
          .agg(count(lit(1)).as("n"), sum(ch("value")).as("v")),
          """SELECT t.radius, count(1) AS n, sum(c.value) AS v
             FROM graftdir.mpts.te t JOIN graftdir.bes.ch c ON t.time = c.time
             WHERE t.shot = 1 AND c.shot = 1 GROUP BY t.radius""")
      },
      "flat .parquet fallback" -> (flat.shot(1).signal("bes.ch").channels(Seq(2, 4)).df,
        "SELECT * FROM graft.bes.ch WHERE shot = 1 AND channel IN (2, 4)"))
    for ((name, (viaApi, sql)) <- pairs) {
      val viaSql = spark.sql(sql)
      val api = fileScans(viaApi)
      assert(fileScans(viaSql) === api, name)
      // every scan is addressed: roots, and `shot` among its filters
      assert(api.forall(s => s._1.nonEmpty && (s._2 + s._3).contains("shot")), s"$name: $api")
      assert(rowsOf(viaSql) === rowsOf(viaApi), name)
      assert(rowsOf(viaSql).nonEmpty, name)
    }
    // no filter at all: one V1 scan over the whole signal directory
    val all = spark.sql("SELECT * FROM graftdir.bes.ch")
    assert(fileScans(all).map(_._1) === Seq(Seq(canonPath(s"$dir/bes_ch"))))
    assert(all.count() === chRows(Seq(1, 2)).length)
  }

  test("a fresh session's first SQL queries, from two threads at once, plan the V1 scan") {
    val dir = dirWarehouse
    val s = spark.newSession()
    Seq("" -> classOf[GraftTableCatalog].getName, ".xml" -> s"$warehouse/machine.xml",
      ".dataDir" -> dir, ".stripPrefix" -> "root")
      .foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.graftthreads$k", v) }
    assert(!s.experimental.extraOptimizations.contains(ShotScanRule))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = Seq(1, 2).map(n => n -> pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = {
          start.await()
          val df = s.sql(s"SELECT * FROM graftthreads.mpts.te WHERE shot = $n")
          df.collect()
          df
        }
      }))
      start.countDown()
      for ((n, run) <- runs) {
        val df = run.get()
        assert(teOf(df).toSet === teRows(Seq(n)).toSet)
        assert(fileScans(df).map(_._1) === Seq(Seq(canonPath(s"$dir/mpts_te/shot=$n"))))
      }
    } finally pool.shutdown()
    assert(s.experimental.extraOptimizations.count(_ == ShotScanRule) === 1)
    assert(s.experimental.extraStrategies.count(_.isInstanceOf[ParamLiteralsStrategy]) === 1)
  }

  test("XML-declared units ride through the SQL path as column metadata") {
    warehouse
    // the API path carries units in StructField metadata; the SQL path
    // must too — an FDF user asking about graft.mpts.te sees 'keV'
    val schema = spark.table("graft.mpts.te").schema
    assert(schema("value").metadata.contains("units"), schema("value").metadata.json)
    assert(schema("value").metadata.getString("units") === "keV")
    // and it survives query planning, not just table resolution
    val q = spark.sql("SELECT value FROM graft.mpts.te WHERE shot = 1")
    assert(q.schema("value").metadata.getString("units") === "keV")
    // undeclared columns keep empty metadata rather than failing
    assert(!schema("shot").metadata.contains("units"))
    // title rides along too, and DESCRIBE (which renders only comments)
    // shows "title [units]" to plain SQL users
    assert(schema("value").metadata.getString("title") === "Electron Temperature")
    val described = spark.sql("DESCRIBE graft.mpts.te").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(described("value") === "Electron Temperature [keV]")
  }

  test("listTables / namespaces / missing-table errors") {
    warehouse
    val tables = spark.sql("SHOW TABLES IN graft.mpts").collect().map(_.getString(1))
    assert(tables.toSeq === Seq("te"))
    val nss = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0))
    assert(nss.sorted.toSeq === Seq("bes", "mpts"))
    val err = intercept[Exception](spark.sql("SELECT * FROM graft.mpts.nope"))
    assert(err.getMessage.toLowerCase.contains("table") ||
      err.getMessage.contains("nope"))
  }

  private def samePlanResults(sql: String, core: org.apache.spark.sql.DataFrame): Unit = {
    val viaSql = spark.sql(sql)
    assert(viaSql.schema.fieldNames.sorted === core.schema.fieldNames.sorted)
    // collected compare, not except(): Spark's ReplaceExceptWithFilter
    // trips PLAN_VALIDATION on except-ing a view against its own plan
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.schema.fieldNames.sorted.map(org.apache.spark.sql.functions.col)
      df.select(cols.toSeq: _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    }
    assert(rows(viaSql) === rows(core))
  }

  test("pipeline verbs from pure SQL: every registered view equals its gated core") {
    graft.api.PipelineSql.register(spark, sfDir)
    graft.api.PipelineSql.Verbs.foreach { case (view, f) =>
      samePlanResults(s"SELECT * FROM $view", f(spark, sfDir))
    }
  }

  test("pipeline verbs from pure SQL: minhash pairs, semdedup verdicts, curation funnel") {
    import spark.implicits._
    graft.api.PipelineSql.register(spark, sfDir)
    // minhash pairs — the TVF parameterizes the verified-Jaccard floor
    samePlanResults("SELECT * FROM minhash_pairs(0.5)",
      SparkEntry.queries("q26_minhash_lsh")(spark, sfDir)
        .where($"jaccard" >= 0.5))
    // a tighter floor strictly narrows (and is reachable from SQL only)
    val all = spark.sql("SELECT count(*) FROM minhash_pairs(0.5)").collect()(0).getLong(0)
    val tight = spark.sql("SELECT count(*) FROM minhash_pairs(0.9)").collect()(0).getLong(0)
    assert(tight < all && tight > 0, s"tvf floor did not narrow: $tight vs $all")
    // semdedup verdicts — at the core's own floor the TVF reproduces the
    // gated verdicts exactly
    samePlanResults("SELECT * FROM semdedup_verdicts(350000)",
      SparkEntry.queries("q94_semantic_dedup")(spark, sfDir)
        .select($"vec_id", $"cell", $"max_cos_q", $"kept"))
    // curation funnel — verbs compose with arbitrary SQL
    samePlanResults(
      "SELECT stage, survivors_after FROM graft_curation_funnel",
      SparkEntry.queries("q210_filter_funnel")(spark, sfDir)
        .select($"stage", $"survivors_after"))
    // and a cross-verb SQL join runs without leaving SQL: keepers of
    // near-dup clusters joined back to their language
    val joined = spark.sql(
      """SELECT l.predicted, count(*) AS n
         FROM graft_cluster_keepers k JOIN graft_langid l
           ON k.keeper_id = l.doc_id AND k.is_keeper
         GROUP BY l.predicted""").collect()
    assert(joined.nonEmpty)
  }

  test("TVF domain floors are ENFORCED: out-of-range thresholds fail loudly") {
    graft.api.PipelineSql.register(spark, sfDir)
    // below the banding design floor the candidates were never generated —
    // the call must throw, not silently under-report
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM minhash_pairs(0.3)").collect())
    assert(e1.getMessage.contains("banding design floor"),
      s"wrong error: ${e1.getMessage}")
    // the guard fires even when the in-domain result would be empty
    // (a WHERE-side guard would never evaluate on zero surviving rows)
    val e2 = intercept[Exception](
      spark.sql("SELECT count(*) FROM minhash_pairs(0.0)").collect())
    assert(e2.getMessage.contains("banding design floor"))
    val e3 = intercept[Exception](
      spark.sql("SELECT * FROM semdedup_verdicts(100000)").collect())
    assert(e3.getMessage.contains("verify floor"),
      s"wrong error: ${e3.getMessage}")
    // at and above the floors the functions answer normally
    assert(spark.sql("SELECT * FROM minhash_pairs(0.5)").collect().nonEmpty)
    assert(spark.sql("SELECT * FROM semdedup_verdicts(500000)").collect().nonEmpty)
  }

  test("re-registration releases the prior registration's checkpoints") {
    val s2 = spark.newSession()
    graft.api.PipelineSql.register(s2, sfDir)
    // materialize the wedge-sample view (forces its internal checkpoints)
    val r1 = s2.sql("SELECT * FROM graft_wedge_sample").collect()
    assert(r1.nonEmpty)
    // re-register: must not throw, must release the superseded
    // checkpoints (Ckpt.release is identity-guarded, so this passing
    // means only owned storage was touched), and the fresh views must
    // still answer
    graft.api.PipelineSql.register(s2, sfDir)
    val r2 = s2.sql("SELECT * FROM graft_wedge_sample").collect()
    assert(r2.map(_.toSeq.mkString("|")).sorted.toSeq ===
      r1.map(_.toSeq.mkString("|")).sorted.toSeq)
  }
}
