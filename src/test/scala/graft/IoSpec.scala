package graft

import org.apache.spark.sql.functions._
import graft.sources.{Io, Tables}

/** Format round-trips and the partitioned layout's pruning behavior. */
class IoSpec extends SparkSpec {

  private def tmp(name: String) =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_io/$name").getPath

  test("shot-partitioned layout prunes directories for shot predicates") {
    import spark.implicits._
    val rows = for { shot <- 1 to 4; i <- 0 until 100 }
      yield (shot, i / 100.0, shot * 100.0 + i)
    val df = rows.toDF("shot", "time", "value")
    Io.writePartitioned(df, tmp("signals"), "shot")
    val read = Io.readParquet(spark, tmp("signals")).where($"shot" === 2)
    assert(read.count() === 100)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("shot"), plan)
    // data filters on a partition column never reach row groups — the
    // listing already excluded them; 1 of 4 directories is read
    val files = read.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(files.contains(1), s"expected 1 selected partition, got $files")
  }

  test("writeSignal of one new shot keeps every earlier shot, even in static mode") {
    import spark.implicits._
    val dir = tmp("overwrite")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    def rows(shots: Seq[Int]) = for { shot <- shots; i <- 0 until 10 }
      yield (shot, i / 10.0, shot * 100.0 + i)
    Io.writeSignal(rows(1 to 3).toDF("shot", "time", "value"), dir, "sig.x")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try Io.writeSignal(rows(Seq(4)).toDF("shot", "time", "value"), dir, "sig.x")
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val back = Io.readParquet(spark, Io.signalPath(dir, "sig.x"))
      .select($"shot", $"time", $"value").as[(Int, Double, Double)].collect()
    assert(back.length === 40)
    assert(back.toSet === rows(1 to 4).toSet)
  }

  test("csv, json, and orc round-trip the logbook-shaped projection") {
    import spark.implicits._
    val src = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey").limit(50)
    val expected = src.collect().toSeq

    Io.writeCsv(src, tmp("orders_csv"))
    val csv = Io.readCsv(spark, tmp("orders_csv"), src.schema)
    assert(csv.orderBy($"o_orderkey").collect().toSeq === expected)

    Io.writeJson(src, tmp("orders_json"))
    val json = Io.readJson(spark, tmp("orders_json"), src.schema)
    assert(json.orderBy($"o_orderkey").collect().toSeq === expected)

    Io.writeOrc(src, tmp("orders_orc"))
    val orc = Io.readOrc(spark, tmp("orders_orc"))
    assert(orc.orderBy($"o_orderkey").collect().toSeq === expected)
  }

  test("orc scan gets filter pushdown like parquet") {
    import spark.implicits._
    val src = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity")
    Io.writeOrc(src, tmp("li_orc"))
    val read = Io.readOrc(spark, tmp("li_orc")).where($"l_quantity" < 5.0)
    read.count()
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("l_quantity"), plan)
  }
}
