package graft

import org.apache.spark.sql.functions._
import graft.sources.{Bucketing, Tables}

/** Co-located join via bucketed tables: after a one-time bucketed+sorted
  * write of both join sides, the join must plan with no Exchange (and no
  * per-query Sort) — the write-once/join-many layout that removes the
  * fact-table shuffle at scale. */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without any exchange") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_bucketed")
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity")),
      "li_bucketed", s"$base/lineitem", "l_orderkey", 8)
    Bucketing.writeBucketed(
      Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
      "ord_bucketed", s"$base/orders", "o_orderkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a merge join so the exchange-free claim is what's tested
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.table(spark, "li_bucketed")
        .join(Bucketing.table(spark, "ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val n = joined.count()
      assert(n === Tables.lineitem(spark, sfDir).count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("IVF-PQ codes table: cell partitions prune to the probe; identical to in-query q284") {
    import spark.implicits._
    import graft.operators.Similarity
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pq_codes_tbl_${System.nanoTime()}")
    Similarity.writePqCodes(spark, sfDir, "pq_codes_tbl", base.getPath)
    try {
      // (1) row identity: the persisted cell-partitioned layout answers
      // exactly what the in-query q284 path answers
      val viaTable = Similarity.ivfPqAdcProbeTable(spark, sfDir, "pq_codes_tbl")
      val direct = SparkEntry.queries("q284_ivf_pq_adc")(spark, sfDir)
      assert(viaTable.except(direct).count() === 0)
      assert(direct.except(viaTable).count() === 0)
      // (2) plan pin: a single query's probe must reach the scan as a
      // STATIC partition filter on cell — the scan reads nprobe cell
      // directories, not the table
      val one = Similarity.ivfPqAdcProbeTable(spark, sfDir, "pq_codes_tbl",
        nQueries = 1)
      one.write.format("noop").mode("overwrite").save()
      val plan = (one.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).toString
      val scanLine = plan.linesIterator
        .find(l => l.contains("FileScan") && l.contains("pq_codes_tbl"))
        .getOrElse(fail(s"no codes-table scan in plan:\n$plan"))
      assert(scanLine.contains("PartitionFilters"), scanLine)
      assert(scanLine.matches(".*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN \\([^)]*\\).*"),
        scanLine)
      // (3) probe bytes ∝ nprobe/k, measured on the layout itself: the
      // probed cell directories hold a strict fraction of the table
      val cellDirs = base.listFiles().filter(_.getName.startsWith("cell="))
      def dirBytes(d: java.io.File): Long =
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val probedCells = scanLine
        .replaceAll(".*IN \\(([^)]*)\\).*", "$1").split(",").map(_.trim.toLong).toSet
      val probedBytes = cellDirs.filter(d =>
        probedCells.contains(d.getName.stripPrefix("cell=").toLong)).map(dirBytes).sum
      val totalBytes = cellDirs.map(dirBytes).sum
      info(f"probe reads ${probedCells.size}/${cellDirs.length} cells, " +
        f"$probedBytes B of $totalBytes B (${probedBytes.toDouble / totalBytes}%.2f)")
      assert(probedCells.size < cellDirs.length,
        s"single-query probe did not prune: $probedCells of ${cellDirs.length} cells")
      assert(probedBytes < totalBytes)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_codes_tbl")
    }
  }

  test("IVF-PQ codes table answers every one of nQueries queries, the first ten unchanged") {
    import spark.implicits._
    import graft.operators.Similarity
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pq_codes_nq_${System.nanoTime()}")
    Similarity.writePqCodes(spark, sfDir, "pq_codes_nq", base.getPath)
    try {
      val ten = Similarity.ivfPqAdcProbeTable(spark, sfDir, "pq_codes_nq")
      val twenty = Similarity.ivfPqAdcProbeTable(spark, sfDir, "pq_codes_nq", nQueries = 20)
      val ids = twenty.select($"query_id").distinct().as[Long].collect().sorted.toSeq
      assert(ids === (0L until 20L))
      val firstTen = twenty.where($"query_id" < 10)
      assert(firstTen.except(ten).count() === 0)
      assert(ten.except(firstTen).count() === 0)
      assert(ten.count() === firstTen.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_codes_nq")
    }
  }

  test("groupBy on the bucket key of a bucketed table needs no exchange") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_bucketed")
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity")),
      "li_bucketed_agg", s"$base/lineitem_agg", "l_orderkey", 8)
    try {
      val agg = Bucketing.table(spark, "li_bucketed_agg")
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      agg.count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed_agg")
    }
  }
}
