package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all specs. One JVM-wide session
  * (getOrCreate) keeps the suite fast; tests run on the sf0.001 sample so
  * the whole suite stays in seconds.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Canonical root paths of the V1 file scans in `df`'s physical plan:
    * the paths its file index lists. The DataFrame and the catalog path
    * both plan a `FileSourceScanExec`; any other scan adds no root, so an
    * assertion that expects roots fails for it. */
  def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths
    }.flatten.map(p => new java.io.File(p.toUri).getCanonicalPath)

  def canonPath(path: String): String = new java.io.File(path).getCanonicalPath
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every suite plans under the strategy the signal and SQL paths use
    graft.plans.Planner.register(s, Seq(graft.plans.ParamLiteralsStrategy()))
    s
  }
}
