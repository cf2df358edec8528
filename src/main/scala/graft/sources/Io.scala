package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Source/sink formats beyond the canonical parquet tables, plus the
  * shot-directory layout of the signal warehouse.
  *
  * The reference's storage boundary is one MDSplus tree per shot
  * (`fdf/factory.py:169-202`); `writeSignal` stores each shot of a signal
  * in its own `<root>/<name>/shot=N` directory for the same reason. A
  * shot-addressed read (`readShots`, and the SQL catalog's scan) lists
  * only the directories of the shots it names, so its cost does not grow
  * with the number of shots in the warehouse. Each read checks and lists
  * those directories afresh: a shot written a moment ago, by this process
  * or another, is visible to the next read.
  * A warehouse may sit on any Hadoop FileSystem (a plain local path,
  * `file:/…`, `hdfs://…`, `s3a://…`): every probe of it goes through
  * the session's Hadoop FileSystem, never `java.io.File`.
  * CSV/JSON exist for interchange at the edges (logbook exports, event
  * dumps); ORC as the alternate columnar store. All readers take explicit
  * schemas — schema inference is an extra full pass at 100 TB.
  */
object Io {

  /** Hive-style partitioned parquet: one directory per distinct value of
    * `cols`; equality/IN predicates on them prune at file-listing time.
    * Overwrites only the partitions `df` holds (dynamic mode, whatever the
    * session sets), so writing one new shot keeps every earlier one. The
    * one dynamic-overwrite writer: the streaming batch stores write
    * through it too. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(path)

  /** Resolve a signal's storage under a warehouse root. The PREFERRED
    * layout is the shot directory `<root>/<qualified_name>/` (hive dirs
    * `shot=N/…`, written by `writeSignal`), which `shotDirs` addresses one
    * shot at a time. Falls back to the flat `<root>/<qualified_name>.parquet`
    * (a file, or a directory of any layout) when no such directory exists. */
  def signalPath(dataDir: String, qualifiedName: String): String = {
    val base = s"$dataDir/${qualifiedName.replace('.', '_')}"
    if (isDirectory(SparkSession.active, base)) base else s"$base.parquet"
  }

  /** True when `path` is a directory on its Hadoop FileSystem. */
  private[graft] def isDirectory(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isDirectory
    catch { case _: FileNotFoundException => false }
  }

  /** Write a signal table in the preferred shot-directory layout at the
    * path `signalPath` resolves first. */
  def writeSignal(df: DataFrame, dataDir: String, qualifiedName: String): Unit =
    writePartitioned(df, s"$dataDir/${qualifiedName.replace('.', '_')}", "shot")

  /** The `<path>/shot=N` directories of `shots` that exist, in shot order,
    * for a `path` in the shot-directory layout; `None` for the flat
    * `*.parquet` fallback, which is read whole. Checks each directory on
    * every call and lists nothing. */
  def shotDirs(path: String, shots: Iterable[Int]): Option[Seq[String]] =
    if (path.endsWith(".parquet")) None
    else Some(shots.toSeq.distinct.sorted.map(n => s"$path/shot=$n")
      .filter(isDirectory(SparkSession.active, _)))

  /** Parquet schema per path, cached for the JVM lifetime — the one
    * footer-inference cache, shared by `Tables.load` and the signal read
    * path (layout-immutability assumption: read-only testdata /
    * write-once signal directories). Metadata only; scans, pruning and
    * results are unchanged. */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** The file schema of `path`. A directory of `shot=N` subdirectories is
    * inferred from its first shot alone (with `shot` as the partition
    * column), so inference never lists the whole table. */
  def schema(spark: SparkSession, path: String): StructType =
    schemas.getOrElseUpdate(path, {
      val p = new Path(path)
      val names =
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
          .map(_.getPath.getName).toSeq
        catch { case _: FileNotFoundException => Nil }
      val first = names.filter(_.startsWith("shot=")).sorted.headOption
      first.fold(spark.read.parquet(path))(d =>
        spark.read.option("basePath", path).parquet(s"$path/$d")).schema
    })

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** Rows of `shots` of the signal stored at `path` (see `signalPath`).
    * In the shot-directory layout only the named shots' directories are
    * listed and read, with `basePath = path` so `shot` stays a partition
    * column; a shot with no directory contributes no rows. The flat
    * fallback is read whole and filtered. */
  def readShots(spark: SparkSession, path: String, shots: Seq[Int]): DataFrame = {
    val df = shotDirs(path, shots).fold(readParquet(spark, path))(dirs =>
      spark.read.schema(schema(spark, path)).option("basePath", path).parquet(dirs: _*))
    df.where(col("shot").isin(shots: _*))
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
