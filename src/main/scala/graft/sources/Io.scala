package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
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
    * `shot=N/…`, written by `writeSignal`), which `scan` addresses one
    * shot at a time. Falls back to the flat `<root>/<qualified_name>.parquet`
    * (a file, or a directory of any layout) when no such directory exists. */
  def signalPath(dataDir: String, qualifiedName: String): String =
    locate(SparkSession.active, dataDir, qualifiedName)._1

  /** `signalPath` and the file schema there (`schema`), from the one
    * status call that resolves the path. */
  private[graft] def signal(spark: SparkSession, dataDir: String,
      qualifiedName: String): (String, StructType) = {
    val (path, dir) = locate(spark, dataDir, qualifiedName)
    (path, dir.fold(schema(spark, path))(schemaAt(spark, path, _)))
  }

  /** The signal's path, with its status when it is the shot directory. */
  private def locate(spark: SparkSession, dataDir: String,
      qualifiedName: String): (String, Option[FileStatus]) = {
    val base = signalDir(dataDir, qualifiedName)
    val dir = status(spark, base).filter(_.isDirectory)
    (if (dir.isDefined) base else s"$base.parquet", dir)
  }

  private def signalDir(dataDir: String, qualifiedName: String): String =
    s"$dataDir/${qualifiedName.replace('.', '_')}"

  private def status(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
    catch { case _: FileNotFoundException => None }
  }

  /** True when `path` is a directory on its Hadoop FileSystem. */
  private[graft] def isDirectory(spark: SparkSession, path: String): Boolean =
    status(spark, path).exists(_.isDirectory)

  /** Write a signal table in the preferred shot-directory layout at the
    * path `signalPath` resolves first. */
  def writeSignal(df: DataFrame, dataDir: String, qualifiedName: String): Unit =
    writePartitioned(df, signalDir(dataDir, qualifiedName), "shot")

  /** Inferred schema and the modification time of its path at inference:
    * the one footer-inference cache, shared by `Tables.load` and both
    * signal read paths. */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, (Long, StructType)]

  /** The file schema of `path`, inferred again whenever the modification
    * time of `path` has changed since the last inference: writing or
    * replacing a shot directory adds or renames an entry of the signal
    * directory, and so changes it. A directory of `shot=N` subdirectories
    * is inferred from its newest shot alone (with `shot` as the partition
    * column), so inference never lists the whole table and a column added
    * by a new shot appears at once. The time is taken before inference,
    * so a racing write costs one more inference, never a stale schema. A
    * store whose directories carry no modification time (0) infers on
    * every call. */
  def schema(spark: SparkSession, path: String): StructType =
    status(spark, path).fold(infer(spark, path))(schemaAt(spark, path, _))

  private def schemaAt(spark: SparkSession, path: String, st: FileStatus): StructType = {
    val stamp = st.getModificationTime
    schemas.get(path).collect { case (`stamp`, s) if stamp != 0 => s }.getOrElse {
      val s = infer(spark, path)
      schemas.put(path, stamp -> s)
      s
    }
  }

  private def infer(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val shots =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("shot="))
      catch { case _: FileNotFoundException => Nil }
    val newest = shots.maxByOption(s => (s.getModificationTime, s.getPath.getName))
    newest.fold(spark.read.parquet(path))(d =>
      spark.read.option("basePath", path).parquet(s"$path/${d.getPath.getName}")).schema
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** Rows of `shots` of the signal stored at `path` (see `signalPath`):
    * `scan` filtered to `shots`; a shot with no directory contributes no
    * rows. */
  def readShots(spark: SparkSession, path: String, shots: Seq[Int]): DataFrame =
    readShots(spark, path, schema(spark, path), shots)

  /** `readShots` with the schema of `path` already in hand (`signal`). */
  private[graft] def readShots(spark: SparkSession, path: String, schema: StructType,
      shots: Seq[Int]): DataFrame =
    scan(spark, path, schema, Some(shots)).where(col("shot").isin(shots: _*))

  /** The unfiltered file relation of both signal read paths (SQL reaches
    * it through `graft.catalog.ShotScanRule`). In the shot-directory
    * layout it reads the `<path>/shot=N` directories of `shots` that
    * exist, each checked on every call and none listed beforehand, with
    * `basePath = path` so `shot` stays a partition column. With no
    * `shots`, or for the flat `*.parquet` fallback, it reads all of `path`. */
  private[graft] def scan(spark: SparkSession, path: String, schema: StructType,
      shots: Option[Iterable[Int]]): DataFrame = {
    val read = spark.read.schema(schema)
    shots match {
      case Some(ns) if !path.endsWith(".parquet") => read.option("basePath", path)
        .parquet(ns.toSeq.distinct.sorted.map(n => s"$path/shot=$n").filter(isDirectory(spark, _)): _*)
      case _ => read.parquet(path)
    }
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
