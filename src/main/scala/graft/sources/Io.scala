package graft.sources

import java.io.FileNotFoundException

import scala.util.hashing.MurmurHash3

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionedFile, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Source/sink formats beyond the canonical parquet tables, plus the
  * shot-directory layout of the signal warehouse.
  *
  * The reference's storage boundary is one MDSplus tree per shot
  * (`fdf/factory.py:169-202`); `writeSignal` stores each shot of a signal
  * in its own `<root>/<name>/shot=N` directory for the same reason. A
  * shot-addressed read (`readShots`, and the SQL catalog's scan) lists
  * only the directories of the shots it names, so its cost does not grow
  * with the number of shots in the warehouse. Each read lists those
  * directories afresh: a shot written a moment ago, by this process or
  * another, is visible to the next read.
  * A warehouse may sit on any Hadoop FileSystem (a plain local path,
  * `file:/…`, `hdfs://…`, `s3a://…`): every probe of it goes through
  * the Hadoop FileSystem of the session's Hadoop configuration (the one
  * `spark.read` uses), never `java.io.File`.
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

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def status(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    try Some(fileSystem(spark, p).getFileStatus(p))
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
      try fileSystem(spark, p).listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("shot="))
      catch { case _: FileNotFoundException => Nil }
    val newest = shots.maxByOption(s => (s.getModificationTime, s.getPath.getName))
    newest.fold(spark.read.parquet(path))(d =>
      spark.read.option("basePath", path).parquet(s"$path/${d.getPath.getName}")).schema
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** Rows of `shots` of the signal stored at `path` (see `signalPath`):
    * `scan` under a filter to `shots` (its partition filters, as on the SQL
    * path), analyzed once; a shot with no directory contributes no rows. */
  def readShots(spark: SparkSession, path: String, shots: Seq[Int]): DataFrame =
    readShots(spark, path, schema(spark, path), shots)

  /** `readShots` with the schema of `path` already in hand (`signal`). */
  private[graft] def readShots(spark: SparkSession, path: String, schema: StructType,
      shots: Seq[Int]): DataFrame =
    DatasetBridge.ofRows(spark, LogicalFilter(
      In(UnresolvedAttribute("shot"), shots.map(Literal(_))), scan(spark, path, schema, Some(shots))))

  /** The unfiltered file relation of both signal read paths (SQL reaches
    * it through `graft.catalog.ShotScanRule`). In the shot-directory
    * layout it is built here, without `spark.read`: one `listStatus` of
    * each `<path>/shot=N` directory of `shots` (a missing one contributes
    * no rows) seeds an `InMemoryFileIndex` over exactly those directories,
    * which lists nothing itself, and `shot` is the relation's partition
    * column with the values the directory names give. Nothing is cached
    * between calls. The format is `ShotParquet`, which shares one Parquet
    * reader per read shape. With no `shots`, for the flat `*.parquet`
    * fallback, or when a shot directory holds a subdirectory, it reads
    * through `spark.read`: all of `path`, or the shot directories with
    * `basePath = path`, and returns the relation that read analyzes to. */
  private[graft] def scan(spark: SparkSession, path: String, schema: StructType,
      shots: Option[Iterable[Int]]): LogicalRelation = {
    val read = spark.read.schema(schema)
    def relationOf(df: DataFrame) = df.queryExecution.analyzed.asInstanceOf[LogicalRelation]
    shots match {
      case Some(ns) if !path.endsWith(".parquet") =>
        val fs = fileSystem(spark, new Path(path))
        val listed = ns.toSeq.distinct.sorted.flatMap { n =>
          val dir = fs.makeQualified(new Path(s"$path/shot=$n"))
          try Some((n, dir, fs.listStatus(dir).filterNot(hidden)))
          catch { case _: FileNotFoundException => None }
        }
        if (listed.exists(_._3.exists(_.isDirectory)))
          relationOf(read.option("basePath", path).parquet(listed.map(_._2.toString): _*))
        else LogicalRelation(shotRelation(spark, fs, schema, listed))
      case _ => relationOf(read.parquet(path))
    }
  }

  /** Spark's rule for the names a file listing skips: hidden (`.`) and
    * `_` entries other than Parquet summary files, and in-progress copies. */
  private def hidden(f: FileStatus): Boolean = {
    val name = f.getPath.getName
    val skip = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
    skip && !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
  }

  /** The relation over the listed shot directories: (shot, qualified
    * directory, its files). */
  private def shotRelation(spark: SparkSession, fs: FileSystem, schema: StructType,
      listed: Seq[(Int, Path, Array[FileStatus])]): HadoopFsRelation = {
    val shot = schema("shot")
    val parts = PartitionSpec(StructType(Seq(shot)), listed.map { case (n, dir, _) =>
      PartitionPath(InternalRow(Cast(Literal(n), shot.dataType).eval()), dir)
    })
    // block locations as Spark's own listing attaches them, so a scan
    // keeps its data locality
    val leaves = listed.map { case (_, dir, files) =>
      dir -> files.map {
        case f: LocatedFileStatus => f
        case f => new LocatedFileStatus(f.getLen, false, f.getReplication, f.getBlockSize,
          f.getModificationTime, 0, null, null, null, null, f.getPath, false, false, false,
          fs.getFileBlockLocations(f, 0, f.getLen))
      }: (Path, Array[FileStatus])
    }.toMap
    val index = new InMemoryFileIndex(spark, listed.map(_._2), Map.empty, Some(schema),
      new Listed(leaves), Some(parts))
    HadoopFsRelation(index, parts.partitionColumns,
      StructType(schema.filterNot(_.name == shot.name)), None, new ShotParquet, Map.empty)(spark)
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

/** A `FileStatusCache` that serves one listing taken beforehand, so an
  * `InMemoryFileIndex` built over those directories lists none of them
  * again. Once invalidated (a refresh), the index lists for itself. */
private final class Listed(files: Map[Path, Array[FileStatus]]) extends FileStatusCache {
  @volatile private var served = files
  override def getLeafFiles(path: Path): Option[Array[FileStatus]] = served.get(path)
  override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
  override def invalidateAll(): Unit = served = Map.empty
}

/** Parquet with one reader function per read shape, shared by every scan
  * of that shape. `ParquetFileFormat` builds a new function for each scan,
  * and with it a broadcast of the Hadoop configuration; the function
  * depends only on what the key below holds, so one built earlier serves.
  * It is built with no pushed filters: a scan's pushed filters are shown
  * in its plan, but a function shared by requests with other time windows
  * cannot skip row groups for one of them, so every predicate is applied
  * by the `Filter` above the scan. */
private[sources] final class ShotParquet extends ParquetFileFormat {

  override def buildReaderWithPartitionValues(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    // the fingerprint comes first: building a reader writes to `hadoopConf`
    val key = ShotParquet.Key(dataSchema, partitionSchema, requiredSchema,
      options -- Seq("path", "paths"), ShotParquet.fingerprint(hadoopConf),
      spark.sessionState.conf.getAllConfs, spark.sparkContext)
    ShotParquet.reader(key) match {
      case Some(r) => r
      case None => ShotParquet.keep(key, super.buildReaderWithPartitionValues(spark,
        dataSchema, partitionSchema, requiredSchema, Nil, options, hadoopConf))
    }
  }

  override def equals(other: Any): Boolean = other.isInstanceOf[ShotParquet]
  override def hashCode(): Int = classOf[ShotParquet].hashCode
}

private[graft] object ShotParquet {

  /** Reader functions kept, least recently used first out. */
  val Bound = 8

  /** Everything a reader function captures. */
  private[sources] final case class Key(dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, options: Map[String, String], hadoopConf: (Long, Int),
      sqlConf: Map[String, String], sc: SparkContext)

  private type Reader = PartitionedFile => Iterator[InternalRow]

  private val readers = new java.util.LinkedHashMap[Key, Reader](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Reader]): Boolean = this.size > Bound
  }

  private def reader(key: Key): Option[Reader] = readers.synchronized(Option(readers.get(key)))

  /** Keeps `built` under `key`, unless another thread kept one first. */
  private def keep(key: Key, built: Reader): Reader = readers.synchronized {
    readers.keySet.removeIf(_.sc.isStopped)
    Option(readers.putIfAbsent(key, built)).getOrElse(built)
  }

  /** Reader functions held now. */
  private[graft] def size: Int = readers.synchronized(readers.size)

  /** An order-independent digest of every entry of `conf`: the sum of
    * 64-bit entry hashes, and the entry count. */
  private def fingerprint(conf: Configuration): (Long, Int) = {
    var sum = 0L
    var n = 0
    conf.iterator().forEachRemaining { e =>
      val kv = e.getKey + '\u0000' + e.getValue
      sum += MurmurHash3.stringHash(kv, 0x2f1a0b7d).toLong << 32 |
        MurmurHash3.stringHash(kv, 0x61c88647) & 0xffffffffL
      n += 1
    }
    (sum, n)
  }
}
