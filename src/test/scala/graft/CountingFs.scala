package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.TaskContext

/** The local FileSystem, counting in JVM-wide counters its list and status
  * calls made outside tasks (a request's own probes and listings, not the
  * status calls of a task reading a file) and its file opens. A session
  * routes `file:` paths through it with `CountingFs.settings`, which
  * Spark copies into the Hadoop configuration of every read it plans. */
class CountingFs extends LocalFileSystem {
  private def listed(): Unit = if (TaskContext.get() == null) CountingFs.listings.incrementAndGet()

  override def listStatus(p: Path): Array[FileStatus] = { listed(); super.listStatus(p) }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    listed(); super.listLocatedStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = { listed(); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.incrementAndGet(); super.open(p, bufferSize)
  }
}

object CountingFs {
  val listings = new AtomicLong
  val opens = new AtomicLong

  /** Session settings that route `file:` paths through `CountingFs`. */
  val settings: Seq[(String, String)] =
    Seq("fs.file.impl" -> classOf[CountingFs].getName, "fs.file.impl.disable.cache" -> "true")
}
