package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into the program's layers.
  *
  * A span records its name, start and end (nanoTime), the span that
  * enclosed it and the operation (request) it belongs to. Spans are kept
  * in memory and written out once, when the run ends. With tracing off
  * `span` runs the body and records nothing. Only the client thread
  * records spans, so the parent stack needs no synchronisation.
  */
final class Trace(val enabled: Boolean) {
  private val client = Thread.currentThread()
  /** Only the thread that created the tracer records spans; warm-up
    * threads run their bodies untraced. */
  def onClient: Boolean = Thread.currentThread() eq client

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled || !onClient) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  /** Tags every span opened until the next call with operation `id`. */
  def setOp(id: Long): Unit = op = id

  def toJson: String =
    spans.map(s => s"""[${s.id},${s.parent},${s.op},"${s.name}",${s.start},${s.end}]""")
      .mkString("[", ",\n", "]")
}

final case class Span(id: Int, parent: Int, op: Long, name: String,
    start: Long, end: Long)

/** Hadoop local file system that counts the metadata calls a scan makes
  * (directory listings and status lookups). Installed as `fs.file.impl`
  * only in traced runs. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet(); super.listStatus(p)
  }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    CountingLocalFs.lists.incrementAndGet(); super.listLocatedStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    CountingLocalFs.statuses.incrementAndGet(); super.getFileStatus(p)
  }
}

object CountingLocalFs {
  val lists = new AtomicLong
  val statuses = new AtomicLong
  def calls: Long = lists.get + statuses.get
}
