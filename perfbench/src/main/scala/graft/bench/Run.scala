package graft.bench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** State shared by one benchmark run: the session, the tracer, the
  * listener, the timed operations and everything the run reports. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val trace: Trace, val probe: Option[SparkProbe],
    val work: File, val data: File, val cache: File) {

  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  /** Numbers the JVM side reports as they are (per-layer counts, rates). */
  val values = mutable.LinkedHashMap.empty[String, Double]
  /** Per-operation counters measured in traced runs (list calls, rows). */
  val opCounters = mutable.Map.empty[Long, mutable.Map[String, Double]]
  private var nextOp = 1L

  def sc = spark.sparkContext

  /** Runs one timed operation. Only `body` is timed; `check` runs after
    * the clock stops and returns a failure reason, or None when the output
    * is correct. A thrown exception or a failed check marks the operation
    * failed; the statistics count it as a latency miss. */
  def op[T](kind: String, timed: Boolean = true)(body: => T)(check: T => Option[String]): Boolean = {
    val id = nextOp
    nextOp += 1
    sc.setLocalProperty(SparkProbe.OpKey, id.toString)
    trace.setOp(id)
    val lists0 = CountingLocalFs.calls
    val t0 = System.nanoTime()
    val res = try Right(trace.span("op." + kind)(body))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.setLocalProperty(SparkProbe.OpKey, null)
    trace.setOp(0)
    if (trace.enabled) count(id, "list_calls", (CountingLocalFs.calls - lists0).toDouble)
    val reason = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      case Right(v) => try check(v) catch { case e: Throwable => Some(s"check threw $e") }
    }
    reason.foreach(r => failures += s"$kind#$id: $r")
    ops += Op(id, kind, ms, reason.isEmpty, timed)
    reason.isEmpty
  }

  /** Runs untimed warm-up operations concurrently, one thread per core:
    * the first Spark queries in a JVM spend seconds in code generation
    * and JIT compilation, which parallelises. Each result is checked and
    * recorded as an untimed operation. */
  def warmUp(kinds: Seq[(String, () => Option[String])]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sc.defaultParallelism)
    val futures = kinds.map { case (kind, body) =>
      kind -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] =
          try body() catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      })
    }
    futures.foreach { case (kind, f) =>
      val id = nextOp
      nextOp += 1
      val failure = f.get()
      failure.foreach(r => failures += s"$kind#$id: $r")
      ops += Op(id, kind, 0.0, failure.isEmpty, timed = false)
    }
    pool.shutdown()
  }

  def count(op: Long, key: String, v: Double): Unit =
    opCounters.getOrElseUpdate(op, mutable.Map.empty)(key) =
      opCounters.get(op).flatMap(_.get(key)).getOrElse(0.0) + v

  def currentOp: Long = nextOp - 1

  /** Heap in use after full collections, in MB. The pauses let Spark's
    * ContextCleaner release what the collections made unreachable. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (0 until 4).foreach { _ => System.gc(); Thread.sleep(250) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Fixed, data-independent CPU probe (xxhash64 over 8M ids), as in the
    * program's own bench: it records how fast the host ran this window. */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 8L << 20, 1, 8)
        .selectExpr("sum(xxhash64(id) % 1000000007) AS h")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }

  def toJson: String = {
    def esc(s: String) = Json.str(s)
    val opsJ = ops.map(o => s"""[${o.id},${esc(o.kind)},${o.ms},${o.ok},${o.timed}]""").mkString("[", ",", "]")
    val vals = values.map { case (k, v) => s"${esc(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val ctr = opCounters.toSeq.sortBy(_._1).map { case (id, m) =>
      s""""$id":""" + m.map { case (k, v) => s"${esc(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val probeJ = probe.fold("null") { p =>
      val per = p.ops.toSeq.sortBy(_._1).map { case (id, c) =>
        s""""$id":{"jobs":${c.jobs},"tasks":${c.tasks},"task_ms":${c.taskMs},"sched_wait_ms":${c.schedWaitMs},"records_read":${c.recordsRead}}"""
      }.mkString("{", ",", "}")
      s"""{"ops":$per}"""
    }
    val fields = Seq(
      "workload" -> esc(workload), "seed" -> seed.toString,
      "trace" -> trace.enabled.toString, "cores" -> sc.defaultParallelism.toString,
      "ops" -> opsJ, "failures" -> failures.map(esc).mkString("[", ",", "]"),
      "values" -> vals, "op_counters" -> ctr, "probe" -> probeJ,
      "spans" -> trace.toJson)
    fields.map { case (k, v) => s"${esc(k)}:$v" }.mkString("{\n", ",\n", "\n}\n")
  }
}

final case class Op(id: Long, kind: String, ms: Double, ok: Boolean, timed: Boolean)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
