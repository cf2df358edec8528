package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The benchmark's own SparkListener: per-operation job/task costs (jobs
  * carry the client's operation id as a local property) and run-wide
  * shuffle, spill, GC and busy time. Registered only in traced runs. */
final class SparkProbe extends SparkListener {
  final class OpCost {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L
    var schedWaitMs = 0L; var recordsRead = 0L
  }
  val ops = mutable.Map.empty[Long, OpCost]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var taskMs = 0L

  private def cost(op: Long) = ops.getOrElseUpdate(op, new OpCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.OpKey)))
      .map(_.toLong).getOrElse(0L)
    cost(op).jobs += 1
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, 0L)
    val c = cost(op)
    c.tasks += 1
    stageSubmitted.get(e.stageId).foreach { s =>
      c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      taskMs += m.executorRunTime
      c.recordsRead += m.inputMetrics.recordsRead
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }
}

object SparkProbe {
  val OpKey = "graft.bench.op"
}
