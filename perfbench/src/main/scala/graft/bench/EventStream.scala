package graft.bench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.Tables
import graft.streaming.Events

/** The streaming layer's step of `curation_batch`: a seeded backlog of
  * event part files, replayed from the events table in event-time order,
  * drained by `Events.readEventStream` + `Events.windowedAgg` under
  * `Trigger.AvailableNow`. The drained windows must equal a batch
  * `windowedAgg` over the same files. */
object EventStream {
  val RowsPerFile = 40
  val BacklogFiles = 120

  /** Progress of one streaming query. */
  final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    @volatile var queryId: java.util.UUID = _
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == queryId) batches.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The events table cut into consecutive event-time slices of
    * `RowsPerFile` rows, one parquet file each (s00000.parquet, …). Written
    * once per build under the cache directory; a run replays a seeded
    * choice of them. */
  def slices(run: Run): Array[File] = {
    val root = new File(run.cache, "event-slices")
    if (!new File(root, "_COMPLETE").exists()) {
      val tmp = new File(run.cache, "event-slices.tmp")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      run.spark.read.parquet(s"${run.data}/events.parquet")
        .withColumn("__f", floor((row_number().over(Window.orderBy(col("ts"), col("event_id"))) - 1) / RowsPerFile))
        .repartition(col("__f")).write.partitionBy("__f").parquet(tmp.getPath)
      org.apache.commons.io.FileUtils.deleteDirectory(root)
      root.mkdirs()
      tmp.listFiles().filter(_.getName.startsWith("__f=")).foreach { d =>
        val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, new File(root, f"s${d.getName.stripPrefix("__f=").toInt}%05d.parquet").toPath)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      java.nio.file.Files.writeString(new File(root, "_COMPLETE").toPath, "")
    }
    root.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  }

  /** Stages the seeded backlog and drains it once; checks the windows and
    * records the streaming layer's numbers. */
  def drain(run: Run): Unit = {
    val spark = run.spark
    val root = new File(run.work, "backlog")
    val dir = new File(root, "events.parquet")
    dir.mkdirs()
    new scala.util.Random(run.seed).shuffle(slices(run).toSeq).take(BacklogFiles).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, j) =>
        java.nio.file.Files.copy(f.toPath, new File(dir, f"f$j%05d.parquet").toPath)
      }
    val progress = new Progress
    spark.streams.addListener(progress)
    run.trace.span("streaming.drain") {
      val q = Events.windowedAgg(Events.readEventStream(spark, root.getPath)).writeStream
        .outputMode("complete").format("memory").queryName("backlog")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", new File(run.work, "ckpt-backlog").getPath).start()
      progress.queryId = q.id
      q.awaitTermination()
    }
    org.apache.spark.BenchBridge.drainListeners(run.sc)
    spark.streams.removeListener(progress)
    run.op("backlog_windows", timed = false) {
      (spark.table("backlog").collect(),
        Events.windowedAgg(Tables.normalizeTs(spark.read.parquet(dir.getPath))).collect())
    } { case (streamed, batch) =>
      def key(rs: Array[Row]) = rs.map(r => (r.getAs[Long]("window_start_ms"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
      val events = streamed.map(_.getAs[Long]("n")).sum
      if (events != BacklogFiles.toLong * RowsPerFile) Some(s"drained $events events of ${BacklogFiles * RowsPerFile}")
      else if (key(streamed) == key(batch)) None
      else Some(s"drained ${streamed.length} windows differ from the batch recomputation's ${batch.length}")
    }
    val ps = progress.batches.asScala.toSeq.filter(_.numInputRows > 0)
    def total(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)).sum
    val n = math.max(1, ps.size)
    run.values("streaming.catchup_eps") = ps.map(_.numInputRows).sum / (total("triggerExecution") / 1000.0)
    run.values("streaming.trigger_ms") = total("triggerExecution") / n
    run.values("streaming.add_batch_ms") = total("addBatch") / n
    run.values("streaming.planning_ms") = total("queryPlanning") / n
    run.values("streaming.wal_commit_ms") = total("walCommit") / n
    run.values("streaming.rows_per_batch") = ps.map(_.numInputRows.toDouble).sum / n
    run.values("streaming.backlog_files") = BacklogFiles
    ps.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      run.values("streaming.state_rows") = s.numRowsTotal.toDouble
      run.values("streaming.state_mb") = s.memoryUsedBytes / 1048576.0
    }
  }
}
