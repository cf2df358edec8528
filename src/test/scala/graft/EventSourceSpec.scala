package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Events

/** The event stream reads the `events.parquet` it is pointed at, as it is
  * when a query starts: a bare file that was replaced streams its new
  * rows to the next query, with nothing cached between the two. */
class EventSourceSpec extends SparkSpec {

  /** Write `rows` of the source events as one bare parquet file at `dst`. */
  private def writeBare(rows: org.apache.spark.sql.DataFrame, dst: File): Unit = {
    val tmp = Files.createTempDirectory("graft_event_part").toFile
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drain the stream of `dir` once under a fresh query and checkpoint. */
  private def drainIds(dir: File, name: String): Set[Long] = {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_event_ckpt").toFile
    val q = Events.readEventStream(spark, dir.getPath).select($"event_id")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).as[Long].collect().toSet
  }

  test("a replaced bare events.parquet streams its new rows to the next query") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val dir = Files.createTempDirectory("graft_event_src").toFile
    val file = new File(dir, "events.parquet")
    val even = raw.where($"event_id" % 2 === 0)
    val odd = raw.where($"event_id" % 2 === 1)
    for ((rows, name) <- Seq(even -> "event_src_first", odd -> "event_src_second")) {
      writeBare(rows, file)
      val want = rows.select($"event_id").as[Long].collect().toSet
      val got = drainIds(dir, name)
      assert(got == want, s"$name: ${got.size} ids streamed, " +
        s"${(got & want).size} of the ${want.size} in the file")
    }
  }
}
