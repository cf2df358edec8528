package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.sources.Io

/** The exactly-once store behind every append-mode gate and monitor in
  * [[Events]]: a parquet directory holding one `batch_id=<id>` partition
  * per micro-batch.
  *
  * Exactly-once: the checkpoint replays a failed micro-batch with the
  * same `batch_id`, `put` overwrites only that batch's partition
  * (`Io.writePartitioned`, dynamic mode) instead of appending to it, and
  * a gate's probe of prior state (`before`) reads only earlier batches —
  * so a replay sees the identical prior state and rewrites its own
  * partitions byte-identically.
  * PREREQUISITE: the source must replay a `batch_id` with the same rows,
  * once (true of file sources and Kafka by offset range; NOT of a
  * rate-limited or non-deterministic source, where a replayed batch
  * emitting different rows would leave its partition holding the new
  * rows only — at-least-once there, not exactly-once).
  *
  * Reads never infer a schema from files: the read-back of a store uses
  * the schema of the rows `put` just wrote, and `before` the columns the
  * caller declares, so a zero-row micro-batch (which writes no file)
  * reads as an empty store instead of killing the stream. A directory
  * that does not exist yet reads as empty too.
  *
  * A long-running deployment compacts a store periodically: closed
  * batches rewrite into one consolidated `batch_id=-1` baseline
  * partition (committed batches never change, so compaction commutes
  * with the replay of live ones). */
private[streaming] object BatchStore {

  /** Store `rows` as micro-batch `batchId`'s partition of `dir`, replacing
    * whatever an earlier run of the same batch left there. Returns the
    * schema of the stored rows (`batch_id` included), for `read`. */
  def put(rows: DataFrame, dir: String, batchId: Long): StructType = {
    val stamped = rows.withColumn("batch_id", lit(batchId))
    Io.writePartitioned(stamped, dir, "batch_id")
    stamped.schema
  }

  /** Every batch of the store at `dir`, read with `schema` (from `put`). */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (Io.isDirectory(spark, dir)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The `columns` of the store's batches before `batchId`: the prior
    * state a replayed batch must see unchanged. */
  def before(spark: SparkSession, dir: String, batchId: Long,
      columns: StructType): DataFrame =
    read(spark, dir, columns.add("batch_id", LongType))
      .where(col("batch_id") < batchId).drop("batch_id")

  /** Run `body` on every micro-batch of `stream` (append mode). */
  def start(stream: DataFrame, checkpoint: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
}
