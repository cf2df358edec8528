package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session an iterative operator runs its rounds on, handed to the
  * body of [[Loop.run]].
  *
  * @param caller the session the operator was called on
  * @param spark  the loop's clone of it
  * @param parts  the loop's shuffle width, already set on `spark`
  */
private[graft] final class Loop private (val caller: SparkSession,
    val spark: SparkSession, val parts: Int) {

  /** `df`'s plan bound to the loop session. */
  def on(df: DataFrame): DataFrame = Loop.bind(df, spark)

  /** Whether `n` edges are few enough to run the loop in one task
    * (`spark.graft.cc.localCutoff` on the caller). */
  def fitsOneTask(n: Long): Boolean = Loop.fitsOneTask(caller, n)
}

/** Session setup of the iterative operators (the graph loops in
  * [[Graph]]) and the one-task cutoffs of every hybrid loop.
  *
  * A loop wants its own SQL conf: AQE off and a narrow shuffle width.
  * Its stages move kilobytes, so AQE's per-stage re-planning barrier is
  * pure driver latency, and the session default width only adds tasks.
  * Setting that conf on the caller's session would race with queries
  * planned concurrently on it (Verify plans from a thread pool), so the
  * loop runs on a clone from `newSession()`: the same SparkContext and
  * cache manager, an isolated conf. Runtime confs do not cross the
  * clone, so every knob is read on the caller, and the checkpoint dir
  * ([[Ckpt.DirConf]]) is copied over; without that copy the clone would
  * fall back to executor-local checkpoints. Plans move between the two
  * sessions by re-binding their analyzed form. */
private[graft] object Loop {

  /** Shuffle width of the loops; unset, max(8, parallelism / 4). At toy
    * scale the loops are driver-latency-bound and a narrow width beats
    * the session default; at cluster scale set it to O(cores).
    * ScaleSmoke's `ccparts` axis measures the width/data-size
    * crossover. */
  val PartitionsConf = "spark.graft.cc.partitions"

  /** Edge count at or under which a graph loop runs as a single-task
    * kernel instead of distributed rounds. */
  val CutoffConf = "spark.graft.cc.localCutoff"

  /** Row count at or under which facility-location selection runs in
    * one task. */
  val FacilityCutoffConf = "spark.graft.facility.localCutoff"

  /** 4M oriented edges ≈ 64 MB of (long, long) rows: one task peels or
    * unions that in milliseconds, while every distributed round costs a
    * fixed scheduler latency that dwarfs the data at that size. 1M
    * facility rows ≈ 300 MB of coverage arrays. */
  private val cutoffDefaults = Map(CutoffConf -> (4L << 20),
    FacilityCutoffConf -> (1L << 20))

  /** Whether a loop over `n` edges (or rows) runs in one task: `n` at or
    * under the cutoff `key` set on `spark`, else its default. */
  def fitsOneTask(spark: SparkSession, n: Long,
      key: String = CutoffConf): Boolean =
    n <= spark.conf.getOption(key).map(_.toLong).getOrElse(cutoffDefaults(key))

  /** Run `body` on a clone of `caller` with AQE off and the shuffle
    * width `parts` (default: [[PartitionsConf]]), and bind the frame it
    * returns back onto `caller`, so downstream planning sees the
    * caller's confs. */
  def run(caller: SparkSession, parts: Option[Int] = None)(
      body: Loop => DataFrame): DataFrame = {
    val width = parts.getOrElse(caller.conf.getOption(PartitionsConf)
      .map(_.toInt)
      .getOrElse(math.max(8, caller.sparkContext.defaultParallelism / 4)))
    val spark = caller.newSession()
    caller.conf.getOption(Ckpt.DirConf).foreach(spark.conf.set(Ckpt.DirConf, _))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    bind(body(new Loop(caller, spark, width)), caller)
  }

  private def bind(df: DataFrame, to: SparkSession): DataFrame =
    org.apache.spark.sql.graft.DatasetBridge.ofRows(to, df.queryExecution.analyzed)
}
