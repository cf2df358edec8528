package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM.
  *
  * {{{
  * graft.bench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <cacheDir>
  * }}}
  *
  * Workload `inputs` writes only the inputs that do not depend on the
  * seed (the cached warehouse and event slices) into `cacheDir`, so that
  * no measured run pays for them in its set-up.
  *
  * Otherwise it builds the workload's seeded inputs through the program's public entry
  * points, measures for `seconds`, checks every output and writes the raw
  * measurements (operations, values, spans, listener totals)
  * to `<workDir>/raw.json`; `perfbench/run.py` turns them into metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, dataS, cacheS) = args
    val work = new File(workS)
    val cores = Runtime.getRuntime.availableProcessors
    val traced = traceS == "1"
    val settings = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      // without it the static-mode overwrite in Io.writeSignal deletes
      // every earlier shot of a signal when one new shot is written
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
    if (traced) settings.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = settings.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val probe = if (traced) Some(new SparkProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, workload, seedS.toLong, secondsS.toDouble,
      new Trace(traced), probe, work, new File(dataS), new File(cacheS))
    run.values("session_s") = sessionS
    phase("session")
    try {
      workload match {
        case "inputs" =>
          Warehouse.cached(run, ShotAccess.Shots - 1)
          EventStream.slices(run)
          return
        case "shot_access" => ShotAccess.run(run)
        case "curation_batch" => CurationBatch.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.values("calib_s") = run.calibrate()
      Files.writeString(Paths.get(work.getPath, "raw.json"), run.toJson)
    } finally spark.stop()
  }

  /** Logs a set-up milestone with the seconds since JVM start (stderr). */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2f s: $name")

  /** The measured phase: marks the end of set-up, then records wall time,
    * the listener's run-wide totals and the live heap after it. */
  def measured(run: Run)(body: => Unit): Unit = {
    run.values("setup_total_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    def totals(p: SparkProbe) = {
      org.apache.spark.BenchBridge.drainListeners(run.sc)
      (p.shuffleBytes, p.spillBytes, p.gcMs, p.taskMs)
    }
    val before = run.probe.map(totals)
    phase("measuring")
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    run.values("measured_s") = wall
    for (p <- run.probe; (sh, sp, gc, tm) <- before) {
      val (sh1, sp1, gc1, tm1) = totals(p)
      run.values("spark.shuffle_mb") = (sh1 - sh) / 1048576.0
      run.values("spark.spill_mb") = (sp1 - sp) / 1048576.0
      run.values("spark.gc_ms") = (gc1 - gc).toDouble
      run.values("spark.core_busy_frac") = (tm1 - tm) / 1000.0 / (wall * run.sc.defaultParallelism)
    }
    run.values("live_heap_mb") = run.liveHeapMb()
  }
}
