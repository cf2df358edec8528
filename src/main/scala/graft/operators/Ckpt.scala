package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage-truncation with a durability knob.
  *
  * Every iterative loop (CC, PageRank, HITS, Lloyd) and shared-relation
  * materialization in this engine truncates lineage between rounds so the
  * analyzer re-walks a constant-size plan instead of one that doubles per
  * iteration. The default mechanism is `localCheckpoint`: executor-local
  * blocks, no filesystem round-trip — right for local[32] and for clusters
  * with stable executors. But executor-LOCAL means executor-MORTAL: on a
  * 1000-executor cluster with preemption, losing one executor mid-loop
  * loses blocks whose lineage was deliberately severed — Spark cannot
  * recompute them and the job aborts (the reference's analog of this
  * failure domain is its connection-pool retry,
  * `/root/reference/fdf/factory.py:149-167`).
  *
  * `spark.graft.checkpointDir` swaps in RELIABLE `checkpoint()`: blocks go
  * to the named fault-tolerant store (HDFS/S3/local dir), surviving any
  * executor death; a preempted 50-round CC job resumes from materialized
  * state instead of aborting. The knob is a session conf so one pipeline
  * can run durable while another stays fast. Runtime confs do not cross
  * to a cloned session, so [[Loop.run]] copies the knob onto the clone
  * its loop runs on.
  *
  * Durable mode costs: the checkpoint write is its own job, run by the
  * scheduler right after the action that materializes the frame. Without
  * a cache that job would RECOMPUTE the full lineage (Spark's documented
  * reliable-checkpoint behavior), so this wrapper persists the
  * pre-checkpoint plan (MEMORY_AND_DISK) and the write job reads blocks
  * instead — one extra cache-scan pass per truncation, not 2x compute.
  * The pre-checkpoint cache and the durable files are freed by
  * [[release]]; loops call it on each superseded round (mirroring their
  * `unpersist` discipline) so the durable store holds O(live rounds)
  * files, not rounds x |labels| for the app lifetime — Spark itself never
  * deletes reliable checkpoint files unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is set AND the RDD
  * is GC'd, neither of which a long-running pipeline can count on.
  *
  * Same laziness semantics as the call it replaces: `eager = false`
  * materializes at the first action (so a round's convergence probe stays
  * the round's only QUERY job — durable mode adds the write job on top),
  * `eager = true` materializes now.
  */
object Ckpt {
  val DirConf = "spark.graft.checkpointDir"

  /** Last knob value applied to the (context-global) checkpoint dir —
    * exact string equality, NOT substring containment of
    * `sc.getCheckpointDir` (which returns a per-app `<dir>/<uuid>`
    * subdir; a containment test would silently skip re-pointing when the
    * knob changes to a prefix of the old dir, e.g. /ckpt after /ckpt2). */
  private val appliedDir = new AtomicReference[String](null)

  /** Lazy reliable checkpoints: returned frame -> pre-checkpoint cache,
    * so [[release]] can free the cache that fed the checkpoint write job.
    * Identity-keyed (Dataset does not override equals). Loop sites drain
    * this through [[release]]; one-shot sites that never release are
    * reaped by [[sweep]] once their checkpoint has materialized (the
    * cache's only job was feeding the write; after that it is dead
    * weight — readers scan the checkpoint files). */
  private val pendingCache = new ConcurrentHashMap[DataFrame, DataFrame]()

  /** RDD ids of frames [[apply]] returned (both modes). [[release]] only
    * touches storage whose id is in here — so calling it on a frame this
    * object never produced (or on one already released) is a no-op
    * instead of a delete of someone else's live checkpoint. */
  private val owned =
    ConcurrentHashMap.newKeySet[Int]()

  /** Unpersist pre-checkpoint caches whose lazy checkpoint has since
    * materialized. Called on every [[apply]]; a no-op map scan unless
    * durable mode has outstanding lazy checkpoints. */
  private def sweep(): Unit = {
    val it = pendingCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val rdds = org.apache.spark.sql.graft.RddBridge.leafRdds(e.getKey)
      if (rdds.nonEmpty && rdds.forall(_.isCheckpointed)) {
        e.getValue.unpersist()
        it.remove()
      }
    }
  }

  /** Thread-local collector: while a [[collecting]] body runs, every frame
    * [[apply]] returns on this thread is also appended to the caller's
    * buffer — so surfaces that BUILD plans containing internal checkpoints
    * (PipelineSql views) can [[release]] them when the plan is replaced,
    * without the operator cores having to thread a registry parameter. */
  private val collector =
    new ThreadLocal[scala.collection.mutable.Buffer[DataFrame]]()

  /** Run `body`, appending every checkpoint [[apply]] mints on this thread
    * to `buf`. Nesting restores the outer collector on exit. */
  def collecting[T](buf: scala.collection.mutable.Buffer[DataFrame])(body: => T): T = {
    val prev = collector.get()
    collector.set(buf)
    try body finally {
      if (prev == null) collector.remove() else collector.set(prev)
    }
  }

  /** Truncate `df`'s lineage: reliable `checkpoint()` when
    * `spark.graft.checkpointDir` is set, `localCheckpoint()` otherwise. */
  def apply(df: DataFrame, eager: Boolean): DataFrame = {
    sweep()
    val out0 = applyInner(df, eager)
    Option(collector.get()).foreach(_ += out0)
    out0
  }

  private def applyInner(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir is context-global (shared by all session
        // clones) and mints a unique <dir>/<uuid> subdir per call — only
        // (re)point it when the knob value actually changed, or every
        // loop round would mint a fresh directory.
        if (appliedDir.getAndSet(dir) != dir || sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(dir)
        // cache the pre-checkpoint plan so the checkpoint WRITE job (which
        // re-runs the internal RDD) scans blocks instead of recomputing
        // the lineage the truncation exists to sever
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        // clampStats: checkpoint copies the pre-checkpoint plan's stats
        // onto the LogicalRDD; iterative self-joins SQUARE sizeInBytes
        // per round and the driver livelocks on million-digit BigInt
        // multiplication past ~20 rounds (see RddBridge.clampStats)
        val out = org.apache.spark.sql.graft.RddBridge
          .clampStats(cached.checkpoint(eager))
        if (eager) cached.unpersist()
        else pendingCache.put(out, cached)
        org.apache.spark.sql.graft.RddBridge.leafRdds(out)
          .foreach(r => owned.add(r.id))
        out
      case None =>
        val out = org.apache.spark.sql.graft.RddBridge
          .clampStats(df.localCheckpoint(eager))
        org.apache.spark.sql.graft.RddBridge.leafRdds(out)
          .foreach(r => owned.add(r.id))
        out
    }
  }

  def apply(df: DataFrame): DataFrame = apply(df, eager = true)

  /** Free everything a [[apply]]-returned frame holds, after its
    * successor has materialized: executor blocks (both modes) and, in
    * durable mode, the checkpoint files on the reliable store plus the
    * pre-checkpoint cache. Callers must not run `df` again afterwards —
    * its lineage is severed and its storage is gone. Never-materialized
    * lazy checkpoints release as a no-op (no file was written). */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    Option(pendingCache.remove(df)).foreach(_.unpersist())
    // Two guards against destroying storage other live plans still read:
    // (1) only frames whose plan is EXACTLY the LogicalRDD a checkpoint
    // returned qualify — a frame derived from checkpointed inputs (a
    // projection, a join of two checkpoints) shares their leaves, and
    // deleting through it would break every other reader of those
    // checkpoints; (2) only RDD ids this object minted are touched, each
    // at most once (`owned.remove` wins the race), so double-release and
    // release-of-foreign-frames are no-ops rather than deletes.
    if (org.apache.spark.sql.graft.RddBridge.isSingleLogicalRdd(df)) {
      val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
      org.apache.spark.sql.graft.RddBridge.leafRdds(df).foreach { rdd =>
        if (owned.remove(rdd.id)) {
          rdd.unpersist(blocking = false)
          rdd.getCheckpointFile.foreach { f =>
            val p = new Path(f)
            p.getFileSystem(hadoopConf).delete(p, true)
          }
        }
      }
    }
  }
}
