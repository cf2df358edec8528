package graft

import java.nio.file.{Files, Path => JPath, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.{Ckpt, Graph}

/** The `spark.graft.checkpointDir` durability knob (§2.10).
  *
  * Default mode truncates lineage with executor-local blocks; with the
  * knob set every truncation goes to the reliable store instead —
  * executor-mortality-safe for long loops on preemptible clusters. These
  * specs pin the three things that must hold for the knob to be real:
  * (1) outputs are bit-identical to the default path, (2) checkpoint
  * files actually land under the configured dir — including from inside
  * the loops' cloned sessions, i.e. `Loop.run` copies the knob — and
  * (3) storage is bounded: one app subdir per knob value (not re-minted
  * per round) and superseded rounds' files deleted by `Ckpt.release`.
  */
class CkptSpec extends SparkSpec {

  /** rdd-* checkpoint dirs (any depth) currently present under `root`. */
  private def rddDirs(root: JPath): Seq[JPath] = {
    if (!Files.exists(root)) return Seq.empty
    Files.walk(root).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
      .toSeq
  }

  /** Immediate children of `root` (the per-app uuid subdirs sc mints). */
  private def appDirs(root: JPath): Seq[JPath] =
    if (!Files.exists(root)) Seq.empty
    else Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq

  private def durableSession(dir: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Ckpt.DirConf, dir)
    s
  }

  test("Ckpt writes reliable files when the knob is set and release deletes them") {
    val tmp = Files.createTempDirectory("graft-ckpt-unit")
    val s = durableSession(tmp.toString)
    import s.implicits._
    val df = Ckpt((1 to 100).toDF("n"), eager = true)
    // the reliable branch took: a materialized checkpoint exists on disk
    val before = rddDirs(tmp)
    assert(before.nonEmpty, "eager reliable checkpoint wrote no rdd-* dir")
    assert(df.count() === 100L)
    // release frees the durable files (Spark itself never would)
    Ckpt.release(df)
    assert(rddDirs(tmp).isEmpty,
      s"release left checkpoint files behind: ${rddDirs(tmp)}")
  }

  test("release through a DERIVED frame is a no-op; double release too") {
    val tmp = Files.createTempDirectory("graft-ckpt-guard")
    val s = durableSession(tmp.toString)
    import s.implicits._
    val a = Ckpt((1 to 30).toDF("n"), eager = true)
    val b = Ckpt((1 to 30).toDF("n"), eager = true)
    assert(rddDirs(tmp).size === 2)
    // a join of two checkpointed inputs SHARES their LogicalRDD leaves;
    // releasing through it must not delete storage other plans read
    val joined = a.join(b, "n")
    Ckpt.release(joined)
    assert(rddDirs(tmp).size === 2,
      "release(derived) deleted a shared checkpoint")
    assert(a.count() === 30L && b.count() === 30L)
    // a projection of one checkpoint is likewise derived, not the frame
    Ckpt.release(a.select(($"n" + 1).as("m")))
    assert(rddDirs(tmp).size === 2)
    // releasing the REAL frames frees them exactly once
    Ckpt.release(a)
    assert(rddDirs(tmp).size === 1)
    Ckpt.release(a) // second release: already disowned, no-op
    assert(rddDirs(tmp).size === 1)
    Ckpt.release(b)
    assert(rddDirs(tmp).isEmpty)
  }

  test("lazy Ckpt materializes at first action, not before") {
    val tmp = Files.createTempDirectory("graft-ckpt-lazy")
    val s = durableSession(tmp.toString)
    import s.implicits._
    val df = Ckpt((1 to 50).toDF("n"), eager = false)
    assert(rddDirs(tmp).isEmpty, "lazy checkpoint wrote files before any action")
    assert(df.count() === 50L)
    assert(rddDirs(tmp).nonEmpty, "action did not materialize the lazy checkpoint")
    Ckpt.release(df)
    assert(rddDirs(tmp).isEmpty)
  }

  test("sweep reaps the pre-checkpoint cache once a lazy checkpoint materializes") {
    import org.apache.spark.storage.StorageLevel
    val tmp = Files.createTempDirectory("graft-ckpt-sweep")
    val s = durableSession(tmp.toString)
    import s.implicits._
    val input = (1 to 40).toDF("n")
    val out = Ckpt(input, eager = false)
    // the input is persisted so the checkpoint WRITE job reads blocks
    assert(input.storageLevel !== StorageLevel.NONE)
    assert(out.count() === 40L)
    // any later Ckpt call sweeps: the write happened, the cache is dead
    Ckpt.release(Ckpt((1 to 3).toDF("m")))
    assert(input.storageLevel === StorageLevel.NONE,
      "pre-checkpoint cache survived its checkpoint's materialization")
    Ckpt.release(out)
  }

  test("connectedComponents: durable mode is bit-identical, propagates into the loop clone, and bounds files") {
    val tmp = Files.createTempDirectory("graft-ckpt-cc")
    import spark.implicits._
    // a path graph deep enough for several label-propagation rounds,
    // plus a disjoint clique and an isolated node
    val edgeSeq = (1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val nodeSeq = (1L to 40L) ++ Seq(100L, 101L, 102L, 999L)

    // a loop runs on its own clone: the caller's session conf is the
    // same after the loop as before it
    def callerConfKept[T](s: SparkSession)(loop: => T): T = {
      val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      val before = keys.map(s.conf.get)
      val out = loop
      assert(keys.map(s.conf.get) === before, "a graph loop changed its caller's conf")
      out
    }
    def run(s: SparkSession): Seq[(Long, Long)] = callerConfKept(s) {
      import s.implicits._
      Graph.connectedComponents(edgeSeq.toDF("src", "dst"), nodeSeq.toDF("node"))
        .as[(Long, Long)].collect().toSeq.sorted
    }
    // PageRank with the cutoff at 0: its distributed loop
    def pageRank(s: SparkSession): Seq[(Long, Long)] = callerConfKept(s) {
      import s.implicits._
      s.conf.set("spark.graft.cc.localCutoff", "0")
      try Graph.pageRankOn(edgeSeq.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toSeq.sorted
      finally s.conf.unset("spark.graft.cc.localCutoff")
    }

    val tmpRank = Files.createTempDirectory("graft-ckpt-pagerank")
    val rankDefault = pageRank(spark)
    assert(pageRank(durableSession(tmpRank.toString)) === rankDefault,
      "durable PageRank diverged from localCheckpoint PageRank")
    assert(rddDirs(tmpRank).nonEmpty,
      "no checkpoint files under the knob dir from the PageRank loop clone")

    val default = run(spark)
    val durable = run(durableSession(tmp.toString))
    assert(durable === default, "durable CC diverged from localCheckpoint CC")
    assert(default.filter(_._2 == 1L).map(_._1) === (1L to 40L),
      "path component mislabeled")
    assert(default.contains((999L, 999L)), "isolated node lost")

    // the knob reached the loop's newSession() clone: files appeared here
    val apps = appDirs(tmp)
    assert(apps.nonEmpty, "no checkpoint files under the knob dir — " +
      "the knob did not reach the loop clone")
    // one app subdir per knob value — setCheckpointDir was not re-run
    // per round (each call mints a fresh uuid dir)
    assert(apps.size === 1, s"checkpoint dir re-minted: $apps")
    // superseded rounds released: only the final round's labels remain
    // (the loop ran >= 2 rounds on a 40-node path, so > 1 checkpoint was
    // written over the run)
    val left = rddDirs(tmp)
    assert(left.size <= 1, s"superseded rounds' files not released: $left")
  }

  test("hitsBipartite: durable mode is bit-identical to the default path") {
    val tmp = Files.createTempDirectory("graft-ckpt-hits")
    def run(s: SparkSession): Seq[String] =
      Graph.hitsBipartite(s, sfDir).collect()
        .map(_.mkString("|")).toSeq.sorted
    val default = run(spark)
    val durable = run(durableSession(tmp.toString))
    assert(durable === default, "durable HITS diverged from localCheckpoint HITS")
    assert(rddDirs(tmp).nonEmpty, "HITS durable run wrote no checkpoint files")
  }

  test("re-pointing the knob to a prefix of the old dir still re-points (exact equality, not containment)") {
    val base = Files.createTempDirectory("graft-ckpt-repoint")
    // old dir is a SUPERSTRING of the new one — a containment test on
    // sc.getCheckpointDir would conclude "already set" and leave files
    // landing in the stale dir
    val oldDir = Paths.get(base.toString, "ckpt2")
    val newDir = Paths.get(base.toString, "ckpt")
    val s1 = durableSession(oldDir.toString)
    import s1.implicits._
    val a = Ckpt((1 to 10).toDF("n"))
    assert(rddDirs(oldDir).nonEmpty)
    val s2 = durableSession(newDir.toString)
    val b = Ckpt {
      import s2.implicits._
      (1 to 10).toDF("n")
    }
    assert(rddDirs(newDir).nonEmpty,
      "knob change to a prefix dir was ignored — files stayed in the old dir")
    Ckpt.release(a); Ckpt.release(b)
  }
}
