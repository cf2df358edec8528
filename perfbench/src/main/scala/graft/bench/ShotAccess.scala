package graft.bench

import java.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.api.Machine

/** One shot-access request. `kind` is the access path: the DataFrame path
  * with one verb (`slice`, `channels`, `scaled`), a nearest-sample `at`,
  * or `sql` through the `graft` table catalog. */
final case class Req(kind: String, sig: Sig, shot: Int, lo: Double, hi: Double,
    chans: Seq[Int], k: Double, t: Double)

object Req {
  /** (kind, signal) pairs, repeated in this fixed interleaving (3 slice,
    * 2 channels, 1 scaled, 2 at, 2 sql in ten) so that a short run serves
    * the same mix whatever the seed; the seed sets shots, window positions,
    * channels, scale factors and points. */
  val Block: Seq[(String, Sig)] = {
    import Warehouse.{Bes, Ip, Mpts}
    Seq("slice" -> Ip, "sql" -> Bes, "channels" -> Bes, "at" -> Mpts, "slice" -> Bes,
      "scaled" -> Ip, "sql" -> Mpts, "slice" -> Mpts, "channels" -> Bes, "at" -> Ip)
  }

  /** Seeded request stream over shots [first, first + n), skewed toward
    * the most recent shots (rank = n * u^3 back from the newest). */
  def stream(seed: Long, first: Int, n: Int, blocks: Int): IndexedSeq[Req] = {
    val rnd = new Random(seed)
    (0 until blocks).flatMap(_ => Block).map { case (kind, sig) =>
      val shot = first + n - 1 - math.floor(n * math.pow(rnd.nextDouble(), 3)).toInt
      // fixed window width and channel count keep the rows per request,
      // and so the work, the same whatever the seed
      val span = sig.points * sig.dt
      val w = 0.1 * span
      val lo = (span - w) * rnd.nextDouble()
      val chans = if (kind == "channels") rnd.ints(1, sig.channels + 1).distinct()
          .limit(2).toArray.toSeq.sorted
        else if (kind == "sql" && sig.hasChannel) Seq(1 + rnd.nextInt(sig.channels))
        else Nil
      // a point strictly between two samples, so the nearest one is unique
      val t = (rnd.nextInt(sig.points - 1) + 0.3) * sig.dt
      Req(kind, sig, shot, lo, lo + w, chans, 0.5 + rnd.nextInt(4), t)
    }
  }
}

/** Layer-boundary helpers shared by the signal workloads. */
object Access extends AdaptiveSparkPlanHelper {

  def sqlText(r: Req, catalog: String): String = {
    val chan = if (r.sig.hasChannel) s" AND channel = ${r.chans.head}" else ""
    s"SELECT * FROM $catalog.${r.sig.qn} WHERE shot = ${r.shot}$chan AND time BETWEEN ${r.lo} AND ${r.hi}"
  }

  /** Parquet files the executed plan's scans read. */
  def scanFiles(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case b: BatchScanExec => b.inputPartitions.collect { case p: FilePartition => p.files.length.toLong }.sum
  }.sum

  /** Plans and collects `df` under the api spans, recording the scan's
    * file count and the rows returned for traced runs. */
  def collect(run: Run, df: DataFrame): Array[Row] = {
    val plan = run.trace.span("api.plan")(df.queryExecution.executedPlan)
    val rows = run.trace.span("api.exec")(df.collect())
    if (run.trace.enabled && run.trace.onClient) {
      run.count(run.currentOp, "files_read", scanFiles(plan).toDouble)
      run.count(run.currentOp, "rows_returned", rows.length.toDouble)
    }
    rows
  }

  def verb[T](run: Run, name: String)(body: => T): T = run.trace.span(s"api.verb.$name")(body)

  def open(run: Run, m: Machine, shot: Int, qn: String) = {
    run.trace.span("catalog.resolve")(m.catalog.signal(qn))
    run.trace.span("sources.open")(m.shot(shot).signal(qn))
  }

  /** Serves one request: its rows, collected to the client. */
  def fetch(run: Run, m: Machine, catalog: String, r: Req): Array[Row] = {
    val s = r.sig
    r.kind match {
      case "slice" => collect(run, verb(run, "slice")(open(run, m, r.shot, s.qn).slice("time", r.lo, r.hi)).df)
      case "channels" => collect(run, verb(run, "channels")(open(run, m, r.shot, s.qn).channels(r.chans)).df)
      case "scaled" => collect(run, verb(run, "scaled")(open(run, m, r.shot, s.qn).scaled(r.k)).df)
      case "at" => collect(run, verb(run, "at")(open(run, m, r.shot, s.qn).at("time", r.t)).df)
      case "sql" => collect(run, run.trace.span("catalog.resolve")(run.spark.sql(sqlText(r, catalog))))
    }
  }

  /** Checks a request's rows against the closed form. */
  def check(r: Req)(rows: Array[Row]): Option[String] = {
    val s = r.sig
    val allCh = 1 to s.channels
    def grid(chs: Seq[Int], is: Seq[Int]) = for (c <- chs; i <- is) yield (c, i)
    r.kind match {
      case "slice" => Warehouse.check(s, r.shot, rows, grid(allCh, Warehouse.indicesIn(s, r.lo, r.hi)))
      case "channels" => Warehouse.check(s, r.shot, rows, grid(r.chans, 0 until s.points))
      case "scaled" => Warehouse.check(s, r.shot, rows, grid(allCh, 0 until s.points), r.k)
      case "at" => Warehouse.check(s, r.shot, rows, grid(allCh, Seq(math.round(r.t / s.dt - 0.3).toInt)))
      case "sql" => Warehouse.check(s, r.shot, rows,
        grid(if (s.hasChannel) r.chans else allCh, Warehouse.indicesIn(s, r.lo, r.hi)))
    }
  }

  /** Serves one request as a timed operation. */
  def serve(run: Run, m: Machine, catalog: String, r: Req): Boolean =
    run.op(r.kind)(fetch(run, m, catalog, r))(check(r))
}

/** `shot_access`: one client in a closed loop over a warehouse of
  * `Shots` shots x 3 signals; DataFrame-path, nearest-sample and SQL
  * requests skewed toward recent shots. The first `Shots - 1` shots come
  * from the cached warehouse, written before the run. The Machine and the
  * SQL catalog read every signal once before set-up writes the newest shot
  * through `Io.writeSignal`; the newest shot is the most requested one, so
  * a listing or schema cache that misses the write fails the checks. */
object ShotAccess {
  val Shots = 100

  def run(run: Run): Unit = {
    val reqs = Req.stream(run.seed, Warehouse.FirstShot, Shots, 1000)
    val dir = new java.io.File(run.work, "warehouse").getPath
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(Warehouse.cached(run, Shots - 1)), new java.io.File(dir))
    Warehouse.register(run.spark, dir, "graft")
    val m = Warehouse.machine(run.spark, dir)
    val newest = Warehouse.FirstShot + Shots - 1
    // one untimed DataFrame read and one SQL read per signal, of the shot
    // before the newest, before the newest exists
    run.warmUp(for (s <- Warehouse.All; kind <- Seq("slice", "sql")) yield {
      val r = Req(kind, s, newest - 1, 0.0, s.points * s.dt, if (s.hasChannel) Seq(1) else Nil, 1.0, 0.0)
      kind -> (() => Access.check(r)(Access.fetch(run, m, "graft", r)))
    })
    run.op("write", timed = false) {
      Warehouse.All.foreach(s => run.trace.span("sources.write")(Warehouse.write(run.spark, dir, s, newest, newest)))
    }(_ => None)
    Main.phase("warehouse ready")
    // warm-up: one block of requests on all cores, then two blocks in
    // sequence, all untimed and beyond the measured ones; less leaves the
    // first measured requests still paying JIT compilation
    val warm = reqs.takeRight(3 * Req.Block.size)
    run.warmUp(warm.take(Req.Block.size).map(r => r.kind -> (() => Access.check(r)(Access.fetch(run, m, "graft", r)))))
    warm.drop(Req.Block.size).foreach(r => run.op(r.kind, timed = false)(Access.fetch(run, m, "graft", r))(Access.check(r)))
    val (files, bytes) = Warehouse.shotFiles(dir, newest)
    run.values("sources.files_per_shot") = files.toDouble
    run.values("sources.bytes_per_sample") = bytes.toDouble / Warehouse.samplesPerShot
    run.values("sources.write_ms") = run.ops.find(_.kind == "write").fold(0.0)(_.ms)
    run.values("shots") = Shots
    Main.measured(run) {
      val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline) {
        Access.serve(run, m, "graft", reqs(i))
        i += 1
      }
    }
  }
}
