package graft.bench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{Fft, TextHash, VectorOps}
import graft.operators.TextOps
import graft.sources.Tables

/** `curation_batch`: sequential passes over a fixed list of
  * `SparkEntry.queries` that covers one or two queries per operator
  * module, both custom plans and the three kernel families. The seed sets
  * only the query order. Outputs are dumped once, before the timed passes,
  * for the DuckDB oracle comparison that `run.py` makes. After the passes
  * a seeded event backlog is drained through the streaming layer
  * (`EventStream.drain`); it is checked and traced, not timed. */
object CurationBatch {
  /** query -> the layer its span is booked to */
  val Queries: Seq[(String, String)] = Seq(
    "q01_agg_pushdown" -> "operators.Relational",
    "q03_join_broadcast" -> "operators.Relational",
    "q25_ngram_jaccard" -> "operators.Dedup",
    "q26_minhash_lsh" -> "operators.Dedup",
    "q29_ann_brute" -> "operators.Similarity",
    "q36_fft_power" -> "operators.Spectral",
    "q38_ivf_ann" -> "operators.Similarity",
    "q41_asof_merge" -> "plans.asof",
    "q44_range_join" -> "plans.range_join",
    "q49_seq_pack" -> "operators.Sampling",
    "q53_vocab_topk" -> "operators.TextAnalysis",
    "q62_dup_clusters" -> "operators.Graph",
    "q82_curation_pipeline" -> "operators.Curation",
    "q85_bpe_pairs" -> "operators.TextAnalysis",
    "q98_pq_encode" -> "operators.Quantize",
    "q103_pagerank" -> "operators.Graph",
    "q116_spectrogram" -> "operators.Spectral",
    "q118_cusum" -> "operators.Timeseries")

  /** Runs every query once on a small pool, writing its output for the
    * oracle check; this is also the JIT/codegen warm-up. Returns failures. */
  def dumpOutputs(run: Run, dir: String, out: String): Seq[String] = {
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Queries.map { case (q, _) => s"${Json.str(q)}:${Json.str(oracle(q))}" }.mkString("{", ",\n", "}"))
    val failures = new ConcurrentLinkedQueue[String]()
    val spark = run.spark
    val pool = Executors.newFixedThreadPool(run.sc.defaultParallelism)
    Queries.foreach { case (q, _) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try SparkEntry.queries(q)(spark, dir).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/$q")
          catch { case e: Throwable => failures.add(s"$q: $e") }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    failures.asScala.toSeq
  }

  /** Kernel probes: each calls one native kernel over cached inputs and
    * reports ns per operation and the operation count. */
  def probes(run: Run, dir: String): Unit = {
    val spark = run.spark
    def timed(name: String, input: DataFrame, n: Long, expr: Column): Unit = {
      input.cache().count()
      def once(): Double = {
        val t0 = System.nanoTime()
        input.select(expr.as("k")).agg(sum(col("k"))).collect()
        System.nanoTime() - t0
      }
      once()
      val ns = Seq.fill(3)(once()).sorted.apply(1)
      run.values(s"functions.${name}_ns_per_${opName(name)}") = ns / n
      run.values(s"functions.${name}_${opName(name)}s") = n.toDouble
      input.unpersist()
    }
    val docs = (1 to 8).map(_ => TextOps.docsParallel(spark, dir)
      .select(TextOps.shingles(TextOps.toks(col("text")), 3).as("sh"))).reduce(_ union _)
    timed("minhash", docs, docs.count(), size(TextHash.minhash(col("sh"), 64)))
    val vecs = Tables.embeddings(spark, dir).select(col("embedding"))
    val pairs = vecs.select(col("embedding").as("a")).crossJoin(vecs.select(col("embedding").as("b")))
    timed("dot", pairs, pairs.count(), VectorOps.dot(col("a"), col("b")))
    val traces = spark.range(0, 4096, 1, run.sc.defaultParallelism).select(
      transform(sequence(lit(1), lit(256)), i => sin(col("id") * i)).as("x"))
    timed("fft", traces, 4096, size(Fft.powerSpectrum(col("x"))))
  }

  private def opName(kernel: String) = kernel match {
    case "minhash" => "doc"
    case "dot" => "pair"
    case _ => "trace"
  }

  def run(run: Run): Unit = {
    val dir = run.data.getPath
    val order = new scala.util.Random(run.seed).shuffle(Queries)
    val out = new java.io.File(run.work, "outputs").getPath
    run.op("dump_outputs", timed = false)(dumpOutputs(run, dir, out)) { f =>
      if (f.isEmpty) None else Some(f.mkString("; "))
    }
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    Main.measured(run) {
      // whole passes, started until the deadline, and at least two: the
      // first timed pass still runs slower than later ones, so a run of
      // one pass would not be comparable with the rest
      val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
      while (passes.size < 2 || System.nanoTime() < deadline) {
        val t0 = System.nanoTime()
        order.foreach { case (q, layer) =>
          run.op(q) {
            run.trace.span(layer)(SparkEntry.queries(q)(run.spark, dir)
              .write.format("noop").mode("overwrite").save())
          }(_ => None)
        }
        passes += (System.nanoTime() - t0) / 1e9
      }
    }
    passes.zipWithIndex.foreach { case (p, i) => run.values(s"pass_s.$i") = p }
    EventStream.drain(run)
    if (run.trace.enabled) probes(run, dir)
  }
}
