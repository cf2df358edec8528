package graft.streaming

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming twin of the event system (SURVEY §2.8; reference
  * `fdf/factory.py:295-320` setevent/wfevent over MDSplus events).
  *
  * The batch operators q21/q22 share these exact expressions — the same
  * `window()`/session logic runs under `readStream` unchanged, which is
  * the Spark-native answer to the reference's one-off pub/sub: declare the
  * transform once, run it over bounded or unbounded input.
  *
  * Scale: watermarks bound state; aggregation state is partitioned by
  * (window, event_type) / (user_id) keys, so a 1000-executor cluster
  * shards state naturally. No driver-side state anywhere.
  *
  * Every append-mode gate and monitor below keeps its tables in a
  * [[BatchStore]], which holds the one exactly-once discipline (and its
  * prerequisite on the source) for all of them.
  */
object Events {

  /** The events stream from a parquet source (file-source streaming).
    * Schema must be supplied for readStream; ts arrives in whichever
    * physical layout the testdata generation used (nanos-long or naive
    * micros — see Tables.normalizeTs) and is rebuilt to a microsecond
    * session-UTC timestamp.
    * `events.parquet` is a directory of part files or one bare file,
    * listed as it is when a query starts. The file source takes a
    * directory as the base path of what it lists; a bare file streams
    * through a glob that matches it alone, which sets no base path. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s"$dir/events.parquet"
    val streamPath =
      if (graft.sources.Io.isDirectory(spark, src)) src else s"$dir/{events.parquet}"
    val schema = spark.read.parquet(src).schema
    graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(streamPath))
  }

  /** Tumbling 1-hour windowed counts/sums with a 1-hour watermark —
    * the streaming form of q21_tumbling_window. */
  def windowedAgg(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(unix_millis($"w.start").as("window_start_ms"), $"event_type", $"n",
        $"sum_value")
  }

  /** Gap-based session aggregation via the built-in session_window —
    * the streaming form of q22_sessionize (30-minute gap). */
  def sessionAgg(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_millis($"w.start").as("session_start_ms"),
        unix_millis($"w.end").as("session_end_ms"), $"n_events")
  }

  /** Stream-stream interval join with watermarks on both sides: attribute
    * each `probe`-type event to the `cause`-type events of the same user
    * in the preceding `windowMinutes`. Watermarks bound both join-state
    * buffers, so state is O(window x rate) per key shard — the canonical
    * unbounded-join shape at cluster scale. Runs identically on bounded
    * input (the spec checks it against a batch join). */
  def attributedJoin(events: DataFrame, causeType: String, probeType: String,
      windowMinutes: Int): DataFrame = {
    import events.sparkSession.implicits._
    val cause = events.where($"event_type" === causeType)
      .select($"user_id".as("c_user"), $"event_id".as("cause_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val probe = events.where($"event_type" === probeType)
      .select($"user_id".as("p_user"), $"event_id".as("probe_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    probe.join(cause,
      $"p_user" === $"c_user" &&
        $"c_ts" <= $"p_ts" &&
        $"c_ts" >= $"p_ts" - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select($"p_user".as("user_id"), $"probe_id", $"cause_id",
        unix_millis($"p_ts").as("probe_ms"), unix_millis($"c_ts").as("cause_ms"))
  }

  /** Streaming exact dedup: first event wins per (user_id, event_type)
    * within the watermark horizon — `dropDuplicatesWithinWatermark` keys
    * state by the dedup columns and expires it at the watermark, the
    * streaming twin of q24's hash-groupBy dedup. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Streaming keep-latest (q71's twin): the most recent event per
    * (user_id, event_type), maintained incrementally — the upsert view a
    * mutable key-value table over an append-only stream needs (the
    * reference's "shots are added as referenced" registry,
    * `docs/source/usage_examples.rst:31-33`, generalized). Struct-max
    * aggregation state is O(1) per key; at scale state shards by the
    * grouping key like any streaming agg. */
  def latestState(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy($"user_id", $"event_type")
      .agg(max(struct(unix_millis($"ts").as("tms"), $"event_id", $"value"))
        .as("latest"))
      .select($"user_id", $"event_type", $"latest.tms".as("last_ms"),
        $"latest.event_id".as("last_event_id"), $"latest.value".as("last_value"))
  }

  /** Streaming dedup SINK — closes the pipeline source-to-table: the
    * keep-latest state (q71's twin) maintained as a queryable parquet
    * table via `foreachBatch`. Exactly-once: the checkpoint replays a
    * failed micro-batch at-least-once, and the batch body is IDEMPOTENT —
    * complete-mode state is a deterministic function of the input seen so
    * far, and the overwrite rewrites the whole table — so a replay
    * produces byte-identical contents. At 100 TB the same body would
    * MERGE update-mode deltas into a transactional table (Delta/Iceberg)
    * keyed on (user_id, event_type) instead of rewriting; the streaming
    * plan above it is unchanged. */
  def latestStateSink(events: DataFrame, target: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery = {
    val upsert: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => batch.write.mode("overwrite").parquet(target)
    latestState(events).writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(upsert)
      .start()
  }

  /** Streaming dedup INGEST GATE — the q109 delta-dedup screen run at
    * ingestion time: each micro-batch of arriving documents is
    * band-joined against the STATIC corpus shingle index, and only docs
    * with no verified near-dup (Jaccard >= 0.5) are admitted; rejected
    * docs land in a quarantine table with their matched corpus doc.
    * Exactly-once: both tables are [[BatchStore]]s (one `batch_id`
    * partition per micro-batch), so a replayed micro-batch rewrites its
    * own partitions instead of double-appending, and no downstream dedup
    * absorption is needed.
    *
    * Scale shape: per batch O(delta + collisions) — the corpus index is
    * the persisted artifact (at 100 TB a bucketed table on (band,
    * sig)); only the arriving batch is re-signed. */
  def dedupIngestGate(newDocs: DataFrame, corpus: DataFrame,
      admittedTarget: String, rejectedTarget: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val corpusSh = graft.operators.Dedup.docShingles(corpus)
    BatchStore.start(newDocs, checkpoint, trigger) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      // deliberately localCheckpoint, NOT the Ckpt durability knob: the
      // truncation only shares the batch across the two writes INSIDE
      // one foreachBatch invocation, and executor loss mid-batch is
      // already covered by the streaming engine's own replay
      // (checkpointLocation + idempotent sinks) — a reliable checkpoint
      // here would add a durable round-trip per micro-batch for state
      // that never outlives the batch.
      val b = batch.localCheckpoint(true)
      val matches = graft.operators.Dedup
        .deltaDedupOn(graft.operators.Dedup.docShingles(b), corpusSh)
        .localCheckpoint(true)
      BatchStore.put(b.join(matches.select($"new_doc".as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"), admittedTarget, batchId)
      BatchStore.put(b.join(matches.groupBy($"new_doc".as("doc_id"))
          .agg(min($"corpus_doc").as("dup_of"), max($"jaccard").as("max_jaccard")),
        Seq("doc_id"), "inner"), rejectedTarget, batchId)
      // batch-scoped blocks must not outlive the batch: a long-running
      // stream would otherwise pin batches x |batch| rows until GC
      graft.operators.Ckpt.release(matches)
      graft.operators.Ckpt.release(b)
    }
  }

  /** Streaming CHUNK-novelty ingest gate — q259's content-defined
    * chunker run at ingestion time, against an accumulated chunk-hash
    * store: each arriving document is chunked (the shared
    * `Dedup.cdcChunkRelation`, so stream and batch can never chunk
    * differently), its chunks are probed against every PRIOR batch's
    * store partition, and the per-doc verdict (novel-token fraction vs
    * `minNoveltyPpm`) lands in a snapshot table. This is sub-document
    * dedup in the ingest path — the screen that catches a "new" doc
    * which is 90% boilerplate already ingested, which whole-doc gates
    * (dedupIngestGate) admit.
    *
    * Exactly-once by the [[BatchStore]] discipline: the store and the
    * snapshot are batch stores, and the probe reads only earlier batches.
    * Within-batch repeats count as novel (novelty is defined against the
    * store, not the batch — deterministic under replay either way).
    *
    * Scale shape: per batch O(batch chunks + store collisions) — the
    * store is an equality join on chash (at 100 TB a bucketed table on
    * chash); only arriving docs are chunked. State is chunk HASHES,
    * never text. */
  def chunkNoveltyGate(newDocs: DataFrame, storeDir: String,
      snapshotDir: String, checkpoint: String,
      minNoveltyPpm: Long = 500000L,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(newDocs, checkpoint, trigger) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val chunks = graft.operators.Dedup
        .cdcChunkRelation(batch, Seq.empty)
        .localCheckpoint(true) // batch-scoped; replay covers loss
      val known = BatchStore.before(batch.sparkSession, storeDir, batchId,
          chunks.select($"chash").schema)
        .distinct()
      val flagged = chunks.join(known.withColumn("seen", lit(1L)),
          Seq("chash"), "left")
      BatchStore.put(flagged.groupBy($"doc_id")
          .agg(sum($"len").as("n_tokens"),
            sum(when($"seen".isNull, $"len").otherwise(0L))
              .as("novel_tokens"))
          .select($"doc_id", $"n_tokens", $"novel_tokens",
            expr("(novel_tokens * 1000000) div n_tokens").as("novelty_ppm"))
          .withColumn("admit", $"novelty_ppm" >= minNoveltyPpm),
        snapshotDir, batchId)
      BatchStore.put(flagged.where($"seen".isNull).select($"chash").distinct(),
        storeDir, batchId)
      graft.operators.Ckpt.release(chunks)
    }

  /** Streaming EMBEDDING-novelty ingest gate — the vector twin of
    * [[chunkNoveltyGate]], closing the loop between the ANN stack and
    * the ingest-gate family: each arriving vector is PQ-encoded with the
    * SHARED `Similarity.encodeAgainst` kernel (stream and batch can
    * never encode differently), ADC-screened against the accumulated
    * COMPRESSED store (`Similarity.adcNoveltyVerdicts` — cell-blocked
    * code rows, never full vectors), and admitted when no stored
    * neighbor reaches `maxCosPpm`. Admitted vectors' CODES join the
    * store; verdicts land in a snapshot table. State is 8 longs per
    * admitted vector — the 20x byte fold is what makes a
    * billion-vector novelty store feasible.
    *
    * Exactly-once by the [[BatchStore]] discipline: the code store and
    * the snapshot are batch stores, and the screen reads only earlier
    * batches' codes.
    *
    * `codebook` is the persisted quantizer artifact (at 100 TB: the
    * trained PQ codebook every encoder shares); it is collected ONCE at
    * gate construction, k·d doubles. */
  def embeddingNoveltyGate(newVecs: DataFrame,
      codebook: Array[(Long, Array[Double])],
      storeDir: String, snapshotDir: String, checkpoint: String,
      maxCosPpm: Long = 950000L, nprobe: Int = 2,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(newVecs, checkpoint, trigger) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val b = batch.localCheckpoint(true) // batch-scoped; replay covers loss
      val codes = graft.operators.Similarity.encodeAgainst(b, codebook)
      val store = BatchStore.before(batch.sparkSession, storeDir, batchId,
        codes.schema)
      val verdicts = graft.operators.Similarity
        .adcNoveltyVerdicts(b, store, codebook, maxCosPpm, nprobe)
        .localCheckpoint(true)
      BatchStore.put(verdicts, snapshotDir, batchId)
      BatchStore.put(codes.join(verdicts.where($"admit").select($"vec_id"), Seq("vec_id")),
        storeDir, batchId)
      graft.operators.Ckpt.release(verdicts)
      graft.operators.Ckpt.release(b)
    }

  /** Streaming PSI drift monitor — q149's population-stability screen
    * run continuously against a frozen reference distribution. Each
    * micro-batch: (1) bin the arriving values with the SAME broadcast
    * per-type bounds and integer-centi-unit arithmetic as the batch
    * operator, (2) append the batch's (event_type, bin, n) counts to a
    * cumulative state table, (3) recompute PSI of the accumulated
    * stream distribution vs the reference and append a timestamped
    * snapshot row — the live dashboard a feed-health pipeline reads.
    *
    * Exactly-once END TO END by the [[BatchStore]] discipline: the
    * counts and the snapshot are both batch stores, so the whole
    * foreachBatch body is idempotent — a replay rewrites both partitions
    * instead of appending a duplicate snapshot row. Scale: per batch
    * O(batch) + a |types|×|bins|-bounded state aggregation; the
    * partitioned-parquet state is the toy-sink form of a keyed MERGE.
    *
    * PSI orientation matches q149: reference plays the first-half (p)
    * side, the accumulated stream the second-half (q) side; bins empty
    * on either side are dropped deterministically. */
  def driftMonitor(stream: DataFrame, reference: DataFrame, bounds: DataFrame,
      stateTarget: String, monitorTarget: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // stream-lifetime reference state, re-read every micro-batch — the
    // one place eager localCheckpoint at stream start is exactly right
    // (durability again belongs to the engine's replay, not Ckpt)
    val refC = reference.localCheckpoint(true)
    val boundsC = bounds.localCheckpoint(true)
    BatchStore.start(stream, checkpoint, Trigger.AvailableNow()) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val counts = batch
        .select($"event_type", floor($"value" * 100).cast("long").as("cv"))
        .join(broadcast(boundsC), "event_type")
        .select($"event_type", expr("((cv - lo) * 10) div (hi + 1 - lo)").as("bin"))
        .groupBy($"event_type", $"bin").agg(count(lit(1)).as("n"))
      val acc = BatchStore.read(batch.sparkSession, stateTarget,
          BatchStore.put(counts, stateTarget, batchId))
        .groupBy($"event_type", $"bin").agg(sum($"n").as("b"))
      // per-side totals over ALL bins (q149 computes na/nb BEFORE the
      // one-sided-bin drop; the inner join below IS that drop)
      val tot = refC.groupBy($"event_type").agg(sum($"n").as("na"))
        .join(acc.groupBy($"event_type").agg(sum($"b").as("nb")), "event_type")
      val joined = refC.withColumnRenamed("n", "a").join(acc, Seq("event_type", "bin"))
      BatchStore.put(joined.join(broadcast(tot), "event_type")
          .where($"a" > 0 && $"b" > 0)
          .withColumn("term_q",
            floor((($"a" / $"na" - $"b" / $"nb")
              * log(($"a" / $"na") / ($"b" / $"nb"))) * 1000000 + lit(1.0 / 3))
              .cast("long"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_bins"), sum($"term_q").as("psi_q")),
        monitorTarget, batchId)
    }
  }

  /** Streaming OOV ingest monitor — q234's vocabulary-generalization
    * audit run continuously on arriving documents against a FROZEN
    * training vocabulary: the live answer to "is the feed drifting off
    * the tokenizer's vocabulary", caught at ingest instead of at the
    * next training run. Per micro-batch the batch's token occurrences
    * probe the vocabulary; OOV occurrences accumulate in an additive
    * state table and the monitor appends a cumulative snapshot
    * (n_tokens, n_oov, n_oov_types, oov_ppm).
    *
    * Exactly-once on the state and the snapshot by the [[BatchStore]]
    * discipline. State is kind-tagged: 'total' rows carry the batch's
    * occurrence count, 'oov' rows carry per-TOKEN occurrence counts —
    * per-token because distinct-type counts are NOT additive across
    * batches (the same novel token arriving twice must count once); the
    * state stays bounded by the OOV vocabulary, which staying small is
    * precisely what the monitor watches.
    *
    * Scale: the vocabulary probe joins on the token key (the q234
    * rule — an induced vocabulary outgrows any broadcast); here the
    * frozen vocab is stream-lifetime localCheckpointed once
    * (durability belongs to the engine's replay, not Ckpt). */
  def oovMonitor(stream: DataFrame, trainDocs: DataFrame,
      stateTarget: String, monitorTarget: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val vocab = trainDocs
      .select(explode(graft.operators.TextOps.toks(col("text"))).as("tok"))
      .distinct().withColumn("__in", lit(1L))
      .localCheckpoint(true)
    BatchStore.start(stream, checkpoint, Trigger.AvailableNow()) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val probed = batch
        .select(explode(graft.operators.TextOps.toks($"text")).as("tok"))
        .join(vocab, Seq("tok"), "left")
        .localCheckpoint(true)
      val oovRows = probed.where($"__in".isNull)
        .groupBy($"tok").agg(count(lit(1)).as("c"))
        .select(lit("oov").as("kind"), $"tok", $"c")
      val totalRow = probed
        .agg(count(lit(1)).as("c"))
        .select(lit("total").as("kind"), lit(null).cast("string").as("tok"),
          $"c")
      val stored = BatchStore.put(oovRows.unionByName(totalRow), stateTarget, batchId)
      graft.operators.Ckpt.release(probed)
      val st = BatchStore.read(batch.sparkSession, stateTarget, stored)
      val tot = st.where($"kind" === "total").agg(sum($"c").as("n_tokens"))
      val oov = st.where($"kind" === "oov")
        .agg(coalesce(sum($"c"), lit(0L)).as("n_oov"),
          countDistinct($"tok").as("n_oov_types"))
      BatchStore.put(tot.crossJoin(oov)
          .select($"n_tokens", $"n_oov", $"n_oov_types",
            when($"n_tokens" > 0L, expr("(n_oov * 1000000) div n_tokens"))
              .otherwise(0L).as("oov_ppm")),
        monitorTarget, batchId)
    }
  }

  /** Streaming burst monitor — q221's episode census run continuously
    * (the live twin of [[driftMonitor]]'s PSI): each micro-batch's
    * events collapse to (event_type, hour, count) partial counts that
    * ACCUMULATE in an additive state table (hour counts merge by sum, so
    * the grid is exact however events split across batches), then the
    * full episode table — lower-median rate, 2-sigma threshold,
    * gaps-and-islands — recomputes on the accumulated grid and appends a
    * batch-stamped snapshot to the monitor table. The dashboard answer to
    * "is the feed bursting RIGHT NOW" without waiting for the nightly
    * batch pass. Shares `Timeseries.burstEpisodesOn` with the batch query
    * so stream == batch is structural, and StreamingSpec proves it on a
    * bounded stream. Exactly-once by the [[BatchStore]] discipline.
    *
    * State is the bounded hourly grid (|types| × |hours| rows), never
    * events — the same reduction the batch plan makes, held across
    * batches. */
  def burstMonitor(stream: DataFrame, stateTarget: String,
      monitorTarget: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(stream, checkpoint, Trigger.AvailableNow()) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val counts = batch
        .groupBy($"event_type", expr("unix_millis(ts) div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      val grid = BatchStore.read(batch.sparkSession, stateTarget,
          BatchStore.put(counts, stateTarget, batchId))
        .groupBy($"event_type", $"h").agg(sum($"n").as("c"))
      BatchStore.put(graft.operators.Timeseries.burstEpisodesOn(grid),
        monitorTarget, batchId)
    }

  /** Streaming split-conformal monitor — q141's distribution-free 90%
    * accept threshold maintained LIVE per event type: each micro-batch
    * collapses to (event_type, centi-quantized value, count) partial
    * counts that merge BY SUM into the additive state grid (exact under
    * any batch slicing, as in [[burstMonitor]]), then the
    * order-statistic threshold k = ceil(0.9(n+1)) recomputes on the
    * accumulated grid and appends a batch-stamped snapshot. The
    * production question it answers: "what score cutoff does a filter
    * deployed TODAY need for 90% coverage, given everything seen so
    * far" — recalibrated every batch instead of at the nightly pass.
    * Shares `Evaluate.conformalOn` with the batch query so stream ==
    * batch is structural; StreamingSpec proves it on a bounded stream.
    * Exactly-once by the [[BatchStore]] discipline.
    *
    * State is the bounded (|types| × |distinct centi-scores|) grid —
    * the mergeable-histogram reduction (q170's), never raw events. */
  def conformalMonitor(stream: DataFrame, stateTarget: String,
      monitorTarget: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(stream, checkpoint, Trigger.AvailableNow()) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val counts = batch
        .groupBy($"event_type",
          floor($"value" * 100d).cast("long").as("score_centi"))
        .agg(count(lit(1)).as("n"))
      val grid = BatchStore.read(batch.sparkSession, stateTarget,
          BatchStore.put(counts, stateTarget, batchId))
        .groupBy($"event_type", $"score_centi").agg(sum($"n").as("c"))
      BatchStore.put(graft.operators.Evaluate.conformalOn(grid.select(
            $"event_type".as("source"), $"score_centi".as("n_chars"), $"c"))
          .select($"source".as("event_type"), $"n", $"k",
            $"threshold".as("threshold_centi")),
        monitorTarget, batchId)
    }

  /** Streaming HLL vocabulary monitor — q292's cardinality sketch run
    * continuously over an arriving document stream: each micro-batch
    * computes its own (lang, register, rank) relation with the SHARED
    * `TextAnalysis.hllRegisters` (stream and batch can never hash
    * differently), lands it in a batch_id partition, and the snapshot
    * re-estimates from the max-merged accumulated registers. This is
    * the sketch the streaming state story is FOR: HLL registers merge
    * by max under ANY batch slicing — the state is ≤ 256·|langs| rows
    * per batch, never tokens — so the live estimate is exactly the
    * batch estimate over everything ingested so far.
    *
    * Exactly-once by the [[BatchStore]] discipline; the snapshot reads
    * the full store, and max-merge is idempotent to replayed registers
    * by construction (so compaction commutes with replay too).
    *
    * StreamingSpec proves the final snapshot equals q292's hll_est
    * column over the same corpus across a 3-batch split. */
  def hllMonitor(docs: DataFrame, stateTarget: String,
      monitorTarget: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(docs, checkpoint, Trigger.AvailableNow()) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val merged = BatchStore.read(batch.sparkSession, stateTarget,
          BatchStore.put(graft.operators.TextAnalysis.hllRegisters(batch),
            stateTarget, batchId))
        .groupBy($"lang", $"b").agg(max($"m").as("m"))
      BatchStore.put(graft.operators.TextAnalysis.hllEstimate(merged),
        monitorTarget, batchId)
    }

  /** Streaming count-min heavy-hitter monitor — q102's sketch run
    * continuously over the USER dimension (the abuse/bot screen a feed
    * pipeline keeps live): each micro-batch adds its partial d=4 × w=256
    * cell counts to the additive sketch state (a CMS is mergeable by
    * cell-wise SUM — exact under any batch slicing, unlike the
    * estimates it serves) and appends newly-seen user ids to the
    * candidate state; each snapshot scores all candidates seen so far
    * against the accumulated sketch and reports those whose CMS
    * estimate clears total/200. State is 1024 cells + id-only candidate
    * rows — never raw events; at production scale the candidate side is
    * each batch's local top-k, same shape. Exactly-once across both
    * state tables and the snapshot by the [[BatchStore]] discipline.
    *
    * StreamingSpec proves the final snapshot equals the one-pass batch
    * twin (same cell hash, same threshold) across a 3-batch split. */
  def cmsMonitor(stream: DataFrame, stateTarget: String,
      monitorTarget: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(stream, checkpoint, Trigger.AvailableNow()) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val spark = batch.sparkSession
      val cells = s"$stateTarget/cells"
      val users = s"$stateTarget/users"
      val cellsStored = BatchStore.put(batch
          .select($"user_id", explode(sequence(lit(0), lit(3))).as("j"))
          .withColumn("cell", cmsCell($"j", $"user_id"))
          .groupBy($"j", $"cell").agg(count(lit(1)).as("n")),
        cells, batchId)
      val usersStored = BatchStore.put(batch.select($"user_id").distinct(),
        users, batchId)
      val sketch = BatchStore.read(spark, cells, cellsStored)
        .groupBy($"j", $"cell").agg(sum($"n").as("c"))
      val total = sketch.where($"j" === 0)
        .agg(sum($"c").as("tot"))
      val cands = BatchStore.read(spark, users, usersStored)
        .select($"user_id").distinct()
        .select($"user_id", explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("cell", cmsCell($"j", $"user_id"))
      BatchStore.put(cands.join(broadcast(sketch), Seq("j", "cell"))
          .groupBy($"user_id").agg(min($"c").as("est"))
          .crossJoin(broadcast(total))
          .where($"est" * 200 >= $"tot")
          .select($"user_id", $"est", $"tot"),
        monitorTarget, batchId)
    }

  /** Row-j CMS cell of a user id — q102's md5 cell family on the user
    * salt; shared by the monitor and its batch twin in StreamingSpec. */
  private[graft] def cmsCell(j: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(j.cast("string"), lit("#cmsu:"),
      id.cast("string"))), 1, 8), 16, 10).cast("long") % 256
  case class HourCount(event_type: String, h: Long, x: Long)
  case class EwmaAlert(event_type: String, h: Long, x: Long,
      forecast_milli: Long, alert: Boolean)
  case class EwmaState(level: Double, lastH: Long)

  /** Streaming EWMA anomaly monitor — q180's forecast as a CONTINUOUS
    * stateful operator: keyed per event_type, the state is the running
    * α=½ level; each completed hourly count is scored against the
    * level BEFORE it is folded in (forecast = state at prediction
    * time, the leakage-free direction), and an alert fires when the
    * hour more than doubles the forecast (+5 events of slack so a
    * quiet stream can't alert on noise). Dyadic α keeps the level
    * arithmetic exact in double, so a stream processed in ANY
    * micro-batch slicing equals the batch fold bit-for-bit
    * (StreamingSpec proves stream==batch with a two-batch split at an
    * hour boundary).
    *
    * Input is the (type, hour, count) relation — in production the
    * output of windowedAgg — so state is one (level, lastH) pair per
    * event type: O(|types|), trivially sharded. Hours must arrive in
    * order per key (true once windowedAgg's watermark has closed the
    * hour). */
  def ewmaMonitor(hourly: Dataset[HourCount]): Dataset[EwmaAlert] = {
    import hourly.sparkSession.implicits._
    hourly.groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ: String, rows: Iterator[HourCount], state: GroupState[EwmaState]) =>
          // micro-batches hand rows in arbitrary order: restore hour
          // order before folding so any batch slicing gives one answer
          val sorted = rows.toArray.sortBy(_.h)
          var st = state.getOption.getOrElse(EwmaState(-1.0, Long.MinValue))
          val out = sorted.iterator.map { hc =>
            val (fc, alert) =
              if (st.level < 0) (hc.x.toDouble, false) // first hour seeds
              else (st.level, hc.x > 2 * st.level + 5)
            st = EwmaState(
              if (st.level < 0) hc.x.toDouble else (st.level + hc.x) / 2,
              hc.h)
            EwmaAlert(typ, hc.h, hc.x,
              math.floor(fc * 1000).toLong, alert)
          }.toVector
          state.update(st)
          out.iterator
      }
  }

  case class UserEvent(user_id: Long, event_id: Long, value: Double)
  case class UserStats(user_id: Long, n: Long, max_value: Double)

  /** Custom keyed state (the KeyValueGroupedDataset path): running
    * per-user count and max, emitted on every update. The pattern a
    * shot-registry upsert ("shots are added as referenced") needs. */
  def runningUserStats(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, Double.MinValue))
          val next = rows.foldLeft(prev)((s, e) =>
            UserStats(uid, s.n + 1, math.max(s.max_value, e.value)))
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Event payload codec (reference `fdf/factory.py:296-317`): shot id as
    * 4 little-endian base-256 bytes + utf8 payload, as one BinaryType
    * column. Pure column exprs (hex -> to_binary), so it runs identically
    * in batch and streaming and stays in codegen. */
  def encodeEvent(shot: org.apache.spark.sql.Column,
      payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val byteHex = (i: Int) =>
      lpad(hex(shiftright(shot.cast("long"), 8 * i) % 256), 2, "0")
    concat(
      to_binary(concat(byteHex(0), byteHex(1), byteHex(2), byteHex(3)), lit("hex")),
      payload.cast("binary"))
  }

  /** Inverse of encodeEvent: little-endian base-256 weighted sum of the
    * first 4 bytes (the `sum(bytes * 256**arange(4))` decode). */
  def decodeShot(event: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = hex(substring(event, 1, 4)) // 8 hex chars, big-endian per byte
    val byteAt = (i: Int) => conv(substring(h, 2 * i + 1, 2), 16, 10).cast("long")
    byteAt(0) + byteAt(1) * 256L + byteAt(2) * 65536L + byteAt(3) * 16777216L
  }

  /** Payload text after the 4-byte shot header. */
  def decodePayload(event: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(event, 5, Int.MaxValue).cast("string")


  /** wfevent semantics (reference `fdf/factory.py:307-320`): wait up to
    * timeoutMs for the first matching rows of a filtered event stream;
    * return them, or throw on timeout like the reference's FdfError
    * timeout path.
    *
    * The default AvailableNow trigger serves bounded (file/memory)
    * streams; pass a continuous trigger (e.g. `Trigger.ProcessingTime(0)`)
    * to wait on an UNBOUNDED source — the query keeps running micro-
    * batches and this blocks until a match lands or the deadline passes,
    * which is the reference's actual live-connection wait. The query is
    * always stopped on exit (fired, timed out, or failed). */
  def waitForEvent(spark: SparkSession, stream: DataFrame, eventType: String,
      timeoutMs: Long,
      trigger: Trigger = Trigger.AvailableNow()): Array[org.apache.spark.sql.Row] = {
    val name = s"wfevent_${System.nanoTime()}"
    val availableNow = trigger == Trigger.AvailableNow()
    val q = stream.where(col("event_type") === eventType)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(trigger).start()
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        // AvailableNow drains deterministically; a continuous trigger is
        // polled — processAllAvailable would block forever on a source
        // that never goes idle. Either way a FAILED query must surface
        // its real error now, not a TimeoutException after the full wait
        // (processAllAvailable rethrows; the polled path must check).
        if (availableNow) q.processAllAvailable()
        q.exception.foreach(throw _)
        rows = spark.table(name).collect()
        // a drained AvailableNow query can never produce another row —
        // once it has terminated with zero matches, waiting out the rest
        // of the timeout is pure dead time (a 60 s timeout on an empty
        // bounded stream would sleep the full 60 s). Fail fast instead.
        if (rows.isEmpty && availableNow) {
          q.awaitTermination(200)
          if (!q.isActive) {
            rows = spark.table(name).collect() // final drain-race check
            if (rows.isEmpty)
              throw new TimeoutException(
                s"no '$eventType' event in drained bounded stream " +
                  s"(timeout ${timeoutMs}ms not waited out)")
          }
        }
        if (rows.isEmpty) Thread.sleep(50)
      }
      if (rows.isEmpty) throw new TimeoutException(s"no '$eventType' event within ${timeoutMs}ms")
      rows
    } finally q.stop()
  }

  /** An unbounded demo event stream from the rate source: one event per
    * tick, event_type cycling over 5 values, and the event BYTES built
    * with the reference's codec (4-byte little-endian shot header + utf8
    * payload) so a wfevent round-trip can assert decode parity against a
    * stream that never ends. */
  def rateEventStream(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame = {
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("timestamp"),
        col("value").as("seq"),
        element_at(
          array(lit("click"), lit("view"), lit("purchase"), lit("login"), lit("logout")),
          (col("value") % 5 + 1).cast("int")).as("event_type"),
        encodeEvent((col("value") % 100000) + 140000, concat(lit("payload-"), col("value")))
          .as("event"))
  }
}
