package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Events

/** Streaming semantics checks: the streaming transforms must agree with
  * their batch twins over the same bounded input (run with AvailableNow
  * against the events parquet), the custom-state path must fold correctly,
  * and the event codec must roundtrip. */
class StreamingSpec extends SparkSpec {

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming windowed agg equals batch q21 on bounded input") {
    import spark.implicits._
    val stream = Events.readEventStream(spark, sfDir)
    runToMemory(Events.windowedAgg(stream), "win_agg", "complete")
    val streamed = spark.table("win_agg")
    val batch = SparkEntry.queries("q21_tumbling_window")(spark, sfDir)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming session windows match batch q22 session stats") {
    import spark.implicits._
    val stream = Events.readEventStream(spark, sfDir)
    runToMemory(Events.sessionAgg(stream), "sess_agg", "complete")
    val streamed = spark.table("sess_agg")
      .select($"user_id", $"session_start_ms", $"n_events")
    val batch = SparkEntry.queries("q22_sessionize")(spark, sfDir)
      .select($"user_id", $"session_start_ms", $"n_events")
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming keep-latest state equals batch q71 on bounded input") {
    import spark.implicits._
    val stream = Events.readEventStream(spark, sfDir)
    runToMemory(Events.latestState(stream), "latest_state", "complete")
    val streamed = spark.table("latest_state")
    val batch = SparkEntry.queries("q71_keep_latest")(spark, sfDir)
      .drop("n_superseded")
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("foreachBatch keep-latest sink: parquet target equals the q71 batch twin") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_latest_sink_${System.nanoTime()}")
    val stream = Events.readEventStream(spark, sfDir)
    val q = Events.latestStateSink(stream,
      new java.io.File(base, "table").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val table = spark.read.parquet(new java.io.File(base, "table").getPath)
    val batch = SparkEntry.queries("q71_keep_latest")(spark, sfDir)
      .drop("n_superseded")
    assert(table.count() > 0)
    assert(table.except(batch).count() === 0)
    assert(batch.except(table).count() === 0)
  }

  test("flatMapGroupsWithState keeps running per-user stats") {
    import spark.implicits._
    val stream = Events.readEventStream(spark, sfDir)
      .select($"user_id", $"event_id", $"value").as[Events.UserEvent]
    runToMemory(Events.runningUserStats(stream).toDF(), "user_stats", "update")
    // last update per user must equal the batch count/max
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n".desc)
    val finalStats = spark.table("user_stats")
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("bn"), max($"value").as("bmax"))
    val joined = finalStats.join(batch, "user_id")
    assert(joined.where($"n" =!= $"bn" || $"max_value" =!= $"bmax").count() === 0)
  }

  test("stream-stream interval join matches the batch interval join") {
    import spark.implicits._
    val stream = Events.readEventStream(spark, sfDir)
    runToMemory(Events.attributedJoin(stream, "view", "click", 30),
      "attr_join", "append")
    val streamed = spark.table("attr_join")
    val ev = graft.sources.Tables.events(spark, sfDir)
    val cause = ev.where($"event_type" === "view")
      .select($"user_id".as("c_user"), $"event_id".as("cause_id"), $"ts".as("c_ts"))
    val probe = ev.where($"event_type" === "click")
      .select($"user_id".as("p_user"), $"event_id".as("probe_id"), $"ts".as("p_ts"))
    val batch = probe.join(cause,
        $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES"))
      .select($"p_user".as("user_id"), $"probe_id", $"cause_id",
        unix_millis($"p_ts").as("probe_ms"), unix_millis($"c_ts").as("cause_ms"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("stream-stream interval join: crash replay + checkpoint restart equals the batch twin") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_attrcrash_${System.nanoTime()}")
    val ev = graft.sources.Tables.events(spark, sfDir)
    val srcDir = new java.io.File(base, "arriving").getPath
    // stage TIME-ORDERED terciles, one file per micro-batch (mod-time
    // order = processing order): an event-time-unordered split would
    // make the 1 h watermark legitimately drop late rows — that's
    // watermark semantics, not the replay behavior under test
    val ts = ev.select(unix_millis($"ts").as("ms")).orderBy($"ms")
      .collect().map(_.getLong(0))
    val cuts = Seq(ts((ts.length / 3).min(ts.length - 1)),
      ts((2 * ts.length / 3).min(ts.length - 1)))
    Seq(
      ev.where(unix_millis($"ts") < cuts(0)),
      ev.where(unix_millis($"ts") >= cuts(0) && unix_millis($"ts") < cuts(1)),
      ev.where(unix_millis($"ts") >= cuts(1))
    ).foreach { part =>
      part.coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(1100) // separate file mod times: source orders by them
    }
    val outDir = new java.io.File(base, "joined").getPath
    def start(ckptDir: String) = Events.attributedJoin(
        spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        "view", "click", 30)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    val ckpt1 = new java.io.File(base, "ckpt").getPath
    val q1 = start(ckpt1); q1.processAllAvailable(); q1.stop()
    // manifest-aware read (the file sink's _spark_metadata is the
    // exactly-once ledger — a replayed batch must not mint extra rows)
    val before = spark.read.parquet(outDir).count()
    val commits = new java.io.File(ckpt1, "commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).map(_.getName.toLong)
    val lastBatch = commits.max
    assert(lastBatch >= 2, s"expected >=3 micro-batches, got ${lastBatch + 1}")
    val ckpt2 = new java.io.File(base, "ckpt2")
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    copyDir(new java.io.File(ckpt1), ckpt2)
    assert(new java.io.File(ckpt2, s"commits/$lastBatch").delete())
    new java.io.File(ckpt2, s"commits/.$lastBatch.crc").delete()
    val q2 = start(ckpt2.getPath); q2.processAllAvailable(); q2.stop()
    val streamed = spark.read.parquet(outDir)
    // no duplicate rows from the replay (ids are unique per event)
    assert(streamed.count() === before)
    assert(streamed.select($"probe_id", $"cause_id").distinct().count() === before)
    // and the recovered output still equals the batch interval join
    val cause = ev.where($"event_type" === "view")
      .select($"user_id".as("c_user"), $"event_id".as("cause_id"), $"ts".as("c_ts"))
    val probe = ev.where($"event_type" === "click")
      .select($"user_id".as("p_user"), $"event_id".as("probe_id"), $"ts".as("p_ts"))
    val batch = probe.join(cause,
        $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES"))
      .select($"p_user".as("user_id"), $"probe_id", $"cause_id",
        unix_millis($"p_ts").as("probe_ms"), unix_millis($"c_ts").as("cause_ms"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming dedup keeps one event per (user, type)") {
    import spark.implicits._
    val stream = Events.readEventStream(spark, sfDir)
    runToMemory(Events.dedupStream(stream), "dedup_stream", "append")
    val streamed = spark.table("dedup_stream")
    val nKeys = graft.sources.Tables.events(spark, sfDir)
      .select($"user_id", $"event_type").distinct().count()
    assert(streamed.count() === nKeys)
    assert(streamed.select($"user_id", $"event_type").distinct().count() === nKeys)
  }

  test("event codec roundtrips shot + payload") {
    import spark.implicits._
    val df = Seq((141000L, "plasma current ramp"), (0L, ""), (16777217L, "x"))
      .toDF("shot", "payload")
      .withColumn("event", Events.encodeEvent($"shot", $"payload"))
      .withColumn("shot2", Events.decodeShot($"event"))
      .withColumn("payload2", Events.decodePayload($"event"))
    assert(df.where($"shot" =!= $"shot2").count() === 0)
    assert(df.where($"payload" =!= $"payload2").count() === 0)
  }

  test("waitForEvent returns matching events within timeout and times out otherwise") {
    import spark.implicits._
    val stream = Events.readEventStream(spark, sfDir)
    val rows = Events.waitForEvent(spark, stream, "click", timeoutMs = 60000)
    assert(rows.nonEmpty)
    intercept[java.util.concurrent.TimeoutException] {
      Events.waitForEvent(spark, stream, "no_such_event_type", timeoutMs = 3000)
    }
  }

  test("wfevent against an UNBOUNDED rate stream: fired and timed-out paths, decode parity") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // a stream that never ends: AvailableNow would be wrong here — the
    // wait must poll live micro-batches, match, and stop the query
    val live = Events.rateEventStream(spark, rowsPerSecond = 200)
      .withColumn("shot", Events.decodeShot($"event"))
      .withColumn("payload", Events.decodePayload($"event"))
    val rows = Events.waitForEvent(spark, live, "purchase",
      timeoutMs = 60000, trigger = Trigger.ProcessingTime(0))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val seq = r.getAs[Long]("seq")
      // event_type cycles value % 5: 'purchase' is residue 2
      assert(seq % 5 === 2)
      // byte-codec parity against the live stream (factory.py:316-319
      // semantics): 4-byte little-endian shot header + utf8 payload
      assert(r.getAs[Long]("shot") === (seq % 100000) + 140000)
      assert(r.getAs[String]("payload") === s"payload-$seq")
    }
    // timed-out path on the same unbounded source: the type never occurs,
    // the deadline must fire while micro-batches keep arriving, and the
    // query must be stopped (no active query leak)
    val before = spark.streams.active.length
    intercept[java.util.concurrent.TimeoutException] {
      Events.waitForEvent(spark, live.where($"seq" < 0), "purchase",
        timeoutMs = 2500, trigger = Trigger.ProcessingTime(0))
    }
    assert(spark.streams.active.length === before)
  }

  test("dedup ingest gate: streamed delta partitions into admitted/rejected matching q109") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ingest_gate_${System.nanoTime()}")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val corpus = docs.where($"doc_id" % 5 =!= 0)
    // stage the "arriving" batch as a file-stream source directory
    val deltaDir = new java.io.File(base, "arriving").getPath
    docs.where($"doc_id" % 5 === 0).write.parquet(deltaDir)
    val stream = spark.readStream
      .schema(docs.schema)
      .parquet(deltaDir)
    val q = Events.dedupIngestGate(stream, corpus,
      new java.io.File(base, "admitted").getPath,
      new java.io.File(base, "rejected").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(new java.io.File(base, "admitted").getPath)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val rejected = spark.read.parquet(new java.io.File(base, "rejected").getPath)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val deltaIds = docs.where($"doc_id" % 5 === 0)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val batchRejects = SparkEntry.queries("q109_delta_dedup")(spark, sfDir)
      .select($"new_doc").distinct().collect().map(_.getLong(0)).toSet
    assert(admitted.intersect(rejected).isEmpty)
    assert(admitted.union(rejected) == deltaIds)
    assert(rejected == batchRejects)
  }

  test("dedup ingest gate off a TCP SOCKET source: wire-fed delta matches q109") {
    // the broker-shaped ingest path (SURVEY §2.8 maps wfevent to "Kafka
    // or file stream"): docs arrive over a real network wire — a local
    // TCP server plays the broker (public deps only; no Kafka jars in
    // this container), the socket source consumes `value` lines, and
    // the SAME dedupIngestGate partitions them into admitted/rejected.
    // Proves the gate is source-agnostic: file-source parity (previous
    // test) + wire-source parity (this one) bracket any broker.
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_socket_gate_${System.nanoTime()}")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val corpus = docs.where($"doc_id" % 5 =!= 0)
    val delta = docs.where($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").collect()
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val conn = new java.util.concurrent.atomic.AtomicReference[java.net.Socket]()
    val feeder = new Thread(() => {
      val s = server.accept()
      conn.set(s)
      val out = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"))
      // tab-separated frames; testdata text is tab/newline-free (and
      // toks() splits on single spaces, so framing never alters tokens)
      delta.foreach(r => out.println(s"${r.getLong(0)}\t${r.getString(1)}"))
      out.flush() // keep the connection OPEN: socket-source EOF = failure
    })
    feeder.setDaemon(true)
    feeder.start()
    val stream = spark.readStream.format("socket")
      .option("host", server.getInetAddress.getHostAddress)
      .option("port", server.getLocalPort).load()
      .select(split($"value", "\t", 2).as("p"))
      .select($"p".getItem(0).cast("long").as("doc_id"),
        $"p".getItem(1).as("text"))
    val q = Events.dedupIngestGate(stream, corpus,
      new java.io.File(base, "admitted").getPath,
      new java.io.File(base, "rejected").getPath,
      new java.io.File(base, "ckpt").getPath,
      trigger = Trigger.ProcessingTime(0))
    try {
      // wait until every wire-fed doc has landed on one side of the gate
      def landed(): Set[Long] = {
        def ids(sub: String): Set[Long] = {
          val d = new java.io.File(base, sub)
          if (!d.exists()) Set.empty
          else spark.read.parquet(d.getPath)
            .select($"doc_id").collect().map(_.getLong(0)).toSet
        }
        ids("admitted") ++ ids("rejected")
      }
      val deltaIds = delta.map(_.getLong(0)).toSet
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (landed() != deltaIds && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val admitted = spark.read
        .parquet(new java.io.File(base, "admitted").getPath)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      val rejected = spark.read
        .parquet(new java.io.File(base, "rejected").getPath)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      val batchRejects = SparkEntry.queries("q109_delta_dedup")(spark, sfDir)
        .select($"new_doc").distinct().collect().map(_.getLong(0)).toSet
      assert(admitted.intersect(rejected).isEmpty)
      assert(admitted.union(rejected) === deltaIds)
      assert(rejected === batchRejects)
    } finally {
      q.stop()
      Option(conn.get).foreach(_.close())
      server.close()
    }
  }

  test("dedup ingest gate: crash replay — admitted/rejected partitions overwritten, no duplicates") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_gatecrash_${System.nanoTime()}")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val corpus = docs.where($"doc_id" % 5 =!= 0)
    val deltaDir = new java.io.File(base, "arriving").getPath
    // 3 files -> 3 micro-batches under maxFilesPerTrigger=1
    docs.where($"doc_id" % 5 === 0).repartition(3).write.parquet(deltaDir)
    def start(ckptDir: String) = Events.dedupIngestGate(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(deltaDir),
      corpus,
      new java.io.File(base, "admitted").getPath,
      new java.io.File(base, "rejected").getPath, ckptDir)
    val ckpt1 = new java.io.File(base, "ckpt").getPath
    val q1 = start(ckpt1); q1.processAllAvailable(); q1.stop()
    val admPath = new java.io.File(base, "admitted").getPath
    // materialize the pre-crash census NOW — the restart rewrites the
    // replayed batch_id partition in place under a lazy reader's feet
    val beforeByBatch = spark.read.parquet(admPath)
      .groupBy($"batch_id").count().collect()
      .map(r => r.getAs[Number]("batch_id").longValue -> r.getLong(1)).toMap
    val beforeAdmitted = spark.read.parquet(admPath)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val lastBatch = beforeByBatch.keys.max
    assert(lastBatch >= 2, s"expected >=3 micro-batches, got ${lastBatch + 1}")
    // crash AFTER the last batch's sink writes but BEFORE its checkpoint
    // commit: restart on a checkpoint copy with commits/<last> removed —
    // the engine replays that batch with the same batch_id, and the
    // dynamic-partition overwrite must absorb it without duplicates
    val ckpt2 = new java.io.File(base, "ckpt2")
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    copyDir(new java.io.File(ckpt1), ckpt2)
    val lostCommit = new java.io.File(ckpt2, s"commits/$lastBatch")
    assert(lostCommit.exists(), s"checkpoint commit file missing: $lostCommit")
    assert(lostCommit.delete())
    new java.io.File(ckpt2, s"commits/.$lastBatch.crc").delete()
    val q2 = start(ckpt2.getPath); q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(admPath)
      .groupBy($"batch_id").count().collect()
      .map(r => r.getAs[Number]("batch_id").longValue -> r.getLong(1)).toMap
      === beforeByBatch,
      "replayed batch appended duplicate admitted rows")
    assert(spark.read.parquet(admPath)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === beforeAdmitted)
    // and the recovered gate still partitions exactly like the q109 twin
    val admitted = spark.read.parquet(admPath)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val rejected = spark.read
      .parquet(new java.io.File(base, "rejected").getPath)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val deltaIds = docs.where($"doc_id" % 5 === 0)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val batchRejects = SparkEntry.queries("q109_delta_dedup")(spark, sfDir)
      .select($"new_doc").distinct().collect().map(_.getLong(0)).toSet
    assert(admitted.intersect(rejected).isEmpty)
    assert(admitted.union(rejected) === deltaIds)
    assert(rejected === batchRejects)
  }

  test("streaming HLL vocab monitor: final snapshot equals the q292 batch estimate") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hll_monitor_${System.nanoTime()}")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val srcDir = new java.io.File(base, "arriving").getPath
    docs.repartition(3).write.parquet(srcDir)
    val q = Events.hllMonitor(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val monitor = spark.read.parquet(new java.io.File(base, "monitor").getPath)
    assert(monitor.select($"batch_id").distinct().count() >= 2)
    val lastBatch = monitor.agg(max($"batch_id").cast("long"))
      .collect().head.getLong(0)
    val got = monitor.where($"batch_id" === lastBatch)
      .select($"lang", $"hll_est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch twin: the register-merge is max, so any batch slicing must
    // land on the one-pass q292 estimate exactly
    val expect = SparkEntry.queries("q292_hll_distinct")(spark, sfDir)
      .select($"lang", $"hll_est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(expect.nonEmpty)
    // and the state is registers, never tokens: bounded row count
    val state = spark.read.parquet(new java.io.File(base, "state").getPath)
    assert(state.count() <= 256L * expect.size * (lastBatch + 1))
  }

  test("streaming OOV monitor: final snapshot equals the batch probe over the same delta") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_oov_monitor_${System.nanoTime()}")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val train = docs.where($"doc_id" % 5 =!= 0)
    val deltaDir = new java.io.File(base, "arriving").getPath
    docs.where($"doc_id" % 5 === 0).write.parquet(deltaDir)
    val stream = spark.readStream.schema(docs.schema).parquet(deltaDir)
    val q = Events.oovMonitor(stream, train,
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val last = spark.read.parquet(new java.io.File(base, "monitor").getPath)
      .orderBy($"batch_id".desc).limit(1).collect().head
    // batch twin: same tokenization, same vocab probe, computed directly
    val vocab = train.select(explode(
      graft.operators.TextOps.toks($"text")).as("tok")).distinct()
      .withColumn("__in", lit(1L))
    val expect = docs.where($"doc_id" % 5 === 0)
      .select(explode(graft.operators.TextOps.toks($"text")).as("tok"))
      .join(vocab, Seq("tok"), "left")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"__in".isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when($"__in".isNull, $"tok")).as("n_oov_types"))
      .collect().head
    assert(last.getAs[Long]("n_tokens") === expect.getAs[Long]("n_tokens"))
    assert(last.getAs[Long]("n_oov") === expect.getAs[Long]("n_oov"))
    assert(last.getAs[Long]("n_oov_types") === expect.getAs[Long]("n_oov_types"))
    assert(last.getAs[Long]("oov_ppm") ===
      expect.getAs[Long]("n_oov") * 1000000L / expect.getAs[Long]("n_tokens"))
  }

  test("streaming drift monitor: final PSI snapshot equals the batch q149 screen") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_drift_${System.nanoTime()}")
    val mid = 1705363200000L
    val ev = graft.sources.Tables.events(spark, sfDir)
    // bounds over the FULL feed (same as q149), reference = first half
    val binsrc = ev.select($"event_type",
      floor($"value" * 100).cast("long").as("cv"), unix_millis($"ts").as("ms"))
    val bounds = binsrc.groupBy($"event_type")
      .agg(min($"cv").as("lo"), max($"cv").as("hi"))
    val reference = binsrc.where($"ms" < mid)
      .join(bounds, "event_type")
      .select($"event_type", expr("((cv - lo) * 10) div (hi + 1 - lo)").as("bin"))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("n"))
    // stage the second half as a multi-file stream (3 micro-batches)
    val srcDir = new java.io.File(base, "arriving").getPath
    ev.where(unix_millis($"ts") >= mid).repartition(3)
      .write.parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = Events.driftMonitor(stream, reference, bounds,
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val monitor = spark.read.parquet(new java.io.File(base, "monitor").getPath)
    // snapshots accumulate: one row set per micro-batch
    val nBatches = monitor.select($"batch_id").distinct().count()
    assert(nBatches >= 2, s"expected multiple micro-batches, got $nBatches")
    val lastBatch = monitor.agg(max($"batch_id").cast("long")).collect().head.getLong(0)
    val got = monitor.where($"batch_id" === lastBatch)
      .select($"event_type", $"n_bins", $"psi_q").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expect = SparkEntry.queries("q149_psi_drift")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
  }

  test("streaming burst monitor: final episode snapshot equals the batch q221 census") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_burst_${System.nanoTime()}")
    val ev = graft.sources.Tables.events(spark, sfDir)
    // stage the whole feed as a multi-file stream (3 micro-batches); the
    // state table must merge same-hour counts split across batches
    val srcDir = new java.io.File(base, "arriving").getPath
    ev.repartition(3).write.parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = Events.burstMonitor(stream,
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val monitor = spark.read.parquet(new java.io.File(base, "monitor").getPath)
    val nBatches = monitor.select($"batch_id").distinct().count()
    assert(nBatches >= 2, s"expected multiple micro-batches, got $nBatches")
    val lastBatch = monitor.agg(max($"batch_id").cast("long")).collect().head.getLong(0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val got = monitor.where($"batch_id" === lastBatch)
      .select($"event_type", $"start_h", $"end_h", $"n_hours", $"peak_c",
        $"total_c").collect().map(key).toSet
    val expect = graft.operators.Timeseries.burstEpisodes(spark, sfDir)
      .collect().map(key).toSet
    assert(got == expect)
  }

  test("streaming EWMA monitor equals the batch fold across a micro-batch split") {
    import spark.implicits._
    import Events.HourCount
    // hourly counts from the real stream, split into two file batches
    // at an hour boundary — state must carry the level across batches
    val hourly = graft.sources.Tables.events(spark, sfDir)
      .select($"event_type", expr("unix_millis(ts) div 3600000").as("h"))
      .groupBy($"event_type", $"h").agg(count(lit(1)).as("x"))
      .as[HourCount]
    val hs = hourly.agg(min($"h"), max($"h")).head()
    val hMid = (hs.getLong(0) + hs.getLong(1)) / 2
    val base = java.nio.file.Files.createTempDirectory("ewma_mon").toFile.getPath
    val srcDir = new java.io.File(base, "src").getPath
    // two files, ordered by hour range -> two micro-batches in order
    hourly.where($"h" < hMid).coalesce(1)
      .write.parquet(new java.io.File(srcDir, "part=0").getPath)
    hourly.where($"h" >= hMid).coalesce(1)
      .write.parquet(new java.io.File(srcDir, "part=1").getPath)
    val stream = spark.readStream.schema(hourly.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/part=*")
      .as[HourCount]
    val q = Events.ewmaMonitor(stream).toDF()
      .writeStream.format("memory").queryName("ewma_mon")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ewma_mon").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(3), r.getBoolean(4)))
      .toMap
    // batch twin: the same stateful fold over the bounded input
    val batch = Events.ewmaMonitor(hourly).collect()
      .map(a => (a.event_type, a.h) -> (a.forecast_milli, a.alert)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming conformal monitor: final snapshot equals the batch order statistic") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_conf_${System.nanoTime()}")
    val ev = graft.sources.Tables.events(spark, sfDir)
    // 3 micro-batches; same-score counts split across batches must
    // merge by sum before the order statistic is taken
    val srcDir = new java.io.File(base, "arriving").getPath
    ev.repartition(3).write.parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = Events.conformalMonitor(stream,
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val monitor = spark.read.parquet(new java.io.File(base, "monitor").getPath)
    val nBatches = monitor.select($"batch_id").distinct().count()
    assert(nBatches >= 2, s"expected multiple micro-batches, got $nBatches")
    val lastBatch = monitor.agg(max($"batch_id").cast("long")).collect().head.getLong(0)
    val got = monitor.where($"batch_id" === lastBatch)
      .select($"event_type", $"n", $"k", $"threshold_centi").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // batch twin: identical grid + shared conformalOn core in one pass
    val expect = graft.operators.Evaluate.conformalOn(
        ev.groupBy($"event_type".as("source"),
            floor($"value" * 100d).cast("long").as("n_chars"))
          .agg(count(lit(1)).as("c")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expect)
    assert(expect.nonEmpty)
    // 90% coverage: at least k of n scores sit at or below the threshold
    got.values.foreach { case (n, k, _) => assert(k >= (9 * (n + 1) + 9) / 10 - 1 && k <= n) }
  }

  test("streaming conformal monitor: crash replay + checkpoint restart — snapshot unchanged, no duplicate rows") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_confcrash_${System.nanoTime()}")
    val ev = graft.sources.Tables.events(spark, sfDir)
    val srcDir = new java.io.File(base, "arriving").getPath
    ev.repartition(3).write.parquet(srcDir)
    def start(ckptDir: String) = Events.conformalMonitor(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath, ckptDir)
    val ckpt1 = new java.io.File(base, "ckpt").getPath
    val q1 = start(ckpt1); q1.processAllAvailable(); q1.stop()
    val monPath = new java.io.File(base, "monitor").getPath
    // materialize the pre-crash census NOW — the restart below rewrites
    // the batch_id=<last> partition in place, so a lazy `before` frame
    // would re-list deleted part files
    val beforeByBatch = spark.read.parquet(monPath)
      .groupBy($"batch_id").count().collect()
      .map(r => r.getAs[Number]("batch_id").longValue -> r.getLong(1)).toMap
    val lastBatch = beforeByBatch.keys.max
    assert(lastBatch >= 2, s"expected >=3 micro-batches, got ${lastBatch + 1}")
    // simulate a crash AFTER the last batch's sink writes but BEFORE its
    // checkpoint commit landed: restart a "new driver" on a copy of the
    // checkpoint with commits/<last> missing. The engine replays that
    // batch with the SAME batch_id and offsets — the foreachBatch body
    // must absorb the replay idempotently (state AND snapshot are
    // dynamic-partition overwrites keyed on batch_id)
    val ckpt2 = new java.io.File(base, "ckpt2")
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    copyDir(new java.io.File(ckpt1), ckpt2)
    val lostCommit = new java.io.File(ckpt2, s"commits/$lastBatch")
    assert(lostCommit.exists(), s"checkpoint commit file missing: $lostCommit")
    assert(lostCommit.delete())
    // the local FS keeps a hidden Hadoop checksum twin — drop it too or
    // the replayed commit's rename trips over the stale .crc
    new java.io.File(ckpt2, s"commits/.$lastBatch.crc").delete()
    val q2 = start(ckpt2.getPath); q2.processAllAvailable(); q2.stop()
    val after = spark.read.parquet(monPath)
    // the replayed batch must OVERWRITE its partition, not append to it:
    // per-batch row counts are unchanged
    assert(after.groupBy($"batch_id").count().collect()
      .map(r => r.getAs[Number]("batch_id").longValue -> r.getLong(1)).toMap
      === beforeByBatch,
      "replayed batch appended duplicate snapshot rows")
    // and the recovered final snapshot still equals the batch twin
    val got = after.where($"batch_id" === lastBatch)
      .select($"event_type", $"n", $"k", $"threshold_centi").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val expect = graft.operators.Evaluate.conformalOn(
        ev.groupBy($"event_type".as("source"),
            floor($"value" * 100d).cast("long").as("n_chars"))
          .agg(count(lit(1)).as("c")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("streaming CMS monitor: final heavy-hitter snapshot equals the batch sketch") {
    import spark.implicits._
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_cms_${System.nanoTime()}")
    val ev = graft.sources.Tables.events(spark, sfDir)
    val srcDir = new java.io.File(base, "arriving").getPath
    ev.repartition(3).write.parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = Events.cmsMonitor(stream,
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath,
      new java.io.File(base, "ckpt").getPath)
    q.processAllAvailable()
    q.stop()
    val monitor = spark.read.parquet(new java.io.File(base, "monitor").getPath)
    val nBatches = monitor.select($"batch_id").distinct().count()
    assert(nBatches >= 2, s"expected multiple micro-batches, got $nBatches")
    val lastBatch = monitor.agg(max($"batch_id").cast("long")).collect().head.getLong(0)
    val got = monitor.where($"batch_id" === lastBatch)
      .select($"user_id", $"est").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch twin: the same d=4 x w=256 sketch built in one pass
    val cells = ev
      .select($"user_id", explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("cell", Events.cmsCell($"j", $"user_id"))
    val sketch = cells.groupBy($"j", $"cell").agg(count(lit(1)).as("c"))
    val tot = sketch.where($"j" === 0).agg(sum($"c")).collect().head.getLong(0)
    val expect = cells.distinct()
      .join(sketch, Seq("j", "cell"))
      .groupBy($"user_id").agg(min($"c").as("est"))
      .where($"est" * 200 >= tot)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // one-sided error: estimates dominate true counts
    val trueCnt = ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (u, est) => assert(est >= trueCnt(u)) }
  }

  test("streaming CMS monitor: crash replay across its TWO state tables stays idempotent") {
    import spark.implicits._
    // the cms body writes cells AND candidate ids AND the snapshot —
    // three writes per batch; a replayed batch must rewrite all three
    // partitions, or the sketch double-counts (cells are summed!) and
    // every estimate silently inflates
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_cmscrash_${System.nanoTime()}")
    val ev = graft.sources.Tables.events(spark, sfDir)
    val srcDir = new java.io.File(base, "arriving").getPath
    ev.repartition(3).write.parquet(srcDir)
    def start(ckptDir: String) = Events.cmsMonitor(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      new java.io.File(base, "state").getPath,
      new java.io.File(base, "monitor").getPath, ckptDir)
    val ckpt1 = new java.io.File(base, "ckpt").getPath
    val q1 = start(ckpt1); q1.processAllAvailable(); q1.stop()
    val monPath = new java.io.File(base, "monitor").getPath
    val beforeLast = spark.read.parquet(monPath)
      .agg(max($"batch_id").cast("long")).collect().head.getLong(0)
    val ckpt2 = new java.io.File(base, "ckpt2")
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    copyDir(new java.io.File(ckpt1), ckpt2)
    assert(new java.io.File(ckpt2, s"commits/$beforeLast").delete())
    new java.io.File(ckpt2, s"commits/.$beforeLast.crc").delete()
    val q2 = start(ckpt2.getPath); q2.processAllAvailable(); q2.stop()
    // estimates after the replay still equal the one-pass batch sketch —
    // if the replayed batch had double-appended its cell counts, the
    // min-over-rows estimates would inflate and this set would differ
    val got = spark.read.parquet(monPath)
      .where($"batch_id" === beforeLast)
      .select($"user_id", $"est").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cells = ev
      .select($"user_id", explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("cell", Events.cmsCell($"j", $"user_id"))
    val sketch = cells.groupBy($"j", $"cell").agg(count(lit(1)).as("c"))
    val tot = sketch.where($"j" === 0).agg(sum($"c")).collect().head.getLong(0)
    val expect = cells.distinct()
      .join(sketch, Seq("j", "cell"))
      .groupBy($"user_id").agg(min($"c").as("est"))
      .where($"est" * 200 >= tot)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("embedding novelty gate: planted dups rejected, stream==batch core, crash replay idempotent") {
    import spark.implicits._
    import graft.streaming.Events
    import graft.operators.Similarity
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_embgate_${System.nanoTime()}")
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val wave1 = emb.where($"vec_id" % 2 === 0)
    // wave 2: the odd vectors plus EXACT copies of 20 admitted vectors
    // under fresh ids — the planted duplicates the gate must catch
    val copies = emb.where($"vec_id" % 2 === 0 && $"vec_id" < 40)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val wave2 = emb.where($"vec_id" % 2 === 1).unionByName(copies)
    val codebook: Array[(Long, Array[Double])] =
      emb.where($"vec_id" < 8).as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (id, a) => (id, a.map(_.toDouble)) }
    // batch twin FIRST: wave-2 verdicts against wave-1's code store —
    // also picks the threshold (reject every planted copy)
    val store1 = Similarity.encodeAgainst(wave1, codebook)
    val v2 = Similarity.adcNoveltyVerdicts(wave2, store1, codebook,
        maxCosPpm = Long.MaxValue)
      .select($"vec_id", $"max_cos_ppm")
      .as[(Long, Long)].collect().toMap
    val copyScores = v2.filter(_._1 >= 1000000L).values
    assert(copyScores.size === 20 && copyScores.min > 0,
      s"planted copies scored nonpositive: ${copyScores.min}")
    val thr = copyScores.min // reject all copies (novel odd vecs near it too — fine)
    val storeDir = new java.io.File(base, "store").getPath
    val snapDir = new java.io.File(base, "snap").getPath
    val arriving = new java.io.File(base, "arriving").getPath
    val ckpt = new java.io.File(base, "ckpt")
    def ingest(part: org.apache.spark.sql.DataFrame, ckptDir: String): Unit = {
      part.write.mode("append").parquet(arriving)
      val q = Events.embeddingNoveltyGate(
        spark.readStream.schema(emb.schema).parquet(arriving),
        codebook, storeDir, snapDir, ckptDir, maxCosPpm = thr)
      q.processAllAvailable(); q.stop()
    }
    ingest(wave1, ckpt.getPath) // batch 0: empty store, all admitted
    ingest(wave2, ckpt.getPath) // batch 1: screened against wave 1
    val got = spark.read.parquet(snapDir)
      .select($"vec_id", $"max_cos_ppm", $"admit", $"batch_id".cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    // wave 1: no candidates -> sentinel score, all admitted, batch 0
    wave1.select($"vec_id").as[Long].collect().foreach { id =>
      assert(got(id) === ((-2000000L, true, 0L)), s"vec $id: ${got(id)}")
    }
    // wave 2: stream verdicts == the batch core, copies all rejected
    wave2.select($"vec_id").as[Long].collect().foreach { id =>
      assert(got(id)._1 === v2(id), s"vec $id stream/batch diverge")
      assert(got(id)._2 === (v2(id) < thr))
      assert(got(id)._3 === 1L)
    }
    assert((1000000L until 1000040L by 2).forall(id => !got(id)._2),
      "a planted duplicate was admitted")
    // store holds codes for exactly the admitted ids
    val storeIds = spark.read.parquet(storeDir)
      .select($"vec_id").distinct().as[Long].collect().toSet
    assert(storeIds === got.filter(_._2._2).keySet)
    // crash replay: drop batch 1's commit on a checkpoint copy; the
    // replayed batch must rewrite its partitions byte-identically
    val ckpt2 = new java.io.File(base, "ckpt2")
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    copyDir(ckpt, ckpt2)
    assert(new java.io.File(ckpt2, "commits/1").delete())
    new java.io.File(ckpt2, "commits/.1.crc").delete()
    val q2 = Events.embeddingNoveltyGate(
      spark.readStream.schema(emb.schema).parquet(arriving),
      codebook, storeDir, snapDir, ckpt2.getPath, maxCosPpm = thr)
    q2.processAllAvailable(); q2.stop()
    val replayed = spark.read.parquet(snapDir)
      .select($"vec_id", $"max_cos_ppm", $"admit", $"batch_id".cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(replayed === got, "replay changed the snapshot")
    assert(spark.read.parquet(storeDir)
      .select($"vec_id").distinct().as[Long].collect().toSet === storeIds)
  }

  test("chunk novelty gate: verdicts match the batch chunker across two sequential ingests") {
    import spark.implicits._
    import graft.streaming.Events
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_chunk_gate_${System.nanoTime()}")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val first = docs.where($"doc_id" % 5 =!= 0)
    val second = docs.where($"doc_id" % 5 === 0)
    val store = new java.io.File(base, "store").getPath
    val snap = new java.io.File(base, "snap").getPath
    // ONE logical stream across a stop/restart: same source dir, same
    // checkpoint — the file source's seen-files log hands the second
    // wave to the resumed query as batch_id 1 (also the gate's
    // restart-recovery proof)
    val arriving = new java.io.File(base, "arriving").getPath
    val ckpt = new java.io.File(base, "ckpt").getPath
    def ingest(part: org.apache.spark.sql.DataFrame): Unit = {
      part.write.mode("append").parquet(arriving)
      val q = Events.chunkNoveltyGate(
        spark.readStream.schema(docs.schema).parquet(arriving),
        store, snap, ckpt)
      q.processAllAvailable(); q.stop()
    }
    ingest(first)  // batch 0: empty store, everything is novel
    ingest(second) // batch 1: probed against the first wave's chunks
    val got = spark.read.parquet(snap)
      // partition-column type is inferred (int) on read-back — cast
      .select($"doc_id", $"novelty_ppm", $"batch_id".cast("long")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // batch twin: wave-1 docs are 100% novel; wave-2 novelty counts
    // tokens of chunks absent from wave 1's distinct chunk set
    val c1 = graft.operators.Dedup.cdcChunkRelation(first, Seq.empty)
    val c2 = graft.operators.Dedup.cdcChunkRelation(second, Seq.empty)
    val expect2 = c2.join(c1.select($"chash").distinct()
        .withColumn("seen", lit(1L)), Seq("chash"), "left")
      .groupBy($"doc_id")
      .agg(sum($"len").as("n"),
        sum(when($"seen".isNull, $"len").otherwise(0L)).as("nv"))
      .select($"doc_id", expr("(nv * 1000000) div n").as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    first.select($"doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(got(id) === (1000000L, 0L))
    }
    second.select($"doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(got(id)._1 === expect2(id))
      assert(got(id)._2 === 1L) // the resumed query's second batch
    }
    // the synthetic corpus shares template chunks across docs: the
    // second wave must see SOME non-novel mass or the probe is dead
    assert(second.count() > 0 && expect2.values.exists(_ < 1000000L))
  }

  /** A fresh scratch directory for one streaming run. */
  private def scratch(tag: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_${tag}_${System.nanoTime()}")

  /** Ingest `waves` into `gate` in order: each wave is appended to one
    * source directory and drained by a restart on one checkpoint, so the
    * waves are consecutive micro-batches of one logical stream. */
  private def ingestWaves(base: java.io.File, schema: org.apache.spark.sql.types.StructType,
      waves: Seq[org.apache.spark.sql.DataFrame])(
      gate: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery)
      : Unit = {
    val arriving = new java.io.File(base, "arriving").getPath
    val ckpt = new java.io.File(base, "ckpt").getPath
    waves.foreach { w =>
      w.write.mode("append").parquet(arriving)
      val q = gate(spark.readStream.schema(schema).parquet(arriving), ckpt)
      q.processAllAvailable(); q.stop()
    }
  }

  test("chunk novelty gate: an empty first wave changes no later verdict") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val first = docs.where($"doc_id" % 5 =!= 0)
    val second = docs.where($"doc_id" % 5 === 0)
    // doc_id -> (novelty_ppm, admit, batch_id) over every ingested wave
    def verdicts(waves: Seq[org.apache.spark.sql.DataFrame]) = {
      val base = scratch("chunk_empty")
      val snap = new java.io.File(base, "snap").getPath
      ingestWaves(base, docs.schema, waves) { (stream, ckpt) =>
        Events.chunkNoveltyGate(stream, new java.io.File(base, "store").getPath, snap, ckpt)
      }
      spark.read.parquet(snap)
        .select($"doc_id", $"novelty_ppm", $"admit", $"batch_id".cast("long")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    }
    val plain = verdicts(Seq(first, second))
    val afterEmpty = verdicts(Seq(docs.limit(0), first, second))
    // the same verdicts, each one micro-batch later
    assert(afterEmpty === plain.map { case (id, (p, a, b)) => id -> ((p, a, b + 1)) })
    assert(plain.size.toLong === docs.count())
    assert(plain.values.exists(_._1 < 1000000L), "the store probe saw nothing")
  }

  test("embedding novelty gate: an empty first wave changes no later verdict") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val codebook: Array[(Long, Array[Double])] =
      emb.where($"vec_id" < 8).as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (id, a) => (id, a.map(_.toDouble)) }
    val wave1 = emb.where($"vec_id" % 2 === 0)
    val wave2 = emb.where($"vec_id" % 2 === 1).unionByName(
      emb.where($"vec_id" % 2 === 0 && $"vec_id" < 40)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    // vec_id -> (max_cos_ppm, admit, batch_id) over every ingested wave
    def verdicts(waves: Seq[org.apache.spark.sql.DataFrame]) = {
      val base = scratch("emb_empty")
      val snap = new java.io.File(base, "snap").getPath
      ingestWaves(base, emb.schema, waves) { (stream, ckpt) =>
        Events.embeddingNoveltyGate(stream, codebook,
          new java.io.File(base, "store").getPath, snap, ckpt)
      }
      spark.read.parquet(snap)
        .select($"vec_id", $"max_cos_ppm", $"admit", $"batch_id".cast("long")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    }
    val plain = verdicts(Seq(wave1, wave2))
    val afterEmpty = verdicts(Seq(emb.limit(0), wave1, wave2))
    assert(afterEmpty === plain.map { case (id, (c, a, b)) => id -> ((c, a, b + 1)) })
    assert(plain.size.toLong === wave1.count() + wave2.count())
    // wave 2 was screened against a non-empty store
    assert(plain.values.exists { case (c, _, b) => b == 1L && c != -2000000L })
  }

  test("burst, CMS and conformal monitors: an empty first file leaves the final snapshot unchanged") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sfDir)
    type Monitor = (org.apache.spark.sql.DataFrame, String, String, String) =>
      org.apache.spark.sql.streaming.StreamingQuery
    val monitors: Seq[(String, Monitor)] = Seq(
      "burst" -> Events.burstMonitor _,
      "cms" -> Events.cmsMonitor _,
      "conformal" -> Events.conformalMonitor _)
    // (last batch_id, rows of its snapshot) of one run over the events,
    // optionally behind a zero-row file that is its first micro-batch
    def lastSnapshot(monitor: Monitor, emptyFirst: Boolean) = {
      val base = scratch("monitor_empty")
      val arriving = new java.io.File(base, "arriving")
      if (emptyFirst) {
        ev.limit(0).write.parquet(arriving.getPath)
        // the file source takes the oldest file first
        arriving.listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(_.setLastModified(System.currentTimeMillis() - 60000L))
      }
      ev.coalesce(1).write.mode("append").parquet(arriving.getPath)
      val q = monitor(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(arriving.getPath),
        new java.io.File(base, "state").getPath,
        new java.io.File(base, "monitor").getPath,
        new java.io.File(base, "ckpt").getPath)
      q.processAllAvailable(); q.stop()
      val snap = spark.read.parquet(new java.io.File(base, "monitor").getPath)
        .withColumn("batch_id", $"batch_id".cast("long"))
      val last = snap.agg(max($"batch_id")).collect().head.getLong(0)
      (last, snap.where($"batch_id" === last).drop("batch_id").collect().toSet)
    }
    monitors.foreach { case (name, monitor) =>
      val (plainLast, plain) = lastSnapshot(monitor, emptyFirst = false)
      val (emptyLast, afterEmpty) = lastSnapshot(monitor, emptyFirst = true)
      assert(plain.nonEmpty, name)
      assert(emptyLast === plainLast + 1, name)
      assert(afterEmpty === plain, name)
    }
  }
}
