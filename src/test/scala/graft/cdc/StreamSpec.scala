package graft.cdc

import graft.SparkSpec
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.GraftShim

/** Structured Streaming front: exactly-once across restart, mid-replay
  * kill, idempotent re-delivery (SURVEY.md §5.3). */
class StreamSpec extends SparkSpec {

  // (role, text, tool): the evolved `tool` column rides through every
  // streaming path, so state equality must include it
  private def finalStateOf(table: LakeTable): Map[(String, Int), (String, String, Option[String])] =
    table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)),
        (r.getString(2), r.getString(3), Option(r.getString(4)))))
      .toMap

  test("streaming apply equals batch oracle; restart from checkpoint is a no-op") {
    val cfg = ChangeLogGen.Config(numEvents = 12000, numConversations = 80, maxTurns = 16)
    val logDir = tmpDir("stream-log")
    val ckDir = tmpDir("stream-ck")
    val tableDir = tmpDir("stream-table")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 4)

    val table = new LakeTable(spark, tableDir, numBuckets = 4)
    table.create(Model.transcriptSchema)
    CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 16)

    val events = ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }
    val expect = Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text, e.tool)) }
    assert(finalStateOf(table) == expect)

    // restart: same checkpoint, no new data → no state change, no new version
    val v1 = table.currentSnapshot.version
    CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 16)
    assert(finalStateOf(table) == expect)
    assert(table.currentSnapshot.version == v1, "restart with no new data must not commit")
  }

  test("kill mid-replay, restart from checkpoint: final state correct, no duplicates") {
    val cfg = ChangeLogGen.Config(numEvents = 12000, numConversations = 80, maxTurns = 16)
    val logDir = tmpDir("kill-log")
    val ckDir = tmpDir("kill-ck")
    val tableDir = tmpDir("kill-table")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 6)

    val table = new LakeTable(spark, tableDir, numBuckets = 4)
    table.create(Model.transcriptSchema)

    // phase 1: stop the query after the first micro-batch completes (the
    // "kill": query terminated while most of the log is unprocessed)
    val q1 = CdcStream.start(spark, logDir, table, ckDir, maxFilesPerTrigger = 4)
    var waited = 0
    while (q1.recentProgress.length < 1 && waited < 300) { Thread.sleep(100); waited += 1 }
    q1.stop(); q1.awaitTermination()
    val midRows = table.read().count()

    // phase 2: restart from the same checkpoint; must resume, not redo
    CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 4)

    val events = ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }
    val expect = Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text, e.tool)) }
    val got = finalStateOf(table)
    assert(got == expect, s"mid=$midRows got=${got.size} expect=${expect.size}")
    // exactly-once: applied batch ids are unique (no double apply)
    val applied = table.currentSnapshot.appliedBatchIds
    assert(applied.size == applied.toSeq.distinct.size)
  }

  test("pipelined streaming apply equals batch oracle; async path engaged; nothing left pending") {
    val cfg = ChangeLogGen.Config(numEvents = 16000, numConversations = 80, maxTurns = 16)
    val logDir = tmpDir("pstream-log")
    val ckDir = tmpDir("pstream-ck")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 6)

    val table = new LakeTable(spark, tmpDir("pstream-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 4)
    val (q, pipeline) = CdcStream.startPipelined(spark, logDir, table, ckDir,
      maxFilesPerTrigger = 4, opts)
    q.awaitTermination()
    pipeline.close()
    assert(pipeline.pipelinedCount > 0,
      "async journal+write path must engage (inputFiles visible in foreachBatch)")

    val events = ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }
    val expect = Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text, e.tool)) }
    assert(finalStateOf(table) == expect, "pipelined streaming final state")

    // every source-log batch is committed — a recovery pass finds nothing
    assert(CdcPipeline.recoverPending(spark, table, ckDir, opts) == 0,
      "clean shutdown leaves no uncommitted source-log batches")

    // ingest metrics: one row per committed micro-batch, with counts from
    // the parquet footers of the committed files — EXACT per batch (equal
    // to the LWW'd valid-row count of that batch's source files), not an
    // accumulator estimate (north_star "ingest metrics each micro-batch")
    val metrics = table.ingestMetrics().collect()
      .map(r => r.getLong(r.fieldIndex("batch_id")) ->
        r.getLong(r.fieldIndex("events"))).toMap
    val sourceBatches = org.apache.spark.sql.GraftShim.sourceLogBatches(spark, ckDir, 0L)
    assert(sourceBatches.nonEmpty)
    sourceBatches.foreach { case (id, files) =>
      val expectRows = CdcApply.lwwDedup(
        CdcApply.prepareBatch(
          spark.read.schema(Model.changeEventSchema).parquet(files: _*)),
        Model.keyCols, 1).count()
      assert(metrics.get(id).contains(expectRows),
        s"batch $id metrics events=${metrics.get(id)} expected=$expectRows")
    }

    // restart over the same checkpoint: no new data → no state change
    val v1 = table.currentSnapshot.version
    CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 4, opts)
    assert(finalStateOf(table) == expect)
    assert(table.currentSnapshot.version == v1, "restart with no new data must not commit")
  }

  test("pipelined streaming: abort mid-stream (simulated crash) + restart is exactly-once") {
    val cfg = ChangeLogGen.Config(numEvents = 16000, numConversations = 80, maxTurns = 16)
    val logDir = tmpDir("pkill-log")
    val ckDir = tmpDir("pkill-ck")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 8)

    val table = new LakeTable(spark, tmpDir("pkill-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 4)

    // phase 1: stop after at least one micro-batch, then ABORT the pipeline
    // (no drain): batches whose foreachBatch returned but whose commit
    // never ran stay in the source log above the table watermark — the
    // crash window SS alone can't cover with an async sink
    val (q1, p1) = CdcStream.startPipelined(spark, logDir, table, ckDir,
      maxFilesPerTrigger = 2, opts)
    var waited = 0
    while (q1.recentProgress.length < 2 && waited < 600) { Thread.sleep(100); waited += 1 }
    // stop() cancels in-flight write jobs; the pipeline may fail the query
    // before the stop completes — either outcome IS the simulated crash
    try { q1.stop(); q1.awaitTermination() }
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    p1.abort()

    // phase 2: restart — recoverPending applies journaled-but-uncommitted
    // batches, then the stream resumes from the checkpoint
    CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 2, opts)

    val events = ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }
    val expect = Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text, e.tool)) }
    assert(finalStateOf(table) == expect, "state after abort + restart")
    val applied = table.currentSnapshot.appliedBatchIds
    assert(applied.size == applied.toSeq.distinct.size, "no double apply")
  }

  test("abort with a write in flight: late-landing files become orphan-GC-eligible") {
    val cfg = ChangeLogGen.Config(numEvents = 8000, numConversations = 40, maxTurns = 16)
    val logDir = tmpDir("abortw-log")
    val ckDir = tmpDir("abortw-ck")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 4)
    val table = new LakeTable(spark, tmpDir("abortw-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 100)

    // build the pipeline OURSELVES (not via startPipelined) so the write
    // hook is installed before the query can dispatch its first batch
    val pipeline = new CdcPipeline(spark, table, GraftShim.sourceLogReader(spark, ckDir), opts)
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var release = false
    pipeline.testWriteHook = () => {
      started.countDown()
      // survive the abort's interrupt: the point is a write that COMPLETES
      // after the abort's results sweep
      while (!release) { try Thread.sleep(20) catch { case _: InterruptedException => () } }
    }
    val q = spark.readStream.schema(Model.changeEventSchema)
      .option("maxFilesPerTrigger", 2).option("recursiveFileLookup", "true")
      .parquet(logDir)
      .writeStream.option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        pipeline.submit(batch, id); ()
      }
      .start()
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "a write must be in flight")
    pipeline.abort() // sweep runs while the write is still blocked
    release = true   // NOW the write lands — after the sweep
    try { q.stop(); q.awaitTermination() }
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    // the late completion must unregister its files (round-4 "what's wrong"
    // #1: they used to stay pending for the process lifetime, permanently
    // shielded from orphan GC)
    var waited = 0
    while (table.pendingFileCount > 0 && waited < 600) { Thread.sleep(100); waited += 1 }
    assert(table.pendingFileCount == 0,
      s"no pendingWriteFiles residue after abort (still ${table.pendingFileCount})")

    // and the restart recovers everything exactly-once as usual
    CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 2, opts)
    val events = ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }
    val expect = Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text, e.tool)) }
    assert(finalStateOf(table) == expect, "state after in-flight abort + restart")
  }

  import scala.jdk.CollectionConverters._

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.iterator().asScala.foreach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private def oracleOf(dfs: org.apache.spark.sql.DataFrame*)
      : Map[(String, Int), (String, String, Option[String])] = {
    val events = dfs.flatMap(_.collect().toSeq).map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6),
        if (r.schema.fieldNames.contains("tool")) Option(r.getString(r.fieldIndex("tool"))) else None)
    }
    Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text, e.tool)) }
  }

  test("ProcessingTime tail: data arriving WHILE the query runs is applied; kill during idle + restart is exactly-once") {
    val cfg = ChangeLogGen.Config(numEvents = 12000, numConversations = 60, maxTurns = 16)
    val staging = tmpDir("tail-staging")
    val liveDir = tmpDir("tail-live")
    val ckDir = tmpDir("tail-ck")
    val segments = ChangeLogGen.writeLog(spark, staging, cfg, numSegments = 6)
    // first half of the log is present at start; the rest lands LIVE
    segments.take(3).foreach(s =>
      copyDir(s, s"$liveDir/${java.nio.file.Paths.get(s).getFileName}"))

    val table = new LakeTable(spark, tmpDir("tail-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 100)
    val (q, pipeline) = CdcStream.startTailPipelined(spark, liveDir, table, ckDir,
      maxFilesPerTrigger = 4, intervalMs = 100L, opts = opts)
    try {
      def stateIs(want: Map[(String, Int), (String, String, Option[String])]): Boolean = {
        var waited = 0
        while (finalStateOf(table) != want && waited < 600) { Thread.sleep(100); waited += 1 }
        finalStateOf(table) == want
      }
      val firstHalf = oracleOf(segments.take(3).map(spark.read.parquet(_)): _*)
      assert(stateIs(firstHalf), "initial segments applied by the running tail")
      // now deliver the rest while the query is RUNNING — no restart
      segments.drop(3).foreach(s =>
        copyDir(s, s"$liveDir/${java.nio.file.Paths.get(s).getFileName}"))
      val full = oracleOf(segments.map(spark.read.parquet(_)): _*)
      assert(stateIs(full), "live-arriving segments applied by the same query")
    } finally {
      // kill DURING IDLE without draining (simulated crash while tailing)
      try { q.stop(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      pipeline.abort()
    }
    // restart the tail over the same checkpoint: exactly-once, state intact
    val r = CdcStream.runTail(spark, liveDir, table, ckDir, maxFilesPerTrigger = 4,
      intervalMs = 100L, idleStopMs = 1500L, opts = opts)
    assert(r.restarts == 0)
    assert(finalStateOf(table) == oracleOf(segments.map(spark.read.parquet(_)): _*),
      "state after idle kill + tail restart")
    val applied = table.currentSnapshot.appliedBatchIds
    assert(applied.size == applied.toSeq.distinct.size, "no double apply")
  }

  test("tail refresh: a badly-sized maxFilesPerTrigger is re-suggested and the query restarted in-session") {
    val cfg = ChangeLogGen.Config(numEvents = 8000, numConversations = 40, maxTurns = 16)
    val logDir = tmpDir("tailref-log")
    val ckDir = tmpDir("tailref-ck")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 4, filesPerSegment = 8)
    val table = new LakeTable(spark, tmpDir("tailref-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 100)
    // start at mft=1000 (absurd for ~250-row files targeting 1000 rows per
    // batch); the refresh must converge it and restart the query mid-session
    val r = CdcStream.runTail(spark, logDir, table, ckDir, maxFilesPerTrigger = 1000,
      intervalMs = 100L, idleStopMs = 2500L, refreshEveryMs = 300L,
      refreshTargetEvents = 1000L, opts = opts)
    assert(r.restarts >= 1, "sizing refresh must have restarted the query")
    assert(finalStateOf(table) ==
      oracleOf(spark.read.schema(Model.changeEventSchema)
        .option("recursiveFileLookup", "true").parquet(logDir)),
      "state correct across in-session restarts")
  }

  test("suggestMaxFilesPerTrigger sizes micro-batches from footer row counts") {
    val cfg = ChangeLogGen.Config(numEvents = 8000, numConversations = 40, maxTurns = 16)
    val logDir = tmpDir("mft-log")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 2, filesPerSegment = 8)
    // ~8000 events in ~16-24 files → ~330-500 rows/file; target 2000 rows
    // per batch → a handful of files per trigger, never the degenerate 1
    val mft = CdcStream.suggestMaxFilesPerTrigger(spark, logDir, targetEvents = 2000)
    assert(mft >= 3 && mft <= 8, s"expected ~2000/rowsPerFile files, got $mft")
    // empty dir falls back to a sane default
    assert(CdcStream.suggestMaxFilesPerTrigger(spark, tmpDir("mft-empty")) == 8)
  }

  test("windowed ingest metrics: watermarked event-time aggregation") {
    val cfg = ChangeLogGen.Config(numEvents = 5000, numConversations = 50, maxTurns = 16)
    val logDir = tmpDir("metrics-log")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 2)
    val m = IngestMetrics.collectOnce(spark, logDir, windowLength = "10 minutes")
    assert(m.columns.toSet == Set("window", "op", "events", "lsn_min", "lsn_max", "approx_convs"))
    val total = m.agg(org.apache.spark.sql.functions.sum("events")).head.getLong(0)
    assert(total == cfg.numEvents, s"every event counted once (got $total)")
    val ops = m.select("op").distinct().collect().map(_.getString(0)).toSet
    assert(ops == Set("I", "U", "D"))
  }

  test("replayed micro-batch (same batchId) is a no-op — foreachBatch retry safety") {
    import spark.implicits._
    val tableDir = tmpDir("retry-table")
    val table = new LakeTable(spark, tableDir, numBuckets = 2)
    table.create(Model.transcriptSchema)
    def batch = Seq((1L, "I", "c1", 0, "user", "hello"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    assert(CdcApply.applyBatch(table, batch, 7L) == 1L)
    val v = table.currentSnapshot.version
    assert(CdcApply.applyBatch(table, batch, 7L) == 0L) // replay of same batch id
    assert(table.currentSnapshot.version == v)
    assert(table.read().count() == 1)
  }
}
