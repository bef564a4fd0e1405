package graft.cdc

import graft.SparkSpec
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.GraftShim

/** Deterministic fault injection at the crash/interrupt windows of the
  * pipelined streaming apply (round-5 verdict item 1: the abort-mid-stream
  * exactly-once spec failed intermittently; these specs pin each suspect
  * window one at a time instead of hoping the race fires).
  *
  * Windows covered:
  *  1. thread interrupt landing INSIDE [[LakeTable]]'s commit critical
  *     section (what `shutdownNow` during [[CdcPipeline.abort]] delivers) —
  *     the commit must complete atomically, not wedge the table;
  *  2. recovery over an UNREADABLE source-log journal while the checkpoint
  *     exists — must fail loudly, not "recover nothing";
  *  3. recovery after the file source COMPACTED its log (compactInterval=2)
  *     — journaled batches must still be recoverable through compact files;
  *  4. abort with `pipelineDepth` writes held in flight, then restart —
  *     the deterministic form of the StreamSpec abort race;
  *  5. a crash right after a commit, then a restart as a NEW table
  *     instance — lineage must still hold every committed batch once. */
class CrashWindowSpec extends SparkSpec {

  private def finalStateOf(table: LakeTable): Map[(String, Int), (String, String)] =
    table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3))))
      .toMap

  test("commit is interrupt-atomic: an interrupt at the CAS-link/pointer-flip window neither aborts nor wedges") {
    import org.apache.spark.sql.functions._
    val table = new LakeTable(spark, tmpDir("intr-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    def batch(lsn: Long) = {
      import spark.implicits._
      Seq((lsn, "I", s"c$lsn", 0, "user", s"t$lsn"))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
        .withColumn("ts", current_timestamp())
    }
    // deliver the interrupt INSIDE commit, between snapshot CAS-link and
    // pointer flip — exactly where a committer-pool shutdownNow can land
    table.testMidCommitHook = () => Thread.currentThread().interrupt()
    try {
      val applied = CdcApply.applyBatch(table, batch(1L), 0L,
        CdcApply.Options(mergeOnRead = true))
      // the interrupt must NOT have aborted the commit midway...
      assert(Thread.interrupted(), "interrupt flag must survive the commit")
      assert(applied == 1L)
      assert(table.currentSnapshot.version == 1L, "commit completed atomically")
      assert(table.currentSnapshot.applied(0L))
    } finally {
      table.testMidCommitHook = () => ()
      Thread.interrupted() // clear any residue for later tests
    }
    // ...and the table must accept the NEXT commit (no dangling v1 wedge)
    assert(CdcApply.applyBatch(table, batch(2L), 1L,
      CdcApply.Options(mergeOnRead = true)) == 1L)
    assert(table.currentSnapshot.version == 2L)
    assert(table.read().count() == 2)
  }

  test("recovery fails loudly when the journal exists but is unreadable (no silent 'recovering nothing')") {
    val table = new LakeTable(spark, tmpDir("loud-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    val ck = tmpDir("loud-ck")
    val srcLog = java.nio.file.Paths.get(ck, "sources", "0")
    java.nio.file.Files.createDirectories(srcLog)
    // a journal entry that exists but cannot be parsed — the shape of a
    // corrupt/truncated checkpoint after a crash
    java.nio.file.Files.writeString(srcLog.resolve("0"), "not-a-manifest")
    val e = intercept[IllegalStateException] {
      CdcPipeline.recoverPending(spark, table, ck,
        CdcApply.Options(mergeOnRead = true, pipelineDepth = 4))
    }
    assert(e.getMessage.contains("unreadable"))
    // a FRESH checkpoint (no sources dir at all) still recovers nothing,
    // quietly — the legitimate first-start path
    assert(CdcPipeline.recoverPending(spark, table, tmpDir("fresh-ck"),
      CdcApply.Options(mergeOnRead = true, pipelineDepth = 4)) == 0)
  }

  test("recovery reads journaled batches through source-log COMPACTION (compactInterval=2) after an abort") {
    val prev = spark.conf.getOption("spark.sql.streaming.fileSource.log.compactInterval")
    spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "2")
    try {
      val cfg = ChangeLogGen.Config(numEvents = 8000, numConversations = 40, maxTurns = 16)
      val logDir = tmpDir("clog-log")
      val ckDir = tmpDir("clog-ck")
      ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 8)
      val table = new LakeTable(spark, tmpDir("clog-table"), numBuckets = 2)
      table.create(Model.transcriptSchema)
      val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 100)

      // run enough micro-batches that the source log compacts several times
      // (mft=1 → ≥8 batches at compactInterval 2), then ABORT mid-flight
      val (q, p) = CdcStream.startPipelined(spark, logDir, table, ckDir,
        maxFilesPerTrigger = 1, opts)
      var waited = 0
      while (q.recentProgress.length < 5 && waited < 600) { Thread.sleep(100); waited += 1 }
      try { q.stop(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      p.abort()

      // restart: recovery must read the journal THROUGH compact files and
      // the final state must equal the batch oracle
      CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 1, opts)
      val events = ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
        Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
          r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
      }
      val expect = Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text)) }
      assert(finalStateOf(table) == expect, "state after compacted-journal recovery")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", v)
        case None => spark.conf.unset("spark.sql.streaming.fileSource.log.compactInterval")
      }
    }
  }

  test("abort with pipelineDepth writes HELD in flight, then restart: exactly-once, deterministic") {
    val cfg = ChangeLogGen.Config(numEvents = 8000, numConversations = 40, maxTurns = 16)
    val logDir = tmpDir("held-log")
    val ckDir = tmpDir("held-ck")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 8)
    val table = new LakeTable(spark, tmpDir("held-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 4)

    // hold EVERY async write in flight: depth batches journal + dispatch,
    // none commits — the widest possible uncommitted window at the abort
    val pipeline = new CdcPipeline(spark, table, GraftShim.sourceLogReader(spark, ckDir), opts)
    val held = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var release = false
    pipeline.testWriteHook = () => {
      held.incrementAndGet()
      while (!release) { try Thread.sleep(10) catch { case _: InterruptedException => () } }
    }
    val q = spark.readStream.schema(Model.changeEventSchema)
      .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
      .parquet(logDir)
      .writeStream.option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        pipeline.submit(batch, id); ()
      }
      .start()
    var waited = 0
    while (held.get() < opts.pipelineDepth && waited < 600) { Thread.sleep(100); waited += 1 }
    assert(held.get() >= opts.pipelineDepth, s"writes in flight: ${held.get()}")
    pipeline.abort() // crash with the full pipeline depth uncommitted
    release = true
    try { q.stop(); q.awaitTermination() }
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }

    assert(table.currentSnapshot.appliedWatermark == -1L,
      "no batch may commit after an abort with all writes held")

    // restart: recovery + resumed stream must reach the exact oracle state
    CdcStream.runOnce(spark, logDir, table, ckDir, maxFilesPerTrigger = 1, opts)
    val events = ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }
    val expect = Oracle.finalState(events).map { case (k, e) => k -> ((e.role, e.text)) }
    if (finalStateOf(table) != expect) {
      // forensic dump: which journaled batch went missing or applied empty
      val metrics = table.ingestMetrics().collect()
        .map(r => r.getLong(r.fieldIndex("batch_id")) ->
          r.getLong(r.fieldIndex("events"))).toMap
      val journal = org.apache.spark.sql.GraftShim.sourceLogBatches(spark, ckDir, 0L)
      val lines = journal.map { case (id, fs) =>
        val expectRows = CdcApply.lwwDedup(
          CdcApply.prepareBatch(
            spark.read.schema(Model.changeEventSchema).parquet(fs: _*)),
          Model.keyCols, 1).count()
        s"batch $id files=${fs.size} expectRows=$expectRows metricRows=${metrics.get(id)}"
      }
      fail(s"state after held-writes abort + restart diverged; " +
        s"watermark=${table.currentSnapshot.appliedWatermark} " +
        s"exceptions=${table.currentSnapshot.appliedExceptions}\n" +
        lines.mkString("\n"))
    }
    val applied = table.currentSnapshot.appliedBatchIds
    assert(applied.size == applied.toSeq.distinct.size, "no double apply")
  }

  test("lineage is exact across crash and restart: a new table instance sees every committed batch once") {
    val cfg = ChangeLogGen.Config(numEvents = 8000, numConversations = 40, maxTurns = 16)
    val logDir = tmpDir("lincrash-log")
    val ckDir = tmpDir("lincrash-ck")
    val root = tmpDir("lincrash-table")
    ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 4, filesPerSegment = 4)
    val table = new LakeTable(spark, root, numBuckets = 2)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4, compactEvery = 100)

    // crash right after the third commit: the hook runs on the committer
    // inside that commit, which completes (commits are interrupt-immune);
    // the abort leaves nothing queued to commit after it
    val pipeline = new CdcPipeline(spark, table, GraftShim.sourceLogReader(spark, ckDir), opts)
    val commits = new java.util.concurrent.atomic.AtomicInteger()
    table.testMidCommitHook = () => if (commits.incrementAndGet() == 3) pipeline.abort()
    val q = spark.readStream.schema(Model.changeEventSchema)
      .option("maxFilesPerTrigger", 2).option("recursiveFileLookup", "true")
      .parquet(logDir)
      .writeStream.option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        pipeline.submit(batch, id); ()
      }
      .start()
    var waited = 0
    while (table.currentVersion < 3 && waited < 600) { Thread.sleep(100); waited += 1 }
    try { q.stop(); q.awaitTermination() }
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    assert(table.currentVersion == 3L, "exactly the three pre-crash commits landed")

    // restart as a new process would: a new table instance on the same root
    val reopened = new LakeTable(spark, root, numBuckets = 2)
    CdcStream.runOnce(spark, logDir, reopened, ckDir, maxFilesPerTrigger = 2, opts)
    val journal = GraftShim.sourceLogBatches(spark, ckDir, 0L)
    assert(journal.size > 3 && reopened.currentSnapshot.appliedWatermark == journal.last._1)
    val expected = journal.map { case (id, files) =>
      id -> (if (files.isEmpty) 0L else CdcApply.lwwDedup(CdcApply.prepareBatch(
        spark.read.schema(Model.changeEventSchema).parquet(files: _*)), Model.keyCols, 1).count())
    }.filter(_._2 > 0).toMap
    val metrics = reopened.ingestMetrics().collect()
      .map(r => r.getLong(r.fieldIndex("batch_id")) -> r.getLong(r.fieldIndex("events")))
    assert(metrics.length == expected.size && metrics.toMap == expected,
      s"ingest metrics ${metrics.toSeq.sorted} expected ${expected.toSeq.sorted}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "lineage")))
  }
}
