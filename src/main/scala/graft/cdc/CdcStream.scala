package graft.cdc

import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Structured Streaming front of the CDC engine: tail a directory of log
 * segments (the sandbox stand-in for a binlog/Kafka topic) and apply each
 * micro-batch through [[CdcApply]] into a [[LakeTable]].
 *
 * Exactly-once: the file source's offsets live in the checkpoint; the sink
 * is idempotent because [[LakeTable.merge]] records applied `batchId`s in
 * the snapshot. On restart after a crash, Structured Streaming re-runs the
 * last uncommitted batch with the SAME batchId — the merge no-ops if the
 * snapshot already contains it, so state is never double-applied
 * (SURVEY.md §7 "exactly-once with foreachBatch").
 *
 * Schema note: the stream reads with the FULL (post-evolution) event
 * schema; pre-evolution segment files simply read `tool` as null, while
 * the lake table itself evolves additively on first sight of the column
 * (LakeTable.merge). maxFilesPerTrigger bounds micro-batch size — the
 * backpressure knob standing in for the reference's bounded queues
 * (simple_executor_threaded.cpp:26-69).
 *
 * Pipelined mode (`opts.mergeOnRead && opts.pipelineDepth > 1`): batches
 * flow through a [[CdcPipeline]], the same write/ordered-commit engine
 * merge-on-read batch replay uses. Its batch file lists come from the
 * checkpoint's file-source manifest, which doubles as the recovery journal
 * for exactly-once across kill/restart (see CdcPipeline's scaladoc).
 */
object CdcStream {

  private def source(spark: SparkSession, logDir: String,
      maxFilesPerTrigger: Int): org.apache.spark.sql.DataFrame =
    spark.readStream
      .schema(Model.changeEventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .parquet(logDir)

  def start(
      spark: SparkSession,
      logDir: String,
      table: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      opts: CdcApply.Options = CdcApply.Options()): StreamingQuery =
    source(spark, logDir, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        CdcApply.applyBatch(table, batch, batchId, opts)
        ()
      }
      .start()

  /** Start the stream with the pipelined sink. Recovery of any
    * journaled-but-uncommitted batches from a previous (killed) run happens
    * here, before the query starts. The caller MUST call
    * `pipeline.close()` after the query terminates (drains ordered
    * commits) — [[runOnce]] does. */
  def startPipelined(
      spark: SparkSession,
      logDir: String,
      table: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      opts: CdcApply.Options = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4))
      : (StreamingQuery, CdcPipeline) =
    startWithTrigger(spark, logDir, table, checkpointDir, maxFilesPerTrigger,
      Trigger.AvailableNow(), opts)

  /** Shared wiring of the pipelined sink (recovery → pipeline → query);
    * AvailableNow and ProcessingTime entry points differ only in trigger. */
  private def startWithTrigger(
      spark: SparkSession,
      logDir: String,
      table: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int,
      trigger: Trigger,
      opts: CdcApply.Options): (StreamingQuery, CdcPipeline) = {
    CdcPipeline.recoverPending(spark, table, checkpointDir, opts)
    val pipeline = new CdcPipeline(spark, table,
      GraftShim.sourceLogReader(spark, checkpointDir), opts)
    val q = source(spark, logDir, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        pipeline.submit(batch, batchId)
        ()
      }
      .start()
    (q, pipeline)
  }

  /** Result of a [[runTail]] session: how many times the query was
    * restarted with a re-suggested `maxFilesPerTrigger`, the epoch-ms of
    * the last data-bearing micro-batch, and the MEASURED dead window —
    * the time between the last observed activity and the idle-stop
    * decision (idle threshold + poll/trigger-flicker overshoot). A finite
    * replay benchmark subtracts `deadMs` (not the nominal idleStopMs) for
    * honest throughput: commits draining during the dead window stay
    * counted whenever they outlast it, because close() blocks after it. */
  final case class TailRun(restarts: Int, lastDataMs: Long, deadMs: Long)

  /** Start the pipelined sink on a CONTINUOUS ProcessingTime trigger — the
    * binlog-tail deployment of the north_star (round-4 verdict item 2:
    * every prior streaming path was run-to-completion AvailableNow).
    * Segments arriving while the query runs are picked up at the next
    * trigger; exactly-once across kill/restart is unchanged (same
    * CdcPipeline source-log recovery journal — recovery runs here, before
    * the query starts). Caller owns `pipeline.close()` after stopping the
    * query; [[runTail]] wraps the whole lifecycle. */
  def startTailPipelined(
      spark: SparkSession,
      logDir: String,
      table: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      intervalMs: Long = 500L,
      opts: CdcApply.Options = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4))
      : (StreamingQuery, CdcPipeline) =
    startWithTrigger(spark, logDir, table, checkpointDir, maxFilesPerTrigger,
      Trigger.ProcessingTime(intervalMs), opts)

  /** Drive a continuous tail session. Returns once the source has produced
    * no data for `idleStopMs` (pass 0 to run until the thread is
    * interrupted — the months-long deployment; tests and replay benchmarks
    * use a finite idle stop). Each stop/restart drains the pipeline
    * (ordered commits complete) before the next query starts, so the
    * session is exactly-once end to end.
    *
    * `refreshEveryMs > 0`: every such interval the [[suggestMaxFilesPerTrigger]]
    * sizing helper is re-consulted against `refreshTargetEvents`; when the
    * suggestion differs from the running value by ≥2× the query is
    * RESTARTED with it — checkpointed offsets make the restart seamless.
    * This applies the round-4 operational rule (micro-batches must grow
    * with table state or fixed cost dominates) DURING the tail, instead of
    * waiting for an operator to notice throughput decay. */
  def runTail(spark: SparkSession, logDir: String, table: LakeTable,
      checkpointDir: String, maxFilesPerTrigger: Int = 8,
      intervalMs: Long = 500L, idleStopMs: Long = 5000L,
      refreshEveryMs: Long = 0L, refreshTargetEvents: Long = 10000000L,
      opts: CdcApply.Options = CdcApply.Options(mergeOnRead = true, pipelineDepth = 4))
      : TailRun = {
    var mft = math.max(1, maxFilesPerTrigger)
    var restarts = 0
    var lastData = System.currentTimeMillis()
    var lastBatch = -1L
    var done = false
    var sawCancel = false
    var deadMs = 0L
    while (!done) {
      val (q, pipeline) = startTailPipelined(spark, logDir, table, checkpointDir,
        mft, intervalMs, opts)
      var restart = false
      try {
        var lastRefresh = System.currentTimeMillis()
        // also watch query health: a dead query must not leave the monitor
        // sleeping forever in the idleStopMs = 0 (months-long) mode — on
        // termination the finally's awaitTermination rethrows any real
        // failure; an external clean stop ends the session
        while (!done && !restart && q.isActive) {
          Thread.sleep(math.min(250L, math.max(50L, intervalMs)))
          val now = System.currentTimeMillis()
          val p = q.lastProgress
          val st = q.status
          if (p != null && p.numInputRows > 0 && p.batchId != lastBatch) {
            lastBatch = p.batchId
            lastData = now
          } else if (p == null || st.isDataAvailable || st.isTriggerActive) {
            // still starting up (no progress yet) or a backlog is being
            // processed — NOT idle, or the idle window would expire while
            // the first batch is still executing and the tail would quit
            // before applying anything
            lastData = now
          }
          if (idleStopMs > 0 && now - lastData >= idleStopMs) {
            done = true
            deadMs = now - lastData
          }
          if (!done && refreshEveryMs > 0 && now - lastRefresh >= refreshEveryMs) {
            lastRefresh = now
            val sug = suggestMaxFilesPerTrigger(spark, logDir, refreshTargetEvents)
            if (sug >= 2 * mft || 2 * sug <= mft) {
              mft = sug
              restart = true
              restarts += 1
            }
          }
        }
        if (!q.isActive && !restart) done = true // terminated outside our control
      } finally {
        // stopping a ProcessingTime query can CANCEL an in-flight batch's
        // jobs — that is the expected kill shape of a tail restart, not a
        // failure: the batch stays in the source-log journal and the next
        // startTailPipelined's recoverPending re-applies it exactly-once.
        // Anything other than a cancellation still fails loudly.
        try { q.stop(); q.awaitTermination() }
        catch { case e: Throwable if isCancellation(e) => sawCancel = true }
        try pipeline.close() // drain ordered commits before any restart
        catch { case e: Throwable if isCancellation(e) => sawCancel = true }
      }
    }
    // unconditional: besides the cancellation path, the source may have
    // journaled one final batch the stopping query never executed (see
    // runOnce's post-termination sweep) — recovery is a cheap no-op when
    // the journal and watermark agree
    if (CdcPipeline.recoverPending(spark, table, checkpointDir, opts) > 0)
      table.awaitMaintenance()
    TailRun(restarts, lastData, deadMs)
  }

  /** True when the throwable chain is a stop-induced Spark job/query
    * cancellation (benign during a tail stop/restart). Checks exception
    * TYPES first (CancellationException/InterruptedException carry null or
    * locale-variant messages), then Spark's own stop/cancel message
    * markers. A genuine failure mis-swallowed here is not lost: the batch
    * stays uncommitted in the journal, recoverPending re-applies it, and a
    * persistent error resurfaces loudly on the re-apply. */
  private def isCancellation(t: Throwable): Boolean = {
    var c: Throwable = t
    var hops = 0
    while (c != null && hops < 10) {
      c match {
        case _: java.util.concurrent.CancellationException => return true
        case _: InterruptedException => return true
        case _ => ()
      }
      val m = Option(c.getMessage).getOrElse("")
      // "Job N cancelled because SparkContext was shut down" is a DYING
      // context, not our stop — never benign, whatever else the chain says
      if (m.contains("SparkContext was shut down") ||
        m.contains("SparkContext has been shutdown")) return false
      if (m.contains("SPARK_JOB_CANCELLED") || m.contains("cancelled") ||
        m.contains("canceled") || m.contains("was stopped")) return true
      c = c.getCause
      hops += 1
    }
    false
  }

  /** Pick `maxFilesPerTrigger` so micro-batches hold ≈ `targetEvents`
    * rows, from the parquet footers of a few log files (no data pages
    * read). The 10^8 measurement (BASELINE.md round 4) showed per-batch
    * fixed cost grows with table state: batches must grow with the table
    * (≥ ~10M events at 10^8 scale) or the fixed cost dominates — this is
    * the sizing helper that encodes that operational rule. */
  def suggestMaxFilesPerTrigger(spark: SparkSession, logDir: String,
      targetEvents: Long = 10000000L, sampleFiles: Int = 8): Int = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(logDir))
    // UNIFORM reservoir sample over the whole walk (one streaming pass, no
    // materialization): segments differ in rows/file (e.g. the
    // schema-evolution cut segment is short), so a walk-order prefix — or
    // a stride over a capped prefix — would skew toward whichever segments
    // the filesystem yields first. Fixed seed = reproducible suggestion.
    val rnd = new scala.util.Random(42)
    val reservoir = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    var seen = 0L
    try st.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .foreach { p =>
        seen += 1
        if (reservoir.size < sampleFiles) reservoir += p
        else {
          val j = (rnd.nextDouble() * seen).toLong
          if (j < sampleFiles) reservoir(j.toInt) = p
        }
      }
    finally st.close()
    if (reservoir.isEmpty) return 8
    val files = reservoir.toSeq
    val conf = spark.sessionState.newHadoopConf()
    val avg = files.map(p => graft.lake.ParquetStats.rowCount(p.toString, conf)).sum /
      math.max(1, files.size)
    math.max(1, math.ceil(targetEvents.toDouble / math.max(1L, avg)).toInt)
  }

  /** Run to completion of currently-available data (AvailableNow).
    * Dispatches to the pipelined sink when opts ask for it. */
  def runOnce(spark: SparkSession, logDir: String, table: LakeTable,
      checkpointDir: String, maxFilesPerTrigger: Int = 8,
      opts: CdcApply.Options = CdcApply.Options()): Unit = {
    if (opts.mergeOnRead && opts.pipelineDepth > 1) {
      val (q, pipeline) = startPipelined(spark, logDir, table, checkpointDir,
        maxFilesPerTrigger, opts)
      try q.awaitTermination() finally pipeline.close()
    } else {
      val q = start(spark, logDir, table, checkpointDir, maxFilesPerTrigger, opts)
      q.awaitTermination()
      table.awaitMaintenance() // settle background compaction debt
    }
    // Post-termination journal sweep. The file source can JOURNAL one more
    // batch (sources/0/N written inside its final latestOffset) that the
    // terminating AvailableNow query never executes — observed as a clean
    // termination with the journal one batch ahead of the table watermark,
    // i.e. the round-5 "missing high-LSN winners" flake: the LAST batch's
    // events silently absent until some future restart re-delivers them.
    // The journal contract already covers this exact shape ("every
    // source-log batch above the watermark is applied at (re)start"), so
    // run the recovery sweep at TERMINATION too: a no-op on the common
    // path, and it synchronously applies any planned-but-unrun tail batch
    // (re-await maintenance so a compaction the sweep triggered doesn't
    // outlive the call).
    if (CdcPipeline.recoverPending(spark, table, checkpointDir, opts) > 0)
      table.awaitMaintenance()
  }
}
