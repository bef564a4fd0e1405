package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import graft.cdc.CdcApply
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Polls a table's committed snapshot (public API only) and records when
  * each batch id first became applied, plus the sampled compaction debt
  * (`maxDeltaFiles`). */
final class CommitWatcher(table: LakeTable, intervalMs: Long = 2L) {
  val appliedAt = new ConcurrentHashMap[Long, java.lang.Long]()
  private val debt = mutable.ArrayBuffer[Int]()
  @volatile private var running = true
  private var seenWatermark = -1L
  private val thread = new Thread(() => {
    while (running) {
      poll()
      Thread.sleep(intervalMs)
    }
    poll()
  }, "perfbench-commit-watcher")
  thread.setDaemon(true)

  private def poll(): Unit = if (table.exists) {
    val now = System.nanoTime()
    val s = table.currentSnapshot
    if (s.appliedWatermark > seenWatermark) {
      (seenWatermark + 1 to s.appliedWatermark).foreach(b => appliedAt.putIfAbsent(b, now))
      seenWatermark = s.appliedWatermark
    }
    s.appliedExceptions.foreach(b => appliedAt.putIfAbsent(b, now))
    debt.synchronized(debt += s.deltas.values.map(_.size).maxOption.getOrElse(0))
  }

  def start(): this.type = { thread.start(); this }
  def stop(): Unit = { running = false; thread.join() }
  def meanDebt: Double = debt.synchronized(Stats.mean(debt.map(_.toDouble).toSeq))
}

/** Closed loop, one caller. Each round replays the seeded change log with
  * pipelined merge-on-read into a fresh 32-bucket table (ingest phase),
  * then drains that table's change feed with AvailableNow into a fresh
  * copy-on-write table (feed phase). Latency samples are, per segment, the
  * time from the round start (the whole backlog is due at once) until a
  * committed snapshot holds it. */
final class Replay(ctx: Ctx) extends Workload {
  import Replay.Round
  import ctx.{spark, tracer}

  private val events = 100000L
  private val segments = 5
  private val buckets = 32
  private val cfg = ChangeLogGen.Config(numEvents = events,
    numConversations = math.max(64L, events / 500), maxTurns = 64, seed = ctx.seed)
  private val ingestOpts = CdcApply.Options(mergeOnRead = true, compactEvery = 16,
    pipelineDepth = 4)
  private val logDir = ctx.dir("replay-log")
  private var segs: Seq[String] = Nil
  private lazy val expected = Oracle.digest(Oracle.expectedTable(spark, segs))

  def prepare(): Unit = {
    segs = ChangeLogGen.writeLog(spark, logDir, cfg, segments, filesPerSegment = ctx.cpus)
  }

  /** One full round (a shorter one leaves the first timed round slower
    * while the JIT compiles), then the oracle digest. */
  def warmup(): Unit = {
    round("warm")
    expected
  }

  private def table(name: String): LakeTable = {
    val t = new LakeTable(spark, ctx.dir(name), numBuckets = buckets)
    tracer.span("lake", "LakeTable.create")(t.create(Model.transcriptSchema))
    t
  }

  private def round(tag: String): Round = {
    val up = table(s"replay-up-$tag")
    val down = table(s"replay-down-$tag")
    val watcher = new CommitWatcher(up).start()
    val t0 = System.nanoTime()
    tracer.span("cdc", "CdcApply.replay")(CdcApply.replay(spark, up, segs, ingestOpts))
    val t1 = System.nanoTime()
    watcher.stop()
    val feedRows = tracer.span("streaming", "feed.drain") {
      val q = spark.readStream.format("graft-changes").option("path", up.root)
        .option("startingVersion", "0").load()
        .writeStream.queryName(StreamListener.FeedName)
        .option("checkpointLocation", ctx.dir(s"replay-feed-ck-$tag"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val ev = df.withColumnRenamed("_lsn", "lsn").withColumnRenamed("_op", "op")
          // the stream thread's call site is the batch description; the
          // stage attribution needs the engine frames instead
          if (tracer.enabled) spark.sparkContext.clearCallSite()
          tracer.span("cdc", "CdcApply.applyBatch")(CdcApply.applyBatch(down, ev, batchId))
          ()
        }
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    val t2 = System.nanoTime()
    val segMs = segs.indices.map { i =>
      Option(watcher.appliedAt.get(i.toLong)).map(t => (t.longValue - t0) / 1e6)
        .getOrElse((t1 - t0) / 1e6)
    }
    val writeAmp = Files2.bytes(up.root).toDouble / Files2.bytes(logDir)
    val stats = Files2.tableStats(up.root)
    val checks = if (tag == "warm") Nil else Seq(up, down).map { t =>
      val got = Oracle.digest(t.read())
      if (got != expected) ctx.log(s"replay check failed for ${t.root}: $got != $expected")
      got == expected
    }
    Seq(up.root, down.root, ctx.dir(s"replay-feed-ck-$tag")).foreach(Files2.delete)
    Round((t1 - t0) / 1e9, (t2 - t1) / 1e9, feedRows, segMs, writeAmp, watcher.meanDebt, stats,
      checks)
  }

  def measure(seconds: Double, index: Int): Window = {
    val rounds = mutable.ArrayBuffer[Round]()
    val start = System.nanoTime()
    var failures = 0L
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)
      rounds += round(s"w$index-r${rounds.size}")
    val wall = (System.nanoTime() - start) / 1e6
    val checks = rounds.flatMap(_.checks)
    failures += checks.count(!_)
    Window(
      throughput = Stats.median(rounds.map(r => events / (r.ingestS + r.feedS)).toSeq),
      latenciesMs = rounds.map(_.segMs).toSeq,
      attempted = rounds.size * segs.size + checks.size,
      failed = failures, wallMs = wall,
      detail = Map(
        "replay.ingest_eps" -> Stats.median(rounds.map(r => events / r.ingestS).toSeq),
        "replay.feed_eps" -> Stats.median(rounds.map(r => r.feedRows / r.feedS).toSeq),
        "lake.write_amp" -> Stats.median(rounds.map(_.writeAmp).toSeq),
        "lake.deltas_outstanding" -> Stats.mean(rounds.map(_.debt).toSeq),
        "lake.files_written" -> Stats.median(rounds.map(_.stats._1.toDouble).toSeq),
        "lake.bytes_written" -> Stats.median(rounds.map(_.stats._2.toDouble).toSeq),
        "lake.meta_bytes_written" -> Stats.median(rounds.map(_.stats._3.toDouble).toSeq)),
      notes = Map("rounds" -> rounds.size, "events" -> events, "segments" -> segs.size,
        "ingest_s" -> rounds.map(_.ingestS), "feed_s" -> rounds.map(_.feedS),
        "segment_ms" -> rounds.map(_.segMs)))
  }
}

object Replay {
  private final case class Round(ingestS: Double, feedS: Double, feedRows: Long,
      segMs: Seq[Double], writeAmp: Double, debt: Double, stats: (Long, Long, Long),
      checks: Seq[Boolean])
}
