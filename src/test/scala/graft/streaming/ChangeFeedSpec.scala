package graft.streaming

import graft.SparkSpec
import graft.cdc.CdcApply
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField}

/** The streaming change-feed source (CDC-out): batch-walk parity under
  * admission control, mid-stream tailing, exactly-once across restart,
  * chained CDC into a derived table, loud failure modes. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private val mor = CdcApply.Options(mergeOnRead = true, compactEvery = 100)

  private def cfBatch(rows: Seq[(Long, String, String, Int, String, String)]) =
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", current_timestamp())

  private def newTable(prefix: String, buckets: Int = 2): LakeTable = {
    val t = new LakeTable(spark, tmpDir(prefix), numBuckets = buckets)
    t.create(Model.transcriptSchema)
    t
  }

  private def feed(table: LakeTable, extra: (String, String)*) = {
    val r = spark.readStream.format("graft-changes").option("path", table.root)
    extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  private def waitUntil(what: String, timeoutMs: Int = 30000)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond) {
      if (System.nanoTime() > deadline) fail(s"timed out waiting for: $what")
      Thread.sleep(50)
    }
  }

  private def chainMessages(t: Throwable): String = {
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
  }

  /** Public `(key -> (role, text))` state of a table — the per-turn
    * equality the chained-CDC specs assert. */
  private def tableState(t: LakeTable): Map[(String, Int), (String, String)] =
    t.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3)))).toMap

  /** foreachBatch sink that maintains `target` from the change feed. */
  private def applyFeedBatch(target: LakeTable)(df: DataFrame, id: Long): Unit = {
    val events = df.withColumnRenamed("_lsn", "lsn").withColumnRenamed("_op", "op")
    CdcApply.applyBatch(target, events, id, mor)
    ()
  }

  test("AvailableNow replay equals the batch walk; maxVersionsPerTrigger splits batches; scan has no shuffle") {
    val table = newTable("cfs-replay")
    CdcApply.applyBatch(table, cfBatch(Seq(
      (1L, "I", "c1", 0, "user", "a1"), (2L, "I", "c2", 0, "user", "b1"))), 0L, mor)
    CdcApply.applyBatch(table, cfBatch(Seq((3L, "U", "c1", 0, "user", "a2"))), 1L, mor)
    // maintenance in the middle of the history: compaction folds batch
    // 0/1's delta files out of the live snapshot (only the history walk
    // still sees them) and a schema commit is a no-event version
    table.compact()
    table.evolveSchema(Seq(StructField("note", StringType)))
    CdcApply.applyBatch(table, cfBatch(Seq(
      (4L, "I", "c3", 0, "user", "d1"), (5L, "D", "c2", 0, "user", ""))), 2L, mor)

    val rows = scala.collection.mutable.Set[(Long, String, String, Int, String)]()
    val nonEmptyBatches = scala.collection.mutable.Buffer[Long]()
    val plans = scala.collection.mutable.Buffer[Seq[String]]()
    val q = feed(table, "startingVersion" -> "0", "maxVersionsPerTrigger" -> "2")
      .writeStream
      .option("checkpointLocation", tmpDir("cfs-replay-ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        val got = df.select("_lsn", "_op", "conv_id", "turn_idx", "text").collect()
        if (got.nonEmpty) { nonEmptyBatches += id; plans += GraftShim.livePhysicalNodeNames(df) }
        rows ++= got.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4)))
        ()
      }
      .start()
    q.awaitTermination()

    val expect = Set(
      (1L, "I", "c1", 0, "a1"), (2L, "I", "c2", 0, "b1"), (3L, "U", "c1", 0, "a2"),
      (4L, "I", "c3", 0, "d1"), (5L, "D", "c2", 0, ""))
    assert(rows.toSet == expect, s"streamed feed must equal the raw events, got $rows")
    assert(nonEmptyBatches.size >= 2,
      s"maxVersionsPerTrigger=2 must split the 5-commit replay, got batches $nonEmptyBatches")
    assert(plans.forall(ns => !ns.exists(_.toLowerCase.contains("exchange"))),
      s"a change-feed micro-batch is one parquet scan, no shuffle; got $plans")

    // parity with the batch walk over the same window
    val walked = table.readChangesSince(0L)
      .select("_lsn", "_op", "conv_id", "turn_idx", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4))).toSet
    assert(walked == rows.toSet, "streaming source and readChangesSince must agree")
  }

  test("tail: default startingVersion=latest skips history; mid-stream commits arrive; restart is exactly-once") {
    val table = newTable("cfs-tail")
    // history BEFORE the stream exists — must not be delivered
    CdcApply.applyBatch(table, cfBatch(Seq((1L, "I", "c1", 0, "user", "old"))), 0L, mor)

    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def start(ck: String): StreamingQuery = feed(table)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("_lsn").collect().foreach(r => seen.add(r.getLong(0)))
        ()
      }
      .start()

    val ck = tmpDir("cfs-tail-ck")
    val q1 = start(ck)
    try {
      CdcApply.applyBatch(table, cfBatch(Seq(
        (2L, "I", "c1", 1, "user", "x"), (3L, "I", "c2", 0, "user", "y"))), 1L, mor)
      waitUntil("lsn 2 and 3 to stream")(seen.contains(2L) && seen.contains(3L))
      CdcApply.applyBatch(table, cfBatch(Seq((4L, "U", "c2", 0, "user", "y2"))), 2L, mor)
      waitUntil("lsn 4 to stream")(seen.contains(4L))
    } finally { q1.stop(); q1.awaitTermination() }
    assert(seen.size == 3 && !seen.contains(1L),
      s"tail must deliver exactly the post-start commits once, got $seen")

    // commit while the stream is DOWN, restart from the checkpoint: the
    // checkpointed offset dominates startingVersion=latest (no loss), and
    // nothing already delivered is re-delivered (no dupes)
    CdcApply.applyBatch(table, cfBatch(Seq((5L, "I", "c3", 0, "user", "z"))), 3L, mor)
    val q2 = start(ck)
    try {
      waitUntil("lsn 5 after restart")(seen.contains(5L))
      // a few extra triggers to give any erroneous re-delivery time to land
      Thread.sleep(300)
    } finally { q2.stop(); q2.awaitTermination() }
    assert(seen.size == 4 && !seen.contains(1L),
      s"restart must resume from the checkpoint exactly-once, got $seen")
  }

  test("maxRowsPerTrigger packs commit-aligned batches to the cap; oversized commit admitted alone") {
    val table = newTable("cfs-rows")
    CdcApply.applyBatch(table, cfBatch(Seq(
      (1L, "I", "c1", 0, "user", "a"), (2L, "I", "c1", 1, "user", "b"))), 0L, mor)
    CdcApply.applyBatch(table, cfBatch(Seq(
      (3L, "I", "c2", 0, "user", "c"), (4L, "I", "c2", 1, "user", "d"))), 1L, mor)
    table.compact() // zero-event version mid-window: admitted for free
    CdcApply.applyBatch(table, cfBatch(Seq(
      (5L, "I", "c3", 0, "user", "e"), (6L, "I", "c3", 1, "user", "f"),
      (7L, "I", "c3", 2, "user", "g"), (8L, "I", "c3", 3, "user", "h"),
      (9L, "I", "c3", 4, "user", "i"))), 2L, mor)
    CdcApply.applyBatch(table, cfBatch(Seq((10L, "I", "c4", 0, "user", "j"))), 3L, mor)
    // a zero-event version at the HEAD of a window followed by an
    // oversized commit must not form an empty micro-batch of its own —
    // the compact rides along with the oversized admission
    table.compact()
    CdcApply.applyBatch(table, cfBatch(Seq(
      (11L, "I", "c5", 0, "user", "k"), (12L, "I", "c5", 1, "user", "l"),
      (13L, "I", "c5", 2, "user", "m"), (14L, "I", "c5", 3, "user", "n"),
      (15L, "I", "c5", 4, "user", "o"))), 4L, mor)

    val emptyBatches = new java.util.concurrent.atomic.AtomicInteger()
    val batches = scala.collection.mutable.Buffer[Set[Long]]()
    // Long.MaxValue versions cap alongside: "effectively unbounded" must
    // saturate, not overflow into a permanently stalled stream
    val q = feed(table, "startingVersion" -> "0", "maxRowsPerTrigger" -> "4",
        "maxVersionsPerTrigger" -> Long.MaxValue.toString)
      .writeStream
      .option("checkpointLocation", tmpDir("cfs-rows-ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val ls = df.select("_lsn").collect().map(_.getLong(0)).toSet
        if (ls.nonEmpty) batches += ls else emptyBatches.incrementAndGet()
        ()
      }
      .start()
    q.awaitTermination()
    assert(batches.toSeq == Seq(Set(1L, 2L, 3L, 4L), (5L to 9L).toSet, Set(10L),
        (11L to 15L).toSet),
      s"cap=4 must split at commit boundaries (2+2+0 | oversized 5 | 1 | 0+oversized 5), got $batches")
    assert(emptyBatches.get() == 0,
      s"zero-event versions must ride along, never forming empty micro-batches (got ${emptyBatches.get()})")
  }

  test("maxRowsPerTrigger: CoW commit AHEAD of the admitted window doesn't block deliverable changes") {
    val table = newTable("cfs-rowscow")
    CdcApply.applyBatch(table, cfBatch(Seq(
      (1L, "I", "c1", 0, "user", "a"), (2L, "I", "c1", 1, "user", "b"))), 0L, mor)
    CdcApply.applyBatch(table, cfBatch(Seq(
      (3L, "I", "c2", 0, "user", "c"), (4L, "I", "c2", 1, "user", "d"))), 1L, mor)
    // a copy-on-write commit lands AFTER the deliverable window: the row
    // admission's chunk prefetch walks into it; everything before it must
    // still be delivered, and the stream must then fail LOUDLY once the
    // CoW commit itself heads the window
    CdcApply.applyBatch(table, cfBatch(Seq((5L, "U", "c1", 0, "user", "e"))), 2L) // CoW

    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = feed(table, "startingVersion" -> "0", "maxRowsPerTrigger" -> "2")
      .writeStream
      .option("checkpointLocation", tmpDir("cfs-rowscow-ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("_lsn").collect().foreach(r => seen.add(r.getLong(0)))
        ()
      }
      .start()
    val e = intercept[Exception](q.awaitTermination())
    assert(chainMessages(e).contains("copy-on-write"),
      s"the CoW window head must fail with a diagnosis, got: ${chainMessages(e)}")
    assert(seen.size == 4 && Seq(1L, 2L, 3L, 4L).forall(seen.contains),
      s"every pre-CoW change must have been delivered before the failure, got $seen")
  }

  test("maxRowsPerTrigger: a CoW commit inside the prefetch chunk keeps the walk done before it") {
    val walks = new java.util.concurrent.atomic.AtomicInteger
    val table = new LakeTable(spark, tmpDir("cfs-chunk"), numBuckets = 2) {
      override def changeInfoByVersion(from: Long, to: Long)(
          each: (Long, Long, Seq[String]) => Unit): Unit = {
        walks.incrementAndGet()
        super.changeInfoByVersion(from, to)(each)
      }
    }
    table.create(Model.transcriptSchema)
    // v1..v5 merge-on-read, v6 copy-on-write, v7..v8 merge-on-read: one
    // 64-version prefetch chunk spans the CoW commit
    (0 until 5).foreach { i =>
      CdcApply.applyBatch(table, cfBatch(Seq((2L * i + 1, "I", s"c$i", 0, "user", "a"),
        (2L * i + 2, "I", s"c$i", 1, "user", "b"))), i.toLong, mor)
    }
    CdcApply.applyBatch(table, cfBatch(Seq((11L, "U", "c0", 0, "user", "z"))), 5L) // CoW
    (6 until 8).foreach { i =>
      CdcApply.applyBatch(table, cfBatch(Seq((20L + i, "I", s"d$i", 0, "user", "a"))),
        i.toLong, mor)
    }
    assert(table.currentVersion == 8)
    val src = new ChangeFeedSource(spark, table, 0L, None, maxRowsPerTrigger = Some(1000L))
    val end = src.latestOffset(null, src.getDefaultReadLimit)
    assert(end == LongOffset(5L),
      s"the window closes just before the CoW commit, got $end")
    // one chunk walk that stops at v6 (v1..v5 kept), one walk that fails
    // at v6 itself — not a re-walk per admitted version
    assert(walks.get == 2, s"history walks for the admission: ${walks.get}")
    src.getBatch(None, LongOffset(5L))
    assert(walks.get == 2, "getBatch reuses the admission's per-version file lists")
  }

  test("crash between offset log and sink commit: batch-0 replay keeps its original window") {
    val table = newTable("cfs-crash")
    CdcApply.applyBatch(table, cfBatch(Seq((1L, "I", "c1", 0, "user", "old"))), 0L, mor)

    val ck = tmpDir("cfs-crash-ck")
    def run(seen: java.util.Set[java.lang.Long]): StreamingQuery = feed(table)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("_lsn").collect().foreach(r => seen.add(r.getLong(0)))
        ()
      }
      .start()

    // run 1: startingVersion=latest resolves past lsn 1's commit; one
    // applyBatch = one table version = one micro-batch
    val seen1 = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    val commit0 = java.nio.file.Paths.get(ck, "commits", "0")
    val q1 = run(seen1)
    try {
      CdcApply.applyBatch(table, cfBatch(Seq(
        (2L, "I", "c1", 1, "user", "x"), (3L, "I", "c2", 0, "user", "y"))), 1L, mor)
      waitUntil("lsn 2 and 3 in run 1")(seen1.contains(2L) && seen1.contains(3L))
      // don't stop between foreachBatch and the engine's commit write —
      // the deletion below must remove a RECORD, not observe a race
      waitUntil("batch 0 commit record")(java.nio.file.Files.exists(commit0))
    } finally { q1.stop(); q1.awaitTermination() }

    // simulate a crash AFTER the offset log wrote batch 0 but BEFORE the
    // sink committed it: offsets/0 survives, commits/0 does not — exactly
    // the recovery state a kill between the two leaves behind. The local
    // checkpoint FS is checksummed, so the `.crc` sidecar must go too or
    // the replayed commit's rename trips over it
    assert(java.nio.file.Files.deleteIfExists(commit0),
      s"expected a batch-0 commit record at $commit0")
    java.nio.file.Files.deleteIfExists(commit0.resolveSibling(".0.crc"))
    // the table advances while the consumer is down — this is what moves
    // a re-resolved `latest` past batch 0's planned window
    CdcApply.applyBatch(table, cfBatch(Seq((4L, "I", "c3", 0, "user", "z"))), 2L, mor)

    // run 2 replays batch 0 from the offset log with start=None: the
    // PERSISTED starting version must hold the window open (a re-resolved
    // `latest` would make it empty and drop lsn 2/3 from the sink forever)
    val seen2 = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    val q2 = run(seen2)
    try {
      waitUntil("replayed lsn 2/3 plus new lsn 4 in run 2")(
        seen2.contains(2L) && seen2.contains(3L) && seen2.contains(4L))
    } finally { q2.stop(); q2.awaitTermination() }
    assert(!seen2.contains(1L), s"pre-start history must stay excluded, got $seen2")
  }

  test("startingVersion resolution is persisted once per checkpoint") {
    val dir = tmpDir("cfs-sv")
    assert(ChangeFeedSourceProvider.persistedStartingVersion(spark, dir, 5L) == 5L)
    // a later start resolving differently (table advanced) must get the
    // original back
    assert(ChangeFeedSourceProvider.persistedStartingVersion(spark, dir, 9L) == 5L)
  }

  test("chained CDC: a downstream table applied from the change feed equals upstream state") {
    val upstream = newTable("cfs-up")
    val downstream = newTable("cfs-down", buckets = 4)
    // out-of-order LSNs ACROSS batches: lsn 10 (batch 0) must beat lsn 5
    // (batch 1) downstream, exactly as it does upstream; plus a delete
    CdcApply.applyBatch(upstream, cfBatch(Seq(
      (10L, "U", "c1", 0, "user", "final"), (2L, "I", "c2", 0, "user", "keep"),
      (3L, "I", "c3", 0, "tool", "gone"))), 0L, mor)
    CdcApply.applyBatch(upstream, cfBatch(Seq(
      (5L, "I", "c1", 0, "user", "stale"), (6L, "D", "c3", 0, "tool", ""))), 1L, mor)

    val q = feed(upstream, "startingVersion" -> "0")
      .writeStream
      .option("checkpointLocation", tmpDir("cfs-chain-ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch(applyFeedBatch(downstream) _)
      .start()
    q.awaitTermination()

    val up = tableState(upstream)
    assert(up == Map(("c1", 0) -> ("user", "final"), ("c2", 0) -> ("user", "keep")),
      s"upstream sanity: LWW + delete, got $up")
    assert(tableState(downstream) == up,
      "downstream table maintained from the change feed must equal upstream state")
  }

  test("live chained CDC: downstream follows WHILE upstream ingests concurrently") {
    val upstream = newTable("cfs-liveup")
    val downstream = newTable("cfs-livedown", buckets = 4)

    // consumer first: tails from version 0 with a short trigger while the
    // producer below is still committing — the binlog → lake → derived
    // table loop running live, not drained after the fact
    val q = feed(upstream, "startingVersion" -> "0")
      .writeStream
      .option("checkpointLocation", tmpDir("cfs-live-ck"))
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch(applyFeedBatch(downstream) _)
      .start()

    try {
      // 10 producer batches, 20 events each, interleaved with the running
      // consumer; updates and deletes exercise LWW through the live chain
      var lsn = 0L
      for (b <- 0 until 10) {
        val evs = (0 until 20).map { i =>
          lsn += 1
          val conv = s"c${(b * 20 + i) % 7}"
          val turn = (b * 20 + i) / 7 % 5
          val op = if (lsn % 11 == 0) "D" else if (lsn % 3 == 0) "U" else "I"
          (lsn, op, conv, turn, "user", s"t$lsn")
        }
        CdcApply.applyBatch(upstream, cfBatch(evs), b.toLong, mor)
        Thread.sleep(20)
      }
      val up = tableState(upstream)
      // generous timeout: the drain is 10+ real table commits and this
      // host's co-tenant load can stretch them; fail FAST if the consumer
      // query itself died rather than spinning out the clock
      waitUntil("downstream to converge to upstream state", timeoutMs = 120000) {
        q.exception.foreach(e => fail(s"consumer query failed: ${chainMessages(e)}"))
        tableState(downstream) == up
      }
    } finally { q.stop(); q.awaitTermination() }
    assert(tableState(downstream) == tableState(upstream),
      "downstream must equal upstream after the live chain settles")
  }

  test("schema is pinned for a running stream; evolved columns appear on restart") {
    val table = newTable("cfs-evolve")
    CdcApply.applyBatch(table, cfBatch(Seq(
      (1L, "I", "c1", 0, "user", "x"))), 0L, mor)

    val ck = tmpDir("cfs-evolve-ck")
    val colsSeen = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
    def start(): StreamingQuery = feed(table, "startingVersion" -> "0")
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("_lsn").collect().foreach(r =>
          colsSeen.put(r.getLong(0), df.columns.toSet))
        ()
      }
      .start()

    val q1 = start()
    try {
      waitUntil("lsn 1")(colsSeen.containsKey(1L))
      // additive evolution WHILE the stream runs (a zero-event `schema`
      // commit in the walk): Structured Streaming pins a query's schema,
      // so the next batch must still arrive without `note`
      table.evolveSchema(Seq(StructField("note", StringType)))
      CdcApply.applyBatch(table, cfBatch(Seq((2L, "U", "c1", 0, "user", "y"))), 1L, mor)
      waitUntil("lsn 2")(colsSeen.containsKey(2L))
    } finally { q1.stop(); q1.awaitTermination() }
    assert(!colsSeen.get(1L).contains("note") && !colsSeen.get(2L).contains("note"),
      s"a running stream's schema is pinned at start, got lsn1=${colsSeen.get(1L)} lsn2=${colsSeen.get(2L)}")

    // restart re-resolves the table schema: the evolved column now flows
    // (as null on files written before the evolution — additive contract)
    val q2 = start()
    try {
      CdcApply.applyBatch(table, cfBatch(Seq((3L, "I", "c2", 0, "user", "z"))), 2L, mor)
      waitUntil("lsn 3")(colsSeen.containsKey(3L))
    } finally { q2.stop(); q2.awaitTermination() }
    assert(colsSeen.get(3L).contains("note"),
      s"evolved columns must appear after restart, got ${colsSeen.get(3L)}")
  }

  test("copy-on-write commit in the window fails the stream loudly; bad options reject") {
    val table = newTable("cfs-cow")
    CdcApply.applyBatch(table, cfBatch(Seq((1L, "I", "c1", 0, "user", "x"))), 0L) // CoW
    val q = feed(table, "startingVersion" -> "0")
      .writeStream
      .option("checkpointLocation", tmpDir("cfs-cow-ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .start()
    val e = intercept[Exception](q.awaitTermination())
    assert(chainMessages(e).contains("copy-on-write"),
      s"CoW window must fail the query with a diagnosis, got: ${chainMessages(e)}")

    def loadWith(opts: (String, String)*): DataFrame = feed(table, opts: _*)
    val noPath = intercept[Exception] {
      spark.readStream.format("graft-changes").load().writeStream
        .option("checkpointLocation", tmpDir("cfs-np-ck"))
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
    }
    assert(chainMessages(noPath).contains("requires option 'path'"))
    val badStart = intercept[Exception] {
      loadWith("startingVersion" -> "nope").writeStream
        .option("checkpointLocation", tmpDir("cfs-bs-ck"))
        .foreachBatch((_: DataFrame, _: Long) => ()).start().awaitTermination()
    }
    assert(chainMessages(badStart).contains("startingVersion"))
    val badMax = intercept[Exception] {
      loadWith("maxVersionsPerTrigger" -> "0").writeStream
        .option("checkpointLocation", tmpDir("cfs-bm-ck"))
        .foreachBatch((_: DataFrame, _: Long) => ()).start().awaitTermination()
    }
    assert(chainMessages(badMax).contains("maxVersionsPerTrigger"))
  }
}
