package graft.lake

import graft.SparkSpec
import graft.cdc.{CdcApply, Oracle}
import graft.gen.ChangeLogGen
import graft.model.Model

/** Lake-table mechanics added in round 2: pipelined apply, bounded
  * snapshot metadata, bucket rescaling, persisted skew weights. */
class LakeSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def collectEvents(cfg: ChangeLogGen.Config): Seq[Oracle.Ev] =
    ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }

  private def stateOf(table: LakeTable): Map[(String, Int), (String, String)] =
    table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3)))).toMap

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Snapshot `name` of the table at `dir`, as an editable JSON object. */
  private def snapshotJson(dir: String, name: String) =
    json.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "snapshots", name)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]

  /** Write `node` as snapshot `name` and point the table at it. */
  private def publishSnapshot(dir: String, name: String,
      node: com.fasterxml.jackson.databind.JsonNode): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "snapshots", name),
      json.writeValueAsString(node))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_latest"), name)
  }

  /** Names of the JSON files in `dir/sub`. */
  private def jsonFiles(dir: String, sub: String): Set[String] = {
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir, sub))
    try st.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".json")).toSet
    finally st.close()
  }

  test("pipelined MoR replay: equals oracle, exactly-once, re-replay idempotent") {
    val cfg = ChangeLogGen.Config(numEvents = 16000, numConversations = 80, maxTurns = 16)
    val segments = ChangeLogGen.writeLog(spark, tmpDir("pipe-log"), cfg, numSegments = 6)
    val expect = Oracle.finalState(collectEvents(cfg))
      .map { case (k, e) => k -> ((e.role, e.text)) }

    // depth 1 is the serial case of the same pipeline; on local[4] depths 8
    // and 3 write each batch in one task with no exchange, depth 2 in two
    // tasks behind the exchange
    Seq(8, 3, 2, 1).foreach { depth =>
      val table = new LakeTable(spark, tmpDir(s"pipe-table-d$depth"), numBuckets = 4)
      table.create(Model.transcriptSchema)
      val opts = CdcApply.Options(mergeOnRead = true, compactEvery = 100, pipelineDepth = depth)
      CdcApply.replay(spark, table, segments, opts)
      assert(stateOf(table) == expect, s"pipelined replay final state (depth $depth)")

      // commits applied in order, exactly once
      val s = table.currentSnapshot
      assert(s.appliedWatermark == segments.size - 1)
      assert(s.appliedExceptions.isEmpty)

      // re-replay (all ids applied) is a no-op
      val v = s.version
      CdcApply.replay(spark, table, segments, opts)
      assert(table.currentSnapshot.version == v)
      assert(stateOf(table) == expect)

      // pipelined + compaction interleaved also converges
      val t2 = new LakeTable(spark, tmpDir(s"pipe-table2-d$depth"), numBuckets = 4)
      t2.create(Model.transcriptSchema)
      CdcApply.replay(spark, t2, segments,
        CdcApply.Options(mergeOnRead = true, compactEvery = 2, pipelineDepth = depth))
      assert(stateOf(t2) == expect, s"pipelined replay with auto-compaction (depth $depth)")
    }
  }

  test("pipelined MoR replay: a failed segment stops in order, releases pending writes, resumes") {
    val cfg = ChangeLogGen.Config(numEvents = 12000, numConversations = 60, maxTurns = 16)
    val segments = ChangeLogGen.writeLog(spark, tmpDir("fail-log"), cfg, numSegments = 6)
    val expect = Oracle.finalState(collectEvents(cfg))
      .map { case (k, e) => k -> ((e.role, e.text)) }
    val table = new LakeTable(spark, tmpDir("fail-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    val opts = CdcApply.Options(mergeOnRead = true, compactEvery = 100, pipelineDepth = 3)

    val victim = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(segments(3)))
      try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.min
      finally st.close()
    }
    val original = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.write(victim, "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](CdcApply.replay(spark, table, segments, opts))
    assert(table.currentSnapshot.appliedWatermark == 2,
      "segments before the failed one commit, none after it")
    // writes of later segments may still land after the abort; each must
    // release its pending-file registrations when it does. Wait until no
    // Spark job has run for 2 s, so every such write has landed.
    val tracker = spark.sparkContext.statusTracker
    var idleSince = System.nanoTime()
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (System.nanoTime() - idleSince < 2000L * 1000000L && System.nanoTime() < deadline) {
      if (tracker.getActiveJobIds().nonEmpty) idleSince = System.nanoTime()
      Thread.sleep(50)
    }
    assert(table.pendingFileCount == 0,
      s"no pendingWriteFiles residue after a failed replay (still ${table.pendingFileCount})")

    java.nio.file.Files.write(victim, original)
    CdcApply.replay(spark, table, segments, opts)
    assert(table.currentSnapshot.appliedWatermark == segments.size - 1)
    assert(stateOf(table) == expect, "resumed replay final state")
  }

  test("spark.graft.minRowsPerSlice below 1 fails where it is read, naming the key") {
    val key = "spark.graft.minRowsPerSlice"
    val table = new LakeTable(spark, tmpDir("min-rows-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    val batch = Seq((1L, "I", "c1", 0, "user", "a"), (2L, "I", "c2", 0, "user", "b"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    val opts = CdcApply.Options(mergeOnRead = true)
    spark.conf.set(key, "0")
    try {
      // the slice plan reads the key once the table has bucket weights,
      // i.e. from the second batch on
      val e = intercept[IllegalArgumentException] {
        CdcApply.applyBatch(table, batch, 0L, opts)
        CdcApply.applyBatch(table, batch, 1L, opts)
      }
      assert(e.getMessage.contains(key), e.getMessage)
    } finally spark.conf.unset(key)
  }

  test("snapshot metadata is bounded: 10k applied batches, O(buckets) snapshot bytes") {
    val table = new LakeTable(spark, tmpDir("bounded-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    // 10k empty-delta commits (driver-only) — the months-long-stream shape
    (0 until 10000).foreach { i =>
      table.commitDelta(i.toLong, LakeTable.DeltaWrite(Map.empty, Nil, Nil))
    }
    val s = table.currentSnapshot
    assert(s.appliedWatermark == 9999L)
    assert(s.appliedExceptions.isEmpty, "contiguous ids compact into the watermark")
    val ptr = java.nio.file.Paths.get(table.root, "_latest")
    val snapFile = java.nio.file.Paths.get(table.root, "snapshots",
      java.nio.file.Files.readString(ptr).trim)
    val bytes = java.nio.file.Files.size(snapFile)
    assert(bytes < 8192, s"snapshot must stay O(buckets), got $bytes bytes")
    // out-of-order ids sit in the exception set until the gap closes
    table.commitDelta(10002L, LakeTable.DeltaWrite(Map.empty, Nil, Nil))
    assert(table.currentSnapshot.appliedExceptions == Set(10002L))
    table.commitDelta(10000L, LakeTable.DeltaWrite(Map.empty, Nil, Nil))
    table.commitDelta(10001L, LakeTable.DeltaWrite(Map.empty, Nil, Nil))
    val s2 = table.currentSnapshot
    assert(s2.appliedWatermark == 10002L && s2.appliedExceptions.isEmpty)
    // lineage is each commit's own record: there are no side files
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table.root, "lineage")),
      "no lineage/ directory exists")
  }

  test("rescale mid-replay: state preserved, merges continue under new bucketing") {
    val cfg = ChangeLogGen.Config(numEvents = 8000, numConversations = 50, maxTurns = 12)
    val segments = ChangeLogGen.writeLog(spark, tmpDir("rescale-log"), cfg, numSegments = 4)
    val expect = Oracle.finalState(collectEvents(cfg))
      .map { case (k, e) => k -> ((e.role, e.text)) }

    val table = new LakeTable(spark, tmpDir("rescale-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    CdcApply.replay(spark, table, segments.take(2))
    val before = stateOf(table)
    table.rescale(8)
    assert(table.currentSnapshot.numBuckets == 8)
    assert(stateOf(table) == before, "rescale is a pure re-layout")
    // further merges + MoR appends use the new bucket count (writeLog may
    // emit an extra segment at the evolution cut — apply ALL remaining)
    segments.drop(2).zipWithIndex.foreach { case (seg, j) =>
      val mor = j % 2 == 1
      CdcApply.applyBatch(table, spark.read.parquet(seg), (2 + j).toLong,
        CdcApply.Options(mergeOnRead = mor))
    }
    table.compact()
    assert(stateOf(table) == expect)
    assert(table.currentSnapshot.files.keySet.forall(b => b >= 0 && b < 8))
    // old snapshots remain readable (reads go through per-snapshot file lists)
    assert(table.read().count() == expect.size)
  }

  test("expireSnapshots: orphan data files GC'd, state + applied ids intact") {
    val cfg = ChangeLogGen.Config(numEvents = 6000, numConversations = 40, maxTurns = 12)
    val segments = ChangeLogGen.writeLog(spark, tmpDir("gc-log"), cfg, numSegments = 4)
    val table = new LakeTable(spark, tmpDir("gc-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    // CoW replay: every batch rewrites buckets → superseded files pile up
    CdcApply.replay(spark, table, segments)
    val before = stateOf(table)
    def dataFiles() = java.nio.file.Files.walk(
        java.nio.file.Paths.get(table.root, "data")).iterator().asScala
      .count(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
    def snaps() = java.nio.file.Files.list(
        java.nio.file.Paths.get(table.root, "snapshots")).iterator().asScala
      .count(_.toString.endsWith(".json"))
    val filesBefore = dataFiles()
    val snapsBefore = snaps()
    table.expireSnapshots(keep = 1, graceMs = 0)
    assert(snaps() == 1 && snapsBefore > 1, s"snapshots: $snapsBefore -> ${snaps()}")
    assert(dataFiles() < filesBefore,
      s"orphans must be deleted: $filesBefore -> ${dataFiles()}")
    assert(stateOf(table) == before, "table state unchanged by GC")
    // applied ids survive (watermark in current snapshot): replays still no-op
    val v = table.currentSnapshot.version
    CdcApply.replay(spark, table, segments)
    assert(table.currentSnapshot.version == v)
  }

  test("key-range data skipping: a point read touches only its bucket's range-matching files") {
    import spark.implicits._
    val table = new LakeTable(spark, tmpDir("skip-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    // 4 MoR batches with DISJOINT conv-id ranges → inside any bucket, the
    // delta files of the other batches are range-skippable
    def mkBatch(i: Int) = (0 until 40).map { j =>
      ((i * 1000 + j).toLong, "I", f"batch$i-conv-$j%03d", 0, "user", s"text-$i-$j")
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    (0 until 4).foreach { i =>
      CdcApply.applyBatch(table, mkBatch(i), i.toLong,
        CdcApply.Options(mergeOnRead = true, compactEvery = 100))
    }
    val conv = "batch1-conv-007"
    val s = table.currentSnapshot
    val total = s.files.values.flatten.size + s.deltas.values.flatten.size
    val pruned = table.filesForConv(conv)
    assert(pruned.nonEmpty && pruned.size < total,
      s"bucket pruning must cut the file set: $total -> ${pruned.size}")
    // range pruning bites WITHIN the bucket: other batches' files there
    // have disjoint conv ranges and must be skipped
    val bucket = (0 until 4).find(b =>
      (s.files.getOrElse(b, Nil) ++ s.deltas.getOrElse(b, Nil)).exists(pruned.contains)).get
    val candInBucket =
      s.files.getOrElse(bucket, Nil).size + s.deltas.getOrElse(bucket, Nil).size
    assert(pruned.size < candInBucket,
      s"range pruning within the bucket: candidates=$candInBucket pruned=${pruned.size}")
    // visible result identical to the full-scan filter
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    val expect = rows(table.read().filter($"conv_id" === conv))
    assert(expect.nonEmpty && rows(table.readConv(conv)) == expect)
    // updates + deletes flow through the pruned path (LWW + tombstones)
    val upd = Seq((90001L, "U", conv, 0, "user", "updated"),
      (90002L, "D", "batch1-conv-008", 0, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, upd, 9L, CdcApply.Options(mergeOnRead = true, compactEvery = 100))
    assert(table.readConv(conv).select("text").as[String].collect().toSeq == Seq("updated"))
    assert(table.readConv("batch1-conv-008").count() == 0, "tombstone honored in point read")
    // range read: file-range pruning works across buckets (hash bucketing
    // can't prune a range, the per-file stats still can)
    val (rlo, rhi) = ("batch2-conv-000", "batch2-conv-039")
    val sR = table.currentSnapshot
    val totalR = sR.files.values.flatten.size + sR.deltas.values.flatten.size
    val prunedR = table.filesForConvRange(rlo, rhi)
    assert(prunedR.nonEmpty && prunedR.size < totalR,
      s"range pruning must cut the file set: $totalR -> ${prunedR.size}")
    assert(rows(table.readConvRange(rlo, rhi)) ==
      rows(table.read().filter($"conv_id" >= rlo && $"conv_id" <= rhi)))
    // compaction records ranges for its rewritten files too
    table.compact()
    assert(rows(table.readConv(conv)) == rows(table.read().filter($"conv_id" === conv)))
    assert(rows(table.readConvRange(rlo, rhi)) ==
      rows(table.read().filter($"conv_id" >= rlo && $"conv_id" <= rhi)))
    val s2 = table.currentSnapshot
    assert(s2.files.values.flatten.forall(s2.fileRanges.contains),
      "compacted base files must carry key ranges")
  }

  test("clustered compaction: contiguous per-file key intervals; point reads prune to O(1) files") {
    import spark.implicits._
    val table = new LakeTable(spark, tmpDir("cluster-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    // batches with FULLY OVERLAPPING conv ranges: every hash-salted delta
    // slice spans nearly the whole keyspace, so before clustering the
    // range stats cannot prune anything within a bucket
    def mkBatch(i: Int) = (0 until 80).map { j =>
      ((i * 1000 + j).toLong, "I", f"conv-$j%03d", i, "user", s"text-$i-$j")
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    (0 until 4).foreach { i =>
      CdcApply.applyBatch(table, mkBatch(i), i.toLong,
        CdcApply.Options(mergeOnRead = true, compactEvery = 100))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    val expect = rows(table.read())
    val prunedBefore = table.filesForConv("conv-041")
    assert(prunedBefore.size >= 4,
      s"overlapping salted deltas must defeat range pruning: ${prunedBefore.size}")

    table.compact(clustered = true)
    assert(rows(table.read()) == expect, "clustered rewrite preserves state")
    val s = table.currentSnapshot
    assert(s.deltas.values.flatten.isEmpty, "compaction folded all deltas")
    // the clustering property: within each bucket, sorted by range lo, no
    // file starts before the previous one ends (files may share only a
    // boundary conversation whose turns straddle two range partitions)
    for ((b, fs) <- s.files if fs.size > 1) {
      val ranges = fs.map(f => s.fileRanges(f)).sortBy(_._1)
      ranges.sliding(2).foreach { w =>
        assert(w(1)._1 >= w(0)._2,
          s"bucket $b files must cover contiguous intervals: $ranges")
      }
    }
    assert(s.files.exists(_._2.size > 1),
      "fixture must produce multi-file buckets for the pruning claim")
    // point reads now touch at most 2 files (== 2 only at a boundary conv)
    for (conv <- Seq("conv-000", "conv-017", "conv-041", "conv-079")) {
      val pruned = table.filesForConv(conv)
      assert(pruned.nonEmpty && pruned.size <= 2,
        s"$conv: clustered point read touches ${pruned.size} files")
      assert(rows(table.readConv(conv)) == rows(table.read().filter($"conv_id" === conv)))
    }
    // interval reads prune to the overlapping interval's files only
    val (rlo, rhi) = ("conv-010", "conv-019")
    assert(table.filesForConvRange(rlo, rhi).size < s.files.values.flatten.size)
    assert(rows(table.readConvRange(rlo, rhi)) ==
      rows(table.read().filter($"conv_id" >= rlo && $"conv_id" <= rhi)))

    // the Options plumb: auto-compaction runs clustered during a replay
    // and converges to the same state (LWW through the clustered rewrite)
    val t2 = new LakeTable(spark, tmpDir("cluster-table2"), numBuckets = 2)
    t2.create(Model.transcriptSchema)
    (0 until 4).foreach { i =>
      CdcApply.applyBatch(t2, mkBatch(i), i.toLong,
        CdcApply.Options(mergeOnRead = true, compactEvery = 2,
          clusteredCompaction = true))
    }
    t2.awaitMaintenance()
    assert(rows(t2.read()) == expect, "clustered auto-compaction preserves state")
    assert(t2.currentSnapshot.files.values.flatten.nonEmpty,
      "auto-compaction must have written base files")
    assert(t2.currentSnapshot.files.values.flatten
      .forall(t2.currentSnapshot.fileRanges.contains),
      "clustered base files carry key ranges")
  }

  test("maxRecordsPerFile: rolled files keep contiguous key ranges; pruning stays selective") {
    import spark.implicits._
    val table = new LakeTable(spark, tmpDir("roll-table"), numBuckets = 2,
      maxRecordsPerFile = 50L)
    table.create(Model.transcriptSchema)
    val batch = (0 until 100).flatMap { j => (0 until 4).map { t =>
      ((j * 10 + t).toLong, "I", f"conv-$j%03d", t, "user", s"text-$j-$t") } }
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, batch, 0L,
      CdcApply.Options(mergeOnRead = true, compactEvery = 100))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(3))).toSet
    val expect = rows(table.read())
    table.compact(clustered = true)
    val s = table.currentSnapshot
    // ~200 rows per bucket against a 50-row cap: the writer must roll each
    // range partition into several files
    assert(s.files.values.forall(_.size >= 2),
      s"file-size cap must roll partitions into multiple files: ${s.files.view.mapValues(_.size).toMap}")
    // rolled files are written in the partition's sort order, so they stay
    // contiguous — sorted by range lo, no file starts before the previous
    // one ends (boundary conv may straddle)
    for ((b, fs) <- s.files if fs.size > 1) {
      val ranges = fs.map(f => s.fileRanges(f)).sortBy(_._1)
      ranges.sliding(2).foreach { w =>
        assert(w(1)._1 >= w(0)._2,
          s"bucket $b rolled files must stay contiguous: $ranges")
      }
    }
    // pruning got FINER, not coarser: each rolled file covers a narrower
    // interval, and a point read still touches at most a boundary pair
    val pruned = table.filesForConv("conv-050")
    assert(pruned.nonEmpty && pruned.size <= 2,
      s"point read over rolled files touches ${pruned.size}")
    assert(rows(table.read()) == expect, "cap + clustering preserve state")
    assert(rows(table.readConv("conv-050")) ==
      rows(table.read().filter($"conv_id" === "conv-050")))
  }

  test("leveled compaction folds only buckets at/above the depth threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val table = new LakeTable(spark, tmpDir("level-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    // two conv ids landing in DIFFERENT buckets (probe via the engine's own
    // bucket expression so the fixture can't silently collide)
    def bucketOf(c: String): Int =
      spark.range(1).select(table.bucketOf(lit(c))).head.getInt(0)
    val convA = (1 to 100).map(i => s"conv-a$i").find(bucketOf(_) == 0).get
    val convB = (1 to 100).map(i => s"conv-b$i").find(bucketOf(_) == 1).get
    def batch(lsn: Long, conv: String) = Seq((lsn, "I", conv, lsn.toInt, "user", s"t$lsn"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    val opts = CdcApply.Options(mergeOnRead = true, compactEvery = 100)
    // deep bucket: 3 deltas of convA; shallow: 1 delta of convB
    CdcApply.applyBatch(table, batch(1, convA), 0L, opts)
    CdcApply.applyBatch(table, batch(2, convA), 1L, opts)
    CdcApply.applyBatch(table, batch(3, convA), 2L, opts)
    CdcApply.applyBatch(table, batch(4, convB), 3L, opts)
    val before = stateOf(table)
    assert(table.currentSnapshot.deltas(0).size == 3 &&
      table.currentSnapshot.deltas(1).size == 1)
    table.compact(minDeltaFiles = 3)
    val s = table.currentSnapshot
    assert(!s.deltas.contains(0), "deep bucket folded")
    assert(s.deltas(1).size == 1, "shallow bucket untouched — O(deep buckets) work")
    assert(stateOf(table) == before, "state unchanged by leveled fold")
    table.compact() // default folds the rest
    assert(table.maxDeltaFiles == 0 && stateOf(table) == before)
  }

  test("range pruning compares in unsigned UTF-8 byte order (parquet stats collation)") {
    // "aﬀ" (3-byte UTF-8) vs "a🙂" (4-byte, supplementary plane):
    // Java String order puts ﬀ AFTER the surrogate pair, UTF-8 byte
    // order puts it BEFORE — pruning must follow the stats' byte order or
    // a key could be pruned from the very file that holds it
    val lig = "aﬀ"
    val emoji = "a🙂"
    assert(lig.compareTo(emoji) > 0, "fixture: UTF-16 order disagrees")
    assert(LakeTable.utf8Compare(lig, emoji) < 0, "UTF-8 byte order")
    import spark.implicits._
    val table = new LakeTable(spark, tmpDir("utf8-table"), numBuckets = 1)
    table.create(Model.transcriptSchema)
    val df = Seq((1L, "I", lig, 0, "user", "t1"), (2L, "I", emoji, 0, "user", "t2"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, df, 0L, CdcApply.Options(mergeOnRead = true))
    // both keys sit between the file's byte-ordered min/max — neither may
    // be pruned out of its own file
    assert(table.readConv(lig).count() == 1)
    assert(table.readConv(emoji).count() == 1)
  }

  test("orphan GC never deletes in-flight pipelined writes, even past the mtime grace") {
    import spark.implicits._
    val table = new LakeTable(spark, tmpDir("pending-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    def batch(lsn: Long) = Seq((lsn, "I", s"c$lsn", 0, "user", s"t$lsn"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, batch(1L), 0L)
    // stage a delta write WITHOUT committing — the pipelined in-flight state
    val w = table.writeDeltaFiles(CdcApply.prepareBatch(batch(2L)), Model.keyCols)
    assert(w.files.values.flatten.nonEmpty)
    // age the staged files far past any grace window (simulates a
    // write-to-commit gap longer than graceMs — the silent-loss hazard)
    w.files.values.flatten.foreach { f =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(table.root, f),
        java.nio.file.attribute.FileTime.fromMillis(0L))
    }
    table.expireSnapshots(keep = 1, graceMs = 0)
    w.files.values.flatten.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(table.root, f)),
        s"in-flight delta file $f must survive orphan GC")
    }
    // the commit still lands and the data is intact
    assert(table.commitDelta(1L, w))
    assert(table.read().count() == 2)
    // once ABANDONED instead, the files become GC-eligible again
    val w2 = table.writeDeltaFiles(CdcApply.prepareBatch(batch(3L)), Model.keyCols)
    w2.files.values.flatten.foreach { f =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(table.root, f),
        java.nio.file.attribute.FileTime.fromMillis(0L))
    }
    table.abandonDelta(w2)
    table.expireSnapshots(keep = 1, graceMs = 0)
    w2.files.values.flatten.foreach { f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table.root, f)),
        s"abandoned delta file $f must be GC'd")
    }
    assert(table.read().count() == 2)
  }

  test("auto-expiry: the commit path itself bounds snapshot count (no manual maintenance)") {
    val cfg = ChangeLogGen.Config(numEvents = 4000, numConversations = 30, maxTurns = 10)
    val segments = ChangeLogGen.writeLog(spark, tmpDir("auto-gc-log"), cfg, numSegments = 2)
    val table = new LakeTable(spark, tmpDir("auto-gc-table"), numBuckets = 2,
      autoExpireEvery = 16, autoExpireKeep = 2)
    table.create(Model.transcriptSchema)
    // real data first, then a long tail of driver-only commits — the
    // months-long-stream shape that used to accumulate one JSON per commit
    CdcApply.replay(spark, table, segments, CdcApply.Options(mergeOnRead = true))
    val before = stateOf(table)
    val wm0 = table.currentSnapshot.appliedWatermark
    ((wm0 + 1) to (wm0 + 200)).foreach { i =>
      table.commitDelta(i, LakeTable.DeltaWrite(Map.empty, Nil, Nil))
    }
    def snaps() = java.nio.file.Files.list(
        java.nio.file.Paths.get(table.root, "snapshots")).iterator().asScala
      .count(_.toString.endsWith(".json"))
    // bounded by cadence + keep, NOT by the ~200 commits made
    assert(snaps() <= 16 + 2, s"auto-expiry must bound snapshots, have ${snaps()}")
    assert(stateOf(table) == before, "state unchanged by auto-maintenance")
    assert(table.currentSnapshot.appliedWatermark == wm0 + 200)
  }

  test("time travel: readAt(version) returns exact historical state") {
    val table = new LakeTable(spark, tmpDir("tt-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    def batch(lsn: Long, text: String) =
      Seq((lsn, "I", "c1", 0, "user", text))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
        .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, batch(1L, "v1"), 0L)
    val vAfter1 = table.currentSnapshot.version
    CdcApply.applyBatch(table, batch(2L, "v2"), 1L,
      CdcApply.Options(mergeOnRead = true))
    assert(table.read().select("text").as[String].collect().toSeq == Seq("v2"))
    assert(table.readAt(vAfter1).select("text").as[String].collect().toSeq == Seq("v1"),
      "historical snapshot must show the pre-update value")
    assert(table.readAt(0L).count() == 0, "version 0 is the empty table")
  }

  test("expireSnapshots keeps the newest versions once snapshot names widen past 10^8") {
    val dir = tmpDir("wide-table")
    new LakeTable(spark, dir, numBuckets = 2).create(Model.transcriptSchema)
    publishSnapshot(dir, "v99999998.json",
      snapshotJson(dir, "v00000000.json").put("version", 99999998L))
    val table = new LakeTable(spark, dir, numBuckets = 2)
    (0L until 4L).foreach(i => table.commitDelta(i, LakeTable.DeltaWrite(Map.empty, Nil, Nil)))
    assert(table.currentVersion == 100000002L)
    table.expireSnapshots(keep = 2, graceMs = 0)
    val left = jsonFiles(dir, "snapshots")
    assert(left == Set("v100000001.json", "v100000002.json"), s"retained $left")
    assert(table.readAt(100000001L).count() == 0)
  }

  test("a snapshot without manifests, appliedWatermark or op fails loudly, naming its file") {
    val dir = tmpDir("strict-table")
    new LakeTable(spark, dir, numBuckets = 2).create(Model.transcriptSchema)
    Seq("manifests", "appliedWatermark", "op").foreach { field =>
      val node = snapshotJson(dir, "v00000000.json")
      node.remove(field)
      publishSnapshot(dir, "v00000001.json", node)
      val e = intercept[IllegalStateException] {
        new LakeTable(spark, dir, numBuckets = 2).currentSnapshot
      }
      assert(e.getMessage.contains("v00000001.json") && e.getMessage.contains(s"'$field'"),
        e.getMessage)
    }
    // an ingest commit without its batch record (the table's lineage)
    val ingestDir = tmpDir("strict-ingest-table")
    val t = new LakeTable(spark, ingestDir, numBuckets = 2)
    t.create(Model.transcriptSchema)
    t.commitDelta(0L, LakeTable.DeltaWrite(Map.empty, Nil, Nil))
    val node = snapshotJson(ingestDir, "v00000001.json")
    assert(node.get("op").asText == "ingest-delta" && node.has("ingest"))
    node.remove("ingest")
    publishSnapshot(ingestDir, "v00000002.json", node)
    val reopened = new LakeTable(spark, ingestDir, numBuckets = 2)
    Seq[() => Any](() => reopened.currentSnapshot, () => reopened.lineage()).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("v00000002.json") && e.getMessage.contains("'ingest'"),
        e.getMessage)
    }
  }

  test("commit is a version CAS: a racing writer's claimed version fails loudly") {
    val dir = tmpDir("cas-table")
    val a = new LakeTable(spark, dir, numBuckets = 2)
    a.create(Model.transcriptSchema)
    def batch(lsn: Long, conv: String) =
      Seq((lsn, "I", conv, 0, "user", s"t$lsn"))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
        .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    val w1 = a.writeDeltaFiles(CdcApply.prepareBatch(batch(1L, "c1")), Model.keyCols)
    assert(a.commitDelta(0L, w1)) // → v1
    // simulate another PROCESS that won the race to version 2: the version
    // file exists but our pointer/snapshot reads predate it
    val claimed = java.nio.file.Paths.get(dir, "snapshots", "v00000002.json")
    java.nio.file.Files.writeString(claimed, "{}")
    val w2 = a.writeDeltaFiles(CdcApply.prepareBatch(batch(2L, "c2")), Model.keyCols)
    val e = intercept[java.util.ConcurrentModificationException] { a.commitDelta(1L, w2) }
    assert(e.getMessage.contains("already committed"))
    // the loser's files stay orphaned; after the conflict clears, a retry
    // against the refreshed chain succeeds and state is exactly-once
    java.nio.file.Files.delete(claimed)
    assert(a.commitDelta(1L, w2))
    assert(a.read().count() == 2)
  }

  test("commit metadata IO is O(touched buckets): unchanged buckets reuse manifest files") {
    val dir = tmpDir("manifest-table")
    val table = new LakeTable(spark, dir, numBuckets = 64)
    table.create(Model.transcriptSchema)
    // fabricated driver-only delta commits (commitDelta never touches the
    // data files), each touching exactly TWO of 64 buckets — the
    // narrow-batch shape of a months-long stream over a large table
    def dw(i: Long) = {
      val b1 = ((i * 2) % 64).toInt; val b2 = ((i * 2 + 1) % 64).toInt
      val f1 = s"data/fab-$i-a.parquet"; val f2 = s"data/fab-$i-b.parquet"
      LakeTable.DeltaWrite(Map(b1 -> Seq(f1), b2 -> Seq(f2)),
        Seq((b1, 10L, i, i), (b2, 10L, i, i)), Nil,
        Map(f1 -> ("conv-a", "conv-b"), f2 -> ("conv-c", "conv-d")))
    }
    (0L until 640L).foreach(i => table.commitDelta(i, dw(i)))
    // the table now references 1280 files across 64 buckets; ONE more
    // narrow commit must write metadata for its 2 touched buckets only
    def metaFiles(): Map[String, Long] = {
      (java.nio.file.Files.list(java.nio.file.Paths.get(dir, "snapshots")).iterator().asScala ++
        java.nio.file.Files.list(java.nio.file.Paths.get(dir, "manifests")).iterator().asScala)
        .filter(_.toString.endsWith(".json"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
    val before = metaFiles()
    val namesBefore = table.currentSnapshot.manifestNames
    table.commitDelta(640L, dw(640L))
    val after = metaFiles()
    val created = after.view.filterKeys(!before.contains(_)).toMap
    val newManifests = created.keys.count(_.contains("/manifests/"))
    assert(newManifests == 2,
      s"narrow commit must rewrite exactly its 2 touched buckets' manifests, wrote $newManifests")
    val namesAfter = table.currentSnapshot.manifestNames
    val touched = Set(((640L * 2) % 64).toInt, ((640L * 2 + 1) % 64).toInt)
    (0 until 64).filterNot(touched.contains).foreach { b =>
      assert(namesAfter.get(b) == namesBefore.get(b), s"bucket $b manifest must be reused")
    }
    // per-commit metadata byte volume is bounded by the touched buckets'
    // state, far below re-serializing all 1280 file entries + ranges
    val newBytes = created.values.sum
    assert(newBytes < 16 * 1024, s"commit wrote $newBytes metadata bytes")
    // cold read-back (fresh table object, empty caches) reconstructs the
    // exact same state from the manifest-referencing snapshot format
    val reopened = new LakeTable(spark, dir, numBuckets = 64)
    val a = table.currentSnapshot; val b = reopened.currentSnapshot
    assert(b.files == a.files && b.deltas == a.deltas && b.fileRanges == a.fileRanges)
    assert(b.appliedWatermark == 640L)

    // expiry at depth: keep the newest 4 of 642 snapshots; manifests/ then
    // holds exactly what those 4 reference, and a second pass is a no-op
    table.expireSnapshots(keep = 4, graceMs = 0)
    val snaps = jsonFiles(dir, "snapshots")
    assert(snaps == (638 to 641).map(v => f"v$v%08d.json").toSet, s"retained $snaps")
    val referenced = snaps.flatMap(n =>
      snapshotJson(dir, n).get("manifests").properties().asScala.map(_.getValue.asText))
    assert(jsonFiles(dir, "manifests") == referenced,
      "manifests/ must hold exactly the retained snapshots' manifests")
    table.expireSnapshots(keep = 4, graceMs = 0)
    assert(jsonFiles(dir, "snapshots") == snaps && jsonFiles(dir, "manifests") == referenced,
      "a second expiry must delete nothing")
    val live = table.currentSnapshot
    val cold = new LakeTable(spark, dir, numBuckets = 64).currentSnapshot
    assert(cold.version == live.version && cold.files == live.files &&
      cold.deltas == live.deltas && cold.fileRanges == live.fileRanges &&
      cold.manifestNames == live.manifestNames &&
      cold.appliedWatermark == live.appliedWatermark && cold.op == live.op)
  }

  test("fileStat merges MULTI-row-group key stats in unsigned UTF-8 byte order") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // block minima straddle the BMP boundary: "aﬀ…" sorts AFTER "a🙂…" in
    // UTF-16 code units but BEFORE it in UTF-8 bytes — a Java-String merge
    // returns a range inverted in the stats' collation
    val lig = "aﬀ" + ("x" * 24)
    val emoji = "a🙂" + ("x" * 24)
    assert(lig > emoji && LakeTable.utf8Compare(lig, emoji) < 0)
    val df = spark.range(0, 600, 1, 1)
      .select(when(col("id") < 300, lit(lig)).otherwise(lit(emoji)).as("conv_id"),
        col("id").as("_lsn"), (col("id") / 1000).cast("int").as("_bucket")) // all 0, not foldable
      .sortWithinPartitions("_bucket", "_lsn")
    val stats = new FileStatsTracker(df.drop("_bucket").schema, "conv_id")
    val out = tmpDir("mrg-stats") + "/t"
    org.apache.spark.sql.GraftShim.writeFiles(df, out, Some("_bucket"), Map(
      "parquet.block.size" -> "1024", "parquet.page.size" -> "256",
      "parquet.enable.dictionary" -> "false"), stats)
    val Seq(st) = stats.files
    // fixture sanity: the file really has row groups whose minima DIFFER
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetStats.open(s"$out/${st.path}", conf)
    val mins = try reader.getFooter.getBlocks.asScala.map(b =>
        new String(b.getColumns.asScala.find(_.getPath.toDotString == "conv_id").get
          .getStatistics.getMinBytes, java.nio.charset.StandardCharsets.UTF_8))
      finally reader.close()
    assert(mins.distinct.size >= 2, s"fixture needs straddling row groups, got $mins")
    assert(st.rows == 600L && st.keyMin.contains(lig) && st.keyMax.contains(emoji),
      s"merged range must follow UTF-8 byte order, got ${st.keyMin} .. ${st.keyMax}")
  }

  test("write stats: null keys and lsns ignored, keys in UTF-8 byte order, no key means no range") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val tracker = new FileStatsTracker(
      StructType(Seq(StructField("conv_id", StringType), StructField("_lsn", LongType))), "conv_id")
    val task = tracker.newTaskInstance()
    val attempt = "/t/data/commit-x/_temporary/0/_temporary/attempt_1"
    def row(k: String, l: java.lang.Long) = InternalRow(UTF8String.fromString(k), l)
    // "aﬀ…" sorts AFTER "a🙂…" in UTF-16 code units but BEFORE it in UTF-8
    // bytes, the order of parquet's binary stats and of the range pruning
    task.newFile(s"$attempt/_bucket=3/part-a.parquet")
    Seq(row("a🙂x", 7L), row(null, 2L), row("aﬀx", null), row("b", 9L))
      .foreach(task.newRow(s"$attempt/_bucket=3/part-a.parquet", _))
    task.newFile(s"$attempt/_bucket=5/part-b.parquet")
    Seq(row(null, null), row(null, 4L)).foreach(task.newRow(s"$attempt/_bucket=5/part-b.parquet", _))
    assert(tracker.files.isEmpty, "no stats before the job commits")
    tracker.processStats(Seq(task.getFinalStats(0L)), 0L)
    assert(tracker.files == Seq(
      FileStat(3, "_bucket=3/part-a.parquet", 4L, Some(2L), Some(9L), Some("aﬀx"), Some("b")),
      FileStat(5, "_bucket=5/part-b.parquet", 2L, Some(4L), Some(4L), None, None)))
  }

  test("bucket weights persist in the snapshot (post-restart salting is informed)") {
    val dir = tmpDir("weights-table")
    val table = new LakeTable(spark, dir, numBuckets = 2)
    table.create(Model.transcriptSchema)
    val df = Seq((1L, "I", "c1", 0, "user", "x"), (2L, "I", "c2", 1, "user", "y"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, df, 0L, CdcApply.Options(mergeOnRead = true))
    // "restart": a fresh table object over the same root sees the weights
    val reopened = new LakeTable(spark, dir, numBuckets = 2)
    val w = reopened.currentSnapshot.bucketWeights
    assert(w.nonEmpty && w.values.sum == 2L, s"expected persisted weights, got $w")
    // an EMPTY commit (no-op recovery / zero-survivor batch) must not zero
    // the skew signal the next real batch salts with
    reopened.commitDelta(1L, LakeTable.DeltaWrite(Map.empty, Nil, Nil))
    assert(reopened.currentSnapshot.bucketWeights == w,
      "empty commit must preserve bucket weights")
    assert(reopened.currentSnapshot.applied(1L))
  }

  private def cfBatch(rows: Seq[(Long, String, String, Int, String, String)]) =
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())

  test("readChangesSince: exactly the window's ingested events, across compaction") {
    val table = new LakeTable(spark, tmpDir("cf-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    val mor = CdcApply.Options(mergeOnRead = true, compactEvery = 100)
    CdcApply.applyBatch(table, cfBatch(Seq((1L, "I", "c1", 0, "user", "a1"))), 0L, mor)
    CdcApply.applyBatch(table, cfBatch(Seq((2L, "I", "c2", 0, "user", "b1"))), 1L, mor)
    val vMid = table.currentSnapshot.version
    // window: batch 3 (whose delta files a compaction then folds OUT of the
    // live snapshot — only the history walk can still see them), a
    // maintenance compaction, a schema-evolution commit, batches 4 and 5
    // (an update, an insert, and a delete tombstone)
    CdcApply.applyBatch(table, cfBatch(Seq(
      (3L, "U", "c1", 0, "user", "a2"), (4L, "I", "c3", 0, "user", "d1"))), 2L, mor)
    table.compact()
    table.evolveSchema(Seq(org.apache.spark.sql.types.StructField("note",
      org.apache.spark.sql.types.StringType)))
    CdcApply.applyBatch(table, cfBatch(Seq((5L, "I", "c1", 1, "tool", "a3"))), 3L, mor)
    CdcApply.applyBatch(table, cfBatch(Seq((6L, "D", "c2", 0, "user", ""))), 4L, mor)
    val got = table.readChangesSince(vMid)
      .select("_lsn", "_op", "conv_id", "turn_idx", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4)))
      .toSet
    assert(got == Set(
      (3L, "U", "c1", 0, "a2"), (4L, "I", "c3", 0, "d1"),
      (5L, "I", "c1", 1, "a3"), (6L, "D", "c2", 0, "")),
      s"change feed must be the window's raw events (incl. the compacted-away " +
        s"batch and the delete tombstone), got $got")
    // evolved column actually READS as null on pre-evolution files (not
    // just present in the schema — a scan-time strictness regression on
    // missing parquet columns would pass a columns-only check)
    val notes = table.readChangesSince(vMid).select("note")
      .collect().map(r => Option(r.getString(0)))
    assert(notes.length == 4 && notes.forall(_.isEmpty),
      "evolved column must collect as null on pre-evolution delta files")
    // boundary windows
    assert(table.readChangesSince(table.currentSnapshot.version).count() == 0,
      "empty window must yield no events")
    assert(table.readChangesSince(0L).count() == 6, "full window = all events")
    intercept[IllegalArgumentException](table.readChangesSince(-1L))
  }

  test("maintenance commits add no lineage, and feed counts equal footers") {
    val table = new LakeTable(spark, tmpDir("lin-maint"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    val mor = CdcApply.Options(mergeOnRead = true, compactEvery = 100)
    def batch(lsn0: Long, n: Int) = cfBatch((0 until n).map(i =>
      (lsn0 + i, "I", s"c${i % 7}", i, "user", s"t${lsn0 + i}")))
    val rows0 = CdcApply.applyBatch(table, batch(1L, 40), 0L, mor) // v1
    table.compact() // v2
    table.evolveSchema(Seq(org.apache.spark.sql.types.StructField("note",
      org.apache.spark.sql.types.StringType))) // v3
    table.rescale(8) // v4
    table.commitDelta(1L, LakeTable.DeltaWrite(Map.empty, Nil, Nil)) // v5
    val rows2 = CdcApply.applyBatch(table, batch(100L, 25), 2L, mor) // v6
    assert(table.currentVersion == 6L && rows0 == 40L && rows2 == 25L)

    // lineage: the two ingest batches, each with exactly one row per bucket
    // its write touched, however many commits inherited its snapshot
    val lin = table.lineage().collect().map(r => (r.getAs[Long]("batch_id"),
      r.getAs[Long]("partition_id"), r.getAs[Long]("events")))
    assert(lin.map(_._1).toSet == Set(0L, 2L), s"lineage batch ids: ${lin.toSeq}")
    Seq(0L -> rows0, 2L -> rows2).foreach { case (id, rows) =>
      val mine = lin.filter(_._1 == id)
      assert(mine.map(_._2).distinct.length == mine.length, s"batch $id: ${mine.toSeq}")
      assert(mine.map(_._3).sum == rows, s"batch $id: ${mine.toSeq}")
    }

    // the feed's per-version counts equal a footer read of each version's
    // added files (the reference); maintenance and the empty commit count 0
    val conf = spark.sessionState.newHadoopConf()
    val counts = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    table.changeInfoByVersion(0L, table.currentVersion) { (v, rows, files) =>
      counts += ((v, rows, files.map(f =>
        ParquetStats.rowCount(java.nio.file.Paths.get(table.root).resolve(f).toString, conf)).sum))
    }
    assert(counts.map(_._1) == (1L to 6L), counts)
    counts.foreach { case (v, rows, footer) =>
      assert(rows == footer, s"v$v: feed count $rows, footers $footer")
    }
    assert(counts.map(_._2) == Seq(rows0, 0L, 0L, 0L, 0L, rows2), counts)
  }

  test("readChangesSince rejects copy-on-write ingest in the window loudly") {
    val table = new LakeTable(spark, tmpDir("cf-cow"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    CdcApply.applyBatch(table, cfBatch(Seq((1L, "I", "c1", 0, "user", "x"))), 0L) // CoW
    val e = intercept[RuntimeException](table.readChangesSince(0L))
    assert(e.getMessage.contains("copy-on-write"),
      s"CoW window must reject with a diagnosis, got: ${e.getMessage}")
  }
}
