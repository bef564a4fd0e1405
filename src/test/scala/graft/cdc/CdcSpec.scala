package graft.cdc

import graft.SparkSpec
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.Row

/** Plain-Scala oracle: independent last-writer-wins fold of the log
  * (SURVEY.md §5.1) — collections code, no Spark, no shared logic with the
  * engine beyond the validation contract. */
object Oracle {
  final case class Ev(lsn: Long, op: String, ts: java.sql.Timestamp, convId: String,
      turnIdx: Int, role: String, text: String, tool: Option[String])

  def valid(e: Ev): Boolean = {
    def ok(s: String) = s != null && s.nonEmpty && s != "NULL"
    ok(e.op) && ok(e.convId) && Set("I", "U", "D").contains(e.op) &&
      (e.op == "D" || (ok(e.role) && ok(e.text)))
  }

  /** Final state: per key, the max-lsn valid event; deletes → absent. */
  def finalState(events: Seq[Ev]): Map[(String, Int), Ev] =
    events.filter(valid)
      .groupBy(e => (e.convId, e.turnIdx))
      .flatMap { case (k, evs) =>
        val w = evs.maxBy(_.lsn)
        if (w.op == "D") None else Some(k -> w)
      }
}

class CdcSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def collectEvents(cfg: ChangeLogGen.Config): Seq[Oracle.Ev] =
    ChangeLogGen.events(spark, cfg).collect().toSeq.map { r =>
      Oracle.Ev(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getString(6), Option(r.getString(7)))
    }

  test("writeLog: each segment holds filesPerSegment files and exactly events() of its range") {
    val cfg = ChangeLogGen.Config(numEvents = 3000, numConversations = 40, maxTurns = 8)
    val dir = tmpDir("log-segments")
    // 3 segments of 1000 events, cut again at the evolution point (1200)
    val ranges = Seq((0L, 1000L), (1000L, 1200L), (1200L, 2000L), (2000L, 3000L))
    def parquetFiles(seg: String): Int = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(seg))
      try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally st.close()
    }
    // the second write overwrites the first, with fewer files
    Seq(4, 2).foreach { files =>
      val segs = ChangeLogGen.writeLog(spark, dir, cfg, numSegments = 3, filesPerSegment = files)
      assert(segs.size == ranges.size)
      segs.zip(ranges).foreach { case (seg, (lo, hi)) =>
        val expect = ChangeLogGen.events(spark, cfg, lo, hi, withToolCol = lo >= 1200)
        val got = spark.read.parquet(seg)
        assert(got.columns.toSeq == expect.columns.toSeq, seg)
        assert(got.collect().map(_.toString).sorted.toSeq ==
          expect.collect().map(_.toString).sorted.toSeq, s"$seg holds events [$lo, $hi)")
        assert(parquetFiles(seg) == files, seg)
      }
    }
  }

  test("generator is deterministic and parallelism-independent") {
    val cfg = ChangeLogGen.Config(numEvents = 5000, numConversations = 50, maxTurns = 16)
    val a = ChangeLogGen.events(spark, cfg).repartition(1).collect().map(_.toString).sorted
    val b = ChangeLogGen.events(spark, cfg).repartition(7).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
    // adversarial properties present
    val evs = collectEvents(cfg)
    assert(evs.groupBy(_.lsn).exists(_._2.size > 1), "expected duplicate lsn deliveries")
    assert(evs.exists(_.op == "D"), "expected deletes")
    assert(evs.exists(e => e.text == "" || e.text == "NULL"), "expected invalid rows")
    val hot = evs.count(_.convId == "conv-0000000").toDouble / evs.size
    assert(hot > 0.05, s"expected hot conversation, got $hot")
  }

  test("batch replay equals oracle final state; re-apply is idempotent (E2E)") {
    val cfg = ChangeLogGen.Config(numEvents = 20000, numConversations = 100, maxTurns = 24)
    val logDir = tmpDir("graft-log")
    val tableDir = tmpDir("graft-table")
    val segments = ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 5)

    val table = new LakeTable(spark, tableDir, numBuckets = 8)
    table.create(Model.transcriptSchema)
    CdcApply.replay(spark, table, segments)

    val got = table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3), Option(r.getString(4)))))
      .toMap
    val expect = Oracle.finalState(collectEvents(cfg))
      .map { case (k, e) => k -> ((e.role, e.text, e.tool)) }
    assert(got.size == expect.size,
      s"row count mismatch: got ${got.size}, expected ${expect.size}")
    assert(got == expect)

    // idempotence: replaying every batch again must not change state
    CdcApply.replay(spark, table, segments)
    val again = table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3), Option(r.getString(4)))))
      .toMap
    assert(again == expect)
  }

  test("schema evolution: tool column appears mid-log, early rows read null") {
    val cfg = ChangeLogGen.Config(numEvents = 4000, numConversations = 2000,
      maxTurns = 64, evolveFrac = 0.5)
    val logDir = tmpDir("graft-log-evo")
    val tableDir = tmpDir("graft-table-evo")
    val segments = ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 4)
    // first segments physically lack `tool`
    val seg0Schema = spark.read.parquet(segments.head).schema.fieldNames.toSet
    assert(!seg0Schema.contains("tool"))
    val segLastSchema = spark.read.parquet(segments.last).schema.fieldNames.toSet
    assert(segLastSchema.contains("tool"))

    val table = new LakeTable(spark, tableDir, numBuckets = 4)
    table.create(org.apache.spark.sql.types.StructType(
      Model.transcriptSchema.fields.filterNot(_.name == "tool"))) // pre-evolution table
    CdcApply.replay(spark, table, segments)
    assert(table.read().schema.fieldNames.contains("tool"))
    val expect = Oracle.finalState(collectEvents(cfg))
    assert(table.read().count() == expect.size)
    val withTool = table.read().filter($"tool".isNotNull).count()
    assert(withTool > 0, "expected some tool values after evolution")
  }

  test("LWW picks max lsn under shuffled arrival order and salting") {
    val df = Seq(
      (1L, "I", "c1", 0, "user", "old"),
      (9L, "U", "c1", 0, "user", "new"),
      (5L, "U", "c1", 0, "user", "mid"),
      (3L, "I", "c2", 1, "user", "only")
    ).toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    val out = CdcApply.lwwDedup(CdcApply.prepareBatch(df), Model.keyCols, 4)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().toSet
    assert(out == Set(("c1", 0, "new"), ("c2", 1, "only")))
  }

  test("tombstones: late event below delete lsn cannot resurrect a row") {
    val tableDir = tmpDir("graft-table-ts")
    val table = new LakeTable(spark, tableDir, numBuckets = 2)
    table.create(Model.transcriptSchema)
    def batch(rows: Seq[(Long, String, String, Int, String, String)]) =
      rows.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
        .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, batch(Seq((10L, "I", "c1", 0, "user", "hello"))), 0L)
    CdcApply.applyBatch(table, batch(Seq((20L, "D", "c1", 0, null, null))), 1L)
    // late delivery of an UPDATE with lsn < delete lsn, in a later batch
    CdcApply.applyBatch(table, batch(Seq((15L, "U", "c1", 0, "user", "late"))), 2L)
    assert(table.read().count() == 0, "deleted row must stay deleted")
    // but a genuinely newer insert re-creates it
    CdcApply.applyBatch(table, batch(Seq((30L, "I", "c1", 0, "user", "back"))), 3L)
    val rows = table.read().select("text").as[String].collect()
    assert(rows.toSeq == Seq("back"))
  }

  test("merge-on-read mode: replay equality, read-side resolution, compaction") {
    val cfg = ChangeLogGen.Config(numEvents = 15000, numConversations = 60, maxTurns = 16)
    val logDir = tmpDir("mor-log")
    val segments = ChangeLogGen.writeLog(spark, logDir, cfg, numSegments = 5)
    val expect = Oracle.finalState(collectEvents(cfg))
      .map { case (k, e) => k -> ((e.role, e.text)) }

    val table = new LakeTable(spark, tmpDir("mor-table"), numBuckets = 4)
    table.create(Model.transcriptSchema)
    // compactEvery high → all batches stay as deltas; read must resolve
    CdcApply.replay(spark, table, segments,
      CdcApply.Options(mergeOnRead = true, compactEvery = 100))
    assert(table.maxDeltaFiles > 0, "expected outstanding deltas")
    def state() = table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3)))).toMap
    assert(state() == expect, "read-side LWW over base+deltas")

    // compaction folds deltas; state unchanged
    table.compact()
    assert(table.maxDeltaFiles == 0)
    assert(state() == expect, "state preserved across compaction")

    // tombstone GC: deletes below the replay watermark disappear physically
    val tombstonesBefore = table.readFull().filter($"_op" === "D").count()
    assert(tombstonesBefore > 0, "generator produces deletes")
    val del = Seq((9999999L, "D", "conv-0000001", 0, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, del, 10000L, CdcApply.Options(mergeOnRead = true, compactEvery = 100))
    table.compact(dropTombstonesBelowLsn = Some(Long.MaxValue))
    assert(table.readFull().filter($"_op" === "D").count() == 0,
      s"tombstones GC'd (before: $tombstonesBefore)")

    // auto-compaction path: low compactEvery keeps delta count bounded
    val table2 = new LakeTable(spark, tmpDir("mor-table2"), numBuckets = 4)
    table2.create(Model.transcriptSchema)
    CdcApply.replay(spark, table2, segments,
      CdcApply.Options(mergeOnRead = true, compactEvery = 2))
    val st2 = table2.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3)))).toMap
    assert(st2 == expect)
  }

  test("dead letters: invalid rows captured with reasons, valid rows applied") {
    val tableDir = tmpDir("dl-table")
    val dlDir = tmpDir("dl-out") + "/dl"
    val table = new LakeTable(spark, tableDir, numBuckets = 2)
    table.create(Model.transcriptSchema)
    val df = Seq(
      (1L, "I", "c1", 0, "user", "ok"),
      (2L, "X", "c1", 1, "user", "bad op"),
      (3L, "I", "c2", 0, "user", ""),      // empty text
      (4L, "I", null.asInstanceOf[String], 0, "user", "no key"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, df, 0L, CdcApply.Options(deadLetterDir = Some(dlDir)))
    assert(table.read().count() == 1)
    val dl = spark.read.parquet(dlDir)
    val reasons = dl.select("lsn", "_reject_reason").as[(Long, String)].collect().toMap
    assert(reasons == Map(2L -> "bad_op", 3L -> "missing_payload", 4L -> "missing_key"))
    // replayed batch id: no duplicate dead letters, no state change
    CdcApply.applyBatch(table, df, 0L, CdcApply.Options(deadLetterDir = Some(dlDir)))
    assert(spark.read.parquet(dlDir).count() == 3)
  }

  test("lineage rows emitted per batch/bucket") {
    val tableDir = tmpDir("graft-table-lin")
    val table = new LakeTable(spark, tableDir, numBuckets = 2)
    table.create(Model.transcriptSchema)
    val df = Seq((1L, "I", "c1", 0, "user", "x"), (2L, "I", "c2", 0, "user", "y"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    CdcApply.applyBatch(table, df, 0L)
    val lin = table.lineage().collect()
    assert(lin.nonEmpty)
    val cols = table.lineage().schema.fieldNames.toSet
    assert(Set("batch_id", "partition_id", "events", "lsn_min", "lsn_max", "duration_ms").subsetOf(cols))
  }

  test("copy-on-write applyBatch counts the rows it wrote, not the batch's events") {
    val table = new LakeTable(spark, tmpDir("graft-table-cow-rows"), numBuckets = 8)
    table.create(Model.transcriptSchema)
    val ts = org.apache.spark.sql.functions.current_timestamp()
    val base = (0 until 100).map(i => (i.toLong, "I", f"c$i%02d", 0, "user", s"t$i"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text").withColumn("ts", ts)
    assert(CdcApply.applyBatch(table, base, 0L) == 100)
    val update = Seq((1000L, "U", "c07", 0, "assistant", "edited"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text").withColumn("ts", ts)
    // the one-job merge rewrites every bucket holding data, so the count is
    // the table's post-merge row count (ROADMAP direction 2 adds per-batch
    // event counts as commit metrics)
    assert(CdcApply.applyBatch(table, update, 1L) == 100)
    assert(table.read().count() == 100)
    val m = table.ingestMetrics().where("batch_id = 1").select("events").as[Long].collect()
    assert(m.toSeq == Seq(100L))
  }
}
