package graft.cdc

import graft.SparkSpec
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.DataFrame

/** Property-style invariants of the apply pipeline (SURVEY.md §5.2):
  * the final table state is a pure function of the event SET — independent
  * of arrival order, batch segmentation, apply mode, and replays. Seeded
  * random cases rather than scalacheck generators so failures reproduce
  * exactly. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def randomEvents(seed: Long, n: Int): Seq[(Long, String, String, Int, String, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val op = rnd.nextInt(10) match { case 0 => "D"; case x if x < 4 => "U"; case _ => "I" }
      val conv = s"c${rnd.nextInt(8)}"
      val turn = rnd.nextInt(5)
      // ~10% duplicate-lsn redeliveries
      val lsn = if (i > 10 && rnd.nextInt(10) == 0) (i - 7).toLong else i.toLong
      val text = if (rnd.nextInt(30) == 0) "" else s"t-$lsn-$conv-$turn"
      (lsn, op, conv, turn, "user", text)
    }
  }

  private def toDf(rows: Seq[(Long, String, String, Int, String, String)]): DataFrame =
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("lsn") + 1700000000L))

  private def applyAll(rows: Seq[(Long, String, String, Int, String, String)],
      segments: Int, opts: CdcApply.Options): Map[(String, Int), String] = {
    val table = new LakeTable(spark, tmpDir("prop-table"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    val per = math.max(1, rows.size / segments)
    rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      CdcApply.applyBatch(table, toDf(chunk), i.toLong, opts)
    }
    table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(3))).toMap
  }

  test("final state is invariant under permutation, segmentation, and apply mode") {
    for (seed <- Seq(1L, 2L)) {
      val rows = randomEvents(seed, 400)
      val rnd = new scala.util.Random(seed + 100)
      val base = applyAll(rows, segments = 4, CdcApply.Options())
      // permuted arrival order (LSN total order decides, not arrival)
      assert(applyAll(rnd.shuffle(rows), 4, CdcApply.Options()) == base,
        s"seed=$seed: permutation changed state")
      // different segmentation (1 big batch vs many small)
      assert(applyAll(rows, 1, CdcApply.Options()) == base, s"seed=$seed: 1-segment")
      assert(applyAll(rows, 13, CdcApply.Options()) == base, s"seed=$seed: 13-segment")
      // merge-on-read ≡ copy-on-write
      assert(applyAll(rows, 4, CdcApply.Options(mergeOnRead = true)) == base,
        s"seed=$seed: MoR mode")
    }
  }

  test("replaying any batch prefix twice ≡ once (idempotence under at-least-once delivery)") {
    val rows = randomEvents(7L, 300)
    val table = new LakeTable(spark, tmpDir("prop-idem"), numBuckets = 2)
    table.create(Model.transcriptSchema)
    val chunks = rows.grouped(100).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      CdcApply.applyBatch(table, toDf(c), i.toLong)
      // redeliver every batch seen so far (at-least-once semantics)
      (0 to i).foreach(j => CdcApply.applyBatch(table, toDf(chunks(j)), j.toLong))
    }
    val expect = applyAll(rows, 3, CdcApply.Options())
    val got = table.read().collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(3))).toMap
    assert(got == expect)
  }

  test("lwwDedupSorted ≡ groupBy max_by, and runs WITHOUT an object-codec boundary") {
    import org.apache.spark.sql.functions._
    val rows = randomEvents(99L, 2000)
    val df = CdcApply.prepareBatch(toDf(rows))
      .withColumn("_bucket", pmod(xxhash64(col("conv_id"), lit(42)), lit(4)).cast("int"))
    val expect = CdcApply.lwwDedup(df, Model.keyCols, 1)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(6)).toMap
    // direct partition ids (the table write's slot packing) and range
    // partitioning (clustered compaction)
    val slot = pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(4)).cast("int")
    for ((how, id) <- Seq("by id" -> Some(slot), "by range" -> None)) {
      val sorted = CdcApply.lwwDedupSorted(df, Model.keyCols, Seq(col("_bucket")), 4,
        partitionId = id)
      val got = sorted.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(6)).toMap
      assert(got == expect, s"$how: keep-first must pick the max-lsn row per key")
      // the round-6 optimization: keep-first is a native codegen'd filter,
      // not a mapPartitions over external Rows — no object codec boundary
      val nodes = org.apache.spark.sql.GraftShim.livePhysicalNodeNames(sorted)
      assert(!nodes.exists(n => n.contains("SerializeFromObject") ||
        n.contains("DeserializeToObject") || n.contains("MapPartitions")),
        s"no object-codec boundary expected, plan nodes: $nodes")
      assert(nodes.exists(_.contains("Filter")), s"keep-first filter present: $nodes")
    }
  }
}
