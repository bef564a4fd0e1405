package graft.cdc

import graft.lake.{LakeTable, LocalFs}
import graft.model.Model
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The CDC apply pipeline — the engine's flagship operator chain, mapping
 * the reference's per-row pipeline (SURVEY.md §2.3) onto micro-batch
 * ingest:
 *
 *   raw change events
 *     → per-row mapping rules (reference create(), op 9 — compiled Columns)
 *     → validation / dead-letter null-skip (reference op 5)
 *     → LSN last-writer-wins per (conv_id, turn_idx)   (reference op 6 re-targeted)
 *     → LakeTable MERGE (reference op 10 re-targeted; idempotent per op 11)
 *
 * Config notes for 100 TB: the LWW runs inside the table write as a sort
 * within partitions and a streaming keep-first, which feed the
 * bucket-partitioned parquet write directly; everything upstream (rule
 * columns, validation filters) is narrow and whole-stage-codegen'd. A
 * write of several tasks first repartitions by (bucket, weight-salted
 * key), one exchange per micro-batch; a one-task write (a pipelined batch
 * whose share of the cores is one task, see [[CdcPipeline]]) has no
 * exchange and runs as one narrow stage. The exchange ships every row of a
 * key, so a redelivery storm (one key sent 10^5 times) is not bounded yet:
 * ROADMAP direction 5 adds an automatic partial-aggregation guard for it.
 */
object CdcApply {

  final case class Options(
      /** merge-on-read: append LWW'd deltas instead of rewriting the base
        * each batch (O(batch) write amplification instead of O(table));
        * read-side LWW + periodic compaction resolve. The throughput mode
        * for sustained high-rate ingest. */
      mergeOnRead: Boolean = false,
      /** compact (on the table's maintenance thread, so it never stalls
        * the ordered-commit loop) when any bucket accumulates this many
        * delta files. */
      compactEvery: Int = 8,
      /** CLUSTERED compaction: rewrite buckets range-partitioned on
        * (bucket, key...) so each base file covers a contiguous key
        * interval — point/interval reads then prune to O(1) files per
        * bucket via fileRanges instead of touching every salted slice.
        * Off by default: it adds a range-sampling pass per compaction
        * (A/B-measured; see BASELINE.md) and only read-heavy tables
        * need it. */
      clusteredCompaction: Boolean = false,
      /** batches in flight (write dispatched, commit outstanding) for
        * merge-on-read replay and the pipelined stream ([[CdcPipeline]]);
        * commits stay strictly ordered. >1 overlaps the driver's per-batch
        * serial work (planning, job setup and commit, snapshot IO) with
        * executor work; 1 means serial. Each batch in flight writes with
        * its share of the cores, `max(1, cores / pipelineDepth)` tasks; at
        * depth ≥ cores that is one task, and the write runs as one narrow
        * stage with no LWW exchange. TRADE: the share is fixed, so a batch
        * that runs alone in a deep pipeline (the last segment of a replay,
        * a lone stream batch) gets only `cores / pipelineDepth` tasks; in
        * steady state `pipelineDepth` batches share the cores between
        * them. */
      pipelineDepth: Int = 1,
      /** when set, rows failing validation are appended here (parquet,
        * partitioned by batch) instead of being silently dropped — the
        * dead-letter queue of the ingest pipeline. */
      deadLetterDir: Option[String] = None)

  /** Validation: key/meta columns always required; payload columns only for
    * non-deletes. ""/"NULL" are treated as missing (reference
    * definitions.h:6, simple_executor.cpp:400-409). */
  def validationFilter: Column = {
    def ok(c: String) = col(c).isNotNull && col(c).cast("string") =!= "" && col(c).cast("string") =!= "NULL"
    Seq("lsn", "op", "conv_id", "turn_idx").map(ok).reduce(_ && _) &&
      (col("op") === "D" || (ok("role") && ok("text"))) &&
      col("op").isin("I", "U", "D")
  }

  /** Rows rejected by validation — the dead-letter stream. */
  def deadLetters(events: DataFrame): DataFrame = events.filter(!validationFilter)

  /** Normalize a raw event batch to the table-write shape: public columns
    * + (_lsn, _op). The table write's own LWW exchange collapses each key
    * to its max-lsn row. */
  def prepareBatch(events: DataFrame): DataFrame = {
    val hasTool = events.columns.contains("tool")
    val withTool = if (hasTool) events else events.withColumn("tool", lit(null).cast("string"))
    withTool
      .filter(validationFilter)
      .select(
        col("conv_id").cast("string").as("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        col("role").cast("string").as("role"),
        col("text").cast("string").as("text"),
        col("tool").cast("string").as("tool"),
        col("ts").cast("timestamp").as("ts"),
        col("lsn").cast("long").as("_lsn"),
        col("op").cast("string").as("_op"))
  }

  /** LSN-ordered last-writer-wins per key over an arbitrary frame (the
    * table's read-side resolve and the `q_lww_dedup` query; the table write
    * uses [[lwwDedupSorted]]). With `saltBuckets>1` runs the two-stage
    * salted reduction: stage 1 reduces each (key, salt) group — splitting a
    * hot key across reducers — stage 2 reduces the tiny per-salt winners.
    * With skew-free data the extra stage is ~free because stage-1 output is
    * one row per (key, salt). */
  def lwwDedup(df: DataFrame, keyCols: Seq[String], saltBuckets: Int): DataFrame = {
    val valueCols = df.columns.toSeq
    val key = keyCols.map(col)
    // One exchange + ONE sort + native keep-first filter per stage. The
    // former `groupBy(max_by(struct(...)))` planned as SortAggregate —
    // string-typed aggregation buffers are not hash-aggregable — i.e. a
    // map-side sort, the exchange, AND a reduce-side sort, plus the
    // struct build/unwrap per row; the sorted form pays one sort and
    // streams through whole-stage codegen (A/B'd in the round-6 probe:
    // 0.34–0.45 s vs 0.5–2.2 s per 400k-row batch). Ties on (key, _lsn)
    // are immaterial by the CDC contract (an LSN redelivery carries an
    // identical payload). TRADE, stated honestly: the SortAggregate shape
    // collapsed duplicate keys map-side (shuffle ∝ distinct keys) at the
    // cost of sorting every batch twice; this shape shuffles every row
    // once and sorts once — the winner at this workload's ~10–20% in-batch
    // duplication. A batch with EXTREME per-key duplication (one key
    // re-delivered 10^4+ times) still shuffles every copy; the automatic
    // partial-aggregation guard for that shape is ROADMAP direction 5.
    def reduceOnce(d: DataFrame, groupCols: Seq[Column]): DataFrame =
      d.repartition(groupCols: _*)
        .sortWithinPartitions(groupCols.map(_.asc) :+ col("_lsn").desc: _*)
        .filter(graft.functions.KeepFirst.keep_first_of_run(groupCols: _*))
        .select(valueCols.map(col): _*)
    if (saltBuckets > 1) {
      val salted = df.withColumn("_salt", pmod(xxhash64(col("_lsn")), lit(saltBuckets)))
      reduceOnce(reduceOnce(salted, key :+ col("_salt")), key)
    } else reduceOnce(df, key)
  }

  /** Single-exchange LWW dedup: repartition once — every row of a key
    * lands in one task — then sort within partitions by (partition exprs,
    * key, lsn desc) and keep the first row per key in one streaming pass:
    * one exchange, no aggregation buffers. With `numPartitions == 1` the
    * repartition is a `coalesce(1)` instead: one task holds every row, so
    * the exchange would move nothing that the task does not already hold,
    * and the whole LWW (scan → sort → keep-first → write) runs as one
    * narrow stage — how a pipelined batch's one-task write runs (see
    * [[CdcPipeline]]).
    *
    * `partitionExprs` lead the sort so the output ordering satisfies a
    * downstream partitioned write (e.g. the lake bucket column).
    * `partitionId` (an int in `[0, numPartitions)`, constant per key) sends
    * each row to that partition verbatim (`Dataset.repartitionById`) — the
    * table write's packing of salt slices into one wave of tasks. Without
    * one the exchange RANGE-partitions on (partitionExprs, keyCols): each
    * output partition (and so each written file) covers a CONTIGUOUS key
    * interval, which is what makes per-file min/max skipping stats
    * selective (clustered compaction). Equal key tuples land in one
    * partition, so the keep-first LWW below is unaffected; volume balance
    * comes from Spark's range sampling instead of the weight-proportional
    * salt (a hot conversation still spreads, over its turn_idx order), at
    * the cost of one extra sampling pass over the input — acceptable off
    * the hot path, which is why only compaction clusters. */
  def lwwDedupSorted(df: DataFrame, keyCols: Seq[String],
      partitionExprs: Seq[Column], numPartitions: Int,
      partitionId: Option[Column] = None): DataFrame = {
    val shuffled0 =
      if (numPartitions == 1) df.coalesce(1) // every row in one task already: no exchange
      else partitionId match {
        case Some(id) => df.repartitionById(numPartitions, id)
        case None =>
          df.repartitionByRange(numPartitions, (partitionExprs ++ keyCols.map(col)): _*)
      }
    val shuffled = shuffled0
      .sortWithinPartitions(
        partitionExprs.map(_.asc) ++ keyCols.map(col(_).asc) :+ col("_lsn").desc: _*)
    // keep-first as a native stateful predicate: the stream stays inside
    // whole-stage codegen end to end (exchange → sort → filter → write) and
    // only the key columns are inspected. The former mapPartitions over
    // external Row objects decoded and re-encoded EVERY column of EVERY
    // row — a full Tungsten round trip on the hottest CDC path. The
    // expression is Nondeterministic (order-dependent state), so the
    // optimizer cannot push it below the run-establishing sort.
    shuffled.filter(
      graft.functions.KeepFirst.keep_first_of_run(keyCols.map(col): _*))
  }

  /** Append invalid rows to the batch-scoped dead-letter partition. */
  private[cdc] def writeDeadLetters(events: DataFrame, batchId: Long, dir: String): Unit = {
    val dl = deadLetters(events)
      .withColumn("_reject_reason",
        when(!col("op").isin("I", "U", "D"), "bad_op")
          .when(col("lsn").isNull || col("conv_id").isNull || col("turn_idx").isNull, "missing_key")
          .otherwise("missing_payload"))
    // per-batch partition dir with overwrite: a batch retried after a
    // crash between this write and the snapshot commit REPLACES its dead
    // letters instead of duplicating them — the DLQ inherits the
    // pipeline's exactly-once (the `_batch_id=` layout reads back as a
    // partition column)
    dl.write.options(LocalFs.writeOptions).mode("overwrite").parquet(s"$dir/_batch_id=$batchId")
  }

  /** Apply one micro-batch into the table. Returns the rows written (0
    * when the batch was already applied — idempotent): for merge-on-read
    * the batch's LWW'd rows; for copy-on-write every row of the rewritten
    * buckets — the merge rewrites every bucket holding data, so this is the
    * table's post-merge row count, not the batch's event count (per-batch
    * event counts are ROADMAP direction 3). Its commit records it as lineage.
    * Merge-on-read appends the LWW'd batch as delta files; copy-on-write
    * runs the table's one-job MERGE. Both are one Spark job, skew-salted by
    * the previous batch's persisted bucket weights, and both count from
    * the stats their write tasks counted for the files they wrote. */
  def applyBatch(table: LakeTable, events: DataFrame, batchId: Long,
      opts: Options = Options()): Long = {
    // idempotence short-circuit up front: a replayed batch id skips ALL
    // work (dead-letter append, merge) — not just the commit
    if (table.currentSnapshot.applied(batchId)) return 0L
    opts.deadLetterDir.foreach(writeDeadLetters(events, batchId, _))
    val batch = prepareBatch(events)
    val weights = table.currentSnapshot.bucketWeights
    val statsOpt =
      if (opts.mergeOnRead) {
        val s = table.appendDelta(batch, Model.keyCols, batchId, bucketWeights = weights)
        if (s.isDefined) maybeCompact(table, opts)
        s
      } else table.merge(batch, Model.keyCols, batchId, bucketWeights = weights)
    statsOpt.fold(0L)(_.map(_._2).sum)
  }

  /** Batch replay: apply a sequence of log-segment directories in order,
    * segment i as batch id i. Merge-on-read replay runs through a
    * [[CdcPipeline]] (up to `pipelineDepth` batches in flight, ordered
    * commits); copy-on-write replay stays a serial loop, since each merge
    * reads the table and leaves nothing to overlap. */
  def replay(spark: SparkSession, table: LakeTable, segments: Seq[String],
      opts: Options = Options()): Unit =
    if (opts.mergeOnRead) {
      val pipeline = new CdcPipeline(spark, table, i => Seq(segments(i.toInt)), opts)
      try {
        segments.indices.foreach { i =>
          pipeline.submit(spark.read.schema(Model.changeEventSchema).parquet(segments(i)),
            i.toLong)
        }
        pipeline.close()
      } catch { case t: Throwable => pipeline.abort(); throw t }
    } else {
      segments.zipWithIndex.foreach { case (seg, i) =>
        applyBatch(table, spark.read.parquet(seg), i.toLong, opts)
      }
      table.awaitMaintenance()
    }

  /** Compaction trigger shared by the apply paths: runs on the table's
    * maintenance thread, so it never stalls ordered commits. */
  private[cdc] def maybeCompact(table: LakeTable, opts: Options): Unit =
    table.maybeCompactAsync(opts.compactEvery, clustered = opts.clusteredCompaction)
}
