package graft.cdc

import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * The CDC apply pipeline — the engine's flagship operator chain, mapping
 * the reference's per-row pipeline (SURVEY.md §2.3) onto micro-batch
 * ingest:
 *
 *   raw change events
 *     → per-row mapping rules (reference create(), op 9 — compiled Columns)
 *     → validation / dead-letter null-skip (reference op 5)
 *     → LSN last-writer-wins per (conv_id, turn_idx)   (reference op 6 re-targeted)
 *     → salted two-stage aggregation for hot conversations
 *     → LakeTable MERGE (reference op 10 re-targeted; idempotent per op 11)
 *
 * Config notes for 100 TB: the only required shuffles per micro-batch are
 * (1) the LWW groupBy — map-side partial `max_by` collapses each task's
 * duplicate keys before the exchange, and the optional salted first stage
 * splits a hot key across `saltBuckets` reducers — and (2) the bucket
 * repartition inside the MERGE write. Everything upstream (rule columns,
 * validation filters) is narrow and whole-stage-codegen'd.
 */
object CdcApply {

  final case class Options(
      /** >1 enables the two-stage salted LWW aggregation inside the MERGE —
        * use when single keys are genuinely hot (a key holding a large
        * fraction of a batch). The default assumes key-level skew is mild
        * (a hot *conversation* spreads over its turn_idx values); the salt
        * stage doubles aggregation work when skew is absent. */
      saltBuckets: Int = 1,
      /** extra write-parallelism per bucket inside the MERGE. */
      mergeSaltPartitions: Int = 4,
      /** pre-aggregate the batch before the MERGE. Off by default: the
        * MERGE's own LWW over cur∪batch already collapses in-batch
        * duplicates in the same shuffle — a separate pre-dedup pass only
        * pays off when batches carry heavy duplication and the table is
        * much larger than the batch. */
      preDedup: Boolean = false,
      /** single-exchange sorted merge (see LakeTable.merge). */
      sortedMerge: Boolean = true,
      /** merge-on-read: append LWW'd deltas instead of rewriting the base
        * each batch (O(batch) write amplification instead of O(table));
        * read-side LWW + periodic compaction resolve. The throughput mode
        * for sustained high-rate ingest. */
      mergeOnRead: Boolean = false,
      /** compact when any bucket accumulates this many delta files. */
      compactEvery: Int = 8,
      /** CLUSTERED compaction: rewrite buckets range-partitioned on
        * (bucket, key...) so each base file covers a contiguous key
        * interval — point/interval reads then prune to O(1) files per
        * bucket via fileRanges instead of touching every salted slice.
        * Off by default: it adds a range-sampling pass per compaction
        * (A/B-measured; see BASELINE.md) and only read-heavy tables
        * need it. */
      clusteredCompaction: Boolean = false,
      /** run triggered compaction on the table's maintenance thread so it
        * never stalls the ordered-commit loop (the streaming/pipelined
        * default); false = inline, deterministic (tests). */
      backgroundCompact: Boolean = true,
      /** batches in flight (write dispatched, commit outstanding) for
        * merge-on-read replay and the pipelined stream ([[CdcPipeline]]);
        * commits stay strictly ordered. >1 overlaps the driver's per-batch
        * serial work (planning, snapshot IO, footer stats) with executor
        * work; 1 means serial. */
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
    * + (_lsn, _op). With `preDedup` also collapses to one max-lsn row per
    * key; otherwise the MERGE's own LWW aggregation does that in the same
    * shuffle as the table merge. */
  def prepareBatch(events: DataFrame, opts: Options = Options()): DataFrame = {
    val hasTool = events.columns.contains("tool")
    val withTool = if (hasTool) events else events.withColumn("tool", lit(null).cast("string"))
    val projected = withTool
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
    if (opts.preDedup) lwwDedup(projected, Model.keyCols, opts.saltBuckets)
    else projected
  }

  /** LSN-ordered last-writer-wins per key. With `saltBuckets>1` runs the
    * two-stage salted aggregation (north_star skew mitigation): stage 1
    * reduces each (key, salt) group — splitting a hot key across reducers —
    * stage 2 reduces the tiny per-salt winners. With skew-free data the
    * extra stage is ~free because stage-1 output is one row per
    * (key, salt). */
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
    // re-delivered 10^4+ times) should pre-collapse with
    // `Options.preDedup`/`saltBuckets` — the knobs that already exist for
    // exactly that shape.
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

  /** Single-exchange LWW dedup: repartition once by (partition expr,
    * salted key) — every row of a key lands in one task — then sort within
    * partitions by (key, lsn desc) and keep the first row per key in one
    * streaming pass. Halves the shuffle volume vs groupBy+repartition
    * (one exchange instead of two, no aggregation buffers) at the cost of
    * a row-encoder round trip in the keep-first pass.
    *
    * `partitionExprs` rides along so the output partitioning satisfies a
    * downstream partitioned write (e.g. the lake bucket column). */
  def lwwDedupSorted(df: DataFrame, keyCols: Seq[String],
      partitionExprs: Seq[Column], numPartitions: Int,
      byRange: Boolean = false): DataFrame = {
    // byRange: RANGE-partition on (partitionExprs, keyCols) instead of
    // hash — each output partition (and so each written file) covers a
    // CONTIGUOUS key interval, which is what makes per-file min/max
    // skipping stats selective (clustered compaction). Equal key tuples
    // land in one partition, so the keep-first LWW below is unaffected;
    // volume balance comes from Spark's range sampling instead of the
    // weight-proportional salt (a hot conversation still spreads, over
    // its turn_idx order). Costs one extra sampling pass over the input
    // — acceptable off the hot path, which is why the write path keeps
    // hash salting and only compaction clusters.
    val shuffled0 =
      if (byRange)
        df.repartitionByRange(numPartitions, (partitionExprs ++ keyCols.map(col)): _*)
      else df.repartition(numPartitions, partitionExprs: _*)
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
    dl.write.mode("overwrite").parquet(s"$dir/_batch_id=$batchId")
  }

  /** Apply one micro-batch into the table. Returns number of upsert rows
    * applied (0 when the batch was already applied — idempotent). */
  def applyBatch(table: LakeTable, events: DataFrame, batchId: Long,
      opts: Options = Options()): Long = {
    val t0 = System.nanoTime()
    // idempotence short-circuit up front: a replayed batch id skips ALL
    // work (dead-letter append, stats job, merge) — not just the commit
    if (table.currentSnapshot.applied(batchId)) return 0L
    opts.deadLetterDir.foreach(writeDeadLetters(events, batchId, _))
    val prepared = prepareBatch(events, opts)
    val batch = if (opts.preDedup)
      prepared.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else prepared
    try {
      if (opts.mergeOnRead) {
        // ONE-job micro-batch: the append reads nothing and needs no
        // pre-pass — lineage stats come from the parquet footers of the
        // written delta files (exact under retries), and skew salting uses
        // the previous batch's persisted weights (steady-state signal)
        val statsOpt = table.appendDelta(batch, Model.keyCols, batchId,
          saltPartitions = opts.mergeSaltPartitions,
          bucketWeights = table.currentSnapshot.bucketWeights)
        if (statsOpt.isDefined) maybeCompact(table, opts)
        val durMs = (System.nanoTime() - t0) / 1000000
        statsOpt.fold(0L) { stats =>
          table.bufferLineage(batchId, stats, durMs)
          stats.map(_._2).sum
        }
      } else {
        // copy-on-write MERGE. Adaptive pre-pass: when the last batch
        // touched most buckets (steady CDC state — every micro-batch fans
        // out over the whole key space) the narrow stats job is a wasted
        // serial pass, so the merge goes ONE-JOB whole-table; when batches
        // are narrow, the stats pass keeps the rewrite to the few touched
        // buckets. Lineage in one-job mode = rows per rewritten bucket
        // (footer stats); in two-job mode = batch events per bucket.
        val s0 = table.currentSnapshot
        val touchedFrac =
          if (s0.version == 0) 1.0
          else s0.bucketWeights.size.toDouble / math.max(1, s0.numBuckets)
        if (touchedFrac >= 0.5) {
          val statsOpt = table.merge(batch, Model.keyCols, batchId,
            saltPartitions = opts.mergeSaltPartitions,
            affectedHint = None,
            saltBuckets = opts.saltBuckets, sortedDedup = opts.sortedMerge,
            bucketWeights = s0.bucketWeights)
          val durMs = (System.nanoTime() - t0) / 1000000
          statsOpt.fold(0L) { stats =>
            table.bufferLineage(batchId, stats, durMs)
            stats.map(_._2).sum
          }
        } else {
          val stats = batch
            .groupBy(table.bucketOf(col("conv_id")).as("bucket"))
            .agg(count(lit(1)).as("n"), min("_lsn").as("lo"), max("_lsn").as("hi"))
            .collect()
            .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
          val applied = table.merge(batch, Model.keyCols, batchId,
            saltPartitions = opts.mergeSaltPartitions,
            affectedHint = Some(stats.map(_._1).toSet),
            saltBuckets = opts.saltBuckets, sortedDedup = opts.sortedMerge,
            bucketWeights = stats.map(s => s._1 -> s._2).toMap)
          val durMs = (System.nanoTime() - t0) / 1000000
          if (applied.isDefined) {
            table.bufferLineage(batchId, stats, durMs)
            stats.map(_._2).sum
          } else 0L
        }
      }
    } finally if (opts.preDedup) batch.unpersist(blocking = false)
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
      table.flushLineage()
    }

  /** Compaction trigger shared by the apply paths: background by default
    * (never stalls ordered commits), inline when the caller wants
    * deterministic timing. */
  private[cdc] def maybeCompact(table: LakeTable, opts: Options): Unit =
    if (opts.backgroundCompact)
      table.maybeCompactAsync(opts.compactEvery, opts.mergeSaltPartitions,
        clustered = opts.clusteredCompaction)
    else if (table.maxDeltaFiles >= opts.compactEvery)
      // same leveling as the background path: fold only the deep buckets
      table.compact(saltPartitions = opts.mergeSaltPartitions,
        minDeltaFiles = opts.compactEvery, clustered = opts.clusteredCompaction)
}
