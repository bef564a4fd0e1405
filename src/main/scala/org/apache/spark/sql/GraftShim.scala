package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between user-facing `Column` and Catalyst `Expression` for the
  * graft engine's native expressions. Spark 4.x made this conversion
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so the
  * engine exposes it via this in-package shim — same technique widely used
  * by open-source Spark extension libraries. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a builder in the session's function registry so native
    * expressions are also callable from SQL. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Drain the listener bus (private[spark]) — lets tests assert on
    * listener-observed facts (e.g. job counts) without sleeps. */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Node names of the LIVE physical plan of `df` — AQE wrappers and query
    * stages expanded, but cache scans (InMemoryTableScan) treated as the
    * leaves they are at execution time. `InMemoryRelation.toString` prints
    * its cached lineage, so string-matching a plan cannot distinguish "will
    * re-execute" from "cached description" — this tree walk can (plan-shape
    * specs asserting an operator does NOT re-run above a cache). */
  def livePhysicalNodeNames(df: Dataset[_]): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan)
      case other => other +: other.children.flatMap(expand)
    }
    expand(df.queryExecution.executedPlan).map(_.nodeName)
  }

  /** A parquet scan over files the caller already knows (a lake manifest,
    * a change-feed window, a source log entry): the same rows and schema as
    * `spark.read.schema(schema).parquet(paths: _*)`, but built WITHOUT
    * listing. `DataFrameReader` resolves its paths through an
    * `InMemoryFileIndex`, which above `parallelPartitionDiscovery.threshold`
    * (32 paths) runs one Spark listing job — a task per path — just to stat
    * files whose names are already known. Here the driver stats each file
    * once through its Hadoop `FileSystem` and the relation reads from that
    * fixed file list: no job, no partition inference, the same pattern as
    * Delta's log-driven file index. A path may also name a flat directory
    * (a change-log segment, `CdcApply.replay`'s batch input): its visible
    * files are read, as `DataFrameReader` would; a subdirectory in it
    * fails. A missing path fails here with `DataFrameReader`'s
    * PATH_NOT_FOUND; an empty `paths` yields an empty scan of `schema`.
    * `isStreaming` tags the plan as a V1 streaming `Source.getBatch` result
    * (MicroBatchExecution asserts the flag). `HadoopFsRelation`/
    * `LogicalRelation`/`Dataset.ofRows` are `private[sql]`, hence this
    * in-package bridge. */
  def knownParquetDf(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String], isStreaming: Boolean = false): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val cs = spark.asInstanceOf[classic.SparkSession]
    val conf = cs.sparkContext.hadoopConfiguration
    val statuses = paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = try fs.getFileStatus(p) catch {
        case _: java.io.FileNotFoundException =>
          throw errors.QueryCompilationErrors.dataPathNotExistError(path) }
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(p).toSeq.filter { f =>
        // names starting with `_` or `.` are metadata, as in Spark's own listing
        val name = f.getPath.getName
        require(!f.isDirectory, s"knownParquetDf reads files or flat directories; $path " +
          s"holds the subdirectory $name")
        !name.startsWith("_") && !name.startsWith(".")
      }
    }
    val relation = HadoopFsRelation(new KnownFilesIndex(statuses),
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      dataSchema = schema.asNullable, // as DataSource.resolveRelation does
      bucketSpec = None, fileFormat = new ParquetFileFormat(), options = Map.empty)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(relation, isStreaming))
  }

  /** A `FileIndex` over a fixed list of parquet files (no partition
    * columns, nothing to refresh). Equal by file paths, as
    * `InMemoryFileIndex` is by root paths, so two scans of the same files
    * are the same plan to the `CacheManager` and to exchange reuse. */
  private final class KnownFilesIndex(statuses: Seq[org.apache.hadoop.fs.FileStatus])
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, PartitionDirectory}
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] = statuses.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(catalyst.InternalRow.empty,
        statuses.map(FileStatusWithMetadata(_))))
    override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: org.apache.spark.sql.types.StructType =
      new org.apache.spark.sql.types.StructType()
    override def equals(other: Any): Boolean = other match {
      case k: KnownFilesIndex => rootPaths.toSet == k.rootPaths.toSet
      case _ => false
    }
    override def hashCode(): Int = rootPaths.toSet.hashCode()
  }

  /** Release the storage behind a `localCheckpoint()`ed DataFrame — the
    * checkpoint persists an RDD[InternalRow] that is not registered with
    * the CacheManager, so `Dataset.unpersist` cannot reach it
    * (`LogicalRDD` is `private[sql]`, hence this in-package helper). */
  def unpersistLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** The file-stream source's durable per-batch file manifest
    * (`<checkpoint>/sources/0`), written by the source BEFORE a batch's
    * foreachBatch runs — the recovery journal of the pipelined streaming
    * apply. `private[sql]` in Spark, hence this in-package bridge. */
  def sourceBatchFiles(spark: SparkSession, checkpointRoot: String,
      batchId: Long): Seq[String] =
    sourceLogReader(spark, checkpointRoot)(batchId)

  /** A reusable reader over the source log — construct ONCE per stream and
    * reuse per batch: the log instance keeps an entry cache, so the hot
    * path avoids re-constructing the metadata log (and re-parsing compact
    * files, which carry the stream's full history) every micro-batch. */
  def sourceLogReader(spark: SparkSession, checkpointRoot: String): Long => Seq[String] = {
    import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
    val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
      s"$checkpointRoot/sources/0")
    // compact log files carry the full history; keep THIS batch's entries
    (batchId: Long) =>
      log.get(batchId).map(_.filter(_.batchId == batchId).map(_.path).toSeq)
        .getOrElse(Seq.empty)
  }

  /** All batches the file-stream source has planned, from `fromBatchId` on:
    * (batchId, files) in batch order.
    *
    * Deliberately avoids `FileStreamSourceLog.get(start, end)`: that range
    * API throws `IllegalStateException("batch N doesn't exist")` whenever
    * the range starts below the earliest RETAINED batch file — which
    * happens on a fresh checkpoint (empty log) and, fatally, after the
    * source log COMPACTS and expires old batch files (a months-long
    * stream's steady state). The round-5 exactly-once flake was exactly
    * this: recovery asked for the full range, the range API threw, and the
    * caller had no way to tell "empty journal" from "journal entries
    * expired into a compact file". Per-id `get` never throws (None for a
    * missing file), and every expired batch's entries live, tagged with
    * their original batchId, in the nearest compact file at or above it —
    * so this walk reconstructs the exact plan history regardless of
    * compaction state, and fails LOUDLY only when an id is genuinely
    * unrecoverable. */
  def sourceLogBatches(spark: SparkSession, checkpointRoot: String,
      fromBatchId: Long): Seq[(Long, Seq[String])] = {
    import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
    val dir = s"$checkpointRoot/sources/0"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val names = fs.listStatus(p).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    val ids = names.flatMap(n =>
      scala.util.Try(n.stripSuffix(".compact").toLong).toOption)
    if (ids.isEmpty) return Nil
    val latestId = ids.max
    val compactIds = names.filter(_.endsWith(".compact"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".compact").toLong).toOption)
      .sorted
    val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, dir)
    // cache compact reads: one compact file can back many expired ids
    val compactCache = scala.collection.mutable.Map[Long, Array[
      org.apache.spark.sql.execution.streaming.runtime.FileStreamSource.FileEntry]]()
    (math.max(0L, fromBatchId) to latestId).map { id =>
      val entries = log.get(id).orElse {
        compactIds.find(_ >= id).map { c =>
          compactCache.getOrElseUpdate(c, log.get(c).getOrElse(
            sys.error(s"source log compact batch $c listed but unreadable under $dir")))
        }
      }.getOrElse(sys.error(
        s"source log batch $id is above the recovery watermark but no " +
          s"batch file or compact file covers it under $dir"))
      id -> entries.filter(_.batchId == id).map(_.path).toSeq
    }
  }
}
