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
      bucketSpec = None, fileFormat = new PlainConfParquet, options = Map.empty)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(relation, isStreaming))
  }

  /** Parquet reads whose broadcast Hadoop conf is a [[plainConf]] copy.
    * Equal to every `ParquetFileFormat` (its `equals`), so a cached scan
    * still serves the next identical one. */
  private final class PlainConfParquet
      extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
    override def buildReaderWithPartitionValues(sparkSession: SparkSession,
        dataSchema: types.StructType, partitionSchema: types.StructType,
        requiredSchema: types.StructType, filters: Seq[sources.Filter],
        options: Map[String, String], hadoopConf: org.apache.hadoop.conf.Configuration)
        : org.apache.spark.sql.execution.datasources.PartitionedFile =>
          Iterator[catalyst.InternalRow] =
      super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
        requiredSchema, filters, options, plainConf(hadoopConf))
  }

  /** `conf`'s keys and values without their provenance. A session conf
    * records, per key, the resource names it came from, and
    * `Configuration.write` ships them as one gzip'd string array per key:
    * for the 1104-key session conf, `new JobConf(c)` + `write` took 9.7 ms
    * and `readFields` 14.1 ms, against 0.9 and 1.2 ms for this copy (one
    * thread, 4 vCPU; making the copy costs ~0.5 ms). Every write task
    * deserializes its job's conf twice and every scan broadcast serializes
    * it once. The copy is a `Configuration(false)`, so
    * it never re-reads Hadoop's XML defaults, and copies of it (`new
    * JobConf(c)`, Spark's `Job.getInstance`) keep the empty provenance. */
  def plainConf(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.conf.Configuration = new PlainConf(conf)

  private final class PlainConf(src: org.apache.hadoop.conf.Configuration)
      extends org.apache.hadoop.conf.Configuration(false) {
    setClassLoader(src.getClassLoader)
    private val props = getProps
    src.iterator().forEachRemaining(e => props.setProperty(e.getKey, e.getValue))
  }

  /** Execution name of [[writeFiles]]' SQL executions, as a
    * `QueryExecutionListener` sees it. */
  val WriteExecutionName = "graftWriteFiles"

  /** Writes `df` as parquet under `outDir`, one `partitionCol=v` directory
    * per value (or straight into `outDir` with no `partitionCol`, one file
    * per non-empty task), through Spark's `FileFormatWriter` and the
    * session's file commit protocol: the write `df.write.options(options)
    * .partitionBy(partitionCol).parquet(outDir)` does on a new directory,
    * but with the job's Hadoop conf a [[plainConf]] copy of the session's
    * (with `options`), and with `stats` beside Spark's own task-metrics
    * tracker, which gets the same conf. `stats` see only committed task
    * attempts. `df`'s plan must already be ordered by `partitionCol`:
    * otherwise the writer would sort every row a second time, out of sight
    * of the plan, so the write fails instead. Runs as one SQL execution of
    * `df`'s plan, named [[WriteExecutionName]], so its stages carry the
    * caller's call site. This is how Delta's `TransactionalWrite.writeFiles`
    * writes. */
  def writeFiles(df: DataFrame, outDir: String, partitionCol: Option[String],
      options: Map[String, String],
      stats: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker*): Unit = {
    import org.apache.spark.internal.io.FileCommitProtocol
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = plainConf(cs.sessionState.newHadoopConfWithOptions(options))
    val path = new org.apache.hadoop.fs.Path(outDir)
    val qualified = path.getFileSystem(conf).makeQualified(path).toString
    val committer = FileCommitProtocol.instantiate(cs.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString, outputPath = qualified)
    val qe = df.queryExecution
    val optimized = qe.optimizedPlan
    // the optimizer drops the sort of a plan of at most one row per partition
    partitionCol.foreach(pc => require(optimized.maxRowsPerPartition.exists(_ <= 1) ||
      optimized.output.find(_.name == pc).exists(p =>
        optimized.outputOrdering.headOption.exists(_.child.semanticEquals(p))),
      s"writeFiles: the plan must be ordered by $pc first, is by " +
        optimized.outputOrdering.mkString(", ")))
    SQLExecution.withNewExecutionId(qe, Some(WriteExecutionName)) {
      val plan = qe.executedPlan
      FileFormatWriter.write(cs, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified, Map.empty, plan.output), conf,
        partitionColumns = plan.output.filter(a => partitionCol.contains(a.name)),
        bucketSpec = None,
        statsTrackers = new BasicWriteJobStatsTracker(
          new org.apache.spark.util.SerializableConfiguration(conf),
          BasicWriteJobStatsTracker.metrics) +: stats,
        options = options)
    }
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

  /** `df`'s rows, computed once and persisted at `level`, behind a plan
    * that is a single scan of them (a `LogicalRDD`): later plans over the
    * result stay O(1) in size however large `df`'s plan is. The rows are
    * `df`'s executed plan's internal rows, copied (operators reuse their
    * output row objects). Unlike `localCheckpoint`, the persisted RDD keeps
    * its lineage, so a lost or evicted block is recomputed from `df`
    * instead of failing the job. Release it with [[unpersistTruncated]]
    * (`LogicalRDD` is `private[sql]`, hence this in-package bridge). */
  def persistTruncated(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    rdd.count()
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }

  /** Release the storage behind a [[persistTruncated]] DataFrame — its
    * persisted RDD[InternalRow] is not registered with the CacheManager,
    * so `Dataset.unpersist` cannot reach it. */
  def unpersistTruncated(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** A reader from batch id to files over the file-stream source's durable
    * per-batch file manifest (`<checkpoint>/sources/0`), written by the
    * source BEFORE a batch's foreachBatch runs — the recovery journal of
    * the pipelined streaming apply. `private[sql]` in Spark, hence this
    * in-package bridge. Construct it ONCE per stream and reuse it per
    * batch: the log instance keeps an entry cache, so the hot
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
