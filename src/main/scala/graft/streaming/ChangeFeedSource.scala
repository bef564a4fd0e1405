package graft.streaming

import graft.lake.{LakeTable, LocalFs}
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, GraftShim, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Streaming change-feed source over a [[graft.lake.LakeTable]] — the
  * CDC-OUT half of the engine (Delta Lake "change data feed" / Iceberg
  * incremental-read analog): `spark.readStream.format("graft-changes")
  * .option("path", tableRoot)` tails the table's commit history and emits
  * every change event — upserts AND delete tombstones, public columns plus
  * `_lsn`/`_op` — exactly once, so a downstream incremental consumer
  * (derived table, feature refresh, index build, replication) processes
  * each event once instead of re-scanning the table.
  *
  * Offset axis = snapshot VERSION (durable, monotonic, already fsynced by
  * the table's own commit protocol), so the source needs no state of its
  * own: a micro-batch is the half-open version window `(start, end]`, its
  * data exactly the delta files those commits added
  * ([[LakeTable.changeFilesBetween]] — a driver-side metadata walk, no
  * Spark job), read as ONE distributed parquet scan with no shuffle.
  * Re-planning any window is deterministic because snapshot history is
  * immutable — together with Structured Streaming's checkpointed offsets
  * that gives end-to-end exactly-once to an idempotent sink.
  *
  * Scale posture (10^10 events): per-trigger driver cost is O(window)
  * snapshot JSON reads and executor cost is O(window's new data); nothing
  * is proportional to table size or total history. `maxVersionsPerTrigger`
  * is the admission-control knob bounding a cold start (a consumer far
  * behind the head replays in bounded micro-batches instead of one giant
  * batch). Events are raw — NOT LWW-deduped, unordered within the batch —
  * consumers fold with max-`_lsn` per key exactly like the table's own
  * merge (graft.cdc.CdcApply.lwwDedup), never apply in encounter order.
  *
  * Bounds, all loud (same contract as [[LakeTable.readChangesSince]]): the
  * consumer must stay within snapshot retention (an expired start version
  * errors); a copy-on-write ingest commit in the window errors (its events
  * are folded into rewritten base files and unrecoverable from metadata);
  * the schema is pinned at stream start (Structured Streaming fixes a
  * query's schema) — older files read evolved columns as null, columns
  * evolved AFTER stream start appear on restart.
  */
class ChangeFeedSource(spark: SparkSession, table: LakeTable,
    startingVersion: Long, maxVersionsPerTrigger: Option[Long],
    maxRowsPerTrigger: Option[Long] = None)
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val log = LogManager.getLogger(classOf[ChangeFeedSource])
  private val pinnedSchema: StructType = table.changeSchema

  /** version → (exact change-event count, files added) for that commit
    * (counts from each commit's batch record; snapshots are immutable).
    * Filled in chunks during row-based admission, read back by `getBatch`
    * (saving the window a second history walk), pruned below each planned
    * offset — size stays O(versions examined but not yet consumed), and
    * each snapshot is read for its count ONCE over the stream's lifetime. */
  private val infoByVersion =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, (Long, Seq[String])]()
  /** Versions of row counts to prefetch per walk — amortizes the walk's
    * snapshot-directory listing over many admission decisions. */
  private val rowWalkChunk = 64L

  override def schema: StructType = pinnedSchema

  /** Trigger.AvailableNow: process everything committed up to the prepare
    * call, then stop — commits racing the drain are left for the next run. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.currentVersion)

  /** The engine hands `getDefaultReadLimit` back to `latestOffset`
    * verbatim; the version cap is applied there from the option directly,
    * so the limit's row units are advisory only. */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Admission control (the FileStreamSource pattern): `startOffset` is
    * the engine's last planned offset, null on a fresh stream. Returning
    * null/`startOffset` plans no batch; otherwise the next batch covers
    * `(startOffset, returned]`. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(startOffset).map(versionOf).getOrElse(startingVersion)
    val cur = availableNowCap.fold(table.currentVersion)(math.min(_, table.currentVersion))
    // saturating cap: from + m overflows Long for an "effectively
    // unbounded" m (e.g. Long.MaxValue) and would silently stall the
    // stream (negative end <= from forever); cur - from is overflow-free
    // (0 <= from <= cur)
    val byVersions = maxVersionsPerTrigger.fold(cur)(m =>
      if (m >= cur - from) cur else from + m)
    val end = maxRowsPerTrigger match {
      case None => byVersions
      case Some(cap) => admitByRows(from, byVersions, cap)
    }
    if (end <= from) startOffset else LongOffset(end)
  }

  /** Row-based admission: extend the window version by version while the
    * accumulated EXACT change-event count stays within `cap`. The
    * at-least-one floor counts only row-CARRYING versions (zero-event
    * compact/schema commits ride along for free and never form an empty
    * batch of their own), so a single oversized commit is admitted alone —
    * it can't be split, offsets are commit-aligned. Counts come from
    * [[LakeTable.changeInfoByVersion]] commit records, cached per version and
    * prefetched `rowWalkChunk` versions at a time so a far-behind consumer
    * doesn't pay one history walk per admission step. A walk error
    * (CoW commit) past the FIRST row-carrying version closes the
    * window early: everything deliverable before the bad commit is
    * delivered, and the error re-fires loudly once that commit heads the
    * window. */
  private def admitByRows(from: Long, hardEnd: Long, cap: Long): Long = {
    pruneInfoCache(from)
    var v = from
    var rows = 0L
    while (v < hardEnd) {
      val r =
        try infoOf(v + 1, hardEnd)._1
        catch {
          // early window closure is only the INTENDED behavior for the
          // walk's own error shapes (CoW commit ahead); a transient
          // infrastructure error (snapshot IO) must not be silently folded
          // into a shorter window, so say which error closed it
          case scala.util.control.NonFatal(e) if rows > 0 =>
            log.warn("row admission stopped at " +
              s"version $v: walking v${v + 1} failed " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); delivering " +
              "the window admitted so far — the error re-fires loudly if " +
              s"v${v + 1} heads the next window")
            return v
        }
      if (rows > 0 && rows + r > cap) return v
      v += 1; rows += r
    }
    v
  }

  private def infoOf(v: Long, hardEnd: Long): (Long, Seq[String]) = {
    val got = infoByVersion.get(v)
    if (got != null) got
    else {
      val hi = math.min(v + rowWalkChunk - 1, hardEnd)
      // the prefetch window may reach past the versions that end up
      // admitted; a CoW commit AHEAD of the needed version must not
      // fail planning of deliverable versions. The walk caches each version
      // as it reads it, so a failure past v keeps v and every version
      // before the bad commit (the next admission steps are cache hits); a
      // failure AT v is real and propagates
      try table.changeInfoByVersion(v - 1, hi) { (ver, rows, files) =>
        infoByVersion.put(ver, (rows, files))
      } catch { case _: Exception if infoByVersion.containsKey(v) => () }
      infoByVersion.get(v)
    }
  }

  /** Consumed versions never need their entries again (offsets only move
    * forward); without the prune a long tail would hold one entry per
    * lifetime commit. */
  private def pruneInfoCache(below: Long): Unit =
    infoByVersion.keySet.removeIf(k => k.longValue <= below)

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def initialOffset(): OffsetV2 = LongOffset(startingVersion)

  override def deserializeOffset(json: String): OffsetV2 = LongOffset(json.trim.toLong)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val startV = start.map(versionOf).getOrElse(startingVersion)
    val endV = versionOf(end)
    // recovery replays of an already-committed window and degenerate
    // (empty/backwards) ranges both resolve to an empty batch of the
    // pinned schema rather than an error — restart must be a no-op
    val files =
      if (endV <= startV) Nil
      else {
        // row-based admission already walked this window — reuse its
        // per-version file lists instead of a second history walk; any
        // cache miss (no row admission, recovery replay) falls back to
        // the walk, which returns the identical deterministic result
        val cached = (startV + 1 to endV).iterator
          .map(v => infoByVersion.get(v)).takeWhile(_ != null)
          .map(_._2).toVector
        if (cached.size.toLong == endV - startV) cached.flatten
        else table.changeFilesBetween(startV, endV)
      }
    val paths = files.map(f =>
      java.nio.file.Paths.get(table.root).resolve(f).toString)
    GraftShim.knownParquetDf(spark, pinnedSchema, paths, isStreaming = true)
  }

  /** Every offset this source mints or checkpoints is a version number:
    * `LongOffset` live, `SerializedOffset`/v2-json `"N"` after recovery. */
  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong
    }

  override def commit(end: Offset): Unit = () // version history IS the log

  override def stop(): Unit = ()

  override def toString: String =
    s"ChangeFeedSource[${table.root}, starting=$startingVersion]"
}

/** `format("graft-changes")` registration (META-INF/services) — options:
  * `path` (required, table root), `startingVersion` (a version number or
  * `latest`, default latest: tail new changes only; `0` replays the full
  * retained history), `maxVersionsPerTrigger` (bound commits per
  * micro-batch, default unbounded), `maxRowsPerTrigger` (bound EVENTS per
  * micro-batch — exact counts from each commit's record, window still commit-aligned so
  * one oversized commit is admitted alone; the sturdier cold-start knob
  * when producer batch sizes vary). */
class ChangeFeedSourceProvider extends StreamSourceProvider with DataSourceRegister {
  import ChangeFeedSourceProvider._

  override def shortName(): String = "graft-changes"

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-changes derives its schema from the table; do not pass one")
    (shortName(), openTable(sqlContext.sparkSession, parameters).changeSchema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val table = openTable(spark, parameters)
    val explicitStart = parameters.get("startingVersion").exists(_ != "latest")
    val requested = parameters.get("startingVersion") match {
      case None | Some("latest") => table.currentVersion
      case Some(v) =>
        val n = try v.trim.toLong catch { case _: NumberFormatException =>
          sys.error(s"graft-changes: startingVersion must be a version number or 'latest', got '$v'") }
        require(n >= 0, s"graft-changes: startingVersion must be >= 0, got $n")
        n
    }
    // The resolved start version must be STABLE across restarts (the Kafka
    // source's initial-offset discipline): `startingVersion=latest`
    // re-resolved per start would move FORWARD when the table advances
    // while the consumer is down, and a crash that left batch 0 planned
    // (offset log written) but uncommitted would then replay
    // `getBatch(None, end)` against the newer start — an empty window, the
    // original events silently dropped. First creation persists the
    // resolution under the source's own checkpoint directory; every later
    // creation reuses it verbatim.
    val starting = persistedStartingVersion(spark, metadataPath, requested,
      warnOnConflict = explicitStart)
    def positiveLong(name: String): Option[Long] = parameters.get(name).map { v =>
      val n = try v.trim.toLong catch { case _: NumberFormatException =>
        sys.error(s"graft-changes: $name must be a positive number, got '$v'") }
      require(n > 0, s"graft-changes: $name must be > 0, got $n")
      n
    }
    new ChangeFeedSource(spark, table, starting,
      positiveLong("maxVersionsPerTrigger"), positiveLong("maxRowsPerTrigger"))
  }
}

object ChangeFeedSourceProvider {
  private val log = LogManager.getLogger(classOf[ChangeFeedSourceProvider])

  private def openTable(spark: SparkSession, parameters: Map[String, String]): LakeTable = {
    val path = parameters.getOrElse("path",
      sys.error("graft-changes requires option 'path' = lake table root"))
    val t = new LakeTable(spark, path)
    require(t.exists, s"graft-changes: no lake table at $path")
    t
  }

  /** First stream start writes the resolved start version to
    * `metadataPath/starting-version` (create temp + rename — checkpoint
    * filesystems give us atomic rename); every restart reads it back, so
    * the version batch 0 replays from can never drift from the one it was
    * planned against. A crash before the write is safe: no batch can have
    * been planned yet (the engine creates the source before its first
    * `latestOffset`). */
  private[streaming] def persistedStartingVersion(spark: SparkSession,
      metadataPath: String, requested: Long,
      warnOnConflict: Boolean = true): Long = {
    val dir = new org.apache.hadoop.fs.Path(metadataPath)
    val file = new org.apache.hadoop.fs.Path(dir, "starting-version")
    // LocalFs: on file:// the mkdirs/create below spawn no chmod processes
    val fs = dir.getFileSystem(LocalFs.conf(spark.sparkContext.hadoopConfiguration))
    def readBack(): Long = {
      val in = fs.open(file)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
      // with `startingVersion=latest` the freshly resolved value differs
      // from the persisted one on virtually every restart (the table
      // advanced) — that is the EXPECTED steady state, not a conflict, so
      // only an explicit numeric request that disagrees gets the warning
      if (v != requested && warnOnConflict)
        log.warn(s"using persisted startingVersion $v " +
          s"from $file (this run resolved $requested; the checkpointed start wins)")
      v
    }
    if (fs.exists(file)) readBack()
    else {
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s"starting-version.tmp.${java.util.UUID.randomUUID()}")
      fs.mkdirs(dir)
      val out = fs.create(tmp, false)
      try out.write(requested.toString.getBytes("UTF-8")) finally out.close()
      if (fs.rename(tmp, file)) requested
      else if (fs.exists(file)) { // lost a creation race — the winner rules
        fs.delete(tmp, false)
        readBack()
      } else { // not a race: the rename itself failed — surface it, don't
        fs.delete(tmp, false) // mask it as a FileNotFound inside readBack
        sys.error(s"graft-changes: failed to persist startingVersion to $file " +
          "(rename failed and no concurrent creation exists)")
      }
    }
  }
}
