package graft.lake

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.{CdcApply, Oracle}
import graft.model.Model
import graft.streaming.ChangeFeedSource
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftShim}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructField}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-write fixed cost in Spark tasks: reading files the manifest already
  * names starts no listing job, and a table write runs at most one wave of
  * tasks however many slices (files) its salt plan has. */
class TaskCostSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` under its own job group; returns the jobs it started and
    * the (numTasks, isResultStage) of every stage it ran. */
  private def tasksOf(group: String)(body: => Unit): (Int, Seq[(Int, Boolean)]) = {
    val sc = spark.sparkContext
    GraftShim.waitListenerBusEmpty(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Int]() // id -> numTasks
    val resultStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask") resultStages.add(e.stageId)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      body
      GraftShim.waitListenerBusEmpty(spark)
      (jobs.get, stages.asScala.toSeq.map { case (id, n) => (n, resultStages.contains(id)) })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Prepared-batch shape (`prepareBatch` output), optionally with the
    * evolved `note` column. */
  private def prepared(lsn0: Long, n: Int, note: Boolean): DataFrame = {
    val df = (0 until n).map(i => (f"c${(lsn0 + i) % 97}%03d", i, "user", s"t${lsn0 + i}",
        lsn0 + i, "I"))
      .toDF("conv_id", "turn_idx", "role", "text", "_lsn", "_op")
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    if (note) df.withColumn("note", org.apache.spark.sql.functions.concat(lit("n"),
      col("_lsn").cast("string")))
    else df
  }

  /** A 4-bucket merge-on-read table of 12 small commits (≥ 40 delta
    * files), the `note` column evolved in after the sixth. */
  private def manyFileTable(prefix: String): LakeTable = {
    val t = new LakeTable(spark, tmpDir(prefix), numBuckets = 4)
    t.create(Model.transcriptSchema)
    (0 until 12).foreach { b =>
      if (b == 6) t.evolveSchema(Seq(StructField("note", StringType)))
      t.appendDelta(prepared(b * 100L, 40, note = b >= 6), Model.keyCols, b.toLong)
    }
    val files = t.currentSnapshot.deltas.values.map(_.size).sum
    assert(files >= 40, s"fixture must hold >= 40 delta files, has $files")
    t
  }

  private def paths(t: LakeTable, files: Seq[String]): Seq[String] =
    files.map(f => java.nio.file.Paths.get(t.root).resolve(f).toString)

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("known-file reads start no Spark job: a 40+-file change window, read(), a feed batch") {
    val t = manyFileTable("known-nojob")
    val v = t.currentVersion
    assert(t.changeFilesBetween(0L, v).size >= 40)
    val (jobs, _) = tasksOf("known-files-build") {
      t.readChangesSince(0L)
      t.read()
      t.readConvRange("c000", "c096")
      new ChangeFeedSource(spark, t, 0L, None).getBatch(None, LongOffset(v))
    }
    assert(jobs == 0, s"building the DataFrames started $jobs Spark job(s) (a listing job)")
  }

  test("known-file scan ≡ spark.read.schema(s).parquet(paths): rows, schema, evolved column") {
    val t = manyFileTable("known-parity")
    val s = t.currentSnapshot
    val all = paths(t, s.deltas.values.flatten.toSeq)
    val known = GraftShim.knownParquetDf(spark, s.schema, all)
    val listed = spark.read.schema(s.schema).parquet(all: _*)
    assert(known.schema == listed.schema)
    assert(sortedRows(known) == sortedRows(listed))
    val notes = known.select("note").collect().map(r => Option(r.getString(0)))
    assert(notes.count(_.isEmpty) == 6 * 40 && notes.count(_.isDefined) == 6 * 40,
      "the evolved column reads as null in pre-evolution files only")

    val window = t.readChangesSince(0L)
    val expect = spark.read.schema(s.schema).parquet(paths(t, t.changeFilesBetween(0L,
      s.version)): _*).select(t.changeSchema.fieldNames.map(col).toSeq: _*)
    assert(window.schema == expect.schema)
    assert(sortedRows(window) == sortedRows(expect))

    // an empty file list is an empty scan of the same (nullable) schema
    val empty = GraftShim.knownParquetDf(spark, s.schema, Nil)
    assert(empty.schema == listed.schema && empty.count() == 0)
    // a change-log segment directory (`CdcApply.replay`'s batch input)
    // reads as its visible files; a directory holding a subdirectory fails
    val segRoot = tmpDir("known-seg")
    known.write.parquet(segRoot + "/seg")
    assert(sortedRows(GraftShim.knownParquetDf(spark, s.schema, Seq(segRoot + "/seg"))) ==
      sortedRows(known))
    intercept[IllegalArgumentException](GraftShim.knownParquetDf(spark, s.schema, Seq(segRoot)))
  }

  test("two reads of the same files are one plan: a cached read() serves the next read()") {
    val t = manyFileTable("known-cache")
    val cached = t.read().cache()
    try {
      val n = cached.count()
      val again = t.read()
      assert(GraftShim.livePhysicalNodeNames(again).contains("InMemoryTableScan"),
        "a second read() of the same snapshot must use the cached data")
      assert(again.count() == n)
    } finally cached.unpersist(blocking = true)
  }

  test("a known-file read starts no OS process (Hadoop's local stat and listing)") {
    val t = manyFileTable("known-nospawn")
    val seg = tmpDir("known-nospawn-seg") + "/seg"
    t.read().write.parquet(seg)
    val (rows, cmds) = Spawns.during {
      t.read().count() + t.readChangesSince(0L).count() +
        GraftShim.knownParquetDf(spark, t.currentSnapshot.schema, Seq(seg)).count()
    }
    assert(rows > 0)
    val ours = cmds.filter(c => c.contains(t.root) || c.contains(seg))
    assert(ours.isEmpty, s"reading the table started processes: $ours")
  }

  test("a missing known file fails loudly (PATH_NOT_FOUND), like DataFrameReader") {
    val t = manyFileTable("known-missing")
    val victim = java.nio.file.Paths.get(paths(t, t.currentSnapshot.deltas(0).take(1)).head)
    java.nio.file.Files.delete(victim)
    def pathNotFound(what: String)(build: => DataFrame): Unit = {
      val e = intercept[AnalysisException](build)
      assert(e.getCondition == "PATH_NOT_FOUND", s"$what: ${e.getMessage}")
    }
    pathNotFound("spark.read")(spark.read.schema(t.currentSnapshot.schema)
      .parquet(victim.toString))
    pathNotFound("read()")(t.read())
    pathNotFound("readChangesSince")(t.readChangesSince(0L))
    // Spark's streaming file relation (resolved with checkFilesExist =
    // false) would drop a missing file from the batch without a word; a
    // change feed that loses a committed file loses its events
    pathNotFound("feed batch")(new ChangeFeedSource(spark, t, 0L, None)
      .getBatch(None, LongOffset(t.currentVersion)))
  }

  test("a table write ships the session's Hadoop conf without its per-key provenance") {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.io.{Text, WritableUtils}
    import org.apache.hadoop.mapred.JobConf
    import org.apache.hadoop.mapreduce.Job
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    def bytes(c: Configuration): Array[Byte] = {
      val b = new ByteArrayOutputStream
      val out = new DataOutputStream(b)
      c.write(out)
      out.flush()
      b.toByteArray
    }
    def in(b: Array[Byte]) = new DataInputStream(new ByteArrayInputStream(b))
    /** (keys, keys written with a source-name array) of `Configuration.write` bytes. */
    def sourced(b: Array[Byte]): (Int, Int) = {
      val d = in(b)
      val n = WritableUtils.readVInt(d)
      val withSources = (0 until n).count { _ =>
        Text.readString(d); Text.readString(d)
        WritableUtils.readCompressedStringArray(d) != null
      }
      (n, withSources)
    }
    def entries(c: Configuration): Map[String, String] =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

    val session = spark.sessionState.newHadoopConfWithOptions(LocalFs.writeOptions)
    val shipped = GraftShim.plainConf(session)
    // as a write task receives it: Spark's JobConf copy, written, read back
    // into a Configuration(false) (SerializableConfiguration)
    val back = new Configuration(false)
    back.readFields(in(bytes(new JobConf(shipped))))
    val expect = entries(new JobConf(session))
    assert(expect.size > 1000, s"the session conf has ${expect.size} keys")
    assert(entries(back) == expect)
    assert(back.get("fs.file.impl") == classOf[LocalFs].getName)

    // provenance: only for the keys the write job itself sets
    val job = Job.getInstance(shipped)
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, Model.transcriptSchema)
    val (n, withSources) = sourced(bytes(job.getConfiguration))
    assert(n >= expect.size && withSources > 0 && withSources <= 30,
      s"$withSources of $n keys shipped with source names")
    // positive control: the session conf ships source names for every key
    val (sn, sessionSources) = sourced(bytes(new JobConf(session)))
    assert(sn == expect.size && sessionSources == sn, s"$sessionSources of $sn")
  }

  test("a table write refuses a frame not ordered by its bucket column (no hidden second sort)") {
    val df = Seq(("c1", 1L, 1), ("c0", 2L, 0)).toDF("conv_id", "_lsn", "_bucket")
    val stats = new FileStatsTracker(df.drop("_bucket").schema, "conv_id")
    val e = intercept[IllegalArgumentException](
      GraftShim.writeFiles(df, tmpDir("unsorted-write") + "/t", "_bucket", Map.empty, stats))
    assert(e.getMessage.contains("ordered by _bucket"), e.getMessage)
    GraftShim.writeFiles(df.sortWithinPartitions("_bucket"), tmpDir("sorted-write") + "/t",
      "_bucket", Map.empty, stats)
    assert(stats.files.map(f => (f.bucket, f.rows, f.keyMin)).sorted ==
      Seq((0, 1L, Some("c0")), (1, 1L, Some("c1"))))
  }

  /** Node names of a physical plan, adaptive wrappers expanded. */
  private def nodeNames(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => nodeNames(a.executedPlan)
    case q: QueryStageExec => nodeNames(q.plan)
    case other => other.nodeName +: other.children.flatMap(nodeNames)
  }

  test("one wave of write tasks: MoR append and CoW merge on 32 buckets with a hot key") {
    val cores = spark.sparkContext.defaultParallelism
    val ts = new java.sql.Timestamp(0L)
    // half of every batch is one hot conversation, so its bucket's salt
    // plan gets several slices once the first batch has set the weights
    def batch(lsn0: Long): Seq[Oracle.Ev] = (0 until 3000).map { i =>
      val conv = if (i % 2 == 0) "hot" else f"c${i % 400}%03d"
      Oracle.Ev(lsn0 + i, if (i % 50 == 7) "U" else "I", ts, conv, i / 2 % 700, "user",
        s"t${lsn0 + i}", None)
    }
    val batches = Seq(batch(0L), batch(10000L))
    def df(evs: Seq[Oracle.Ev]): DataFrame =
      evs.map(e => (e.lsn, e.op, e.ts, e.convId, e.turnIdx, e.role, e.text))
        .toDF("lsn", "op", "ts", "conv_id", "turn_idx", "role", "text")
    val expect = Oracle.finalState(batches.flatten).map { case (k, e) => k -> e.text }

    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == GraftShim.WriteExecutionName) plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    try Seq(false, true).foreach { mergeOnRead =>
      val mode = if (mergeOnRead) "MoR append" else "CoW merge"
      val t = new LakeTable(spark, tmpDir("wave-table"), numBuckets = 32)
      t.create(Model.transcriptSchema)
      batches.zipWithIndex.foreach { case (evs, id) =>
        val before = t.currentSnapshot
        val slices = t.slicePlan((0 until 32).toSet, before.bucketWeights)
        GraftShim.waitListenerBusEmpty(spark)
        plans.clear()
        val (_, stages) = tasksOf(s"wave-$mode-$id") {
          CdcApply.applyBatch(t, df(evs), id.toLong,
            CdcApply.Options(mergeOnRead = mergeOnRead, compactEvery = 100))
          ()
        }
        val resultTasks = stages.collect { case (n, true) => n }
        assert(resultTasks.nonEmpty && resultTasks.forall(_ <= cores),
          s"$mode batch $id: write result stages ran $resultTasks tasks (one wave = $cores)")
        val after = t.currentSnapshot
        val added = (0 until 32).map { b =>
          b -> (if (mergeOnRead)
            after.deltas.getOrElse(b, Nil).diff(before.deltas.getOrElse(b, Nil))
          else after.files.getOrElse(b, Nil)).size
        }
        added.foreach { case (b, n) =>
          assert(n <= slices(b), s"$mode batch $id: bucket $b wrote $n files, slices ${slices(b)}")
        }
        if (id == 1) {
          val hot = before.bucketWeights.maxBy(_._2)._1 // the hot conversation's bucket
          assert(slices(hot) > 1 && added.toMap.apply(hot) > 1,
            s"$mode: the hot bucket must be salted (slices ${slices(hot)}) and spread over tasks")
        }
        GraftShim.waitListenerBusEmpty(spark)
        val writes = plans.asScala.toSeq
        assert(writes.size == 1, s"$mode batch $id: one write command, got ${writes.size}")
        val sorts = nodeNames(writes.head).count(_ == "Sort")
        assert(sorts == 1, s"$mode batch $id: one Sort under the write, got $sorts:\n${writes.head}")
      }
      val got = t.read().collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(3)).toMap
      assert(got == expect, s"$mode: table equals the LWW oracle")
    } finally spark.listenerManager.unregister(qel)
  }
}
