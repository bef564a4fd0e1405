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
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructField}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-write fixed cost in Spark tasks: reading files the manifest already
  * names starts no listing job, and a table write runs at most one wave of
  * tasks however many slices (files) its salt plan has. */
class TaskCostSpec extends SparkSpec {
  import spark.implicits._

  /** A stage run under [[tasksOf]]: its SQL execution id ("" outside
    * one), task count and whether it ran result tasks. */
  private final case class Stage(execution: String, tasks: Int, result: Boolean)

  /** Runs `body` under its own job group (threads `body` starts inherit
    * it); returns the jobs it started per SQL execution id and every stage
    * it ran. */
  private def tasksOf(group: String)(body: => Unit): (Map[String, Int], Seq[Stage]) = {
    val sc = spark.sparkContext
    GraftShim.waitListenerBusEmpty(spark)
    val jobs = new ConcurrentLinkedQueue[String]() // execution id per job
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]()
    val resultStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    def execution(p: java.util.Properties) =
      Option(p.getProperty("spark.sql.execution.id")).getOrElse("")
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.add(execution(e.properties))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties))
          stages.put(e.stageInfo.stageId, (execution(e.properties), e.stageInfo.numTasks))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask") resultStages.add(e.stageId)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      body
      GraftShim.waitListenerBusEmpty(spark)
      (jobs.asScala.toSeq.groupBy(identity).map { case (x, js) => x -> js.size },
        stages.asScala.toSeq.map { case (id, (x, n)) => Stage(x, n, resultStages.contains(id)) })
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
    assert(jobs.isEmpty, s"building the DataFrames started Spark job(s) (a listing job): $jobs")
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
      GraftShim.writeFiles(df, tmpDir("unsorted-write") + "/t", Some("_bucket"), Map.empty, stats))
    assert(e.getMessage.contains("ordered by _bucket"), e.getMessage)
    GraftShim.writeFiles(df.sortWithinPartitions("_bucket"), tmpDir("sorted-write") + "/t",
      Some("_bucket"), Map.empty, stats)
    assert(stats.files.map(f => (f.bucket, f.rows, f.keyMin)).sorted ==
      Seq((0, 1L, Some("c0")), (1, 1L, Some("c1"))))
  }

  /** Nodes of a physical plan, adaptive wrappers expanded. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  private def nodeNames(p: SparkPlan): Seq[String] = planNodes(p).map(_.nodeName)

  private def hasExchange(p: SparkPlan): Boolean =
    planNodes(p).exists(_.isInstanceOf[ShuffleExchangeLike])

  /** Executed plans of the engine's table writes while `body` runs. */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == GraftShim.WriteExecutionName) plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftShim.waitListenerBusEmpty(spark)
    spark.listenerManager.register(qel)
    try {
      body
      GraftShim.waitListenerBusEmpty(spark)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(qel)
  }

  private def eventsDf(evs: Seq[Oracle.Ev]): DataFrame =
    evs.map(e => (e.lsn, e.op, e.ts, e.convId, e.turnIdx, e.role, e.text))
      .toDF("lsn", "op", "ts", "conv_id", "turn_idx", "role", "text")

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
    val expect = Oracle.finalState(batches.flatten).map { case (k, e) => k -> e.text }

    Seq(false, true).foreach { mergeOnRead =>
      val mode = if (mergeOnRead) "MoR append" else "CoW merge"
      val t = new LakeTable(spark, tmpDir("wave-table"), numBuckets = 32)
      t.create(Model.transcriptSchema)
      batches.zipWithIndex.foreach { case (evs, id) =>
        val before = t.currentSnapshot
        val slices = t.slicePlan((0 until 32).toSet, before.bucketWeights)
        var stages = Seq.empty[Stage]
        val writes = writePlans {
          stages = tasksOf(s"wave-$mode-$id") {
            CdcApply.applyBatch(t, eventsDf(evs), id.toLong,
              CdcApply.Options(mergeOnRead = mergeOnRead, compactEvery = 100))
            ()
          }._2
        }
        val resultTasks = stages.collect { case Stage(_, n, true) => n }
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
        assert(writes.size == 1, s"$mode batch $id: one write command, got ${writes.size}")
        val sorts = nodeNames(writes.head).count(_ == "Sort")
        assert(sorts == 1, s"$mode batch $id: one Sort under the write, got $sorts:\n${writes.head}")
      }
      val got = t.read().collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(3)).toMap
      assert(got == expect, s"$mode: table equals the LWW oracle")
    }
  }

  test("pipelined batches share the cores: one narrow stage per write at depth ≥ cores, " +
      "the LWW exchange at depth 1") {
    val cores = spark.sparkContext.defaultParallelism
    val ts = new java.sql.Timestamp(0L)
    // half of every batch is one hot conversation; in batch 1 one key of it
    // arrives with 10^3 LSNs; every 10th event is redelivered with its LSN
    // and payload
    def batch(id: Int): Seq[Oracle.Ev] = {
      val evs = (0 until 3000).map { i =>
        val lsn = id * 100000L + i
        val hot = i % 2 == 0
        val turn = if (id == 1 && hot && i < 2000) 0 else i / 2 % 700
        Oracle.Ev(lsn, if (i % 97 == 5) "D" else if (i % 50 == 7) "U" else "I", ts,
          if (hot) "hot" else f"c${i % 400}%03d", turn, "user", s"t$lsn", None)
      }
      evs ++ evs.filter(_.lsn % 10 == 3)
    }
    val batches = (0 until 4).map(batch)
    assert(batches(1).count(e => e.convId == "hot" && e.turnIdx == 0) >= 1000)
    val logDir = tmpDir("share-log")
    val segments = batches.zipWithIndex.map { case (evs, i) =>
      val seg = s"$logDir/segment-$i"
      eventsDf(evs).withColumn("tool", lit(null).cast("string")).repartition(4)
        .write.parquet(seg)
      seg
    }
    val expect = Oracle.finalState(batches.flatten).map { case (k, e) => k -> e.text }

    Seq(cores, 2 * cores, 1).foreach { depth =>
      val share = math.max(1, cores / depth)
      val t = new LakeTable(spark, tmpDir(s"share-table-d$depth"), numBuckets = 32)
      t.create(Model.transcriptSchema)
      var run = (Map.empty[String, Int], Seq.empty[Stage])
      val plans = writePlans {
        run = tasksOf(s"share-d$depth") {
          CdcApply.replay(spark, t, segments,
            CdcApply.Options(mergeOnRead = true, compactEvery = 100, pipelineDepth = depth))
        }
      }
      val (jobs, stages) = run
      assert(plans.size == segments.size, s"depth $depth: one write per batch, got ${plans.size}")
      val byWrite = stages.groupBy(_.execution)
      assert(jobs.keySet == byWrite.keySet && !jobs.contains("") &&
        byWrite.size == segments.size,
        s"depth $depth: every job belongs to one of the ${segments.size} writes: $jobs")
      if (share == 1) {
        plans.foreach(p => assert(!hasExchange(p), s"depth $depth: the write shuffles:\n$p"))
        assert(jobs.values.forall(_ == 1), s"depth $depth: jobs per write $jobs")
        byWrite.values.foreach(st => assert(st == Seq(Stage(st.head.execution, 1, true)),
          s"depth $depth: a write ran stages $st, not one one-task result stage"))
        // one task per write: each bucket gets at most one file per batch
        val perCommit = t.currentSnapshot.deltas.values.flatten
          .groupBy(f => (f.split("/")(1), f.split("/")(2)))
        assert(perCommit.values.forall(_.size == 1),
          s"depth $depth: a bucket got several files from one batch")
      } else {
        plans.foreach(p => assert(hasExchange(p), s"depth $depth: the LWW exchange is gone:\n$p"))
        byWrite.values.foreach { st =>
          assert(st.exists(!_.result), s"depth $depth: no map stage in $st")
          assert(st.filter(_.result).forall(_.tasks <= share),
            s"depth $depth: result stages $st exceed $share tasks")
        }
      }
      val got = t.read().collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(3)).toMap
      assert(got == expect, s"depth $depth: table equals the LWW oracle")
    }
  }

  test("lwwDedupSorted with one partition ≡ the exchange path: 8 input partitions, " +
      "duplicates across them") {
    val base = (0 until 3000).map(i => (s"c${i % 37}", i % 11, i.toLong, s"t$i"))
    // exact redeliveries sit in later input partitions than their originals
    val input = spark.sparkContext.parallelize(base ++ base.filter(_._3 % 5 == 0), 8)
      .toDF("conv_id", "turn_idx", "_lsn", "text")
      .withColumn("_bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("conv_id")), lit(4)))
    assert(input.rdd.getNumPartitions == 8)
    val keys = Seq("conv_id", "turn_idx")
    val one = CdcApply.lwwDedupSorted(input, keys, Seq(col("_bucket")), 1)
    val exchanged = CdcApply.lwwDedupSorted(input, keys, Seq(col("_bucket")), 4,
      partitionId = Some(col("_bucket")))
    assert(!hasExchange(one.queryExecution.executedPlan), one.queryExecution.executedPlan.toString)
    assert(one.rdd.getNumPartitions == 1)
    assert(hasExchange(exchanged.queryExecution.executedPlan))
    val expect = base.groupBy(b => (b._1, b._2)).values.map(_.maxBy(_._3))
      .map { case (c, t, l, x) => (c, t, l, x) }.toSeq.sorted
    def rows(df: DataFrame) = df.select("conv_id", "turn_idx", "_lsn", "text")
      .as[(String, Int, Long, String)].collect().toSeq.sorted
    assert(rows(one) == rows(exchanged))
    assert(rows(one) == expect)
  }
}
