package graft

import graft.cdc.CdcApply
import graft.lake.LakeTable
import graft.model.Model
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Optimization-round probe (guide §1): splits the MoR micro-batch apply
  * into its phases (read+prepare, delta write job incl. footer stats,
  * ordered commit) and the q_change_feed_stream body. NOT part of the
  * frozen driver bench. */
object ProbeCdc {
  def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val work = "/tmp/r06/probework"
    val segments = Bench.genLog(spark, work, 2000000L, 4)
    val opts = CdcApply.Options(mergeOnRead = true, compactEvery = 16, pipelineDepth = 1)

    // phase split of a serial MoR replay
    val tableDir = java.nio.file.Files.createTempDirectory("probe-mor").toString
    val table = new LakeTable(spark, tableDir, numBuckets = 32)
    table.create(Model.transcriptSchema)
    segments.zipWithIndex.foreach { case (seg, i) =>
      val ev = t(s"b$i read+plan") { spark.read.parquet(seg) }
      val batch = CdcApply.prepareBatch(ev)
      val w = t(s"b$i writeDeltaFiles") {
        table.writeDeltaFiles(batch, Model.keyCols,
          bucketWeights = table.currentSnapshot.bucketWeights)
      }
      t(s"b$i commit") { table.commitDelta(i.toLong, w) }
      t(s"b$i maybeCompact") {
        table.maybeCompactAsync(opts.compactEvery)
      }
      println(s"PROBE b$i files=${w.files.values.map(_.size).sum} rows=${w.stats.map(_._2).sum}")
    }
    t("awaitMaintenance") { table.awaitMaintenance() }
    Bench.deleteRec(tableDir)

    // q_change_feed_stream phase split (mirrors Queries.scala body)
    (1 to 2).foreach { r =>
      val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val events = spark.read.parquet(s"$d/events.parquet").select(
        col("event_id").as("lsn"),
        when(col("event_type") === "click", "U").otherwise("I").as("op"),
        concat(lit("u"), col("user_id")).as("conv_id"),
        col("event_id").cast("int").as("turn_idx"),
        col("event_type").as("role"),
        concat(lit("t"), col("event_id")).as("text"),
        col("ts"))
      val root = java.nio.file.Files.createTempDirectory("probe-cfs").toString
      val table = new LakeTable(spark, s"$root/table", numBuckets = 4)
      table.create(Model.transcriptSchema)
      val mor = CdcApply.Options(mergeOnRead = true)
      var vMid = 0L
      t(s"cfs$r 4 applyBatches") {
        for (i <- 0 to 3) {
          t(s"cfs$r applyBatch$i") {
            CdcApply.applyBatch(table, events.filter(col("lsn") % 4 === i), i.toLong, mor)
          }
          if (i == 1) vMid = table.currentVersion
        }
      }
      val sink = s"$root/sink"
      t(s"cfs$r stream drain") {
        val q = spark.readStream.format("graft-changes")
          .option("path", table.root)
          .option("startingVersion", vMid.toString)
          .option("maxVersionsPerTrigger", "1")
          .load()
          .writeStream
          .option("checkpointLocation", s"$root/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(sink); ()
          }
          .start()
        q.awaitTermination()
      }
      t(s"cfs$r final read") {
        spark.read.parquet(sink).count()
      }
      Bench.deleteRec(root)
    }
    spark.stop()
  }
}
