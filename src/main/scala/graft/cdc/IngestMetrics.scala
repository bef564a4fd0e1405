package graft.cdc

import graft.model.Model
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming ingest metrics: event-time windowed aggregation with a
 * watermark over the change feed — the Structured Streaming surface of the
 * engine beyond foreachBatch (per-op counts and lsn ranges per window,
 * late events beyond the watermark dropped). Complements the per-batch
 * lineage rows (LakeTable.lineage, read from the batch record each ingest
 * commit writes into its snapshot; they count rows WRITTEN: for a
 * copy-on-write batch every row of its rewritten buckets, not its events)
 * with event-time visibility; these windows count the events themselves.
 */
object IngestMetrics {

  /** Windowed per-op event counts with watermarking. Append-mode safe:
    * a window emits once its watermark passes. */
  def windowedCounts(
      spark: SparkSession,
      logDir: String,
      windowLength: String = "1 minute",
      watermarkDelay: String = "2 minutes",
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Model.changeEventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .parquet(logDir)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("op"))
      .agg(
        count(lit(1)).as("events"),
        min("lsn").as("lsn_min"),
        max("lsn").as("lsn_max"),
        approx_count_distinct("conv_id").as("approx_convs"))

  /** Run the metrics query over currently-available data into an in-memory
    * sink; returns the collected windows (complete mode for inspection). */
  def collectOnce(spark: SparkSession, logDir: String,
      windowLength: String = "1 minute"): DataFrame = {
    val q = windowedCounts(spark, logDir, windowLength)
      .writeStream.format("memory").queryName("graft_ingest_metrics")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("graft_ingest_metrics")
  }
}
