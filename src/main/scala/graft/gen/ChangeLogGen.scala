package graft.gen

import graft.lake.LocalFs
import graft.model.Model
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthetic change-log generator (FIXTURES.md §A.1).
 *
 * Every field is a pure function of the event id and the seed, computed
 * with `xxhash64` columns over `spark.range` — the same bytes come out at
 * ANY parallelism (local[8] vs local[32] vs a 1000-executor cluster), which
 * is what makes the scaling-efficiency benchmark and the kill/restart test
 * meaningful. No driver-side loops: generation itself is distributed.
 *
 * Adversarial properties baked in (FIXTURES.md):
 *  - duplicate LSN deliveries (exact replays of an earlier event),
 *  - out-of-order updates to the same (conv_id, turn_idx)  → LWW must pick max lsn,
 *  - deletes followed by re-inserts,
 *  - rows with ""/"NULL" values (null-skip dead-letter semantics,
 *    reference definitions.h:6),
 *  - one hot conversation holding ~10% of all events (skew/salting test),
 *  - `tool` column absent before `evolveAt` (additive schema evolution).
 */
object ChangeLogGen {

  final case class Config(
      numEvents: Long,
      numConversations: Long = 1000,
      maxTurns: Int = 64,
      seed: Long = 42L,
      /** Event index at which the `tool` column appears (schema evolution). */
      evolveFrac: Double = 0.4,
      /** Fraction denominator for duplicate deliveries (1/13 of events). */
      hotFrac: Int = 10)

  private def h(c: org.apache.spark.sql.Column, seed: Long, salt: Long) =
    xxhash64(c, lit(seed), lit(salt))

  /** The full event stream as a DataFrame, schema = changeEventSchema.
    * `withToolCol=false` yields the pre-evolution shape (no `tool`). */
  def events(spark: SparkSession, cfg: Config, from: Long = 0L, until: Long = -1L,
      withToolCol: Boolean = true): DataFrame = {
    val hi = if (until < 0) cfg.numEvents else until
    val evolveAt = (cfg.numEvents * cfg.evolveFrac).toLong
    val base = spark.range(from, hi, 1)
    // ~1/13 of events (past a warmup) are exact duplicate deliveries of the
    // event 37 positions earlier — same lsn, same payload (replay).
    val eid = when(pmod(h(col("id"), cfg.seed, 4), lit(13)) === 0 && col("id") >= 50,
        col("id") - 37).otherwise(col("id"))
    val df0 = base.select(eid.as("e"))
    // hot key: ~10% of events land on conversation 0
    val conv = when(pmod(h(col("e"), cfg.seed, 1), lit(cfg.hotFrac)) === 0, lit(0L))
      .otherwise(pmod(h(col("e"), cfg.seed, 11), lit(cfg.numConversations)))
    val turn = pmod(h(col("e"), cfg.seed, 2), lit(cfg.maxTurns.toLong)).cast("int")
    val opSel = pmod(h(col("e"), cfg.seed, 3), lit(20))
    val op = when(opSel === 0, "D").when(opSel <= 7, "U").otherwise("I")
    val role = element_at(
      array(lit("user"), lit("assistant"), lit("system"), lit("tool")),
      (pmod(h(col("e"), cfg.seed, 5), lit(4)) + 1).cast("int"))
    // bounded ts jitter (late data): monotone-ish in lsn +/- 15s
    val ts = timestamp_seconds(lit(1700000000L) + col("e") + pmod(h(col("e"), cfg.seed, 8), lit(31)) - 15)
    val badSel = pmod(h(col("e"), cfg.seed, 7), lit(97))
    val cleanText = format_string("text-%d-%d-%d-%08x",
      conv, turn, col("e"), pmod(h(col("e"), cfg.seed, 6), lit(0x7fffffffL)))
    val text = when(badSel === 0, lit("")).when(badSel === 1, lit("NULL")).otherwise(cleanText)
    val toolSel = pmod(h(col("e"), cfg.seed, 9), lit(5))
    val tool = when(col("e") < evolveAt, lit(null).cast("string"))
      .when(toolSel === 0, "search").when(toolSel === 1, "python")
      .otherwise(lit(null).cast("string"))
    val cols = Seq(
      col("e").as("lsn"), op.as("op"), ts.as("ts"),
      format_string("conv-%07d", conv).as("conv_id"),
      turn.as("turn_idx"), role.as("role"), text.as("text")) ++
      (if (withToolCol) Seq(tool.as("tool")) else Nil)
    df0.select(cols: _*)
  }

  /** Write the log as ordered parquet segment files under `dir`. Segments
    * before the evolution point use the v1 schema (no `tool` column) —
    * exercises evolve-then-apply. Returns segment paths in log order. Each
    * segment directory is replaced (overwrite) and holds `filesPerSegment`
    * files, written with the engine's provenance-free job conf
    * (`GraftShim.writeFiles`). */
  def writeLog(spark: SparkSession, dir: String, cfg: Config, numSegments: Int,
      filesPerSegment: Int = 32): Seq[String] = {
    val evolveAt = (cfg.numEvents * cfg.evolveFrac).toLong
    val per = math.max(1L, cfg.numEvents / numSegments)
    // segment boundaries snapped to include the evolution point, so every
    // segment is pre- or post-evolution wholesale
    val cuts = ((0L until cfg.numEvents by per) ++ Seq(evolveAt, cfg.numEvents))
      .distinct.sorted.filter(_ <= cfg.numEvents)
    val bounds = cuts.zip(cuts.tail)
    bounds.zipWithIndex.map { case ((lo, hi), i) =>
      val seg = f"$dir/segment-$i%05d"
      val withTool = lo >= evolveAt
      // file count bounds the scan parallelism of a micro-batch whose
      // write runs a full wave of tasks — write enough splits to feed
      // every core
      val path = new Path(seg)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      GraftShim.writeFiles(events(spark, cfg, lo, hi, withToolCol = withTool)
        .repartition(filesPerSegment), seg, None, LocalFs.writeOptions)
      seg
    }
  }
}
