package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * perfbench.Main --workload replay|queries --seed N --seconds S --trace 0|1
  *   --work DIR --cpus N --expected FILE [--spans FILE]
  * perfbench.Main --record-expected FILE --work DIR --cpus N
  * }}}
  *
  * Untraced (`--trace 0`) it sets up, measures one window and prints the
  * end-to-end metrics. Traced it measures two windows of the same length,
  * one with tracing off and one with spans, listeners and the driver stack
  * sampler on (the order alternates with the seed), and prints the
  * per-layer metrics of the traced window plus the tracing overhead: the
  * relative change of each end-to-end metric between the two. The last
  * stdout line is `PERFBENCH_RESULT <json>`. */
object Main {

  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms", "peak_rss_mb" -> "MB", "ok_frac" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "cdc.prepare_ms" -> "ms", "cdc.lww_rows_in" -> "count", "cdc.lww_rows_out" -> "count",
    "cdc.lww_useful_frac" -> "ratio", "cdc.lww_shuffle_bytes" -> "bytes",
    "cdc.dead_letter_rows" -> "count",
    "lake.write_ms" -> "ms", "lake.write_driver_tail_ms" -> "ms",
    "lake.files_written" -> "count", "lake.bytes_written" -> "bytes",
    "lake.commit_ms" -> "ms", "lake.meta_bytes_written" -> "bytes", "lake.snapshot_ms" -> "ms",
    "lake.compactions" -> "count", "lake.compact_ms" -> "ms",
    "lake.compact_bytes_rewritten" -> "bytes", "lake.deltas_outstanding" -> "count",
    "lake.merge_ms" -> "ms",
    "lake.merge_bytes_rewritten" -> "bytes", "lake.write_amp" -> "ratio",
    "streaming.feed.triggers" -> "count", "streaming.feed.trigger_ms" -> "ms",
    "streaming.feed.latest_offset_ms" -> "ms", "streaming.feed.get_batch_ms" -> "ms",
    "streaming.feed.rows_per_trigger" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.stage_skew" -> "ratio", "exec.busy_frac" -> "ratio",
    "self_ms.bench" -> "ms", "self_ms.cdc" -> "ms", "self_ms.lake" -> "ms",
    "self_ms.streaming" -> "ms", "self_ms.queries" -> "ms", "self_ms.exec" -> "ms",
    "replay.ingest_eps" -> "events/s", "replay.feed_eps" -> "events/s") ++
    QueryBench.Default.map(q => s"queries.${q}_s" -> "s") ++
    Seq("trace.overhead.throughput" -> "ratio", "trace.overhead.latency_p50_ms" -> "ratio",
      "trace.overhead.latency_p90_ms" -> "ratio")

  /** Driver-side methods the stack sampler charges to a per-layer metric. */
  val Probes: Seq[(String, Seq[String])] = Seq(
    "lake.commit_ms" -> Seq("graft.lake.LakeTable.commit"),
    "lake.snapshot_ms" -> Seq("graft.lake.LakeTable.currentSnapshot", "graft.lake.LakeTable.readSnapshot"),
    "lake.write_driver_tail_ms" -> Seq("graft.lake.LakeTable.footerStats", "graft.lake.LakeTable.listFiles"))

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--describe"))) {
      println(Stats.json(Map("end_to_end" -> EndToEnd.toMap, "per_layer" ->
        scala.collection.immutable.ListMap(PerLayer: _*))))
      return
    }
    val flags = parse(args)
    // stage attribution reads engine frames from Spark's recorded call
    // sites, which keep only the innermost 20 frames by default
    if (flags.get("trace").contains("1")) System.setProperty("spark.callstack.depth", "200")
    val t0 = System.nanoTime()
    val cpus = flags.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = Paths.get(flags("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, java.util.UUID.randomUUID().toString)
    val seconds = flags.getOrElse("seconds", "10").toDouble
    val seed = flags.getOrElse("seed", "1").toLong
    val ctx = new Ctx(spark, tracer, work, seed, cpus)
    val expected = flags.getOrElse("expected", "perfbench/expected_queries.json")
    try {
      if (flags.contains("record-expected")) new QueryBench(ctx, flags("record-expected")).record()
      else run(ctx, flags, seconds, sessionS, expected)
    } finally spark.stop()
  }

  private def session(cpus: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def time(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def run(ctx: Ctx, flags: Map[String, String], seconds: Double,
      sessionS: Double, expected: String): Unit = {
    val spark = ctx.spark
    val traced = flags.getOrElse("trace", "0") == "1"
    val workload = flags("workload") match {
      case "replay" => new Replay(ctx)
      case "queries" => new QueryBench(ctx, expected)
      case w => sys.error(s"unknown workload $w")
    }
    val prepS = (1 to SetupReps).map(_ => time(workload.prepare()))
    val warmS = time(workload.warmup())
    val setupS = sessionS + Stats.median(prepS) + warmS
    ctx.log(f"setup: session $sessionS%.2f s, prepare ${prepS.map(x => f"$x%.2f").mkString("/")} s, warm-up $warmS%.2f s")

    val exec = new ExecListener(ctx.tracer)
    val stream = new StreamListener
    if (traced) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(stream)
    }
    def window(i: Int, on: Boolean): (Window, Map[String, Double]) = {
      ctx.tracer.enabled = on; exec.enabled = on; stream.enabled = on
      val sampler = new Sampler(50, Probes)
      if (on) sampler.start()
      val w = ctx.tracer.span("bench", "window")(workload.measure(seconds, i))
      val sampled = if (on) sampler.stop() else Map.empty[String, Double]
      // late listener events (job/stage ends) drain before the flags drop
      if (on) org.apache.spark.sql.GraftShim.waitListenerBusEmpty(spark)
      ctx.tracer.enabled = false; exec.enabled = false; stream.enabled = false
      (w, sampled)
    }
    val (plain, traceW, sampled) =
      if (!traced) { val (w, _) = window(0, on = false); (w, None, Map.empty[String, Double]) }
      else if (ctx.seed % 2 == 0) {
        val (p, _) = window(0, on = false); val (t, s) = window(1, on = true); (p, Some(t), s)
      } else {
        val (t, s) = window(0, on = true); val (p, _) = window(1, on = false); (p, Some(t), s)
      }
    val windows = Seq(plain) ++ traceW
    val attempted = windows.map(_.attempted).sum
    val failed = windows.map(_.failed).sum
    def e2e(w: Window): Map[String, Double] = Map(
      "throughput" -> w.throughput,
      "latency_p50_ms" -> Stats.median(w.latenciesMs.map(Stats.quantile(_, 0.5))),
      "latency_p90_ms" -> Stats.median(w.latenciesMs.map(Stats.quantile(_, 0.9))))
    val plainE2e = e2e(plain) ++ Map(
      "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb,
      "ok_frac" -> (1.0 - failed.toDouble / math.max(1L, attempted)))
    val metrics: Map[String, Double] = traceW match {
      case None => plainE2e
      case Some(t) =>
        // positive = tracing made the metric worse
        val overhead = e2e(t).map { case (k, v) => s"trace.overhead.$k" ->
          (if (k == "throughput") 1 - v / plainE2e(k) else v / plainE2e(k) - 1) }
        val layers = perLayer(exec, stream, ctx.tracer, sampled, t, ctx.cpus) ++ overhead
        flags.get("spans").foreach(p => ctx.tracer.write(Paths.get(p)))
        PerLayer.map { case (k, _) => k -> layers.getOrElse(k, 0.0) }.toMap
    }
    val units = (EndToEnd ++ PerLayer).toMap
    val record = Map(
      "workload" -> flags("workload"), "seed" -> ctx.seed, "seconds" -> seconds,
      "cpus" -> ctx.cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS),
      "untraced" -> (plainE2e ++ plain.detail ++ Map(
        "latency_samples" -> plain.latenciesMs.map(_.size).sum.toDouble,
        "latency_p90_beyond" -> plain.latenciesMs.map(Stats.beyond(_, 0.9)).sum.toDouble)),
      "notes" -> plain.notes) ++
      traceW.map(t => Map("traced" -> (e2e(t) ++ t.detail),
        "stage_kinds" -> exec.stages.asScala.toSeq.groupBy(_.kind).map { case (k, v) => k -> v.size },
        "feed_triggers" -> stream.triggers.size)).getOrElse(Map.empty)
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units(k)) }.toMap,
      "record" -> record)
    println("PERFBENCH_RESULT " + Stats.json(result))
  }

  private def peakRssMb: Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  private def perLayer(exec: ExecListener, stream: StreamListener, tracer: Tracer,
      sampled: Map[String, Double], w: Window, cpus: Int): Map[String, Double] = {
    val st = exec.stages.asScala.toSeq
    def sum(f: StageRec => Double)(p: StageRec => Boolean): Double = st.filter(p).map(f).sum
    val writeMap = (s: StageRec) => s.kind == "write" && s.isMap
    val writeOut = (s: StageRec) => s.kind == "write" && !s.isMap
    val rowsIn = sum(_.shuffleWriteRecords.toDouble)(writeMap)
    val rowsOut = sum(_.outputRecords.toDouble)(writeOut)
    val feed = stream.triggers.asScala.toSeq.filter(_.rows > 0)
    def tmean(key: String): Double = Stats.mean(feed.map(_.durations.getOrElse(key, 0L).toDouble))
    val skews = st.filter(_.tasks >= 4).map(_.skew)
    val taskMs = sum(_.taskMs)(_ => true)
    Map(
      "cdc.prepare_ms" -> sum(_.taskMs)(writeMap),
      "cdc.lww_rows_in" -> rowsIn,
      "cdc.lww_rows_out" -> rowsOut,
      "cdc.lww_useful_frac" -> (if (rowsIn > 0) rowsOut / rowsIn else 0.0),
      "cdc.lww_shuffle_bytes" -> sum(_.shuffleWriteBytes.toDouble)(writeMap),
      "cdc.dead_letter_rows" -> (sum(_.inputRecords.toDouble)(writeMap) - rowsIn),
      "lake.write_ms" -> sum(_.wallMs)(writeOut),
      "lake.compactions" -> st.count(s => s.kind == "compact" && !s.isMap).toDouble,
      "lake.compact_ms" -> sum(_.wallMs)(_.kind == "compact"),
      "lake.compact_bytes_rewritten" -> sum(_.outputBytes.toDouble)(_.kind == "compact"),
      "lake.merge_ms" -> sum(_.wallMs)(_.kind == "merge"),
      "lake.merge_bytes_rewritten" -> sum(_.outputBytes.toDouble)(_.kind == "merge"),
      "streaming.feed.triggers" -> feed.size.toDouble,
      "streaming.feed.trigger_ms" -> tmean("triggerExecution"),
      "streaming.feed.latest_offset_ms" -> tmean("latestOffset"),
      "streaming.feed.get_batch_ms" -> tmean("getBatch"),
      "streaming.feed.rows_per_trigger" -> Stats.mean(feed.map(_.rows.toDouble)),
      "exec.jobs" -> exec.jobs.get.toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.tasks" -> sum(_.tasks.toDouble)(_ => true),
      "exec.task_ms" -> taskMs,
      "exec.task_cpu_ms" -> sum(_.cpuMs)(_ => true),
      "exec.gc_ms" -> sum(_.gcMs)(_ => true),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble)(_ => true),
      "exec.shuffle_read_bytes" -> sum(_.shuffleReadBytes.toDouble)(_ => true),
      "exec.spill_bytes" -> sum(_.spillBytes.toDouble)(_ => true),
      "exec.stage_skew" -> Stats.mean(skews),
      "exec.busy_frac" -> taskMs / (w.wallMs * cpus)) ++
      Tracer.selfMs(tracer.spans).map { case (l, ms) => s"self_ms.$l" -> ms } ++
      sampled ++ w.detail
  }
}
