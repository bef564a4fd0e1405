package graft

import org.apache.spark.sql.SparkSession

/**
 * Scaling-efficiency evidence (BASELINE.json north_rule: ≥0.8 from N to 4N
 * executors; sandbox substitute per BASELINE.md: same job at local[8] vs
 * local[32] on the same input). The log is generated once and replayed at
 * both parallelism levels; each level gets a warm-up replay plus `reps`
 * measured replays with the best taken — the sandbox host has co-tenant
 * CPU noise (observed 4× run-to-run swings), so min-of-N is the honest
 * low-interference estimate.
 *
 * Usage: sbt "runMain graft.ScalingBench [numEvents] [reps]"
 */
object ScalingBench {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // benchmark batches are MBs, not the GBs of the real deployment: AQE
      // would coalesce post-shuffle partitions to 1-2 (64MB advisory) and
      // mask the parallelism under test — keep skew handling, disable
      // small-data coalescing
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val numEvents = args.headOption.map(_.toLong).getOrElse(8000000L)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    // N and 4N parallelism; 8/32 by default (the box's full width). 4/16
    // is a useful second pair: ≤16 threads stay on physical cores, so it
    // isolates the engine's scaling from the host's SMT ceiling.
    val n = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val n4 = args.drop(3).headOption.map(_.toInt).getOrElse(4 * n)
    val opts = args.drop(4).headOption match {
      case Some("mor") => graft.cdc.CdcApply.Options(mergeOnRead = true, compactEvery = 16)
      // pipelined merge-on-read: concurrent delta-write jobs, ordered
      // commits — the intended sustained-ingest mode (round-2 headline)
      case Some("pipe") => graft.cdc.CdcApply.Options(mergeOnRead = true,
        compactEvery = 16, pipelineDepth = 4)
      // deeper pipeline: every batch's write job in flight at once
      case Some("pipe8") => graft.cdc.CdcApply.Options(mergeOnRead = true,
        compactEvery = 16, pipelineDepth = 8)
      // STREAMING-path pipelined apply (Structured Streaming + CdcPipeline)
      // — the north-star deployment; target: within ~10% of pipe8
      case Some("spipe8") => graft.cdc.CdcApply.Options(mergeOnRead = true,
        compactEvery = 16, pipelineDepth = 8)
      // STREAMING tail mode: ProcessingTime trigger + idle-stop instead of
      // AvailableNow — the continuous-binlog deployment shape
      case Some("stail8") => graft.cdc.CdcApply.Options(mergeOnRead = true,
        compactEvery = 16, pipelineDepth = 8)
      case Some("cow") | None => graft.cdc.CdcApply.Options()
      // an unrecognized mode must fail LOUDLY: a typo (e.g. "spipe4")
      // falling through to default Options() would run the streaming path
      // as serial CoW and report it as a gated scaling result
      case Some(other) => sys.error(
        s"unknown mode '$other' (expected cow|mor|pipe|pipe8|spipe8|stail8)")
    }
    val mode = args.drop(4).headOption
    val streaming = mode.exists(_.startsWith("spipe")) || mode.exists(_.startsWith("stail"))
    val tail = mode.exists(_.startsWith("stail"))
    val buckets = args.drop(5).headOption.map(_.toInt).getOrElse(32)
    // GRAFT_WORK_DIR: reuse the (deterministic, parallelism-independent)
    // generated log across campaign invocations instead of regenerating
    val work = sys.env.get("GRAFT_WORK_DIR") match {
      case Some(d) => java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(d)); d
      case None => java.nio.file.Files.createTempDirectory("graft-scaling").toString
    }

    def loadAvg: String = try {
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0)
    } catch { case _: Throwable => "?" }

    def once(cores: Int, warm: Boolean): (Double, Double) = {
      val s = session(cores)
      val segments = Bench.genLog(s, work, numEvents, 8)
      val logRoot = s"$work/log-$numEvents-8"
      def run(): (Double, Double) =
        if (tail) Bench.streamTailReplayOnce(s, logRoot, numEvents, buckets, opts)
        else if (streaming) Bench.streamReplayOnce(s, logRoot, numEvents, buckets, opts)
        else Bench.replayOnce(s, segments, numEvents, buckets, opts)
      if (warm) run()
      // straggler instrumentation (GRAFT_STAGE_STATS=1): per-stage task
      // max/mean over the measured replay — the write-stage tail is the
      // in-JVM scaling limiter round 2 identified; target max/mean ≤ 2
      val stageStats = if (sys.env.get("GRAFT_STAGE_STATS").contains("1"))
        Some(new StageTailListener(s)) else None
      val r = run()
      stageStats.foreach(_.report(cores))
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      r
    }

    // interleave the two levels so co-tenant noise (observed 2-4× swings
    // on this host) hits both equally; best-of-N approximates the
    // uncontended machine
    val runs = (1 to reps).flatMap { rep =>
      val a = once(n, warm = rep == 1)
      val b = once(n4, warm = rep == 1)
      System.err.println(f"[scaling] rep $rep load=$loadAvg local[$n]=${a._2}%.0f eps local[$n4]=${b._2}%.0f eps")
      Seq((n, a), (n4, b))
    }
    val (secN, epsN) = runs.filter(_._1 == n).map(_._2).minBy(_._1)
    val (sec4N, eps4N) = runs.filter(_._1 == n4).map(_._2).minBy(_._1)
    if (sys.env.get("GRAFT_WORK_DIR").isEmpty) Bench.deleteRec(work)

    val efficiency = (eps4N / epsN) / (n4.toDouble / n)
    val modeName = mode.getOrElse("cow")
    println(f"""{"bench":"scaling","mode":"$modeName","events":$numEvents,"reps":$reps,"local[$n]_events_per_sec":$epsN%.0f,"local[$n4]_events_per_sec":$eps4N%.0f,"local[$n]_sec":$secN%.2f,"local[$n4]_sec":$sec4N%.2f,"scaling_efficiency":$efficiency%.3f}""")
  }
}

/** Per-stage successful-task durations → max/mean tail report for stages
  * wide enough to matter (≥ cores tasks). Stderr-only diagnostics. */
class StageTailListener(spark: SparkSession) extends org.apache.spark.scheduler.SparkListener {
  private val stages =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.Vector[java.lang.Long]]()
  private val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (te.taskInfo != null && te.taskInfo.successful)
      stages.computeIfAbsent(te.stageId, _ => new java.util.Vector[java.lang.Long]())
        .add(te.taskInfo.duration)

  override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
    names.put(ss.stageInfo.stageId, ss.stageInfo.name.takeWhile(_ != '\n').take(60))

  def report(cores: Int): Unit = {
    org.apache.spark.sql.GraftShim.waitListenerBusEmpty(spark)
    import scala.jdk.CollectionConverters._
    val wide = stages.asScala.toSeq
      .map { case (sid, ds) => (sid, ds.asScala.map(_.toLong).toSeq) }
      .filter { case (_, ds) => ds.size >= cores && ds.sum > 200 * ds.size } // skip trivial stages
      .map { case (sid, ds) =>
        (sid, ds.size, ds.max.toDouble / math.max(1.0, ds.sum.toDouble / ds.size)) }
    if (wide.nonEmpty) {
      val ratios = wide.map(_._3).sorted
      System.err.println(f"[stage-tail] cores=$cores stages=${wide.size} " +
        f"median_max_over_mean=${ratios(ratios.size / 2)}%.2f")
      wide.sortBy(-_._3).take(3).foreach { case (sid, n, r) =>
        System.err.println(f"[stage-tail]   worst: ratio=$r%.2f stage=$sid tasks=$n " +
          s"name=${names.getOrDefault(sid, "?")}")
      }
    }
    spark.sparkContext.removeSparkListener(this)
  }
}
