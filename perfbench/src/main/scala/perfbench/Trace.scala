package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval: a public call the benchmark made into a layer, or a
  * Spark job the listener attributed to the span that submitted it. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` is a plain call: the untraced
  * measurement pays for nothing but a boolean test. Enabled, every span
  * publishes its id as a Spark local property, so jobs submitted inside it
  * (including from threads the engine spawns during the call, which
  * inherit local properties) are attributed to it by [[ExecListener]]. */
final class Tracer(sc: SparkContext, val runId: String) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[java.lang.Long]

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = Option(current.get).map(_.longValue).getOrElse(0L)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      current.set(id)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, layer, name, t0, System.nanoTime()))
        if (parent == 0L) current.remove() else current.set(parent)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  /** The innermost open span on this thread, 0 when none. */
  def currentId: Long = Option(current.get).map(_.longValue).getOrElse(0L)

  /** Runs `body` as if inside span `parent`: for work handed to a thread
    * that was not created inside that span. */
  def under[T](parent: Long)(body: => T): T =
    if (!enabled || parent == 0L) body
    else {
      val prev = current.get
      current.set(parent)
      try body finally { if (prev == null) current.remove() else current.set(prev) }
    }

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = done.add(s)
  def spans: Seq[Span] = done.asScala.toSeq

  /** Spans as JSON lines, each carrying the shared run id. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Stats.json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Per-layer self time: each span's duration minus the part of its
    * interval its children cover. Concurrent children (pipelined jobs)
    * are merged before subtracting, so self time is never negative. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e6
      }.sum
    }
  }
}

/** What the engine did in one Spark stage, as the public listener API
  * reports it, plus the kind of engine call that submitted it (read from
  * the stage's call site, which names the engine method on the stack). */
final case class StageRec(kind: String, isMap: Boolean, wallMs: Double,
    tasks: Int, taskMs: Double, cpuMs: Double, gcMs: Double,
    inputRecords: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, outputBytes: Long, outputRecords: Long,
    spillBytes: Long, skew: Double)

/** SparkListener for the `exec.*` metrics and job → span attribution. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  @volatile var enabled = false
  private val stageKind = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execKind = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val taskDur = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    jobs.incrementAndGet()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobSpan.put(e.jobId, (parent, System.nanoTime()))
    // SQL jobs (and the stages adaptive execution submits from its own
    // threads) take the kind of their SQL execution, whose call site is
    // the engine thread that ran the action
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execKind.get(id.toLong)))
    e.stageInfos.foreach(si =>
      stageKind.put(si.stageId, exec.getOrElse(ExecListener.kindOf(si.details))))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execKind.put(s.executionId, ExecListener.kindOf(s.details))
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      execKind.remove(s.executionId)
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val js = jobSpan.remove(e.jobId)
    if (enabled && js != null)
      tracer.add(Span(tracer.nextId(), js._1, "exec", s"job-${e.jobId}", js._2, System.nanoTime()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskInfo != null) {
    taskDur.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
      .add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val si = e.stageInfo
    val m = si.taskMetrics
    val durs = Option(taskDur.remove(si.stageId)).map(_.asScala.map(_.toDouble).toSeq)
      .getOrElse(Nil)
    val skew = if (durs.size >= 4 && Stats.median(durs) > 0) durs.max / Stats.median(durs) else 1.0
    val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield (b - a).toDouble)
      .getOrElse(0.0)
    val kind = Option(stageKind.remove(si.stageId)).getOrElse(ExecListener.kindOf(si.details))
    if (m != null) stages.add(StageRec(kind,
      isMap = m.shuffleWriteMetrics.bytesWritten > 0 || m.shuffleWriteMetrics.recordsWritten > 0,
      wallMs = wall, tasks = si.numTasks, taskMs = m.executorRunTime.toDouble,
      cpuMs = m.executorCpuTime / 1e6, gcMs = m.jvmGCTime.toDouble,
      inputRecords = m.inputMetrics.recordsRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      outputBytes = m.outputMetrics.bytesWritten, outputRecords = m.outputMetrics.recordsWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, skew = skew))
  }
}

object ExecListener {
  /** Engine operation behind a stage, from the call-site stack Spark
    * records for it. */
  def kindOf(details: String): String = {
    val d = Option(details).getOrElse("")
    // compaction and delta writes both run through rewriteBuckets, so the
    // callers are tested first
    if (d.contains("LakeTable.compact")) "compact"
    else if (d.contains("LakeTable.writeDeltaFiles") || d.contains("LakeTable.appendDelta")) "write"
    else if (d.contains("LakeTable.merge") || d.contains("LakeTable.rewriteBuckets")) "merge"
    else "other"
  }
}

/** StreamingQueryListener for the `streaming.feed.*` metrics: per-trigger
  * durations of the change-feed query (named [[StreamListener.FeedName]])
  * from Spark's StreamingQueryProgress. */
final class StreamListener extends StreamingQueryListener {
  @volatile var enabled = false
  val triggers = new ConcurrentLinkedQueue[StreamListener.Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (enabled && e.progress.name == StreamListener.FeedName)
      triggers.add(StreamListener.Trigger(e.progress.numInputRows,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
}

object StreamListener {
  val FeedName = "perfbench-feed"
  final case class Trigger(rows: Long, durations: Map[String, Long])
}

/** Driver-thread stack sampler: estimates the driver-side time the engine
  * spends inside methods that no public call or Spark job exposes (commit
  * IO, snapshot reads, footer stats). Executor threads are skipped — their
  * time is in the task metrics — and so are the harness's own threads (the
  * sampler and the [[CommitWatcher]], whose snapshot polling is not engine
  * work). Each RUNNABLE sample with a matching frame counts one interval. */
final class Sampler(intervalMs: Long, probes: Seq[(String, Seq[String])]) {
  private val counts = mutable.Map[String, Long]().withDefaultValue(0L)
  @volatile private var running = false
  private var thread: Thread = null
  @volatile var samples = 0L

  def start(): Unit = {
    running = true
    thread = new Thread(() => {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      while (running) {
        val infos = mx.dumpAllThreads(false, false, 96)
        infos.foreach { ti =>
          val name = ti.getThreadName
          if (ti.getThreadState == Thread.State.RUNNABLE &&
            !name.startsWith("Executor task launch") && !name.startsWith("perfbench-")) {
            val frames = ti.getStackTrace.map(f => f.getClassName + "." + f.getMethodName)
            probes.foreach { case (metric, needles) =>
              if (frames.exists(f => needles.exists(f.contains)))
                counts.synchronized(counts(metric) += 1)
            }
          }
        }
        samples += 1
        Thread.sleep(intervalMs)
      }
    }, "perfbench-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Map[String, Double] = {
    running = false
    if (thread != null) thread.join()
    counts.synchronized(probes.map { case (m, _) => m -> counts(m) * intervalMs.toDouble }.toMap)
  }
}
