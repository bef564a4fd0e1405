package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Closed loop over the oracled operator queries (`SparkEntry.queries`) on
  * seeded tables that do not depend on `--seed`. One caller issues the
  * selected queries as a pass: all at once, on `cpus - 1` threads (one
  * core is left for the driver's JIT and GC threads), each forced with
  * `count()`, and waits for the whole pass before the next. Planning is
  * single-threaded per query and dominates at this scale, so a serial pass
  * timed one driver thread and moved with whatever shared that core; a
  * concurrent pass spreads the same work over the cores. The warm-up pass
  * checks every selected query's row count and content hash against the
  * expected-results file, and every timed pass checks counts. */
final class QueryBench(ctx: Ctx, expectedPath: String) extends Workload {
  import ctx.{spark, tracer}

  private val dataDir = ctx.dir("query-data")
  private val all = graft.SparkEntry.queries
  private val selected = QueryBench.Default
  private val callers = math.max(1, ctx.cpus - 1)
  private lazy val expected: Map[String, Oracle.Digest] = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(expectedPath)))
    root.get("queries").properties().asScala.map { e =>
      e.getKey -> Oracle.Digest(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
  }

  def prepare(): Unit = QueryData.write(spark, dataDir, QueryBench.Scale, QueryBench.DataSeed)

  /** The callers: daemon threads kept from the warm-up to the end of the
    * run, so the timed passes do not start on cold threads. */
  private lazy val pool: ExecutorService = Executors.newFixedThreadPool(callers, { (r: Runnable) =>
    val t = new Thread(r, s"queries-caller-${callerIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  })
  private val callerIds = new AtomicLong(0)

  /** Runs `f` on every selected query concurrently and returns the results
    * in `selected` order once all have finished. The tasks run inside the
    * calling thread's open span. */
  private def pass[T](f: String => T): Seq[(String, T)] = {
    val parent = tracer.currentId
    selected.map(q => q -> pool.submit(new Callable[T] { def call(): T = tracer.under(parent)(f(q)) }))
      .map { case (q, fut) => q -> fut.get() }
  }

  private var warmChecks = 0L
  private var warmFailures = 0L

  /** One checked pass (count and content hash of every selected query),
    * then untimed passes of the timed `count()` form until pass times stop
    * falling: until the median of the last four passes is no more than 5%
    * below that of the four before, after at least `WarmMinSeconds` and at
    * most `WarmMaxSeconds`. Passes keep getting faster for 10-25 s after
    * the first query runs, while the JIT's compile queue drains on threads
    * that share the cores with the callers, and how long varies by run. */
  def warmup(): Unit = {
    pass(q => Oracle.digest(all(q)(spark, dataDir))).foreach { case (q, got) =>
      warmChecks += 1
      if (!expected.get(q).contains(got)) {
        warmFailures += 1
        ctx.log(s"query $q: got $got, expected ${expected.get(q)}")
      }
    }
    val times = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def falling = times.size < 8 ||
      Stats.median(times.takeRight(4).toSeq) < 0.95 * Stats.median(times.dropRight(4).takeRight(4).toSeq)
    while (elapsed < QueryBench.WarmMaxSeconds && (elapsed < QueryBench.WarmMinSeconds || falling)) {
      val t0 = System.nanoTime()
      pass(q => all(q)(spark, dataDir).count())
      times += (System.nanoTime() - t0) / 1e9
    }
    ctx.log(f"warm-up: ${times.size} passes in $elapsed%.1f s, last ${times.takeRight(4).map(t => f"$t%.2f").mkString("/")} s")
  }

  def measure(seconds: Double, index: Int): Window = {
    val attempted = new AtomicLong(warmChecks)
    val failed = new AtomicLong(warmFailures)
    warmChecks = 0
    warmFailures = 0
    val passes = mutable.ArrayBuffer[(Double, Seq[(String, Double)])]()
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      val times = pass { q =>
        val t0 = System.nanoTime()
        val n = tracer.span("queries", q)(all(q)(spark, dataDir).count())
        attempted.incrementAndGet()
        if (!expected.get(q).exists(_.rows == n)) failed.incrementAndGet()
        (System.nanoTime() - t0) / 1e6
      }
      passes += ((System.nanoTime() - p0) / 1e6 -> times)
    }
    val wallMs = (System.nanoTime() - start) / 1e6
    val passMs = passes.map(_._1).toSeq
    Window(
      throughput = passes.size * selected.size / (wallMs / 1000),
      // a pass is the unit the caller waits for; single queries differ in
      // cost too much for their pooled median to be steady
      latenciesMs = Seq(passMs),
      attempted = attempted.get, failed = failed.get,
      wallMs = wallMs,
      detail = selected.map(q => s"queries.${q}_s" ->
        Stats.median(passes.map(_._2.toMap.apply(q) / 1000).toSeq)).toMap,
      notes = Map("passes" -> passes.size, "callers" -> callers, "queries" -> selected,
        "pass_s" -> passMs.map(_ / 1000)))
  }

  /** Record every query's digest (each computed twice, to catch results
    * that are not deterministic) as the expected-results file. */
  def record(): Unit = {
    prepare()
    val rows = all.keys.toSeq.sorted.map { q =>
      val a = Oracle.digest(all(q)(spark, dataDir))
      val b = Oracle.digest(all(q)(spark, dataDir))
      require(a == b, s"query $q is not deterministic: $a vs $b")
      ctx.log(s"recorded $q: $a")
      q -> Map("rows" -> a.rows, "hash" -> a.hash)
    }
    Files.writeString(Paths.get(expectedPath), Stats.json(Map(
      "data_seed" -> QueryBench.DataSeed, "sf" -> QueryBench.Scale,
      "queries" -> scala.collection.immutable.ListMap(rows: _*))) + "\n")
  }
}

object QueryBench {
  val DataSeed = 42L
  val Scale = 0.01
  val WarmMinSeconds = 15.0
  val WarmMaxSeconds = 25.0
  /** The timed subset, one query per engine package, chosen to fit a pass
    * into about a second on a 4-core box: LSH near-dup pairing
    * (`ops.TextOps`), the RML JSONPath loader, the LWW keep-first
    * (`functions.KeepFirst`), RDF rules, aggregation (`q1_agg`) and text
    * functions. Listed longest first (as measured on 4 cores), so the
    * callers of a pass start the long queries first and finish together. */
  val Default: Seq[String] = Seq(
    "q_doc_neardup_minhash", "q_json_path", "q_lww_dedup", "q_format_ntriples", "q1_agg",
    "q_doc_fingerprint")
}
