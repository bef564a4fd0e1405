package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one measurement window produced. `latenciesMs` are the samples
  * behind the latency percentiles, grouped by round: a percentile is taken
  * within each group and the median over groups is reported, because the
  * samples of one replay round cluster at a few commit times and a pooled
  * percentile jumps between those clusters. `detail` holds workload-level
  * numbers that are reported per layer and in the run record. */
final case class Window(throughput: Double, latenciesMs: Seq[Seq[Double]],
    attempted: Long, failed: Long, wallMs: Double,
    detail: Map[String, Double], notes: Map[String, Any] = Map.empty)

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val cpus: Int) {
  def dir(name: String): String = work.resolve(name).toString
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

trait Workload {
  /** Input generation and staging. Must be repeatable: the harness runs it
    * several times and reports the median as part of `setup_s`. */
  def prepare(): Unit
  /** One-time warm-up: JIT, codegen and file-system caches. */
  def warmup(): Unit
  /** One measurement window of about `seconds`, including its output
    * checks (which run outside the timed spans). `index` tells windows of
    * one run apart, so each writes fresh tables. */
  def measure(seconds: Double, index: Int): Window
}

object Files2 {
  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally st.close()
    }

  def bytes(p: Path): Long = walk(p).map(Files.size).sum

  def bytes(s: String): Long = bytes(Paths.get(s))

  /** (data files, data bytes, metadata bytes) under a lake table root:
    * parquet under `data/`, snapshot and manifest JSON. */
  def tableStats(root: String): (Long, Long, Long) = {
    val r = Paths.get(root)
    val data = walk(r.resolve("data")).filter(_.getFileName.toString.endsWith(".parquet"))
    (data.size.toLong, data.map(Files.size).sum,
      bytes(r.resolve("snapshots")) + bytes(r.resolve("manifests")))
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally st.close()
    }

  def delete(s: String): Unit = delete(Paths.get(s))
}
