package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.CdcApply
import graft.model.Model
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.current_timestamp

/** In-process JFR capture of the OS processes a block starts. */
object Spawns {
  /** Runs `body`; returns its result and the command line of every
    * `jdk.ProcessStart` event (all threads) while it ran. */
  def during[T](body: => T): (T, Seq[String]) = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    val out = try body finally r.stop()
    val f = Files.createTempFile("spawns", ".jfr")
    try {
      r.dump(f)
      (out, RecordingFile.readAllEvents(f).asScala.toSeq.map(_.getString("command")))
    } finally { r.close(); Files.delete(f) }
  }

  /** `chmod` commands naming a path under `under` (other suites share the
    * JVM, and a query they left running may still write elsewhere). */
  def chmods(cmds: Seq[String], under: String): Seq[String] =
    cmds.filter(c => c.startsWith("chmod") && c.contains(under))

  /** Permission bits including setuid/setgid/sticky (Linux `unix` view). */
  def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
}

/** Engine writes start no `chmod` process per file, and their files keep
  * the permission bits and `.crc` files of Hadoop's stock local FS. */
class NoSpawnSpec extends SparkSpec {
  import spark.implicits._

  private def events(lsn0: Long, n: Int): DataFrame =
    (0 until n).map(i => (lsn0 + i, "I", f"c$i%03d", i % 3, "user", s"t$i"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", current_timestamp())

  test("MoR append, CoW merge, compact and dead-letter writes spawn no chmod") {
    val mor = new LakeTable(spark, tmpDir("nospawn-mor"), numBuckets = 4)
    val cow = new LakeTable(spark, tmpDir("nospawn-cow"), numBuckets = 4)
    Seq(mor, cow).foreach(_.create(Model.transcriptSchema))
    val dl = tmpDir("nospawn-dl") + "/dl"
    val bad = Seq((999L, "X", "c000", 0, "user", "bad op"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text")
      .withColumn("ts", current_timestamp())
    val (_, cmds) = Spawns.during {
      mor.appendDelta(CdcApply.prepareBatch(events(0, 40)), Model.keyCols, 0L)
      mor.appendDelta(CdcApply.prepareBatch(events(100, 40)), Model.keyCols, 1L)
      mor.compact()
      cow.merge(CdcApply.prepareBatch(events(0, 40)), Model.keyCols, 0L)
      CdcApply.applyBatch(cow, events(200, 20).union(bad), 1L,
        CdcApply.Options(deadLetterDir = Some(dl)))
    }
    assert(mor.currentSnapshot.deltas.values.forall(_.isEmpty), "compaction folded the deltas")
    assert(spark.read.parquet(dl).count() == 1)

    // permission bits and checksum files match Hadoop's stock local FS
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = FileSystem.getLocal(conf)
    val ref = Paths.get(tmpDir("nospawn-ref"))
    stock.mkdirs(new org.apache.hadoop.fs.Path(ref.resolve("d").toUri))
    stock.create(new org.apache.hadoop.fs.Path(ref.resolve("d/f").toUri)).close()
    Seq(mor, cow).foreach { t =>
      val f = Paths.get(t.root).resolve(t.currentSnapshot.files.values.flatten.head)
      val dir = f.getParent
      assert(dir.getFileName.toString.startsWith("_bucket="))
      assert(Spawns.mode(f) == Spawns.mode(ref.resolve("d/f")), s"data file $f")
      assert(Spawns.mode(dir) == Spawns.mode(ref.resolve("d")), s"bucket dir $dir")
      assert(Files.exists(dir.resolve(s".${f.getFileName}.crc")), s"checksum of $f")
    }

    val chmods = Spawns.chmods(cmds, "/nospawn-")
    assert(chmods.size == 0, s"chmod processes, e.g. ${chmods.take(3)}")
  }
}
