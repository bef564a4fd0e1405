package graft.lake

import java.nio.file.Paths
import java.util.concurrent.{Callable, ForkJoinPool}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.model.Model
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{current_timestamp, lit}

/** Engine footer reads (`ParquetStats`) take their read options from the
  * caller's Hadoop conf: no fresh `Configuration`, so no parse of Hadoop's
  * XML defaults per file, and the same footer as the one-argument
  * `ParquetFileReader.open`. */
class FooterReadSpec extends SparkSpec {
  import spark.implicits._

  /** Prepared-batch shape (`prepareBatch` output) of `n` rows from `lsn0`;
    * every third key is outside the BMP. */
  private def prepared(lsn0: Long, n: Int, op: String = "I"): DataFrame =
    (0 until n).map { i =>
      val l = lsn0 + i
      val conv = (l % 3).toInt match {
        case 0 => f"a🙂${l % 89}%03d" // U+1F642, a supplementary-plane key
        case 1 => f"aﬀ${l % 89}%03d" // U+FB00: after U+1F642 in UTF-16, before it in UTF-8
        case _ => f"c${l % 89}%03d"
      }
      (conv, i, "user", s"t$l", l, op)
    }.toDF("conv_id", "turn_idx", "role", "text", "_lsn", "_op")
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", current_timestamp())

  private def paths(t: LakeTable): Seq[String] =
    t.changeFilesBetween(0L, t.currentVersion).map(f => Paths.get(t.root).resolve(f).toString)

  /** Runs `body` on pool threads whose context class loader counts
    * lookups of `core-default.xml` — one per Hadoop `Configuration` that
    * loads its default resources. A pool, not the calling thread alone, so
    * `footerStats`' parallel stream (which forks into the pool it runs in)
    * is counted too. */
  private def coreDefaultLookups(body: => Unit): Int = {
    val n = new AtomicInteger
    val counting = new ClassLoader(Thread.currentThread.getContextClassLoader) {
      override def getResource(name: String): java.net.URL = {
        if (name == "core-default.xml") n.incrementAndGet()
        super.getResource(name)
      }
    }
    val pool = new ForkJoinPool(4, (p: ForkJoinPool) => {
      val w = ForkJoinPool.defaultForkJoinWorkerThreadFactory.newThread(p)
      w.setContextClassLoader(counting)
      w
    }, null, false)
    try pool.submit(new Callable[Unit] { def call(): Unit = body }).get()
    finally pool.shutdown()
    n.get
  }

  test("footer reads parse no Hadoop XML defaults: fileStat/rowCount, an MoR append, a feed walk") {
    val t = new LakeTable(spark, tmpDir("footer-noparse"), numBuckets = 4)
    t.create(Model.transcriptSchema)
    (0 until 4).foreach(b => t.appendDelta(prepared(b * 100L, 40), Model.keyCols, b.toLong))
    val files = paths(t)
    assert(files.size >= 10, s"fixture must hold >= 10 files, has ${files.size}")
    val conf = spark.sessionState.newHadoopConf()
    def footerWork(batchId: Long): Unit = {
      files.foreach { f =>
        ParquetStats.fileStat(f, "conv_id", conf)
        ParquetStats.rowCount(f, conf)
      }
      t.appendDelta(prepared(batchId * 100L, 40), Model.keyCols, batchId)
      var versions = 0
      t.changeInfoByVersion(0L, t.currentVersion)((_, _, _) => versions += 1)
      assert(versions == t.currentVersion)
    }
    // the counter sees a parse: a fresh Configuration loads its defaults
    assert(coreDefaultLookups(new Configuration().get("fs.defaultFS")) >= 1)
    footerWork(4L) // warm-up outside the counter: classes and JobConf's default resources
    val lookups = coreDefaultLookups(footerWork(5L))
    assert(lookups == 0,
      s"footer reads created $lookups Hadoop Configuration(s) that parsed core-default.xml")
  }

  /** Everything `ParquetStats.fileStat` derives from: per row group, the row
    * count and each column chunk's statistics. */
  private def footerSummary(r: ParquetFileReader): Seq[String] =
    try r.getFooter.getBlocks.asScala.toSeq.map { b =>
      b.getRowCount.toString +: b.getColumns.asScala.toSeq.map { c =>
        val st = c.getStatistics
        val mm = if (st.hasNonNullValue)
          s"${st.getMinBytes.toSeq.mkString(",")}/${st.getMaxBytes.toSeq.mkString(",")}"
        else "-"
        s"${c.getPath.toDotString} ${c.getValueCount} ${st.isEmpty} ${st.getNumNulls} $mm"
      }
    }.map(_.mkString("; "))
    finally r.close()

  test("footer stats ≡ the one-argument open and the data: non-BMP keys, all-delete file, rolled files") {
    val t = new LakeTable(spark, tmpDir("footer-parity"), numBuckets = 2, maxRecordsPerFile = 50L)
    t.create(Model.transcriptSchema)
    t.appendDelta(prepared(0L, 600), Model.keyCols, 0L)
    val v1 = t.currentVersion
    t.appendDelta(prepared(0L, 90, op = "D").withColumn("_lsn", $"_lsn" + 1000L),
      Model.keyCols, 1L)
    val deleteFiles = t.changeFilesBetween(v1, t.currentVersion)
      .map(f => Paths.get(t.root).resolve(f).toString).toSet
    val conf = spark.sessionState.newHadoopConf()
    val files = paths(t)
    assert(deleteFiles.nonEmpty && files.size > deleteFiles.size)
    val stats = files.map { f =>
      assert(footerSummary(ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))) ==
        footerSummary(ParquetStats.open(f, conf)), s"footer of $f")
      val st = ParquetStats.fileStat(f, "conv_id", conf)
      val rows = spark.read.parquet(f).select("conv_id", "_lsn", "_op")
        .as[(String, Long, String)].collect().toSeq
      val utf8 = Ordering.fromLessThan[String](LakeTable.utf8Compare(_, _) < 0)
      assert(st == ParquetStats.FileStat(rows.size.toLong, rows.map(_._2).minOption,
        rows.map(_._2).maxOption, rows.map(_._1).minOption(utf8),
        rows.map(_._1).maxOption(utf8)), s"footer stats of $f")
      assert(ParquetStats.rowCount(f, conf) == st.rows)
      if (deleteFiles(f)) assert(rows.forall(_._3 == "D"), s"$f holds only tombstones")
      st
    }
    // the rolling cap held and was reached, and the key ranges cross the BMP
    assert(stats.forall(_.rows <= 50L) && stats.exists(_.rows == 50L),
      s"rows per file: ${stats.map(_.rows)}")
    assert(stats.exists(_.convMax.exists(_.startsWith("a🙂"))))
    assert(stats.map(_.rows).sum == 690L)
  }
}
