package graft.lake

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ForkJoinPool}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.model.Model
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{current_timestamp, lit, when}

/** Engine footer reads (`ParquetStats`) take their read options from the
  * caller's Hadoop conf: no fresh `Configuration`, so no parse of Hadoop's
  * XML defaults per file, and the same footer as the one-argument
  * `ParquetFileReader.open`. The per-file stats an engine write takes from
  * its write tasks ([[FileStatsTracker]]) equal a footer read of the file. */
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
    * work the engine forks into the pool it runs in is counted too. */
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

  test("footer reads parse no Hadoop XML defaults: rowCount, an MoR append, a feed walk") {
    val t = new LakeTable(spark, tmpDir("footer-noparse"), numBuckets = 4)
    t.create(Model.transcriptSchema)
    (0 until 4).foreach(b => t.appendDelta(prepared(b * 100L, 40), Model.keyCols, b.toLong))
    val files = paths(t)
    assert(files.size >= 10, s"fixture must hold >= 10 files, has ${files.size}")
    val conf = spark.sessionState.newHadoopConf()
    def footerWork(batchId: Long): Unit = {
      files.foreach(f => ParquetStats.rowCount(f, conf))
      // the append's stats come from its write tasks; its driver side
      // builds the job's conf and commits the job
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

  /** Every footer field a file's stats derive from: per row group, the row
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

  private val utf8 = Ordering.fromLessThan[String](LakeTable.utf8Compare(_, _) < 0)

  /** A file's stats as its footer gives them: rows, and the `_lsn` and
    * `conv_id` min/max merged over row groups in unsigned UTF-8 byte order.
    * The key range is None unless every row group with rows carries key
    * min/max (parquet omits them above 4 KB). */
  private def footerStat(f: String, conf: Configuration): FileStat = {
    val r = ParquetStats.open(f, conf)
    val blocks = try r.getFooter.getBlocks.asScala.toSeq finally r.close()
    def stats(b: org.apache.parquet.hadoop.metadata.BlockMetaData, col: String) =
      b.getColumns.asScala.find(_.getPath.toDotString == col).map(_.getStatistics)
        .filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
    val lsn = blocks.flatMap(stats(_, "_lsn")).flatMap(st =>
      Seq(st.genericGetMin, st.genericGetMax).map(_.asInstanceOf[java.lang.Long].longValue))
    val keyed = blocks.filter(_.getRowCount > 0).map(stats(_, "conv_id"))
    val keys = if (keyed.exists(_.isEmpty)) Nil else keyed.flatten.flatMap(st =>
      Seq(st.getMinBytes, st.getMaxBytes).map(new String(_, java.nio.charset.StandardCharsets.UTF_8)))
    FileStat(-1, f, blocks.map(_.getRowCount).sum, lsn.minOption, lsn.maxOption,
      keys.minOption(utf8), keys.maxOption(utf8))
  }

  test("footer stats ≡ the one-argument open and the data: non-BMP keys, all-delete file, rolled files") {
    val t = new LakeTable(spark, tmpDir("footer-parity"), numBuckets = 2, maxRecordsPerFile = 50L)
    t.create(Model.transcriptSchema)
    val written = ArrayBuffer[FileStat]()
    t.testWriteHook = fs => written.synchronized(written ++= fs)
    def step(body: => Unit): Seq[FileStat] = {
      val before = written.size
      body
      written.drop(before).toSeq
    }
    val longKey = "z" * 5000 // above parquet's 4 KB stats limit
    val appended = step(t.appendDelta(prepared(0L, 600), Model.keyCols, 0L))
    val deletes = step(t.appendDelta(prepared(0L, 90, op = "D")
      .withColumn("_lsn", $"_lsn" + 1000L), Model.keyCols, 1L))
    val long = step(t.appendDelta(prepared(2000L, 30)
      .withColumn("conv_id", when($"turn_idx" === 0, lit(longKey)).otherwise($"conv_id")),
      Model.keyCols, 2L))
    val compacted = step(t.compact())
    val merged = step(t.merge(prepared(3000L, 120), Model.keyCols, 3L))
    assert(Seq(appended, deletes, long, compacted, merged).forall(_.nonEmpty))
    assert(appended.map(_.rows).sum == 600L && deletes.map(_.rows).sum == 90L)

    // the tracked files are exactly the data files on disk
    val root = Paths.get(t.root)
    val walk = Files.walk(root.resolve("data"))
    val onDisk = try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
    finally walk.close()
    assert(written.map(_.path).toSet == onDisk && written.size == onDisk.size)

    val conf = spark.sessionState.newHadoopConf()
    written.foreach { st =>
      val f = root.resolve(st.path).toString
      assert(footerSummary(ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))) ==
        footerSummary(ParquetStats.open(f, conf)), s"footer of $f")
      assert(st.bucket.toString == Paths.get(st.path).getParent.getFileName.toString
        .stripPrefix("_bucket="))
      val rows = spark.read.parquet(f).select("conv_id", "_lsn", "_op")
        .as[(String, Long, String)].collect().toSeq
      val fromData = FileStat(st.bucket, st.path, rows.size.toLong, rows.map(_._2).minOption,
        rows.map(_._2).maxOption, rows.map(_._1).minOption(utf8), rows.map(_._1).maxOption(utf8))
      assert(st == fromData, s"write stats of $f")
      val footer = footerStat(f, conf)
      if (rows.exists(_._1 == longKey))
        // parquet keeps no min/max for the 5000-byte key; the write tasks'
        // range is exact, so the file can still be pruned for other keys
        assert(footer.keyMin.isEmpty && footer.keyMax.isEmpty && st.keyMax.contains(longKey),
          s"$f: footer ${footer.keyMin} .. ${footer.keyMax}")
      else assert(footer.copy(bucket = st.bucket, path = st.path) == st, s"footer stats of $f")
      assert(ParquetStats.rowCount(f, conf) == st.rows)
      if (deletes.contains(st)) assert(rows.forall(_._3 == "D"), s"$f holds only tombstones")
    }
    assert(long.exists(_.keyMax.contains(longKey)) && compacted.exists(_.keyMax.contains(longKey)))
    assert(t.currentSnapshot.fileRanges.values.exists(_._2 == longKey),
      "the long key's file keeps its range in the snapshot")
    // the rolling cap held and was reached, and the key ranges cross the BMP
    assert(written.forall(_.rows <= 50L) && written.exists(_.rows == 50L),
      s"rows per file: ${written.map(_.rows)}")
    assert(written.exists(_.keyMax.exists(_.startsWith("a🙂"))))
  }
}
