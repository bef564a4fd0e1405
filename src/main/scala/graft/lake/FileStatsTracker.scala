package graft.lake

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Stats of one written data file. `path` is relative to the write's
  * output directory (`_bucket=N/<name>`). The `_lsn` and key min/max cover
  * the non-null values (None when there are none); keys compare in
  * unsigned UTF-8 byte order, the collation of parquet's binary stats. */
final case class FileStat(bucket: Int, path: String, rows: Long,
    lsnMin: Option[Long], lsnMax: Option[Long],
    keyMin: Option[String], keyMax: Option[String])

/** Per-file stats of a bucket-partitioned table write, counted by the write
  * tasks as they write each row: no footer is opened afterwards and no
  * directory listed. `FileFormatWriter` hands `processStats` the results of
  * committed task attempts only, so the stats are exact under task retries
  * and speculation, as footer stats are. Unlike parquet's footer stats, the
  * key range is exact for any key length (parquet drops min/max above
  * 4 KB). `dataSchema` is the written rows' schema: the frame's columns
  * without the partition column. */
final class FileStatsTracker(dataSchema: StructType, keyCol: String)
    extends WriteJobStatsTracker {
  private val lsnOrd = dataSchema.fieldIndex("_lsn")
  private val keyOrd = dataSchema.fieldIndex(keyCol)
  @transient @volatile private var committed: Seq[FileStat] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileStatsTracker.Task(lsnOrd, keyOrd)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    committed = stats.flatMap { case FileStatsTracker.TaskStats(files) => files }

  /** Every file the committed write holds (empty before the job commits). */
  def files: Seq[FileStat] = committed
}

object FileStatsTracker {
  private final case class TaskStats(files: Seq[FileStat]) extends WriteTaskStats

  private final class File(val dir: String, val name: String) {
    var rows = 0L
    var lsnMin = Long.MaxValue
    var lsnMax = Long.MinValue
    var keyMin: UTF8String = null
    var keyMax: UTF8String = null

    def stat: FileStat = FileStat(dir.substring(dir.indexOf('=') + 1).toInt, s"$dir/$name",
      rows, Option.when(lsnMin <= lsnMax)(lsnMin), Option.when(lsnMin <= lsnMax)(lsnMax),
      Option(keyMin).map(_.toString), Option(keyMax).map(_.toString))
  }

  /** A task's files, keyed by the path the writer reports: the task
    * attempt's temporary `.../<dir>/<name>`, which the job commit moves to
    * `<outDir>/<dir>/<name>`. */
  private final class Task(lsnOrd: Int, keyOrd: Int) extends WriteTaskStatsTracker {
    private val files = mutable.LinkedHashMap[String, File]()
    private var curPath: String = null
    private var cur: File = null

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(filePath)
      files(filePath) = new File(p.getParent.getName, p.getName)
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (!(filePath eq curPath)) { cur = files(filePath); curPath = filePath }
      val f = cur
      f.rows += 1
      if (!row.isNullAt(lsnOrd)) {
        val l = row.getLong(lsnOrd)
        if (l < f.lsnMin) f.lsnMin = l
        if (l > f.lsnMax) f.lsnMax = l
      }
      if (!row.isNullAt(keyOrd)) {
        // the row's buffer is reused for the next row: keep copies
        val k = row.getUTF8String(keyOrd)
        if (f.keyMin == null || k.binaryCompare(f.keyMin) < 0) f.keyMin = k.clone()
        if (f.keyMax == null || k.binaryCompare(f.keyMax) > 0) f.keyMax = k.clone()
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskStats(files.values.map(_.stat).toSeq)
  }
}
