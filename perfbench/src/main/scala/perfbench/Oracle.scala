package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks that share no code with the engine's apply path. */
object Oracle {

  /** Row count and order-independent content hash of a result. */
  final case class Digest(rows: Long, hash: String)

  /** The expected final table state for a change log, in plain Spark SQL:
    * validation filter (""/"NULL" count as missing; payload required for
    * non-deletes), the max-LSN row per (conv_id, turn_idx), deletes
    * dropped. `paths` are the log's parquet segment directories. */
  def expectedTable(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val schema = StructType(Seq(
      StructField("lsn", LongType), StructField("op", StringType),
      StructField("ts", TimestampType), StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType), StructField("role", StringType),
      StructField("text", StringType), StructField("tool", StringType)))
    spark.read.schema(schema).parquet(paths: _*).createOrReplaceTempView("perfbench_log")
    def present(c: String) = s"($c IS NOT NULL AND CAST($c AS STRING) NOT IN ('', 'NULL'))"
    spark.sql(
      s"""SELECT conv_id, turn_idx, role, text, tool, ts FROM (
         |  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
         |  FROM perfbench_log
         |  WHERE ${present("lsn")} AND ${present("op")} AND ${present("conv_id")}
         |    AND ${present("turn_idx")} AND op IN ('I', 'U', 'D')
         |    AND (op = 'D' OR (${present("role")} AND ${present("text")}))
         |) WHERE rn = 1 AND op <> 'D'""".stripMargin)
  }

  /** Digest over the named columns: a position-aware string per row
    * (nulls marked, floats rounded to 6 places so summation order cannot
    * flip a last bit), hashed, and the hashes summed exactly. */
  def digest(df: DataFrame): Digest = {
    val cols = df.schema.fields.sortBy(_.name).map(f => asText(col(s"`${f.name}`"), f.dataType))
    val row = concat_ws("\u0001", cols.map(c => coalesce(c, lit("\u0002"))): _*)
    val r = df.select(count(lit(1)), sum(xxhash64(row).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def asText(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6f", c)
    case ArrayType(DoubleType | FloatType, _) =>
      concat_ws(",", transform(c, x => format_string("%.6f", x)))
    case _ => c.cast("string")
  }
}
