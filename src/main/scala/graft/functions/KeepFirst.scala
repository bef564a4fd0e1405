package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, MapType, StructType}
import org.apache.spark.sql.{GraftShim => EU}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Streaming keep-first-of-run predicate: TRUE iff the current row's key
 * tuple differs from the PREVIOUS row's within the task — i.e. it keeps
 * exactly the first row of every equal-key run of a partition-sorted
 * stream. This is the LWW dedup's keep-first pass as a single codegen'd
 * filter: the former implementation was a `mapPartitions` over external
 * `Row` objects, which decodes EVERY column of EVERY row out of the
 * Tungsten format and re-encodes the survivors — a full serialization
 * round trip on the hottest CDC path. As a native filter the stream stays
 * inside whole-stage codegen end to end (exchange → sort → filter →
 * parquet write) and only the key columns are ever touched.
 *
 * Declared [[Nondeterministic]] (it is order-dependent state), which also
 * pins the filter exactly where correctness requires it: the optimizer
 * may not push a nondeterministic predicate below the sort that
 * establishes the run order, duplicate it, or re-order it past other
 * operators.
 */
case class KeepFirstOfRunExpr(children: Seq[Expression])
    extends Expression with Nondeterministic {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  // Keys must be atomic: both eval paths keep the previous key by
  // reference (only UTF8String is cloned) and the interpreted path compares
  // with `==`, so a sorter buffer reused behind an array/struct/map key
  // could rewrite the stored key in place.
  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType).collectFirst {
      case t @ (_: ArrayType | _: StructType | _: MapType) => t
    }.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess) { t =>
      TypeCheckResult.TypeCheckFailure(
        s"keep_first_of_run needs atomic key columns, got ${t.catalogString}")
    }

  @transient private var prev: Array[Any] = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    prev = null

  override protected def evalInternal(input: InternalRow): Any = {
    val n = children.length
    val cur = new Array[Any](n)
    var same = prev != null
    var i = 0
    while (i < n) {
      val v = children(i).eval(input) match {
        // the scanner/sorter may reuse the backing buffer — copy strings
        case s: UTF8String => s.clone()
        case o => o
      }
      if (same) {
        val p = prev(i)
        // semantics must MATCH the codegen path (ctx.genEqual): byte[]
        // compares by content (boxed == would be reference equality) and
        // float/double by primitive == (boxed equals says NaN == NaN)
        same =
          if (p == null) v == null
          else if (v == null) false
          else (p, v) match {
            case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
            case (a: java.lang.Double, b: java.lang.Double) =>
              a.doubleValue == b.doubleValue
            case (a: java.lang.Float, b: java.lang.Float) =>
              a.floatValue == b.floatValue
            case _ => p == v
          }
      }
      cur(i) = v
      i += 1
    }
    prev = cur
    !same
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val hasPrev = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "kfHasPrev")
    ctx.addPartitionInitializationStatement(s"$hasPrev = false;")
    val childCodes = children.map(_.genCode(ctx))
    val same = ctx.freshName("kfSame")
    val parts = children.zip(childCodes).map { case (child, c) =>
      val jt = CodeGenerator.javaType(child.dataType)
      val prevVal = ctx.addMutableState(jt, "kfPrevVal")
      val prevNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "kfPrevNull")
      val eq = ctx.genEqual(child.dataType, prevVal, c.value.toString)
      val store =
        if (jt == "UTF8String")
          s"$prevVal = ${c.isNull} ? null : ${c.value}.clone();"
        else s"$prevVal = ${c.value};"
      s"""
         |${c.code}
         |if ($same) {
         |  $same = $prevNull ? ${c.isNull} : (!${c.isNull} && ($eq));
         |}
         |$prevNull = ${c.isNull};
         |$store
       """.stripMargin
    }.mkString("\n")
    ev.copy(
      code = code"""
boolean $same = $hasPrev;
$parts
$hasPrev = true;
boolean ${ev.value} = !$same;""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KeepFirstOfRunExpr =
    copy(children = newChildren)
  override def prettyName: String = "keep_first_of_run"
}

object KeepFirst {
  /** Column API: `df.filter(keep_first_of_run(keys: _*))` over a stream
    * sorted so equal keys are contiguous. */
  def keep_first_of_run(keys: Column*): Column =
    EU.column(KeepFirstOfRunExpr(keys.map(EU.expression)))
}
