package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, LongType}

/** `partition_run_start(k)` — 1 on the CURRENT PARTITION's first row
  * and on every row whose key `k` differs in sort order from the row
  * before it, else 0. A null key equals only a null key; the result is
  * never null.
  *
  * The weight of [[graft.ops.PrefixSum.withDenseRankCounted]]: over a
  * range-partitioned frame sorted within its partitions, its running
  * total is the global dense rank. Stateful like [[PartitionRunningSum]]:
  * it keeps a copy of the last key that started a run, so it is
  * meaningful only where the row order is fixed — below a
  * materialization of the sorted frame.
  */
case class PartitionRunStart(child: Expression)
    extends UnaryExpression with Nondeterministic {

  @transient private[this] var started: Boolean = _
  @transient private[this] var prev: Any = _
  @transient private[this] lazy val ordering =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def stateful: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "partition_run_start"

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    started = false
    prev = null
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val k = child.eval(input)
    val same = started &&
      (if (k == null || prev == null) k == null && prev == null
       else ordering.compare(k, prev) == 0)
    if (same) 0L
    else {
      started = true
      prev = InternalRow.copyValue(k)
      1L
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val dt = child.dataType
    val started = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "runStarted")
    val prevNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "runPrevNull")
    val prev = ctx.addMutableState(CodeGenerator.javaType(dt), "runPrev")
    ctx.addPartitionInitializationStatement(s"$started = false;")
    val k = child.genCode(ctx)
    // the key may point into a reused row buffer: keep a deep copy
    val kept = if (CodeGenerator.isPrimitiveType(dt)) k.value.toString
      else s"(${CodeGenerator.boxedType(dt)}) org.apache.spark.sql." +
        s"catalyst.InternalRow$$.MODULE$$.copyValue(${k.value})"
    ev.copy(code = code"""
      ${k.code}
      long ${ev.value} = 1L;
      if ($started && ($prevNull ? ${k.isNull} : (!${k.isNull} &&
          ${ctx.genComp(dt, k.value, prev)} == 0))) {
        ${ev.value} = 0L;
      } else {
        $started = true;
        $prevNull = ${k.isNull};
        if (!${k.isNull}) { $prev = $kept; }
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PartitionRunStart = copy(child = newChild)
}

object PartitionRunStart {
  import org.apache.spark.sql.graftx.ColumnBridge

  def apply(key: Column): Column =
    ColumnBridge.column(PartitionRunStart(ColumnBridge.expression(key)))
}
