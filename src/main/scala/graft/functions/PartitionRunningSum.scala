package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** `partition_running_sum(w)` — the inclusive running total of a LONG
  * weight in the row order of the CURRENT PARTITION, reset to 0 at
  * every partition start. A null weight adds nothing; the result is
  * never null.
  *
  * The per-partition half of [[graft.ops.PrefixSum]]'s ordered scan:
  * evaluated right after `sortWithinPartitions`, it is the local
  * running total a window keyed by the partition id would give,
  * without that window's hash exchange and re-sort (a window cannot
  * know the input is already partitioned by the partition id).
  * Stateful like `monotonically_increasing_id`: the value depends on
  * the rows before it in the partition, so it is meaningful only where
  * that order is fixed — below a materialization of the sorted frame.
  * The child must be LONG; the column constructor casts it.
  */
case class PartitionRunningSum(child: Expression)
    extends UnaryExpression with Nondeterministic {

  @transient private[this] var acc: Long = _

  override def stateful: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "partition_running_sum"

  override protected def initializeInternal(partitionIndex: Int): Unit =
    acc = 0L

  override protected def evalInternal(input: InternalRow): Any = {
    val w = child.eval(input)
    if (w != null) acc += w.asInstanceOf[Long]
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val accTerm = ctx.addMutableState(CodeGenerator.JAVA_LONG, "runSum")
    ctx.addPartitionInitializationStatement(s"$accTerm = 0L;")
    val w = child.genCode(ctx)
    ev.copy(code = code"""
      ${w.code}
      if (!${w.isNull}) { $accTerm += ${w.value}; }
      final long ${ev.value} = $accTerm;""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PartitionRunningSum = copy(child = newChild)
}

object PartitionRunningSum {
  import org.apache.spark.sql.graftx.ColumnBridge

  /** The weight is cast to LONG: integral sums are exact and commute
    * across partitions, so the global total replays bit for bit. */
  def apply(weight: Column): Column =
    ColumnBridge.column(PartitionRunningSum(
      ColumnBridge.expression(weight.cast("long"))))
}
