package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** `long_array_popcnt_and(a, b)` — Σ popcount(a[i] & b[i]) over the
  * common prefix of two `array<bigint>` bitmask columns, i.e. the
  * cardinality of the intersection of the two bitsets.
  *
  * Companion to [[LongArrayDot]]: the set-intersection hot path of the
  * bitset legs of exact Jaccard ([[graft.ext.Dedup.jaccardPairs]] and
  * [[graft.ext.Dedup.candidateJaccard]] at small vocabularies), executed
  * per candidate PAIR — a tight codegen'd loop instead of a
  * posting-list join.
  */
case class LongArrayPopcntAnd(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_array_popcnt_and"
  // null ELEMENT in either mask word => null result (see LongArrayDot)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongArrayPopcntAnd {
  import org.apache.spark.sql.graftx.ColumnBridge
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(LongArrayPopcntAnd(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
