// Hosted under org.apache.spark.sql.* because ExpressionUtils is
// private[sql]. No Spark internals are modified.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, LongType}

/** `starts(p)` plus the sum of the non-null long `child` over the rows
  * of partition `p` that come BEFORE the current row, in the order the
  * partition yields them. A narrow pass: no exchange, no window. It is
  * only meaningful directly over partitions that are already in order
  * ([[graft.Par.prefixSum]]'s pinned range partitions). */
case class RunningSum(child: Expression, starts: Array[Long])
    extends UnaryExpression with Nondeterministic {

  @transient private[this] var acc: Long = _

  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def stateful: Boolean = true
  override def prettyName: String = "graft_running_sum"
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override protected def initializeInternal(partitionIndex: Int): Unit =
    acc = starts(partitionIndex)

  override protected def evalInternal(input: InternalRow): Any = {
    val before = acc
    acc += child.eval(input).asInstanceOf[Long]
    before
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val accTerm = ctx.addMutableState(CodeGenerator.JAVA_LONG, "runningSum")
    val startsTerm = ctx.addReferenceObj("runningSumStarts", starts, "long[]")
    ctx.addPartitionInitializationStatement(s"$accTerm = $startsTerm[partitionIndex];")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      final long ${ev.value} = $accTerm;
      $accTerm += ${c.value};""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): RunningSum =
    copy(child = c)
}

object RunningSum {
  def apply(child: Column, starts: Array[Long]): Column =
    ExpressionUtils.column(RunningSum(ExpressionUtils.expression(child), starts))
}
