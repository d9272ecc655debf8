// Hosted under org.apache.spark.sql.* because Dataset.ofRows is
// private[sql]. No Spark internals are modified.
package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** A round-robin repartition to `n` partitions that the optimizer cannot
  * see through. `Repartition` lets `PushPredicateThroughNonJoin` move a
  * filter written above it below the exchange, onto the under-partitioned
  * input, so the filter (and any projection it references) runs there on
  * one task. No rule pushes anything through this node: what is written
  * above it runs on all `n` partitions. Column pruning still passes
  * through (its output is its child's). Planned as the very exchange
  * `df.repartition(n)` plans. */
case class Widened(n: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): Widened = copy(child = c)
}

object Widened {

  private object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Widened(n, child) =>
        ShuffleExchangeExec(RoundRobinPartitioning(n), planLater(child),
          REPARTITION_BY_NUM) :: Nil
      case _ => Nil
    }
  }

  /** `df` behind a [[Widened]] barrier of `n` partitions; installs the
    * planning strategy in `df`'s session on first use. */
  def apply(df: DataFrame, n: Int): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(Planning))
        ex.extraStrategies = ex.extraStrategies :+ Planning
    }
    classic.Dataset.ofRows(spark, Widened(n, df.queryExecution.analyzed))
  }
}
