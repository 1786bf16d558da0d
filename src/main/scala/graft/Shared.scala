package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** A plan barrier for a relation that several consumers read.
  *
  * Spark plans a DataFrame fork as one copy of the subtree per consumer,
  * and runtime exchange reuse collapses the copies only while they stay
  * canonically equal. The optimizer specialises each copy to its own
  * consumer: column pruning drops the columns that consumer does not read,
  * and filters (written or inferred from a join) are pushed down into it.
  * `Shared(df)` stops both at its boundary. The node references every
  * column of its child, so nothing is pruned below it, and no optimizer
  * rule pushes a predicate through a node it does not know. Every consumer
  * therefore plans the identical subtree, and each exchange inside it runs
  * once.
  *
  * The node is logical only: [[Shared.Strategy]] plans it as its child, so
  * it costs nothing at run time. The strategy is registered on a session
  * the first time that session sees a `Shared`.
  */
object Shared {

  final case class Node(child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override def references: AttributeSet = child.outputSet
    override def nodeName: String = "Shared"
    override protected def withNewChildInternal(newChild: LogicalPlan): Node =
      copy(child = newChild)
  }

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Node(child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** `df` behind the barrier. Wraps the analyzed plan: an unanalyzed one
    * would be re-resolved in the consumer's join and could turn a
    * self-join's two sides ambiguous. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    GraftSqlBridge.ofRows(spark, Node(df.queryExecution.analyzed))
  }

  private def register(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(Strategy))
      ex.extraStrategies = Strategy +: ex.extraStrategies
  }
}
