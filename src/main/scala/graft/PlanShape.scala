package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanLike, GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Node counts of one physical plan, subqueries included. Before execution
  * an adaptive plan is walked as its initial plan (exchanges inserted,
  * nothing reused yet); after `toRdd` has run it is walked as the final
  * plan, where `shuffles` are the materialised shuffle stages and `reused`
  * the `ReusedExchange` leaves that stand in for re-executed subtrees. */
final case class PlanShape(shuffles: Int, broadcasts: Int, reused: Int,
                           scans: Int, generates: Int, joins: Map[String, Int],
                           sorts: Int, windows: Int, aggregates: Int) {
  /** `key=value` columns of a `DumpPlans` summary row. */
  def tsv: String =
    (Seq("real" -> shuffles, "reused" -> reused, "bcast" -> broadcasts,
      "gen" -> generates, "scan" -> scans) ++
      PlanShape.JoinKinds.map(k => k -> joins.getOrElse(k, 0)) ++
      Seq("sort" -> sorts, "win" -> windows, "agg" -> aggregates))
      .map { case (k, v) => s"$k=$v" }.mkString("\t")
}

object PlanShape extends AdaptiveSparkPlanHelper {
  private val JoinKinds: Seq[String] = Seq("smj", "bhj", "shj", "bnl", "cart")

  def of(df: DataFrame): PlanShape = {
    val nodes = collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
    def count(f: PartialFunction[SparkPlan, Unit]): Int = nodes.count(f.isDefinedAt)
    val joins = nodes.collect {
      case _: SortMergeJoinExec => "smj"
      case _: BroadcastHashJoinExec => "bhj"
      case _: ShuffledHashJoinExec => "shj"
      case _: BroadcastNestedLoopJoinExec => "bnl"
      case _: CartesianProductExec => "cart"
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    PlanShape(
      shuffles = count { case _: ShuffleExchangeLike => },
      broadcasts = count { case _: BroadcastExchangeLike => },
      reused = count { case _: ReusedExchangeExec => },
      scans = count { case _: FileSourceScanLike => },
      generates = count { case _: GenerateExec => },
      joins = joins,
      sorts = count { case _: SortExec => },
      windows = count { case _: WindowExec => },
      aggregates = count { case _: BaseAggregateExec => })
  }
}
