package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RangePartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** A physical plan's fingerprint as one TSV row: shuffle exchanges by
  * partitioning, broadcast exchanges, broadcast vs sort-merge joins,
  * sorts, file scans per table, checkpoint (RDD) scans and in-memory
  * scans, counted over the plan and its subqueries.
  *
  * The row reads the plan before the DataFrame's action runs — AQE's
  * initial plan, with no job and no timing dependence — so on fixed
  * data it changes only when the code's plan does. `docs/plan_shape.tsv`
  * holds every query's row at sf0.001 and `QueriesSmokeSpec` diffs it.
  */
object PlanShape extends AdaptiveSparkPlanHelper {

  val Header: String = Seq("query", "range_exch", "hash_exch", "other_exch",
    "broadcast_exch", "broadcast_joins", "smj", "sorts", "scans",
    "rdd_scans", "mem_scans").mkString("\t")

  def row(name: String, df: DataFrame): String = {
    val nodes = collectWithSubqueries(df.queryExecution.executedPlan) {
      case n => n
    }
    def count(p: PartialFunction[SparkPlan, Unit]): Int =
      nodes.count(p.isDefinedAt)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning }
    val range = shuffles.count(_.isInstanceOf[RangePartitioning])
    val hash = shuffles.count(_.isInstanceOf[HashPartitioning])
    val tables = nodes.collect {
      case s: FileSourceScanExec => s.tableIdentifier.map(_.table).getOrElse(
        s.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
          .mkString("+"))
      case b: BatchScanExec => b.table.name()
    }
    val scans = tables.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (t, ts) => s"$t:${ts.size}" }
    Seq(name, range, hash, shuffles.size - range - hash,
      count { case _: BroadcastExchangeExec => },
      count { case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => },
      count { case _: SortMergeJoinExec => },
      count { case _: SortExec => },
      if (scans.isEmpty) "-" else scans.mkString(","),
      count { case _: RDDScanExec => },
      count { case _: InMemoryTableScanExec => }).mkString("\t")
  }
}
