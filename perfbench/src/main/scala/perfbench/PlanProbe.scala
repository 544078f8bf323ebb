package perfbench

import graft.sources.v2.GeomedeaPartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Reads what Spark itself recorded for an executed query: the SQL and
  * DSv2 scan metrics of its final physical plan and the planning phases
  * of its `QueryExecution`.
  */
object PlanProbe extends AdaptiveSparkPlanHelper {

  final case class ScanStats(files: Set[String], pages: Long, bytes: Long, rows: Long)

  private def nodes(qe: QueryExecution): Seq[SparkPlan] =
    collectWithSubqueries(qe.executedPlan) { case p => p }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Geomedea scans: the files planned and the decode metrics. */
  def geomedeaScan(qe: QueryExecution): ScanStats =
    nodes(qe).collect { case b: BatchScanExec => b }.foldLeft(ScanStats(Set.empty, 0, 0, 0)) { (acc, b) =>
      val files = b.inputPartitions.collect { case g: GeomedeaPartition => g.file }.toSet
      ScanStats(acc.files ++ files, acc.pages + metric(b, "pagesDecoded"),
        acc.bytes + metric(b, "bytesDecoded"), acc.rows + metric(b, "rowsDecoded"))
    }

  /** Rows out of every join node of the plan. */
  def joinOutputRows(qe: QueryExecution): Long =
    nodes(qe).collect {
      case j: BroadcastHashJoinExec => metric(j, "numOutputRows")
      case j: ShuffledHashJoinExec => metric(j, "numOutputRows")
      case j: SortMergeJoinExec => metric(j, "numOutputRows")
    }.sum

  /** Optimization plus physical planning time, from the tracker. */
  def planMs(qe: QueryExecution): Double = {
    val ph = qe.tracker.phases
    Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs.toDouble).sum
  }
}
