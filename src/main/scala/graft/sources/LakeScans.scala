package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, Scan}
import org.apache.spark.sql.execution.{CommandResultExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** What the lake scans of ONE physical plan planned, read from the plan
  * itself, so the answer belongs to the query that ran it. The walk
  * enters AQE's final plan and its stages, subqueries, and the plan a
  * command ran (`CommandResultExec`); reused exchanges and subqueries
  * are walked once, at their originals. A micro-batch scan reports the
  * files of its batch. */
object LakeScans {
  /** One lake scan: the files it kept after stats and bloom pruning,
    * and (segments read, segments total) of its snapshot's manifest —
    * (0, 0) for an unsegmented one. */
  final case class Planned(files: Seq[String], segments: (Int, Int))

  def in(plan: SparkPlan): Seq[Planned] = plan match {
    case a: AdaptiveSparkPlanExec => in(a.executedPlan)
    case s: QueryStageExec => in(s.plan)
    case c: CommandResultExec => in(c.commandPhysicalPlan)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
    case p =>
      val own = p match {
        case b: BatchScanExec => planned(b.scan, b.inputPartitions)
        case m: MicroBatchScanExec => planned(m.scan, m.inputPartitions)
        case _ => Nil
      }
      own ++ (p.children ++ p.subqueries).flatMap(in)
  }

  private def planned(scan: Scan, parts: Seq[InputPartition]): Seq[Planned] =
    scan match {
      case l: LakeScan => Seq(Planned(parts.collect {
        case i: LakeInputPartition => i.fileName
        case i: LakeKeyedInputPartition => i.fileName
      }, l.segments))
      case _ => Nil
    }
}
