package graft.plans

import graft.sources.GraftFileIndex
import org.apache.spark.sql.catalyst.expressions.{PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** A global sort over a small pruned `format("graft")` snapshot runs in its
  * one scan task instead of through a range shuffle.
  *
  * `y-logcli`'s hive queries ([[graft.logs.LogQuery]]) end in
  * `orderBy(time_ns)`, like the reference's `ORDER BY time`. Planned as a
  * Spark global sort, that is a range exchange: a sampling job, a shuffle
  * map stage and an adaptive re-plan before the result job, even when the
  * pruned scan is a few tens of KB. This rule rewrites
  * `Sort(global) ← chain` into `Sort(global) ← Repartition(1, shuffle =
  * false) ← chain`, where `chain` is a `Project`/`Filter` chain over a
  * [[GraftFileIndex]] relation. The coalesced child reports
  * `SinglePartition`, which already satisfies the sort's ordered
  * distribution, so no exchange is planned and the query runs one one-task
  * job.
  *
  * It fires only when the files the index keeps for the chain's filters —
  * the same `listFiles` call the scan makes, with the filters split the way
  * `FileSourceStrategy` splits them — total at most
  * `spark.sql.files.maxPartitionBytes`, the byte budget Spark gives one scan
  * task. A bigger scan keeps the range exchange. Streaming plans and
  * commands (a sorted write keeps its file count) are left alone; so are
  * the deletion-vector and `sinceNs`/`pod` relations, which are not
  * [[HadoopFsRelation]]s.
  */
object SmallScanSort extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || plan.exists(_.isInstanceOf[Command])) plan
    else plan.transformUp {
      case s @ Sort(_, true, child, _) if fitsOneTask(child) =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }

  private def fitsOneTask(child: LogicalPlan): Boolean = child match {
    case PhysicalOperation(_, filters, LogicalRelation(fs: HadoopFsRelation, _, _, _, _)) =>
      fs.location match {
        case idx: GraftFileIndex =>
          val conds = filters
            .filter(f => f.deterministic && !SubqueryExpression.hasSubquery(f))
            .flatMap(splitConjunctivePredicates)
          val partCols = idx.partitionSchema.fieldNames.toSet
          val (partitionFilters, dataFilters) =
            conds.partition(_.references.forall(a => partCols(a.name)))
          val bytes = idx.listFiles(partitionFilters, dataFilters)
            .iterator.flatMap(_.files).map(_.getLen).sum
          bytes <= fs.sparkSession.sessionState.conf.filesMaxPartitionBytes
        case _ => false
      }
    case _ => false
  }
}
