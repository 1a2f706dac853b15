package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOGICAL_QUERY_STAGE, SORT}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{
  CoalesceShufflePartitions, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a global sort whose input AQE has already measured
  * to fit in one partition becomes a local sort over a one-partition
  * coalesce, `Sort(o, global = false, Repartition(1, shuffle = false, c))`.
  *
  * A global `Sort` plans as a range exchange. Its `RangePartitioner` runs
  * a sampling job over the sort's input, then the exchange's map stage
  * computes that input again: two jobs for an `orderBy` over a few hundred
  * bytes of aggregate. When AQE's `CoalesceShufflePartitions` would read
  * the input as one partition anyway, the coalesce keeps that parallelism
  * and the same total order, and both jobs go.
  *
  * It fires only when all of these hold:
  *  - every leaf under the sort is a materialized shuffle stage whose
  *    origin `CoalesceShufflePartitions` coalesces (so not a
  *    `repartition(n)` stage, whose width the rewrite would cut) and
  *    which is not a range exchange (a sort's own, once it has run,
  *    leaves nothing to save);
  *  - nothing between those stages and the sort can add rows (a project,
  *    filter, aggregate, window, sort, deduplicate, union, limit, or a
  *    left-semi/anti join);
  *  - the stages' map output sums to no more than [[onePartitionBytes]].
  * A sort over a scan has no stage below it and keeps its exchange; so do
  * streaming micro-batches, which run without AQE. */
case class OnePartitionSort(session: SparkSession) extends Rule[LogicalPlan] {

  private lazy val coalescedOrigins =
    CoalesceShufflePartitions(session).supportedShuffleOrigins.toSet

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformWithPruning(
        _.containsAllPatterns(SORT, LOGICAL_QUERY_STAGE)) {
      case s: Sort if s.global && fitsOnePartition(s.child) =>
        s.copy(global = false, child = Repartition(1, shuffle = false, s.child))
    }

  private def fitsOnePartition(child: LogicalPlan): Boolean =
    stagesUnder(child).exists(
      _.map(_.mapStats.fold(0L)(_.bytesByPartitionId.sum)).sum <=
        onePartitionBytes)

  /** The largest total shuffle size that `ShufflePartitionsUtil` packs
    * into one coalesced partition. Its target size is
    * `max(min(ceil(total / minParts), advisory), minPartitionSize)`, where
    * `minParts` is `minPartitionNum`, else the default parallelism under
    * `parallelismFirst` (the default), else 1. With `minParts > 1` only
    * `minPartitionSize` bounds a total that fits; with 1, the total fits
    * up to the larger of the two sizes. */
  private def onePartitionBytes: Long = {
    val minParts = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
      .getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          session.sparkContext.defaultParallelism
        else 1)
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (minParts > 1) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  /** The shuffle stages `plan` reads, or None when a leaf is not a
    * materialized, coalescable shuffle stage or an operator on the way
    * may add rows. */
  private def stagesUnder(plan: LogicalPlan): Option[Seq[ShuffleQueryStageExec]] =
    plan match {
      case q: LogicalQueryStage => stagesIn(q.physicalPlan)
      case _: Project | _: Filter | _: Aggregate | _: Window | _: Sort |
           _: Deduplicate | _: Union | _: GlobalLimit | _: LocalLimit |
           Join(_, _, LeftSemi | LeftAnti, _, _) =>
        allOf(plan.children.map(stagesUnder))
      case _ => None
    }

  /** The same walk over the physical operators a `LogicalQueryStage`
    * keeps above its stages (the final half of an aggregate). */
  private def stagesIn(plan: SparkPlan): Option[Seq[ShuffleQueryStageExec]] =
    plan match {
      case s: ShuffleQueryStageExec =>
        val shuffle = s.shuffle
        if (s.isMaterialized && coalescedOrigins(shuffle.shuffleOrigin) &&
            !shuffle.outputPartitioning.isInstanceOf[RangePartitioning])
          Some(Seq(s))
        else None
      case _: BaseAggregateExec | _: SortExec | _: ProjectExec | _: FilterExec =>
        allOf(plan.children.map(stagesIn))
      case _ => None
    }

  private def allOf(parts: Seq[Option[Seq[ShuffleQueryStageExec]]]) =
    if (parts.forall(_.isDefined)) Some(parts.flatten.flatten) else None
}
