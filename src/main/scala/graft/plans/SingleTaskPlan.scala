package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LeafNode,
  LocalRelation, LogicalPlan, Project, RebalancePartitions, Repartition,
  RepartitionByExpression, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation}

/** Runs a batch plan as ONE partition when Spark already reads each of its
  * leaves as exactly one partition.
  *
  * A star query over a small table reads its input in one task, then pays
  * a range-sampling job for a global sort, a shuffle-map stage for an
  * aggregate or window, and AQE's per-stage jobs, only to fan that one
  * partition out to `spark.sql.shuffle.partitions` and coalesce it back.
  * Each extra job costs 20–30 ms of driver time on 4 vCPUs, more than the
  * data work of most interactive queries. This rule puts
  * `Repartition(1, shuffle = false)` (a `coalesce(1)`) above each leaf's
  * Project/Filter chain, or above a `Union` of such chains. Filters and
  * column pruning still reach the scan below it. Its physical node reports
  * `SinglePartition`, which satisfies every distribution an aggregate, a
  * window or a global sort requires, so `EnsureRequirements` plans no
  * exchange: the query runs as one job with one task, plus one job per
  * broadcast.
  *
  * A leaf qualifies if it is
  *  - a `HadoopFsRelation` whose files Spark packs into one read partition
  *    under its own split sizing (`spark.sql.files.maxPartitionBytes`,
  *    `openCostInBytes`, the default parallelism) and that is not bucketed;
  *  - an `InMemoryRelation` whose cached RDD is built and has one
  *    partition (an unbuilt cache's partitioning is not known without
  *    running it);
  *  - a `LocalRelation`.
  * Any other leaf (an RDD, a range, a streaming source) leaves the plan
  * alone. So does any of these nodes, each of which can make post-shuffle
  * work grow past its input, work that must stay parallel:
  *  - a join Spark plans with a shuffle. Only a broadcast-hinted join, or
  *    one with a side under `spark.sql.autoBroadcastJoinThreshold`, is
  *    allowed, as Spark's join selection decides it; a join hinted to
  *    shuffle is refused even when it is small. A shuffled join's output
  *    can be the product of its inputs.
  *  - a `Generate` (explode and its kin), whose output is unbounded in
  *    its input.
  *  - a shuffling `Repartition`, `RepartitionByExpression` or
  *    `RebalancePartitions`: the plan asked for parallelism. A plain
  *    `coalesce` is kept.
  *  - a streaming plan: its state and its micro-batches are partitioned
  *    by the shuffle settings.
  *
  * The rule reads only the physical fact of how many partitions the
  * leaves have, and adds no setting. A plan with any multi-split input
  * (every plan at 100 TB) is returned unchanged, as is a plan that is only
  * a Project/Filter chain (nothing in it needs a distribution). Applying
  * the rule to its own output changes nothing, since a chain already under
  * a one-partition `Repartition` is kept as it is. It runs in the
  * optimizer's last, user-provided batch (`GraftExtensions.install`), after
  * filter pushdown and column pruning. */
object SingleTaskPlan extends Rule[LogicalPlan] with JoinSelectionHelper {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || chain(plan) || plan.find(n => !allowed(n)).isDefined) plan
    else wrap(plan)

  /** A Project/Filter chain over a leaf, or over a Union of such chains. */
  private def chain(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter => chain(p.children.head)
    case u: Union => u.children.forall(chain)
    case _: LeafNode => true
    case _ => false
  }

  private def wrap(p: LogicalPlan): LogicalPlan = p match {
    case Repartition(1, false, c) if chain(c) => p
    case _ if chain(p) => Repartition(1, shuffle = false, p)
    case _ => p.mapChildren(wrap)
  }

  private def allowed(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation => oneSplit(r)
      case _ => false
    }
    case r: InMemoryRelation =>
      r.cacheBuilder.isCachedColumnBuffersLoaded &&
        r.cacheBuilder.cachedColumnBuffers.getNumPartitions == 1
    case _: LocalRelation => true
    case _: LeafNode => false
    case j: Join => broadcast(j)
    case _: Generate | _: RepartitionByExpression | _: RebalancePartitions => false
    case r: Repartition => !r.shuffle
    case _ => true
  }

  /** True when Spark's join selection plans `j` as a broadcast join: a
    * broadcast hint on a side that can be built, or, with no hint asking
    * for a shuffle, a buildable side under the broadcast threshold. */
  private def broadcast(j: Join): Boolean =
    getBroadcastBuildSide(j, hintOnly = true, conf).isDefined || (
      !(hintToSortMergeJoin(j.hint) || hintToShuffleHashJoin(j.hint) ||
        hintToShuffleReplicateNL(j.hint)) &&
        getBroadcastBuildSide(j, hintOnly = false, conf).isDefined)

  /** True when a scan of `r` reads one partition (or none). Partition
    * filters are not applied: all files count, as for an unfiltered scan. */
  private def oneSplit(r: HadoopFsRelation): Boolean =
    r.bucketSpec.isEmpty && {
      val dirs = r.location.listFiles(Nil, Nil)
      filePartitions(r.sparkSession, r, dirs.flatMap(_.files),
        FilePartition.maxSplitBytes(r.sparkSession, dirs)).size <= 1
    }

  /** `files` of `rel` cut into splits of at most `size` bytes (a file the
    * format cannot split stays whole) and packed into read partitions, as
    * a file scan packs them. */
  private[graft] def filePartitions(spark: SparkSession, rel: HadoopFsRelation,
      files: Seq[FileStatusWithMetadata], size: Long): Seq[FilePartition] =
    FilePartition.getFilePartitions(spark, files.flatMap(f => PartitionedFileUtil.splitFiles(
      f, f.getPath, rel.fileFormat.isSplitable(spark, rel.options, f.getPath), size,
      InternalRow.empty)), size)
}
