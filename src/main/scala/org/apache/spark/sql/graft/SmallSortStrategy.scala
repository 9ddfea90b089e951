package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, ExpressionSet, NamedExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Generate, GlobalLimit, LocalRelation, LogicalPlan, Project, RebalancePartitions, Repartition, RepartitionOperation, Sort, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.graft.BroadcastKeys
import org.apache.spark.sql.internal.SQLConf

/** A global sort whose input fits one AQE advisory partition
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  * coalesces shuffle partitions to) is sorted in one partition, instead of
  * behind a range exchange: that exchange costs a sampling job plus a map
  * stage, and AQE then coalesces its small output back into one task.
  *
  *   - Every leaf of the input materialized (a finished query stage, a
  *     built cache, a local relation): `SortExec ← CoalesceExec(1)`. AQE
  *     re-plans after each stage; this plan has one exchange fewer than the
  *     range sort, so AQE adopts it before the range stage is created.
  *   - The input read from scans whose size bound fits:
  *     `SortExec ← ShuffleExchangeExec(SinglePartition)`, which drops the
  *     sampling job; not where the input is one partition already.
  *
  * The input's size is a bound in bytes, taken only where it is below
  * Spark's estimate ([[sizeBound]]); a materialized leaf gives the bytes
  * AQE or the cache measured. Spark estimates a join as the product of its
  * inputs; a lookup join whose build side has unique join keys (Catalyst's
  * distinct keys, or a finished broadcast's hash relation) emits at most
  * one row per streamed row, and an [[AsOfJoin]] at most one per left row,
  * so such a join is bounded by that side, where the columns it attaches
  * are fixed-width. A corpus-scale streamed side still exceeds one advisory
  * partition and keeps its range exchange. Neither arm fires without AQE
  * partition coalescing, over a streaming input, or with a row-multiplying
  * `Generate`/`Expand` under the sort (its size estimate does not multiply
  * rows). Installed with graft's other strategies
  * ([[GraftExtensions.strategies]]).
  */
object SmallSortStrategy extends Strategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fits(child) =>
      val leaves = child.collectLeaves()
      if (leaves.forall(materialized))
        SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
      else if (leaves.forall(scanned) && !onePartition(child))
        SortExec(order, global = true,
          ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
      else Nil
    case _ => Nil
  }

  private def fits(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled &&
      !child.isStreaming &&
      !child.exists { case _: Generate | _: Expand => true; case _ => false } &&
      sizeBound(child, child.outputSet) <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  /** A bound on `p`'s output bytes, no larger than Spark's estimate:
    * the least of that estimate (at a materialized leaf, its measured bytes)
    * and, for each input `p` emits at most one row per row of
    * ([[keptFrom]]), that input's bound scaled by the ratio of the two row
    * widths (Spark's per-row size: 8 bytes plus each column's default size).
    * `used` holds the columns of `p` whose length reaches the sort.
    */
  private def sizeBound(p: LogicalPlan, used: AttributeSet): BigInt = {
    def width(q: LogicalPlan) = EstimationUtils.getSizePerRow(q.output)
    (p.stats.sizeInBytes +: keptFrom(p, used).map { case (c, u) =>
      sizeBound(c, u) * width(p) / width(c)
    }).min
  }

  /** The inputs `p` emits at most one row per row of, each with its columns
    * whose length reaches the sort: the child of a Project, Filter or grouped
    * Aggregate; an [[AsOfJoin]]'s left side; an equi-join's streamed side
    * where the other (build) side has unique join keys (Inner either way,
    * LeftOuter by its left, RightOuter by its right). A join counts only
    * where the build-side columns that reach the sort are fixed-width: the
    * width ratio counts a string or an array at a default size, not at its
    * length, so a lookup that attaches text is not bounded by its streamed
    * side, while one whose embeddings only feed a dot product is.
    */
  private def keptFrom(p: LogicalPlan, used: AttributeSet)
      : Seq[(LogicalPlan, AttributeSet)] = {
    // a fixed-width result ends the lineage of the columns it reads
    def through(exprs: Seq[NamedExpression]) = AttributeSet(exprs.filter(e =>
      used.contains(e.toAttribute) && !UnsafeRow.isFixedLength(e.dataType)).flatMap(_.references))
    def lookup(streamed: LogicalPlan, build: LogicalPlan) = Option.when(
      used.forall(a => !build.outputSet.contains(a) || UnsafeRow.isFixedLength(a.dataType)))(
      streamed -> used.filter(streamed.outputSet.contains))
    p match {
      case Project(list, c) => Seq(c -> through(list))
      case Filter(_, c) => Seq(c -> used)
      case a: Aggregate if a.groupingExpressions.nonEmpty =>
        Seq(a.child -> through(a.aggregateExpressions))
      case j: AsOfJoin => lookup(j.left, j.right).toSeq
      case ExtractEquiJoinKeys(t, lk, rk, _, _, l, r, _) =>
        Option.when(t == Inner || t == LeftOuter)(lookup(l, r)).flatten
          .filter(_ => uniqueKeys(r, rk)).toSeq ++
          Option.when(t == Inner || t == RightOuter)(lookup(r, l)).flatten
            .filter(_ => uniqueKeys(l, lk))
      case _ => Nil
    }
  }

  /** Whether `side` holds at most one row per value of `keys`: Catalyst's
    * distinct keys, of the side or of a query stage's logical plan (a
    * `LogicalQueryStage` exposes none), or a finished broadcast stage's
    * hash relation ([[BroadcastKeys.unique]]).
    */
  private def uniqueKeys(side: LogicalPlan, keys: Seq[Expression]): Boolean =
    side.distinctKeys.exists(_.subsetOf(ExpressionSet(keys))) || (side match {
      case s: LogicalQueryStage =>
        uniqueKeys(s.logicalPlan, keys) || BroadcastKeys.unique(s.physicalPlan, keys)
      case _ => false
    })

  private def materialized(leaf: LogicalPlan): Boolean = leaf match {
    case s: LogicalQueryStage =>
      val stages = s.physicalPlan.collect { case q: QueryStageExec => q }
      stages.nonEmpty && stages.forall(_.isMaterialized)
    case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
    case _: LocalRelation => true
    case _ => false
  }

  private def scanned(leaf: LogicalPlan): Boolean = leaf match {
    case _: LogicalRelation | _: DataSourceV2Relation | _: DataSourceV2ScanRelation |
        _: InMemoryRelation | _: LogicalQueryStage => true
    case l => materialized(l)
  }

  /** Whether the input's physical plan is one partition already: a unary
    * chain down to an operator that gathers all rows into one task.
    */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case w: Window if w.partitionSpec.isEmpty => true
    case r: Repartition => r.numPartitions == 1
    case _: RepartitionOperation | _: RebalancePartitions => false
    case s: LogicalQueryStage => s.physicalPlan.outputPartitioning == SinglePartition
    case u: UnaryNode => onePartition(u.child)
    case _ => false
  }
}
