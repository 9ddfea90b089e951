package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Generate, GlobalLimit, LocalRelation, LogicalPlan, RebalancePartitions, Repartition, RepartitionOperation, Sort, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
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
  *   - The input read from scans whose size estimate fits:
  *     `SortExec ← ShuffleExchangeExec(SinglePartition)`, which drops the
  *     sampling job; not where the input is one partition already.
  *
  * Neither arm fires without AQE partition coalescing, over a streaming
  * input, or with a row-multiplying `Generate`/`Expand` under the sort
  * (its size estimate does not multiply rows). Spark estimates a join as
  * the product of its inputs, so a corpus-scale sort keeps its range
  * exchange. Installed on a session at its first footer-typed parquet
  * read ([[install]]) and by [[GraftExtensions]].
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
      child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

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

  private val installed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Adds the strategy to a session built without [[GraftExtensions]], once:
    * a caller that removes it from `experimental.extraStrategies` later
    * keeps it removed.
    */
  def install(spark: SparkSession): Unit =
    if (installed.putIfAbsent(spark, true) == null) {
      val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      if (!s.sessionState.planner.strategies.contains(this))
        s.experimental.extraStrategies = s.experimental.extraStrategies :+ this
    }
}
