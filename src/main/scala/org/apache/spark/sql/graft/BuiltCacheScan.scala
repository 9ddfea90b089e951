package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic.{SparkSession, Strategy}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Plans a scan of a BUILT cache (a project/filter over an
  * `InMemoryRelation` whose column buffers are loaded, the shape Spark's
  * `InMemoryScans` matches) through `InMemoryScans`, with the resulting
  * `InMemoryTableScanExec` wrapped in a [[BuiltCacheScanExec]] leaf.
  *
  * AQE wraps every `InMemoryTableScanExec` in its own
  * `TableCacheQueryStage`, which has no canonical form of its own (it keeps
  * its stage id, and its scan is a field, so the scan's attribute ids are
  * not normalized either): two branches that run the same exchange over one
  * cache get two shuffle stages, or two broadcasts, that each scan the whole
  * cache. The leaf is no cache scan to AQE, so AQE treats it as it treats a
  * file scan, and canonicalizes it as the scan, normalized against the
  * relation's output: the second exchange becomes a `ReusedExchange`.
  *
  * An unbuilt cache keeps its `TableCacheQueryStage` (its first reader
  * builds it; `graft.Caches.persistNow` builds a shared one in one job
  * before any plan reads it), and so does a scan whose filters hold a
  * subquery: the leaf hides the scan's expressions from subquery planning.
  * Installed with graft's other strategies ([[GraftExtensions.strategies]]).
  */
object BuiltCacheScans extends Strategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, filters, r: InMemoryRelation)
        if r.cacheBuilder.isCachedColumnBuffersLoaded &&
          !filters.exists(SubqueryExpression.hasSubquery) =>
      SparkSession.active.sessionState.planner.InMemoryScans(plan).map(_.transformUp {
        case s: InMemoryTableScanExec => BuiltCacheScanExec(s)
      })
    case _ => Nil
  }
}

/** A leaf over a scan of a built cache ([[BuiltCacheScans]]): output,
  * partitioning, ordering, columnar support, execution and SQL metrics are
  * the scan's, and so are its canonical form and its printed relation.
  */
case class BuiltCacheScanExec(scan: InMemoryTableScanExec) extends LeafExecNode {
  override def output: Seq[Attribute] = scan.output
  override def outputPartitioning: Partitioning = scan.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = scan.outputOrdering
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def supportsRowBased: Boolean = scan.supportsRowBased
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes
  override lazy val metrics: Map[String, SQLMetric] = scan.metrics

  override protected def doExecute(): RDD[InternalRow] = scan.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = scan.executeColumnar()
  override protected def doCanonicalize(): SparkPlan = scan.canonicalized

  // prints as the scan does, its relation and cached plan beneath it
  override def simpleString(maxFields: Int): String =
    s"$nodeName ${scan.simpleString(maxFields)}"
  override def innerChildren: Seq[QueryPlan[_]] = scan.innerChildren
}
