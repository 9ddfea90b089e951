package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** AS-OF JOIN as a first-class operator — the full custom-operator rung of
  * the ladder (SURVEY §4 customization list; guide: LogicalPlan + Strategy +
  * SparkPlan): for each left row, the single latest right row with the same
  * key and right-time ≤ left-time (inner semantics).
  *
  * Why an operator instead of the compose formulation (join on
  * key ∧ time-range, then per-left top-1 — queries.EventOps.q24): the
  * composition materializes the full fan-out (|left| × orders-per-key rows)
  * and shuffles it into a window/aggregate. This exec co-partitions both
  * sides by key, sorts (key, time) — both Exchange-reusable properties —
  * and then streams ONE merge pass per partition with O(1) state: no
  * fan-out, no second shuffle, no sort beyond the required child ordering.
  * At 100 TB that is the difference between |matches| and |pairs| traffic.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTieBreak.map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      // single-pass merge: both sides sorted by (key, time); `candidate`
      // holds the latest right row with key == current left key and
      // time ≤ current left time — O(1) state, no buffering of groups.
      var rNext: InternalRow = if (rIter.hasNext) rIter.next() else null
      var candidate: InternalRow = null
      var candidateKey: Any = null

      new Iterator[InternalRow] {
        private var ready: InternalRow = _

        private def advance(): InternalRow = {
          while (lIter.hasNext) {
            val l = lIter.next()
            val lKey = lk.eval(l)
            val lTime = lt.eval(l)
            // drop candidate from an older key
            if (candidate != null && keyOrd.compare(candidateKey, lKey) != 0) {
              candidate = null; candidateKey = null
            }
            // advance right to the last row with (key < lKey) discarded and
            // (key == lKey ∧ time ≤ lTime) captured as candidate
            var continue = rNext != null
            while (continue) {
              val rKey = rk.eval(rNext)
              val kc = keyOrd.compare(rKey, lKey)
              if (kc < 0) {
                rNext = if (rIter.hasNext) rIter.next() else null
                continue = rNext != null
              } else if (kc == 0 && timeOrd.compare(rt.eval(rNext), lTime) <= 0) {
                candidate = rNext.copy()
                candidateKey = lKey
                rNext = if (rIter.hasNext) rIter.next() else null
                continue = rNext != null
              } else {
                continue = false
              }
            }
            if (candidate != null && keyOrd.compare(candidateKey, lKey) == 0) {
              numOutputRows += 1
              return joiner(joined(l, candidate))
            }
            // inner semantics: left rows with no as-of match drop out
          }
          null
        }

        override def hasNext: Boolean = {
          if (ready == null) ready = advance()
          ready != null
        }
        override def next(): InternalRow = {
          if (ready == null) ready = advance()
          val out = ready; ready = null; out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb) :: Nil
    case _ => Nil
  }
}

/** User-facing API: resolves columns by name against each side and builds
  * the logical node; graft's strategies are installed on first use
  * ([[GraftExtensions.install]]).
  */
object AsOf {
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil): DataFrame = {
    val spark = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    GraftExtensions.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${p.output.map(_.name)}"))
    val node = AsOfJoin(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      rightTieBreak.map(attr(rPlan, _)))
    Dataset.ofRows(spark, node)
  }
}
