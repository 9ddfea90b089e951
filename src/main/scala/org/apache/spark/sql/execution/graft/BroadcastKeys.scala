package org.apache.spark.sql.execution.graft

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{HashJoin, HashedRelation, HashedRelationBroadcastMode}

/** The runtime uniqueness of a broadcast hash join's build keys. Spark keeps
  * `HashedRelation` `private[execution]`; its `keyIsUnique` is known once
  * the relation is built.
  */
object BroadcastKeys {

  /** Whether `plan` is a finished broadcast stage whose hash relation is
    * keyed by `keys` (a hash join's build keys, over the stage's output) and
    * holds at most one row per key. Only a materialized stage is read, so
    * the call never blocks; anything else is false.
    */
  def unique(plan: SparkPlan, keys: Seq[Expression]): Boolean = plan match {
    case s: BroadcastQueryStageExec if s.isMaterialized => s.broadcast match {
      case b @ BroadcastExchangeExec(HashedRelationBroadcastMode(modeKeys, _), _) =>
        // BroadcastHashJoinExec packs integral keys into one long
        // (HashJoin.rewriteKeyExpr) before binding them to the build side
        val keyedBy = Seq(keys, HashJoin.rewriteKeyExpr(keys)).exists { k =>
          Try(BindReferences.bindReferences(k, s.output)).toOption
            .exists(_.map(_.canonicalized) == modeKeys.map(_.canonicalized))
        }
        keyedBy && b.relationFuture.isDone &&
          Try(b.relationFuture.get().value).toOption.exists {
            case r: HashedRelation => r.keyIsUnique
            case _ => false
          }
      case _ => false
    }
    case _ => false
  }
}
