package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AsOf

/** The custom AsOfJoinExec must agree row-for-row with the compose
  * formulation (q24: range join + per-event top-1) and plan as a single
  * merge pass (no fan-out aggregate, one exchange per side).
  */
class AsOfJoinSpec extends SparkSpec {

  private def viaOperator = {
    val e = Tables(spark, sf, "events").select("event_id", "user_id", "ts")
    val o = Tables(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    AsOf.join(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
      rightTieBreak = Seq("o_orderkey"))
      .select("event_id", "user_id", "ts", "o_orderkey", "o_orderdate")
  }

  test("matches the compose formulation exactly") {
    val got = viaOperator.orderBy("event_id").collect()
    val want = queries.EventOps.q24AsofJoin.fn(spark, sf).collect()
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("plans as AsOfJoinExec with sorted co-partitioned children") {
    // physical nodes print without the Exec suffix; sparkPlan is physical,
    // so "AsOfJoin" here is AsOfJoinExec
    val p = viaOperator.queryExecution.sparkPlan.toString
    assert(p.contains("AsOfJoin"), p.take(500))
    assert(!p.contains("Window"), "must not fall back to window top-1")
    assert(!p.contains("HashAggregate"), "must not fall back to aggregate top-1")
  }

  test("AsOfJoinExec's numOutputRows after q24 equals the rows q24 returns") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graft.AsOfJoinExec
    val df = queries.EventOps.q24AsofJoin.fn(spark, sf)
    val rows = df.collect().length
    val joins = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case j: AsOfJoinExec => j }
    assert(joins.size == 1, df.queryExecution.executedPlan)
    assert(rows > 0 && joins.head.metrics("numOutputRows").value == rows)
  }

  test("as-of semantics: no picked order after the event, latest picked") {
    val df = viaOperator
    assert(df.filter(col("o_orderdate") > col("ts")).count() == 0)
    // every (user, event) appears at most once
    val dups = df.groupBy("event_id").count().filter(col("count") > 1).count()
    assert(dups == 0)
  }
}
