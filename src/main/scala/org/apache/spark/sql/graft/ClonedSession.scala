package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Engine settings scoped to a set of frames instead of a session. */
object ClonedSession {
  /** `df`'s plan in a clone of its session that has `settings` set: every
    * frame derived from the result plans and runs under them, while the
    * caller's session never sees them — a query running concurrently on
    * it keeps its own conf. The clone shares the caller's SparkContext,
    * cache manager, functions and planner strategies.
    */
  def withSettings(df: DataFrame, settings: (String, String)*): DataFrame = {
    val clone = df.sparkSession.asInstanceOf[SparkSession].cloneSession()
    settings.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
    Dataset.ofRows(clone, df.queryExecution.logical)
  }
}
