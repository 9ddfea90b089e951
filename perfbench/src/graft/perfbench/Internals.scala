package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The few package-private values the traced run reads: which path the
  * refresh guards choose, and the PII rules the curation stage applies.
  */
object Internals {
  /** (cluster labels merged, bigram model merged) for newDir over oldDir. */
  def mergeTaken(spark: SparkSession, newDir: String, oldDir: String): (Boolean, Boolean) =
    (graft.sources.ClusterAssignment.refreshFrame(spark, newDir, oldDir)._2,
      graft.sources.BigramLm.refreshFrame(spark, newDir, oldDir)._2)

  def piiRules: Seq[(String, String)] = graft.queries.CurationOps.PiiRules
}
