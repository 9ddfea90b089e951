package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, SURVEY §5
  * mirrors the reference's local[*] SparkContext-per-suite pattern).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` under job group `group` (unique per call: the status
    * tracker keeps earlier groups' jobs) and returns its result with the
    * number of Spark jobs it launched. The tracker fills asynchronously,
    * so the count is polled until stable.
    */
  def countingJobs[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    def count: Int = sc.statusTracker.getJobIdsForGroup(group).length
    var last = -1; var jobs = count
    while (jobs != last) { Thread.sleep(200); last = jobs; jobs = count }
    (out, jobs)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
