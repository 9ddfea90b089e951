package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.graft.BuiltCacheScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, SURVEY §5
  * mirrors the reference's local[*] SparkContext-per-suite pattern).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** [[Sessions.countingJobs]] on the suite's session. */
  def countingJobs[T](group: String)(body: => T): (T, Int) =
    Sessions.countingJobs(spark, group)(body)

  /** Runs `body` with session conf `key` set to `value`, then puts the conf
    * back as it was (unset if it was unset).
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Materializes registry query `name` with a noop write, then drops the
    * caches it made.
    */
  def runQuery(name: String): Unit =
    try SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
    finally Caches.clearAll(spark)

  private val ledgerRuns = new java.util.concurrent.atomic.AtomicInteger()

  /** The jobs of [[runQuery]] after a warm run (layouts built, sources
    * listed): the count the job ledger (plans/jobs_sf0.001.json) records.
    */
  def ledgerJobs(name: String): Int = {
    runQuery(name)
    countingJobs(s"ledger-$name-${ledgerRuns.incrementAndGet()}")(runQuery(name))._2
  }

  /** [[countingJobs]] plus, for each persisted RDD, the number of the
    * group's jobs whose final RDD it is: a cache built in one job maps to
    * 1, while an unbuilt cache that one plan scans k times maps to k (AQE
    * submits a job per `TableCacheQueryStage`). The listener bus delivers
    * job starts asynchronously, so it is polled until it has seen every
    * job the status tracker counted.
    */
  def countingCacheBuilds[T](group: String)(body: => T): (T, Int, Map[Int, Int]) = {
    val finals = new java.util.concurrent.ConcurrentHashMap[Int, Option[Int]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          // the result stage is created after its parents (highest id);
          // its first RDD info is the stage's own, the job's final RDD
          val last = e.stageInfos.maxBy(_.stageId).rddInfos.head
          finals.put(e.jobId, Option.when(last.storageLevel.isValid)(last.id))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val (out, jobs) = countingJobs(group)(body)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (finals.size < jobs && System.nanoTime() < deadline) Thread.sleep(50)
      assert(finals.size == jobs, s"listener saw ${finals.size} of $jobs jobs in $group")
      import scala.jdk.CollectionConverters._
      val builds = finals.values.asScala.toSeq.flatten
        .groupBy(identity).map { case (id, js) => id -> js.size }
      (out, jobs, builds)
    } finally sc.removeSparkListener(listener)
  }

  /** Every node of an executed plan: through adaptive plans, into the plan
    * each query stage ran and into subqueries, but not past a reused
    * exchange (its plan ran where it was first planned).
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
    case _ => (p.children ++ p.subqueries).flatMap(planNodes)
  })

  /** The exchange pairs of an executed plan that ran twice where one run
    * could serve both: two exchanges, neither reused, equal in canonical
    * form once each query stage under them is replaced by the plan it ran
    * (a cache's query stage by its scan), over scans of one cached relation.
    */
  def missedReuse(plan: SparkPlan): Seq[(Exchange, Exchange)] = {
    def unstaged(p: SparkPlan): SparkPlan = p.transformUp { case s: QueryStageExec => unstaged(s.plan) }
    def caches(p: SparkPlan) = planNodes(p).collect {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder
      case b: BuiltCacheScanExec => b.scan.relation.cacheBuilder
    }
    val exchanges = planNodes(plan).collect { case e: Exchange => (e, unstaged(e).canonicalized, caches(e)) }
    for {
      ((a, ca, ra), i) <- exchanges.zipWithIndex
      (b, cb, rb) <- exchanges.drop(i + 1)
      if (a ne b) && ca == cb && ra.exists(r => rb.exists(_ eq r))
    } yield (a, b)
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
