package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main opens (Bench, Verify, PlanDump
  * and the tools; JobRunner's spark-submit main takes the session it is
  * given), and the one way a run counts its Spark jobs.
  */
object Sessions {

  /** Local threads: SPARK_GRAFT_CPUS, else the machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the conf Bench measures under, so a plan
    * dumped or verified by any main is the plan the bench runs.
    */
  def local(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      // Local parquet at bench scale is a handful of ~20 MB files; the
      // default 128 MB split puts a whole table in one partition and
      // serializes the scan on one core. 4 MB splits fan the scan out to
      // all local threads. (Cluster deployments keep the 128 MB default —
      // this is a local-harness knob, not an engine semantic.)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Static conf, takes effect because this is the first session in the
      // JVM: the suite generates ~400+ distinct codegen units, and the
      // default 100-entry Janino cache thrashes across queries — every
      // revisit re-pays ~100-300 ms of source-level compilation.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Measured, kept at defaults: shuffle lz4 OFF is ~1.6x slower on the
      // shuffle-heavy subset (7.1s vs 4.5s) — the I/O volume reduction
      // beats the codec CPU even on local disk.
      // NOTE: spark.local.dir on tmpfs was tried and is 3-20x SLOWER
      // (q21 0.9s -> 17s): tmpfs pages fight a 24g driver heap for the
      // same VM memory and shuffle-file mmap behaves pathologically.
      // Disk-backed local dirs with OS writeback are the fast path.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` under job group `group` and returns its result with the
    * number of Spark jobs it launched, threads it starts included (they
    * inherit the group). `group` must be unique per call: the status
    * tracker keeps earlier groups' jobs. The tracker is fed by the
    * listener bus, so the count is read once the bus has drained.
    */
  def countingJobs[T](spark: SparkSession, group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.sql.graft.ListenerBus.drain(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
