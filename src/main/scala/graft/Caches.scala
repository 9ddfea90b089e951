package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel

/** Cache hygiene for the query runners (SURVEY Y5 discipline: persist only
  * at real reuse points — and release at the end of the scope).
  *
  * Queries like q21/q31 persist their shingle relation because it feeds
  * several plan branches within ONE query execution. The persist's scope is
  * that single run: the runner calls [[clearAll]] after materializing each
  * query so no cached plan/RDD leaks into the next query (or, on a shared
  * cluster, the next job).
  *
  * The build rule: under AQE every scan of a persisted frame whose cache is
  * not built yet becomes its own `TableCacheQueryStage`, and each of those
  * stages submits a job over the same cache RDD — an unbuilt cache scanned
  * k times in one plan costs k jobs, not 1. A shared intermediate (a frame
  * one plan reads more than once) therefore goes through [[persistNow]],
  * which builds the cache in one job before the plan reads it. A persist
  * whose first reader is a driver-side action (a collected model, a round
  * loop) needs no early build: that action builds it in one job. One that
  * outlives its query (a stage's frame inside a `-curate` chain) goes
  * through [[persist]], so the job's [[clearCreatedSince]] uncaches it.
  *
  * The reuse rule: a scan of a BUILT cache is planned as a
  * `BuiltCacheScanExec` leaf (`org.apache.spark.sql.graft.BuiltCacheScans`),
  * which canonicalizes as the scan, so two branches that run the same
  * exchange over one built cache share one query stage, the second a
  * `ReusedExchange`: q21's per-doc sizes are shuffled and broadcast once,
  * not once per branch. An unbuilt cache is scanned under a
  * `TableCacheQueryStage`, which AQE never shares, so each branch runs its
  * own exchange: a shared intermediate that feeds the same aggregate or
  * broadcast into two branches needs [[persistNow]] for the reuse as well
  * as for the one build job.
  */
object Caches {

  /** Frames [[persist]] (and so [[persistNow]]) cached, by identity —
    * what [[clearCreatedSince]] uncaches. Cache records, not driver memos:
    * [[clearAll]] drops its session's and stopped sessions' records,
    * [[evictSession]] the session's.
    */
  private val recorded = TrieMap.empty[DataFrame, Unit]

  private def dropRecorded(session: SparkSession => Boolean): Unit =
    recorded.keysIterator.toList.foreach(df => if (session(df.sparkSession)) recorded.remove(df))

  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    dropRecorded(s => (s eq spark) || s.sparkContext.isStopped)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // driver-memo hygiene: entries of STOPPED sessions can never be read
    // again — purge them here so the hook every runner already calls keeps
    // a long-lived embedder leak-free. Live-session memos (model artifacts,
    // layout handles) are deliberately kept: evicting those per query would
    // re-pay a parquet head() per touch, the cost the memos exist to avoid.
    graft.sources.SessionMemo.purgeStopped()
  }

  /** Persist `df` at MEMORY_AND_DISK and build its cache now, in one job
    * over the cache builder's RDD, so every later scan of it — however
    * many a plan holds — finds the cache built and submits no job (the
    * build rule above). An already built cache costs no job. Returns `df`.
    *
    * The build is eager: a caller that goes through here runs Spark jobs
    * while it CONSTRUCTS its frame (q21's postings, q31, q39, q66, q71,
    * q103, q107, q119, the PairGraph layout, and the near_dedup,
    * image_near_dedup and perplexity_filter stages while a chain is
    * composed), so a plan-only caller — `explain`, PlanDump — pays for
    * those builds too. The build's tasks see
    * the session's SQL conf, as the tasks of a query's own cache-stage job
    * do.
    */
  def persistNow(df: DataFrame): DataFrame = {
    persist(df)
    SQLExecution.withSQLConfPropagated(classic(df.sparkSession)) {
      cacheBuilder(df).foreach { builder =>
        if (!builder.isCachedColumnBuffersLoaded) builder.cachedColumnBuffers.foreachPartition(_ => ())
      }
    }
    df
  }

  /** Persist `df` at MEMORY_AND_DISK, recorded for [[clearCreatedSince]],
    * and leave the build to its first reader: for a frame whose first
    * reader is a driver-side action (a collected model), which builds it
    * in one job. Returns `df`.
    */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    recorded.put(df, ())
    df
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def cacheBuilder(df: DataFrame) =
    classic(df.sparkSession).sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  /** Session-close hook for embedders: drop every driver memo keyed by
    * `spark` (model artifacts, layout/plan handles — [[graft.sources.SessionMemo]]).
    * Call before `spark.stop()` when sessions churn in one JVM.
    */
  def evictSession(spark: SparkSession): Unit = {
    graft.sources.SessionMemo.evictSession(spark)
    dropRecorded(_ eq spark)
  }

  /** Snapshot of the currently-persisted RDD ids — take one before a job,
    * pass it to [[clearCreatedSince]] after.
    */
  def snapshot(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Job-scoped release for SHARED long-lived sessions: unpersist only the
    * RDDs persisted after `before`, leaving caches owned by concurrent or
    * surrounding work untouched ([[clearAll]] would evict those too —
    * recompute cost, not correctness). Every frame [[persist]] recorded
    * whose cache was not built before `before` is uncached as a Dataset,
    * cache-manager entry included — one never built too, as it holds no
    * blocks: an entry left behind would be returned by the next persist
    * of the same plan and read through its old RDD lineage (the old file
    * listing). Other DataFrame persists lose their storage here but keep
    * their entry, so a dedicated CLI process should still finish with
    * [[clearAll]].
    */
  def clearCreatedSince(spark: SparkSession, before: Set[Int]): Unit = {
    recorded.keysIterator.toList.foreach { df =>
      if (df.sparkSession eq spark) {
        val built = cacheBuilder(df).filter(_.isCachedColumnBuffersLoaded)
          .map(_.cachedColumnBuffers.id)
        if (!built.exists(before.contains)) {
          recorded.remove(df)
          df.unpersist(blocking = true)
        }
      }
    }
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  }
}
