package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The scoped cache-release contract behind curate jobs in shared sessions
  * (JobRunner uses snapshot + clearCreatedSince so a job evicts only its
  * own persists): a persist taken BEFORE the snapshot survives, one taken
  * AFTER is released. Suites share the session and other suites call
  * clearAll concurrently, which can only evict MORE — so the
  * released-side assert is deterministic, and the survives-side assert
  * retries to step around a concurrent clearAll.
  */
class CachesSpec extends SparkSpec {

  test("clearCreatedSince releases post-snapshot persists, spares prior ones") {
    def attempt(): Boolean = {
      val sc = spark.sparkContext
      val a = sc.parallelize(1 to 4).persist(StorageLevel.DISK_ONLY)
      a.count()
      val before = Caches.snapshot(spark)
      val b = sc.parallelize(1 to 4).persist(StorageLevel.DISK_ONLY)
      b.count()
      Caches.clearCreatedSince(spark, before)
      // deterministic: nothing in the session re-persists b, so survival
      // here can only mean clearCreatedSince skipped it
      assert(b.getStorageLevel == StorageLevel.NONE,
        "clearCreatedSince did not release a post-snapshot persist")
      val aSurvived = sc.getPersistentRDDs.contains(a.id)
      a.unpersist(blocking = true)
      aSurvived
    }
    // a concurrent suite's clearAll can evict `a` from outside — retry;
    // five consecutive evictions of a millisecond-wide window means the
    // function itself is clearing pre-snapshot ids
    assert((1 to 5).exists(_ => attempt()),
      "pre-snapshot cache evicted in 5/5 attempts — scoped release broken")
  }

  test("clearCreatedSince uncaches a frame persistNow cached after the snapshot") {
    // a plan no other suite persists; only this frame is asserted on
    val df = spark.range(0, 97, 1, 3).withColumn("cachesSpec", col("id") * 3)
    val before = Caches.snapshot(spark)
    Caches.persistNow(df)
    Caches.clearCreatedSince(spark, before)
    // an RDD-only release leaves the cache-manager entry, which still
    // reports the frame's storage level
    assert(df.storageLevel == StorageLevel.NONE,
      "clearCreatedSince left the frame's cache-manager entry behind")
  }

  test("Caches.persist builds nothing; clearCreatedSince uncaches what a reader built after the snapshot") {
    val df = spark.range(0, 89, 1, 3).withColumn("cachesSpecLazy", col("id") * 5)
    val before = Caches.snapshot(spark)
    assert(countingJobs("caches-spec-lazy")(Caches.persist(df))._2 == 0)
    df.collect()
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Caches.clearCreatedSince(spark, before)
    assert(df.storageLevel == StorageLevel.NONE,
      "clearCreatedSince left a recorded frame's cache-manager entry behind")
  }

  test("a frame one plan scans twice: a plain persist builds it twice, persistNow once") {
    // the rule in Caches' scaladoc: each scan of an unbuilt cache is its
    // own AQE query stage with its own job over the cache RDD
    def buildJobs(tag: String)(persist: org.apache.spark.sql.DataFrame => Unit): Seq[Int] = {
      val df = spark.range(0, 200, 1, 4)
        .groupBy((col("id") % 11).as("k")).agg(count(lit(1)).as(tag))
      try countingCacheBuilds(s"caches-spec-$tag") {
        persist(df)
        df.as("a").join(df.as("b"), "k").write.format("noop").mode("overwrite").save()
      }._3.values.toSeq
      finally df.unpersist(blocking = true)
    }
    assert(buildJobs("plain")(_.persist(StorageLevel.MEMORY_AND_DISK)) == Seq(2))
    assert(buildJobs("now")(Caches.persistNow) == Seq(1))
  }
}
