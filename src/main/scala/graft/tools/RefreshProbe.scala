package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-14 probe, extended round 15: wall-time AND job count of the
  * append-only postings refresh vs the from-scratch rebuild it replaces,
  * across TWO append generations (80% → 90% → 100% of the sf corpus).
  * Three receipts the SCALE.md claims rest on:
  *
  *   1. refresh-vs-rebuild wall per generation (the r14 measurement,
  *      now repeated on a second append so marker monotonicity and
  *      chained refreshes are exercised, not assumed);
  *   2. the CHAINED refresh (v1 → v2 refreshed, v3 refreshed FROM the
  *      refreshed v2) produces row-identical postings to a from-scratch
  *      v3 rebuild — the production shape where every generation builds
  *      on the previous delta merge;
  *   3. the delta path's JOB COUNT stays far under the rebuild's — the
  *      check that `-ingest -from` actually merges instead of silently
  *      rebuilding the layout it claims to refresh (a rebuild would
  *      re-run the corpus-wide shingle explode; the refresh's jobs are
  *      a layout read + delta shingle + merge write).
  *
  * Not in the driver contract; output is read by a human and recorded
  * in SCALE.md.
  */
object RefreshProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    })

    val docs = graft.Tables(spark, sfDir, "documents")
    val Array(cut80, cut90) =
      docs.stat.approxQuantile("doc_id", Array(0.8, 0.9), 0.001).map(_.toLong)
    def corpusDir(tag: String, upTo: Option[Long]): String = {
      val d = java.nio.file.Files.createTempDirectory(s"refresh-$tag").toString
      upTo.map(c => docs.filter(col("doc_id") <= c)).getOrElse(docs)
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    val v1 = corpusDir("v1", Some(cut80))
    val v2 = corpusDir("v2", Some(cut90))   // refreshed from v1
    val v3 = corpusDir("v3", None)          // refreshed from refreshed v2
    val v2s = corpusDir("v2s", Some(cut90)) // scratch twins (distinct stamps)
    val v3s = corpusDir("v3s", None)
    def n(d: String) = graft.sources.Parquet.read(spark, s"$d/documents.parquet").count()
    println(s"[refresh] corpus v1=${n(v1)} v2=${n(v2)} v3=${n(v3)} docs")

    def time[A](label: String)(f: => A): A = {
      Thread.sleep(200); jobs = 0
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      println(f"[refresh] $label ${s}%6.2f s  jobs=$jobs")
      r
    }
    // generation 0: both arms need the v1 layout (not the comparison)
    time("v1 build (base)       ")(
      graft.sources.ShinglePostings(spark, v1).count())
    // generation 1: 80 → 90
    time("v2 REBUILD (scratch)  ")(
      graft.sources.ShinglePostings(spark, v2s).count())
    time("v2 REFRESH (from v1)  ")(
      graft.sources.ShinglePostings.refreshed(spark, v2, v1).count())
    // generation 2: 90 → 100, refreshing FROM THE REFRESHED v2
    time("v3 REBUILD (scratch)  ")(
      graft.sources.ShinglePostings(spark, v3s).count())
    time("v3 REFRESH (chained)  ")(
      graft.sources.ShinglePostings.refreshed(spark, v3, v2).count())
    // receipt 2: chained refresh ≡ scratch rebuild, row-identical
    val a = graft.sources.ShinglePostings(spark, v3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val b = graft.sources.ShinglePostings(spark, v3s)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    println(s"[refresh] chained-refresh == scratch-rebuild: ${a == b} " +
      s"(${a.size} postings rows)")
    spark.stop()
  }
}
