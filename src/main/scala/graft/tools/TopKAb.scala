package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Caches, SparkEntry}
import graft.queries.VectorOps

/** Round-10 A/B: does q53's per-query top-10 via the bounded
  * topk_by_score aggregate (map-side partials, ≤10 rows/query/partition
  * at the exchange) beat the row_number window twin (full candidate
  * shuffle + sort, corpus×8 on the exact arm)? Same design as
  * [[Q53Ab]]: ALTERNATE the arms within one JVM so thermal drift hits
  * both equally; measurement identical to Bench (noop write,
  * Caches.clearAll between runs). Not registered in the driver contract.
  */
object TopKAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_AB_REPS", "5").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries("q53_ann_recall")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      Caches.clearAll(spark)
      s
    }
    // warmup both arms (codegen/JIT) before measuring
    VectorOps.topKAggTop10 = true; runOnce()
    VectorOps.topKAggTop10 = false; runOnce()

    val samples = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
    (1 to reps).foreach { i =>
      Seq(i % 2 == 0, i % 2 == 1).foreach { agg =>
        VectorOps.topKAggTop10 = agg
        val s = runOnce()
        samples += ((agg, s))
        println(f"[topkab] rep=$i agg=$agg t=$s%.3f")
      }
    }
    def stats(p: Boolean): (Double, Double) = {
      val ts = samples.filter(_._1 == p).map(_._2).sorted
      (ts(ts.size / 2), ts.min)
    }
    val (am, amin) = stats(true)
    val (wm, wmin) = stats(false)
    println(f"[topkab] TOPK-AGG median=$am%.3f min=$amin%.3f (n=$reps)")
    println(f"[topkab] WINDOW   median=$wm%.3f min=$wmin%.3f (n=$reps)")
    println(s"[topkab] winner=${if (am <= wm) "topk-agg" else "window"}")
    VectorOps.topKAggTop10 = true
    spark.stop()
  }
}
