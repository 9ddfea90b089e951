package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Caches, SparkEntry}

/** Round-14 probe (VERDICT r13 next-round #7): adjudicate the q75/q76
  * wall-time triple recorded between BENCH_r12 (0.27 s) and BENCH_r13
  * (0.90/0.88 s) — no r13 commit touched their batch plans and DuckDB
  * itself drifted 1.9× between the rounds, so the hypothesis is ambient
  * box load, not a plan regression.
  *
  * Design: interleave the suspect queries with a
  * fixed CONTROL (q13 scalar agg — 2 jobs, plan untouched for many
  * rounds) within one JVM, several reps, measuring each exactly like
  * Bench (noop write, cache clear between queries). If q75/q76 track the
  * control's ratio to its own r12 time, the triple was ambient; a real
  * regression shows as q75/q76 moving against the control.
  *
  * Not registered in the driver contract; output is read by a human and
  * recorded in SCALE.md.
  */
object OverheadAb {
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

    val names = Seq("q13_scalar_agg", "q75_funnel", "q76_retention")
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      Caches.clearAll(spark)
      s
    }
    names.foreach(once) // warmup (codegen/JIT)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    (1 to reps).foreach { i =>
      // rotate order per rep so scheduler drift hits all three equally
      val order = names.drop(i % names.size) ++ names.take(i % names.size)
      order.foreach(n => samples(n) = samples(n) :+ once(n))
      println(f"[oab] rep=$i " + names.map(n => f"$n=${samples(n).last}%.3f").mkString(" "))
    }
    names.foreach { n =>
      val xs = samples(n).sorted
      println(f"[oab] $n%-18s median=${xs(xs.size / 2)}%.3f min=${xs.head}%.3f max=${xs.last}%.3f")
    }
    spark.stop()
  }
}
