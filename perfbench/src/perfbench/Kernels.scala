package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AsOf, MomentCellsAgg, PercentileLong, RegexScrub,
  SketchExpressions => SK, SumExpressions, TextExpressions => TX}

/** Rows per second of the public column functions in
  * `org.apache.spark.sql.graft`, each over a cached input (the corpus,
  * embeddings and events repeated `Copies` times) so one call runs long
  * enough to time. Median of three calls after one warm call.
  */
object Kernels {
  val Copies = 20
  val Names: Seq[String] = Seq("tokenize", "ngram_hashes", "shingle_hashes",
    "minhash_signature", "simhash32", "token_stats", "term_run_counts", "char_stats",
    "cdc_chunks", "regex_scrub", "bloom_hits", "bigram_nll", "moment_cells", "sum128",
    "percentile_long", "asof_join")

  def measure(spark: SparkSession, tracer: Tracer, dir: String,
      layer: mutable.Map[String, Double]): Unit = {
    val reps = spark.range(Copies).toDF("copy")
    val docs = reps.crossJoin(graft.Tables(spark, dir, "documents").select("doc_id", "text"))
      .select(col("text"), TX.tokenize(col("text")).as("toks"),
        (col("doc_id") * Copies + col("copy")).as("k"))
      .select(col("*"), TX.shingle_hashes(col("toks")).as("sh"), SK.token_hashes(col("toks")).as("th"))
      .cache()
    val emb = reps.crossJoin(graft.Tables(spark, dir, "embeddings").select("embedding")).cache()
    val events = reps.crossJoin(graft.Tables(spark, dir, "events").select("event_id", "user_id", "ts"))
      .withColumn("event_id", col("event_id") * Copies + col("copy")).cache()
    val orders = graft.Tables(spark, dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate").cache()
    val nDocs = docs.count(); val nEmb = emb.count(); val nEv = events.count(); orders.count()

    val (vw, cu, _, cb) = graft.sources.BigramLm.model(spark, dir)
    val bloom = docs.select(explode(col("sh")).as("h")).limit(5000).stat.bloomFilter("h", 5000L, 0.01)
    val p = 1000000007L
    val a = (1 to 16).map(i => (i * 2654435761L) % p | 1L)
    val b = (1 to 16).map(i => (i * 1315423911L) % p)

    def rowwise(c: Column): () => Unit = () => docs.select(c).write.format("noop").mode("overwrite").save()
    val kernels: Seq[(String, Long, () => Unit)] = Seq(
      ("tokenize", nDocs, rowwise(TX.tokenize(col("text")))),
      ("ngram_hashes", nDocs, rowwise(TX.ngram_hashes(col("toks"), 3))),
      ("shingle_hashes", nDocs, rowwise(TX.shingle_hashes(col("toks")))),
      ("minhash_signature", nDocs, rowwise(SK.minhash_signature(col("sh"), a, b, p))),
      ("simhash32", nDocs, rowwise(SK.simhash32(col("th")))),
      ("token_stats", nDocs, rowwise(TX.token_stats(col("toks")))),
      ("term_run_counts", nDocs, rowwise(TX.term_run_counts(col("toks")))),
      ("char_stats", nDocs, rowwise(TX.char_stats(col("text")))),
      ("cdc_chunks", nDocs, rowwise(TX.cdc_chunks(col("toks"), 8))),
      ("regex_scrub", nDocs, rowwise(RegexScrub.regex_scrub(col("text"),
        graft.perfbench.Internals.piiRules))),
      ("bloom_hits", nDocs, rowwise(SK.bloom_hits(col("sh"), bloom))),
      ("bigram_nll", nDocs, rowwise(TX.bigram_nll(TX.class_seq(col("toks"), typedLit(vw)),
        typedLit(cb), typedLit(cu)))),
      ("moment_cells", nEmb, () => { emb.agg(MomentCellsAgg.moment_cells(col("embedding"), wide = false)).collect(); () }),
      ("sum128", nDocs, () => { docs.agg(SumExpressions.sum128(col("k"))).collect(); () }),
      ("percentile_long", nDocs, () => { docs.agg(PercentileLong.percentile_long(col("k"), 0.5)).collect(); () }),
      ("asof_join", nEv, () => AsOf.join(events, orders, "user_id", "o_custkey", "ts", "o_orderdate",
        rightTieBreak = Seq("o_orderkey")).write.format("noop").mode("overwrite").save()))

    require(kernels.map(_._1) == Names)
    kernels.foreach { case (name, rows, call) =>
      tracer.span("kernel", name)(call())
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        tracer.span("kernel", name)(call())
        (System.nanoTime() - t0) / 1e9
      }
      layer(s"kernels.$name.rows_per_s") = rows / Main.median(times)
    }
    Seq(docs, emb, events, orders).foreach(_.unpersist())
  }
}
