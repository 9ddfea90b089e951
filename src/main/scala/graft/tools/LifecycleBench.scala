package graft.tools

import org.apache.spark.sql.functions._

/** Round-16 receipt: the DECLARED lifecycle exercised end-to-end at bench
  * SF as one pipeline — `-ingest` (every stamped derived layout built
  * fresh) → `-curate` (the full stage chain, including the round-15
  * pq_encode / importance_resample / blocklist_filter additions) →
  * `-train` → `-features` → `-test`, all driven by JSON configs through
  * the same JobRunner entry a spark-submit would hit. The per-query bench
  * times queries in isolation; this times the config-driven ORCHESTRATION
  * — one wall clock around the whole chain, recorded next to the
  * sum-of-stages and each mode's Spark jobs so the overhead of the
  * declared lifecycle (config parsing, stage composition, cache scoping,
  * layout stamping) is a measured number instead of an assumption.
  *
  * The layout tmp root is re-pointed at a fresh directory BEFORE the
  * session starts, so `-ingest` genuinely BUILDS all seven layouts rather
  * than reading a prior run's stores — the timing is the one-time
  * data-lands pass, and every later stage/mode consumes the stamped
  * stores exactly as production would. Not in the driver contract;
  * numbers land in SCALE.md.
  */
object LifecycleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // fresh layout root: DerivedLayout keys off java.io.tmpdir at call time
    val scratch = java.nio.file.Files.createTempDirectory("lifecycle")
    sys.props("java.io.tmpdir") = scratch.toString
    val work = scratch.resolve("work").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    val spark = graft.Sessions.local()

    def writeConf(name: String, body: String): String = {
      val p = java.nio.file.Paths.get(work, name)
      java.nio.file.Files.writeString(p, body)
      p.toString
    }

    // untimed prep: the ML split frames (vec_id mod-10 holdout) — in the
    // full story these come from assign_split's persisted layout; here the
    // clock should time the declared modes, not test-fixture writes
    val emb = graft.Tables(spark, sfDir, "embeddings")
    emb.filter(col("vec_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$work/train")
    emb.filter(col("vec_id") % 10 === 0)
      .write.mode("overwrite").parquet(s"$work/val")

    val curateConf = writeConf("curate.json",
      s"""{
         |  "source": {"path": "$sfDir", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/curated", "outputFormat": "parquet",
         |  "stages": [
         |    {"op": "exact_dedup"},
         |    {"op": "span_dedup", "spanTokens": 8},
         |    {"op": "near_dedup", "threshold": 0.5},
         |    {"op": "embed_near_dedup", "minDot": 0.45},
         |    {"op": "semantic_dedup", "clusters": 8, "minDot": 0.45},
         |    {"op": "decontaminate", "holdoutSource": "src19", "minShared": 2},
         |    {"op": "blocklist_filter"},
         |    {"op": "pii_scrub"},
         |    {"op": "quality_filter", "minScore": 0.0},
         |    {"op": "perplexity_filter", "maxPercentile": 0.75},
         |    {"op": "importance_resample", "budgetDocs": 100000},
         |    {"op": "temperature_mix", "alpha": 0.5, "budgetDocs": 50000},
         |    {"op": "assign_split", "trainPct": 80, "valPct": 10},
         |    {"op": "multimodal_join"},
         |    {"op": "pq_encode"},
         |    {"op": "pack", "tokenBudget": 256}
         |  ]
         |}""".stripMargin)
    val mlConf = writeConf("ml.json",
      s"""{
         |  "source": {"path": "$work/train", "labelCol": "label"},
         |  "validation": {"path": "$work/val", "labelCol": "label"},
         |  "dim": 64, "lr": 1.0, "iters": 20, "validateEvery": 10,
         |  "model": "$work/model",
         |  "output": "$work/ml_out",
         |  "outputFormat": "parquet"
         |}""".stripMargin)

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      jobs(name) = graft.Sessions.countingJobs(spark, s"lifecycle-$name")(f)._2
      times(name) = (System.nanoTime() - t0) / 1e9
    }
    def perMode(m: Iterable[(String, Any)]) =
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    val wall0 = System.nanoTime()
    // -ingest shares the curate document: same declared source, and the
    // config schema requires stages-or-dim, which the chain provides
    timed("ingest") { graft.jobs.JobRunner.run(spark,
      graft.jobs.JobRunner.parse(Array("-ingest", "-conf", curateConf))) }
    timed("curate") { graft.jobs.JobRunner.run(spark,
      graft.jobs.JobRunner.parse(Array("-curate", "-conf", curateConf))) }
    timed("train") { graft.jobs.JobRunner.run(spark,
      graft.jobs.JobRunner.parse(Array("-train", "-conf", mlConf))) }
    timed("features") { graft.jobs.JobRunner.run(spark,
      graft.jobs.JobRunner.parse(Array("-features", "-conf", mlConf))) }
    timed("test") { graft.jobs.JobRunner.run(spark,
      graft.jobs.JobRunner.parse(Array("-test", "-conf", mlConf))) }
    val wall = (System.nanoTime() - wall0) / 1e9

    // sanity: the chain actually produced its artifacts
    val curated = graft.sources.Parquet.read(spark, s"$work/curated/corpus")
    require(curated.count() > 0 && curated.columns.contains("pq_code"),
      s"curated corpus malformed: ${curated.columns.mkString(",")}")
    require(graft.ml.LogisticRegression.loadWeights(spark, s"$work/model")
      .exists(_ != 0d), "model snapshot missing or zero")
    require(graft.sources.Parquet.read(spark, s"$work/ml_out/features").count() > 0)

    println(f"""{"metric":"lifecycle_e2e","sf":"$sfDir",""" +
      f""""wall_sec":$wall%.2f,"sum_stages_sec":${times.values.sum}%.2f,""" +
      f""""stages":${perMode(times.map { case (k, v) => k -> f"$v%.2f" })},""" +
      f""""jobs":${perMode(jobs)},"curated_rows":${curated.count()}}""")

    // ——— incremental ingest (r17, VERDICT r16 item 6): the layouts'
    // economic argument is the REFRESH path — DerivedRefreshSpec pins the
    // delta merge row-identical, this records what it COSTS through
    // the production entry (`-ingest -from prev`) vs the cold rebuild of
    // the same grown corpus. Three corpora with fresh stamps: prev (90%
    // of the tables, its layouts built untimed — they exist, as in
    // production), full (100%, ingested BY DELTA from prev), fullCold
    // (the same 100% rows, ingested from scratch). The timed pair is
    // delta-vs-cold on identical data.
    val docsT = graft.Tables(spark, sfDir, "documents")
    val embT = graft.Tables(spark, sfDir, "embeddings")
    val docCut = docsT.stat.approxQuantile("doc_id", Array(0.9), 0.001)(0).toLong
    val vecCut = embT.stat.approxQuantile("vec_id", Array(0.9), 0.001)(0).toLong
    def corpusDir(tag: String, all: Boolean): String = {
      val d = java.nio.file.Files
        .createDirectories(scratch.resolve(s"corpus-$tag")).toString
      (if (all) docsT else docsT.filter(col("doc_id") <= docCut))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      (if (all) embT else embT.filter(col("vec_id") <= vecCut))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    val prevDir = corpusDir("prev", all = false)
    val fullDir = corpusDir("full", all = true)
    val fullColdDir = corpusDir("fullcold", all = true)
    def ingestConf(tag: String, dir: String): String = writeConf(s"ingest-$tag.json",
      s"""{"source": {"path": "$dir", "table": "documents", "idCol": "doc_id"},
         |"dim": 64}""".stripMargin)
    // prev's layouts exist before the delta lands (production invariant);
    // building them is the previous generation's cost, not this one's
    graft.jobs.JobRunner.run(spark, graft.jobs.JobRunner.parse(
      Array("-ingest", "-conf", ingestConf("prev", prevDir))))
    timed("ingest_delta") { graft.jobs.JobRunner.run(spark,
      graft.jobs.JobRunner.parse(Array("-ingest", "-conf",
        ingestConf("full", fullDir), "-from", prevDir))) }
    timed("ingest_cold") { graft.jobs.JobRunner.run(spark,
      graft.jobs.JobRunner.parse(Array("-ingest", "-conf",
        ingestConf("fullcold", fullColdDir)))) }
    // identity receipt on the expensive merged layer (DerivedRefreshSpec
    // owns the exhaustive version): same postings either path
    val viaDelta = graft.sources.ShinglePostings(spark, fullDir)
      .agg(count(lit(1)), sum(expr("fp"))).head()
    val viaCold = graft.sources.ShinglePostings(spark, fullColdDir)
      .agg(count(lit(1)), sum(expr("fp"))).head()
    require(viaDelta == viaCold,
      s"delta-ingested postings diverge from cold rebuild: $viaDelta vs $viaCold")
    // same receipt one layer up (r18: the label-merge refresh): identical
    // cluster labels either path, and which path the guard chose
    def lblSum(dir: String) = graft.sources.ClusterAssignment(spark, dir)
      .agg(count(lit(1)), sum(col("doc_id") + col("cluster_full") +
        coalesce(col("cluster_strong"), lit(0L)))).head()
    require(lblSum(fullDir) == lblSum(fullColdDir),
      "delta-refreshed cluster labels diverge from cold rebuild")
    val mergedPath = graft.sources.ClusterAssignment
      .refreshFrame(spark, fullDir, prevDir)._2
    // r20: the bigram LM's CONDITIONAL merge (r19) — which path its
    // guard chose on this append, and model identity either way
    val bigramMerged = graft.sources.BigramLm.refreshFrame(spark, fullDir, prevDir)._2
    require(graft.sources.BigramLm.model(spark, fullDir) ==
      graft.sources.BigramLm.model(spark, fullColdDir),
      "delta-refreshed bigram model diverges from cold rebuild")
    println(f"""{"metric":"lifecycle_refresh","sf":"$sfDir",""" +
      f""""ingest_delta_sec":${times("ingest_delta")}%.2f,""" +
      f""""ingest_cold_sec":${times("ingest_cold")}%.2f,""" +
      f""""ingest_delta_jobs":${jobs("ingest_delta")},""" +
      f""""ingest_cold_jobs":${jobs("ingest_cold")},""" +
      f""""cluster_merge_path":$mergedPath,""" +
      f""""bigram_merge_path":$bigramMerged}""")
    spark.stop()
  }
}
